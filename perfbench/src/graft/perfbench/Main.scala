package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, Materialize, Tables}
import graft.core.IterationResult
import graft.operators.{GradientDescent, IterativeSum, NeuralNet}
import graft.queries.Registry

/** One workload run: set-up, a closed loop of passes for `seconds`, the
  * traced probes when `trace` is on, and an untimed correctness pass.
  * Writes `result.json` (and `spans.json` when traced) under `out`; the
  * Python driver turns it into the benchmark's metrics.
  *
  *   java -cp <classes>:<spark jars> graft.perfbench.Main --workload corpus
  *     --data DIR --tiny DIR --seconds 25 --trace 0 --out DIR --cores 4
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(kv("workload"), kv("data"), kv("tiny"), kv("seconds").toDouble,
      kv("trace") == "1", kv("out"), kv("cores").toInt)
    require(Workloads.names.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work = new File(cfg.out).getAbsoluteFile
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try new Run(spark, cfg, work).run(jvmStart)
    finally spark.stop()
  }
}

final case class Config(workload: String, data: String, tiny: String, seconds: Double,
    trace: Boolean, out: String, cores: Int)

final class Run(spark: SparkSession, cfg: Config, work: File) {
  private val sc = spark.sparkContext
  private val storage = new StorageListener
  private val trace = new TraceListener
  private val spans = new Spans
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  // A call that runs longer than this is cancelled and counted as failed.
  private val CallTimeoutS = 60L
  private val NnTolerance = 1e-6
  private val LrTolerance = 1e-9

  private final class CallStat {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
  }
  private val calls = mutable.LinkedHashMap.empty[String, CallStat]
  private type Results = mutable.LinkedHashMap[String, mutable.ArrayBuffer[IterationResult[_]]]
  // Kernel results of the set-up pass (tiny input) and the timed passes.
  private val warmResults: Results = mutable.LinkedHashMap.empty
  private val kernelResults: Results = mutable.LinkedHashMap.empty
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val tracedLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val iterMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  @volatile private var group = ""
  @volatile private var timedOut = false
  private var traced = false
  private var callSeq = 0

  private def phase(jvmStart: Double, what: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.ms() - jvmStart) / 1000}%.1fs $what")

  def run(jvmStart: Double): Unit = {
    phase(jvmStart, "session up")
    // Untraced runs register no listener: end-to-end figures are taken
    // with tracing off.
    if (cfg.trace) sc.addSparkListener(storage)
    GraftSession.registerFunctions(spark)
    val queries = Workloads.queries(cfg.workload)
    queries.foreach(Registry.byName) // unknown names fail before any timing

    // Set-up: the workload's calls once over the tiny input (fills codegen
    // and JIT caches; its outputs are the correctness pass's), then the
    // page-cache prewarm of the real input.
    val tinyDims = dimsOf(cfg.tiny)
    pass(cfg.tiny, tinyDims, 0L, warmResults)
    phase(jvmStart, "warm pass done")
    prewarm(new File(cfg.data))
    val dims = dimsOf(cfg.data)
    val rows = inputRows(cfg.data)
    sweep()
    val setupS = (Clock.ms() - jvmStart) / 1000

    // Closed loop of a fixed number of passes, set by `seconds` and never by
    // the measured pace, so every run of a workload takes the same samples.
    // Traced runs make three passes and trace the last, so the traced pass
    // follows a warmed untraced pass (see perLayer): the first timed pass is
    // still warming up.
    val count = if (cfg.trace) 3 else Workloads.passes(cfg.seconds)
    for (n <- 0 until count) {
      traced = cfg.trace && n == 2
      passes += pass(cfg.data, dims, rows, kernelResults)
      traced = false
    }
    phase(jvmStart, s"$count passes done")
    val probes = if (cfg.trace) probeLayers() else Map.empty[String, Double]
    val oracle = check(tinyDims, dims)
    phase(jvmStart, "check pass done")

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload,
      "setup_s" -> setupS,
      "passes" -> passes.toList,
      "calls" -> calls.map { case (k, s) =>
        k -> Map("attempted" -> s.attempted, "failed" -> s.failed, "errors" -> s.errors.toList)
      }.toMap,
      "oracle" -> oracle)
    if (cfg.trace) {
      result("per_layer") = perLayer(probes)
      Json.write(new File(work, "spans.json"), spans.all.map(s => Map(
        "id" -> s.id, "pass" -> s.pass, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end)))
    }
    Json.write(new File(work, "result.json"), result.toMap)
    watchdog.shutdownNow()
  }

  // ---------------------------------------------------------------- passes

  private def stat(name: String) = calls.getOrElseUpdate(name, new CallStat)

  private def setGroup(g: String): Unit = {
    group = g
    sc.setJobGroup(g, g, interruptOnCancel = false)
  }

  /** Run `body` as one engine call, counted in `attempted`/`failed`, with a
    * span around it in traced passes and a cancel-on-timeout watchdog.
    */
  private def call[T](name: String, layer: String, count: Boolean)(body: => T): Option[T] = {
    if (traced) spans.open(name, layer)
    callSeq += 1
    setGroup(if (traced) s"span-${spans.current}" else s"call-$callSeq")
    val g = group
    val dog: ScheduledFuture[_] = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; sc.cancelJobGroupAndFutureJobs(g) }
    }, CallTimeoutS, TimeUnit.SECONDS)
    if (count) stat(name).attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        val msg = if (timedOut) s"timeout after ${CallTimeoutS}s"
          else s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        System.err.println(s"[perfbench] $name failed: $msg")
        if (count) { stat(name).failed += 1; stat(name).errors += msg }
        None
    } finally {
      dog.cancel(false)
      timedOut = false
      sc.clearJobGroup()
      if (traced) spans.close()
    }
  }

  /** A sub-step of the current call, with its own span and job group. */
  private def step[T](name: String, layer: String)(body: => T): T = {
    if (timedOut) throw new IllegalStateException("call timed out")
    if (!traced) body
    else {
      val parent = group
      spans.open(name, layer)
      setGroup(s"span-${spans.current}")
      try body
      finally { spans.close(); setGroup(parent) }
    }
  }

  /** Drop everything a call cached, so no call or later pass reads a
    * predecessor's cache.
    */
  private def sweep(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** One pass over `dir`. Its record carries the wall time and, where the
    * workload has kernels, the samples rate: rows × iterations over the
    * time inside the kernel calls.
    */
  private def pass(dir: String, dims: Int, rows: Long, results: Results): Map[String, Any] = {
    System.gc() // level the heap outside the timed interval
    if (traced) {
      trace.clear()
      sc.addSparkListener(trace)
      spark.listenerManager.register(trace)
      spans.pass = passes.size
    }
    val gc0 = gcMillis()
    heapPools.foreach(_.resetPeakUsage())
    storage.mark("pass")
    val t0 = Clock.ms()
    if (traced) spans.open("pass", "bench")

    val root = if (Workloads.materialize(cfg.workload)) {
      val r = new File(work, s"stages/pass-${passes.size}-${System.nanoTime()}")
      step("enable", "materialize")(Materialize.enableAt(r, "perfbench"))
      Some(r)
    } else None

    val iters = mutable.LinkedHashMap.empty[String, IterTimes]
    var kernelMs = 0.0
    var kernelSamples = 0L
    val inputCache = mutable.ArrayBuffer.empty[Double]
    Workloads.kernelCalls(spark, cfg.workload, dir, dims,
      k => Seq(iters.getOrElseUpdate(k, new IterTimes))).foreach { c =>
      val k0 = Clock.ms()
      storage.mark("call")
      val base = storage.current
      call(c.name, "core", count = true)(c.body()).foreach { r =>
        results.getOrElseUpdate(c.name, mutable.ArrayBuffer.empty) += r
        kernelSamples += rows * r.iterations
      }
      kernelMs += Clock.ms() - k0
      inputCache += (storage.peak("call") - base) / 1e6
      sweep()
    }
    val queryMs = mutable.LinkedHashMap.empty[String, Double]
    var runMs, writeMs = 0.0
    var exchanges, broadcasts = 0
    Workloads.queries(cfg.workload).foreach { q =>
      val q0 = Clock.ms()
      var plansBefore = trace.planCount
      call(q, "queries", count = true) {
        val r0 = Clock.ms()
        val df = step("run", "queries")(Registry.byName(q).run(spark, dir))
        val w0 = Clock.ms()
        plansBefore = trace.planCount
        step("write", "queries") {
          if (dir == cfg.tiny) df.coalesce(1).write.mode("overwrite").parquet(checkDir(q).getPath)
          else df.write.mode("overwrite").format("noop").save()
        }
        runMs += w0 - r0
        writeMs += Clock.ms() - w0
      }
      queryMs(q) = Clock.ms() - q0
      if (traced) trace.lastPlanAfter(plansBefore).foreach { qe =>
        val (s, b) = Plans.exchanges(qe)
        exchanges += s
        broadcasts += b
      }
      sweep()
    }

    var stageMb, buildS = 0.0
    var builds = 0
    root.foreach { r =>
      step("finish", "materialize") {
        stageMb = dirBytes(r) / 1e6
        val costs = Materialize.buildCosts
        builds = costs.size
        buildS = costs.values.sum
        Materialize.disable()
        deleteTree(r)
      }
    }
    val passSpan = if (traced) Some(spans.close()) else None
    val wallS = (Clock.ms() - t0) / 1000
    val rec = Map[String, Any]("traced" -> traced, "wall_s" -> wallS) ++
      (if (kernelMs > 0) Map("samples_per_s" -> kernelSamples / (kernelMs / 1000)) else Map())

    passSpan.foreach { ps =>
      awaitJobs()
      sc.removeSparkListener(trace)
      spark.listenerManager.unregister(trace)
      iters.foreach { case (k, t) => iterMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= t.ms }
      val totalIters = iters.values.map(_.ms.size).sum.toDouble
      tracedLayers += layerMetrics(ps, totalIters) ++ Map(
        "core.input_cache_mb" -> (if (inputCache.isEmpty) 0.0 else inputCache.max),
        "queries.run_s" -> runMs / 1000, "queries.write_s" -> writeMs / 1000,
        "queries.exchanges" -> exchanges.toDouble, "queries.broadcasts" -> broadcasts.toDouble,
        "materialize.builds" -> builds.toDouble, "materialize.build_s" -> buildS,
        "materialize.stage_mb" -> stageMb,
        "spark.peak_cache_mb" -> storage.peak("pass") / 1e6,
        "jvm.gc_s" -> (gcMillis() - gc0) / 1000.0,
        "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6,
        "wall_s" -> wallS) ++
        queryMs.map { case (q, ms) => s"queries.$q.s" -> ms / 1000 }
    }
    rec
  }

  private def awaitJobs(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (trace.jobsRunning && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50) // trailing task-end events of the last job
  }

  // ----------------------------------------------------------- trace maths

  /** The operator a job ran for: ConnectedComponents by its file on the
    * job's driver stack; k-means by the Lloyd loop of `q9_kmeans_loop`, which
    * collects `KMeans.step` frames from the query's own file (no query calls
    * `KMeans.lloyd`, so no job's call site is in KMeans.scala).
    */
  private def operatorOf(j: JobRec, step: Option[Span], call: Option[Span]): Option[String] =
    if (j.stack.contains("ConnectedComponents.scala")) Some("cc")
    else if (step.exists(_.name == "run") && call.exists(_.name == "q9_kmeans_loop")) Some("kmeans")
    else None

  /** Per-layer figures of one traced pass from its spans and the listener. */
  private def layerMetrics(passSpan: Span, totalIters: Double): Map[String, Double] = {
    val (lo, hi) = (passSpan.start, passSpan.end)
    val (jobs, tasks, stageCount) = trace.snapshot
    val benchSpans = spans.all.filter(_.pass == passSpan.pass)
    val byGroup = benchSpans.map(s => s"span-${s.id}" -> s).toMap
    val byId = benchSpans.map(s => s.id -> s).toMap
    val op = jobs.map { j =>
      val step = byGroup.get(j.group)
      j.id -> operatorOf(j, step, step.flatMap(s => byId.get(s.parent)))
    }.toMap
    val jobSpans = jobs.map { j =>
      val parent = byGroup.get(j.group).map(_.id).getOrElse(passSpan.id)
      val layer = if (op(j.id).isDefined) "operators" else "spark"
      val s = Span(spans.freshId(), passSpan.pass, s"job ${j.id}: ${j.site}", layer, parent,
        j.start, j.end)
      spans.add(s)
      s
    }
    // A layer's self time: the wall time its spans cover minus what their
    // child spans cover, as a union, so concurrent jobs are not counted twice.
    val all = benchSpans ++ jobSpans
    val children = all.groupBy(_.parent)
    val self = all.groupBy(_.layer).map { case (layer, ss) =>
      s"$layer.self_s" -> Stats.covered(ss.flatMap { s =>
        Stats.minus((s.start, s.end), children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }, lo, hi) / 1000
    }
    val jobIv = jobs.map(j => (j.start, j.end))
    val busyMs = Stats.covered(jobIv, lo, hi)
    val taskS = tasks.map(_.runMs).sum / 1000.0
    val skews = tasks.groupBy(_.stage).values.map { ts =>
      val d = ts.map(_.durMs.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.toSeq
    val ops = Seq("cc", "kmeans").flatMap { k =>
      val mine = jobs.filter(j => op(j.id).contains(k))
      Seq(s"operators.$k.jobs" -> mine.size.toDouble,
        s"operators.$k.job_s" -> Stats.covered(mine.map(j => (j.start, j.end)), lo, hi) / 1000)
    }
    val kernelSpans = benchSpans.filter(s => s.layer == "core")
    val kernelGroups = kernelSpans.map(s => s"span-${s.id}").toSet
    val kernelJobs = jobs.filter(j => kernelGroups(j.group))
    val kernelDriverMs = kernelSpans.map { s =>
      (s.end - s.start) - Stats.covered(kernelJobs.map(j => (j.start, j.end)), s.start, s.end)
    }.sum
    val perIter = (x: Double) => if (totalIters > 0) x / totalIters else 0.0
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stageCount.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.task_gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_read_mb" -> tasks.map(_.shufReadB).sum / 1e6,
      "spark.shuffle_write_mb" -> tasks.map(_.shufWriteB).sum / 1e6,
      "spark.spill_mb" -> tasks.map(_.spillB).sum / 1e6,
      "spark.driver_only_s" -> ((hi - lo) - busyMs) / 1000,
      "spark.core_util" -> (if (busyMs > 0) taskS / (busyMs / 1000 * cfg.cores) else 0.0),
      "spark.stage_skew_p90" -> Stats.quantile(skews, 0.9),
      "spark.task_retries" -> tasks.count(_.retry).toDouble,
      "core.jobs_per_iter" -> perIter(kernelJobs.size),
      "core.driver_ms_per_iter" -> perIter(kernelDriverMs)) ++ ops ++ self
  }

  /** Traced probes outside the passes: the native expressions over the
    * workload's own columns, and the raw scan of every input table.
    */
  private def probeLayers(): Map[String, Double] = {
    traced = true
    trace.clear()
    sc.addSparkListener(trace)
    spans.pass = -1
    val out = mutable.LinkedHashMap.empty[String, Double]
    spans.open("probes", "bench")
    import org.apache.spark.sql.graft.{CosineSimilarity, DotProduct, GramHash, Md5Hash60,
      OrderedPairs, WindowMin}

    def rate(name: String, input: DataFrame)(project: DataFrame => DataFrame): Unit = {
      val cached = input.persist(StorageLevel.MEMORY_ONLY)
      val rows = cached.count().toDouble
      val times = (1 to 5).map { _ =>
        val t0 = Clock.ms()
        call(s"expr.$name", "expr", count = false)(
          project(cached).write.mode("overwrite").format("noop").save())
        Clock.ms() - t0
      }
      cached.unpersist(true)
      out(s"expr.$name.rows_per_s") = rows / (Stats.median(times) / 1000)
    }
    val tables = new File(cfg.data).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    val copies = spark.range(Run.ProbeCopies).toDF("copy")
    if (tables.contains("documents")) {
      val docs = Tables.load(spark, cfg.data, "documents").crossJoin(copies)
      val hashes = transform(split(col("text"), " "), t => Md5Hash60.hash60Col(t))
      rate("md5_hash60", docs.select(explode(split(col("text"), " ")).as("t")))(
        _.select(Md5Hash60.hash60Col(col("t"))))
      rate("gram_hash", docs.select(hashes.as("h")))(_.select(GramHash.gramHashCol(col("h"), 5)))
      rate("window_min", docs.select(GramHash.gramHashCol(hashes, 5).as("g")))(
        _.select(WindowMin.windowMinCol(col("g"), 4)))
      rate("ordered_pairs", docs.select(array_distinct(hashes).as("ids")))(
        _.select(OrderedPairs.orderedPairsCol(col("ids"))))
    }
    if (tables.contains("embeddings")) {
      val emb = Tables.load(spark, cfg.data, "embeddings")
      val pairs = emb.as("x").join(emb.as("y"),
        col("y.vec_id") > col("x.vec_id") && col("y.vec_id") <= col("x.vec_id") + Run.ProbeNeighbours)
        .select(col("x.embedding").as("a"), col("y.embedding").as("b"))
      rate("cosine_similarity", pairs)(_.select(CosineSimilarity.cosineSimilarity(col("a"), col("b"))))
      rate("dot_product", pairs)(_.select(DotProduct.dotProductCol(col("a"), col("b"))))
    }
    val scans = (1 to 3).map { _ =>
      tables.map { t =>
        val t0 = Clock.ms()
        call(s"sources.$t", "sources", count = false)(
          Tables.load(spark, cfg.data, t).write.mode("overwrite").format("noop").save())
        Clock.ms() - t0
      }.sum
    }
    out("sources.scan_s") = Stats.median(scans) / 1000
    val probeSpan = spans.close()
    awaitJobs()
    sc.removeSparkListener(trace)
    traced = false
    val self = layerMetrics(probeSpan, 0).filter { case (k, _) =>
      k == "expr.self_s" || k == "sources.self_s"
    }
    out.toMap ++ self
  }

  /** Median over traced passes of each per-pass figure, plus the iteration
    * percentiles over every traced iteration and the tracing overhead.
    */
  private def perLayer(probes: Map[String, Double]): Map[String, Double] = {
    val keys = tracedLayers.flatMap(_.keys).distinct
    val med = keys.map(k => k -> Stats.median(tracedLayers.flatMap(_.get(k)).toSeq)).toMap
    def its(k: String) = iterMs.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq
    // Tracing overhead: each traced pass against the untraced pass before it.
    val wall = passes.map(_("wall_s").asInstanceOf[Double])
    val overhead = passes.indices.filter(i => passes(i)("traced") == true)
      .map(i => wall(i) - wall(i - 1))
    med - "wall_s" ++ probes ++ Map(
      "core.lr.iter_ms_p50" -> Stats.quantile(its("lr"), 0.5),
      "core.lr.iter_ms_p90" -> Stats.quantile(its("lr"), 0.9),
      "core.nn.iter_ms_p50" -> Stats.quantile(its("nn"), 0.5),
      "core.nn.iter_ms_p90" -> Stats.quantile(its("nn"), 0.9),
      "core.sum.iter_ms_p50" -> Stats.quantile(its("sum"), 0.5),
      "trace.overhead_s" -> Stats.median(overhead))
  }

  // ------------------------------------------------------------ correctness

  private def checkDir(q: String) = new File(work, s"check/$q")

  /** The untimed correctness checks. The set-up pass wrote every query's
    * output over the set-up input of the same seed (returned here as
    * name -> {sql, out} for the DuckDB oracle compare; the pipeline oracles
    * take minutes over the timed input). Every kernel result, of the set-up
    * pass and of the timed passes, is checked against its reference over
    * the input it ran on: LR against a single-threaded loop, IterativeSum
    * against its closed form, NN against a single-partition run (set-up
    * input) and against the first timed pass.
    */
  private def check(tinyDims: Int, dims: Int): Map[String, Map[String, String]] = {
    val oracle = Workloads.queries(cfg.workload).map { q =>
      q -> Map("sql" -> Registry.byName(q).oracle.getOrElse(""), "out" -> checkDir(q).getPath)
    }.toMap

    type R = IterationResult[_]
    def judge(name: String, results: Iterable[R])(why: R => Option[String]): Unit =
      results.foreach(r => why(r).foreach { w => stat(name).failed += 1; stat(name).errors += w })
    def of(rs: Results, name: String) = rs.getOrElse(name, mutable.ArrayBuffer.empty[R]).toSeq
    def weights(r: R): Array[Double] = r match {
      case IterationResult(m: GradientDescent.GDState, _, _, _) => m.weights
      case IterationResult(m: NeuralNet.NNState, _, _, _) => m.weights
    }
    def near(want: Array[Double], tol: Double, what: String)(r: R): Option[String] = {
      val d = References.relDiff(weights(r), want)
      if (d <= tol) None else Some(s"$what: weights differ by $d")
    }
    val inputs = Seq((cfg.tiny, tinyDims, warmResults), (cfg.data, dims, kernelResults))
    Workloads.kernels(cfg.workload).foreach {
      case "lr" =>
        for ((dir, d, rs) <- inputs) {
          val want = References.lr(Workloads.lrData(spark, dir).collect(), d)
          judge("lr", of(rs, "lr"))(near(want, LrTolerance, "LR vs the single-threaded reference loop"))
        }
      case "nn" =>
        // One partition over the set-up input is the reference for the
        // set-up call; the timed calls must agree with each other.
        val single = call("nn", "core", count = true)(
          Workloads.runNn(Workloads.nnData(spark, cfg.tiny).coalesce(1), tinyDims, Nil))
        single.foreach(ref => judge("nn", of(warmResults, "nn"))(
          near(weights(ref), NnTolerance, "NN vs a single-partition run")))
        of(kernelResults, "nn").headOption.foreach(first =>
          judge("nn", of(kernelResults, "nn"))(near(weights(first), NnTolerance, "NN across passes")))
      case "sum" =>
        for ((dir, _, rs) <- inputs) {
          val data = Workloads.sumData(spark, dir)
          val total = data.agg(sum(col("id"))).head().getLong(0)
          val want = IterativeSum.closedForm(total, data.rdd.getNumPartitions, Workloads.Iterations)
          judge("sum", of(rs, "sum")) { r =>
            val got = r.asInstanceOf[IterationResult[Long]]
            if (got.master == want && got.iterations == Workloads.Iterations) None
            else Some(s"IterativeSum ${got.master} after ${got.iterations}, closed form $want")
          }
        }
    }
    sweep()
    oracle
  }

  // ---------------------------------------------------------------- helpers

  private def dimsOf(dir: String): Int =
    if (Workloads.kernels(cfg.workload).isEmpty) 0 else Workloads.dims(spark, dir)

  /** Points each kernel call iterates over (0 where there are no kernels). */
  private def inputRows(dir: String): Long =
    if (Workloads.kernels(cfg.workload).isEmpty) 0L
    else Tables.load(spark, dir, "points").count()

  private def prewarm(f: File): Unit = {
    val buf = new Array[Byte](1 << 20)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(prewarm)
    else {
      val in = java.nio.file.Files.newInputStream(f.toPath)
      try while (in.read(buf) >= 0) () finally in.close()
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private lazy val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object Run {
  // Probe inputs: each document repeated this many times, each vector paired
  // with this many successors, so one projection is seconds, not milliseconds.
  val ProbeCopies = 20
  val ProbeNeighbours = 50
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(f: File, value: Any): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, mapper.writeValueAsString(value))
  }
}
