package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Command-line client — the engine's analogue of the reference's client
  * surface (guagua-mapreduce/.../GuaguaMapReduceClient.java:425-487,
  * GuaguaOptionsParser.java:378-398). The reference CLI assembles a job
  * from an input path, reflected computable classes and a pluggable
  * `-inputformat`; here the unit of work is a registered declared query and
  * the pluggable piece is the [[graft.sources.SourceFormat]] decoding the
  * input directory:
  *
  *   -i <dir>           input data directory (reference `-i`)
  *   -o <dir>           output directory; the result lands at
  *                      `<dir>/<query>.parquet`
  *   -q <name>          declared query to run (reference `-w`/`-m` name the
  *                      computable classes; our computables are registered
  *                      under stable names — see `-list`)
  *   -inputformat <cls> fully-qualified [[graft.sources.SourceFormat]]
  *                      class name, loaded by reflection with the
  *                      reference's error contract (unknown class and
  *                      wrong supertype each fail loudly, before any Spark
  *                      job starts — GuaguaMapReduceClient.java:471-487)
  *   -n <job name>      Spark job description (reference `-n`)
  *   -c <count>         cap every iterative driver loop at <count> rounds
  *                      for this invocation (reference `-c`,
  *                      GuaguaOptionsParser.java:393 — see
  *                      [[graft.core.IterationBudget]]; intentionally
  *                      changes iterative queries' results)
  *   -D key=value       set a Spark conf for this invocation, restored
  *                      afterwards; repeatable (reference `-D`,
  *                      GuaguaOptionsParser.java:381)
  *   -list              print every registered query name and exit
  *   -q a,b / -all      suite runs: several (or every) registered queries in
  *                      one invocation, each result at `<out>/<name>.parquet`.
  *                      Per-query isolation (one failure never stops the
  *                      rest — Verify's contract), but the INVOCATION fails
  *                      at the end when any query failed: failed names are
  *                      listed, their stale outputs removed, and main exits
  *                      non-zero — a downstream consumer can trust that an
  *                      exit-0 output directory is complete
  *   -shared            enable [[graft.Materialize]] for the invocation, so
  *                      a suite run builds each common upstream stage ONCE —
  *                      the Verify/Bench pipeline shape from the client
  *
  * `main` owns a session; [[runWith]] is the same logic over a caller's
  * session (the testable core, and the embedding API a driver program
  * would call).
  */
object Cli {

  def usage: String =
    """usage: graft.Cli [options]
      |  -i <input dir>        specify input data directory.
      |  -o <output dir>       specify output directory (result written as <query>.parquet).
      |  -q <names>            declared query name, or a comma-list to run several (see -list).
      |  -all                  run EVERY registered query (requires -o; implies a suite run).
      |  -shared               enable shared-stage materialization (graft.Materialize) for
      |                        this invocation — common upstream stages build once across
      |                        the queries run, the Verify/Bench pipeline shape.
      |  -sharedroot <dir>     like -shared, but over an EXPLICIT persistent root (the
      |                        object-store mount in production): same-release invocations
      |                        reuse warm stage parquet across processes. Requires -token.
      |  -token <id>           release fingerprint stamped on the -sharedroot; a root
      |                        stamped by a DIFFERENT release is rejected, never served.
      |  -inputformat <class>  specify SourceFormat class name for the input directory.
      |  -n <job name>         specify job name.
      |  -c <count>            cap iterative queries' driver loops at <count> iterations
      |                        (min with each query's declared count; changes results —
      |                        the point of the knob).
      |  -D <key=value>        set a Spark conf for this invocation (repeatable; restored
      |                        to its prior value afterwards).
      |  -list                 list registered query names.""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try runWith(spark, args)
    finally spark.stop()
  }

  /** Parse and execute. Returns the result frame when a query ran (None for
    * `-list`). Throws IllegalArgumentException with a printed usage on any
    * malformed invocation — the reference's parser prints help and the
    * client refuses the job (GuaguaOptionsParser.java:356-370).
    */
  def runWith(spark: SparkSession, args: Array[String]): Option[DataFrame] = {
    val parsed = parse(args)
    val opts = parsed.vals
    if (opts.contains("list")) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return None
    }
    val input = required(opts, "i", "input directory")
    val names: Seq[String] =
      if (opts.contains("all")) SparkEntry.queries.keys.toSeq.sorted
      else required(opts, "q", "query name").split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    if ((opts.contains("all") || names.size > 1) && !opts.contains("o"))
      throw new IllegalArgumentException("A suite run (-all or a -q comma-list) requires -o.")
    names.foreach { q =>
      if (!SparkEntry.queries.contains(q))
        throw new IllegalArgumentException(
          s"Unknown query '$q' — run with -list for registered names.")
    }
    opts.get("inputformat").foreach { cls =>
      Tables.registerFormat(input, resolveFormat(cls))
    }
    opts.get("n").foreach(spark.sparkContext.setJobDescription)
    // -c: positive-int iteration cap, applied via IterationBudget.withCap
    // around the execution block below.
    val iterCap: Option[Int] = opts.get("c").map { v =>
      val n =
        try v.toInt
        catch {
          case e: NumberFormatException =>
            System.err.println(usage)
            throw new IllegalArgumentException(s"-c requires a positive integer, got '$v'.", e)
        }
      if (n < 1) {
        System.err.println(usage)
        throw new IllegalArgumentException(s"-c requires a positive integer, got '$v'.")
      }
      n
    }
    // -D key=value: session-conf injection, scoped to this invocation. The
    // prior value of every touched key is captured first and restored in the
    // finally below — runWith runs over a CALLER's session (the embedding
    // API), which must not keep another invocation's conf. A key Spark
    // refuses to set at runtime fails loudly before any query runs.
    val dProps: Seq[(String, String)] = parsed.d.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ =>
          System.err.println(usage)
          throw new IllegalArgumentException(s"-D requires key=value, got '$kv'.")
      }
    }
    // -shared / -sharedroot: turn the stage layer on for THIS invocation
    // only (and only if the caller hadn't already enabled it) — the
    // pipeline shape Verify/Bench run, now reachable from the client
    // surface. -sharedroot is the production form: an explicit persistent
    // root guarded by the -token release fingerprint (Materialize.enableAt
    // rejects a root stamped by another release).
    if (opts.contains("sharedroot") && !opts.contains("token"))
      throw new IllegalArgumentException("-sharedroot requires -token <release id>.")
    val enabledHere =
      (opts.contains("shared") || opts.contains("sharedroot")) && !Materialize.enabled
    if (enabledHere) opts.get("sharedroot") match {
      case Some(dir) => Materialize.enableAt(new java.io.File(dir), opts("token"))
      case None      => Materialize.enable()
    }
    // conf mutation happens INSIDE the try (after the read-only prior-value
    // capture) so even a refused set — Spark rejects non-runtime keys — runs
    // the restore and Materialize cleanup in the finally below.
    val priorConf: Seq[(String, Option[String])] =
      dProps.map { case (k, _) => (k, spark.conf.getOption(k)) }
    try graft.core.IterationBudget.withCap(iterCap) {
      dProps.foreach { case (k, v) => spark.conf.set(k, v) }
      if (names.size == 1) opts.get("o") match {
        case Some(out) =>
          // Run managed, like a suite query below: the caches the query
          // made are released once it is written, and the returned frame
          // reads the written result.
          val path = s"$out/${names.head}.parquet"
          Registry.byName(names.head).runManaged(spark, input)(
            _.write.mode("overwrite").parquet(path))
          Some(spark.read.parquet(path))
        case None =>
          // Unmanaged: the returned frame may still read the caches the query
          // made, so they stay for the caller.
          val df = SparkEntry.queries(names.head)(spark, input)
          // Embedding API + invocation-scoped knobs: without -o the returned
          // frame would otherwise execute lazily AFTER this block's finally
          // restored the -D confs and released the -c cap — silently violating
          // "live for this invocation". So when either knob is set, pin the
          // result INSIDE the scope: persist + count materializes every
          // partition while the confs/cap are in effect, and later actions on
          // the returned frame read the cached rows rather than re-planning
          // under restored confs. (The caller may unpersist when done; under
          // cache-eviction pressure a recompute would see restored confs —
          // acceptable for the single-JVM embedding shape this API serves,
          // and -o remains the durable form.)
          if (dProps.nonEmpty || iterCap.nonEmpty) {
            df.persist()
            df.count()
            ()
          }
          Some(df)
      } else {
        val out = opts("o")
        // Per-query isolation (Verify's contract: one failing query never
        // stops the rest) — but failures are COLLECTED, their stale/partial
        // outputs removed, and the invocation fails at the end: a suite out
        // dir that survives to exit 0 is complete, never "looks complete".
        // Each query runs managed, so the caches it created are released
        // before the next one starts and none outlive the invocation.
        val failed = scala.collection.mutable.ListBuffer.empty[String]
        names.foreach { q =>
          try Registry.byName(q).runManaged(spark, input)(
            _.write.mode("overwrite").parquet(s"$out/$q.parquet"))
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[cli] $q failed: ${e.getMessage}")
              // overwrite deletes-then-writes, so a mid-write failure can
              // leave a partial dir; a PREVIOUS invocation's output could
              // also sit here looking fresh. Either way: remove it.
              deleteRecursively(new java.io.File(s"$out/$q.parquet"))
              failed += q
          }
        }
        if (failed.nonEmpty)
          throw new IllegalStateException(
            s"${failed.size}/${names.size} suite queries failed: ${failed.mkString(", ")} " +
              "(failed outputs removed; see stderr for per-query errors)")
        None
      }
    } finally {
      priorConf.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      if (enabledHere) Materialize.disable()
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val fs = f.listFiles()
    if (fs != null) fs.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Reflect a [[graft.sources.SourceFormat]] by name, mirroring the
    * reference's two-stage check (class resolvable, then assignable) and
    * its error messages (GuaguaMapReduceClient.java:471-487).
    */
  private[graft] def resolveFormat(className: String): graft.sources.SourceFormat = {
    val cls =
      try Class.forName(className.trim)
      catch {
        case e: ClassNotFoundException =>
          throw new IllegalArgumentException(
            s"The inputformat class ${className.trim} set by '-inputformat' " +
            "can not be found in class path.", e)
      }
    if (!classOf[graft.sources.SourceFormat].isAssignableFrom(cls))
      throw new IllegalArgumentException(
        "Input format class set by '-inputformat' should extend " +
        "graft.sources.SourceFormat")
    cls.getDeclaredConstructor().newInstance()
      .asInstanceOf[graft.sources.SourceFormat]
  }

  private def required(opts: Map[String, String], key: String, what: String): String =
    opts.getOrElse(key, {
      System.err.println(usage)
      throw new IllegalArgumentException(s"Missing -$key <$what>.")
    })

  /** Parsed options: single-valued/flag options in `vals`; the repeatable
    * `-D key=value` occurrences in `d`, in command-line order.
    */
  private final case class Opts(vals: Map[String, String], d: Seq[String])

  private def parse(args: Array[String]): Opts = {
    val valued = Set("i", "o", "q", "inputformat", "n", "c", "sharedroot", "token")
    val flags = Set("list", "all", "shared")
    def loop(rest: List[String], acc: Map[String, String], d: List[String]): Opts =
      rest match {
        case Nil => Opts(acc, d.reverse)
        case opt :: tail if opt.startsWith("-") =>
          val name = opt.dropWhile(_ == '-')
          if (flags(name)) loop(tail, acc + (name -> "true"), d)
          else if (name == "D" || valued(name)) tail match {
            case v :: more =>
              if (name == "D") loop(more, acc, v :: d)
              else loop(more, acc + (name -> v), d)
            case Nil =>
              System.err.println(usage)
              throw new IllegalArgumentException(s"Option $opt requires a value.")
          }
          else {
            System.err.println(usage)
            throw new IllegalArgumentException(s"Unknown option $opt.")
          }
        case stray :: _ =>
          System.err.println(usage)
          throw new IllegalArgumentException(s"Stray argument '$stray'.")
      }
    loop(args.toList, Map.empty, Nil)
  }
}
