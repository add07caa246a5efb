package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Per-round benchmark harness: times every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line (driver contract) and writes the
  * same line to a file so downstream tooling never has to scrape sbt logs
  * (`$SPARK_GRAFT_OUT/bench.json`, falling back to `./bench.json`).
  *
  * Measurement notes:
  *   - results are materialized through the `noop` sink, which executes the
  *     full plan; `.count()` would let Catalyst prune the measured work away
  *     entirely (a projection benchmarked by count() computes nothing);
  *   - WARMUP: every query runs once, untimed, against the smallest scale
  *     factor before the timed pass. Whole-stage codegen sources depend on
  *     plan shape, not data, so this fills the janino/JIT caches and the
  *     timed pass measures steady-state DATA cost — the quantity that
  *     predicts cluster-scale behavior — rather than one-time compilation
  *     (measured: d2's sf0.001 "cost" is 3.8 s, ~90% compile; its warm
  *     sf0.1 cost is ~1.7 s). Same methodology as BASELINE.md's table, so
  *     ratios compare like with like. SPARK_GRAFT_WARM=none disables ALL
  *     warm state — the codegen warm pass, the page-cache prewarm, AND the
  *     multi-rep minimum (reps default to 1 in that mode unless
  *     SPARK_GRAFT_REPS is set explicitly) — so it measures fully-cold
  *     single-shot costs (session/JIT init lands on whichever query runs
  *     first);
  *   - shuffle partitions = cpu count (local mode; the 200 default just
  *     fragments tiny partitions);
  *   - a query that throws is recorded with `null` duration and listed in
  *     "failed" — a broken query must not masquerade as a fast one;
  *   - REPS, INTERLEAVED: each query's timed measurement is the MINIMUM over
  *     SPARK_GRAFT_REPS (default 3) runs, and the reps are INTERLEAVED —
  *     the whole suite runs rep 1, then the whole suite runs rep 2, ... —
  *     rather than back-to-back per query. A single-shot timing conflates
  *     the query's data cost with whatever transient load shares the machine
  *     during its slot (BENCH_r02: the first half of the suite measured
  *     3-13x its steady cost while an unrelated process held the box, the
  *     second half measured at baseline). Back-to-back reps only defend
  *     against load shorter than one query; interleaving puts the reps of
  *     each query MINUTES apart, so a contention burst poisons at most one
  *     rep of any query and the min survives (BENCH_r03: adjacent-slot d8/d9
  *     measured 2-3x with back-to-back min-of-2). Each pass additionally
  *     runs a deterministic PERMUTATION of the suite (seed = pass number)
  *     so no query keeps the same predecessor across passes — a
  *     predecessor-pinned GC/slot effect otherwise survives the min because
  *     it poisons every rep identically (measured: d2 at 1.26-1.74 s in
  *     fixed suite order vs 0.94 s isolated, same build — entirely
  *     inherited d1 allocation debt). Min-of-N is the standard
  *     steady-state estimator and BASELINE.md is recorded the same way, so
  *     the gate compares like with like. Data caches stay cold per rep (the
  *     untimed sweep runs after every exec); only OS page cache and JIT state
  *     carry over, which is exactly the steady state being measured;
  *   - PAGE-CACHE PREWARM: every parquet file in the target dir is read
  *     once (and discarded) before the timed pass, so first-touch disk I/O
  *     lands on no query in particular instead of penalizing whichever
  *     query reads each table first;
  *   - SPARK_GRAFT_QUERIES (comma-separated names) restricts the run for
  *     local iteration; the driver leaves it unset and gets the full suite;
  *   - SENTINELS: three trivial single-exchange queries whose code is
  *     frozen (t5/q12/q17) are reported with their BASELINE.md row and the
  *     measured/baseline ratio. Fleet-wide environment drift (JVM, kernel,
  *     page cache, co-tenant load between recording sessions) moves ALL
  *     three together; a real plan regression moves only its own query —
  *     so the sentinel block decides "re-record the baseline" vs "fix the
  *     query" with data instead of inference (round-6 verdict: +9% median
  *     drift on untouched queries was only inferable, not measurable).
  *     Baselines are parsed from BASELINE.md's table at run time so a
  *     re-record updates the sentinels automatically.
  *   - SCALING-SLOPE GATE: every query is additionally timed at the next
  *     scale factor DOWN and the big/small ratio is compared against
  *     1.5 × the data ratio — the automated 100×-design check (an
  *     accidentally-O(n²) operator passes the oracle and can even beat its
  *     absolute baseline row at sf0.1; only its SLOPE betrays it before the
  *     cluster does). Non-oracleOnly queries over the threshold land in
  *     `slope_red`; oracleOnly recall oracles are reported but exempt —
  *     superlinear is their documented design. SPARK_GRAFT_SLOPE=none
  *     disables (the slope block then reads null).
  */
object Bench {
  /** `$SPARK_GRAFT_CPUS` as JSON: a number, a `[0-9*]+` string, else "invalid". */
  private[graft] def cpusJson(cpus: String): String =
    if (cpus.matches("[1-9][0-9]*")) cpus
    else if (cpus.matches("[0-9*]+")) "\"" + cpus + "\""
    else "\"invalid\""

  /** `s` as a JSON string literal, escaped by Spark's bundled Jackson: only
    * quote, backslash and control characters change, so plain names and
    * paths read exactly as before.
    */
  private[graft] def jsonString(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** The slope block of the bench line (see [[benchLine]]). */
  private[graft] def slopeBlock(small: String, dataRatio: Double, threshold: Double,
      queries: String): String =
    s"""{"small_sf":${jsonString(small)},"data_ratio":$dataRatio,"threshold":$threshold,"queries":$queries}"""

  /** The one JSON line; every argument but the strings is already JSON.
    * Key order: see the note at its call in [[main]].
    */
  private[graft] def benchLine(sfDir: String, reps: Int, cpus: String, defaultPar: Int,
      shared: String, sentinels: String, slope: String, queries: String, slopeRed: String,
      failed: String, total: Double): String =
    s"""{"sf":${jsonString(sfDir)},"reps":$reps,"cpus":${cpusJson(cpus)},"default_parallelism":$defaultPar,"shared":$shared,"sentinels":$sentinels,"slope":$slope,"queries":$queries,"metric":"total","unit":"sec","slope_red":$slopeRed,"failed":$failed,"value":$total}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local()
    // Shared-stage materialization (graft.Materialize): on by default, so
    // the bench measures the PIPELINE execution model — each expensive
    // upstream chain (p1 dispositions, d16 pairs, d9 verdicts, the kept
    // strip) built once per run, consumers reading the stage output. The
    // one-time build costs are prebuilt untimed, reported in the "shared"
    // block, and folded into the headline total — real work never
    // vanishes from the line. SPARK_GRAFT_SHARED=none restores per-query
    // isolation (every consumer re-runs its whole chain).
    val shared = sys.env.getOrElse("SPARK_GRAFT_SHARED", "on") != "none"
    if (shared) Materialize.enable()

    // The TIMED work: plan + execute through the noop sink. The cache sweep
    // is deliberately OUTSIDE this function — eviction is harness
    // bookkeeping, not query data cost, and its block-manager round trips
    // are variable enough (d2 measured 0.7-1.2 s across JVMs with the sweep
    // timed) to dominate the per-query noise floor.
    def exec(name: String, dir: String = sfDir): Unit =
      Registry.byName(name).run(spark, dir)
        .write.mode("overwrite").format("noop").save()

    // Drop EVERYTHING a query cached (GraftSession.sweep): keeps
    // measurements order-independent (no query — and no later REP of the
    // same query — benefits from a predecessor's cache).
    def sweep(): Unit = {
      GraftSession.sweep(spark)
      // Level the heap in the UNTIMED gap: without this, an allocation-heavy
      // query hands its GC debt to whichever query runs next in suite order
      // (d1→d2 was the documented slot effect — d2 measured 1.3-2.2× its
      // dedup-subset cost and tripped the baseline plausibility gate twice
      // purely on inherited young-gen pressure). Collecting here moves that
      // debt into harness bookkeeping, where eviction already lives.
      System.gc()
    }

    val selected = Registry.select(sys.env.get("SPARK_GRAFT_QUERIES"))

    // Warmup (untimed, smallest SF): fills codegen/JIT caches for every
    // query's plan shapes so the timed pass measures data cost (see
    // scaladoc). Falls back to the target SF dir if the small one is absent.
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARM", "all") != "none"
    if (warm) {
      val warmDir = {
        val small = sfDir.replaceAll("/+$", "").replaceAll("sf[0-9.]+$", "sf0.001")
        if (new java.io.File(small).isDirectory) small else sfDir
      }
      System.err.println(s"[bench] warming ${selected.size} queries against $warmDir")
      selected.foreach { q =>
        try exec(q.name, warmDir)
        catch { case _: Throwable => () }
        finally sweep()
      }
      // Page-cache prewarm (see scaladoc): first-touch disk I/O must not
      // land on whichever query happens to read each table first. Streamed
      // through a fixed buffer — a whole-file readAllBytes would burn heap
      // (and an ignored OOME would silently skip the table) at large SFs.
      val buf = new Array[Byte](1 << 20)
      // Recursive walk: a directory-layout parquet table (the standard Spark
      // writer output — part files under a table directory) must prewarm
      // too, not just single-file tables at the top level.
      def prewarm(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(prewarm)
        else if (f.isFile) {
          // Per-file tolerance: an unreadable file (broken symlink, perms)
          // must degrade to "that table not prewarmed", not abort the bench.
          try {
            val in = Files.newInputStream(f.toPath)
            try { while (in.read(buf) >= 0) () } finally in.close()
          } catch { case e: java.io.IOException =>
            System.err.println(s"[bench] prewarm skipped $f: ${e.getMessage}")
          }
        }
      prewarm(new java.io.File(sfDir))
    }

    // Cold mode (warm=none) defaults to single-shot — a min over reps would
    // smuggle rep-2 warm state back into a "fully cold" measurement.
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_REPS").flatMap { s =>
        val n = s.trim.toIntOption
        if (n.isEmpty)
          System.err.println(s"[bench] ignoring malformed SPARK_GRAFT_REPS='$s', using default")
        n
      }.getOrElse(if (warm) 3 else 1))
    // Interleaved reps (see scaladoc): pass p runs every query once; the
    // per-query result is the min across passes. A rep that throws fails the
    // query in ALL passes — reps estimate steady-state cost, they are not
    // retries. Each pass runs a DETERMINISTIC PERMUTATION of the suite
    // (seed = pass number): with a fixed order — or a mere rotation, which
    // preserves cyclic adjacency — every query keeps the same predecessor
    // in every pass, so a predecessor-pinned effect hits ALL reps and the
    // min cannot dodge it (d1 hands its allocation/GC debt to d2: d2
    // measured 1.26-1.74 s in fixed suite order vs 0.94 s isolated, the
    // effect that tripped the baseline plausibility gate three times).
    // Shuffling gives each query `reps` unrelated predecessors; the min
    // keeps the cleanest slot, which is the per-query steady state a
    // cluster deployment would see.
    // Untimed shared-stage prebuild for the measured dir (see the shared
    // flag above): the builds run here so pass-1 of whichever consumer
    // lands first doesn't absorb them; their cost is recorded by
    // Materialize and published below.
    if (shared) {
      System.err.println(s"[bench] prebuilding shared stages for $sfDir")
      try Registry.prebuildShared(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] shared prebuild failed: ${e.getMessage}")
      } finally sweep()
    }
    val timesByQuery = scala.collection.mutable.Map.empty[String, List[Double]]
    val failedSet = scala.collection.mutable.Set.empty[String]
    for (pass <- 1 to reps) {
      System.err.println(s"[bench] timed pass $pass/$reps")
      val ordered = new scala.util.Random(pass).shuffle(selected)
      ordered.foreach { q =>
        if (!failedSet(q.name)) {
          val t0 = System.nanoTime()
          try {
            exec(q.name)
            timesByQuery(q.name) =
              ((System.nanoTime() - t0) / 1e9) :: timesByQuery.getOrElse(q.name, Nil)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            failedSet += q.name
          } finally sweep() // untimed: eviction is bookkeeping, not data cost
        }
      }
    }
    val results: Seq[(String, Option[Double])] = selected.map { q =>
      q.name -> timesByQuery.get(q.name).filter(_ => !failedSet(q.name)).map(_.min)
    }

    // SCALING-SLOPE GATE: the automated 100×-design check. Correctness runs
    // at one SF; nothing else catches a query whose cost curves
    // superlinearly with data (an accidental O(n²) join that still passes
    // the oracle and still beats its absolute baseline row at sf0.1 — the
    // failure mode that only shows up on the cluster). So: time every query
    // at the next SF DOWN (10× less data), and flag any non-oracleOnly
    // query whose big/small wall-time ratio exceeds slack × the data ratio.
    // oracleOnly queries are EXPECTED superlinear (all-pairs recall oracles,
    // quarantined from the 100-TB surface) and are reported but never red.
    // Slack 1.5 tolerates amortized constant overheads flipping sign;
    // sub-second small-SF times are floored at 0.15 s so a constant-cost
    // query (0.05 s → 0.6 s, ratio 12 of pure session noise) cannot
    // false-positive — a genuine superlinear blowup at these corpus sizes
    // clears both bars easily (d5's measured slope is ~40×). Min-of-2
    // interleaved reps, same estimator as the main pass. Disable with
    // SPARK_GRAFT_SLOPE=none.
    val slopeDir = {
      val small = sfDir.replaceAll("/+$", "").replaceAll("sf[0-9.]+$", "sf0.01")
      Option(small).filter(s => s != sfDir && new java.io.File(s).isDirectory)
    }
    def sfOf(dir: String): Option[Double] =
      "sf([0-9.]+)$".r.findFirstMatchIn(dir.replaceAll("/+$", ""))
        .flatMap(m => m.group(1).toDoubleOption)
    val slopeOn = sys.env.getOrElse("SPARK_GRAFT_SLOPE", "on") != "none"
    val (slopeJson, slopeRedJson) = (for {
      small <- slopeDir if slopeOn
      rBig <- sfOf(sfDir); rSmall <- sfOf(small) if rSmall > 0
    } yield {
      val dataRatio = rBig / rSmall
      val threshold = 1.5 * dataRatio
      if (shared) {
        System.err.println(s"[bench] prebuilding shared stages for $small")
        try Registry.prebuildShared(spark, small)
        catch { case e: Throwable =>
          System.err.println(s"[bench] shared prebuild failed: ${e.getMessage}")
        } finally sweep()
      }
      val smallTimes = scala.collection.mutable.Map.empty[String, List[Double]]
      val measurable = selected.filter(q => !failedSet(q.name))
      for (pass <- 1 to math.min(2, reps)) {
        System.err.println(s"[bench] slope pass $pass/2 against $small")
        new scala.util.Random(100 + pass).shuffle(measurable).foreach { q =>
          val t0 = System.nanoTime()
          try {
            exec(q.name, small)
            smallTimes(q.name) =
              ((System.nanoTime() - t0) / 1e9) :: smallTimes.getOrElse(q.name, Nil)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] slope ${q.name} failed: ${e.getMessage}")
          } finally sweep()
        }
      }
      val rows = measurable.flatMap { q =>
        for {
          b <- timesByQuery.get(q.name).map(_.min)
          s <- smallTimes.get(q.name).map(_.min)
        } yield {
          val ratio = b / math.max(s, 0.15)
          (q.name, s, b, ratio, ratio > threshold && !q.oracleOnly)
        }
      }
      val table = rows.map { case (n, s, b, r, red) =>
        f"""${jsonString(n)}:{"small":$s%.3f,"big":$b%.3f,"ratio":$r%.2f,"red":$red}"""
      }.mkString("{", ",", "}")
      val red = rows.collect { case (n, _, _, _, true) => jsonString(n) }
        .mkString("[", ",", "]")
      (slopeBlock(small, dataRatio, threshold, table), red)
    }).getOrElse(("null", "[]"))
    val qs = results
      .map { case (k, v) => jsonString(k) + ":" + v.map(_.toString).getOrElse("null") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => jsonString(k) }.mkString("[", ",", "]")
    // Shared-stage build costs for the MEASURED dir (builds for the warmup
    // and slope dirs are untimed harness work, like their query execs).
    // The headline total includes them: under sharing the per-query minima
    // measure consumer cost given materialized stages, and the one-time
    // builds are the rest of the pipeline's real work.
    // Attribution splits each key on its LAST '@' and compares the srcDir
    // component by canonical path — a suffix-matching endsWith would misfold
    // a warmup/slope dir whose path string happens to suffix the measured
    // dir, or miss relative-vs-absolute spellings of the same dir.
    val sfCanon = new java.io.File(sfDir).getCanonicalPath
    val sharedBuilds: Map[String, Double] = Materialize.buildCosts.toSeq.flatMap {
      case (k, v) =>
        val i = k.lastIndexOf('@')
        if (i < 0) None
        else if (new java.io.File(k.substring(i + 1)).getCanonicalPath == sfCanon)
          Some(k.substring(0, i) -> v)
        else None
    }.toMap
    val sharedTotal = sharedBuilds.values.sum
    val sharedJson =
      if (!shared) """{"enabled":false}"""
      else {
        val b = sharedBuilds.toSeq.sortBy(_._1)
          .map { case (k, v) => f"""${jsonString(k)}:$v%.3f""" }.mkString("{", ",", "}")
        f"""{"enabled":true,"builds":$b,"build_total":$sharedTotal%.3f}"""
      }
    val total = results.flatMap(_._2).sum + sharedTotal
    // Sentinel drift block (see scaladoc). Missing BASELINE.md rows degrade
    // to an empty block, never an abort.
    val sentinelNames = Seq("t5_string_funcs", "q12_intersect", "q17_quality_checks")
    val baseRows: Map[String, Double] =
      try {
        // Explicit UTF-8: the file has multibyte chars (×, —) and the forked
        // JVM's default charset need not be UTF-8 (observed: MalformedInput).
        import scala.jdk.CollectionConverters._
        Files.readAllLines(Paths.get("BASELINE.md"), StandardCharsets.UTF_8)
          .asScala.flatMap { l =>
            l.split("\\|").map(_.trim).filter(_.nonEmpty) match {
              case Array(n, s) if sentinelNames.contains(n) => s.toDoubleOption.map(n -> _)
              case _ => None
            }
          }.toMap
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] no sentinel baselines (${e.getMessage})")
          Map.empty[String, Double]
      }
    val sentinels = sentinelNames.flatMap { n =>
      for {
        m <- timesByQuery.get(n).filter(_ => !failedSet(n)).map(_.min)
        b <- baseRows.get(n)
      } yield f"""${jsonString(n)}:{"sec":$m,"baseline":$b,"ratio":${m / b}%.3f}"""
    }.mkString("{", ",", "}")
    // Key order is deliberate (round 15, VERDICT r14 #4): the driver
    // captures only the final 2 kB of stdout, and this line exceeds 2 kB
    // (159 queries + the slope block), so the bulky maps go FIRST and the
    // headline scalars (value/failed/slope_red) go LAST — the captured tail
    // then always contains the numbers a reader needs. Still exactly ONE
    // JSON line with the same fields; JSON key order carries no meaning.
    // CPU-contract observability (round 16, VERDICT r15 #2): the bench DOES
    // honor $SPARK_GRAFT_CPUS (GraftSession.local: master local[$cpus] +
    // shuffle.partitions), but nothing in the output let the driver VERIFY
    // that — at sf0.1 fixed per-exec overhead dominates, so an 8-core run
    // can beat a 32-core run and look like the knob is ignored. Emit the requested
    // core count AND the context's actual defaultParallelism so "applied"
    // is checkable from the line itself.
    val defaultPar = spark.sparkContext.defaultParallelism
    val line = benchLine(sfDir, reps, cpus, defaultPar, sharedJson, sentinels, slopeJson, qs,
      slopeRedJson, failed, total)
    println(line)
    val outDir = sys.env.get("SPARK_GRAFT_OUT").filter(_.nonEmpty)
    val outPath = Paths.get(outDir.getOrElse("."), "bench.json")
    try {
      Option(outPath.getParent).foreach(Files.createDirectories(_))
      Files.write(outPath, (line + "\n").getBytes(StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
