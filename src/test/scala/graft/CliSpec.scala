package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Loaded by name in the reflection test below — a directory whose tables
  * are parquet files under a non-default suffix (`<table>.pq`), standing in
  * for any custom on-disk layout a user's SourceFormat would decode.
  */
class PqSuffixFormat extends graft.sources.SourceFormat {
  override def load(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      table: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$dir/$table.pq")
}

/** Observes session conf DURING a CLI invocation from the read path — the
  * only point user-pluggable code runs — so the `-D` test can prove the
  * injected conf was live while queries executed, not just set and reverted.
  */
object ConfProbe { @volatile var seen: Option[String] = None }
class ConfProbeFormat extends graft.sources.SourceFormat {
  override def load(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      table: String): org.apache.spark.sql.DataFrame = {
    ConfProbe.seen = spark.conf.getOption("graft.test.probe")
    spark.read.parquet(s"$dir/$table.parquet")
  }
}

/** Observes session conf at EXECUTION time (inside a task, via the SQLConf
  * Spark propagates to tasks per query execution) — distinct from ConfProbe,
  * which observes at plan-construction time in load(). Lets the embedding-API
  * test prove the returned frame's rows were COMPUTED while -D confs were
  * live, not merely planned then.
  */
object ExecConfProbe { @volatile var seen: Option[String] = None }
class ExecConfProbeFormat extends graft.sources.SourceFormat {
  override def load(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      table: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.udf
    // spark.sql.* keys are the ones Spark serializes into the task-side
    // SQLConf snapshot (custom keys are not propagated), so the probe reads
    // shuffle.partitions — the -D test sets it to a value the session never
    // uses otherwise.
    val probe = udf { () =>
      ExecConfProbe.seen = Some(org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.sql.shuffle.partitions", "unset"))
      true
    }
    spark.read.parquet(s"$dir/$table.parquet").filter(probe())
  }
}

class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("-list prints every registered query and runs nothing") {
    val buf = new java.io.ByteArrayOutputStream()
    val res = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Cli.runWith(spark, Array("-list"))
    }
    assert(res.isEmpty)
    val names = buf.toString("UTF-8").split("\\R").filter(_.nonEmpty).toSet
    assert(names == SparkEntry.queries.keySet)
  }

  test("runs a declared query end-to-end and writes <out>/<query>.parquet") {
    val out = Files.createTempDirectory("graft-cli-out").toString
    val res = Cli.runWith(spark,
      Array("-i", sf, "-q", "q1_agg", "-o", out, "-n", "cli-spec-job"))
    assert(res.isDefined)
    val written = spark.read.parquet(s"$out/q1_agg.parquet").collect()
    val direct = SparkEntry.queries("q1_agg")(spark, sf).collect()
    assert(written.toSeq == direct.toSeq)
  }

  test("-inputformat reflects a SourceFormat and routes the input dir's tables through it") {
    // A directory the default ParquetFormat CANNOT read (tables under .pq),
    // decodable only by the reflected class — proving the reflected format
    // is actually on the read path, not just instantiated.
    val dir = Files.createTempDirectory("graft-cli-fmt")
    Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.pq"))
    val viaCli = Cli.runWith(spark, Array(
      "-i", dir.toString, "-q", "d1_exact_dedup",
      "-inputformat", "graft.PqSuffixFormat")).get
    val direct = SparkEntry.queries("d1_exact_dedup")(spark, sf)
    assert(viaCli.orderBy("h").collect().toSeq ==
      direct.orderBy("h").collect().toSeq)
  }

  test("-inputformat with an unresolvable class fails with the reference's error contract") {
    val e = intercept[IllegalArgumentException] {
      Cli.resolveFormat("graft.NoSuchFormatZzz")
    }
    assert(e.getMessage.contains("can not be found in class path"))
    assert(e.getCause.isInstanceOf[ClassNotFoundException])
  }

  test("-inputformat with a non-SourceFormat class fails before any job starts") {
    val e = intercept[IllegalArgumentException] {
      Cli.resolveFormat("java.lang.String")
    }
    assert(e.getMessage.contains("should extend graft.sources.SourceFormat"))
  }

  test("-shared suite run: two queries in ONE invocation build their common stage once") {
    assert(!Materialize.enabled, "suites must start with sharing off")
    val out = java.nio.file.Files.createTempDirectory("cli_shared_").toString
    val before = Materialize.buildCosts.keySet
    // p5 and p12 both start from p1's dispositions and d9's verdicts —
    // exactly the recompute -shared exists to collapse.
    Cli.runWith(spark, Array(
      "-i", sf, "-o", out, "-shared",
      "-q", "p5_decontaminated,p12_attrition_funnel"))
    assert(!Materialize.enabled, "-shared must be invocation-scoped (off afterwards)")
    val built = (Materialize.buildCosts.keySet -- before).map(_.takeWhile(_ != '@'))
    assert(built.contains("p1_dispositions") && built.contains("d9_contamination"),
      s"common stages not built under -shared: $built")
    assert((Materialize.buildCosts.keySet -- before).size == built.size,
      "a stage built more than once in a single -shared invocation")
    for (q <- Seq("p5_decontaminated", "p12_attrition_funnel")) {
      val direct = SparkEntry.queries(q)(spark, sf)
      val viaCli = spark.read.parquet(s"$out/$q.parquet")
      assert(viaCli.count() == direct.count(), s"$q suite output drifted")
    }
  }

  test("-sharedroot: warm cross-invocation reuse under one token, rejection under another") {
    assert(!Materialize.enabled)
    val root = java.nio.file.Files.createTempDirectory("cli_root_").toString
    val out1 = java.nio.file.Files.createTempDirectory("cli_sr1_").toString
    val out2 = java.nio.file.Files.createTempDirectory("cli_sr2_").toString
    // first invocation builds the stages into the persistent root
    Cli.runWith(spark, Array("-i", sf, "-o", out1,
      "-sharedroot", root, "-token", "rel-1",
      "-q", "p5_decontaminated,p12_attrition_funnel"))
    assert(!Materialize.enabled, "-sharedroot must be invocation-scoped")
    // second invocation, SAME token: stages served warm — zero new builds
    val before = Materialize.buildCosts.keySet
    Cli.runWith(spark, Array("-i", sf, "-o", out2,
      "-sharedroot", root, "-token", "rel-1",
      "-q", "p5_decontaminated,p12_attrition_funnel"))
    // buildCosts is cleared per enable, so ANY key present means a rebuild
    assert(Materialize.buildCosts.isEmpty,
      s"warm root rebuilt stages: ${Materialize.buildCosts.keySet -- before}")
    // different token: the root is another release's — hard rejection
    val ex = intercept[IllegalStateException] {
      Cli.runWith(spark, Array("-i", sf, "-o", out2,
        "-sharedroot", root, "-token", "rel-2", "-q", "p5_decontaminated"))
    }
    assert(ex.getMessage.contains("rel-1") && !Materialize.enabled)
    // -sharedroot without -token refuses before any work
    assert(intercept[IllegalArgumentException] {
      Cli.runWith(spark, Array("-i", sf, "-o", out2,
        "-sharedroot", root, "-q", "p5_decontaminated"))
    }.getMessage.contains("requires -token"))
  }

  test("suite runs require -o; one failing query is reported, not fatal") {
    assert(intercept[IllegalArgumentException] {
      Cli.runWith(spark, Array("-i", sf, "-q", "q1_agg,q7_grouped_agg"))
    }.getMessage.contains("requires -o"))
    assert(intercept[IllegalArgumentException] {
      Cli.runWith(spark, Array("-i", sf, "-all"))
    }.getMessage.contains("requires -o"))
  }

  test("suite runs release each query's caches and keep the caller's") {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    import spark.implicits._
    // An application-owned cache that must survive the suite.
    val mine = Seq(1, 2, 3).toDF("x").persist()
    mine.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Files.createTempDirectory("graft-cli-caches").toString
    // d4 persists its hashed-shingle frame; d7 runs d4 inside and persists
    // its pair list.
    Cli.runWith(spark, Array("-i", sf, "-o", out, "-q", "d4_ngram_jaccard,d7_dup_clusters"))
    assert(spark.read.parquet(s"$out/d7_dup_clusters.parquet").count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      s"suite left caches: before=$before after=${spark.sparkContext.getPersistentRDDs.keySet}")
    // A single query written with -o is run managed as well.
    val single = Files.createTempDirectory("graft-cli-single").toString
    Cli.runWith(spark, Array("-i", sf, "-o", single, "-q", "d4_ngram_jaccard"))
    assert(spark.read.parquet(s"$single/d4_ngram_jaccard.parquet").count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      s"single query left caches: before=$before after=${spark.sparkContext.getPersistentRDDs.keySet}")
    // storageLevel is read from the CacheManager entry
    assert(mine.storageLevel.useMemory, "suite swept the caller's cache")
    mine.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "suite left SQL CacheManager entries registered")
  }

  test("-c caps iterative driver loops for the invocation only; malformed -c refused") {
    val q = "q9_kmeans_loop"
    val full = Cli.runWith(spark, Array("-i", sf, "-q", q)).get.collect().toSeq
    val capped = Cli.runWith(spark, Array("-i", sf, "-q", q, "-c", "1")).get.collect().toSeq
    assert(graft.core.IterationBudget.cap.isEmpty, "-c must be invocation-scoped")
    assert(capped != full, "-c 1 must change a multi-iteration loop's result")
    // the capped CLI run == the library run under the same explicit cap
    val lib = graft.core.IterationBudget.withCap(Some(1)) {
      SparkEntry.queries(q)(spark, sf).collect().toSeq
    }
    assert(capped == lib)
    // a cap at/above the declared count is the identity (min semantics)
    val slack = Cli.runWith(spark, Array("-i", sf, "-q", q, "-c", "9999")).get.collect().toSeq
    assert(slack == full)
    for (bad <- Seq("0", "-3", "two"))
      assert(intercept[IllegalArgumentException] {
        Cli.runWith(spark, Array("-i", sf, "-q", q, "-c", bad))
      }.getMessage.contains("positive integer"))
  }

  test("-D injects a Spark conf live during the run and restores it after") {
    // A dir only the probe format reads, so the global format registration
    // never leaks onto the shared sf dir other tests use.
    val dir = Files.createTempDirectory("graft-cli-dprop")
    Files.copy(
      java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
      dir.resolve("lineitem.parquet"))
    val shuffleBefore = spark.conf.get("spark.sql.shuffle.partitions")
    ConfProbe.seen = None
    assert(spark.conf.getOption("graft.test.probe").isEmpty)
    Cli.runWith(spark, Array(
      "-i", dir.toString, "-q", "q1_agg",
      "-inputformat", "graft.ConfProbeFormat",
      "-D", "graft.test.probe=hello",
      "-D", "spark.sql.shuffle.partitions=7"))
    assert(ConfProbe.seen == Some("hello"), "-D conf was not live during the run")
    assert(spark.conf.getOption("graft.test.probe").isEmpty,
      "a key absent before the invocation must be unset after it")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffleBefore,
      "a key present before the invocation must be restored after it")
    assert(intercept[IllegalArgumentException] {
      Cli.runWith(spark, Array("-i", sf, "-q", "q1_agg", "-D", "novalue"))
    }.getMessage.contains("key=value"))
  }

  test("-D without -o: the returned frame executes INSIDE the conf scope") {
    // Without the in-scope pin (persist + count), the lazy frame would
    // execute only when the CALLER acts on it — after the finally restored
    // the confs, when the task-side probe would read "unset". Asserting the
    // probe value BEFORE touching the returned frame proves its rows were
    // computed while the -D confs were live.
    val dir = Files.createTempDirectory("graft-cli-dexec")
    Files.copy(
      java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
      dir.resolve("lineitem.parquet"))
    ExecConfProbe.seen = None
    val res = Cli.runWith(spark, Array(
      "-i", dir.toString, "-q", "q1_agg",
      "-inputformat", "graft.ExecConfProbeFormat",
      "-D", "spark.sql.shuffle.partitions=7")).get
    assert(ExecConfProbe.seen == Some("7"),
      s"returned frame was not executed under the -D confs (probe saw ${ExecConfProbe.seen})")
    try {
      assert(res.storageLevel.useMemory || res.storageLevel.useDisk,
        "-D without -o must pin the result inside the conf scope")
      assert(res.collect().nonEmpty)
    } finally { res.unpersist(); () }
  }

  test("suite invocation FAILS at the end when a query failed; stale output removed") {
    // Input dir holds only documents: d1 succeeds, q1_agg (lineitem) fails.
    val dir = Files.createTempDirectory("graft-cli-partial")
    Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val out = Files.createTempDirectory("graft-cli-partial-out")
    // a previous invocation's output for the soon-to-fail query: must NOT
    // survive to make the out dir look complete
    val stale = out.resolve("q1_agg.parquet")
    Files.createDirectories(stale)
    Files.write(stale.resolve("part-stale.parquet"), Array[Byte](1, 2, 3))
    val ex = intercept[IllegalStateException] {
      Cli.runWith(spark,
        Array("-i", dir.toString, "-o", out.toString, "-q", "d1_exact_dedup,q1_agg"))
    }
    assert(ex.getMessage.contains("q1_agg") && ex.getMessage.contains("1/2"))
    assert(spark.read.parquet(s"$out/d1_exact_dedup.parquet").count() > 0,
      "per-query isolation lost: the passing query's output is missing")
    assert(!stale.toFile.exists(), "failed query's stale output left in place")
  }

  test("unknown query name and malformed options fail loudly") {
    val unknown = intercept[IllegalArgumentException] {
      Cli.runWith(spark, Array("-i", sf, "-q", "no_such_query"))
    }
    assert(unknown.getMessage.contains("no_such_query"))
    assert(intercept[IllegalArgumentException] {
      Cli.runWith(spark, Array("-q", "q1_agg"))
    }.getMessage.contains("-i"))
    assert(intercept[IllegalArgumentException] {
      Cli.runWith(spark, Array("-i", sf, "-q"))
    }.getMessage.contains("requires a value"))
    assert(intercept[IllegalArgumentException] {
      Cli.runWith(spark, Array("-frobnicate"))
    }.getMessage.contains("Unknown option"))
  }
}
