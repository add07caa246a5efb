package graft

import org.scalatest.funsuite.AnyFunSuite

/** Builds [[GraftSession.local]] and prints one `SESSION` line (master,
  * shuffle partitions, session time zone, `nanosAsLong` and whether AQE is
  * on) and one `LOGGERS` line (the root level and the ConnectedComponents
  * logger's level). Runs in a child JVM ([[ChildJvm]]): the test JVM
  * already has its session.
  */
object GraftSessionLocalMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val conf = spark.conf
    println(Seq(spark.sparkContext.master, conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.sql.session.timeZone"), conf.get("spark.sql.legacy.parquet.nanosAsLong"),
      conf.get("spark.sql.adaptive.enabled")).mkString("SESSION ", " ", ""))
    import org.apache.logging.log4j.LogManager
    println(Seq(LogManager.getRootLogger.getLevel,
      LogManager.getLogger("graft.operators.ConnectedComponents").getLevel)
      .mkString("LOGGERS ", " ", ""))
    spark.stop()
  }
}

class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("local() builds local[$SPARK_GRAFT_CPUS] and takes other settings from -D options") {
    def session(jvmOptions: Seq[String]): Seq[String] = {
      val out = ChildJvm.run("graft.GraftSessionLocalMain", Nil,
        jvmOptions = jvmOptions, env = Map("SPARK_GRAFT_CPUS" -> "3"))
      val lines = out.output.linesIterator
        .filter(l => l.startsWith("SESSION ") || l.startsWith("LOGGERS ")).toSeq
      assert(out.exitCode == 0 && lines.size == 2,
        s"child JVM failed:\n${out.output.takeRight(4000)}")
      lines
    }
    // The root logger stays at WARN; the engine's own loggers stay at INFO,
    // so a run's log shows which ConnectedComponents path ran.
    assert(session(Seq("-Dspark.sql.adaptive.enabled=false")) ==
      Seq("SESSION local[3] 3 UTC true false", "LOGGERS WARN INFO"))
    assert(session(Nil) == Seq("SESSION local[3] 3 UTC true true", "LOGGERS WARN INFO"))
  }

  test("plain SQL runs against registered views and custom functions") {
    GraftSession.open(spark, TestSpark.sf0001)
    val revenue = spark.sql(
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY revenue DESC LIMIT 3""".stripMargin)
    assert(revenue.count() == 3)
    val sims = spark.sql(
      """SELECT a.vec_id, b.vec_id,
        |       cosine_similarity(a.embedding, b.embedding) AS c
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |LIMIT 5""".stripMargin).collect()
    assert(sims.length == 5)
    sims.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    // events view must expose ts as a real TimestampType (nanos handled),
    // so time functions work in SQL.
    val ev = spark.sql(
      "SELECT count(*) AS n FROM events WHERE hour(ts) BETWEEN 0 AND 23").head
    assert(ev.getLong(0) > 0)
    assert(spark.table("events").schema("ts").dataType.typeName == "timestamp")
  }

  test("dot_product registered alongside cosine_similarity") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d").head
    assert(r.getDouble(0) == 32.0)
  }

  test("GraftExtensions injection point wires the same expressions") {
    // END-TO-END: build a real session whose sessionState applies
    // GraftExtensions (the spark.sql.extensions code path), then resolve the
    // injected functions through Catalyst analysis in plain SQL — on a
    // session that never called registerFunctions. getOrCreate() reuses the
    // shared SparkContext once the active/default session slots are cleared;
    // they are restored afterwards so other suites are unaffected.
    import org.apache.spark.sql.SparkSession
    // Force the shared session BEFORE clearing the slots: run in isolation,
    // the lazy TestSpark.spark would otherwise be created inside the
    // cleared-slot window (no master configured → builder error, and the
    // `ne` assertion would compare extSession against itself).
    val shared = spark
    assert(shared != null)
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extSession = SparkSession.builder()
        .withExtensions(new GraftExtensions().apply(_))
        .getOrCreate()
      assert(extSession ne spark, "expected a fresh session, got the shared one")
      val row = extSession.sql(
        "SELECT cosine_similarity(array(2.0D, 0.0D), array(1.0D, 0.0D)) AS c," +
          " dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head
      assert(row.getDouble(0) == 1.0)
      assert(row.getDouble(1) == 11.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
    // The injected builders ARE the companions' builders — arity errors too.
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.DotProduct.builder(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(1.0)))
    }
  }
}
