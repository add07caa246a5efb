package graft
import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    // Shared-stage materialization (graft.Materialize): the run-scoped
    // write-once parquet layer between composed pipeline stages. Verify
    // runs WITH it on by default — so the oracle gate certifies the shared
    // mode, not just per-query isolation. SPARK_GRAFT_SHARED=none restores
    // fully isolated per-query execution.
    if (sys.env.getOrElse("SPARK_GRAFT_SHARED", "on") != "none") Materialize.enable()
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: a single hung query must not stall the whole
    // round. The job group lets the watchdog cancel the stuck Spark jobs so
    // their resources free up before the next query runs.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "600").toLong
    // Same restriction knob Bench has, for local iteration on one query;
    // the driver leaves it unset and always dumps the full suite.
    val selected = Registry.select(sys.env.get("SPARK_GRAFT_QUERIES"))
    // A crashed query must still leave a result dir: the driver's comparer
    // enumerates the dirs that exist, so a query that writes nothing silently
    // drops out of CORRECTNESS_r{N}.json (round 7 lost 11 entries this way
    // and the artifact read 96/97 green). On failure we write a one-row
    // parquet whose single `__graft_error__` column carries the message —
    // the driver then emits a visibly-red entry (schema/rows mismatch) for
    // every registered query instead of omitting it, and the parquet itself
    // documents the cause. errors.json aggregates the reasons for humans.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def writeError(name: String, msg: String): Unit =
      try {
        import spark.implicits._
        Seq(msg).toDF("__graft_error__").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name: error-marker write failed: ${e.getMessage}")
      }
    selected.foreach { q =>
      val name = q.name
      val task = new java.util.concurrent.FutureTask[Unit](() =>
        try {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } finally spark.sparkContext.clearJobGroup())
      val th = new Thread(task, s"verify-$name")
      th.setDaemon(true)
      th.start()
      try task.get(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          // Interrupt the driver thread AND bar future jobs of the group:
          // plain cancelJobGroup only kills currently-active jobs, so a
          // multi-job query timing out between jobs (or hung driver-side)
          // would keep submitting work for the rest of the round.
          task.cancel(true)
          spark.sparkContext.cancelJobGroupAndFutureJobs(name)
          // Wait (bounded) for the cancelled writer thread to actually exit
          // before writing the error marker: cancel() is asynchronous, and a
          // zombie overwrite-mode writer racing on $outDir/$name could delete
          // the marker during its own overwrite-prep/abort cleanup —
          // reproducing the silent-drop this marker exists to prevent.
          th.join(30000L)
          if (th.isAlive)
            System.err.println(
              s"[verify] $name: cancelled writer still alive after 30s; " +
              "error marker may race with its cleanup")
          val msg = s"timeout after ${timeoutSec}s"
          System.err.println(s"[verify] $name failed: $msg")
          errors(name) = msg
          writeError(name, msg)
        case e: Throwable =>
          val cause = Option(e.getCause).getOrElse(e)
          val msg = s"${cause.getClass.getSimpleName}: ${cause.getMessage}"
          System.err.println(s"[verify] $name failed: $msg")
          errors(name) = msg
          writeError(name, msg)
      }
      // Queries may persist intermediates (LSH band frames); drop them so
      // no query's cache lingers into (or influences) the next one.
      GraftSession.sweep(spark)
    }
    val json = jsonObject(selected.flatMap(q => q.oracle.map(q.name -> _)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
    spark.stop()
  }

  /** `entries` as one JSON object, keys and values escaped by
    * [[Bench.jsonString]]: a tab or CR in builder-authored SQL must not make
    * the driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonObject(entries: Iterable[(String, String)]): String =
    entries.map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
}
