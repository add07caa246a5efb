package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.queries.Registry

/** Dump `.explain("formatted")` for every registered query to one file per
  * query under SPARK_GRAFT_PLAN_DIR (default plans/current). Sharing is left
  * DISABLED so each plan shows the query's FULL chain (stage builders
  * inline), which is the shape the optimization round's before/after plan
  * evidence needs — a Materialize stage read would hide the very subtree an
  * optimization changes. SPARK_GRAFT_QUERIES restricts the set;
  * SPARK_GRAFT_PLAN_SUFFIX names the snapshot (e.g. "_before"/"_after").
  *
  * Planning only — nothing is executed, so this runs in seconds. With AQE on
  * the dumped plan is the initial one (isFinalPlan=false); Exchange counts /
  * join strategies / PushedFilters — the claims the round's evidence cites —
  * are all visible there.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/current"))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val spark = GraftSession.local()
    Files.createDirectories(outDir)
    val selected = Registry.select(sys.env.get("SPARK_GRAFT_QUERIES"))
    selected.foreach { q =>
      try {
        val df = q.run(spark, sfDir)
        val text = df.queryExecution.explainString(FormattedMode)
        Files.write(outDir.resolve(s"${q.name}$suffix.txt"),
          text.getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[plandump] ${q.name}: ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
