package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Runs a `main` from the test classpath in a child JVM, for cases that need
  * their own SparkContext (a different master than [[TestSpark]]'s, which a
  * second context in the same JVM cannot have). The child reuses this JVM's
  * classpath and `--add-opens` flags with a 1 GB heap.
  */
object ChildJvm {

  final case class Outcome(exitCode: Int, output: String)

  /** The `--add-opens` flags this JVM was started with, as separate args. */
  private def addOpens: Seq[String] = {
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    args.zipWithIndex.flatMap {
      case ("--add-opens", i) if i + 1 < args.length => Seq("--add-opens", args(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq("--add-opens", a.stripPrefix("--add-opens="))
      case _ => Nil
    }
  }

  /** Runs `mainClass` with `args`, returning its exit code and its combined
    * stdout/stderr; a child still running after `timeoutSeconds` is killed
    * and reported with exit code -1. `jvmOptions` go before the main class
    * (e.g. `-Dspark.x=y`); `env` is added to this JVM's environment.
    */
  def run(mainClass: String, args: Seq[String], timeoutSeconds: Long = 300,
      jvmOptions: Seq[String] = Nil, env: Map[String, String] = Map.empty): Outcome = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-Xmx1g") ++ addOpens ++ jvmOptions ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val log = Files.createTempFile("graft-child-jvm", ".log")
    try {
      val builder = new ProcessBuilder(cmd.asJava)
        .redirectErrorStream(true)
        .redirectOutput(log.toFile)
      builder.environment().putAll(env.asJava)
      val proc = builder.start()
      val exit =
        if (proc.waitFor(timeoutSeconds, TimeUnit.SECONDS)) proc.exitValue()
        else { proc.destroyForcibly().waitFor(); -1 }
      Outcome(exit, new String(Files.readAllBytes(log), StandardCharsets.UTF_8))
    } finally Files.delete(log)
  }
}
