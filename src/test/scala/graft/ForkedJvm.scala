package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Child JVMs for specs that need a fresh process: a cold class state,
  * or a Spark memory manager smaller than the shared test session's.
  */
object ForkedJvm {

  /** Runs `main` of `mainClass` in a child JVM with this JVM's class
    * path and add-opens; returns the exit code and the output.
    */
  def run(mainClass: String, args: String*): (Int, String) = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val addOpens = jvmArgs.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < jvmArgs.size => Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx1g", "-XX:-UsePerfData") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
    val out = Files.createTempFile(Paths.get("target").toAbsolutePath, "fork", ".log")
    val proc = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(out.toFile).start()
    if (!proc.waitFor(10, TimeUnit.MINUTES)) proc.destroyForcibly().waitFor()
    val log = Files.readString(out)
    Files.delete(out)
    (proc.exitValue(), log)
  }

  /** `main`'s class name for a Scala `object`. */
  def mainOf(obj: AnyRef): String = obj.getClass.getName.stripSuffix("$")
}
