package graft

import java.util.concurrent.{CompletableFuture, TimeUnit}

import scala.jdk.CollectionConverters._

import com.ibm.icu.lang.UCharacter
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[plans.CaseMappingInit]]: the cold-JVM case runs in a child JVM,
  * because the test JVM's shared session has long since initialised
  * the case-mapping class.
  */
class CaseMappingInitSpec extends AnyFunSuite {

  test("a cold session initialises the case-mapping class, keeps the user's plugins, and upper/lower match ICU") {
    val (code, log) = ForkedJvm.run(ForkedJvm.mainOf(CaseMappingChild))
    val tail = log.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(code == 0, s"child JVM exited $code:\n$tail")
    def printed(key: String): Option[String] =
      log.linesIterator.collectFirst { case l if l.startsWith(s"$key=") => l.stripPrefix(s"$key=") }
    assert(printed("case_mapping_loaded").contains("true"), tail)
    assert(printed("plugins").contains("DefaultsTestPlugin,UserTestPlugin"), tail)
    val n = CaseMappingChild.Samples.size
    assert(printed("matches_icu").contains(s"$n/$n"), tail)
  }

  test("a missing or failing case-mapping class is swallowed and does not fail executor start") {
    for (name <- Seq("graft.NoSuchClass", "graft.ThrowsOnInit$")) {
      val done = new CompletableFuture[Boolean]()
      new plans.CaseMappingInit(name, done).executorPlugin()
        .init(null, java.util.Collections.emptyMap())
      assert(!done.get(30, TimeUnit.SECONDS), name)
    }
  }
}

/** Its static initialiser throws, as a class broken by a Spark upgrade
  * would (ExceptionInInitializerError, a LinkageError).
  */
object ThrowsOnInit {
  val broken: Int = throw new IllegalStateException("broken initialiser")
}

/** Records each executor start of its subclasses by simple name. */
class RecordingPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = null
  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def init(ctx: PluginContext, extraConf: java.util.Map[String, String]): Unit =
      RecordingPlugin.started.add(RecordingPlugin.this.getClass.getSimpleName)
  }
}
object RecordingPlugin {
  val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
/** Set through `spark.plugins`, as a user of the library would. */
class UserTestPlugin extends RecordingPlugin
/** Set through `spark.plugins.defaultList` before the session exists,
  * as spark-defaults.conf or `--conf` would.
  */
class DefaultsTestPlugin extends RecordingPlugin

/** Child-JVM body of [[CaseMappingInitSpec]]: a session built through
  * [[GraftSession.configure]] at `local[2]`, with one plugin in
  * `spark.plugins` and one in `spark.plugins.defaultList`, waits up to
  * 30 s for the case-mapping initialiser, prints which plugins started,
  * and compares Spark's `upper`/`lower` with ICU's case mapping.
  */
object CaseMappingChild {
  val Samples: Seq[String] = Seq("são paulo", "straße", "ǆ", "ΣΑΣ", "İ")

  private def escaped(s: String): String =
    s.codePoints().toArray.map(c => f"U+$c%04X").mkString(" ")

  def main(args: Array[String]): Unit = {
    System.setProperty("spark.plugins.defaultList", classOf[DefaultsTestPlugin].getName)
    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[2]")
      .appName("graft-case-mapping")
      .config("spark.plugins", classOf[UserTestPlugin].getName)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    try {
      val loaded = plans.CaseMappingInit.initialised.get(30, TimeUnit.SECONDS)
      println(s"case_mapping_loaded=$loaded")
      println(s"plugins=${RecordingPlugin.started.asScala.toSeq.sorted.mkString(",")}")
      import spark.implicits._
      val rows = spark.createDataset(Samples).repartition(2)
        .select(col("value"), upper(col("value")), lower(col("value"))).collect()
      val matches = rows.count { r =>
        val (s, up, low) = (r.getString(0), r.getString(1), r.getString(2))
        val ok = up == UCharacter.toUpperCase(s) && low == UCharacter.toLowerCase(s)
        if (!ok) println(s"mismatch ${escaped(s)}: upper ${escaped(up)} vs " +
          s"${escaped(UCharacter.toUpperCase(s))}, lower ${escaped(low)} vs " +
          escaped(UCharacter.toLowerCase(s)))
        ok
      }
      println(s"matches_icu=$matches/${Samples.size}")
    } finally spark.stop()
  }
}
