package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The configuration surface: `SPARK_GRAFT_CONF` parsing, Spark's own
  * IO confs passing through the session build, and a guard that
  * README's Configuration table lists exactly the `spark.graft.*` confs
  * and `SPARK_GRAFT_*` env vars the library reads, so a knob cannot
  * land (or linger) uncounted.
  */
class ConfigSpec extends AnyFunSuite {

  /** The `key=value` lines an [[IoConfChild]] run printed. */
  private def ioConfChild(args: String*): Map[String, String] = {
    val (code, log) = ForkedJvm.run(ForkedJvm.mainOf(IoConfChild), args: _*)
    val tail = log.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(code == 0, s"child JVM exited $code:\n$tail")
    log.linesIterator.collect {
      case l if l.startsWith("io.") && l.contains("=") =>
        val Array(k, v) = l.split("=", 2)
        k -> v
    }.toMap
  }

  test("a user's IO codec and spill compression survive the session build") {
    val got = ioConfChild("user")
    assert(got.get("io.session_codec").contains("zstd"), got)
    assert(got.get("io.session_spill_compress").contains("false"), got)
    assert(got.get("io.meta_codec").contains("zstd"), got)
    assert(got.get("io.meta_spill_compress").contains("false"), got)
  }

  test("with neither IO conf set, Bench's _meta stamp reads Spark's defaults") {
    val got = ioConfChild()
    assert(got.get("io.meta_codec").contains("lz4"), got)
    assert(got.get("io.meta_spill_compress").contains("true"), got)
  }

  test("SPARK_GRAFT_CONF parsing: key=value entries; a malformed entry is named") {
    assert(GraftSession.parseConf("") == Nil)
    assert(GraftSession.parseConf(" a.b=1 ;; c=x=y;") == Seq("a.b" -> "1", "c" -> "x=y"))
    for (bad <- Seq("a=1;no_equals_sign", "=v")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseConf(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CONF"))
      assert(e.getMessage.contains(bad.split(';').last))
    }
  }

  test("README's Configuration table lists every knob src/main reads") {
    val src = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.readString).mkString("\n")
    val read = ("\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r.findAllMatchIn(src).map(_.group(1)) ++
      "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(src)).toSet
    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.split("\n## ").find(_.startsWith("Configuration\n"))
      .getOrElse(fail("README.md has no '## Configuration' section"))
    val listed = section.linesIterator.filter(_.startsWith("| `"))
      .flatMap(row => "`([^`]+)`".r.findAllMatchIn(row.split('|')(1)).map(_.group(1)))
      .toSet
    assert(read.nonEmpty)
    assert(listed -- read == Set.empty, "listed in README but not read by src/main")
    assert(read -- listed == Set.empty, "read by src/main but missing from README")
  }
}

/** Child-JVM body of [[ConfigSpec]]: with the argument `user`, sets
  * `spark.io.compression.codec=zstd` and `spark.shuffle.spill.compress=false`
  * as system properties, as `-D` or spark-submit would; then builds a
  * `local[1]` session through [[GraftSession.configure]] and prints
  * what the session holds and what [[Bench.ioConf]] stamps.
  */
object IoConfChild {
  private val CodecKey = "spark.io.compression.codec"
  private val SpillKey = "spark.shuffle.spill.compress"

  def main(args: Array[String]): Unit = {
    val user = args.contains("user")
    if (user) {
      System.setProperty(CodecKey, "zstd")
      System.setProperty(SpillKey, "false")
    }
    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[1]")
      .appName("graft-io-conf")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    try {
      if (user) {
        println(s"io.session_codec=${spark.conf.get(CodecKey)}")
        println(s"io.session_spill_compress=${spark.conf.get(SpillKey)}")
      }
      val (codec, spillCompress) = Bench.ioConf(spark)
      println(s"io.meta_codec=$codec")
      println(s"io.meta_spill_compress=$spillCompress")
    } finally spark.stop()
  }
}
