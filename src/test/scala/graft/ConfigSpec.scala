package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The configuration surface: `SPARK_GRAFT_CONF` parsing, and a guard
  * that README's Configuration table lists exactly the `spark.graft.*`
  * confs and `SPARK_GRAFT_*` env vars the library reads, so a knob
  * cannot land (or linger) uncounted.
  */
class ConfigSpec extends AnyFunSuite {

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
