package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared singleton session for all suites — one JVM-wide local
  * SparkSession (getOrCreate), small shuffle fan-out for test speed.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    // Keep catalog/metastore artifacts under target/ (static configs —
    // must be set before the session exists).
    System.setProperty("derby.system.home", "target/derby")
    GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      // Pinned ON (see Verify.scala): Dedup.lshVerified relies on AQE
      // runtime stats for its hint-free participants broadcast.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Runs `body` with `confs` set on the shared session, then restores
    * each key's previous value (unsetting a key that had none), so a
    * case cannot leak a conf into the specs that run after it.
    */
  def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Fresh per-suite scratch dir under target/. */
  def tmpDir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, name)
    p.toFile.deleteOnExit()
    p.toString
  }
}
