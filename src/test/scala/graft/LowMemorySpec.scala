package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Memory-cliff failures reproduced at test scale: each case runs in a
  * child JVM whose Spark memory manager sees 512 MiB at `local[2]`, so
  * a per-task memory cliff that sf30 reaches on a large host shows on
  * test data. The shared test session has gigabytes and never shows it.
  */
class LowMemorySpec extends AnyFunSuite {

  test("at 512 MiB, 1 M aggregated keys join 4 M probe rows without a hash-build failure") {
    val n = 1000000L
    val (code, log) = ForkedJvm.run(ForkedJvm.mainOf(LowMemoryJoin), n.toString)
    val tail = log.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(code == 0, s"child JVM exited $code:\n$tail")
    assert(log.linesIterator.contains(s"rows=${4 * n} pad_chars=${4 * n * 64}"), tail)
  }
}

/** Child-JVM body of [[LowMemorySpec]]: a session built through
  * [[GraftSession.configure]] at `local[2]` with 512 MiB of Spark
  * memory, broadcast off and 4 shuffle partitions joins N aggregated
  * keys, each carrying a 64-char pad, to 4N probe rows and prints the
  * joined row and pad-character counts.
  */
object LowMemoryJoin {
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[2]")
      .appName("graft-lowmem")
      .config("spark.testing.memory", (512L << 20).toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    try {
      val perKey = spark.range(0, n)
        .select(col("id").as("k"), lpad(col("id").cast("string"), 64, "x").as("pad"))
        .groupBy("k").agg(max(col("pad")).as("pad"))
      val probe = spark.range(0, 4 * n).select((col("id") % n).as("k"))
      val r = probe.join(perKey, "k")
        .agg(count(lit(1)), sum(length(col("pad")))).collect().head
      println(s"rows=${r.getLong(0)} pad_chars=${r.getLong(1)}")
    } finally spark.stop()
  }
}
