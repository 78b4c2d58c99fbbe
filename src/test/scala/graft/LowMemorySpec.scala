package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Memory-cliff behaviour reproduced at test scale: each case runs in a
  * small child JVM at `local[2]`, so a per-task memory cliff or an
  * index demotion that sf30 reaches on a large host shows on test
  * data. The shared test session has gigabytes and never shows either.
  */
class LowMemorySpec extends AnyFunSuite {

  test("at 512 MiB, 1 M aggregated keys join 4 M probe rows without a hash-build failure") {
    val n = 1000000L
    val (code, log) = ForkedJvm.run(ForkedJvm.mainOf(LowMemoryJoin), n.toString)
    val tail = log.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(code == 0, s"child JVM exited $code:\n$tail")
    assert(log.linesIterator.contains(s"rows=${4 * n} pad_chars=${4 * n * 64}"), tail)
  }

  test("a storage budget forced below the shingle index demotes it to disk; query results stay the same") {
    def runChild(args: String*): Seq[String] = {
      val (code, log) = ForkedJvm.run(ForkedJvm.mainOf(IndexDemotion), args: _*)
      val lines = log.linesIterator.toSeq
      assert(code == 0, s"child JVM exited $code:\n${lines.takeRight(40).mkString("\n")}")
      lines
    }
    def indexLog(lines: Seq[String]) = lines.filter(_.contains("[graft-index]")).mkString("\n")
    def queryLines(lines: Seq[String]) = lines.filter(_.startsWith("query="))
    val plain = runChild()
    val forced = runChild("0.001")
    assert(!plain.exists(_.contains("DISK_ONLY demotion")), indexLog(plain))
    val demotions = forced.filter(_.contains("DISK_ONLY demotion (over-budget"))
    assert(demotions.size == 1 && demotions.head.contains("frame=shingle_index "),
      indexLog(forced))
    val resident = forced.filter(_.contains("resident after prewarm"))
    assert(resident.size == 1 && !resident.head.contains("shingle_index"), indexLog(forced))
    assert(queryLines(plain).size == 2, plain.takeRight(40).mkString("\n"))
    assert(queryLines(forced) == queryLines(plain))
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

/** Child-JVM body of [[LowMemorySpec]]'s demotion case: a `local[2]`
  * session with 4 shuffle partitions runs [[Dedup.prewarm]] on the
  * sf0.1 test data, then `q_dedup_jaccard` and `q_text_boilerplate`,
  * printing each query's row count and an order-insensitive checksum
  * (the sum of per-row hashes). An optional argument sets
  * `spark.memory.storageFraction`, which shrinks the index storage
  * budget the ladder demotes against.
  */
object IndexDemotion {
  private val SfDir = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("graft-index-demotion")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    args.headOption.foreach(b.config("spark.memory.storageFraction", _))
    val spark = GraftSession.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      Dedup.prewarm(spark, SfDir)
      for (q <- Seq("q_dedup_jaccard", "q_text_boilerplate")) {
        val df = SparkEntry.queries(q)(spark, SfDir)
        val rowHash = hash(df.columns.map(c => col(s"`$c`")).toSeq: _*).cast("long")
        val r = df.agg(count(lit(1)), sum(rowHash)).head()
        println(s"query=$q rows=${r.getLong(0)} checksum=${r.get(1)}")
      }
    } finally spark.stop()
  }
}
