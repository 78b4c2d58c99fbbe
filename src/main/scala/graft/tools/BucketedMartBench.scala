package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev measurement for the bucketed-silver mart variant
  * ([[graft.operators.VendasMart.bucketedSilver]]): on a given sf dir,
  * times the plain mart (whose lineitem⟕orders join is a two-sided
  * exchange past the broadcast thresholds) against the mart rebuilt
  * from a bucketed+sorted silver layout, and prints one JSON line per
  * leg with wall seconds and shuffle volumes so SCALE.md's "bucketing
  * is the upgrade" claim is measured, not argued.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/graft_sf3 runMain graft.tools.BucketedMartBench
  */
object BucketedMartBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", "target/bucketed-mart-warehouse")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nBuckets = sys.env.get("SPARK_GRAFT_BUCKETS").map(_.toInt)
      .getOrElse(graft.operators.VendasMart.silverBuckets(spark))
    val metrics = new StageMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    def drain(): Unit =
      try org.apache.spark.graft.ListenerShim.drain(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => () }
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    def timed(label: String, warm: Boolean = true)(body: => Unit): Unit = {
      // One untimed warm run (page cache, codegen) then three timed.
      if (warm) body
      val runs = (1 to 3).map { _ =>
        drain(); metrics.reset()
        val t0 = System.nanoTime()
        body
        val dt = (System.nanoTime() - t0) / 1e9
        drain()
        (dt, metrics.snapshot())
      }
      val best = runs.minBy(_._1)
      println(s"""{"leg":"$label","sf":"$sfDir","min_s":${r3(best._1)},""" +
        s""""shuffle_write_mb":${r3(best._2._1 / 1e6)},""" +
        s""""shuffle_read_mb":${r3(best._2._2 / 1e6)},""" +
        s""""spill_mb":${r3((best._2._3 + best._2._4) / 1e6)},""" +
        s""""runs":${runs.size},"buckets":$nBuckets}""")
    }

    def noopWrite(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    timed("mart_plain") {
      noopWrite(graft.operators.VendasMart.mart(spark, sfDir))
    }
    // The one-time silver re-layout cost a real pipeline pays at
    // ingest (counted separately — it amortizes over every downstream
    // mart build against the same silver snapshot).
    timed("bucketed_silver_build", warm = false) {
      graft.operators.VendasMart.bucketedSilver(spark, sfDir, nBuckets)
    }
    timed("mart_bucketed") {
      noopWrite(graft.operators.VendasMart.martBucketed(spark, sfDir))
    }
    spark.stop()
  }
}
