package graft

import org.apache.spark.graft.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins [[Tables.normalizeTs]] across BOTH harness data generations of
  * `events.parquet` — int64 TIMESTAMP(NANOS) (read as LongType under
  * `nanosAsLong`) and TIMESTAMP(MICROS) without UTC adjustment (read
  * as TIMESTAMP_NTZ). The harness only ever ships one generation at a
  * time, so whichever branch the live testdata doesn't exercise is
  * covered here by fixture. Also pins [[Tables.table]]'s schema memo:
  * a repeated read starts no job, and a rewritten file is inferred again.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // Two instants, microsecond precision (what both generations carry).
  private val micros = Seq(1700000000123456L, 1712345678000001L)

  private def writeFixture(dir: String, df: org.apache.spark.sql.DataFrame): String = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def ntzFixture(dir: String): String = writeFixture(dir,
    micros.toDF("us")
      .select(expr("timestamp_micros(us)").cast(TimestampNTZType).as("ts"),
        lit(1L).as("user_id")))

  private def nanosFixture(dir: String): String = writeFixture(dir,
    micros.map(_ * 1000L).toDF("ts").withColumn("user_id", lit(1L)))

  private def eventMicros(dir: String): Seq[Long] =
    Tables.events(spark, dir).select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted

  /** Spark jobs started while `body` runs. */
  private def jobsIn(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerShim.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerShim.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("events: NTZ-micros generation normalizes equal to the nanos generation") {
    // Nanos generation: under nanosAsLong the physical TIMESTAMP(NANOS)
    // column arrives as raw int64 nanos, i.e. LongType — the fixture
    // writes that post-read shape directly.
    val nanosDir = nanosFixture(tmpDir("ev_nanos"))
    // NTZ generation: micros without UTC adjustment.
    val ntzDir = ntzFixture(tmpDir("ev_ntz"))

    val a = Tables.events(spark, nanosDir)
    val b = Tables.events(spark, ntzDir)
    assert(a.schema("ts").dataType == TimestampType)
    assert(b.schema("ts").dataType == TimestampType)
    val av = a.select(unix_micros(col("ts"))).as[Long].collect().sorted
    val bv = b.select(unix_micros(col("ts"))).as[Long].collect().sorted
    assert(av.toSeq == micros.sorted, av.toSeq)
    assert(bv.toSeq == micros.sorted, bv.toSeq)
  }

  test("a second read of a table declares the schema the first inferred: no job") {
    val dir = ntzFixture(tmpDir("ev_memo"))
    val inferred = Tables.events(spark, dir).schema
    assert(jobsIn(Tables.events(spark, dir)) == 0, "jobs on the second read")
    assert(Tables.events(spark, dir).schema == inferred)
    assert(eventMicros(dir) == micros.sorted)
  }

  test("a table rewritten in place is inferred again: NTZ overwritten by nanos") {
    val dir = ntzFixture(tmpDir("ev_rewrite"))
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == TimestampNTZType)
    assert(eventMicros(dir) == micros.sorted)
    nanosFixture(dir)
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    assert(eventMicros(dir) == micros.sorted)
  }

  test("events: NTZ normalization refuses a non-UTC session instead of shifting") {
    val ntzDir = ntzFixture(tmpDir("ev_ntz_tz"))
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/Sao_Paulo")
      val e = intercept[IllegalArgumentException] {
        Tables.events(spark, ntzDir).collect()
      }
      assert(e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set(tzKey, saved)
  }
}
