package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.sources.OlistCatalog
import graft.streaming.Streaming
import graft.streaming.Streaming.Event

/** Structured Streaming paths: AvailableNow file ingest equals the
  * batch ingest (the @once generalization claim, SURVEY.md §2.7),
  * watermarked windows aggregate correctly, and the stateful
  * sessionizer closes sessions on gap boundaries.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  test("AvailableNow CSV ingest stream writes the same silver as batch") {
    val bronze = tmpDir("sbronze")
    val silver = tmpDir("ssilver")
    val ckpt = tmpDir("sckpt")
    val p = Paths.get(bronze, "olist/customers", "a.csv")
    Files.createDirectories(p.getParent)
    Files.writeString(p,
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state\n" +
        "c1,u1,01310,sao paulo,SP\nc2,u2,20040,rio,RJ")

    val q = Streaming.ingestStream(spark, OlistCatalog.customers, bronze, silver, ckpt)
    q.awaitTermination(60000)
    val out = spark.read.parquet(s"$silver/olist/customers")
    assert(out.count() == 2)
    assert(out.columns.sorted.toSeq ==
      OlistCatalog.customers.schema.fieldNames.sorted.toSeq)

    // Incremental restart: a new bronze object is picked up exactly once.
    Files.writeString(Paths.get(bronze, "olist/customers", "b.csv"),
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state\n" +
        "c3,u3,30110,bh,MG")
    val q2 = Streaming.ingestStream(spark, OlistCatalog.customers, bronze, silver, ckpt)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(s"$silver/olist/customers").count() == 3)
  }

  /** A customers bronze prefix under a fresh root holding `files`
    * (name -> contents), and fresh silver and checkpoint roots.
    */
  private def customersBronze(files: (String, String)*): (String, String, String) = {
    val bronze = tmpDir("sbronze")
    files.foreach { case (name, body) => writeBronze(bronze, name, body) }
    (bronze, tmpDir("ssilver"), tmpDir("sckpt"))
  }

  private def writeBronze(bronze: String, name: String, body: String): Unit = {
    val p = Paths.get(bronze, "olist/customers", name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, body)
  }

  private def customersStream(bronze: String, silver: String, ckpt: String) =
    Streaming.ingestStream(spark, OlistCatalog.customers, bronze, silver, ckpt)

  private def silverCustomers(silver: String) =
    spark.read.parquet(s"$silver/olist/customers")

  private val declared = OlistCatalog.customers.schema.fieldNames.toSeq

  test("CSV ingest stream aligns a reversed header by name; another header fails the next start") {
    val (bronze, silver, ckpt) =
      customersBronze("a.csv" -> (declared.reverse.mkString(",") + "\nSP,osasco,06000,u9,c9"))
    customersStream(bronze, silver, ckpt).awaitTermination(60000)
    val rows = silverCustomers(silver).collect()
    assert(rows.length == 1)
    assert(declared.map(rows.head.getAs[String]) == Seq("c9", "u9", "06000", "osasco", "SP"))

    // A file in the declared order now makes two headers under the
    // prefix: the stream refuses to start, naming a file of each.
    writeBronze(bronze, "b.csv", declared.mkString(",") + "\nc3,u3,30110,bh,MG")
    val e = intercept[IllegalArgumentException](customersStream(bronze, silver, ckpt))
    assert(e.getMessage.contains("a.csv has customer_state,") &&
      e.getMessage.contains("b.csv has customer_id,"), e.getMessage)
    assert(silverCustomers(silver).count() == 1)
  }

  test("CSV ingest stream: two headers present at the first start fail it before any batch") {
    val (bronze, silver, ckpt) = customersBronze(
      "a.csv" -> (declared.mkString(",") + "\nc1,u1,01310,sao paulo,SP"),
      "b.csv" -> (declared.reverse.mkString(",") + "\nSP,osasco,06000,u9,c9"))
    intercept[IllegalArgumentException](customersStream(bronze, silver, ckpt))
    assert(!Files.exists(Paths.get(silver, "olist/customers")))
    assert(!Files.exists(Paths.get(ckpt, OlistCatalog.customers.name)))
    // The batch extract reads the same prefix per header.
    val batch = graft.sources.IngestJob(OlistCatalog.customers).extract(spark, bronze)
    assert(batch.select("customer_id").as[String].collect().sorted.toSeq == Seq("c1", "c9"))
  }

  test("CSV ingest stream: an appended column lands by name alone, but not after the declared header") {
    val appended = (declared :+ "customer_tier").mkString(",")
    val (bronze, silver, ckpt) =
      customersBronze("a.csv" -> (appended + "\nc1,u1,01310,sao paulo,SP,gold"))
    customersStream(bronze, silver, ckpt).awaitTermination(60000)
    val rows = silverCustomers(silver).collect()
    assert(rows.length == 1)
    assert(rows.head.schema.fieldNames.toSeq == declared)
    assert(declared.map(rows.head.getAs[String]) == Seq("c1", "u1", "01310", "sao paulo", "SP"))

    // After a run over the declared header, a file with the appended
    // column is a second header: the stream refuses to start, where
    // the batch extract reads both files.
    val (bronze2, silver2, ckpt2) =
      customersBronze("a.csv" -> (declared.mkString(",") + "\nc1,u1,01310,sao paulo,SP"))
    customersStream(bronze2, silver2, ckpt2).awaitTermination(60000)
    writeBronze(bronze2, "b.csv", appended + "\nc2,u2,20040,rio,RJ,silver")
    intercept[IllegalArgumentException](customersStream(bronze2, silver2, ckpt2))
    assert(silverCustomers(silver2).count() == 1)
    assert(graft.sources.IngestJob(OlistCatalog.customers).extract(spark, bronze2).count() == 2)
  }

  test("CSV ingest stream: a duplicated or a blank header name streams as the batch extract reads it") {
    // makeSafeHeader renames the copies (customer_id0, customer_id1) and
    // the blank (_c1), so the declared names they stood for read null.
    for ((header, id) <- Seq(
        "customer_id,customer_id,customer_zip_code_prefix,customer_city,customer_state" -> null,
        "customer_id,,customer_zip_code_prefix,customer_city,customer_state" -> "c1")) {
      val (bronze, silver, ckpt) =
        customersBronze("a.csv" -> (header + "\nc1,u1,01310,sao paulo,SP"))
      val q = customersStream(bronze, silver, ckpt)
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, q.exception)
      val rows = silverCustomers(silver).collect().toSeq
      assert(rows.map(r => declared.map(r.getAs[String])) ==
        Seq(Seq(id, null, "01310", "sao paulo", "SP")), header)
      assert(rows == graft.sources.IngestJob(OlistCatalog.customers).extract(spark, bronze)
        .collect().toSeq, header)
    }
  }

  test("watermarked tumbling window aggregates by hour and type") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedCounts(df, "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    mem.addData(
      (Timestamp.valueOf("2024-05-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-05-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-05-01 11:05:00"), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_agg").orderBy("window_start", "event_type").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 2)      // both clicks in 10:00 window
    assert(rows(0).getAs[Double]("total_value") == 3.0)
    assert(rows(1).getAs[String]("event_type") == "view")
  }

  test("flatMapGroupsWithState sessionizer closes sessions on the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val sessions = Streaming.sessionize(mem.toDS())
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // User 1: two events 5 min apart (one session), then a 2h gap, then
    // another event (second session). A later watermark-advancing event
    // from user 2 forces the first session's timeout to fire.
    mem.addData(
      Event(1L, Timestamp.valueOf("2024-05-01 10:00:00"), "click", 1.0),
      Event(1L, Timestamp.valueOf("2024-05-01 10:05:00"), "view", 2.0))
    q.processAllAvailable()
    mem.addData(Event(1L, Timestamp.valueOf("2024-05-01 12:05:00"), "click", 4.0))
    q.processAllAvailable()
    mem.addData(Event(2L, Timestamp.valueOf("2024-05-01 15:00:00"), "click", 0.0))
    q.processAllAvailable()
    val rows = spark.table("sessions").orderBy("session_start").collect()
    q.stop()
    assert(rows.nonEmpty)
    val first = rows(0)
    assert(first.getAs[Long]("user_id") == 1L)
    assert(first.getAs[Timestamp]("session_start") == Timestamp.valueOf("2024-05-01 10:00:00"))
    assert(first.getAs[Timestamp]("session_end") == Timestamp.valueOf("2024-05-01 10:05:00"))
    assert(first.getAs[Long]("n_events") == 2)
    assert(first.getAs[Double]("total_value") == 3.0)
  }

  test("transformWithState sessionizer agrees with the batch sessionization") {
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider;
    // scope it to this query and restore the session default after.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(5)
      val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime
      val events = (1 to 90).map { i =>
        val user = (i % 3 + 1).toLong
        val t = base + (i / 3) * 5 * 60 * 1000L +
          (if (rnd.nextInt(8) == 0) 2 * 60 * 60 * 1000L else 0L) + user * 1000L
        Event(user, new Timestamp(t), "e", 1.0)
      }.sortBy(_.ts.getTime)

      val byUser = Window.partitionBy("user_id").orderBy("ts")
      val gapMs = Streaming.SessionGapMs
      val batch = events.toDF()
        .withColumn("prev", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - col("prev") > gapMs * 1000, 1).otherwise(0))
        .withColumn("sess", sum("new_sess").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"), sum("value").as("total_value"))
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
        .collect().map(_.toSeq).toSet

      val mem = MemoryStream[Event]
      val q = Streaming.sessionizeTws(mem.toDS())
        .writeStream.format("memory").queryName("sess_tws")
        .outputMode("append").start()
      mem.addData(events: _*)
      q.processAllAvailable()
      // Sentinel advances the watermark past every timer -> all open
      // sessions close through handleExpiredTimer.
      mem.addData(Event(99L, new Timestamp(base + 365L * 24 * 3600 * 1000), "e", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_tws")
        .filter(col("user_id") =!= 99L)
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
        .collect().map(_.toSeq).toSet
      q.stop()
      assert(streamed == batch)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("same-batch stragglers within the gap merge into one session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // 2-hour allowed lateness: events predating the open session by
    // more than the 30-min gap survive the operator's watermark filter
    // (with the default 10-min delay the straggler path is unreachable).
    val q = Streaming.sessionize(mem.toDS(), lateness = "2 hours")
      .writeStream.format("memory").queryName("straggler_merge")
      .outputMode("append").start()
    mem.addData(Event(1L, Timestamp.valueOf("2024-05-01 12:00:00"), "e", 1.0))
    q.processAllAvailable()
    // Watermark is now 10:00. The open session starts at 12:00, so
    // anything before 11:30 is a straggler; these two are mutually
    // within the gap and arrive in ONE micro-batch -> one merged
    // session (the batch twin would merge them too).
    mem.addData(
      Event(1L, Timestamp.valueOf("2024-05-01 10:30:00"), "e", 2.0),
      Event(1L, Timestamp.valueOf("2024-05-01 10:40:00"), "e", 3.0))
    q.processAllAvailable()
    val rows = spark.table("straggler_merge").collect()
    q.stop()
    assert(rows.length == 1)
    val s = rows(0)
    assert(s.getAs[Timestamp]("session_start") == Timestamp.valueOf("2024-05-01 10:30:00"))
    assert(s.getAs[Timestamp]("session_end") == Timestamp.valueOf("2024-05-01 10:40:00"))
    assert(s.getAs[Long]("n_events") == 2)
    assert(s.getAs[Double]("total_value") == 5.0)
  }

  test("straggler chain folds into a backward-extended open session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionize(mem.toDS(), lateness = "2 hours")
      .writeStream.format("memory").queryName("straggler_fold")
      .outputMode("append").start()
    mem.addData(Event(1L, Timestamp.valueOf("2024-05-01 12:00:00"), "e", 1.0))
    q.processAllAvailable()
    // 11:29 is a straggler vs the 12:00 open session (> 30-min gap);
    // 11:31 then merges and extends the session backward to 11:31 —
    // bringing the straggler within the gap. The batch twin makes ONE
    // session 11:29-12:00, so nothing may emit as a split here.
    mem.addData(
      Event(1L, Timestamp.valueOf("2024-05-01 11:29:00"), "e", 2.0),
      Event(1L, Timestamp.valueOf("2024-05-01 11:31:00"), "e", 4.0))
    q.processAllAvailable()
    assert(spark.table("straggler_fold").isEmpty, "no spurious split session")
    // Close the merged session via the timeout and check its full span.
    mem.addData(Event(2L, Timestamp.valueOf("2024-05-01 18:00:00"), "e", 0.0))
    q.processAllAvailable()
    val rows = spark.table("straggler_fold").collect()
    q.stop()
    assert(rows.length == 1)
    val s = rows(0)
    assert(s.getAs[Timestamp]("session_start") == Timestamp.valueOf("2024-05-01 11:29:00"))
    assert(s.getAs[Timestamp]("session_end") == Timestamp.valueOf("2024-05-01 12:00:00"))
    assert(s.getAs[Long]("n_events") == 3)
    assert(s.getAs[Double]("total_value") == 7.0)
  }

  test("straggler folds even when the extended session closes mid-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionize(mem.toDS(), lateness = "2 hours")
      .writeStream.format("memory").queryName("straggler_midclose")
      .outputMode("append").start()
    mem.addData(Event(1L, Timestamp.valueOf("2024-05-01 12:00:00"), "e", 1.0))
    q.processAllAvailable()
    // 11:25 stragglers vs the 12:00 session; 11:31 extends it backward
    // (now within the gap of 11:25); 13:00 then CLOSES that session
    // mid-loop. The fold must happen against the closing session, not
    // the new 13:00 one — the batch twin makes one 11:25-12:00 session.
    mem.addData(
      Event(1L, Timestamp.valueOf("2024-05-01 11:25:00"), "e", 2.0),
      Event(1L, Timestamp.valueOf("2024-05-01 11:31:00"), "e", 4.0),
      Event(1L, Timestamp.valueOf("2024-05-01 13:00:00"), "e", 8.0))
    q.processAllAvailable()
    val rows = spark.table("straggler_midclose").collect()
    q.stop()
    assert(rows.length == 1)
    val s = rows(0)
    assert(s.getAs[Timestamp]("session_start") == Timestamp.valueOf("2024-05-01 11:25:00"))
    assert(s.getAs[Timestamp]("session_end") == Timestamp.valueOf("2024-05-01 12:00:00"))
    assert(s.getAs[Long]("n_events") == 3)
    assert(s.getAs[Double]("total_value") == 7.0)
  }

  test("streaming exact dedup: dropDuplicates within watermark emits each key once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "doc_key")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_key")
    val q = df.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-05-01 10:00:00"), "a"),
      (Timestamp.valueOf("2024-05-01 10:01:00"), "a"),
      (Timestamp.valueOf("2024-05-01 10:02:00"), "b"))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-05-01 10:03:00"), "a"))
    q.processAllAvailable()
    val keys = spark.table("stream_dedup").collect().map(_.getString(1)).sorted
    q.stop()
    assert(keys.toSeq == Seq("a", "b"))
  }

  test("streaming admission: exact copy and near-dup rejected, novel doc admitted") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val stream = mem.toDF().toDF("ts", "doc_id", "text")
    val out = Streaming.admissionStream(stream, corpus)
    val q = out.writeStream.format("memory").queryName("admission")
      .outputMode("append").start()
    mem.addData(
      // exact copy of corpus doc 100
      (Timestamp.valueOf("2024-05-01 10:00:00"), 1L,
        "the quick brown fox jumps over the lazy dog today"),
      // near-dup of corpus doc 101 (superset: one appended token, so
      // every corpus shingle is present — the high-overlap case LSH
      // must catch)
      (Timestamp.valueOf("2024-05-01 10:01:00"), 2L,
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      // novel doc
      (Timestamp.valueOf("2024-05-01 10:02:00"), 3L,
        "completely unrelated sentence about spark structured streaming state"))
    q.processAllAvailable()
    // Advance the watermark far past the window so append mode emits.
    mem.addData((Timestamp.valueOf("2024-05-01 12:00:00"), 99L, "late straggler"))
    q.processAllAvailable()
    val rows = spark.table("admission").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup"),
          r.getAs[Boolean]("is_dup"))).toMap
    q.stop()
    assert(rows(1L)._1, "exact copy must flag exact_dup")
    assert(rows(1L)._3)
    assert(rows(2L)._2, "near-dup must flag near_dup")
    assert(!rows(2L)._1)
    assert(rows(2L)._3)
    assert(rows(3L) == (false, false, false), "novel doc must be admitted")
    // Same verdicts as the batch formulation on the same data: an
    // exact-text join plus the band/agreement check.
    assert(rows.contains(1L) && rows.contains(2L) && rows.contains(3L))
  }

  test("admission stream soak: state plateaus under the watermark across micro-batches") {
    // The last untested scale property of the streaming surface: drive
    // the corpus-admission stream through 8 micro-batches of advancing
    // event time and prove the stateful aggregate's live row count is
    // bounded by the watermark (O(active windows)), not cumulative in
    // the stream (O(batches)).
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = Streaming.admissionStream(mem.toDF().toDF("ts", "doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("admission_soak")
      .outputMode("append").start()
    val base = Timestamp.valueOf("2024-05-01 08:00:00").getTime
    val perBatch = 2
    val nBatches = 8
    (0 until nBatches).foreach { b =>
      val t = base + b * 10 * 60 * 1000L // one 10-min window per batch
      mem.addData((0 until perBatch).map { i =>
        val id = (b * perBatch + i).toLong
        (new Timestamp(t + i * 1000L), id, s"novel document $b $i about distinct topic $id")
      }: _*)
      q.processAllAvailable()
    }
    val stateRows = q.recentProgress.toSeq
      .flatMap(_.stateOperators.map(_.numRowsTotal)).filter(_ > 0)
    val emitted = spark.table("admission_soak").count()
    q.stop()
    assert(stateRows.size >= 5, s"expected >=5 stateful micro-batches, saw $stateRows")
    // 16 distinct (window, doc) keys entered the aggregate over the
    // run; with a 10-min watermark only ~3 windows are ever live
    // (current + watermark lag), so the plateau is <= 8 rows. A
    // state leak shows up here as max -> 16.
    assert(stateRows.max <= 8,
      s"state must stay bounded by the watermark, saw $stateRows")
    // Eviction actually happened: closed windows emitted before stop.
    assert(emitted > 0)
  }

  test("text quality scoring runs unchanged on a stream (map-only, stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val scored = graft.operators.TextAnalysis.qualityScoreOf(
      mem.toDF().toDF("doc_id", "text"))
    val q = scored.writeStream.format("memory").queryName("stream_quality")
      .outputMode("append").start()
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "!!! ??? ###"),
      (3L, ""))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("stream_quality").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    q.stop()
    val batch = graft.operators.TextAnalysis.qualityScoreOf(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(streamed == batch)
    assert(streamed(1L) > streamed(2L), "clean text must outscore punctuation soup")
  }

  test("streaming sessionize agrees with the batch gap-sessionization") {
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(3)
    val base = Timestamp.valueOf("2024-05-01 00:00:00").getTime
    // 3 users x 40 events with gaps straddling the 30-min session cut.
    val events = (1 to 120).map { i =>
      val user = (i % 3 + 1).toLong
      val t = base + (i / 3) * 5 * 60 * 1000L + // 5-min steps
        (if (rnd.nextInt(10) == 0) 3 * 60 * 60 * 1000L else 0L) + user * 1000L
      Event(user, new Timestamp(t), "e", 1.0)
    }.sortBy(_.ts.getTime)

    // Batch: lag/cumsum gap sessionization (Relational.sessionize shape).
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapMs = Streaming.SessionGapMs
    val batch = events.toDF()
      .withColumn("prev", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - col("prev") > gapMs * 1000, 1).otherwise(0))
      .withColumn("sess", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect().map(_.toSeq).toSet

    // Stream: same events + a far-future sentinel (user 99) to advance
    // the watermark past every real session's timeout.
    val mem = MemoryStream[Event]
    val q = Streaming.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    mem.addData(Event(99L, new Timestamp(base + 365L * 24 * 3600 * 1000), "e", 0.0))
    q.processAllAvailable()
    val streamed = spark.table("sess_parity")
      .filter(col("user_id") =!= 99L)
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("file-source events stream reproduces the batch windowed aggregation") {
    val sf = "/root/testdata/sf0.001"
    val ckpt = tmpDir("evckpt")
    // File source needs a directory: stage the single events file.
    val evDir = tmpDir("events_dir")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(evDir, "part-0.parquet"))
    val agg = Streaming.windowedCounts(Streaming.eventsStream(spark, evDir))
    val q = agg.writeStream.format("memory").queryName("ev_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination(120000)
    // Append mode only emits windows the watermark has passed; every
    // emitted row must match the batch computation exactly.
    val batch = Streaming.windowedCounts(
      graft.Tables.events(spark, sf)).collect()
      .map(_.toSeq).toSet
    val streamed = spark.table("ev_stream").collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"streamed rows not in batch: ${streamed.diff(batch).take(3)}")
  }
}
