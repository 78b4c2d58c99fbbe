package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.TableSpec
import graft.streaming.Streaming

/** Throughput + bounded-state measurement for the streaming surface —
  * the StreamingSpec suite pins semantics (stream-vs-batch parity);
  * this records RATES, which a parity spec cannot.
  *
  * Legs (all `AvailableNow`, i.e. process-everything-then-stop — the
  * backfill/catch-up regime, which is the honest throughput question
  * for a file-source stream):
  *   - `ingest_csv`: [[Streaming.ingestStream]] over a CSV bronze
  *     staged from the sf events table (declared schema,
  *     try_to_timestamp, parquet sink + checkpoint) — the streaming
  *     twin of the bronze→silver ingest.
  *   - `windowed_counts`: [[Streaming.eventsStream]] →
  *     [[Streaming.windowedCounts]] (watermarked tumbling windows) →
  *     noop sink.
  *   - `sessionize_fmgws` / `sessionize_tws`: the two stateful
  *     sessionizers over the same event stream.
  *   - `admission`: [[Streaming.admissionStream]] — a small incoming
  *     corpus (batch dir) admitted against the big corpus (sf dir),
  *     the asymmetry the scaladoc promises.
  *
  * Per leg, one JSON line: input rows, wall seconds, rows/s, and the
  * final micro-batch's state-store rows + memory (from
  * `lastProgress.stateOperators`) — bounded state is the claim, so the
  * number is recorded, not asserted.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 \
  *     sbt "runMain graft.tools.StreamingBench"
  */
object StreamingBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val batchDir = sys.env.getOrElse("SPARK_GRAFT_BATCH_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val work = sys.env.getOrElse("SPARK_GRAFT_STREAM_WORK", "/tmp/graft_streaming_bench")
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.streaming.schemaInference", "false")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Leg selection + runtime-conf pass-through (same contracts as
    // graft.Bench): `SPARK_GRAFT_STREAM_ONLY=sessionize_tws,...` runs a
    // subset, `SPARK_GRAFT_CONF="k=v;k2=v2"` pins A/B knobs (e.g. the
    // RocksDB provider's changelog checkpointing / row-tracking confs)
    // and is stamped into every leg line so the sidecar self-describes.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def enabled(name: String): Boolean = only.forall(_.contains(name))
    val confStr = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
    graft.GraftSession.applyEnvConf(spark)
    val confNote =
      if (confStr.isEmpty) ""
      else s""""conf":"${confStr.replace("\\", "\\\\").replace("\"", "\\\"")}","""

    def rm(p: String): Unit = {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(); ()
      }
      del(new java.io.File(p))
    }
    rm(work)
    Files.createDirectories(Paths.get(work))

    def r1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

    def leg(name: String, rowsIn: Long)(start: => StreamingQuery): Unit = {
      if (!enabled(name)) return
      val t0 = System.nanoTime()
      val q = start
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val state = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      val stateRows = state.map(_.numRowsTotal).sum
      val stateMb = state.map(_.memoryUsedBytes).sum / 1e6
      println(s"""{"leg":"$name","rows_in":$rowsIn,"secs":${r1(secs)},""" +
        s""""rows_per_s":${r1(rowsIn / secs)},"state_rows":$stateRows,""" +
        s""""state_mb":${r1(stateMb)},$confNote"sf":"$sfDir"}""")
    }

    // --- ingest_csv: stage the events table as a bronze CSV once
    // (setup, not timed into the rate), then stream-ingest it through
    // the production ingest path. 32 CSV files so the file source has
    // real parallelism, exactly like a bronze prefix of daily drops.
    val events = graft.Tables.events(spark, sfDir)
    val nEvents = events.count()
    val csvSpec = TableSpec("events", "events_csv",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))),
      tsCols = Seq("ts"))
    if (enabled("ingest_csv")) events
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .repartition(32)
      .write.mode("overwrite").option("header", true)
      .csv(s"$work/bronze/events_csv")
    leg("ingest_csv", nEvents) {
      Streaming.ingestStream(spark, csvSpec, s"$work/bronze",
        s"$work/silver", s"$work/ckpt_ingest")
    }

    // --- watermarked tumbling-window aggregation over the event stream.
    // The file stream source wants a DIRECTORY (a bronze prefix); the
    // testdata events table is a single parquet file, so stage a
    // symlink dir — zero copy, same bytes.
    val evDir = {
      val src = Paths.get(s"$sfDir/events.parquet")
      if (Files.isDirectory(src)) src.toString
      else {
        val d = Paths.get(s"$work/events_src")
        Files.createDirectories(d)
        Files.createSymbolicLink(d.resolve("events.parquet"), src)
        d.toString
      }
    }
    def evStream: DataFrame = Streaming.eventsStream(spark, evDir)
    leg("windowed_counts", nEvents) {
      Streaming.windowedCounts(evStream)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt_win")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }

    // --- the two stateful sessionizers (custom state: fMGWS and
    // transformWithState), same input stream.
    def sessionEvents =
      evStream.select("user_id", "ts", "event_type", "value").as[Streaming.Event]
    leg("sessionize_fmgws", nEvents) {
      Streaming.sessionize(sessionEvents)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt_sess")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    // transformWithState needs the RocksDB provider (multiple column
    // families); scope it to this leg so the others measure the
    // default HDFS-backed store.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try leg("sessionize_tws", nEvents) {
      Streaming.sessionizeTws(sessionEvents)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt_tws")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    } finally spark.conf.unset(providerKey)

    // --- corpus admission: the batch-dir documents arrive as a stream
    // (deterministic synthetic event times inside one gate window) and
    // are checked against the sf-dir corpus index — the production
    // asymmetry: the big side is the static persisted index, only the
    // incoming batch is hashed fresh.
    val admissionOn = enabled("admission") || enabled("admission_steady")
    val incoming = graft.Tables.documents(spark, batchDir)
    val nDocs = if (admissionOn) incoming.count() else 0L
    if (admissionOn) incoming
      .select(
        (to_timestamp(lit("2024-05-01 08:00:00")) +
          expr("make_interval(0, 0, 0, 0, 0, 0, doc_id % 300)")).as("ts"),
        col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$work/incoming_docs")
    val corpus = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    def docsStream = spark.readStream
      .schema(spark.read.parquet(s"$work/incoming_docs").schema)
      .parquet(s"$work/incoming_docs")
    leg("admission", nDocs) {
      Streaming.admissionStream(docsStream, corpus)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt_adm")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }

    // --- admission, STEADY-STATE regime: the same verdict stream
    // against the PREWARMED persisted index (Streaming.admissionIndex
    // materialized before the clock starts) — the production shape,
    // where the batch dedup pipeline maintains the fingerprint/band
    // tables and a day's admissions amortize the build to zero. The
    // cold leg above deliberately pays the inline index build (the
    // first-ever batch's honest cost); this leg records what every
    // later batch pays. Same incoming docs, fresh checkpoint.
    if (enabled("admission_steady")) {
      val (rawFp, rawIdx) = Streaming.admissionIndex(corpus)
      val warmFp = rawFp.persist()
      val warmIdx = rawIdx.persist()
      val tIdx0 = System.nanoTime()
      val idxRows = warmFp.count() + warmIdx.count()
      println(s"""{"leg":"admission_index_build","rows":$idxRows,""" +
        s""""secs":${r1((System.nanoTime() - tIdx0) / 1e9)},"sf":"$sfDir"}""")
      leg("admission_steady", nDocs) {
        Streaming.admissionStreamIndexed(docsStream, warmFp, warmIdx)
          .writeStream.format("noop")
          .option("checkpointLocation", s"$work/ckpt_adm_steady")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      }
    }

    spark.stop()
  }
}
