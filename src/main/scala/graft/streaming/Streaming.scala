package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.sources.{IngestJob, TableSpec}

/** Structured Streaming surface. The reference is batch-only — every
  * DAG runs `schedule_interval="@once"` (`…customer…py:19`,
  * `s2g/vendas.py:20`) — so streaming here is the faithful
  * *generalization* (SURVEY.md §2.7): the same declared-schema CSV
  * ingest as a file-source stream with `Trigger.AvailableNow`, which
  * on a one-shot run is exactly the `@once` batch, and on a cron
  * re-run incrementally picks up only new bronze objects (checkpointed
  * file tracking replaces the reference's re-read-everything).
  *
  * Scale notes: the file source lists incrementally
  * (`maxFilesPerTrigger` bounds a micro-batch), state stores are
  * per-key HDFS-backed, and both aggregation paths below keep state
  * bounded by watermark — the two things that matter for a stream over
  * a 100 TB-a-month bronze bucket.
  */
object Streaming {

  /** Declared-schema CSV file-source stream over a bronze prefix —
    * streaming twin of `IngestJob.extract` (+ effective timestamp
    * transform), parquet sink, AvailableNow trigger.
    *
    * A stream reads every file by one schema, fixed at start, so it
    * takes the one header the prefix's files share then (named as
    * `IngestJob.extract` names it), or the declared names before any
    * file lands. It reads those columns as strings and aligns them by
    * name to the declared schema, casting as the batch extract casts.
    * Files with more than one header at start fail the start, naming
    * a file of each: the batch extract reads such a prefix per header,
    * a stream cannot. `enforceSchema=false` checks each later file's
    * header against the stream's, so a file with another header fails
    * its micro-batch instead of landing its columns by position. Every
    * file's header is read on the driver at each start, as the batch
    * extract reads them.
    */
  def ingestStream(spark: SparkSession, spec: TableSpec, bronzeRoot: String,
      silverRoot: String, checkpointRoot: String): StreamingQuery = {
    val prefix = s"$bronzeRoot/${spec.prefix}"
    val dir = new Path(prefix)
    val byHeader =
      if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)) Nil
      else IngestJob.headers(spark, prefix).groupMap(_._2)(_._1).removed(Nil).toSeq
    val names = byHeader match {
      case Seq() => spec.schema.fieldNames.toSeq
      case Seq((header, _)) => header
      case groups => throw new IllegalArgumentException(
        s"A CSV stream over $prefix reads one header, but its files have ${groups.size}: " +
          groups.map { case (h, files) => s"${files.head} has ${h.mkString(",")}" }
            .sorted.mkString("; "))
    }
    val raw = IngestJob(spec).align(spark.readStream
      .options(IngestJob.csvOptions)
      .option("enforceSchema", false)
      .schema(IngestJob.stringSchema(names))
      .csv(prefix))
    val cast = spec.tsCols.foldLeft(raw: DataFrame)(
      (d, c) => d.withColumn(c, try_to_timestamp(col(c))))
    cast.writeStream
      .format("parquet")
      .option("path", s"$silverRoot/${spec.prefix}")
      .option("checkpointLocation", s"$checkpointRoot/${spec.name}")
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append)
      .start()
  }

  /** File-source stream over the harness `events.parquet` — the
    * streaming twin of `Tables.events`, including the same `ts`
    * physical-type normalization (int64 nanos or TIMESTAMP_NTZ micros
    * → session-TZ TimestampType; see `Tables.normalizeTs`).
    * `AvailableNow` processes the existing file(s) and terminates;
    * on a re-run with the same checkpoint only new files replay.
    */
  def eventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    // The stream's schema is inferred ONCE from the files present at
    // definition time, so a stream directory must be
    // generation-homogeneous: all files int64-nanos `ts` or all
    // TIMESTAMP_NTZ micros. A checkpointed re-run over files of the
    // OTHER physical encoding would fail at micro-batch read time
    // against the fixed schema — mixed-generation corpora need one
    // stream per generation (normalizeTs makes their outputs union-
    // compatible).
    graft.GraftSession.ensureNanosAsLong(spark)
    val schema = spark.read.parquet(eventsDir).schema
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(schema)
        .parquet(eventsDir))
  }

  /** Watermarked tumbling-window aggregation over an event stream
    * (ts, event_type, value) — the streaming twin of the batch
    * `q_time_window_agg`. Late rows beyond 10 minutes are dropped and
    * their window state evicted, so state size is O(active windows),
    * not O(stream).
    */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming corpus admission — the streaming twin of the batch
    * incremental dedup (`Dedup.incremental`): a stream of incoming
    * documents `(ts, doc_id, text)` is checked against the PERSISTED
    * corpus index (static side) and each doc gets an admission verdict
    * once its arrival window closes.
    *
    *   - exact: stream fingerprint vs the corpus fingerprint set —
    *     a broadcast stream-static join on an 8-byte key;
    *   - near: the stream doc's 4 MinHash band keys vs the corpus band
    *     index — a stream-static EQUI-join on (band, bucket) with the
    *     ≥ 8/16 slot-agreement check as the join residual, exactly the
    *     batch pipeline's candidate semantics;
    *   - the per-doc verdict folds the banded hits with a watermarked
    *     windowed aggregation (append mode), so state is bounded by
    *     the watermark and each doc emits exactly once.
    *
    * At 100 TB the static side is the persisted signature/band index
    * the batch pipeline maintains; only the (small) incoming stream is
    * hashed fresh — the same asymmetry as the batch incremental op.
    */
  def admissionStream(docs: DataFrame, corpus: DataFrame,
      gate: String = "10 minutes"): DataFrame = {
    val (corpusFp, corpusIdx) = admissionIndex(corpus)
    admissionStreamIndexed(docs, corpusFp, corpusIdx, gate)
  }

  /** The admission stream's STATIC side, factored out so a caller can
    * persist/materialize it once and admit many batches against it —
    * the production regime, where the batch dedup pipeline maintains
    * these as tables and admission only reads them. [[admissionStream]]
    * builds them inline (each micro-batch then re-plans the static
    * subtree), which is the honest COLD cost of the first-ever batch;
    * the steady-state cost is the indexed form below over a prewarmed
    * pair (StreamingBench records both legs).
    *
    * @return (fingerprint set `c_fp`, banded signature index
    *         `(cband, cbucket, csig)`)
    */
  def admissionIndex(corpus: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.{Column => Col}
    import org.apache.spark.sql.graft.ColumnShim
    import graft.operators.Dedup._
    import graft.functions.TextFns._

    def sigCol: Col = ColumnShim.column(graft.expressions.MinHashSignature(
      ColumnShim.expression(col("text")), 3, MinHashPrime,
      (0 until NumHashes).map(hashA), (0 until NumHashes).map(hashB)))

    val corpusFp = corpus.select(hash60(col("text")).as("c_fp")).distinct()
    val corpusIdx = corpus.select(sigCol.as("csig"))
      .filter(element_at(col("csig"), 1) =!= Long.MaxValue)
      .select(posexplode(admissionBandKeys(col("csig"))).as(Seq("cband", "cbucket")),
        col("csig"))
    (corpusFp, corpusIdx)
  }

  private def admissionBandKeys(sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.operators.Dedup._
    array((0 until NumBands).map { b =>
      md5(concat_ws(",",
        (0 until BandRows).map(r => element_at(sig, b * BandRows + r + 1)): _*))
    }: _*)
  }

  /** Admission against a PREBUILT static index (see [[admissionIndex]]).
    * Semantics identical to [[admissionStream]] — that overload is
    * literally this one over freshly-derived index frames.
    */
  def admissionStreamIndexed(docs: DataFrame, corpusFp: DataFrame,
      corpusIdx: DataFrame, gate: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{Column => Col}
    import org.apache.spark.sql.graft.ColumnShim
    import graft.operators.Dedup._
    import graft.functions.TextFns._

    def sigCol: Col = ColumnShim.column(graft.expressions.MinHashSignature(
      ColumnShim.expression(col("text")), 3, MinHashPrime,
      (0 until NumHashes).map(hashA), (0 until NumHashes).map(hashB)))
    def bandKeys(sig: Col): Col = admissionBandKeys(sig)

    val agree = (0 until NumHashes).map(i =>
      when(element_at(col("ssig"), i + 1) === element_at(col("csig"), i + 1), 1)
        .otherwise(0)).reduce(_ + _)

    val flagged = docs
      .withColumn("fp", hash60(col("text")))
      .withColumn("ssig", sigCol)
      .join(broadcast(corpusFp), col("fp") === col("c_fp"), "left")
      .withColumn("exact_hit", when(col("c_fp").isNotNull, 1).otherwise(0))
      .select(col("ts"), col("doc_id"), col("exact_hit"), col("ssig"),
        posexplode(bandKeys(col("ssig"))).as(Seq("band", "bucket")))
      .join(broadcast(corpusIdx),
        col("band") === col("cband") && col("bucket") === col("cbucket") &&
          agree >= NumHashes / 2,
        "left")
      .withColumn("near_hit", when(col("csig").isNotNull, 1).otherwise(0))

    flagged
      .withWatermark("ts", gate)
      .groupBy(window(col("ts"), gate), col("doc_id"))
      .agg(max("exact_hit").as("e"), max("near_hit").as("n"))
      .select(col("window.start").as("batch_window"), col("doc_id"),
        (col("e") === 1).as("exact_dup"), (col("n") === 1).as("near_dup"),
        (col("e") === 1 || col("n") === 1).as("is_dup"))
  }

  // --- stateful sessionization -----------------------------------------

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Custom session windows via flatMapGroupsWithState — the
    * "mapGroupsWithState for custom state" pattern. A session closes
    * when the event-time watermark passes last-event + gap (timeout),
    * at which point the aggregate row is emitted and state freed.
    * Batch twin: `Relational.sessionize` (lag/cumsum session ids).
    *
    * `lateness` is the watermark delay (allowed event lateness). Note
    * the straggler path below is reachable only when lateness exceeds
    * [[SessionGapMs]] — with a shorter delay the operator's watermark
    * filter drops anything old enough to predate the open session by
    * more than the gap.
    */
  def sessionize(events: Dataset[Event], lateness: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(
              userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
          } else {
            val (closed, cur) = mergeBatch(userId, rows, state.getOption)
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + SessionGapMs)
            }
            closed.iterator
          }
      }
  }

  /** One micro-batch of gap-sessionization for a single user: merge
    * the batch's events into the open session (if any), emitting every
    * session the batch closes; returns the still-open session to
    * store. Shared verbatim by the flatMapGroupsWithState path and the
    * transformWithState path so the two APIs can never drift.
    *
    * Straggler handling: late events (within watermark) older than the
    * open session by more than the gap form their own earlier
    * session(s). Consecutive in-batch stragglers within the gap MERGE
    * — the batch twin would — and if the open session extends backward
    * far enough during the batch to come within the gap of the final
    * chain, the chain folds into it (see below). Straggler sessions
    * otherwise close with the batch: stragglers
    * split across DIFFERENT micro-batches still emit separately, since
    * merging those would need an unbounded event buffer; pinned
    * divergence from the batch twin.
    */
  private def mergeBatch(userId: Long, rows: Iterator[Event],
      open: Option[SessionState]): (Seq[Session], Option[SessionState]) = {
    val sorted = rows.toSeq.sortBy(_.ts.getTime)
    var cur = open
    var straggler: Option[SessionState] = None
    val closed = Seq.newBuilder[Session]
    // A session can extend BACKWARD during the batch (late events just
    // inside start - gap merge with start = min), bringing the open
    // straggler chain within the gap of the moved start — fold the
    // chain in rather than emitting a spurious split (the batch twin
    // would merge them). The fold must run whenever a session LEAVES
    // `cur` (mid-batch close as well as batch end): a later event can
    // close the backward-extended session before the loop finishes.
    // Earlier, already-closed chains cannot be affected: each closed
    // when its successor was > gap away, and the session never moves
    // below that successor's start.
    def foldStraggler(s: SessionState): SessionState = straggler match {
      case Some(st) if s.start - st.last <= SessionGapMs =>
        straggler = None
        s.copy(start = math.min(st.start, s.start),
          last = math.max(st.last, s.last), n = s.n + st.n,
          total = s.total + st.total)
      case _ => s
    }
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t < s.start - SessionGapMs =>
          straggler match {
            case Some(st) if t - st.last <= SessionGapMs =>
              straggler = Some(st.copy(
                last = math.max(st.last, t), n = st.n + 1,
                total = st.total + e.value))
            case Some(st) =>
              closed += Session(userId,
                new Timestamp(st.start), new Timestamp(st.last), st.n, st.total)
              straggler = Some(SessionState(t, t, 1, e.value))
            case None =>
              straggler = Some(SessionState(t, t, 1, e.value))
          }
        // Merging a late event can extend the session BACKWARD
        // (t < start) as well as forward — keep start = min so
        // session_start stays correct under reordering.
        case Some(s) if t - s.last <= SessionGapMs =>
          cur = Some(s.copy(start = math.min(s.start, t),
            last = math.max(s.last, t), n = s.n + 1,
            total = s.total + e.value))
        case Some(s) =>
          val merged = foldStraggler(s)
          closed += Session(
            userId, new Timestamp(merged.start), new Timestamp(merged.last),
            merged.n, merged.total)
          cur = Some(SessionState(t, t, 1, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    cur = cur.map(foldStraggler)
    straggler.foreach { st =>
      closed += Session(
        userId, new Timestamp(st.start), new Timestamp(st.last), st.n, st.total)
    }
    (closed.result(), cur)
  }

  /** Gap-sessionization on the Spark 4 arbitrary-state API
    * (`transformWithState`) — the modern successor to
    * flatMapGroupsWithState: explicit named [[ValueState]] plus
    * event-time TIMERS instead of a single implicit state slot with
    * one timeout. Semantics are identical to [[sessionize]] (the merge
    * body is shared), and the timer protocol generalizes: each batch
    * that moves the session's end SWAPS the timer to `last + gap`
    * (the superseded timer is deleted, keeping one live timer per
    * session); the staleness check in `handleExpiredTimer` remains as
    * defense-in-depth for replayed batches. Requires the RocksDB
    * state store provider —
    * transformWithState rejects the default HDFS-backed store — which
    * is also the right store at scale (changelog checkpointing, state
    * larger than executor heap).
    */
  class SessionProcessor extends StatefulProcessor[Long, Event, Session] {
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Session] = {
      val open = if (state.exists()) Some(state.get()) else None
      val (closed, cur) = mergeBatch(userId, rows, open)
      cur.foreach { s =>
        state.update(s)
        // Keep exactly ONE live timer per session: when the session's
        // end moved this batch, drop the superseded timer before
        // registering the new one — otherwise every extension leaks a
        // stale timer into the state store for the session's lifetime
        // (each a later no-op fire, but linear storage/work growth).
        if (!open.exists(_.last == s.last)) {
          open.foreach(o => getHandle.deleteTimer(o.last + SessionGapMs))
          getHandle.registerTimer(s.last + SessionGapMs)
        }
      }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (!state.exists()) Iterator.empty
      else {
        val s = state.get()
        // A stale timer: the session was extended after this timer was
        // registered — the re-registered timer at last + gap will
        // close it.
        if (expiredTimerInfo.getExpiryTimeInMs < s.last + SessionGapMs) Iterator.empty
        else {
          state.clear()
          Iterator.single(Session(
            userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
        }
      }
    }
  }

  /** [[sessionize]] re-expressed on transformWithState — see
    * [[SessionProcessor]].
    */
  def sessionizeTws(events: Dataset[Event], lateness: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(), OutputMode.Append())
  }
}
