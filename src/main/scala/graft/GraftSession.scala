package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** One-time session-setup home for the SQL confs every graft entry
  * point needs — previously `Tables.events` set `nanosAsLong` inside
  * the accessor on every call (a global side effect in a reader).
  *
  * Why the confs exist:
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the harness
  *    `events.parquet` stores `ts` as TIMESTAMP(NANOS) in one data
  *    generation, which the vectorized reader otherwise rejects
  *    ([PARQUET_TYPE_ILLEGAL]); with the flag the column reads as raw
  *    int64 nanos and [[Tables.normalizeTs]] divides down to micros.
  *  - `spark.sql.session.timeZone=UTC`: the other generation stores
  *    TIMESTAMP(MICROS) without UTC adjustment (read as
  *    TIMESTAMP_NTZ), and its cast to TimestampType is a pure
  *    reinterpretation only under UTC — [[Tables.normalizeTs]]
  *    asserts this rather than assuming it.
  */
object GraftSession {
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Set the runtime SQL confs listed in `SPARK_GRAFT_CONF="k1=v1;k2=v2"`
    * on a built session: how Bench, SpillProfile and StreamingBench
    * take any knob the operators read through `spark.conf`.
    */
  def applyEnvConf(spark: SparkSession): Unit =
    parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foreach { case (k, v) => spark.conf.set(k, v) }

  /** `k1=v1;k2=v2` → pairs; an entry without `=` or with an empty key
    * throws, naming the entry.
    */
  private[graft] def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
      }
    }

  /** Spark prepends this list to `spark.plugins`, so a user's own
    * plugins are kept alongside the library's.
    */
  private val DefaultPluginsKey = "spark.plugins.defaultList"

  /** The `spark.plugins.defaultList` a session is built with: whatever
    * `new SparkConf()` already sees there (spark-defaults.conf,
    * `--conf`), plus [[plans.CaseMappingInit]].
    */
  private def sessionPlugins: String =
    (new SparkConf().getOption(DefaultPluginsKey).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty) :+
      classOf[plans.CaseMappingInit].getName).distinct.mkString(",")

  /** Apply the graft session confs at build time. Spark's core IO
    * confs (`spark.io.compression.codec`, `spark.shuffle.spill.compress`)
    * are left alone, so `--conf`, `-D` and spark-defaults.conf reach
    * the session; builder options would override all three.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config(NanosAsLong, "true")
      // Case-mapping table built off the task path (CaseMappingInit).
      .config(DefaultPluginsKey, sessionPlugins)
      // Propagate the per-bucket sort order of the bucketed silver
      // tables (the ingest-written layout, IngestJob.load, and the
      // registry's VendasMart.bucketedSilver each write one sorted
      // file per bucket) into join planning — SPARK-28113 made the
      // propagation opt-in, and without it a bucketed SMJ is
      // exchange-free but re-sorts every bucket on every mart build,
      // forfeiting half the layout's win. Harmless for non-bucketed
      // reads.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // The AQE broadcast threshold stays at Spark's default. A raised
      // 48 MB bound shipped briefly to fix the sf10 mart pivot spill,
      // but the mart now pins its pivot and dimension joins with
      // explicit broadcast/SHUFFLE_HASH hints sized from counted
      // bounds (BuildSide), so the global raise had exactly one
      // remaining effect in the whole 83-query registry: it flipped a
      // ~40 MB measured stage inside q_dedup_jaccard's prefix-filter
      // join to a broadcast-hash join (shuffle 15,059→14,574 MB) that
      // is SLOWER — the single-process hash relation inflates to
      // ~200 MB and every probe thread contends on it, losing the
      // sort-merge join's streaming locality. Isolated same-window A/B
      // at sf10/local[32]: SMJ min 51.5 s / median 55.9 s vs BHJ
      // 58.1 s / 70.0 s (3 runs each, probe floors 70/75 ms, mem
      // probes quiet; tools/run_bench.sh with only the threshold
      // changed). Lesson recorded in SCALE.md: a measured
      // broadcast is safe against OOM but not automatically faster —
      // raise the bound only per-plan, with hints, from an A/B.
      // AQE's sort-merge → shuffled-hash conversion
      // (maxShuffledHashJoinLocalMapThreshold) stays at Spark's
      // default, off, for the same reason: it compares SERIALIZED
      // shuffle bytes with a bound that cannot fire below the 64 MB
      // advisory partition size, so it can never honour BuildSide's
      // 24 MiB of in-memory hash build. A converted join dies with
      // "Can't acquire … build hash relation" at 512 MiB of execution
      // memory where the sort-merge join finishes (LowMemorySpec).

  /** Idempotent guard for sessions built OUTSIDE the library's entry
    * points (the driver smoke-checks `SparkEntry.entry` with its own
    * session): reading `events.parquet` of the nanos generation fails
    * at schema time without the flag, so accessors that touch events
    * call this first. No-op when the conf is already set.
    */
  def ensureNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getOption(NanosAsLong).contains("true"))
      spark.conf.set(NanosAsLong, "true")
}
