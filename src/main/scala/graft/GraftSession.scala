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

  /** Graft-namespaced selector for `spark.io.compression.codec` —
    * shuffle blocks, spill files, and serialized cache blocks. A CORE
    * conf: Spark 4 refuses it at runtime (CANNOT_MODIFY_CONFIG), so
    * the decision has to live where the session is BUILT. Resolution
    * order: JVM sysprop `spark.graft.codec` → env `SPARK_GRAFT_CODEC`
    * → [[DefaultCodec]]. The r18 sf100 legs rode a raw
    * `-Dspark.io.compression.codec` sysprop through chain scripts
    * with a note key faking self-description; this key is the shipped
    * mechanism that replaces that plumbing.
    */
  val CodecKey = "spark.graft.codec"

  /** Graft-namespaced selector for `spark.shuffle.spill.compress`
    * (same build-time-only constraint as [[CodecKey]]; resolution:
    * sysprop `spark.graft.spill.compress` → env
    * `SPARK_GRAFT_SPILL_COMPRESS` → [[DefaultSpillCompress]]).
    *
    * PER-REGIME rule, both sides measured (SCALE.md r18 codec
    * probes): leave spill compression OFF while the aggregate sort
    * spill fits the executor's page cache — compressed spill buys no
    * wall there and the per-merge-pass decompression is pure tax
    * (q_text_lm_score 62.8 → 46.6 s, q_text_term_freq 60.9 → 42.9 s
    * at sf30 under zstd+raw-spill) — and turn it ON when local disk
    * is the binding budget (at sf100 raw spill would have doubled
    * resample's 69–79 GB spill footprint and re-ENOSPC'd jaccard).
    * On a 1000-executor cluster the same rule applies per node:
    * spill-to-page-cache regimes (large RAM, bounded per-task sort
    * sets) run raw; disk-bound shuffle-heavy stages compress.
    */
  val SpillCompressKey = "spark.graft.spill.compress"

  /** Codecs Spark 4 ships; validation names the key and this list. */
  val AllowedCodecs: Set[String] = Set("lz4", "zstd", "snappy", "lzf")

  /** Session default codec: lz4 (r20 revert of the r19 zstd flip, by
    * the flip's own pre-registered gate). The r19 flip shipped on two
    * full sweeps that both stamped `bandwidth_class: "degraded"`
    * (1,529.6 / 1,528.4 s vs lz4's clean 1,593.1); the round-20
    * clean-window confirm leg (`bench_sf30_codecAB_zstdcsp_clean_r20`,
    * frozen r19-end classes, code-identical to the lz4 control) came
    * back 1,634.4 s — total sum-of-mins ABOVE the lz4 control (+2.6%)
    * and the zero-shuffle text-kernel control class +6–27%, outside
    * the gate's ±5% band. The
    * text-kernel drift also shows leg-to-leg CPU noise exceeds the
    * codec effect on this host, so the honest reading is "wash within
    * noise" — and the gate's else-branch is revert. The MECHANISM
    * stays real and measured: zstd exchanges cut summed shuffle bytes
    * 29% (60.4 → 42.6 GB, r19 pair), which is why disk-bound rungs
    * (sf100, where lz4 shuffle ENOSPC'd the jaccard leg in r18) and
    * network-bound clusters should pin SPARK_GRAFT_CODEC=zstd, as the
    * sf100 leg does. At sf0.1, the driver's bench rung, the
    * codec is a wash (±1.2%) in either direction.
    */
  def DefaultCodec = "lz4"

  /** Spill compression default: ON. The r19 composite probe
    * (`bench_sf30_codecAB_zstd_r19.json`, raw spill) lost 4.2% overall
    * against lz4 despite winning every shuffle class: raw spill
    * doubles the dirty-page volume of the mega-spillers (resample
    * 17.3 → 31.6 GB, 32.8 → 109.6 s; plain mart 16.2 → 24.1 GB,
    * 143.8 → 213.3 s) and crosses the writeback knee (~12–15 GB per
    * query on this host) that the r18 component probes — 11.5/3.8 GB
    * spill — sat just under. The r18 per-regime prose survives with a
    * measured boundary: raw spill only pays while a query's WHOLE
    * spill set stays well inside page cache; past the knee the kernel
    * throttles the writer to device speed and compression is the
    * cheaper tax. Disk-bound rungs (sf100) additionally need
    * compressed spill to fit at all.
    */
  def DefaultSpillCompress = true

  private def resolve(sysprop: String, env: String): Option[String] =
    sys.props.get(sysprop).orElse(sys.env.get(env)).map(_.trim)
      .filter(_.nonEmpty)

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

  /** Effective io codec for sessions built through [[configure]];
    * throws with the conf key and allowed values on a typo (the
    * index-ladder knob validation pattern).
    */
  def sessionCodec: String = {
    val c = resolve(CodecKey, "SPARK_GRAFT_CODEC").getOrElse(DefaultCodec)
    val lc = c.toLowerCase(java.util.Locale.ROOT)
    require(AllowedCodecs.contains(lc),
      s"$CodecKey must be one of ${AllowedCodecs.toSeq.sorted.mkString(", ")}; got '$c'")
    lc
  }

  /** Effective spill-compression flag (see [[SpillCompressKey]] for
    * the per-regime guidance); validated true/false.
    */
  def sessionSpillCompress: Boolean =
    resolve(SpillCompressKey, "SPARK_GRAFT_SPILL_COMPRESS") match {
      case None => DefaultSpillCompress
      case Some(v) => v.toLowerCase(java.util.Locale.ROOT) match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"$SpillCompressKey must be true or false; got '$other'")
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

  /** Apply the graft session confs at build time. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config(NanosAsLong, "true")
      // Build-time-only core IO confs (see CodecKey/SpillCompressKey
      // scaladoc): the codec decision is owned here, not by chain
      // scripts, so every entry point (Bench, Verify, RunPipeline,
      // tests) resolves it identically and a leg's _meta can stamp
      // the effective values from the live conf.
      .config("spark.io.compression.codec", sessionCodec)
      .config("spark.shuffle.spill.compress", sessionSpillCompress.toString)
      // Case-mapping table built off the task path (CaseMappingInit).
      .config(DefaultPluginsKey, sessionPlugins)
      // Propagate the per-bucket sort order of the bucketed-silver
      // tables (VendasMart.bucketedSilver writes one sorted file per
      // bucket) into join planning — SPARK-28113 made the propagation
      // opt-in, and without it a bucketed SMJ is exchange-free but
      // re-sorts every bucket on every mart build, forfeiting half the
      // layout's win. Harmless for non-bucketed reads.
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
