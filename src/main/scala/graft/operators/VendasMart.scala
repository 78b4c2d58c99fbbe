package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.PersistedLayout

/** Flagship denormalized sales mart — the reference's silver→gold
  * "vendas" job re-expressed Spark-first over the harness star schema.
  *
  * Reference lineage (`/root/reference/scripts/silver_to_gold/
  * ingestion_vendas_silver_to_gold.py`):
  *   - scan 5 silver tables + project (`:44-104`)          → pruned parquet scans
  *   - pivot-sum payments by payment_type (`:91-92`)       → events pivot by event_type
  *   - 4-way left join onto the item grain (`:107-111`)    → lineitem ⟕ orders ⟕ part ⟕ customer ⟕ pivot
  *   - fillna(0) on money columns (`:114-120`)             → na.fill(0.0, ...)
  *   - to-date cast (`:123`), upper (`:126-127`),
  *     replace "_"↔" " (`:130`)                            → to_date / upper / translate
  *   - Portuguese rename map (`:133-149`)                  → aliased select
  *
  * Scale notes (100 TB design):
  *   - The pivot is one partial-aggregating hash aggregate on the
  *     grouping key (map-side combine), shuffled once on `user_id`
  *     ([[pivotSum]]); the explicit value list pins the output schema,
  *     and no job runs to discover the pivot columns.
  *   - All joins are declarative equi-joins; the dims and the pivot
  *     carry a [[BuildSide]] hint from their counted size, the fact
  *     join is left to Catalyst/AQE.
  *   - Only referenced columns are selected, so the parquet scans read
  *     5/11, 3/6, 2/6 and 3/5 columns respectively (visible as ReadSchema
  *     in `.explain("formatted")`).
  */
object VendasMart {

  /** The event types [[pivotEvents]] makes columns of. The explicit
    * list keeps the schema stable even when a type is absent at a given
    * scale factor — same reason the reference's fillna lists all five
    * payment types (`s2g/vendas.py:116-120`).
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Event amounts summed per user into one column per event type
    * ([[pivotSum]] over [[EventTypes]]). Mirror of the payments
    * pivot-sum (reference `s2g/vendas.py:91-92`).
    */
  def pivotEvents(events: DataFrame): DataFrame =
    pivotSum(events, "user_id", "event_type", "value", EventTypes)

  /** `df.groupBy(key).pivot(typeCol, values).sum(valueCol)`, planned as
    * one aggregate of one `sum(CASE WHEN typeCol = v THEN valueCol END)`
    * per listed value, the form [[pivotCase]] states to the oracle. A
    * row whose type is null or unlisted adds to no column, and a group
    * with no value of a type reads null there, as in Spark's pivot.
    * Spark's pivot plans a second aggregate on (key, type) under its
    * `pivotfirst`, so two shuffles, four hash aggregates and a
    * `pivotfirst` that whole-stage codegen does not compile; this is one
    * shuffle on `key` between two codegen'd hash aggregates.
    */
  def pivotSum(df: DataFrame, key: String, typeCol: String, valueCol: String,
      values: Seq[String]): DataFrame = {
    val sums = values.map(v => sum(when(col(typeCol) === v, col(valueCol))).as(v))
    df.groupBy(key).agg(sums.head, sums.tail: _*)
  }

  def eventsPivot(spark: SparkSession, sfDir: String): DataFrame =
    pivotEvents(Tables.events(spark, sfDir))

  def mart(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    martFrom(spark, sfDir, li, ord)
  }

  /** The mart over the bucketed silver layout of the two fact tables
    * (see [[ensureBucketedSilver]]): identical dataflow, fact sides
    * read from the bucketed catalog tables so the
    * l_orderkey=o_orderkey SMJ plans exchange-free.
    */
  def martBucketed(spark: SparkSession, sfDir: String,
      liTable: String, ordTable: String): DataFrame =
    martFrom(spark, sfDir, spark.table(liTable), spark.table(ordTable))

  /** Bucket count of a silver layout written through `spark`: the one
    * width rule the ingest's keyed silver tables, `RunPipeline gold`
    * and `mart`, and this registry's layout all follow, so that a layout
    * one JVM writes is the width the next JVM asks for.
    *   - The shuffle width the user set: the width [[BuildSide]] sizes
    *     joins at. A bucketed join runs one task per bucket, so fewer
    *     buckets than the width idle the difference in every downstream
    *     mart build (measured at sf10: half as many buckets as cores
    *     gave the bucketed mart no wall-clock win despite the elided
    *     exchange), and more buckets than the width only add small
    *     files and task waves.
    *   - Unset on a `local[...]` master, the session's cores
    *     (`defaultParallelism`), not Spark's cluster-sized 200.
    *   - Unset on a cluster master, the session's shuffle width:
    *     executors may still be registering at startup, so
    *     `defaultParallelism` does not yet give the cluster's width.
    * A deployment sizes the layout by setting the shuffle width of the
    * sessions that write and read it.
    */
  def silverBuckets(spark: SparkSession): Int =
    if (!spark.sessionState.conf.contains(
        org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS.key) &&
      spark.sparkContext.isLocal) spark.sparkContext.defaultParallelism
    else spark.sessionState.conf.numShufflePartitions

  /** [[silverBuckets]] of the active session. */
  def SilverBuckets: Int = silverBuckets(SparkSession.active)

  /** The layouts [[ensureBucketedSilver]] built or re-registered:
    * per (session, corpus), the width and the two table names.
    */
  private val silverCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (Int, String, String)]
  /** Test hook: forget memoized layouts so a spec can exercise the
    * re-register / rebuild paths within one JVM.
    */
  private[graft] def resetSilverCache(): Unit = silverCache.clear()

  /** One-time per-(session, corpus) bucketed-silver build backing
    * `q_vendas_mart_bucketed`, at the session's width
    * ([[silverBuckets]]) — the [[graft.operators.Dedup]] index-memo
    * contract applied to the layout: repeated invocations return the
    * same catalog table names without re-writing.
    *
    * Past the broadcast thresholds the mart's lineitem⟕orders join is
    * a sort-merge join whose both sides exchange on the order key
    * (measured 1,115 MB of shuffle at sf3 — SCALE.md). Writing the two
    * fact tables bucketed and sorted on that key
    * ([[PersistedLayout.write]], one file per bucket) pays that
    * shuffle once; every mart build then sort-merge-joins bucket to
    * bucket with no exchange and no sort. Sort elision additionally
    * requires `spark.sql.legacy.bucketedTableScan.outputOrdering=true`
    * (SPARK-28113; GraftSession.configure sets it). BucketingSpec pins
    * both: no exchange, and no sort with the flag set.
    *
    * The tables are external, at their warehouse directories
    * ([[PersistedLayout.warehousePath]]). Table names carry a corpus
    * tag so two scale dirs never collide in one warehouse; a
    * concurrent double-build is benign (`overwrite`, idempotent). A
    * memo entry at another width is a miss. Stopped-session keys are
    * swept like the Dedup caches.
    */
  def ensureBucketedSilver(spark: SparkSession, sfDir: String): (String, String) = {
    silverCache.keySet.foreach { k =>
      if (k._1.sparkContext.isStopped) silverCache.remove(k)
    }
    val nBuckets = silverBuckets(spark)
    val key = (spark, sfDir)
    if (silverCache.get(key).exists(_._1 != nBuckets)) silverCache.remove(key)
    val (_, li, ord) = silverCache.getOrElseUpdate(key, {
      val tag = sfDir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_|_$", "")
      val tables = Seq(
        (s"graft_silver_lineitem_b_$tag", "l_orderkey", Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice", "l_discount")),
        (s"graft_silver_orders_b_$tag", "o_orderkey", Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_custkey", "o_orderdate")))
      // Fingerprint the source corpus BEFORE a build reads it: a
      // corpus regenerated between the build's read and a post-build
      // listing would stamp the NEW listing onto buckets built from
      // the OLD data — the exact staleness the stamp exists to catch.
      val src = sourceStamp(spark, sfDir, nBuckets)
      val reused = tables.forall { case (table, k, df) =>
        PersistedLayout.reRegister(spark, table, PersistedLayout.warehousePath(spark, table),
          k, df.schema, nBuckets, src)
      }
      // A miss rebuilds both, even one that re-registered (a prior
      // session may have died between the two stamp writes). The
      // overwrite replaces the files at each directory whether or not
      // the catalog holds the table. Only a fresh build stamps:
      // re-stamping on the reuse path would re-date a layout built
      // from an OLDER corpus if the source were regenerated
      // mid-session.
      if (!reused) tables.foreach { case (table, k, df) =>
        PersistedLayout.write(df, table, PersistedLayout.warehousePath(spark, table),
          k, nBuckets, src)
      }
      (nBuckets, tables(0)._1, tables(1)._1)
    })
    (li, ord)
  }

  /** The corpus fingerprint a registry layout's stamp records (see
    * [[PersistedLayout]]): the bucket count, then every data file under
    * the sf dir's lineitem/orders parquet as (path, length, mtime)
    * lines, so a corpus regenerated under the same dir (the
    * scale-ladder workflow: gen_scale.py overwrites /tmp/graft_sfN) or
    * a layout built at another width rebuilds instead of re-registering.
    * Without the re-register, every new JVM would rebuild the layout
    * (75 s of every sf10 bench leg's index_build for a layout that
    * production builds once).
    */
  private[graft] def sourceStamp(spark: SparkSession, sfDir: String, nBuckets: Int): String =
    (s"buckets=$nBuckets" +: Seq("lineitem.parquet", "orders.parquet").flatMap(name =>
      PersistedLayout.listing(spark, new org.apache.hadoop.fs.Path(sfDir, name))))
      .mkString("\n")

  /** The pivot side of the mart's last join (r12, closing the sf10
    * spill diagnosis). The mart's one residual at-scale spill was the
    * SORT of the 60 M-row fact frame feeding a sort-merge join whose
    * OTHER side is the events pivot — 150 k rows / 12 MB shuffled at
    * sf10 (6.4 GB disk spill for a 12 MB build side; SpillProfile
    * attribution in SCALE.md). AQE cannot rescue this join by itself:
    * its runtime-size broadcast threshold applies only to plans whose
    * stats are marked runtime, and that flag does not survive
    * propagation through the final pivot Aggregate (measured A/B at
    * 48 MB and 200 MB adaptive thresholds left the SMJ in place). The
    * pivot frame is one fixed-width row per active user
    * (~[[PivotRowBytes]]), so a one-scan `approx_count_distinct` over
    * `events.user_id` bounds it, and [[BuildSide]] sizes the join.
    */
  val PivotRowBytes: Long = 64L

  /** The mart dims are one fixed-width row per key, calibrated against
    * the measured sf10 broadcast: customer's BroadcastExchange dataSz
    * 146.2 MB / 1.5 M rows ≈ 97 B/row. Orders uses the same width as
    * the bound of the orderkey-grouped build sides (see [[dimCount]]).
    */
  val DimRowBytes: Long = 96L

  /** Join-size statistics memoized per (session, corpus, stat) and
    * charged to index_build by Bench's prewarm; entries of stopped
    * sessions are swept on every read.
    */
  private val joinStats =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Long]
  private def joinStat(spark: SparkSession, sfDir: String, stat: String)(
      compute: => Long): Long = {
    joinStats.keySet.foreach { k =>
      if (k._1.sparkContext.isStopped) joinStats.remove(k)
    }
    joinStats.getOrElseUpdate((spark, sfDir, stat), compute)
  }

  def pivotUserEstimate(spark: SparkSession, sfDir: String): Long =
    joinStat(spark, sfDir, "users")(Tables.events(spark, sfDir)
      .agg(approx_count_distinct("user_id")).head().getLong(0))

  /** count() over parquet is a footer-statistics job: no data pages are
    * read.
    */
  def dimCount(spark: SparkSession, sfDir: String, dim: String): Long =
    joinStat(spark, sfDir, dim)(dim match {
      case "part"     => Tables.part(spark, sfDir).count()
      case "customer" => Tables.customer(spark, sfDir).count()
      // Not a dimension, but the same counted-bound role (r20): orders'
      // row count bounds the BUILD side of the orderkey-grouped joins
      // (q_join_left_fill's aggregate, q_join_anti's distinct keys —
      // both emit at most one row per orderkey).
      case "orders"   => Tables.orders(spark, sfDir).count()
      case other => throw new IllegalArgumentException(s"unknown dim: $other")
    })

  /** Counted build bytes of `dim`, the input of [[BuildSide.hint]]. */
  def dimBytes(spark: SparkSession, sfDir: String, dim: String): Long =
    dimCount(spark, sfDir, dim) * DimRowBytes

  /** Force-materialize the mart's join-strategy statistics (pivot user
    * estimate + dim counts) so Bench's prewarm charges them to
    * index_build alongside the dedup indexes they behave like.
    */
  def martJoinStats(spark: SparkSession, sfDir: String): Unit = {
    pivotUserEstimate(spark, sfDir)
    dimCount(spark, sfDir, "part")
    dimCount(spark, sfDir, "customer")
  }

  private def martFrom(spark: SparkSession, sfDir: String,
      li: DataFrame, ord: DataFrame): DataFrame = {
    val prt = BuildSide.hint(spark, Tables.part(spark, sfDir)
      .select("p_partkey", "p_type"), dimBytes(spark, sfDir, "part"))
    val cst = BuildSide.hint(spark, Tables.customer(spark, sfDir)
      .select("c_custkey", "c_mktsegment", "c_nationkey"),
      dimBytes(spark, sfDir, "customer"))
    val evp = BuildSide.hint(spark, eventsPivot(spark, sfDir),
      pivotUserEstimate(spark, sfDir) * PivotRowBytes)

    li
      .join(ord, li("l_orderkey") === ord("o_orderkey"), "left")
      .join(prt, li("l_partkey") === prt("p_partkey"), "left")
      .join(cst, ord("o_custkey") === cst("c_custkey"), "left")
      .join(evp, ord("o_custkey") === evp("user_id"), "left")
      .na.fill(0.0, EventTypes)
      .select(
        li("l_orderkey").as("PEDIDO"),
        li("l_linenumber").as("ITEM"),
        li("l_partkey").as("ID_PRODUTO"),
        ord("o_custkey").as("ID_CLIENTE"),
        to_date(ord("o_orderdate")).as("DATA_VENDA"),
        round(li("l_extendedprice"), 4).as("VALOR_VENDA"),
        round(li("l_extendedprice") * li("l_discount"), 4).as("VALOR_DESCONTO"),
        upper(translate(prt("p_type"), " ", "_")).as("CATEGORIA_PRODUTO"),
        upper(cst("c_mktsegment")).as("SEGMENTO_CLIENTE"),
        cst("c_nationkey").as("ESTADO_CLIENTE"),
        round(col("click"), 4).as("VALOR_CLICK"),
        round(col("error"), 4).as("VALOR_ERROR"),
        round(col("purchase"), 4).as("VALOR_PURCHASE"),
        round(col("signup"), 4).as("VALOR_SIGNUP"),
        round(col("view"), 4).as("VALOR_VIEW"))
  }
  // NB: no trailing orderBy. A global sort of the output mart was half
  // the query's cost under the honest noop-write action (profiled at
  // sf0.1: ~4.9 s with, ~2.3 s without — one full extra exchange +
  // sort of 60 k×15 rows) and buys nothing: the reference's gold job
  // writes unsorted, the correctness driver sorts rows before hashing,
  // and at 100 TB nobody globally sorts a mart to write it.

  /** The inverse of the pivot: melt the wide per-user event matrix
    * back to long (user_id, event_type, total) form — Spark's native
    * `unpivot` (no UNION-ALL re-scan per column; one pass, codegen'd
    * Expand). Null cells (user never produced that event type) drop
    * out, so unpivot∘pivot round-trips to the plain groupBy aggregate
    * — which is exactly what the oracle states.
    */
  def eventsUnpivot(spark: SparkSession, sfDir: String): DataFrame =
    eventsPivot(spark, sfDir)
      .unpivot(Array(col("user_id")), EventTypes.map(col(_)).toArray, "event_type", "total")
      .filter(col("total").isNotNull)
      .select(col("user_id"), col("event_type"), round(col("total"), 4).as("total"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vendas_mart" -> ((s, dir) => mart(s, dir)),
    // The same mart over the bucketed silver layout — identical output
    // by construction (BucketingSpec pins row parity and the
    // exchange-free fact join); registering it makes the layout claim
    // correctness-gated, not just spec-gated. The one-time bucketed
    // write is memoized per (session, corpus) and charged to
    // index_build by Bench's prewarm, the same contract as the Dedup
    // index frames.
    "q_vendas_mart_bucketed" -> ((s, dir) => {
      val (li, ord) = ensureBucketedSilver(s, dir)
      martBucketed(s, dir, li, ord)
    }),
    "q_unpivot_events" -> (eventsUnpivot _),
    "q_pivot_events" -> ((s, dir) =>
      eventsPivot(s, dir)
        .na.fill(0.0, EventTypes)
        .select(
          col("user_id") +:
            EventTypes.map(t => round(col(t), 4).as(s"sum_$t")): _*)
        ))

  private val pivotCase: String = EventTypes
    .map(t => s"sum(CASE WHEN event_type = '$t' THEN value END) AS $t")
    .mkString(", ")

  /** One oracle statement for BOTH mart registrations: the bucketed
    * layout is a physical re-organization, so its oracle is the plain
    * mart's SQL verbatim — identical output is the whole claim.
    */
  private val martOracle: String =
    s"""WITH evp AS (SELECT user_id, $pivotCase FROM events GROUP BY user_id)
         |SELECT l.l_orderkey AS "PEDIDO",
         |       l.l_linenumber AS "ITEM",
         |       l.l_partkey AS "ID_PRODUTO",
         |       o.o_custkey AS "ID_CLIENTE",
         |       CAST(o.o_orderdate AS DATE) AS "DATA_VENDA",
         |       round(l.l_extendedprice, 4) AS "VALOR_VENDA",
         |       round(l.l_extendedprice * l.l_discount, 4) AS "VALOR_DESCONTO",
         |       upper(replace(p.p_type, ' ', '_')) AS "CATEGORIA_PRODUTO",
         |       upper(c.c_mktsegment) AS "SEGMENTO_CLIENTE",
         |       c.c_nationkey AS "ESTADO_CLIENTE",
         |       round(coalesce(e.click, 0), 4) AS "VALOR_CLICK",
         |       round(coalesce(e.error, 0), 4) AS "VALOR_ERROR",
         |       round(coalesce(e.purchase, 0), 4) AS "VALOR_PURCHASE",
         |       round(coalesce(e.signup, 0), 4) AS "VALOR_SIGNUP",
         |       round(coalesce(e.view, 0), 4) AS "VALOR_VIEW"
         |FROM lineitem l
         |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
         |LEFT JOIN part p ON l.l_partkey = p.p_partkey
         |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         |LEFT JOIN evp e ON o.o_custkey = e.user_id
         |ORDER BY 1, 2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_unpivot_events" ->
      """SELECT user_id, event_type, round(sum(value), 4) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "vendas_mart" -> martOracle,
    "q_vendas_mart_bucketed" -> martOracle,
    "q_pivot_events" ->
      s"""SELECT user_id,
         |${EventTypes.map(t => s"round(coalesce(sum(CASE WHEN event_type = '$t' THEN value END), 0), 4) AS sum_$t").mkString(",\n")}
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
