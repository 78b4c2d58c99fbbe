package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.{Dedup, Relational, VendasMart}
import graft.operators.BuildSide._

/** The one build-side sizing rule: its rung table at the sf30 row
  * counts, the docsets width, and each rung forced at test scale, where
  * every counted build side would otherwise broadcast.
  */
class BuildSideSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("sf30 rungs: part shuffled-hash, customer/pivot broadcast, orders sort-merge") {
    // Bench runs 32 shuffle partitions at sf30; part's share is
    // 576 MB / 32 = 18 MB, under the 24 MiB cliff. Orders (the build
    // bound of q_join_anti / q_join_left_fill) is 4.3 GB, 135 MB a
    // partition: the "Can't acquire 67108864 bytes" case, which must
    // sort-merge.
    val table = Seq(
      ("part", 6000000L * VendasMart.DimRowBytes, ShuffledHash),
      ("customer", 4500000L * VendasMart.DimRowBytes, Broadcast),
      ("pivot", 450000L * VendasMart.PivotRowBytes, Broadcast),
      ("orders", 45000000L * VendasMart.DimRowBytes, SortMerge))
    for ((side, bytes, want) <- table)
      assert(rung(bytes, 32) == want, s"$side: $bytes B over 32 partitions")
    assert(rung(BroadcastMaxBytes, 1) == Broadcast)
    assert(rung(BroadcastMaxBytes + 1, 32) == ShuffledHash)
    assert(rung(32L * PartitionBytes + 1, 32) == SortMerge)
    // Below 22 partitions the shuffled-hash rung is empty: no share of
    // a relation too big to broadcast fits the cliff.
    assert(rung(BroadcastMaxBytes + 1, 21) == SortMerge)
  }

  test("docsets width: default through sf30, counted past the 24 MiB cliff, cap 4096") {
    def docs(n: Long): Long = n * Dedup.DocsetRowBytes
    // sf30's 1.5 M docs need ceil(720e6 / 24 MiB) = 29 partitions,
    // under Bench's 32, so the sf30 plan keeps the session default.
    val s32 = spark.newSession()
    s32.conf.set("spark.sql.shuffle.partitions", "32")
    assert(partitions(s32, docs(1500000L)) == 32)
    // The spec session runs 4, so the counted need shows: 29, then
    // linear past it (sf50's 2.5 M docs -> 48), capped at 4096.
    assert(partitions(spark, docs(1500000L)) == 29)
    assert(partitions(spark, docs(2500000L)) == 48)
    assert(partitions(spark, docs(100L)) ==
      spark.sessionState.conf.numShufflePartitions)
    assert(partitions(spark, docs(1000000000L)) == 4096)
    // A session default above the cap is itself the floor (the cap
    // applies to the counted need only).
    val big = spark.newSession()
    big.conf.set("spark.sql.shuffle.partitions", "8192")
    assert(partitions(big, 100L) == 8192)
  }

  /** A 32-partition session with both broadcast thresholds off, so
    * only the rule's hint picks the join (AQE's shuffled-hash
    * conversion stays off, as on every session).
    */
  private lazy val wide: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** A byte figure per rung at 32 partitions. */
  private val forced = Seq(
    "BroadcastHashJoin" -> 1L,
    "ShuffledHashJoin" -> (BroadcastMaxBytes + 1),
    "SortMergeJoin" -> (32L * PartitionBytes + 1))

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def joinNodes(plan: String): Set[String] =
    "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)".r
      .findAllIn(plan).toSet

  test("forced bytes plan each rung; anti and left-fill rows match across rungs") {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val queries = Seq(
      ("q_join_anti", Relational.joinAntiSized _, Relational.joinAnti _),
      ("q_join_left_fill", Relational.joinLeftFillSized _, Relational.joinLeftFill _))
    for ((name, sized, shipped) <- queries) {
      // The shipped query broadcasts at this scale.
      val want = rows(shipped(spark, sf))
      assert(want.nonEmpty, name)
      for ((join, bytes) <- forced) {
        val df = sized(wide, sf, bytes)
        assert(rows(df) == want, s"$name under $join")
        // After the action: the final adaptive plan ran the forced rung.
        assert(joinNodes(planOf(df)) == Set(join), s"$name: " + planOf(df).take(1200))
      }
    }
  }

  test("past broadcast, an aggregated build side sort-merges: AQE converts no join") {
    // The shape of the gram-keyed joins (q_text_lm_score,
    // q_text_boilerplate, q_corpus_contam): a stream joined by key to
    // its own one-row-per-key aggregate. Each post-shuffle partition
    // is far under 64 MB here, so a session that let AQE convert
    // sort-merge joins to shuffled-hash would convert this one.
    import org.apache.spark.sql.functions._
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val probe = spark.range(0, 40000).select((col("id") % 10000).as("k"))
      val perKey = probe.groupBy("k").agg(count(lit(1)).as("n"))
      val df = probe.join(perKey, "k").agg(count(lit(1)), sum(col("n")))
      val Array(r) = df.collect()
      assert((r.getLong(0), r.getLong(1)) == (40000L, 160000L))
      // After the action: the final adaptive plan.
      val plan = planOf(df)
      assert(plan.contains("== Final Plan =="), plan.take(1200))
      assert(joinNodes(plan) == Set("SortMergeJoin"), plan.take(2400))
    }
  }
}
