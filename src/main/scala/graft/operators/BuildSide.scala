package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The one build-side sizing rule for joins whose build side the
  * library can bound by a count: the mart's dims and pivot, the
  * Relational fact ⋈ dim/orders joins, and the docsets index width.
  *
  * Catalyst's static broadcast decision runs on a pruned-size file
  * estimate that misreads these sides (sf30 customer: est ~14 MB, a
  * few hundred MB as a hash relation), and AQE's runtime threshold
  * does not survive the pivot's final aggregate (r12). So each
  * call site counts rows × a measured row width, and this rule picks:
  *
  *  - [[Broadcast]] while the whole relation fits [[BroadcastMaxBytes]];
  *  - [[ShuffledHash]] while each post-exchange partition's share fits
  *    [[PartitionBytes]]: same exchange as a sort-merge join, but only
  *    the build side is hashed and the wide probe side is never sorted
  *    (sf30 q_join_inner: spill 7.1 GB → 0, 14.6 → 12.1 s);
  *  - [[SortMerge]] past that, where the sort's spill is the robust
  *    choice. The hint is withheld and the planner sort-merges.
  */
object BuildSide {

  sealed trait Rung
  case object Broadcast extends Rung
  case object ShuffledHash extends Rung
  case object SortMerge extends Rung

  /** Whole-relation broadcast bound (the r12 dim budget). */
  val BroadcastMaxBytes: Long = 512L << 20

  /** Per-partition hash-build bound. The sf50 rung (r16) found the
    * cliff: a LongToUnsafeRowMap grows its page by doubling, so a build
    * partition just past 32 MB requests one 64 MB page, and with the
    * dedup index set filling the protected storage region execution's
    * floor is ≈ 36 MB per task, so the build dies with "Can't acquire
    * 67108864 bytes" (bench_sf50_subset_shjfail_r16.json; the same error
    * as q_join_anti / q_join_left_fill at sf30 under the old 8 GB global
    * bound). 24 MB caps the growth request at 32 MB, under that floor.
    */
  val PartitionBytes: Long = 24L << 20

  /** Cap of [[partitions]]' counted need; a corpus needing more runs on
    * a cluster sized differently and should raise the session default.
    */
  private val MaxPartitions = 4096L

  def rung(bytes: Long, partitions: Int): Rung =
    if (bytes <= BroadcastMaxBytes) Broadcast
    else if (bytes <= partitions.toLong * PartitionBytes) ShuffledHash
    else SortMerge

  /** `df` as the build side of a join whose counted size is `bytes`,
    * hinted per [[rung]] at the session's shuffle width.
    */
  def hint(spark: SparkSession, df: DataFrame, bytes: Long): DataFrame =
    rung(bytes, spark.sessionState.conf.numShufflePartitions) match {
      case Broadcast    => broadcast(df)
      case ShuffledHash => df.hint("SHUFFLE_HASH")
      case SortMerge    => df
    }

  /** Partitions that keep each share of a `bytes`-sized build under
    * [[PartitionBytes]]: never below the session default (which stays
    * the floor even above the cap), the counted need capped at 4096.
    */
  def partitions(spark: SparkSession, bytes: Long): Int = {
    val default = spark.sessionState.conf.numShufflePartitions
    val need = (bytes + PartitionBytes - 1) / PartitionBytes
    math.max(default.toLong, math.min(MaxPartitions, need)).toInt
  }
}
