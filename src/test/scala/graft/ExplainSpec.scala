package graft

import graft.operators.{Relational, VendasMart}

/** Plan-shape regressions as test failures: the properties PLANS.md
  * documents (scan pruning, filter pushdown, broadcast joins in the
  * mart) must hold on every build, not just when someone re-reads the
  * dump.
  */
class ExplainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("filter+project pushes predicates into the parquet scan") {
    val plan = planOf(Relational.filterProject(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("GreaterThan"), plan.take(2000))
  }

  test("mart reads only referenced columns and broadcasts every dimension") {
    val plan = planOf(VendasMart.mart(spark, sf))
    // Column pruning: the lineitem scan must NOT read all 11 columns.
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty)
    val lineitemSchema = readSchemas.find(_.contains("l_orderkey")).get
    assert(lineitemSchema.split(",").length <= 5, lineitemSchema)
    // Join strategy: all dimension joins broadcast; no sort-merge join.
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins")
    assert(!plan.contains("SortMergeJoin"), "mart must not sort-merge at test scale")
    // No trailing determinism sort: a global orderBy would plan a
    // range-partitioning exchange + sort — half the query's cost under
    // the honest action, and nothing downstream needs it (see
    // VendasMart.mart note).
    assert(!plan.contains("Exchange rangepartitioning"),
      "mart must not globally sort its output")
  }

  test("mart join ladders broadcast by measured bound, not planner estimate") {
    // With BOTH broadcast thresholds disabled the planner's own
    // estimate-driven broadcasts are off the table; the BuildSide
    // hints from the counted bounds (pivot user estimate, dim row
    // counts) must still produce an all-broadcast star, proving the
    // hints, not the estimates, carry the plan. The shuffled-hash and
    // sort-merge rungs are forced in BuildSideSpec.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    // getOption: the adaptive threshold is UNSET at HEAD (the global
    // 48m raise was removed in r13 — see GraftSession), so restore
    // must unset rather than set(null).
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      val laddered = planOf(VendasMart.mart(spark, sf))
      // Three hinted joins broadcast; only the unhinted fact-fact
      // li⟕ord join may sort-merge here.
      assert("BroadcastHashJoin".r.findAllIn(laddered).size >= 3, laddered.take(800))
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("q_join_inner walks the counted dim ladder (r18: SMJ spill fix)") {
    // The sf30 SpillProfile walk attributed q_join_inner's entire
    // 7.1 GB spill to the fact-side SORT of a SortMergeJoin whose dim
    // side was ~100 MB; the shuffled-hash A/B measured 12.1 vs 14.6 s
    // with spill -> 0 (bench_sf30_joinInnerAB_*_r18.json). Pin that
    // the query rides BuildSide on part's counted bytes: with planner
    // estimates disabled the counted bound still broadcasts the dim
    // at spec scale.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      val laddered = planOf(Relational.joinInner(spark, sf))
      assert(laddered.contains("BroadcastHashJoin"), laddered.take(600))
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("pivot is one aggregate over the explicit value list: one exchange, no pivotfirst") {
    // The explicit value list puts the five typed columns in the schema
    // without any action having run (Spark's value-discovery variant
    // would have run a job by now). One sum(CASE …) per value plans a
    // partial and a final hash aggregate around a single shuffle on
    // user_id; Spark's pivot plans a second aggregate on (user_id,
    // event_type) and a pivotfirst, so two exchanges and four.
    val df = VendasMart.eventsPivot(spark, sf)
    assert(df.columns.toSeq == "user_id" +: VendasMart.EventTypes)
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert("HashAggregate".r.findAllIn(plan).size == 2, plan)
    assert(!plan.contains("pivotfirst"), plan)
  }

  test("salted aggregation plans two aggregate stages (skew defense shape)") {
    val plan = planOf(graft.operators.Analytics.saltedAgg(spark, sf))
    // Two logical aggregations -> four HashAggregate operators
    // (partial+final per stage).
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs >= 4, s"expected 2-stage aggregation, got $aggs HashAggregates")
  }

  test("sequence packer plans per-shard windows, never a single-partition exchange") {
    val plan = planOf(graft.operators.TextAnalysis.sequencePack(spark, sf))
    assert(!plan.contains("Exchange SinglePartition"),
      "global-window packing funnels the corpus through one task:\n" + plan.take(2000))
  }

  test("embedding near-dup pairs come from a bucket equi-join, not a nested loop") {
    val plan = planOf(graft.operators.Dedup.embeddingPairs(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "banded-LSH candidates must equi-join on (band, bucket):\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("contamination, boilerplate, and verified-pairs plans stay equi-join only") {
    for (q <- Seq("q_corpus_contam", "q_text_boilerplate", "q_dedup_verified")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"$q:\n" + plan.take(1500))
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n" + plan.take(1500))
    }
  }

  test("verified-pairs shingles only pair participants (semi-join below the kernel)") {
    // The exact-Jaccard verifier must NOT shingle the whole corpus: the
    // documents side is semi-joined down to the candidate-pair
    // participants first, and the graft_shingles projection sits ABOVE
    // that semi-join (tree printouts list parents first, so the kernel
    // must appear before the first LeftSemi in the text — a
    // full-corpus shingle pass would plan the kernel directly over the
    // parquet scan with the semi-join absent or above it).
    val plan = graft.operators.Dedup.lshVerified(spark, sf)
      .queryExecution.optimizedPlan.toString()
    val semi = plan.indexOf("LeftSemi")
    val kernel = plan.indexOf("graft_shingles")
    assert(semi >= 0, "participant semi-join missing:\n" + plan.take(1500))
    assert(kernel >= 0, plan.take(1500))
    assert(kernel < semi,
      "shingle kernel must run on the semi-joined (participants-only) side:\n" +
        plan.take(1500))
  }

  test("capstone pipeline and resample plan equi-joins and partitioned windows only") {
    for (q <- Seq("q_pipeline_corpus", "q_resample_ffill")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"$q:\n" + plan.take(1500))
      assert(!plan.contains("Exchange SinglePartition"), s"$q:\n" + plan.take(1500))
    }
  }

  test("resample grid generator is exchange-fed (never coalesced to one task)") {
    // r16 root-cause pin: the grid bounds frame is tiny (one row per
    // user), so without an explicit repartition AQE coalesces its
    // exchange to one partition and the ~700x-amplifying
    // explode(sequence(...)) generates the query's biggest frame
    // single-threaded (measured: it dominated the sf30 wall in every
    // sort-width regime). The explicit exchange must sit between the
    // bounds aggregate and the Generate.
    val plan = planOf(Relational.resampleFfill(spark, sf))
    assert(plan.contains("explode(sequence"), plan.take(1500))
    // The explicit repartition(N) plans as RoundRobinPartitioning —
    // the only round-robin in this query — and must be the Generate's
    // direct child in the tree (the bounds aggregate's own exchange
    // is hash-partitioned and AQE-coalescible; this one is not).
    assert(plan.contains("RoundRobinPartitioning"),
      "grid explode must be fed by the explicit repartition:\n" + plan.take(2000))
    assert("Generate \\(\\d+\\)\\n[^\\n]*Exchange \\(".r.findFirstIn(plan).isDefined,
      "the Generate's direct child must be the repartition exchange:\n" +
        plan.take(2000))
  }

  test("top-k plans stay distributed: partial TopK aggregate and TakeOrderedAndProject") {
    // Top-5-per-group runs as a bounded TopK AGGREGATE (r19): partial
    // map-side buffers of <= k rows per group, no sort of the input
    // anywhere below the aggregate. The previous WindowGroupLimit plan
    // already bounded the shuffle but demanded a full per-partition
    // sort of the fact table (9.97 GB spill at sf30 —
    // bench_sf30_wrankAB_window_r19.json); the aggregate form deletes
    // the sort and the window operator entirely. Global top-100 must
    // still plan TakeOrderedAndProject (per-partition heaps), never a
    // full sort.
    val rankPlan = planOf(Relational.windowRank(spark, sf))
    assert(rankPlan.contains("ObjectHashAggregate"), rankPlan.take(1500))
    assert(!rankPlan.contains("WindowGroupLimit") && !rankPlan.contains("Window ("),
      "rank query must not fall back to the sort-based window plan:\n" +
        rankPlan.take(1500))
    // The only Sort allowed is the final 15-row orderBy ABOVE the
    // aggregate — never below it (that would be the input sort the
    // rewrite exists to delete). Formatted trees print parents first,
    // so the LAST Sort occurrence must still precede the FIRST
    // aggregate — indexOf-vs-indexOf was vacuous (the legit top-level
    // Sort always precedes the aggregate; an extra input-side Sort
    // printed later went unchecked — ADVICE r19).
    val aggFirst = rankPlan.indexOf("ObjectHashAggregate")
    val sortLast = rankPlan.lastIndexOf("Sort (")
    assert(sortLast == -1 || sortLast < aggFirst,
      "input-side Sort below the TopK aggregate:\n" + rankPlan.take(1500))
    val sortPlan = planOf(Relational.sortLimit(spark, sf))
    assert(sortPlan.contains("TakeOrderedAndProject"), sortPlan.take(1500))
  }

  test("incremental admission reads the persisted signature index, not a fresh corpus hash") {
    // The corpus side of q_dedup_incremental must come off the
    // memoized signature frame (InMemoryTableScan) and the batch side
    // off its one-time checkpoint — the served plan may not contain a
    // live MinHash kernel (graft_minhash) anywhere: a fresh
    // minHashSignaturesOf in the lineage would re-hash the corpus on
    // every run (the r3 regression).
    graft.operators.Dedup.minHashSignatures(spark, sf).count() // build the index
    val plan = graft.operators.Dedup.incremental(spark, sf)
      .queryExecution.executedPlan.toString()
    val imts = plan.indexOf("InMemoryTableScan")
    assert(imts >= 0,
      "corpus side must scan the persisted signature index:\n" + plan.take(1500))
    assert(plan.contains("Scan ExistingRDD"),
      "batch side must read its one-time checkpoint:\n" + plan.take(1500))
    // The LIVE operator tree sits above the InMemoryTableScan; the
    // kernel may appear below it only as the cached relation's
    // build-plan description (what a cache miss would recompute).
    assert(!plan.substring(0, imts).contains("graft_minhash"),
      "no live signature kernel in the served plan:\n" + plan.take(1500))
  }

  test("re-derived MinHash pair plans substitute the cached fragment") {
    // Materialize the cache via the pairs query; any later derivation
    // of the same logical subtree (what clustering/survivors/best-keep
    // build internally) must scan the in-memory relation instead of
    // recomputing the LSH join.
    graft.operators.Dedup.minHashLsh(spark, sf).count()
    val plan = graft.operators.Dedup.minHashLsh(spark, sf)
      .select("a_id", "b_id")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      plan.take(1500))
  }
}
