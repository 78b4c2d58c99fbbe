package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Bucketing: the co-located-join strategy for repeated large-scale
  * joins (SURVEY.md §7 scale notes). Writing both sides bucketed by
  * the join key lets Spark plan the join with ZERO shuffle exchanges —
  * at 100 TB this converts every recurring fact-to-fact join on the
  * same key from a full network re-shuffle into a local merge.
  */
class BucketingSpec extends SparkSpec {

  import spark.implicits._

  private val aqeKey = "spark.sql.adaptive.enabled"

  test("join of co-bucketed tables plans without a shuffle exchange") {
    // Plain (non-adaptive) physical plan so the join subtree is
    // directly inspectable; AQE would only ever remove exchanges here.
    withConfs(aqeKey -> "false")(bucketedJoinBody())
  }

  private def bucketedJoinBody(): Unit = {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")
    // A previously interrupted run can leave the managed location
    // behind without its metastore entry; clear it.
    Seq("b_orders", "b_items").foreach { t =>
      val d = new java.io.File(s"target/spark-warehouse/$t")
      if (d.exists()) {
        def del(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(del)); f.delete()
        }
        del(d)
      }
    }

    val orders = (1L to 1000L).map(k => (k, s"status_${k % 3}")).toDF("okey", "status")
    val items = (1L to 3000L).map(i => (i / 3 + 1, i, (i % 7).toDouble))
      .toDF("okey", "item_id", "amount")

    orders.write.bucketBy(8, "okey").sortBy("okey")
      .mode("overwrite").saveAsTable("b_orders")
    items.write.bucketBy(8, "okey").sortBy("okey")
      .mode("overwrite").saveAsTable("b_items")

    val joined = spark.table("b_items")
      .join(spark.table("b_orders"), "okey")
      .groupBy("status").agg(sum("amount").as("total"))

    // Correctness first.
    val totals = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expected = items.join(orders, "okey")
      .groupBy("status").agg(sum("amount")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(totals == expected)

    // The join itself must be shuffle-free: no exchange anywhere below
    // the join node (the exchange feeding the final aggregation is
    // above it and expected).
    val plan = joined.queryExecution.executedPlan
    val join = plan.collectFirst {
      case j if j.nodeName.contains("Join") => j
    }
    assert(join.isDefined, s"no join node in:\n$plan")
    val shufflesBelowJoin = join.get.collect { case s: ShuffleExchangeExec => s }
    assert(shufflesBelowJoin.isEmpty,
      s"expected shuffle-free co-bucketed join, got:\n${join.get}")
  }

  test("bucketed silver layout makes the vendas mart's fact join exchange-free") {
    // The mart-level version of the co-bucketed join above: write the
    // two fact tables through PersistedLayout.write, rebuild the
    // mart from them, and assert the l_orderkey=o_orderkey join subtree
    // contains no exchange. Broadcast is disabled so the join plans the
    // way it does past the thresholds at scale (SMJ) — AQE off for a
    // directly inspectable plan; all three restored after.
    val ordKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val savedAqe = spark.conf.get(aqeKey)
    // Ordering propagation from bucketed scans is opt-in since Spark
    // 3.0 (SPARK-28113): without it the planner re-sorts each bucket
    // locally even though the writer leaves one sorted file per
    // bucket. The elision needs BOTH this flag and the single-file
    // layout (the writer's repartition). GraftSession.configure
    // sets it on every session, the shared one included.
    withConfs(aqeKey -> "false", "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      ordKey -> "true")(bucketedMartBody())
    // The session confs every later spec plans with are back,
    // GraftSession.configure's ordering flag included.
    assert(spark.conf.get(ordKey) == "true")
    assert(spark.conf.get(aqeKey) == savedAqe)
  }

  /** Drops `tables` and deletes their warehouse directories: dropping
    * an external table leaves its files.
    */
  private def dropWithFiles(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val dir = sources.PersistedLayout.warehousePath(spark, t)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  private def bucketedMartBody(): Unit =
    try {
      val sfDir = "/root/testdata/sf0.001"
      def write(table: String, key: String, df: org.apache.spark.sql.DataFrame) =
        sources.PersistedLayout.write(df, table,
          sources.PersistedLayout.warehousePath(spark, table), key, 4, "test")
      write("t_li_b", "l_orderkey", Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice", "l_discount"))
      write("t_ord_b", "o_orderkey", Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderdate"))
      val bucketed = operators.VendasMart.martBucketed(spark, sfDir,
        "t_li_b", "t_ord_b")

      // Correctness first: identical rows to the plain mart.
      assertSameRows(bucketed, operators.VendasMart.mart(spark, sfDir))

      // The fact-fact join (the one bucketing targets) must have no
      // exchange below it; the dimension joins above it are untouched.
      val factJoin = exchangeFreeFactJoin(bucketed, "l_orderkey", "o_orderkey")
      // And SORT-free: the writer repartitions onto the bucket
      // column before the write, so each bucket is a single file and
      // Spark reuses the sortBy ordering instead of re-sorting under
      // the SMJ. (With multiple part-files per bucket this assertion
      // fails — the scan's output ordering is only trusted for
      // single-file buckets.)
      val sorts = factJoin.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sorts.isEmpty,
        s"expected sort-free bucketed fact join (single file per bucket), got:\n$factJoin")
    } finally dropWithFiles("t_li_b", "t_ord_b")

  /** Run `body` at shuffle width `n`, AQE off and broadcast disabled
    * (so the fact join plans as the at-scale sort-merge join).
    */
  private def atWidth[T](n: Int)(body: => T): T =
    withConfs("spark.sql.shuffle.partitions" -> n.toString, aqeKey -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private def layoutOf(table: String): (Option[Int], String, Int) = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val dir = new org.apache.hadoop.fs.Path(meta.location)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).count { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".")
    }
    (meta.bucketSpec.map(_.numBuckets), meta.tableType.name, files)
  }

  test("silver layout takes the session's shuffle width: one file per bucket, exchange-free join") {
    val sfDir = "/root/testdata/sf0.001"
    atWidth(3) {
      operators.VendasMart.resetSilverCache()
      val (li, ord) = operators.VendasMart.ensureBucketedSilver(spark, sfDir)
      for (t <- Seq(li, ord)) {
        val (buckets, _, files) = layoutOf(t)
        assert(buckets.contains(3), s"$t buckets: $buckets")
        assert(files == 3, s"$t data files: $files")
      }
      val bucketed = operators.VendasMart.martBucketed(spark, sfDir, li, ord)
      exchangeFreeFactJoin(bucketed, "l_orderkey", "o_orderkey")
      assertSameRows(bucketed, operators.VendasMart.mart(spark, sfDir))
    }
  }

  test("the bucket-to-bucket mart returns the oracle-checked mart's rows, duplicates included") {
    // At sf0.01 the orders side fits the broadcast threshold, so the
    // oracle's q_vendas_mart_bucketed joins without reading the buckets
    // as buckets. Here broadcast is off and the fact join sort-merges
    // bucket to bucket; the reference is VendasMart.mart planned at the
    // session's own thresholds, the plan the oracle checks as vendas_mart.
    val sfDir = "/root/testdata/sf0.01"
    val oracleChecked = rowBag(operators.VendasMart.mart(spark, sfDir))
    val bucketToBucket = atWidth(operators.VendasMart.silverBuckets(spark)) {
      val (li, ord) = operators.VendasMart.ensureBucketedSilver(spark, sfDir)
      val m = operators.VendasMart.martBucketed(spark, sfDir, li, ord)
      exchangeFreeFactJoin(m, "l_orderkey", "o_orderkey")
      rowBag(m)
    }
    assertSameBags(bucketToBucket, oracleChecked)
  }

  test("a layout stamped at another width rebuilds instead of re-registering") {
    val sfDir = "/root/testdata/sf0.001"
    def dataFiles(t: String): Set[String] = {
      val dir = sources.PersistedLayout.warehousePath(spark, t)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
        .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    }
    operators.VendasMart.resetSilverCache()
    val (li, ord) = atWidth(3)(operators.VendasMart.ensureBucketedSilver(spark, sfDir))
    val width3 = Seq(li, ord).map(t => t -> dataFiles(t)).toMap
    // A new JVM: the width-3 files and stamps stay on disk (the tables
    // are external), the in-memory catalog forgets both tables.
    for (t <- Seq(li, ord)) {
      spark.sql(s"DROP TABLE $t")
      assert(width3(t).size == 3, t)
      val dir = sources.PersistedLayout.warehousePath(spark, t)
      assert(dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(dir, sources.PersistedLayout.StampFile)), t)
    }
    operators.VendasMart.resetSilverCache()
    atWidth(5) {
      assert(operators.VendasMart.ensureBucketedSilver(spark, sfDir) == ((li, ord)))
      // Re-registered would be a width-5 table over the 3 old files.
      for (t <- Seq(li, ord)) {
        assert(layoutOf(t) == ((Some(5), "EXTERNAL", 5)), t)
        assert(dataFiles(t).intersect(width3(t)).isEmpty, s"$t kept width-3 files")
      }
    }
    // Same session, back to width 3: the catalog's width-5 tables are
    // not reused under the wrong count either.
    atWidth(3) {
      operators.VendasMart.ensureBucketedSilver(spark, sfDir)
      for (t <- Seq(li, ord)) assert(layoutOf(t) == ((Some(3), "EXTERNAL", 3)), t)
      exchangeFreeFactJoin(operators.VendasMart.martBucketed(spark, sfDir, li, ord),
        "l_orderkey", "o_orderkey")
    }
  }

  test("a stamped silver layout from a previous session re-registers instead of rebuilding") {
    // The in-memory catalog forgets the bucketed-silver tables at JVM
    // exit while their files survive in the warehouse;
    // PersistedLayout.reRegister re-attaches them via external-table
    // DDL iff the _graft_src_stamp still matches the source corpus.
    // Simulate "previous session" by copying a freshly-built table's
    // directory to a name the catalog has never seen.
    val sfDir = "/root/testdata/sf0.001"
    val liSrc = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice", "l_discount")
    val conf = spark.sparkContext.hadoopConfiguration
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(conf)
    def loc(t: String) = new org.apache.hadoop.fs.Path(wh, t)
    val n = operators.VendasMart.silverBuckets(spark)
    val src = operators.VendasMart.sourceStamp(spark, sfDir, n)
    def reRegister(t: String) = sources.PersistedLayout.reRegister(spark, t, loc(t),
      "l_orderkey", liSrc.schema, n, src)
    try {
      // Build + stamp under one name; clone the files under another.
      sources.PersistedLayout.write(liSrc, "t_reuse_src", loc("t_reuse_src"),
        "l_orderkey", n, src)
      org.apache.hadoop.fs.FileUtil.copy(fs, loc("t_reuse_src"),
        fs, loc("t_reuse_orphan"), false, conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, loc("t_reuse_src"),
        fs, loc("t_reuse_stale"), false, conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, loc("t_reuse_src"),
        fs, loc("t_reuse_partial"), false, conf)

      // Matching stamp -> re-registered, same rows, bucket spec intact.
      assert(reRegister("t_reuse_orphan"))
      assert(spark.catalog.tableExists("t_reuse_orphan"))
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("t_reuse_orphan"))
      assert(meta.bucketSpec.exists(b =>
        b.numBuckets == n &&
        b.bucketColumnNames == Seq("l_orderkey") &&
        b.sortColumnNames == Seq("l_orderkey")), s"bucket spec: ${meta.bucketSpec}")
      assert(spark.table("t_reuse_orphan").count() == liSrc.count())

      // Tampered stamp -> refused (a regenerated corpus must rebuild).
      val stale = new org.apache.hadoop.fs.Path(loc("t_reuse_stale"), "_graft_src_stamp")
      val out = fs.create(stale, true)
      try out.write("stale".getBytes("UTF-8")) finally out.close()
      assert(!reRegister("t_reuse_stale"))
      assert(!spark.catalog.tableExists("t_reuse_stale"))

      // Partially-deleted layout (stamp intact, a bucket file gone) ->
      // refused: Spark would otherwise scan the surviving files and
      // silently return fewer rows.
      val victim = fs.listStatus(loc("t_reuse_partial")).collectFirst {
        case s if s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".") => s.getPath
      }.get
      fs.delete(victim, false)
      assert(!reRegister("t_reuse_partial"))
      assert(!spark.catalog.tableExists("t_reuse_partial"))
    } finally dropWithFiles("t_reuse_src", "t_reuse_orphan", "t_reuse_stale", "t_reuse_partial")
  }

  test("a half-re-registered layout rebuilds cleanly instead of failing the CTAS") {
    // Prior-session crash between the two stamp writes: lineitem's
    // layout re-registers (EXTERNAL table) but orders' refuses, so
    // ensureBucketedSilver must rebuild BOTH — dropping the external
    // table alone would leave its files and the managed CTAS into the
    // non-empty warehouse location would throw.
    val sfDir = "/root/testdata/sf0.001"
    val conf = spark.sparkContext.hadoopConfiguration
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(conf)
    operators.VendasMart.resetSilverCache()
    val (li, ord) = operators.VendasMart.ensureBucketedSilver(spark, sfDir)
    val expected = spark.table(li).count()
    // Simulate the crashed session: catalog forgets both tables, and
    // orders' stamp never landed.
    spark.sql(s"DROP TABLE IF EXISTS $li")
    spark.sql(s"DROP TABLE IF EXISTS $ord")
    fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(wh, ord.toLowerCase), "_graft_src_stamp"), false)
    operators.VendasMart.resetSilverCache()
    val (li2, ord2) = operators.VendasMart.ensureBucketedSilver(spark, sfDir)
    assert((li2, ord2) == (li, ord))
    assert(spark.catalog.tableExists(li2) && spark.catalog.tableExists(ord2))
    assert(spark.table(li2).count() == expected)
  }
}
