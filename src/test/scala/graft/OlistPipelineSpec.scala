package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.graft.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DateType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.VendasMart
import graft.sources.{IngestJob, OlistCatalog, OlistVendas, PersistedLayout, Sinks, TableSpec}

/** End-to-end golden pipeline test (SURVEY.md §5.3): bronze CSVs for
  * all 8 Olist tables → IngestJob.runAll → OlistVendas silver→gold →
  * assert the 14-column mart schema (reference rename map,
  * `s2g/vendas.py:133-149`) and spot row values covering the pivot,
  * the 4-way left join, fillna, upper, translate, and to_date.
  */
class OlistPipelineSpec extends SparkSpec {

  private def writeCsv(root: String, prefix: String, lines: String*): Unit = {
    val p = Paths.get(root, prefix, "data.csv")
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("\n"))
  }

  /** Bronze CSVs for all 8 Olist tables: 3 orders (one with no
    * items), 3 items over 2 orders and 2 products, 3 payments.
    */
  private def writeBronze(bronze: String): Unit = {
    writeCsv(bronze, "olist/customers",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      "c1,u1,01310,sao paulo,SP",
      "c2,u2,20040,rio de janeiro,RJ")
    writeCsv(bronze, "olist/sellers",
      "seller_id,seller_zip_code_prefix,seller_city,seller_state",
      "s1,04536,sao paulo,SP")
    writeCsv(bronze, "olist/geolocation",
      "geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state",
      "01310,-23.56,-46.65,sao paulo,SP")
    writeCsv(bronze, "olist/products",
      "product_id,product_category_name,product_name_lenght,product_description_lenght," +
        "product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm",
      "p1,cama_mesa_banho,40,280,1,750,30,10,20",
      "p2,informatica_acessorios,50,300,2,250,20,5,15")
    writeCsv(bronze, "olist/order_payments",
      "order_id,payment_sequential,payment_type,payment_installments,payment_value",
      "o1,1,credit_card,3,100.50",
      "o1,2,voucher,1,20.00",
      "o2,1,boleto,1,59.90")
    writeCsv(bronze, "olist/orders",
      "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
        "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date",
      "o1,c1,delivered,2017-10-02 10:56:33,2017-10-02 11:07:15,2017-10-04 19:55:00," +
        "2017-10-10 21:25:13,2017-10-18 00:00:00",
      "o2,c2,shipped,2018-01-14 14:33:31,2018-01-14 14:48:30,,,2018-02-05 00:00:00",
      // An order with no items: must NOT appear in the item-grain mart.
      "o3,c1,created,2018-03-01 09:00:00,,,,2018-03-20 00:00:00")
    writeCsv(bronze, "olist/order_items",
      "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
      "o1,1,p1,s1,2017-10-06 11:07:15,58.90,13.29",
      "o1,2,p2,s1,2017-10-06 11:07:15,239.90,19.93",
      "o2,1,p1,s1,2018-01-18 14:48:30,199.00,17.87")
    writeCsv(bronze, "olist/order_reviews",
      "review_id,order_id,review_score,review_comment_title,review_comment_message," +
        "review_creation_date,review_answer_timestamp",
      "r1,o1,5,,otimo,2017-10-11 00:00:00,2017-10-12 03:43:48")
  }

  test("full b2s + s2g pipeline produces the reference vendas mart") {
    val bronze = tmpDir("bronze")
    val silver = tmpDir("silver")
    val gold = tmpDir("gold")

    writeBronze(bronze)

    IngestJob.runAll(spark, bronze, silver)
    OlistVendas.run(spark, silver, gold)

    val mart = spark.read.parquet(s"$gold/olist/vendas")
    assert(mart.columns.toSeq == Seq(
      "PEDIDO", "ID_PRODUTO", "ID_CLIENTE", "DATA_VENDA", "VALOR_VENDA", "FRETE",
      "CATEGORIA_PRODUTO", "CIDADE_CLIENTE", "ESTADO_CLIENTE", "VALOR_BOLETO",
      "VALOR_CREDITO", "VALOR_DEBITO", "VALOR_VOUCHER", "VALOR_NAO_DEFINIDO"))
    assert(mart.schema("DATA_VENDA").dataType == DateType)

    val rows = mart.orderBy("PEDIDO", "ID_PRODUTO").collect()
    assert(rows.length == 3) // item grain: o3 (no items) excluded

    val o1p1 = rows(0)
    assert(o1p1.getAs[String]("PEDIDO") == "o1")
    assert(o1p1.getAs[String]("CATEGORIA_PRODUTO") == "CAMA MESA BANHO") // upper + translate
    assert(o1p1.getAs[String]("CIDADE_CLIENTE") == "SAO PAULO")
    assert(o1p1.getAs[java.sql.Date]("DATA_VENDA").toString == "2017-10-02")
    assert(o1p1.getAs[Double]("VALOR_CREDITO") == 100.50) // pivot-sum
    assert(o1p1.getAs[Double]("VALOR_VOUCHER") == 20.00)
    assert(o1p1.getAs[Double]("VALOR_BOLETO") == 0.0)     // fillna(0)
    assert(o1p1.getAs[Double]("VALOR_DEBITO") == 0.0)     // absent pivot value still a column
    assert(o1p1.getAs[Double]("VALOR_NAO_DEFINIDO") == 0.0)

    val o2 = rows(2)
    assert(o2.getAs[Double]("VALOR_BOLETO") == 59.90)
    assert(o2.getAs[String]("CIDADE_CLIENTE") == "RIO DE JANEIRO")
  }

  test("incremental streaming mart appends exactly the batch mart rows") {
    val bronze = tmpDir("sbronze2")
    val silver = tmpDir("ssilver2")
    // Reuse the same fixture family as the batch test, minimal subset.
    writeCsv(bronze, "olist/customers",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      "c1,u1,01310,sao paulo,SP")
    writeCsv(bronze, "olist/sellers",
      "seller_id,seller_zip_code_prefix,seller_city,seller_state", "s1,04536,sp,SP")
    writeCsv(bronze, "olist/geolocation",
      "geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state",
      "01310,-23.5,-46.6,sao paulo,SP")
    writeCsv(bronze, "olist/products",
      "product_id,product_category_name,product_name_lenght,product_description_lenght," +
        "product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm",
      "p1,cama_mesa_banho,40,280,1,750,30,10,20")
    writeCsv(bronze, "olist/order_payments",
      "order_id,payment_sequential,payment_type,payment_installments,payment_value",
      "o1,1,credit_card,3,100.50")
    writeCsv(bronze, "olist/orders",
      "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
        "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date",
      "o1,c1,delivered,2017-10-02 10:56:33,2017-10-02 11:07:15,,,2017-10-18 00:00:00")
    writeCsv(bronze, "olist/order_items",
      "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
      "o1,1,p1,s1,2017-10-06 11:07:15,58.90,13.29")
    writeCsv(bronze, "olist/order_reviews",
      "review_id,order_id,review_score,review_comment_title,review_comment_message," +
        "review_creation_date,review_answer_timestamp",
      "r1,o1,5,,ok,2017-10-11 00:00:00,2017-10-12 03:43:48")
    graft.sources.IngestJob.runAll(spark, bronze, silver)

    val goldDir = tmpDir("sgold2") + "/stream"
    val ckpt = tmpDir("sgold2ck")
    val q = OlistVendas.incrementalMart(spark, silver)
      .writeStream.format("parquet")
      .option("path", goldDir).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(goldDir).collect().map(_.toSeq).toSet
    val batch = OlistVendas.mart(spark, silver).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)

    // foreachBatch bridge: the same incremental mart mirrored into
    // embedded Derby per micro-batch (the reference's MySQL replace,
    // run from a stream). Read-back must equal the batch mart.
    val dbPath = tmpDir("sgold_db") + "/mirror"
    val t = graft.sources.Sinks.JdbcTarget(
      s"jdbc:derby:$dbPath;create=true", "TB_VENDAS", "", "")
    val mq = OlistVendas.jdbcMirrorStream(
      OlistVendas.incrementalMart(spark, silver), t, tmpDir("sgold_dbck"))
    mq.awaitTermination(120000)
    val mirrored = spark.read.format("jdbc")
      .option("url", t.url).option("dbtable", t.table).load()
      .collect().map(_.toSeq).toSet
    assert(mirrored == batch)
  }

  private val factSpecs = Seq(OlistCatalog.orderItems, OlistCatalog.orders)
  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def factDir(silver: String, spec: TableSpec) =
    new Path(s"$silver/${spec.prefix}")

  /** Data files (name -> mtime) of a silver table directory. */
  private def dataFiles(dir: Path): Map[String, Long] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap

  private def tableMeta(t: String) = spark.sessionState.catalog.getTableMetadata(
    org.apache.spark.sql.catalyst.TableIdentifier(t))

  /** How a new JVM sees the ingest's layout: files on disk, no catalog entry. */
  private def forgetSilverTables(): Unit =
    factSpecs.foreach(spec => spark.sql(s"DROP TABLE IF EXISTS ${IngestJob.silverTable(spec)}"))

  private def goldRows(gold: String) = rowBag(spark.read.parquet(s"$gold/olist/vendas"))

  /** Every file and directory under the warehouse directory, with its
    * length and mtime.
    */
  private def warehouseListing(): Seq[String] = {
    def walk(p: Path): Seq[String] = fs.listStatus(p).toSeq.flatMap(s =>
      s"${s.getPath} ${s.getLen} ${s.getModificationTime}" +:
        (if (s.isDirectory) walk(s.getPath) else Nil))
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    if (fs.exists(wh)) walk(wh).sorted else Nil
  }

  /** Runs `gold` and asserts it left the warehouse directory's listing
    * as it found it: gold reads a layout or silver, and writes none.
    */
  private def leavesWarehouse[T](what: String)(gold: => T): T = {
    val before = warehouseListing()
    val result = gold
    assert(warehouseListing() == before, s"$what: gold wrote under the warehouse")
    result
  }

  test("bucketed gold re-runs over a warehouse location a previous JVM left behind") {
    val bronze = tmpDir("obronze")
    val silver = tmpDir("osilver")
    val gold = tmpDir("ogold")
    writeBronze(bronze)
    IngestJob.runAll(spark, bronze, silver)
    // A previous JVM's files under the warehouse locations of the
    // silver tables' names, with no entry in this session's catalog.
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val staleDirs = factSpecs.map(spec => new Path(wh, IngestJob.silverTable(spec)))
    try {
      for (d <- staleDirs) {
        val out = fs.create(new Path(d, "part-00000-stale_00000.c000.snappy.parquet"), true)
        try out.write("stale".getBytes("UTF-8")) finally out.close()
      }
      // Gold in place, and at a width the ingest did not write (plain),
      // leaves those files as it found them.
      val w = VendasMart.silverBuckets(spark)
      for ((width, layout) <- Seq(w -> "silver", (w + 1) -> "plain")) {
        assert(leavesWarehouse(s"width $width")(
          OlistVendas.run(spark, silver, gold, buckets = Some(width))) == layout)
        assert(spark.read.parquet(s"$gold/olist/vendas").count() == 3)
      }
    } finally staleDirs.foreach(fs.delete(_, true))
  }

  test("the ingest writes orders and order_items bucketed; gold reads them in place") {
    val bronze = tmpDir("lbronze")
    val silver = tmpDir("lsilver")
    val gold = tmpDir("lgold")
    writeBronze(bronze)
    IngestJob.runAll(spark, bronze, silver)
    val w = VendasMart.silverBuckets(spark)
    for (spec <- factSpecs) {
      val meta = tableMeta(IngestJob.silverTable(spec))
      assert(meta.bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))
        .contains((w, Seq("order_id"), Seq("order_id"))), spec.name)
      assert(meta.tableType.name == "EXTERNAL")
      assert(meta.location == fs.makeQualified(factDir(silver, spec)).toUri)
      val files = dataFiles(factDir(silver, spec))
      assert(files.nonEmpty && files.size <= w, s"${spec.name}: ${files.keys}")
    }
    assert(leavesWarehouse("in place")(
      OlistVendas.run(spark, silver, gold, buckets = Some(w))) == "silver")
    assertSameBags(goldRows(gold), rowBag(OlistVendas.mart(spark, silver)))
    // Past the broadcast threshold the fact join sort-merges over the
    // silver buckets themselves, with no exchange.
    withConfs("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (m, layout) = OlistVendas.bucketedMart(spark, silver, w)
      assert(layout == "silver")
      exchangeFreeFactJoin(m, "order_id")
      assertSameRows(m, OlistVendas.mart(spark, silver))
    }
  }

  test("gold over ingest-written silver starts no job outside a SQL execution") {
    // A Parquet read that infers its schema starts a job of its own, with
    // no SQL execution id, to read a footer; gold declares every schema.
    val bronze = tmpDir("fbronze")
    val silver = tmpDir("fsilver")
    val gold = tmpDir("fgold")
    writeBronze(bronze)
    IngestJob.runAll(spark, bronze, silver)
    val w = VendasMart.silverBuckets(spark)
    val bare = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty(SQLExecution.EXECUTION_ID_KEY) == null))
          bare.incrementAndGet()
    }
    ListenerShim.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(OlistVendas.run(spark, silver, gold, buckets = Some(w)) == "silver")
      ListenerShim.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(bare.get == 0, "jobs with no SQL execution id")
    assertSameBags(goldRows(gold), rowBag(OlistVendas.mart(spark, silver)))
  }

  test("a new JVM's gold re-registers the ingest's layout from its stamp, files untouched") {
    val bronze = tmpDir("rbronze")
    val silver = tmpDir("rsilver")
    val gold = tmpDir("rgold")
    writeBronze(bronze)
    IngestJob.runAll(spark, bronze, silver)
    val before = factSpecs.map(spec => dataFiles(factDir(silver, spec)))
    forgetSilverTables()
    val w = VendasMart.silverBuckets(spark)
    assert(OlistVendas.run(spark, silver, gold, buckets = Some(w)) == "silver")
    assert(factSpecs.map(spec => dataFiles(factDir(silver, spec))) == before)
    for (spec <- factSpecs) {
      val meta = tableMeta(IngestJob.silverTable(spec))
      assert(meta.bucketSpec.map(_.numBuckets).contains(w))
      assert(meta.location == fs.makeQualified(factDir(silver, spec)).toUri)
    }
    assertSameBags(goldRows(gold), rowBag(OlistVendas.mart(spark, silver)))
    assert(goldRows(gold).values.sum == 3)
  }

  test("gold reads its own silver root, not the one the catalog's tables last pointed at") {
    val bronze = tmpDir("mbronze")
    val other = tmpDir("mbronze_other")
    writeBronze(bronze)
    writeBronze(other)
    writeCsv(other, "olist/order_items",
      "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
      "o1,1,p1,s1,2017-10-06 11:07:15,58.90,13.29")
    val silver = tmpDir("msilver")
    val gold = tmpDir("mgold")
    IngestJob.runAll(spark, bronze, silver)
    IngestJob.runAll(spark, other, tmpDir("msilver_other"))
    assert(OlistVendas.run(spark, silver, gold,
      buckets = Some(VendasMart.silverBuckets(spark))) == "silver")
    assertSameBags(goldRows(gold), rowBag(OlistVendas.mart(spark, silver)))
    assert(goldRows(gold).values.sum == 3)
  }

  test("gold reads silver plain when its files, stamp or width do not match") {
    val bronze = tmpDir("fbronze")
    writeBronze(bronze)
    val w = VendasMart.silverBuckets(spark)
    val items = OlistCatalog.orderItems
    val cases: Seq[(String, String => Int)] = Seq(
      "a deleted bucket file" -> { silver =>
        fs.delete(new Path(factDir(silver, items), dataFiles(factDir(silver, items)).keys.min), false)
        w
      },
      "a hand-edited stamp" -> { silver =>
        val stamp = new Path(factDir(silver, items), PersistedLayout.StampFile)
        val in = fs.open(stamp)
        val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val out = fs.create(stamp, true)
        try out.write(text.replaceFirst(" (\\d+) ", " 1$1 ").getBytes("UTF-8")) finally out.close()
        w
      },
      "a width mismatch" -> (_ => w + 2))
    for ((what, spoil) <- cases) {
      val silver = tmpDir("fsilver")
      val gold = tmpDir("fgold")
      IngestJob.runAll(spark, bronze, silver)
      val asked = spoil(silver)
      assert(leavesWarehouse(what)(
        OlistVendas.run(spark, silver, gold, buckets = Some(asked))) == "plain", what)
      assertSameBags(goldRows(gold), rowBag(OlistVendas.mart(spark, silver)))
    }
  }

  test("singleObject silver stays one plain file per table, and gold reads it plain") {
    val bronze = tmpDir("sobronze")
    val silver = tmpDir("sosilver")
    val gold = tmpDir("sogold")
    writeBronze(bronze)
    OlistCatalog.all.foreach(IngestJob(_).run(spark, bronze, silver, singleObject = true))
    for (spec <- factSpecs) {
      assert(dataFiles(factDir(silver, spec)).size == 1, spec.name)
      assert(!fs.exists(new Path(factDir(silver, spec), PersistedLayout.StampFile)))
    }
    val w = VendasMart.silverBuckets(spark)
    assert(leavesWarehouse("singleObject")(
      OlistVendas.run(spark, silver, gold, buckets = Some(w))) == "plain")
    assertSameBags(goldRows(gold), rowBag(OlistVendas.mart(spark, silver)))
  }

  /** Whether `plan` reads a file-based relation under `root`. A
    * command's query can sit in its inner children (the JDBC writer's
    * SaveIntoDataSourceCommand), so those are walked too.
    */
  private def scansUnder(plan: LogicalPlan, root: String): Boolean = (plan match {
    case r: LogicalRelation => r.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.exists(_.toUri.getPath.startsWith(root))
      case _ => false
    }
    case _ => false
  }) || (plan.children ++ plan.innerChildren.collect { case p: LogicalPlan => p })
    .exists(scansUnder(_, root))

  test("gold with a JDBC target computes the mart once and mirrors the written parquet") {
    val bronze = tmpDir("jbronze")
    val silver = tmpDir("jsilver")
    val gold = tmpDir("jgold")
    writeBronze(bronze)
    IngestJob.runAll(spark, bronze, silver)
    val t = Sinks.JdbcTarget(s"jdbc:derby:${tmpDir("jdb")}/mirror;create=true", "TB_VENDAS", "", "")
    val silverScans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (scansUnder(qe.analyzed, silver)) silverScans.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerShim.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      assert(OlistVendas.run(spark, silver, gold, Some(t),
        Some(VendasMart.silverBuckets(spark))) == "silver")
      ListenerShim.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(silverScans.get == 1, "executions that scanned silver")
    val mirrored = spark.read.format("jdbc")
      .option("url", t.url).option("dbtable", t.table).load()
    assertSameBags(rowBag(mirrored), goldRows(gold))
    assert(goldRows(gold).values.sum == 3)
  }

  test("a re-ingest over silver a previous JVM left, with no catalog entry, overwrites cleanly") {
    val bronze = tmpDir("ibronze")
    val silver = tmpDir("isilver")
    val gold = tmpDir("igold")
    writeBronze(bronze)
    // Older code's plain silver, then this ingest's layout, each left
    // by a JVM whose catalog is gone.
    OlistCatalog.all.foreach(IngestJob(_).run(spark, bronze, silver, singleObject = true))
    forgetSilverTables()
    IngestJob.runAll(spark, bronze, silver)
    forgetSilverTables()
    // The next delivery adds an item to o2.
    writeCsv(bronze, "olist/order_items",
      "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
      "o1,1,p1,s1,2017-10-06 11:07:15,58.90,13.29",
      "o1,2,p2,s1,2017-10-06 11:07:15,239.90,19.93",
      "o2,1,p1,s1,2018-01-18 14:48:30,199.00,17.87",
      "o2,2,p2,s1,2018-01-18 14:48:30,10.00,1.00")
    IngestJob.runAll(spark, bronze, silver)
    assert(spark.read.parquet(factDir(silver, OlistCatalog.orderItems).toString).count() == 4)
    assert(OlistVendas.run(spark, silver, gold,
      buckets = Some(VendasMart.silverBuckets(spark))) == "silver")
    assert(goldRows(gold).values.sum == 4)
    assertSameBags(goldRows(gold), rowBag(OlistVendas.mart(spark, silver)))
  }

  test("pipeline CLI layout flags: bucketed silver is the default, plain the fallback") {
    import graft.tools.RunPipeline.{bucketsIn, bucketsOf, isLayoutFlag}
    // r18 flip: no flag → bucketed (the measured at-scale winner at
    // every rung since r11), at a width the session resolves.
    assert(bucketsOf(Nil) == Some(None))
    assert(bucketsOf(List("--bucketed-silver=128")) == Some(Some(128)))
    // The no-layout fallback, both spellings (templates pass
    // --bucketed-silver=0 unconditionally and toggle via a variable).
    assert(bucketsOf(List("--plain-silver")).isEmpty)
    assert(bucketsOf(List("--bucketed-silver=0")).isEmpty)
    // Last flag wins, and bare --bucketed-silver keeps the default width.
    assert(bucketsOf(List("--plain-silver", "--bucketed-silver")) == Some(None))
    // A width that is not an integer is rejected, naming the flag.
    for (bad <- Seq("--bucketed-silver=abc", "--bucketed-silver=")) {
      val e = intercept[IllegalArgumentException](bucketsOf(List(bad)))
      assert(e.getMessage.contains("--bucketed-silver"))
    }
    assert(isLayoutFlag("--plain-silver") && isLayoutFlag("--bucketed-silver=4"))
    // The default width is resolved once the session exists: the
    // shuffle width the user set, else a local session's cores (never
    // Spark's unset 200). An explicit width and plain pass through.
    val widthKey = "spark.sql.shuffle.partitions"
    val savedWidth = spark.conf.get(widthKey)
    try {
      spark.conf.set(widthKey, "7")
      assert(bucketsIn(spark, bucketsOf(Nil)).contains(7))
      spark.conf.unset(widthKey)
      assert(spark.sessionState.conf.numShufflePartitions == 200)
      assert(bucketsIn(spark, bucketsOf(Nil)).contains(spark.sparkContext.defaultParallelism))
      // The ingest's keyed silver tables follow the same rule.
      assert(VendasMart.silverBuckets(spark) == spark.sparkContext.defaultParallelism)
    } finally spark.conf.set(widthKey, savedWidth)
    assert(bucketsIn(spark, bucketsOf(List("--bucketed-silver=9"))).contains(9))
    assert(bucketsIn(spark, bucketsOf(List("--plain-silver"))).isEmpty)
    assert(!isLayoutFlag("jdbc:derby:whatever"))
  }
}
