package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._

import graft.sources.{IngestJob, OlistCatalog, TableSpec}

/** Bronze→silver ingest semantics pinned against the reference's
  * pandas behavior (SURVEY.md §1–2.1): multi-file union, by-name
  * alignment of drifting CSV schemas, effective timestamp casts, and
  * the pandas→Spark divergence on unparseable timestamps (null, not
  * raise) that SURVEY.md §7 says to pin.
  */
class IngestSpec extends SparkSpec {

  private def writeCsv(dir: String, name: String, lines: String*): Unit = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("\n"))
  }

  test("multi-file CSV extract unions all objects under the prefix") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    writeCsv(d, "a.csv",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      "c1,u1,01310,sao paulo,SP")
    writeCsv(d, "b.csv",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      "c2,u2,20040,rio de janeiro,RJ",
      "c3,u3,30110,belo horizonte,MG")
    val df = IngestJob(OlistCatalog.customers).extract(spark, bronze)
    assert(df.count() == 3)
    assert(df.columns.toSeq == OlistCatalog.customers.schema.fieldNames.toSeq)
  }

  test("alignment: reordered and extra CSV columns align by name; missing -> null") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    // Reordered, one extra column, one declared column missing.
    writeCsv(d, "drift.csv",
      "customer_city,customer_id,bonus_col,customer_state",
      "osasco,c9,zzz,SP")
    val df = IngestJob(OlistCatalog.customers).extract(spark, bronze)
    val r = df.head()
    assert(df.columns.toSeq == OlistCatalog.customers.schema.fieldNames.toSeq)
    assert(r.getAs[String]("customer_id") == "c9")
    assert(r.getAs[String]("customer_city") == "osasco")
    assert(r.isNullAt(df.columns.indexOf("customer_unique_id")))
    assert(!df.columns.contains("bonus_col"))
  }

  test("mixed headers in one prefix: every file aligns by its own header") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    val declared = OlistCatalog.customers.schema.fieldNames.toSeq
    writeCsv(d, "a.csv", declared.mkString(","),
      "c1,u1,01310,sao paulo,SP")
    writeCsv(d, "b.csv", declared.reverse.mkString(","),
      "RJ,rio de janeiro,20040,u2,c2")
    writeCsv(d, "c.csv", (declared :+ "ingest_note").mkString(","),
      "c3,u3,30110,belo horizonte,MG,late")
    val df = IngestJob(OlistCatalog.customers).extract(spark, bronze)
    assert(df.columns.toSeq == declared)
    val rows = df.collect().map(r => declared.map(r.getAs[String]))
      .sortBy(_.head).toSeq
    assert(rows == Seq(
      Seq("c1", "u1", "01310", "sao paulo", "SP"),
      Seq("c2", "u2", "20040", "rio de janeiro", "RJ"),
      Seq("c3", "u3", "30110", "belo horizonte", "MG")))
  }

  test("align is source-agnostic: JSON-lines bronze aligns to the same silver schema") {
    val bronze = tmpDir("bronze_json")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bronze))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(bronze, "a.jsonl"),
      // Extra field, one declared field missing, fields out of order —
      // the same drift the CSV tests pin.
      """{"customer_city":"campinas","customer_id":"c7","surprise":1}
        |{"customer_id":"c8","customer_unique_id":"u8","customer_state":"SP"}
        |""".stripMargin)
    val raw = spark.read.json(bronze)
    val df = IngestJob(OlistCatalog.customers).align(raw)
    assert(df.columns.toSeq == OlistCatalog.customers.schema.fieldNames.toSeq)
    val byId = df.collect().map(r => r.getAs[String]("customer_id") -> r).toMap
    assert(byId("c7").getAs[String]("customer_city") == "campinas")
    assert(byId("c7").isNullAt(df.columns.indexOf("customer_state")))
    assert(byId("c8").getAs[String]("customer_unique_id") == "u8")
    assert(!df.columns.contains("surprise"))
  }

  test("transform casts tsCols to timestamp; garbage -> null (pinned divergence)") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/orders"
    writeCsv(d, "o.csv",
      OlistCatalog.orders.schema.fieldNames.mkString(","),
      "o1,c1,delivered,2017-10-02 10:56:33,2017-10-02 11:07:15,,,2017-10-10 00:00:00",
      "o2,c2,shipped,not-a-date,,,,")
    val job = IngestJob(OlistCatalog.orders)
    val df = job.transform(job.extract(spark, bronze)).orderBy("order_id")
    assert(df.schema("order_purchase_timestamp").dataType == TimestampType)
    val rows = df.collect()
    assert(rows(0).getAs[java.sql.Timestamp]("order_purchase_timestamp").toString
      .startsWith("2017-10-02 10:56:33"))
    assert(rows(1).isNullAt(df.columns.indexOf("order_purchase_timestamp")))
  }

  test("load writes silver parquet that round-trips the schema") {
    val bronze = tmpDir("bronze")
    val silver = tmpDir("silver")
    val d = s"$bronze/olist/order_items"
    writeCsv(d, "i.csv",
      OlistCatalog.orderItems.schema.fieldNames.mkString(","),
      "o1,1,p1,s1,2017-10-06 11:07:15,58.9,13.29",
      "o1,2,p2,s1,2017-10-06 11:07:15,239.9,19.93")
    IngestJob(OlistCatalog.orderItems).run(spark, bronze, silver, singleObject = true)
    val back = spark.read.parquet(s"$silver/olist/order_items")
    assert(back.count() == 2)
    assert(back.schema("price").dataType == DoubleType)
    assert(back.schema("shipping_limit_date").dataType == TimestampType)
    // singleObject layout: exactly one data file, like the reference.
    val files = new java.io.File(s"$silver/olist/order_items")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
  }

  test("permissive mode: malformed rows yield typed nulls, not failures") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/order_items"
    writeCsv(d, "bad.csv",
      OlistCatalog.orderItems.schema.fieldNames.mkString(","),
      "o1,1,p1,s1,2017-10-06 11:07:15,58.9,13.29",
      "o2,not-an-int,p2,s2,2017-10-06 11:07:15,not-a-double,1.0")
    val df = IngestJob(OlistCatalog.orderItems).extract(spark, bronze)
      .orderBy("order_id")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("price") == 58.9)
    // Malformed cells align to null under the declared types.
    assert(rows(1).isNullAt(df.columns.indexOf("order_item_id")))
    assert(rows(1).isNullAt(df.columns.indexOf("price")))
    assert(rows(1).getAs[Double]("freight_value") == 1.0)
  }

  private val customerHeader =
    OlistCatalog.customers.schema.fieldNames.mkString(",")

  private def customerRows(bronze: String): Seq[Seq[String]] = {
    val df = IngestJob(OlistCatalog.customers).extract(spark, bronze)
    assert(df.columns.toSeq == OlistCatalog.customers.schema.fieldNames.toSeq)
    df.collect().map(r => df.columns.toSeq.map(r.getAs[String])).sortBy(_.head).toSeq
  }

  test("a header with a UTF-8 byte-order mark names its first column without it") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    writeCsv(d, "a.csv", "\uFEFF" + customerHeader, "c1,u1,01310,sao paulo,SP")
    writeCsv(d, "b.csv", customerHeader, "c2,u2,20040,rio de janeiro,RJ")
    assert(customerRows(bronze) == Seq(
      Seq("c1", "u1", "01310", "sao paulo", "SP"),
      Seq("c2", "u2", "20040", "rio de janeiro", "RJ")))
  }

  test("quoted header names and a quoted comma inside a data cell parse as CSV") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    writeCsv(d, "a.csv",
      OlistCatalog.customers.schema.fieldNames.map(n => s""""$n"""").mkString(","),
      "c1,u1,01310,\"sao paulo, centro\",SP")
    writeCsv(d, "b.csv", customerHeader, "c2,u2,20040,\"rio, de janeiro\",RJ")
    assert(customerRows(bronze) == Seq(
      Seq("c1", "u1", "01310", "sao paulo, centro", "SP"),
      Seq("c2", "u2", "20040", "rio, de janeiro", "RJ")))
  }

  test("an empty file among data files adds no rows") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    writeCsv(d, "a.csv", customerHeader, "c1,u1,01310,sao paulo,SP")
    writeCsv(d, "b.csv")
    writeCsv(d, "c.csv", customerHeader.split(",").reverse.mkString(","),
      "RJ,rio de janeiro,20040,u2,c2")
    assert(customerRows(bronze) == Seq(
      Seq("c1", "u1", "01310", "sao paulo", "SP"),
      Seq("c2", "u2", "20040", "rio de janeiro", "RJ")))
  }

  test("a prefix of only empty files gives the declared columns and no rows") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    writeCsv(d, "a.csv")
    writeCsv(d, "b.csv")
    assert(customerRows(bronze).isEmpty)
  }

  test("a duplicated declared name in a header is renamed on both copies and reads null") {
    val bronze = tmpDir("bronze")
    val d = s"$bronze/olist/customers"
    // Spark's safe header names the copies customer_id0 and
    // customer_id2, so neither matches the declared column.
    writeCsv(d, "a.csv", "customer_id,customer_unique_id,customer_id",
      "c1,u1,c1b")
    assert(customerRows(bronze) == Seq(Seq(null, "u1", null, null, null)))
  }

  test("extract starts no Spark job, for one header or for three") {
    val bronze1 = tmpDir("bronze")
    writeCsv(s"$bronze1/olist/customers", "a.csv", customerHeader,
      "c1,u1,01310,sao paulo,SP")
    writeCsv(s"$bronze1/olist/customers", "b.csv", customerHeader,
      "c2,u2,20040,rio de janeiro,RJ")
    val bronze3 = tmpDir("bronze")
    val declared = OlistCatalog.customers.schema.fieldNames.toSeq
    writeCsv(s"$bronze3/olist/customers", "a.csv", declared.mkString(","),
      "c1,u1,01310,sao paulo,SP")
    writeCsv(s"$bronze3/olist/customers", "b.csv", declared.reverse.mkString(","),
      "RJ,rio de janeiro,20040,u2,c2")
    writeCsv(s"$bronze3/olist/customers", "c.csv", (declared :+ "note").mkString(","),
      "c3,u3,30110,belo horizonte,MG,late")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsIn(bronze: String): Int = {
      ListenerShim.drain(spark.sparkContext)
      jobs.set(0)
      IngestJob(OlistCatalog.customers).extract(spark, bronze)
      ListenerShim.drain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsIn(bronze1) == 0, "jobs for one header")
      assert(jobsIn(bronze3) == 0, "jobs for three headers")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
