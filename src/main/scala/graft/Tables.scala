package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Catalog of the harness star-schema tables (see TESTDATA.md /
  * FIXTURES.md §A). One parquet file per table under `sfDir`.
  *
  * Mirrors the reference's dataset catalog (SURVEY.md §1): the silver
  * layer is "one Parquet object per table" (reference
  * `scripts/bronze_to_silver/ingestion_customer_bronze_to_silver.py:74-78`);
  * here the scale-factor directory plays the role of the silver bucket.
  *
  * Scans stay lazy Parquet read handles — Catalyst prunes columns
  * and pushes predicates into the vectorized parquet reader, so callers
  * should `.select`/`.filter` directly on these frames rather than
  * materializing them. At cluster scale the same accessors work on
  * `s3a://` paths unchanged. A table's first read in a session infers
  * its schema, which costs a Spark job to read a Parquet footer; later
  * reads declare that schema ([[table]]).
  */
object Tables {

  /** Per (session, table path): the data files the inferring read's
    * file index listed, as (path, length, mtime), and the schema it
    * inferred from them.
    */
  private val schemas =
    TrieMap.empty[(SparkSession, String), (Seq[(String, Long, Long)], StructType)]

  /** The Parquet table `name` under `sfDir`. The first read in a session
    * infers the schema; a later read declares the schema memoized for
    * the path and keeps it only while its own file index lists the same
    * data files, so a table rewritten in place is inferred again and a
    * hit lists the files no more often than an inferring read does.
    * Entries of stopped sessions are swept on every read.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    schemas.keySet.foreach { k =>
      if (k._1.sparkContext.isStopped) schemas.remove(k)
    }
    val path = s"$sfDir/$name.parquet"
    schemas.get((spark, path))
      .flatMap { case (files, schema) =>
        Some(spark.read.schema(schema).parquet(path)).filter(dataFiles(_) == files) }
      .getOrElse {
        val df = spark.read.parquet(path)
        schemas.put((spark, path), (dataFiles(df), df.schema))
        df
      }
  }

  /** The data files a read's file index listed for it: no new listing. */
  private def dataFiles(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    }.flatten.sorted

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** `events.parquet` has stored `ts` two ways across harness data
    * generations: TIMESTAMP(NANOS) — which the Spark vectorized reader
    * rejects ([PARQUET_TYPE_ILLEGAL]), so it is read as raw int64 nanos
    * via `nanosAsLong` and integer-divided down to microseconds — and
    * plain TIMESTAMP(MICROS) without UTC adjustment, which Spark reads
    * as TIMESTAMP_NTZ. Both normalize here to session-TZ TimestampType
    * at microsecond precision (sessions pin UTC), the same naive-micro
    * value DuckDB sees reading the identical file, so both engines and
    * both data generations agree cell-for-cell.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Guard only (no-op for sessions built via GraftSession.configure,
    // i.e. every library entry point): the driver smoke-checks
    // SparkEntry.entry with a session the library didn't build, and a
    // nanos-generation events file fails at schema time without it.
    GraftSession.ensureNanosAsLong(spark)
    normalizeTs(table(spark, sfDir, "events"))
  }

  /** Normalize a `ts` column to TimestampType whatever the on-disk
    * physical type was (int64 nanos / TIMESTAMP_NTZ micros / already
    * TimestampType). The nanos branch is TZ-independent; the NTZ cast
    * is a pure reinterpretation only when the session time zone is
    * UTC, which is asserted here (every entry point pins it) rather
    * than assumed — in a non-UTC session the two data generations
    * would otherwise silently disagree by the zone offset.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events NTZ->timestamp normalization requires a UTC session, got $tz " +
            "(build the session via GraftSession.configure)")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
