package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.net.URI
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** One parameterized bronze→silver ingest job — the Spark-first
  * re-expression of the reference's eight near-identical DAG scripts
  * (`scripts/bronze_to_silver/ingestion_*_bronze_to_silver.py`, each
  * ~100 LoC of extract → [transform] → load → clean).
  *
  * Mapping of the reference stages (SURVEY.md §2.1):
  *   - S1 object listing + S2 per-object CSV parse + the `pd.concat`
  *     union (`…customer…py:38-58`) collapse into ONE multi-file
  *     `spark.read.csv` over the prefix glob — Hadoop's FileSystem does
  *     the listing, every file becomes input splits, and the union is
  *     implicit. At 100 TB this is the difference between a
  *     driver-side download loop and a fully parallel scan.
  *   - the declared-header trick (empty frame seeded with column names,
  *     `…customer…py:35`) becomes an explicit by-name alignment:
  *     declared columns are selected (missing → typed null), so a CSV
  *     with extra or reordered columns aligns instead of erroring —
  *     the same permissive semantics `pd.concat` gives.
  *   - S4 `/tmp` CSV staging + re-read (`…customer…py:61-68`) has no
  *     equivalent: stages pipeline inside one job, no disk round-trip.
  *   - the transform task's `pd.to_datetime` (dead store in the
  *     reference, `…orders…py:66-81`; see SURVEY.md §1 quirk) is made
  *     effective here: `tsCols` are cast to TimestampType in silver.
  *   - S5+S6 parquet-to-bucket (`…customer…py:71-78`) become a direct
  *     `write.parquet` to the silver root (s3a:// URI at scale —
  *     same code path).
  *   - S8 cleanup is unnecessary (no staging files).
  */
final class IngestJob(spec: TableSpec) {

  /** Multi-file CSV extract with permissive by-name alignment to the
    * declared schema. Columns are read as strings in ONE pass (no
    * `inferSchema`, which would force a second full scan of the bronze
    * prefix just to guess types the declared schema already states);
    * [[align]]'s `try_cast` then applies the declared types, which is
    * also where pandas-style per-cell leniency lives. Header names
    * still drive the by-name alignment, so reordered/extra/missing
    * columns behave identically to the inferring variant.
    *
    * One CSV read maps every file by the FIRST file's header, so a
    * prefix whose files disagree on their headers is read per header:
    * the files are grouped by their first line, each group is read and
    * aligned on its own, and the groups are unioned. A prefix with one
    * header stays a single read.
    */
  def extract(spark: SparkSession, bronzeRoot: String): DataFrame = {
    val reader = spark.read
      .option("header", true)
      .option("sep", ",")
      .option("mode", "PERMISSIVE")
    val prefix = s"$bronzeRoot/${spec.prefix}"
    val byHeader = spark.read.text(prefix).inputFiles.toSeq
      .map(f => new Path(new URI(f)).toString).sorted
      .groupBy(IngestJob.firstLine(spark, _))
    if (byHeader.size <= 1) align(reader.csv(prefix))
    else byHeader.values.toSeq.sortBy(_.head)
      .map(files => align(reader.csv(files: _*)))
      .reduce(_ union _)
  }

  /** By-name alignment: every declared column selected (cast to its
    * declared type when present, typed null when absent). Extra CSV
    * columns are dropped — the declared header is the contract, as in
    * the reference's seeded empty frame. `try_cast` keeps the
    * alignment permissive: a malformed cell becomes a typed null
    * instead of failing the job under ANSI mode (at 100 TB one bad
    * row must never kill an ingest).
    */
  def align(raw: DataFrame): DataFrame = {
    val present = raw.columns.toSet
    spec.schema.fields.toSeq.map { f =>
      if (present.contains(f.name)) col(f.name).try_cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } match { case cols => raw.select(cols: _*) }
  }

  /** The (made-effective) transform: parse `tsCols` to timestamps.
    * Olist timestamps are `yyyy-MM-dd HH:mm:ss`, which default-parses;
    * garbage yields null via `try_to_timestamp` (plain `to_timestamp`
    * throws under Spark 4 ANSI mode; pandas would raise — pinned
    * divergence, IngestSpec).
    */
  def transform(df: DataFrame): DataFrame =
    spec.tsCols.foldLeft(df)((d, c) => d.withColumn(c, try_to_timestamp(col(c))))

  /** Silver sink. `singleObject = true` mirrors the reference's
    * one-parquet-object-per-table layout (`…customer…py:71-78`) for
    * small tables; leave it false at scale so every executor writes its
    * partition.
    */
  def load(df: DataFrame, silverRoot: String, singleObject: Boolean = false): Unit = {
    val out = if (singleObject) df.coalesce(1) else df
    out.write.mode("overwrite").parquet(s"$silverRoot/${spec.prefix}")
  }

  /** extract → transform → load, one Spark job (the reference's four
    * Airflow tasks with their process boundaries and /tmp IR removed).
    */
  def run(spark: SparkSession, bronzeRoot: String, silverRoot: String,
      singleObject: Boolean = false): Unit =
    load(transform(extract(spark, bronzeRoot)), silverRoot, singleObject)
}

object IngestJob {
  def apply(spec: TableSpec): IngestJob = new IngestJob(spec)

  /** A file's first line (its CSV header), read through Hadoop's
    * FileSystem and the codec its extension names, as Spark reads it;
    * empty for an empty file.
    */
  private def firstLine(spark: SparkSession, file: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(file)
    val raw = path.getFileSystem(conf).open(path)
    val in = Option(new CompressionCodecFactory(conf).getCodec(path))
      .fold[InputStream](raw)(_.createInputStream(raw))
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try Option(reader.readLine()).fold("")(_.stripSuffix("\r"))
    finally reader.close()
  }

  /** Run all eight bronze→silver jobs (the whole reference b2s layer). */
  def runAll(spark: SparkSession, bronzeRoot: String, silverRoot: String): Unit =
    OlistCatalog.all.foreach(IngestJob(_).run(spark, bronzeRoot, silverRoot))
}
