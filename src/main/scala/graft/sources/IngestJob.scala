package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.net.URI
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.VendasMart

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
  *     Parquet write to the silver root (s3a:// URI at scale — same
  *     code path); the two `order_id`-keyed fact tables are written
  *     bucketed on it (see [[load]]).
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
    * Each file's header is read once, on the driver ([[IngestJob.headers]]),
    * and parsed as Spark's CSV reader parses it. The read declares the
    * all-string schema those names give and keeps `header=true`, so
    * every file's header row is still skipped, and Spark starts no job
    * to learn the names: this method starts no Spark job at all.
    *
    * One CSV read maps every file by one header, so a prefix whose
    * files disagree on their headers is read per header: the files are
    * grouped by their parsed names, each group is read and aligned on
    * its own, and the groups are unioned. A prefix with one header
    * stays a single read of the prefix. Files with no header line give
    * no rows; a prefix of only such files gives the declared columns
    * and no rows.
    */
  def extract(spark: SparkSession, bronzeRoot: String): DataFrame = {
    def read(names: Seq[String], paths: String*): DataFrame = align(spark.read
      .schema(IngestJob.stringSchema(names))
      .options(IngestJob.csvOptions)
      .option("mode", "PERMISSIVE")
      .csv(paths: _*))
    val prefix = s"$bronzeRoot/${spec.prefix}"
    val byHeader = IngestJob.headers(spark, prefix)
      .groupMap(_._2)(_._1).removed(Nil).toSeq
    byHeader match {
      case Seq() => align(spark.createDataFrame(java.util.List.of[Row](), StructType(Nil)))
      case Seq((names, _)) => read(names, prefix)
      case groups => groups.sortBy(_._2.head)
        .map { case (names, files) => read(names, files: _*) }
        .reduce(_ union _)
    }
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

  /** Silver sink at `<silverRoot>/<prefix>`.
    *
    * A spec with a `bucketKey` is written in the layout the gold mart's
    * fact join reads: [[PersistedLayout.write]] buckets and sorts it on
    * the key at [[VendasMart.silverBuckets]], one file per bucket, as
    * an external table at the silver prefix. That is the same Parquet
    * at the same path, so plain readers (the checks, `--plain-silver`
    * gold, the incremental mart) are unaffected. The ingest pays the
    * key's shuffle once; every gold run then joins bucket to bucket
    * without re-writing either fact table. The layout's stamp records
    * the key, the width and the table's own file listing, so that gold
    * in another JVM can re-register the files, and a rewritten or
    * partly deleted directory never matches.
    *
    * `singleObject = true` mirrors the reference's
    * one-parquet-object-per-table layout (`…customer…py:71-78`) for
    * small tables and writes plain Parquet; leave it false at scale so
    * every executor writes its partition.
    */
  def load(df: DataFrame, silverRoot: String, singleObject: Boolean = false): Unit = {
    val spark = df.sparkSession
    val dir = IngestJob.silverDir(silverRoot, spec)
    (if (singleObject) None else spec.bucketKey) match {
      case Some(key) =>
        val n = VendasMart.silverBuckets(spark)
        PersistedLayout.write(df, IngestJob.silverTable(spec), dir, key, n,
          IngestJob.fingerprint(spark, dir, key, n))
      case None =>
        val out = if (singleObject) df.coalesce(1) else df
        out.write.mode("overwrite").parquet(dir.toString)
    }
  }

  /** The session's table name for this spec's ingest-written layout at
    * `silverRoot`, if the files there are that layout at width `n`
    * (their stamp matches); re-registered from the stamp when the
    * catalog does not hold it there, as in a new JVM.
    */
  private[graft] def bucketedTable(spark: SparkSession, silverRoot: String,
      n: Int): Option[String] = {
    val dir = IngestJob.silverDir(silverRoot, spec)
    val table = IngestJob.silverTable(spec)
    spec.bucketKey.filter(key => PersistedLayout.reRegister(spark, table, dir, key,
      silverSchema(spark), n, IngestJob.fingerprint(spark, dir, key, n))).map(_ => table)
  }

  /** The schema [[run]] writes, from analysing the pipeline over an
    * empty all-string frame: no file is read.
    */
  private[graft] def silverSchema(spark: SparkSession): StructType =
    transform(align(spark.createDataFrame(java.util.List.of[Row](),
      IngestJob.stringSchema(spec.schema.fieldNames.toSeq)))).schema

  /** extract → transform → load, one Spark job (the reference's four
    * Airflow tasks with their process boundaries and /tmp IR removed).
    */
  def run(spark: SparkSession, bronzeRoot: String, silverRoot: String,
      singleObject: Boolean = false): Unit =
    load(transform(extract(spark, bronzeRoot)), silverRoot, singleObject)
}

object IngestJob {
  def apply(spec: TableSpec): IngestJob = new IngestJob(spec)

  /** Catalog name of a keyed spec's silver table. One name per spec:
    * an ingest into another silver root re-points it there.
    */
  private[graft] def silverTable(spec: TableSpec): String = s"olist_silver_${spec.name}"

  private def silverDir(silverRoot: String, spec: TableSpec): Path =
    new Path(s"$silverRoot/${spec.prefix}")

  /** What a keyed silver table's stamp records: its bucket key and
    * width, then its own data-file listing.
    */
  private def fingerprint(spark: SparkSession, dir: Path, key: String, n: Int): String =
    (s"bucketBy=$key buckets=$n" +: PersistedLayout.listing(spark, dir)).mkString("\n")

  /** The CSV options of every bronze read. [[headers]] parses with
    * them too, so the names it gives are the names the read would infer.
    */
  private[graft] val csvOptions: Map[String, String] = Map("header" -> "true", "sep" -> ",")

  /** Every file under `prefix`, sorted, with the column names Spark's
    * CSV reader gives its header: the line is parsed as CSV (quoted
    * names, a quoted comma) and made safe as
    * `TextInputCSVDataSource.inferFromDataset` makes it, so blank and
    * duplicate names come out as they do when Spark infers them. Nil
    * for a file with no header line.
    */
  private[graft] def headers(spark: SparkSession, prefix: String): Seq[(String, Seq[String])] = {
    val opts = new CSVOptions(csvOptions,
      spark.sessionState.conf.csvColumnPruning, spark.sessionState.conf.sessionLocalTimeZone)
    val parser = new CsvParser(opts.asParserSettings)
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    spark.read.text(prefix).inputFiles.toSeq
      .map(f => new Path(new URI(f)).toString).sorted
      .map(f => f -> firstLine(spark, f).flatMap(l => Option(parser.parseLine(l)))
        .fold(Seq.empty[String])(CSVUtils.makeSafeHeader(_, caseSensitive, opts).toSeq))
  }

  /** The all-string schema a CSV read with these header names declares. */
  private[graft] def stringSchema(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType)))

  /** A file's first non-blank line (its CSV header), read through
    * Hadoop's FileSystem and the codec its extension names, as Spark
    * reads it: a leading UTF-8 byte-order mark is dropped, as Hadoop's
    * `LineRecordReader` drops it. None for a file with no such line.
    */
  private def firstLine(spark: SparkSession, file: String): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(file)
    val raw = path.getFileSystem(conf).open(path)
    val in = Option(new CompressionCodecFactory(conf).getCodec(path))
      .fold[InputStream](raw)(_.createInputStream(raw))
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try (Option(reader.readLine()).map(_.stripPrefix("\uFEFF")).iterator ++
      Iterator.continually(reader.readLine()).takeWhile(_ != null)).find(_.trim.nonEmpty)
    finally reader.close()
  }

  /** Run all eight bronze→silver jobs (the whole reference b2s layer),
    * one after another in this application.
    */
  def runAll(spark: SparkSession, bronzeRoot: String, silverRoot: String): Unit =
    OlistCatalog.all.foreach(IngestJob(_).run(spark, bronzeRoot, silverRoot))
}
