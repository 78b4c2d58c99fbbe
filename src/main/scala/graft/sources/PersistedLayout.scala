package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTableType}
import org.apache.spark.sql.types.StructType

/** A bucketed Parquet layout written once and trusted across sessions
  * by its recorded metadata: the immutable-files-plus-log design of
  * Delta Lake (VLDB 2020, PAPERS.md) cut down to one stamp file.
  *
  * The bucket files carry their bucket ids in their names, but the
  * bucket/sort spec lives in the session catalog, which is in-memory:
  * a new JVM sees the files with no table entry. Spark's answer to
  * "files already bucketed, catalog empty" is external-table DDL
  * (`CREATE TABLE … CLUSTERED BY … INTO n BUCKETS LOCATION path`),
  * which re-registers the files without touching a byte. The stamp,
  * `_graft_src_stamp` next to the bucket files, says when that is
  * safe: it records the writer's fingerprint (whatever the caller says
  * the layout was built from and at what width) plus the layout's own
  * data-file count, and a layout is reused only when both still match.
  *
  * Two users: [[graft.operators.VendasMart.ensureBucketedSilver]]
  * (managed warehouse tables, fingerprinted by the source corpus
  * listing) and the ingest's `order_id`-keyed silver tables
  * ([[IngestJob.load]], external tables at the silver path,
  * fingerprinted by their own file listing).
  */
object PersistedLayout {

  val StampFile = "_graft_src_stamp"

  /** The default warehouse location of a managed table. */
  def warehousePath(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  /** A data file as Spark reads it: `_`/`.`-prefixed names (commit
    * markers, checksums, the stamp itself) are not data.
    */
  private def isData(s: FileStatus): Boolean = {
    val name = s.getPath.getName
    s.isFile && !name.startsWith("_") && !name.startsWith(".")
  }

  /** Every data file under `root`, recursively, as sorted
    * `path length mtime` lines: the cheapest fingerprint that still
    * catches a rewritten or regenerated directory. Empty if `root` is
    * missing.
    */
  def listing(spark: SparkSession, root: Path): Seq[String] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files)
      else Seq(s).filter(isData)
    if (fs.exists(root)) files(fs.getFileStatus(root))
      .sortBy(_.getPath.toString)
      .map(s => s"${s.getPath} ${s.getLen} ${s.getModificationTime}")
    else Nil
  }

  /** The layout's own fingerprint line: the count of data files
    * directly under `dir`. Recorded at stamp time and re-checked at
    * re-register, so a partly deleted layout never silently reuses
    * (Spark would scan the surviving files and return fewer rows).
    */
  private def layoutLine(fs: FileSystem, dir: Path): String =
    s"layoutFiles=${fs.listStatus(dir).count(isData)}"

  /** Stamp the freshly written layout at `dir` with `fingerprint`. */
  def stamp(spark: SparkSession, dir: Path, fingerprint: String): Unit = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, StampFile), true)
    try out.write(s"$fingerprint\n${layoutLine(fs, dir)}".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Make `table` the session's name for the bucketed layout at `dir`,
    * if the layout's stamp still matches `fingerprint`.
    *
    * A catalog entry already over `dir` at this bucket spec is kept
    * (its cached file listing refreshed); an entry at another spec over
    * `dir` is refused, since the catalog and the files disagree; an
    * external entry elsewhere is dropped (its files stay) and the name
    * re-registered over `dir` with external-table DDL.
    *
    * @return true iff `table` now reads the layout at `dir`.
    */
  def reRegister(spark: SparkSession, table: String, dir: Path, bucketCol: String,
      schema: StructType, nBuckets: Int, fingerprint: String): Boolean = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stampPath = new Path(dir, StampFile)
    val recorded =
      try {
        if (!fs.exists(stampPath)) return false
        val in = fs.open(stampPath)
        try new String(IOUtils.readFullyToByteArray(in), StandardCharsets.UTF_8)
        finally in.close()
      } catch { case _: java.io.IOException => return false }
    if (recorded != s"$fingerprint\n${layoutLine(fs, dir)}") return false
    val catalog = spark.sessionState.catalog
    val id = TableIdentifier(table)
    val location = fs.makeQualified(dir)
    if (catalog.tableExists(id)) {
      val meta = catalog.getTableMetadata(id)
      if (meta.location == location.toUri) {
        val held = meta.bucketSpec.contains(BucketSpec(nBuckets, Seq(bucketCol), Seq(bucketCol)))
        if (held) spark.catalog.refreshTable(table)
        return held
      }
      if (meta.tableType != CatalogTableType.EXTERNAL) return false
      spark.sql(s"DROP TABLE $table")
    }
    spark.sql(
      s"""CREATE TABLE $table (${schema.toDDL}) USING PARQUET
         |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
         |INTO $nBuckets BUCKETS
         |LOCATION '$location'""".stripMargin)
    true
  }

  /** Delete a managed table's location that exists on disk but has no
    * catalog entry. `saveAsTable` in `overwrite` mode only overwrites a
    * table the catalog knows; with the in-memory catalog, a warehouse
    * directory a previous JVM left (killed run, fresh session over the
    * same repo) has none, and the write fails with
    * LOCATION_ALREADY_EXISTS instead of overwriting. A table the
    * catalog does know follows the normal overwrite path untouched.
    */
  def clearStaleLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) dropLocation(spark, table)

  /** Unconditionally delete a table's default warehouse location: the
    * rebuild-path companion to a `DROP TABLE IF EXISTS` (dropping an
    * EXTERNAL table leaves its files, and the managed CTAS into the
    * non-empty location would then throw).
    */
  def dropLocation(spark: SparkSession, table: String): Unit = {
    val path = warehousePath(spark, table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }
}
