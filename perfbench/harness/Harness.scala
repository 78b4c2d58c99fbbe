package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.operators._
import graft.plans.GraftExtensions
import graft.sources.{IngestJob, OlistCatalog, OlistVendas}

/** The benchmark's JVM side: runs one pass of a workload as a closed
  * loop from a single client thread in this fresh JVM, and writes the
  * raw record (timings, failures, spans) as JSON. `perfbench/run.py`
  * generates the inputs, starts one JVM per pass, checks the outputs
  * and turns the records into metrics.
  *
  *   Harness <workload> <dataDir> <sessionWarmDir> <workDir> <pass> <trace> <out.json>
  *
  * A workload is a sequence of parts, each run in a fresh session of its
  * own. Set-up is `GraftSession.configure` plus the warm-up query over the
  * tiny `sessionWarmDir`. A part runs its one-time build phase, then its
  * operations. The pass is timed as a scheduled batch task meets it: in
  * a JVM that has run nothing before, so class loading, JIT and code
  * generation are part of the time. Its outputs are kept under
  * `<workDir>/check/it<pass>` for the correctness check. With `trace` =
  * 1 the pass records spans and engine counters. Untraced, set-up is
  * then timed `SetupProbes` times with the default configuration, after
  * one untimed probe.
  */
object Harness {
  val Cores = 4
  val SetupProbes = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, sessionWarmDir, workDir, passArg, traceArg, outPath) = args
    val pass = passArg.toInt
    val tracing = traceArg == "1"
    val work = new File(workDir).getAbsoluteFile
    val rec = new Record
    val parts = workloads(workload)
    rec.queries(parts.collect { case q: QuerySweep => q.names }.flatten)

    calibrate()
    (1 to 2).foreach(_ => rec.extra("calibration_s", calibrate()))
    val heap = new HeapPeak
    heap.start()
    val res = parts.zipWithIndex.map { case (part, pi) =>
      val tr = new Tracer(tracing)
      val dir = new File(work, s"it$pass-$pi")
      val out = new File(work, s"check/it$pass")
      val listener = if (tracing) Some(new JobListener) else None
      val spark = tr.span("session.configure") {
        val s = session(dir, part.conf)
        // The span began before its context existed: bind its job group
        // now, so the warm-up query's jobs are charged to it.
        listener.foreach(s.sparkContext.addSparkListener)
        tr.bind()
        warmUp(s, sessionWarmDir)
        s
      }
      try {
        val r = part.iteration(spark, dataDir, out, tr, rec)
        drain(spark)
        if (tracing) part.probes(spark, dataDir, tr, rec)
        drain(spark)
        listener.foreach(l => rec.spans(tr, l))
        r
      } finally {
        spark.stop()
        deleteTree(dir)
      }
    }
    rec.iteration(pass, tracing, res.reduce(_ + _), heap.finish())
    (1 to 2).foreach(_ => rec.extra("calibration_s", calibrate()))
    (0 to (if (tracing) -1 else SetupProbes)).foreach { i =>
      val dir = new File(work, s"setup$i")
      val t0 = System.nanoTime()
      val s = session(dir, Map.empty)
      warmUp(s, sessionWarmDir)
      s.stop()
      if (i > 0) rec.setup((System.nanoTime() - t0) / 1e9)
      deleteTree(dir)
    }
    Files.writeString(Paths.get(outPath), rec.json)
  }

  /** Spark's execution memory for the star-schema part, shrunk (through
    * the memory manager's size, not the heap) so that its joins and
    * aggregates work on more data than fits, as the sf30 legs did on
    * 32 cores with 8 GB.
    */
  val OlapMemory = Map("spark.testing.memory" -> (48L << 20).toString,
    "spark.testing.reservedMemory" -> "0")

  def workloads(name: String): Seq[Workload] = name match {
    case "medallion" => Seq(new Medallion)
    case "sweep" => Seq(olap, corpus)
    case other => sys.error(s"unknown workload $other")
  }

  def olap: QuerySweep = new QuerySweep(olapFamilies, OlapMemory) {
    def build(s: SparkSession, dir: String, tr: Tracer, rec: Record): Unit = {
      tr.span("mart.layout")(VendasMart.ensureBucketedSilver(s, dir))
      tr.span("mart.join_stats")(VendasMart.martJoinStats(s, dir))
    }
    def stored(s: SparkSession, dir: String): (Long, Long) = (dirBytes(warehouse(s)),
      dirBytes(new File(dir, "lineitem.parquet")) + dirBytes(new File(dir, "orders.parquet")))
  }

  def corpus: QuerySweep = new QuerySweep(corpusFamilies, Map.empty) {
    def build(s: SparkSession, dir: String, tr: Tracer, rec: Record): Unit = {
      tr.span("index.prewarm") {
        val t0 = System.nanoTime()
        val phases = Dedup.prewarmTimed(s, dir)
        tr.phases(t0, phases.map { case (n, d) => s"index.$n" -> d })
      }
      rec.extra("index.resident_mb", residentBytes(s) / 1e6)
    }
    def stored(s: SparkSession, dir: String): (Long, Long) = (residentBytes(s),
      dirBytes(new File(dir, "documents.parquet")) + dirBytes(new File(dir, "embeddings.parquet")))
    override def probes(s: SparkSession, dir: String, tr: Tracer, rec: Record): Unit =
      exprProbes(s, dir, tr, rec)
  }

  // ---- workloads -----------------------------------------------------------

  /** One part's timings; `stored` and `input` are bytes. */
  final case class IterResult(build: Double, ops: Seq[(String, Option[Double])], work: Double,
      stored: Long, input: Long) {
    def +(o: IterResult): IterResult =
      IterResult(build + o.build, ops ++ o.ops, work + o.work, stored + o.stored, input + o.input)
  }

  trait Workload {
    def conf: Map[String, String] = Map.empty
    def iteration(spark: SparkSession, dir: String, out: File, tr: Tracer, rec: Record): IterResult
    def probes(spark: SparkSession, dir: String, tr: Tracer, rec: Record): Unit = ()
  }

  /** bronze CSV → silver Parquet (the eight `IngestJob`s, in
    * `IngestJob.runAll` order) → the bucketed vendas gold mart
    * (`OlistVendas.run` with the `RunPipeline gold` default layout).
    */
  final class Medallion extends Workload {
    def iteration(spark: SparkSession, bronze: String, out: File, tr: Tracer,
        rec: Record): IterResult = {
      val silver = new File(out, "silver").getPath
      val gold = new File(out, "gold").getPath
      val ingest = OlistCatalog.all.map { spec =>
        s"ingest.${spec.name}" -> rec.attempt(s"ingest.${spec.name}") {
          tr.span(s"ingest.${spec.name}")(IngestJob(spec).run(spark, bronze, silver))
        }
      }
      val goldS = rec.attempt("gold.run") {
        tr.span("gold.run")(OlistVendas.run(spark, silver, gold,
          buckets = Some(VendasMart.SilverBuckets)))
      }
      IterResult(ingest.flatMap(_._2).sum, ingest :+ ("gold.run" -> goldS), goldS.getOrElse(0.0),
        dirBytes(new File(silver)) + dirBytes(new File(gold)) + dirBytes(warehouse(spark)),
        dirBytes(new File(bronze, "olist")))
    }
  }

  /** The workload's build phase, then one pass over its query families,
    * each query's result written as Parquet under `out`.
    */
  abstract class QuerySweep(families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])],
      override val conf: Map[String, String]) extends Workload {
    def names: Seq[String] = families.flatMap(_._2.keys).sorted
    def build(spark: SparkSession, dir: String, tr: Tracer, rec: Record): Unit
    /** (bytes the build phase stores, bytes of the inputs it reads) */
    def stored(spark: SparkSession, dir: String): (Long, Long)

    def iteration(spark: SparkSession, dir: String, out: File, tr: Tracer,
        rec: Record): IterResult = {
      val b0 = System.nanoTime()
      rec.attempt("build")(build(spark, dir, tr, rec))
      val buildS = (System.nanoTime() - b0) / 1e9
      val ops = families.flatMap { case (family, qs) =>
        tr.span(family) {
          qs.toSeq.sortBy(_._1).map { case (name, fn) =>
            name -> rec.attempt(name)(tr.span(s"$family.$name") {
              fn(spark, dir).write.mode("overwrite").parquet(new File(out, name).getPath)
            })
          }
        }
      }
      val (st, in) = stored(spark, dir)
      IterResult(buildS, ops, ops.flatMap(_._2).sum, st, in)
    }
  }

  /** The queries a pass runs: each family's costliest query by the
    * per-query sf0.1 times of the repository's latest measured sweep
    * (VERDICT.md); perfbench/README.md lists them with their times. More
    * queries do not fit the run budget on four cores.
    */
  val olapFamilies = Seq(
    "mart" -> pick(VendasMart.queries, "q_vendas_mart_bucketed"),
    "relational" -> pick(Relational.queries, "q_resample_ffill"),
    "analytics" -> pick(Analytics.queries, "q_approx_stats"),
    "setops" -> pick(SetOpsJson.queries, "q_intersect"))
  val corpusFamilies = Seq(
    "dedup" -> pick(Dedup.queries, "q_dedup_jaccard"),
    "similarity" -> pick(Similarity.queries, "q_sim_recall"),
    "text" -> pick(TextAnalysis.queries, "q_text_lm_score"),
    "multimodal" -> pick(Multimodal.queries, "q_multimodal_meta"))

  private def pick(m: Map[String, (SparkSession, String) => DataFrame], names: String*) = {
    val missing = names.filterNot(m.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    m.filter { case (n, _) => names.contains(n) }
  }

  /** Throughput of the native expressions behind `plans.GraftExtensions`:
    * each a one-column projection, noop-written, over an in-memory copy
    * of the corpus inputs repeated `Repeat` times.
    */
  def exprProbes(spark: SparkSession, dir: String, tr: Tracer, rec: Record): Unit = {
    val Repeat = 20
    GraftExtensions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("text")
      .crossJoin(spark.range(Repeat)).select("text").persist()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding")
      .crossJoin(spark.range(Repeat)).select("embedding").persist()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    Seq(
      ("graft_minhash", docs, "graft_minhash(text, 3)", nDocs),
      ("graft_simhash", docs, "graft_simhash(text)", nDocs),
      ("graft_shingles", docs, "graft_shingles(text, 3)", nDocs),
      ("graft_char_fingerprint", docs, "graft_char_fingerprint(text, 5)", nDocs),
      ("graft_dot", vecs, "graft_dot(embedding, embedding)", nVecs),
      ("graft_quantize_stats", vecs, "graft_quantize_stats(embedding, 64)", nVecs)
    ).foreach { case (fn, df, expr, rows) =>
      val t0 = System.nanoTime()
      tr.span(s"expr.$fn")(df.selectExpr(s"$expr AS x").write.format("noop").mode("overwrite").save())
      rec.extra(s"expr.$fn.rows_per_s", rows / ((System.nanoTime() - t0) / 1e9))
    }
    docs.unpersist(true); vecs.unpersist(true)
  }

  /** Host speed: the wall time of a fixed job that runs none of the
    * library's code, on `Cores` threads at once. Each thread fills one
    * million longs from a linear congruential generator and sorts them,
    * `CalibrationRounds` times. Run once untimed, then twice before and
    * twice after the pass; `perfbench/metrics.py` divides the
    * end-to-end times by the median, so that a shared host's changing
    * speed cancels out.
    */
  val CalibrationRounds = 4

  def calibrate(): Double = {
    val t0 = System.nanoTime()
    val threads = (1 to Cores).map { k =>
      val t = new Thread(() => {
        val a = new Array[Long](1 << 20)
        var x = 0x9E3779B97F4A7C15L * k
        (1 to CalibrationRounds).foreach { _ =>
          var i = 0
          while (i < a.length) {
            x = x * 6364136223846793005L + 1442695040888963407L
            a(i) = x
            i += 1
          }
          java.util.Arrays.sort(a)
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  // ---- session -------------------------------------------------------------

  /** A session configured as `graft.Bench` builds it, with every path it
    * writes kept under `iter`.
    */
  def session(iter: File, conf: Map[String, String]): SparkSession = {
    iter.mkdirs()
    val spark = GraftSession.configure(SparkSession.builder().config(conf)
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(iter, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(iter, "warehouse").getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The warm-up query: the flagship mart over a tiny generated star schema. */
  def warmUp(spark: SparkSession, warmupDir: String): Unit =
    VendasMart.mart(spark, warmupDir).count()

  def drain(spark: SparkSession): Unit =
    try org.apache.spark.graft.ListenerShim.drain(spark.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => () }

  def warehouse(spark: SparkSession): File =
    new File(new Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)

  def residentBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_")).map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Peak heap in use after a garbage collection, over the collections
    * between `start` and `finish`: the most memory the pass held on to.
    * A sampled peak of used heap also counts the garbage in the young
    * generation, whose size at each collection depends on the collector's
    * timing; over ten seeds on a shared four-core VM its spread reached
    * 0.22 of its median. If no collection ran, `finish` requests one, so
    * there is a sample.
    */
  final class HeapPeak extends NotificationListener {
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
    def start(): Unit = collectors.foreach(_.addNotificationListener(this, null, null))
    /** The peak in MB, once the collector has reported. */
    def finish(): Double = {
      if (peak == 0L) System.gc()
      val deadline = System.nanoTime() + 5000000000L
      while (peak == 0L && System.nanoTime() < deadline) Thread.sleep(10)
      collectors.foreach(_.removeNotificationListener(this))
      peak / 1e6
    }
  }

  // ---- the raw record ------------------------------------------------------

  final class Record {
    private val iters = mutable.ArrayBuffer.empty[String]
    private val failures = mutable.ArrayBuffer.empty[String]
    private val extras = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    private val spanRows = mutable.ArrayBuffer.empty[String]
    private var attempts = 0
    private var queryNames = Seq.empty[String]

    def queries(names: Seq[String]): Unit = queryNames = names

    /** Run one operation; its wall time, or None (and a failure) if it threw. */
    def attempt(name: String)(body: => Unit): Option[Double] = {
      attempts += 1
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        failures += Json.obj("op" -> Json.str(name), "error" -> Json.str(e.toString.take(400)))
        System.err.println(s"[perfbench] $name failed: $e")
        None
      }
    }

    def extra(name: String, v: Double): Unit =
      extras.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

    def setup(s: Double): Unit = extra("setup_s", s)

    def iteration(it: Int, traced: Boolean, r: IterResult, heapMb: Double): Unit =
      iters += Json.obj(
        "it" -> it.toString, "traced" -> traced.toString,
        "build_s" -> Json.num(r.build), "work_s" -> Json.num(r.work),
        "stored_bytes_ratio" -> Json.num(r.stored.toDouble / r.input), "peak_heap_mb" -> Json.num(heapMb),
        "ops" -> r.ops.map { case (n, t) => Json.str(n) + ": " + t.map(Json.num).getOrElse("null") }
          .mkString("{", ", ", "}"))

    def spans(tr: Tracer, l: JobListener): Unit = spanRows ++= tr.rows(l)

    def json: String = Json.obj(
      "attempted" -> attempts.toString,
      "queries" -> queryNames.map(Json.str).mkString("[", ", ", "]"),
      "oracle" -> queryNames.flatMap(n => SparkEntry.oracleSql.get(n).map(Json.str(n) + ": " + Json.str(_)))
        .mkString("{", ", ", "}"),
      "failures" -> failures.mkString("[", ", ", "]"),
      "iterations" -> iters.mkString("[", ",\n", "]"),
      "extras" -> extras.map { case (k, vs) => Json.str(k) + ": " + vs.map(Json.num).mkString("[", ", ", "]") }
        .mkString("{", ", ", "}"),
      "spans" -> spanRows.mkString("[", ",\n", "]"))
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(kv: (String, String)*): String =
      kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  }
}
