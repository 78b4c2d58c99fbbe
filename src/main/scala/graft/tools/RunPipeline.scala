package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators
import graft.sources.{IngestJob, OlistVendas, Sinks}

/** CLI entry for the reference's pipeline, shaped like the Airflow
  * deployment (`orchestration/dag_olist_pipeline.py`): each DAG task is
  * one spark-submit of this class with a stage subcommand — exactly
  * what a `SparkSubmitOperator` per stage launches, and what
  * `orchestration/run_dag_ci.py` drives as plain subprocesses in CI.
  *
  *   RunPipeline ingest <bronzeRoot> <silverRoot>
  *     all eight bronze→silver ingest jobs, one after another (the
  *     reference's per-table extract/transform/load DAG chains);
  *     orders and order_items land bucketed on order_id.
  *   RunPipeline gold <silverRoot> <goldRoot> [jdbcUrl table]
  *     silver→gold vendas mart parquet, plus the full-replace JDBC
  *     mirror when a target is given (the reference's MySQL
  *     `TB_VENDAS`, `s2g/vendas.py:173-180`).
  *   RunPipeline check <goldRoot> <jdbcUrl> <table>
  *     CI assertion stage: the gold mart parquet and the JDBC mirror
  *     must both materialize, be non-empty, and agree on row count.
  *   RunPipeline <bronzeRoot> <silverRoot> <goldRoot>
  *     legacy single-application form (ingest + gold, no JDBC).
  *
  * Roots may be local paths or s3a:// URIs (MinIO: set fs.s3a.endpoint
  * + path-style access in spark-defaults); the code path is identical.
  */
object RunPipeline {
  private def withSpark(body: SparkSession => Unit): Unit = {
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .appName("graft-olist-pipeline")
      // spark-submit provides spark.master; default for direct runs.
      .config("spark.master", sys.props.getOrElse("spark.master", "local[*]")))
      .getOrCreate()
    try body(spark) finally spark.stop()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "ingest" :: bronze :: silver :: Nil =>
      withSpark { s =>
        IngestJob.runAll(s, bronze, silver)
        println(s"STAGE OK ingest bronze=$bronze silver=$silver")
      }
    case "gold" :: silver :: gold :: rest0 =>
      // Bucketed silver is the DEFAULT at-scale path (r18 flip; it
      // wins at every measured rung since r11 — sf30: 100.8 vs 122.3 s
      // — by making the fact join exchange-free). The ingest writes
      // the two order_id fact tables in that layout at
      // VendasMart.silverBuckets, so at the default width gold reads
      // them in place (layout=silver) and no gold run re-writes them;
      // a width the ingest did not write (`--bucketed-silver=N`), or
      // silver without a matching stamp, reads plain silver
      // (layout=plain), as `--plain-silver` (or `--bucketed-silver=0`)
      // always does.
      // Remaining positionals are the optional JDBC target.
      val (flags, rest) = rest0.partition(isLayoutFlag)
      val layout = layoutOrExit(flags)
      if (rest.length != 0 && rest.length != 2) { usage(); sys.exit(2) }
      withSpark { s =>
        val buckets = bucketsIn(s, layout)
        val jdbc = rest match {
          case url :: table :: Nil => Some(Sinks.JdbcTarget(url, table, "", ""))
          case _ => None
        }
        val t0 = System.nanoTime()
        val from = OlistVendas.run(s, silver, gold, jdbc, buckets)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"STAGE OK gold silver=$silver gold=$gold " +
          f"jdbc=${jdbc.map(_.table)} buckets=${buckets.getOrElse(0)} layout=$from secs=$secs%.2f")
      }
    case "check" :: gold :: url :: table :: Nil =>
      withSpark { s =>
        val mart = s.read.parquet(s"$gold/olist/vendas")
        val nGold = mart.count()
        val nJdbc = s.read.format("jdbc")
          .option("url", url).option("dbtable", table).load().count()
        require(nGold > 0, s"gold mart is empty at $gold/olist/vendas")
        require(nGold == nJdbc,
          s"gold parquet ($nGold rows) and JDBC mirror ($nJdbc rows) disagree")
        println(s"STAGE OK check rows=$nGold table=$table")
      }
    case "mart" :: sfDir :: gold :: rest0 =>
      // Registry-side (harness star schema) gold build through the
      // production entry point, for end-to-end layout A/Bs at real
      // scale. Bucketed silver is the default (r18 flip, same
      // rationale as `gold`): the fact sides are laid out first, or
      // re-registered from a previous JVM's stamped layout (timed
      // separately as relayout_s), and the mart reads the bucketed
      // catalog tables. `--plain-silver` keeps the no-layout form for
      // A/B.
      val (flags, rest) = rest0.partition(isLayoutFlag)
      if (rest.nonEmpty) { usage(); sys.exit(2) }
      val layout = layoutOrExit(flags)
      withSpark { s =>
        val buckets = bucketsIn(s, layout)
        val tR0 = System.nanoTime()
        val mart = buckets match {
          case Some(n) =>
            val (li, ord) = operators.VendasMart.ensureBucketedSilver(s, sfDir, n)
            operators.VendasMart.martBucketed(s, sfDir, li, ord)
          case None => operators.VendasMart.mart(s, sfDir)
        }
        val relayout = (System.nanoTime() - tR0) / 1e9
        val t0 = System.nanoTime()
        mart.write.mode("overwrite").parquet(s"$gold/vendas_mart")
        val secs = (System.nanoTime() - t0) / 1e9
        val n = s.read.parquet(s"$gold/vendas_mart").count()
        println(f"STAGE OK mart rows=$n sf=$sfDir " +
          f"buckets=${buckets.getOrElse(0)} relayout_s=$relayout%.2f secs=$secs%.2f")
      }

    case "grain" :: sfDir :: Nil =>
      // CI parity probe: the registry's vendas_mart (the oracle-gated
      // dataflow, VendasMart.mart) must preserve the item grain — its
      // row count equals the lineitem count. run_dag_ci.py asserts the
      // printed count against the parquet row count, mirroring the
      // order-items-grain assertion it makes on the orchestrated
      // OlistVendas gold mart, so the two implementations of the
      // reference's vendas dataflow cannot drift on the invariant the
      // oracle checks (every left join keys a unique dimension side).
      withSpark { s =>
        val n = graft.operators.VendasMart.mart(s, sfDir).count()
        println(s"STAGE OK grain rows=$n sf=$sfDir")
      }
    case bronze :: silver :: gold :: Nil =>
      withSpark { s =>
        IngestJob.runAll(s, bronze, silver)
        OlistVendas.run(s, silver, gold)
        println(s"PIPELINE OK bronze=$bronze silver=$silver gold=$gold")
      }
    case _ =>
      usage()
      sys.exit(2)
  }

  private[graft] def isLayoutFlag(arg: String): Boolean =
    arg.startsWith("--bucketed-silver") || arg == "--plain-silver"

  /** Layout-flag parsing for `gold`/`mart`, before any session
    * starts: `None` keeps plain silver (`--plain-silver`, or
    * `--bucketed-silver=0` so orchestration templates can pass the
    * flag unconditionally and toggle via a variable); `Some(Some(n))`
    * buckets at width n (`--bucketed-silver=N`); `Some(None)`, the
    * default and bare `--bucketed-silver`, buckets at the width
    * [[bucketsIn]] reads from the session. Last flag wins; a width
    * that is not an integer throws, naming the flag.
    */
  private[graft] def bucketsOf(flags: List[String]): Option[Option[Int]] =
    flags.lastOption match {
      case Some("--plain-silver") => None
      case Some(f) =>
        f.split("=", 2).lift(1).map { v =>
          v.toIntOption.getOrElse(throw new IllegalArgumentException(
            s"--bucketed-silver expects an integer width; got '$v'"))
        } match {
          case Some(n) if n <= 0 => None
          case width => Some(width)
        }
      case None => Some(None)
    }

  /** The bucket width a parsed layout flag asks of `spark`, `None`
    * for plain silver. Without a flag width it is
    * [[operators.VendasMart.silverBuckets]], the width the ingest
    * writes its keyed silver tables at. Only the layout is sized here;
    * every other shuffle keeps the session's width.
    */
  private[graft] def bucketsIn(spark: SparkSession,
      layout: Option[Option[Int]]): Option[Int] =
    layout.map(_.getOrElse(operators.VendasMart.silverBuckets(spark)))

  private def layoutOrExit(flags: List[String]): Option[Option[Int]] =
    try bucketsOf(flags)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); usage(); sys.exit(2)
    }

  private def usage(): Unit =
    System.err.println(
      """usage: RunPipeline ingest <bronzeRoot> <silverRoot>
        |       RunPipeline gold <silverRoot> <goldRoot> [--bucketed-silver[=N] | --plain-silver] [jdbcUrl table]
        |       RunPipeline mart <sfDir> <goldRoot> [--bucketed-silver[=N] | --plain-silver]
        |       RunPipeline check <goldRoot> <jdbcUrl> <table>
        |       RunPipeline grain <sfDir>
        |       RunPipeline <bronzeRoot> <silverRoot> <goldRoot>
        |(bucketed silver is the default for gold/mart, at the session's shuffle width
        | if set, else at a local session's cores; --plain-silver keeps the no-layout form.
        | gold reads silver plain at a width the ingest did not write)""".stripMargin)
}
