package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Plan auditor: dumps `explain("formatted")` for registered queries
  * to a markdown file, so scan pruning (ReadSchema), predicate
  * pushdown (PushedFilters), join strategies (BroadcastHashJoin vs
  * SortMergeJoin) and WholeStageCodegen spans can be reviewed per
  * query. Usage: `runMain graft.tools.Explain [out.md] [query ...]`;
  * with no query names every registered query is dumped (PLANS.md),
  * with names only those, so a deep scale directory does not build
  * every memoized index frame just to print a few plans. Join rungs
  * are scale-dependent, so an at-scale dump sets `SPARK_GRAFT_SF_DIR`
  * and `SPARK_GRAFT_CPUS` (the session width, default 4) to the leg's.
  * Dev tool; not part of the driver contract.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val out = args.headOption.getOrElse("PLANS.md")
    val named = args.drop(1).toSeq
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = Paths.get(sfDir).getFileName
    val sb = new StringBuilder
    sb.append(s"# Physical plans ($sf, local[$cpus], AQE on)\n\n")
    sb.append("Generated by `graft.tools.Explain`; regenerate with\n")
    sb.append("`sbt \"runMain graft.tools.Explain PLANS.md\"`.\n")
    val names = if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
    names.foreach { name =>
      val plan = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"WROTE $out")
    spark.stop()
  }
}
