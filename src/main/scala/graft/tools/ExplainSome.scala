package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Plan dump for NAMED queries at an arbitrary scale directory —
  * `Explain` at a deep rung would build every memoized index frame
  * just to print plans; this dumps only the requested queries (usage:
  * `runMain graft.tools.ExplainSome outDir suffix q_a q_b ...`,
  * writing `outDir/<query>_<suffix>.txt`; `SPARK_GRAFT_CPUS`, default
  * 32, sets the session width). Join rungs
  * (broadcast vs shuffled-hash vs sort-merge) are scale-dependent, so
  * sf0.01 plans can't evidence an sf30 claim — this tool can.
  * Dev tool; not part of the driver contract.
  */
object ExplainSome {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainSome <outDir> <suffix> <query>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    // The session shape Bench runs: the join rungs and the docsets
    // width both read the shuffle width.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(2).foreach { name =>
      val fn = SparkEntry.queries(name)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = outDir.resolve(s"${name}_${args(1)}.txt")
      Files.writeString(p, plan)
      println(s"WROTE $p")
    }
    spark.stop()
  }
}
