package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import graft.SparkEntry

/** Dev-only per-OPERATOR spill/shuffle attribution — the tool behind
  * SCALE.md's "name the spilling operator" adjudications.
  *
  * Bench's task-metrics listener totals spill per QUERY; when a plan
  * has four sorts and one aggregate, the total cannot say which node
  * pays. This walks the post-AQE executed plan after the same
  * noop-write action Bench times and prints every node whose
  * SQLMetrics carried nonzero `spill size`, alongside its shuffle
  * bytes written and output rows, indented at plan depth:
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 \
  *     sbt "runMain graft.tools.SpillProfile vendas_mart"
  *
  * The executed plan is captured via a QueryExecutionListener (the
  * write action plans its own QueryExecution — walking the source
  * DataFrame's would read zeroed metrics), and AQE wrappers
  * (AdaptiveSparkPlanExec / QueryStageExec / ReusedExchange) are
  * unwrapped so the printed tree is the physical operators that
  * actually ran.
  */
object SpillProfile {
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }

  private def mb(v: Long): String = f"${v / 1e6}%.1f"

  def walk(p: SparkPlan, depth: Int = 0): Unit = {
    val m = p.metrics
    def metric(names: String*): Long =
      names.flatMap(n => m.get(n)).map(_.value).sum
    val spill = metric("spillSize")
    val shw = metric("shuffleBytesWritten", "bytesWritten")
    val rows = metric("numOutputRows")
    val peak = metric("peakMemory")
    val dataSz = metric("dataSize")
    val tag = new StringBuilder
    if (spill > 0) tag ++= s" SPILL=${mb(spill)}MB"
    if (shw > 0) tag ++= s" shufW=${mb(shw)}MB"
    if (dataSz > 0) tag ++= s" dataSz=${mb(dataSz)}MB"
    if (peak > 0) tag ++= s" peak=${mb(peak)}MB"
    if (rows > 0) tag ++= s" rows=$rows"
    println(("  " * depth) + p.nodeName + tag)
    kids(p).foreach(walk(_, depth + 1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      // Surface AQE's replanning decisions ("Plan changed from ... to
      // ...") at WARN so they pass the log filter during diagnosis.
      .config("spark.sql.adaptive.logLevel", "WARN")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.applyEnvConf(spark)
    @volatile var captured: Option[QueryExecution] = None
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        captured = Some(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          captured = None
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // Listener delivery is async; wait for the QE to land.
          var waited = 0
          while (captured.isEmpty && waited < 100) { Thread.sleep(100); waited += 1 }
          println(f"== $name t=$dt%.2f s sf=$sfDir")
          captured match {
            case Some(qe) => walk(qe.executedPlan)
            case None => println("  (no QueryExecution captured)")
          }
        case None => println(s"== $name UNKNOWN (not in SparkEntry.queries)")
      }
    }
    spark.stop()
  }
}
