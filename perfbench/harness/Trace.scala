package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Engine counters per Spark job, keyed later to spans by job group. */
final class JobListener extends SparkListener {
  /** `plan`: the physical plan of the SQL execution the job belongs to,
    * or of that execution's root when it is nested in another one. */
  final class Job(val group: String, val startMs: Long, val plan: String) {
    var endMs: Long = startMs
    var cpuNs, gcMs, fetchMs, shuffleW, shuffleR, spill, in, out = 0L
  }
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val byId = mutable.HashMap.empty[Int, Job]
  private val byStage = mutable.HashMap.empty[Int, Job]
  private val execPlan = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val root = s.rootExecutionId.getOrElse(s.executionId)
      execPlan(s.executionId) = execPlan.getOrElse(root, s.physicalPlanDescription)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val plan = prop("spark.sql.execution.id").flatMap(id => execPlan.get(id.toLong)).getOrElse("")
    val j = new Job(prop("spark.jobGroup.id").orNull, e.time, plan)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- byStage.get(e.stageId) if m != null) {
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.shuffleR += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      j.in += m.inputMetrics.bytesRead
      j.out += m.outputMetrics.bytesWritten
    }
  }
}

/** Spans recorded around the benchmark's own calls into each layer.
  * A span sets the Spark job group to its id, so every job it starts
  * (and every task of those jobs) is charged to it. Spans are kept in
  * memory and turned into rows once the iteration ends.
  */
final class Tracer(enabled: Boolean) {
  final class Span(val id: String, val name: String, val parent: Option[Span],
      val startMs: Long, val startNs: Long) {
    var endNs: Long = startNs
    /** Set for a phase span carved out of its parent by time. */
    var window: Option[(Long, Long)] = None
    def wallS: Double = (endNs - startNs) / 1e9
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None

  private def setGroup(s: Option[Span]): Unit =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped).foreach { sc =>
      s match {
        case Some(sp) => sc.setJobGroup(sp.id, sp.name)
        case None => sc.clearJobGroup()
      }
    }

  /** Re-applies the current span's job group; for a span that began
    * before the session it runs in was created.
    */
  def bind(): Unit = if (enabled) setGroup(current)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(s"span-${spans.size}", name, current, System.currentTimeMillis(),
        System.nanoTime())
      spans += s
      val parent = current
      current = Some(s)
      setGroup(current)
      try body
      finally {
        s.endNs = System.nanoTime()
        current = parent
        setGroup(parent)
      }
    }

  /** Child spans for the phases a layer timed itself, laid end to end
    * from `t0Ns`; their jobs are those of the parent started inside
    * each phase's window.
    */
  def phases(t0Ns: Long, timed: Seq[(String, Double)]): Unit = if (enabled) {
    val baseMs = current.get.startMs + (t0Ns - current.get.startNs) / 1000000L
    var off = 0.0
    timed.foreach { case (name, d) =>
      val s = new Span(s"span-${spans.size}", name, current,
        baseMs + (off * 1000).toLong, t0Ns + (off * 1e9).toLong)
      s.endNs = s.startNs + (d * 1e9).toLong
      s.window = Some((s.startMs, s.startMs + (d * 1000).toLong))
      spans += s
      off += d
    }
  }

  /** One JSON row per span: wall, self (wall not covered by children),
    * plan (start to first job) and the engine counters of its jobs.
    */
  def rows(l: JobListener): Seq[String] = {
    import Harness.Json
    val children = spans.groupBy(_.parent.map(_.id).orNull)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).toSeq.filter(_.window.isEmpty).flatMap(subtree)
    def jobsOf(s: Span): Seq[l.Job] = s.window match {
      case Some((a, b)) => jobsOf(s.parent.get).filter(j => j.startMs >= a && j.startMs < b)
      case None =>
        val ids = subtree(s).map(_.id).toSet
        l.jobs.toSeq.filter(j => j.group != null && ids(j.group))
    }
    def selfS(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L; var end = s.startNs
      iv.foreach { case (a, b) =>
        val a1 = math.max(a, end); val b1 = math.min(b, s.endNs)
        if (b1 > a1) { covered += b1 - a1; end = b1 }
      }
      s.wallS - covered / 1e9
    }
    def row(name: String, parent: Option[String], wall: Double, self: Double, startMs: Long,
        js: Seq[l.Job]): String = {
      val cpu = js.map(_.cpuNs).sum / 1e9
      val plan = if (js.isEmpty) wall else math.max(0.0, (js.map(_.startMs).min - startMs) / 1e3)
      Json.obj(
        "name" -> Json.str(name), "parent" -> parent.map(Json.str).getOrElse("null"),
        "wall_s" -> Json.num(wall), "self_s" -> Json.num(self), "plan_s" -> Json.num(plan),
        "cpu_s" -> Json.num(cpu), "gc_s" -> Json.num(js.map(_.gcMs).sum / 1e3),
        "core_util" -> Json.num(if (wall > 0) cpu / (wall * Harness.Cores) else 0.0),
        "shuffle_write_mb" -> Json.num(js.map(_.shuffleW).sum / 1e6),
        "shuffle_read_mb" -> Json.num(js.map(_.shuffleR).sum / 1e6),
        "fetch_wait_s" -> Json.num(js.map(_.fetchMs).sum / 1e3),
        "spill_mb" -> Json.num(js.map(_.spill).sum / 1e6),
        "input_mb" -> Json.num(js.map(_.in).sum / 1e6),
        "output_mb" -> Json.num(js.map(_.out).sum / 1e6),
        "jobs" -> js.size.toString)
    }
    spans.toSeq.flatMap { s =>
      val js = jobsOf(s)
      val own = row(s.name, s.parent.map(_.name), s.wallS, selfS(s), s.startMs, js)
      // OlistVendas.run is one call: first the re-layout, whose writes are
      // saveAsTable SQL executions, then the mart write. A job belongs to
      // the re-layout when it starts before the last of those writes ends.
      val relayoutEnd = js.filter(j => j.plan.contains("SaveAsV1TableCommand") ||
        j.plan.contains("CreateDataSourceTableAsSelect")).map(_.endMs).maxOption
      val split = if (s.name != "gold.run") Nil else
        js.groupBy(j => if (relayoutEnd.exists(j.startMs <= _)) "gold.relayout"
          else "gold.mart_write")
          .toSeq.sortBy(_._1).map { case (n, g) =>
            val w = (g.map(_.endMs).max - g.map(_.startMs).min) / 1e3
            row(n, Some(s.name), w, w, g.map(_.startMs).min, g)
          }
      own +: split
    }
  }
}
