package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared singleton session for all suites — one JVM-wide local
  * SparkSession (getOrCreate), small shuffle fan-out for test speed.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    // Keep catalog/metastore artifacts under target/ (static configs —
    // must be set before the session exists).
    System.setProperty("derby.system.home", "target/derby")
    GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      // Pinned ON (see Verify.scala): Dedup.lshVerified relies on AQE
      // runtime stats for its hint-free participants broadcast.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Runs `body` with `confs` set on the shared session, then restores
    * each key's previous value (unsetting a key that had none), so a
    * case cannot leak a conf into the specs that run after it.
    */
  def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A frame's rows as a multiset: each row with its count. */
  def rowBag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.groupMapReduce(_.toSeq)(_ => 1)(_ + _)

  def assertSameBags(got: Map[Seq[Any], Int], want: Map[Seq[Any], Int]): Unit = {
    val diff = (got.keySet ++ want.keySet).toSeq
      .filter(r => got.get(r) != want.get(r))
    assert(diff.isEmpty, s"${diff.size} rows differ in count (got vs want), e.g.:\n" +
      diff.take(5).map(r => s"$r: ${got.getOrElse(r, 0)} vs ${want.getOrElse(r, 0)}").mkString("\n"))
  }

  /** Same rows with the same multiplicities: a duplicated or lost row fails. */
  def assertSameRows(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit =
    assertSameBags(rowBag(got), rowBag(want))

  /** The deepest sort-merge join whose node names every key in `keys`
    * (the fact join of a mart: the joins stacked above it carry its
    * keys in their output, not in their conditions), asserted to have
    * no exchange below it.
    */
  def exchangeFreeFactJoin(mart: org.apache.spark.sql.DataFrame,
      keys: String*): org.apache.spark.sql.execution.SparkPlan = {
    val plan = mart.queryExecution.executedPlan
    val factJoin = plan.collect {
      case j if j.nodeName.contains("SortMergeJoin") &&
        keys.forall(j.toString.contains) => j
    }.lastOption
    assert(factJoin.isDefined, s"no ${keys.mkString("/")} SMJ in:\n$plan")
    val shuffles = factJoin.get.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"expected exchange-free bucketed fact join, got:\n${factJoin.get}")
    factJoin.get
  }

  /** Spark jobs started while `body` runs, counted by a listener that
    * sees every event: the bus is drained before it is attached and
    * before it is removed.
    */
  def jobsStarted(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerShim.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Fresh per-suite scratch dir under target/. */
  def tmpDir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target").toAbsolutePath, name)
    p.toFile.deleteOnExit()
    p.toString
  }
}
