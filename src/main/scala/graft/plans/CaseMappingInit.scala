package graft.plans

import java.util.concurrent.CompletableFuture

import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}

/** Runs Spark's case-mapping class initialiser on a daemon thread when
  * an executor starts, instead of inside the first task that calls
  * `upper`, `lower` or `initcap`.
  *
  * In Spark 4.1.2, `CollationAwareUTF8String.<clinit>` (spark-unsafe)
  * builds `codepointOneToManyTitleCaseLookupTable` by calling ICU's
  * `UCharacter.toTitleCase` for each of the 1,114,112 code points, a
  * table only `initcap` reads. In a fresh JVM on a 4-vCPU host that
  * takes 1.9–2.0 s on one thread, and every other task that reaches
  * the class waits on its init lock. The gold mart upper-cases two
  * columns, and each scheduled gold run starts in a cold JVM, so the
  * stall sat inside the mart write and blocked every task slot.
  * Started here, it overlaps SparkContext start-up and query planning
  * on a spare core. Executor plugins run in the executor JVM, so this
  * covers local mode (where that is the driver's JVM) and cluster
  * executors alike. Nothing a query computes changes: the class is
  * the one the query would have initialised.
  *
  * A later Spark that renames or drops the class makes this a no-op.
  * Delete the plugin once Spark builds the table lazily.
  *
  * Registered by [[graft.GraftSession.configure]] through
  * `spark.plugins.defaultList`.
  */
class CaseMappingInit private[graft] (className: String,
    done: CompletableFuture[Boolean]) extends SparkPlugin {

  def this() = this(CaseMappingInit.ClassName, CaseMappingInit.initialised)

  override def driverPlugin(): DriverPlugin = null

  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def init(ctx: PluginContext, extraConf: java.util.Map[String, String]): Unit = {
      val t = new Thread(() => initialise(), "graft-case-mapping-init")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Completes `done` with whether the class loaded. Any other failure
    * completes it exceptionally rather than escaping the thread: an
    * executor's uncaught-exception handler would stop the executor.
    */
  private def initialise(): Unit =
    try {
      Class.forName(className)
      done.complete(true)
    } catch {
      case _: ClassNotFoundException | _: LinkageError => done.complete(false)
      case e: Exception => done.completeExceptionally(e)
    }
}

object CaseMappingInit {
  val ClassName = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"

  /** Completes once this JVM's first executor start has run the
    * initialiser: `true` if the class loaded, `false` if it is absent.
    */
  private[graft] val initialised = new CompletableFuture[Boolean]()
}
