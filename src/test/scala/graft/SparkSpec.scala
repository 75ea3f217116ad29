package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (getOrCreate dedupes across
  * suites in the forked test JVM), built by [[Harness.session]] so the
  * suites run under the configuration the measurement mains use — UTC +
  * nanosAsLong is part of the library's documented contract. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    // fresh warehouse per JVM: saveAsTable locations must not collide with
    // leftovers from previous runs. SparkConf loads spark.* system
    // properties, so the session picks it up as it is built.
    if (!sys.props.contains("spark.sql.warehouse.dir"))
      sys.props("spark.sql.warehouse.dir") =
        java.nio.file.Files.createTempDirectory("graft-wh").toString
    Harness.session("4")
  }

  def strings(vals: String*): DataFrame = {
    import spark.implicits._
    vals.toDF("value")
  }

  /** Count physical nodes whose name contains `token`, WITHOUT
    * rendering the plan to a string: `.executedPlan.toString` on the
    * crawl-chain plans materializes a multi-hundred-MB string (every
    * synthetic-fixture expression tree × every reference), and one
    * round-19 dual-plan test OOM'd the shared 8 GiB test heap that
    * way. Traversal touches only the node objects that already
    * exist. AQE wrappers are unwrapped to their initial plan (the
    * same tree toString would have printed). */
  def countPlanNodes(df: DataFrame, token: String): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).count(_.nodeName.contains(token))
  }

  /** Runs `body` with SQL conf `key` set to `value`, then restores the
    * session's own value, or unsets the key if it had none. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The executed plans of the first `n` `localCheckpoint` actions that
    * `body` runs. An operator that materializes its result returns a frame
    * over the checkpoint, so the plan it computed is seen only here. */
  def checkpointPlans(n: Int)(body: => Unit): Seq[String] =
    actionPlans(n, (funcName, _) => funcName == "localCheckpoint")(body)

  /** The executed plans, in order, of the first `n` actions that `body`
    * runs and that `keep(funcName, plan)` accepts — a write or a
    * materialized intermediate is seen only here. The listener bus
    * delivers asynchronously: waits up to 60 s for `n`. */
  def actionPlans(n: Int, keep: (String, String) => Boolean)(
      body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (keep(funcName, plan)) plans.add(plan)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (plans.size < n && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size >= n, s"saw ${plans.size} matching plans, expected $n")
    plans.asScala.take(n).toSeq
  }
}
