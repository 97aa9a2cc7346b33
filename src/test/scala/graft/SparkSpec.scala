package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, reused). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with SQL conf `key` set to `value`, then restores the
    * previous setting (or unsets the key).
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `body` run with the broadcast threshold off: every size gate in
    * `operators.Gates` takes its shuffle / distributed branch.
    */
  def withoutBroadcast[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  /** `run(rounds)` and how many more Spark jobs it ran than `run(1)`:
    * 0 when the rounds of a fixed point run on the driver, at least one
    * per extra round when they run as Spark jobs.
    */
  def extraJobs[T](rounds: Int)(run: Int => T): (T, Int) = {
    val one = traced(run(1)).jobs
    val all = traced(run(rounds))
    (all.result, all.jobs - one)
  }

  /** Runs `body` and records what it ran on this thread: each SQL
    * execution's physical plans (the initial one and every adaptive
    * re-plan, joined by newlines), and the number of Spark jobs.
    */
  def traced[T](body: => T): SparkSpec.Ran[T] = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (tag, sentinel) = ("graft-traced-" + id, "graft-sentinel-" + id)
    val plans = new ConcurrentHashMap[Long, String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new CountDownLatch(1)
    def tagged(e: SparkListenerJobStart, t: String): Boolean =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(",").contains(t))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e, tag)) jobs.incrementAndGet()
        else if (tagged(e, sentinel)) drained.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.computeIfPresent(u.executionId,
            (_, p) => p + "\n" + u.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val result = try body finally sc.removeJobTag(tag)
      // the bus delivers events in order: once the sentinel job's start
      // has arrived, every event `body` posted has too
      sc.addJobTag(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(sentinel)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus stalled")
      import scala.jdk.CollectionConverters._
      SparkSpec.Ran(result,
        plans.asScala.toSeq.sortBy(_._1).map(_._2), jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {

  /** A [[SparkSpec.traced]] record. */
  final case class Ran[T](result: T, plans: Seq[String], jobs: Int) {
    def broadcasts: Boolean = plans.exists(_.contains("BroadcastHashJoin"))
    def joins: Boolean = plans.exists(_.contains("Join"))
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // managed-table writes (LayoutSpec's bucketed q70 tables) land in
      // a per-run scratch warehouse, not ./spark-warehouse — the repo
      // dir stays physically clean across suite runs
      .config("spark.sql.warehouse.dir", TempDirs.scratch("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
