package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CensusSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  private lazy val census = new Census(spark.sparkContext)

  override def afterAll(): Unit = spark.stop()

  /** A fixed piece of work run under one span, with one more action
    * planted in it when `plant` is given.
    */
  private def traced(plant: Option[org.apache.spark.sql.DataFrame => Long] = None)
      : (Tracer, Census.Snapshot) = {
    census.drain(); census.reset()
    val tr = new Tracer(spark, enabled = true, s"spec-${plant.isDefined}")
    tr.span("pass") {
      val df = spark.range(0, 10000).withColumn("k", col("id") % 7)
      tr.span("inner")(df.groupBy("k").agg(sum("id")).collect())
      plant.foreach(_(df))
    }
    (tr, census.snapshot())
  }

  test("a planted count() shows as exactly one more job") {
    traced() // warm: the first run may plan differently
    val (_, base) = traced()
    val (_, again) = traced()
    val (_, planted) = traced(Some(_.rdd.count()))
    assert(again.jobs.size == base.jobs.size)
    assert(planted.jobs.size == base.jobs.size + 1)
    // a Dataset count() under adaptive execution runs its aggregation's
    // shuffle stage as a job of its own, then the final stage
    val (_, sql) = traced(Some(_.count()))
    assert(sql.jobs.size == base.jobs.size + 2)
  }

  test("jobs are attributed to the innermost span; self times sum to the root") {
    val (tr, snap) = traced(Some(_.count()))
    val Seq(pass, inner) = tr.spans.toSeq
    assert(inner.parent == pass.id && pass.parent == -1)
    val innerJobs = snap.jobs.filter(_.group == tr.groupId(inner.id))
    val passJobs = snap.jobs.filter(_.group == tr.groupId(pass.id))
    assert(innerJobs.nonEmpty && innerJobs.forall(_.site.startsWith("collect at CensusSpec.scala")))
    assert(passJobs.size == 2 && passJobs.forall(_.site.startsWith("count at CensusSpec.scala")))
    val self = Tracer.selfSeconds(tr.spans.toSeq)
    assert(math.abs(self.values.sum - pass.seconds) < 1e-9)
    assert(snap.idleSeconds(pass.startMs, pass.endMs) <= pass.seconds + 1e-3)
  }

  test("untraced, spans and force are the identity") {
    val tr = new Tracer(spark, enabled = false, "off")
    val df = spark.range(5).toDF()
    assert(tr.span("x")(tr.force(df)) eq df)
    assert(tr.spans.isEmpty && !df.storageLevel.useMemory)
  }
}
