package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** An eager stage knows its own size: `Dedup.materialize(df, eager =
  * true)` runs one job that also counts the stage, and the stage carries
  * exact statistics, so Catalyst sizes joins against it by itself.
  */
class SizedStageSpec extends SparkSpec {
  import spark.implicits._

  private def small: DataFrame = (1L to 50L).map(i => (i, i * 2)).toDF("k", "v")

  // Catalyst estimates 4M rows × 24 B, far above the 10 MB threshold;
  // the filter keeps that estimate but passes 4 rows
  private def big: DataFrame =
    spark.range(0, 4000000).select(col("id").as("k"), (col("id") % 1000).as("w"))
  private def few: DataFrame = big.filter(col("w") === 0 && col("k") < 4000)

  private def joinPlan(side: DataFrame): String =
    big.join(side.select(col("k"), col("w").as("w2")), "k")
      .queryExecution.executedPlan.toString

  test("an eager stage runs one job, and its row count is its count()") {
    // every job started until `traced` returns, with its SQL execution
    val execIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        execIds.add(String.valueOf(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)))
    }
    spark.sparkContext.addSparkListener(listener)
    val ran = try traced(Dedup.materialize(few, eager = true))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(ran.jobs == 1)
    // the one job runs inside a SQL execution (the trailing job is
    // `traced`'s own sentinel, a plain RDD count)
    assert(execIds.size == 2 && execIds.peek() != "null", execIds)
    val stage = ran.result
    assert(stage.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(4)))
    assert(Dedup.rowCount(stage) == stage.count())
    assert(Dedup.partitionRows(stage).sum == 4L)
    val empty = Dedup.materialize(small.filter(col("k") < 0), eager = true)
    assert(Dedup.rowCount(empty) == 0 && empty.count() == 0)
  }

  test("a join against a small eager stage broadcasts with no hint") {
    val stage = Dedup.materialize(few, eager = true)
    assert(joinPlan(stage).contains("BroadcastHashJoin"))
    // the same stage checkpointed lazily keeps the filter's estimate
    assert(joinPlan(Dedup.materialize(few)).contains("SortMergeJoin"))
    withoutBroadcast {
      val p = joinPlan(stage)
      assert(!p.contains("Broadcast") && p.contains("SortMergeJoin"), p)
    }
  }

  test("a stage of wide rows is sized by its bytes, not the type estimate") {
    // 1,000 ints a row: ~4 KB real, where Spark's per-type estimate
    // counts an array as one element (under 30 B a row)
    val stage = Dedup.materialize(spark.range(0, 1000).select(col("id").as("k"),
      array_repeat(col("id").cast("int"), 1000).as("v")), eager = true)
    val thr = 1L << 20
    val estimate = EstimationUtils.getSizePerRow(
      stage.queryExecution.analyzed.output) * Dedup.rowCount(stage)
    val bytes = stage.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate < thr && bytes > 2 * thr, s"estimate $estimate, bytes $bytes")
    withConf("spark.sql.autoBroadcastJoinThreshold", thr.toString) {
      val p = big.join(stage, "k").queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin") && p.contains("SortMergeJoin"), p)
    }
  }

  test("rowCount reads only an eager stage") {
    // a lazy stage keeps its origin's estimate, which is no count (a
    // filtered local relation's input rows, a limit's bound); nor is a
    // frame derived from eager stages (a join's is their product)
    val lazyStages = Seq(Dedup.materialize(few),
      Dedup.materialize(small.filter(col("k") <= 40)),
      Dedup.materialize(small.limit(30)))
    assert(lazyStages.drop(1).forall(_.queryExecution.optimizedPlan.stats.rowCount.nonEmpty))
    lazyStages.foreach { st =>
      intercept[IllegalArgumentException](Dedup.rowCount(st))
      intercept[IllegalArgumentException](Dedup.partitionRows(st))
    }
    assert(lazyStages.map(_.count()) == Seq(4L, 40L, 30L))
    val a = Dedup.materialize(small, eager = true)
    val derived = Seq(a.filter(col("k") < 3), a.limit(5),
      a.join(Dedup.materialize(small, eager = true), "k"))
    derived.foreach { d =>
      intercept[IllegalArgumentException](Dedup.rowCount(d))
      intercept[IllegalArgumentException](Dedup.partitionRows(d))
    }
  }

  test("withPipeline frees eager stages on exit") {
    def persisted(id: Int) = spark.sparkContext.getPersistentRDDs.contains(id)
    val id = Dedup.withPipeline {
      val stage = Dedup.materialize(small, eager = true)
      val rdd = stage.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
      assert(persisted(rdd.id) && stage.count() == 50)
      rdd.id
    }
    assert(!persisted(id))
  }
}
