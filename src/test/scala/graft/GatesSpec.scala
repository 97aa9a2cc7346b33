package graft

import graft.operators.{Dedup, Gates}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._

/** The one size gate: rows × bytes per row against the session's
  * broadcast threshold; an eager stage's row is the mean it measured,
  * any other frame's is Spark's row-size estimate.
  */
class GatesSpec extends SparkSpec {
  import spark.implicits._

  // Spark estimates a (long, long) row at 8 + 8 + 8 = 24 B
  private lazy val pairs = Seq((1L, 2L)).toDF("a", "b")
  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  test("thresholds -1 and 0 admit no rows") {
    for (t <- Seq("-1", "0")) withConf(threshold, t) {
      assert(!Gates.fits(pairs, 0) && !Gates.fits(pairs, 1), t)
      assert(Gates.maxRows(pairs) == 0, t)
      assert(Gates.broadcastIfFits(pairs, 1) eq pairs, t)
    }
  }

  test("rows fit while rows × Spark's row-size estimate fits the threshold") {
    withConf(threshold, "240") {
      assert(Gates.fits(pairs, 10) && !Gates.fits(pairs, 11))
      assert(!Gates.fits(pairs, -1))
      assert(Gates.maxRows(pairs) == 10)
      assert(Gates.broadcastIfFits(pairs, 10) ne pairs)
      assert(Gates.broadcastIfFits(pairs, 11) eq pairs)
    }
    // a string column counts Spark's 20 B default: 8 + 20 + 8 = 36 B
    val words = Seq(("w", 1L)).toDF("w", "n")
    withConf(threshold, "360")(assert(Gates.maxRows(words) == 10))
  }

  test("maxRows under a 1 TB threshold stays within Int for limit(maxRows + 1)") {
    withConf(threshold, (1L << 40).toString) {
      val n = Gates.maxRows(pairs)
      assert(n == Int.MaxValue - 1)
      assert(pairs.limit(n + 1).count() == 1)
      assert(!Gates.fits(pairs, Long.MaxValue), "rows × bytes must not overflow")
    }
  }

  test("an eager stage is gated by its measured bytes, not the type estimate") {
    // 40 eight-character strings a row: ~600 B measured, where Spark's
    // per-type estimate counts an array as one 20 B string
    val stage = Dedup.materialize(spark.range(0, 1000).select(
      array_repeat(lpad(col("id").cast("string"), 8, "x"), 40).as("syms"),
      col("id").as("cnt")), eager = true)
    val rows = Dedup.rowCount(stage)
    val estimate = EstimationUtils.getSizePerRow(stage.queryExecution.analyzed.output) * rows
    val bytes = stage.queryExecution.optimizedPlan.stats.sizeInBytes
    val thr = 100000L
    assert(estimate < thr && bytes > 2 * thr, s"estimate $estimate, bytes $bytes")
    withConf(threshold, thr.toString) {
      assert(!Gates.fits(stage, rows))
      assert(Gates.maxRows(stage) < rows && Gates.maxRows(stage) > 0)
      // a derived frame carries no measurement: the estimate admits it
      assert(Gates.fits(stage.filter(col("cnt") >= 0), rows))
    }
    val empty = Dedup.materialize(pairs.filter(col("a") < 0), eager = true)
    assert(Dedup.rowCount(empty) == 0L)
    withConf(threshold, "240")(assert(Gates.fits(empty, 0) && Gates.maxRows(empty) == 10))
  }
}
