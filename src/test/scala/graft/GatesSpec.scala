package graft

import graft.operators.Gates

/** The one size gate: rows × Spark's row-size estimate against the
  * session's broadcast threshold.
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
}
