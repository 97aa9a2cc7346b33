package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Scale-safe global analytic ranks: percent_rank / cume_dist over a
  * total ordering WITHOUT a partition-less window over the data.
  *
  * `Window.orderBy(key)` with no partitionBy funnels the whole table
  * through one task — correct, but the classic 100 TB scale-killer. The
  * same results compute two-phase:
  *
  *   1. bucketize rows by value range: approx-quantile cut points of the
  *      leading sort column (one sketch pass) → a map-side monotone
  *      bucket id;
  *   2. rank locally per bucket — parallel windows after one ordinary
  *      hash shuffle on the bucket id;
  *   3. offset by cumulative bucket counts — a tiny aggregate (≤ B rows
  *      by construction) collected, prefix-summed on the driver, and
  *      broadcast-joined back.
  *
  * Correctness never depends on the quantile sketch: any monotone
  * bucketing gives exact ranks (the cut points only balance bucket
  * sizes), and tie groups cannot straddle buckets because the bucket is
  * a function of the leading sort value. Ties are handled exactly:
  * percent_rank uses the tie group's first position (local `rank()`),
  * cume_dist its last (via the descending-rank identity
  * #rows≤x = n_bucket − rank_desc(x) + 1).
  */
object Ranking {

  /** Range-bucket cut points for `lead` (numeric): an approx-quantile
    * sketch over a 2% sample (like Spark's own range partitioner).
    * Correctness of two-phase global operators built on the buckets never
    * depends on the sketch — any monotone bucketing is exact; the cuts
    * only balance bucket sizes — and an empty sample (tiny input)
    * degrades to one bucket, still correct. Shared by [[withGlobalRanks]]
    * and [[Packing.withRunningTotal]], which call it on their
    * materialized projection so the sketch pass doubles as the (one)
    * source scan.
    */
  private[operators] def rangeCuts(df: DataFrame, lead: String,
      numBuckets: Int): Array[Double] =
    (try {
      df.select(col(lead).cast("double").as("_v"))
        .sample(withReplacement = false, 0.02, seed = 7)
        .stat.approxQuantile("_v",
          (1 until numBuckets).map(_.toDouble / numBuckets).toArray, 0.01)
    } catch { case NonFatal(_) => Array.empty[Double] }) // empty sample → 1 bucket
      .distinct.sorted

  /** Monotone bucket id of `lead` given [[rangeCuts]] cut points. */
  private[operators] def bucketCol(lead: String, cuts: Array[Double]): Column =
    cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col(lead).cast("double") > c, 1).otherwise(0)
    }

  /** Append an exact global row number 1..N (`outCol`) by `sortCols`
    * (which must be a TOTAL order — end it with a unique key) plus the
    * total count (`nCol`), with the same two-phase shape as
    * [[withGlobalRanks]]: range-bucket on the leading column, local
    * row_number per bucket, broadcast cumulative offsets — no global
    * window anywhere. The per-bucket count table collected on the
    * driver is ≤ numBuckets rows by construction.
    */
  def withGlobalRowNumber(df: DataFrame, sortCols: Seq[String],
      outCol: String = "grank", nCol: String = "gn",
      numBuckets: Int = 32): DataFrame =
    withGlobalRowNumberN(df, sortCols, outCol, nCol, numBuckets)._1

  /** [[withGlobalRowNumber]] that also returns the total count N —
    * already computed on the driver by the bucket-count collect, so
    * callers that need N (e.g. heapsGrowth's checkpoint grid) read it
    * here instead of issuing a second corpus pass.
    */
  def withGlobalRowNumberN(df: DataFrame, sortCols: Seq[String],
      outCol: String = "grank", nCol: String = "gn",
      numBuckets: Int = 32): (DataFrame, Long) = {
    require(sortCols.nonEmpty, "withGlobalRowNumber needs sort columns")
    val mat = Dedup.materialize(df)
    val b = mat.withColumn("_b",
      bucketCol(sortCols.head, rangeCuts(mat, sortCols.head, numBuckets)))
    val cnt = b.groupBy("_b").agg(count(lit(1)).as("_cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val n = cnt.map(_._2).sum
    val offRows = cnt.scanLeft((0, 0L, 0L)) { case ((_, off, c0), (bid, c)) =>
      (bid, off + c0, c)
    }.drop(1).map { case (bid, off, _) => (bid, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = offRows.toSeq.toDF("_b", "_off")
    val w = Window.partitionBy("_b").orderBy(sortCols.map(col): _*)
    val out = b.join(offsets, Seq("_b"))
      .withColumn(outCol, col("_off") + row_number().over(w))
      .withColumn(nCol, lit(n))
      .drop("_b", "_off")
    (out, n)
  }

  /** Append `prCol` (percent_rank) and `cdCol` (cume_dist) computed over
    * the global ordering `sortCols` (ascending, left-to-right). The
    * leading sort column must be numeric — it is range-bucketed via
    * approximate quantiles; the cast to double is monotone so bucket
    * assignment stays order-consistent.
    *
    * `tieFree = true` asserts the sort key combination is unique (e.g. it
    * ends in a key column): then rank = row position and #rows≤x = rank,
    * so the descending-rank window — the only second sort — is skipped.
    */
  def withGlobalRanks(df: DataFrame, sortCols: Seq[String],
      prCol: String = "pr", cdCol: String = "cd",
      numBuckets: Int = 32, tieFree: Boolean = false): DataFrame = {
    require(sortCols.nonEmpty, "withGlobalRanks needs at least one sort column")
    // Materialize the input ONCE (lazy local checkpoint — the quantile
    // sketch's job populates the blocks) and run all three passes against
    // the materialized copy: sketch, per-bucket counts, final ranked
    // query. Without this the upstream scan runs three times — 1–2
    // redundant full scans of the fact table at 100 TB.
    val mat = Dedup.materialize(df)
    val b = mat.withColumn("_b",
      bucketCol(sortCols.head, rangeCuts(mat, sortCols.head, numBuckets)))
    // Cumulative offsets on the driver: the per-bucket count table is
    // ≤ numBuckets rows BY CONSTRUCTION (driver-scale regardless of input
    // size), so collecting it is the fit-then-broadcast shape — no window
    // at all, one fewer shuffle, and no partition-less WindowExec anywhere
    // in the plan (the previous formulation windowed the tiny counts table,
    // which was harmless but tripped Spark's single-partition warning on
    // every run).
    val cnt = b.groupBy("_b").agg(count(lit(1)).as("_cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val n = cnt.map(_._2).sum
    val offRows = cnt.scanLeft((0, 0L, 0L)) { case ((_, off, c0), (bid, c)) =>
      (bid, off + c0, c)
    }.drop(1).map { case (bid, off, c) => (bid, off, n, c) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = offRows.toSeq.toDF("_b", "_off", "_n", "_cnt")
    val asc = Window.partitionBy("_b").orderBy(sortCols.map(col): _*)
    val desc = Window.partitionBy("_b").orderBy(sortCols.map(c => col(c).desc): _*)
    val ranked = b.join(offsets, Seq("_b"))
      .withColumn("_rk", rank().over(asc))
    val withLe = // #rows in bucket with key ≤ current
      if (tieFree) ranked.withColumn("_le", col("_rk"))
      else ranked.withColumn("_le",
        col("_cnt") - rank().over(desc) + 1)
    withLe
      .withColumn(prCol,
        when(col("_n") > 1,
          (col("_off") + col("_rk") - 1).cast("double") / (col("_n") - 1))
          .otherwise(lit(0.0)))
      .withColumn(cdCol,
        (col("_off") + col("_le")).cast("double") / col("_n"))
      .drop("_b", "_off", "_n", "_cnt", "_rk", "_le")
  }
}
