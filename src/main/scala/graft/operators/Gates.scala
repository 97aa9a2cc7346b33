package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.internal.SQLConf

/** The one size gate. Every operator that picks a physical strategy
  * from an exact row count asks here: a fixed point collected to the
  * driver (else the distributed loop), a `limit(N + 1)` probe that
  * collects at most N rows, a broadcast hint on a derived frame (else a
  * shuffle join). `rows` × `df`'s bytes per row must fit the session's
  * `spark.sql.autoBroadcastJoinThreshold`, the setting Catalyst compares
  * with. An eager stage's row is the mean its `materialize` job
  * measured (its bytes over its rows, rounded up); any other frame's is
  * the planner's per-type estimate (`EstimationUtils.getSizePerRow`),
  * which counts an array as one element and a string as 20 B. A
  * threshold ≤ 0 admits nothing, so `-1` turns off every broadcast and
  * every driver-side branch at once.
  *
  * Catalyst sizes joins against an eager stage (its measured rows and
  * bytes; `Dedup.rowCount` reads the rows), an ungrouped aggregate or
  * a local relation by itself. A frame DERIVED from a stage (a join or
  * aggregation over it, a lazy stage) carries only an estimate, often
  * the product of its inputs' sizes: the caller that knows a bound on
  * its rows passes it to [[broadcastIfFits]].
  */
private[graft] object Gates {

  private def threshold: Long = SQLConf.get.autoBroadcastJoinThreshold

  private def bytesPerRow(df: DataFrame): BigInt =
    Dedup.measured(df).collect {
      case st if st.rowCount.exists(_ > 0) =>
        ((st.sizeInBytes + st.rowCount.get - 1) / st.rowCount.get).max(1)
    }.getOrElse(EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output))

  /** True iff `rows` rows of `df`'s output fit the broadcast threshold. */
  def fits(df: DataFrame, rows: Long): Boolean = {
    val thr = threshold
    thr > 0 && rows >= 0 && bytesPerRow(df) * rows <= thr
  }

  /** `df` with a broadcast hint iff `rows` of it [[fits]]. */
  def broadcastIfFits(df: DataFrame, rows: Long): DataFrame =
    if (fits(df, rows)) broadcast(df) else df

  /** The most rows of `df`'s output that fit the broadcast threshold,
    * for a `limit(maxRows(df) + 1)` probe: 0 when the threshold is
    * ≤ 0, and never past `Int.MaxValue - 1`.
    */
  def maxRows(df: DataFrame): Int = {
    val thr = threshold
    if (thr <= 0) 0
    else (BigInt(thr) / bytesPerRow(df)).min(Int.MaxValue - 1).toInt
  }
}
