package graft.operators

import org.apache.spark.sql.functions._

import graft.core.{DabDataset, DabOp, SelectOp, SplitOp}
import graft.functions.{Chain, Processor}

/** Feature materialization (reference `prepare_feat`,
  * dabstract/dataset/dataset.py:703-928) and eager loading
  * (`load_memory`, dataset.py:555-626).
  *
  * The reference's flow — pop-dive to the source table, run the chain
  * per file with a worker pool, save one .npy per row, rebuild a lazy
  * table, replay recorded selects/splits — collapses in Spark to:
  * select(chain) → write parquet (idempotent) → read parquet → replay
  * op-log filters. Executor parallelism replaces the worker pool; the
  * per-row `info` pickle becomes an `info` struct column in the same
  * parquet.
  */
object Features {

  /** Run `chain` over `dataCol` and persist the result as a feature
    * parquet at `featPath`; returns the dataset with the feature table
    * read back lazily under `newKey`. Idempotent like the reference's
    * existence check (dataset.py:832-841): an existing feature dir is
    * reused, not recomputed.
    */
  def prepareFeat(ds: DabDataset, dataCol: String, infoCol: Option[String],
      chain: Chain, newKey: String, featPath: String,
      overwrite: Boolean = false): DabDataset = {
    val spark = ds.spark
    val exists = try {
      spark.read.parquet(featPath).schema.nonEmpty && !overwrite
    } catch { case _: Throwable => false }
    if (!exists) {
      val info = infoCol.map(col).getOrElse(Processor.emptyInfo)
      val fitted = chain.fit(ds.df, dataCol, info)
      val (feat, featInfo) = fitted(col(dataCol), info)
      ds.df.select(col(DabDataset.IdxCol), feat.as(newKey), featInfo.as(s"${newKey}_info"))
        .write.mode(if (overwrite) "overwrite" else "ignore").parquet(featPath)
    }
    val featDf = spark.read.parquet(featPath)
    // replay: positions in the feature parquet are the source positions,
    // so a plain _idx equi-join re-applies every recorded select/split
    // (the op-log already shaped ds.df itself).
    ds.addDict(DabDataset.fromExisting(featDf))
  }

  /** Point-in-time-correct features (the feature-store materialization
    * shape): for every CLICK event, the user's trailing-window state AS
    * OF that event — 7-day spend, 7-day event count, and microseconds
    * since the last purchase — with no leakage from the future. This
    * is the training-set assembly step where naive joins silently look
    * ahead; RANGE frames anchored at each row's own event time make
    * look-ahead impossible by construction.
    *
    * Exactness: spend in 10⁻⁴ units (integer), window membership by
    * integer microsecond RANGE frames ([t−7d, t], value-based — ties
    * at the same microsecond land in the frame on both engines
    * regardless of row order), gap as an integer difference.
    *
    * Scale shape: ONE per-user sort window computes all three features
    * (conditional aggregates over two frames of the same ordering —
    * single shuffle + sort, exchange/sort reuse across the frames);
    * nothing global, nothing on the driver.
    */
  def pointInTimeFeatures(events: org.apache.spark.sql.DataFrame,
      windowUs: Long = 604800000000L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("us"),
      coalesce((col("value").cast("decimal(18,4)") * 10000).cast("long"),
        lit(0L)).as("vt"))
    val trailing = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-windowUs, 0)
    val upToNow = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(Window.unboundedPreceding, 0)
    val isP = col("event_type") === "purchase"
    base
      .withColumn("spend_7d_tenk",
        coalesce(sum(when(isP, col("vt"))).over(trailing), lit(0L)))
      .withColumn("n_events_7d", count(lit(1)).over(trailing))
      .withColumn("last_purchase_gap_us",
        col("us") - max(when(isP, col("us"))).over(upToNow))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("us"),
        col("spend_7d_tenk"), col("n_events_7d"),
        col("last_purchase_gap_us"))
  }
}
