package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Dedup

/** Positional-table core: the Spark-native equivalent of the reference's
  * `DictSeqAbstract` table + `Dataset` facade (reference:
  * dabstract/abstract/abstract.py:1530-1774, dabstract/dataset/dataset.py:17-121).
  *
  * The reference's contract is *ordinal*: rows are addressed by position,
  * concat preserves order, select/filter renumber. Spark rows are unordered,
  * so the engine carries an explicit `_idx: Long` column and renumbers after
  * row-changing ops. `_idx` is assigned in ONE job with no global shuffle
  * and no single-partition window — safe at 100 TB, unlike
  * `row_number() OVER ()`: the numbered frame is an eager stage
  * ([[graft.operators.Dedup.materialize]]) whose measured rows per
  * partition are the partitions' start offsets, so every later reader
  * shares the stage's blocks instead of recomputing the lineage. Like
  * any stage, a table built inside a `Dedup.withPipeline` scope must be
  * read inside it.
  *
  * Columns stay in the DataFrame; the wrapper tracks only driver-side
  * metadata: active keys (projection mask, reference abstract.py:1681-1706)
  * and an op-log of row-changing operations (replaces the reference's
  * "pop-diving", dataset.py:757-772).
  */
final class DabDataset private (
    val df: DataFrame,
    val activeKeys: Seq[String],
    val nrDatasets: Int,
    val opLog: Seq[DabOp]) extends Serializable {

  import DabDataset._

  def spark: SparkSession = df.sparkSession

  /** Column names except the engine-managed `_idx`. */
  def keys: Seq[String] = df.columns.toSeq.filterNot(_ == IdxCol)

  def len: Long = df.count()

  // ---- schema ops (reference abstract.py:1542-1679) ----

  /** Add / replace a column (reference `add`, abstract.py:1542-1573). */
  def add(key: String, col: Column): DabDataset =
    copy(df = df.withColumn(key, col))

  /** Add all columns of another equal-length table, positionally aligned
    * (reference `add_dict`, abstract.py:1575-1578): an `_idx` equi-join.
    * Clashing keys are replaced by `other`'s column — the reference's
    * `add` is a dict update (abstract.py:1566 `self._data.update`), so
    * the incoming key wins.
    */
  def addDict(other: DabDataset): DabDataset = {
    val clash = keys.toSet.intersect(other.keys.toSet)
    val left = clash.foldLeft(df) { (d, c) => d.drop(c) }
    copy(df = left.join(other.df, Seq(IdxCol), "inner"))
  }

  /** Point update of one cell (reference `__setitem__` per-row form
    * `db['key'][i] = v`, abstract.py:1828-1838 via tests
    * test_dataset.py:126-136): rewrite the column with a conditional —
    * declarative, so Catalyst folds repeated updates into one projection.
    * Negative indices wrap like the reference (`index % len`).
    */
  def setAt(key: String, idx: Long, value: Column): DabDataset = {
    val i = if (idx < 0) { val n = len; ((idx % n) + n) % n } else idx
    copy(df = df.withColumn(key,
      when(col(IdxCol) === i, value).otherwise(col(key))))
  }

  /** Drop a column (reference `remove`, abstract.py:1639-1643). */
  def remove(key: String): DabDataset =
    copy(df = df.drop(key), activeKeys = activeKeys.filterNot(_ == key))

  /** Second name for the same column (reference `add_alias`,
    * abstract.py:1677-1679). Catalyst sees one subtree — no double compute.
    */
  def addAlias(key: String, newKey: String): DabDataset =
    copy(df = df.withColumn(newKey, col(key)))

  /** Pack another equal-length table as ONE nested struct column — the
    * reference's nested `DictSeqAbstract` (a key whose value is itself a
    * table, abstract.py:1530-1545; recursive selection via
    * `iterative_select`, abstract.py:1648-1675). In the columnar
    * representation a nested table is a StructType column, so outer row
    * ops (select / split / replicate) keep the nested rows aligned
    * automatically — the reference's per-key recursion comes for free.
    * Nested fields are addressable in active keys as `key.field`.
    */
  def addNested(key: String, other: DabDataset): DabDataset = {
    val packed = other.df.select(col(IdxCol),
      struct(other.keys.map(col): _*).as(key))
    copy(df = df.join(packed, Seq(IdxCol), "inner"))
  }

  /** Recover a nested struct column as its own table (reference
    * `db[key]` yielding the nested `DictSeqAbstract`), with the outer
    * `_idx` — positions reflect any outer selections already applied.
    */
  def nested(key: String): DabDataset =
    DabDataset.fromExisting(df.select(col(IdxCol), col(s"$key.*")))

  /** Lazy per-row map over one column via a processor chain (reference
    * `MapAbstract`/`Map` factory + `add_map`, abstract.py:475-691): the
    * chain's column expressions replace `key` (and its info sibling when
    * present) in place — one codegen'd projection, laziness for free.
    */
  def addMap(key: String, chain: graft.functions.Chain,
      newKey: Option[String] = None): DabDataset = {
    val infoCol = s"${key}_info"
    val info =
      if (df.columns.contains(infoCol)) col(infoCol)
      else if (df.columns.contains("info")) col("info")
      else graft.functions.Processor.emptyInfo
    val (out, outInfo) = chain(col(key), info)
    val target = newKey.getOrElse(key)
    copy(df = df.withColumn(target, out).withColumn(s"${target}_info", outInfo))
  }

  /** Projection mask for row materialization (reference
    * `set_active_keys`, abstract.py:1681-1706).
    */
  def setActiveKeys(ks: String*): DabDataset = copy(activeKeys = ks)
  def resetActiveKeys(): DabDataset = copy(activeKeys = Nil)

  /** The DataFrame projected to active keys (all keys if none set), `_idx`
    * first (reference abstract.py:1736-1745). Dotted keys (`meta.field`)
    * reach into nested tables; the alias keeps the qualified name in the
    * output schema.
    */
  def active: DataFrame = {
    val ks = if (activeKeys.nonEmpty) activeKeys else keys
    df.select(col(IdxCol) +: ks.map(k => col(k).as(k)): _*)
  }

  /** Project keys positionally (reference `UnpackAbstract`,
    * abstract.py:71-145).
    */
  def unpack(ks: String*): DataFrame = df.select(ks.map(col): _*)

  // ---- row ops ----

  /** Keep rows matching a predicate, then renumber so positions stay dense
    * (reference `SelectAbstract` with a callable, abstract.py:1124-1310).
    * One `filter` keeps every column aligned — the reference's per-key
    * recursion (dataset.py:430-502) disappears on a columnar plan.
    */
  def select(pred: Column): DabDataset =
    copy(df = reindex(df.filter(pred)), opLog = opLog :+ SelectOp(pred.toString))

  /** Keep rows at explicit positions (reference SelectAbstract with an
    * index list). Fine for bounded lists; unbounded selections should use
    * the predicate form (no driver-side index materialization at scale).
    */
  def selectIndices(indices: Seq[Long]): DabDataset =
    select(col(IdxCol).isin(indices: _*))

  /** Python-slice selection `[start, stop) by step` on position. */
  def selectSlice(start: Long, stop: Long, step: Long = 1): DabDataset =
    select(col(IdxCol) >= start && col(IdxCol) < stop &&
      pmod(col(IdxCol) - start, lit(step)) === 0)

  /** Seeded uniform sample (reference `random_subsample`, select.py:7-24 —
    * unseeded there; we pin the seed for determinism, SURVEY §4).
    */
  def randomSubsample(ratio: Double, seed: Long): DabDataset =
    copy(df = reindex(df.sample(withReplacement = false, ratio, seed)),
      opLog = opLog :+ SelectOp(s"sample($ratio,$seed)"))

  /** Keep rows whose `key` is in `keep` (reference `subsample_by_str`,
    * select.py:27-40).
    */
  def subsampleByStr(key: String, keep: Seq[String]): DabDataset =
    select(col(key).isin(keep: _*))

  /** Lazy per-row predicate, None-padded variant: keeps the row count,
    * nulls the payload where the predicate fails (reference
    * `FilterAbstract(return_none=True)`, abstract.py:1313-1476).
    */
  def filterNonePad(key: String, pred: Column): DabDataset =
    copy(df = df.withColumn(key, when(pred, col(key))))

  /** Repeat row i `factor` times (reference `SampleReplicateAbstract`,
    * abstract.py:746-883). Factor may be a literal or any per-row column.
    */
  def sampleReplicate(factor: Column): DabDataset = {
    // factor 0 (or negative) must DROP the row; unguarded sequence(1, 0)
    // yields [1, 0] (Spark counts down when start > stop), which would
    // duplicate it instead. explode of an empty array drops the row.
    val f = factor.cast(LongType)
    val reps = when(f >= 1, sequence(lit(1L), f))
      .otherwise(array().cast("array<bigint>"))
    val rep = df
      .withColumn("_rep", explode(reps))
      .drop("_rep")
    copy(df = reindex(rep.sortWithinPartitions(IdxCol)),
      opLog = opLog :+ ReplicateOp(factor.toString))
  }

  /** Split each array cell of `dataKeys` into fixed-size non-overlapping
    * chunks; scalar columns replicate automatically (reference
    * `SplitAbstract`/`add_split`, abstract.py:886-1121, dataset.py:287-428).
    *
    * Chunk count per row = max(1, floor((len - win)/win) + 1)
    * (reference `_init_split`, abstract.py:955-987); rows shorter than
    * `win` contribute one (short) chunk. `power2` rounds the window up to
    * the next 2^k (abstract.py:956-958). One `posexplode` does the
    * row-expansion *and* the metadata replication — no shuffle.
    */
  def split(dataKeys: Seq[String], winIn: Int, power2: Boolean = false): DabDataset = {
    val win = if (power2) DabDataset.nextPow2(winIn) else winIn
    require(dataKeys.nonEmpty, "split needs at least one data key")

    def slices(k: String): Column = {
      val n = greatest(lit(1),
        (floor((size(col(k)) - win).cast("double") / win) + 1).cast("int"))
      transform(sequence(lit(0), n - 1),
        i => slice(col(k), i * win + 1, lit(win)))
    }
    // All split columns must agree on chunk count (reference
    // dataset.py:411-417); enforced per-row, fails the task if violated.
    val first = dataKeys.head
    val withSlices = dataKeys.foldLeft(df) { (d, k) =>
      d.withColumn(s"_slices_$k", slices(k))
    }
    val checked = dataKeys.tail.foldLeft(withSlices) { (d, k) =>
      d.withColumn(s"_slices_$k",
        when(size(col(s"_slices_$k")) === size(col(s"_slices_$first")),
          col(s"_slices_$k"))
          .otherwise(raise_error(lit(s"split: chunk count mismatch between $first and $k"))))
    }
    // `_outer`: a row always has ≥ 1 chunk, so the rows are the same, but
    // an inner explode lets Catalyst infer a `size(slices) > 0` filter and
    // push it below the projections, re-running an upstream UDF (the wav
    // decode) in it once per reference
    val exploded = checked
      .select(col("*"), posexplode_outer(col(s"_slices_$first")).as(Seq("_chunk", s"_c_$first")))
    val replaced = dataKeys.foldLeft(exploded) { (d, k) =>
      val c = if (k == first) col(s"_c_$first") else col(s"_slices_$k")(col("_chunk"))
      d.withColumn(k, c)
    }
    val cleaned = replaced.drop(dataKeys.map(k => s"_slices_$k"): _*)
      .drop(s"_c_$first")
    copy(df = reindex(cleaned.sortWithinPartitions(IdxCol, "_chunk")).drop("_chunk"),
      opLog = opLog :+ SplitOp(dataKeys, win))
  }

  /** Split by a duration in seconds (reference `add_split` seconds mode,
    * dataset.py:287-428): window length = round(seconds / time_step) from
    * the info struct of `infoKey`. The reference requires one uniform
    * sample period across rows (dataset.py:411-417), so the engine reads
    * it once (a 1-row action) and delegates to the sample-based split.
    */
  def splitSeconds(dataKeys: Seq[String], seconds: Double,
      infoKey: String = "info", power2: Boolean = false): DabDataset = {
    val ts = df.select(col(infoKey).getField("time_step")).head().getDouble(0)
    val win = math.round(seconds / ts).toInt
    split(dataKeys, win, power2)
  }

  // ---- set ops (reference abstract.py:1580-1637, dataset.py:182-221) ----

  /** UNION ALL preserving order: other's positions are offset by this
    * table's length, `dataset_id` is offset by `nrDatasets` (reference
    * `Dataset.concat`, dataset.py:182-221). `intersect=true` keeps only
    * common columns (reference abstract.py:1580-1637).
    */
  def concat(other: DabDataset, intersect: Boolean = false): DabDataset = {
    val common = keys.intersect(other.keys)
    require(intersect || keys.toSet == other.keys.toSet,
      s"concat: schemas differ (use intersect=true); left=${keys}, right=${other.keys}")
    val ks = if (intersect) common else keys
    val offset = len // one count job; cached upstream when chained
    val left = df.select((IdxCol +: ks).map(col): _*)
    var right = other.df.select((IdxCol +: ks).map(col): _*)
      .withColumn(IdxCol, col(IdxCol) + offset)
    if (ks.contains("dataset_id"))
      right = right.withColumn("dataset_id", col("dataset_id") + nrDatasets)
    new DabDataset(left.unionByName(right), activeKeys.filter(ks.contains),
      nrDatasets + other.nrDatasets, opLog)
  }

  def +(other: DabDataset): DabDataset = concat(other)

  // ---- materialization (reference dataset.py:555-626, abstract.py:252-472) ----

  /** Eager materialize (reference `load_memory`): persist + touch. */
  def loadMemory(): DabDataset = { df.persist(); df.count(); this }

  /** Row at a position (reference `__getitem__` row-dict): one job, a
    * scan with predicate pushdown on `_idx` (Catalyst still plans each
    * call). Throws `NoSuchElementException` when no row is at `i`.
    */
  def get(i: Long): Row = {
    val rows = active.filter(col(IdxCol) === i).collect()
    if (rows.isEmpty) throw new NoSuchElementException(s"no row at position $i")
    require(rows.length == 1, s"${rows.length} rows at position $i")
    rows.head
  }

  /** Positions `[a, b)` collected in order (reference DataAbstract
    * multi-index, abstract.py:252-472): one job; the at most b − a rows
    * are sorted on the driver.
    */
  def getRange(a: Long, b: Long): Array[Row] =
    active.filter(col(IdxCol) >= a && col(IdxCol) < b).collect().sortBy(_.getLong(0))

  /** Collect an array column stacked client-side (reference DataAbstract
    * auto-stacking, abstract.py:413-439): uniform row lengths → a dense
    * 2-D array; ragged rows are returned as-is (the reference degrades
    * ndarray→list the same way). Driver-side by definition — bounded use.
    */
  def collectStacked(key: String): Array[Array[Double]] =
    df.orderBy(IdxCol).select(col(key).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Streaming row iterator in position order (reference DataAbstract
    * generator mode / parallel_op prefetch, abstract.py:148-249): rows
    * arrive partition-by-partition without collecting the whole table.
    */
  def iterator: Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    active.orderBy(IdxCol).toLocalIterator().asScala
  }

  private def copy(
      df: DataFrame = df,
      activeKeys: Seq[String] = activeKeys,
      nrDatasets: Int = nrDatasets,
      opLog: Seq[DabOp] = opLog): DabDataset =
    new DabDataset(df, activeKeys, nrDatasets, opLog)
}

object DabDataset {
  val IdxCol = "_idx"

  def nextPow2(n: Int): Int = {
    var p = 1
    while (p < n) p <<= 1
    p
  }

  /** Wrap a DataFrame, assigning dense positional `_idx` in the frame's
    * current order with [[zipWithIdx]] — one job, no global sort, no
    * single-partition window — the 100 TB-safe way to number rows
    * (SURVEY §7.1).
    */
  def fromDataFrame(df: DataFrame): DabDataset =
    new DabDataset(zipWithIdx(df), Nil, 1, Nil)

  /** Wrap a DataFrame that already carries a valid `_idx` column. */
  def fromExisting(df: DataFrame): DabDataset = {
    require(df.columns.contains(IdxCol), s"fromExisting needs an $IdxCol column")
    new DabDataset(df, Nil, 1, Nil)
  }

  /** Wrap and add the reference's auto-columns `test_only`, `dataset_id`,
    * `dataset_str` (reference dataset.py:274-285).
    */
  def dataset(df: DataFrame, name: String = "Dataset", testOnly: Double = 0.0): DabDataset = {
    val base = df
      .withColumn("test_only", lit(testOnly))
      .withColumn("dataset_id", lit(0))
      .withColumn("dataset_str", lit(name))
    new DabDataset(zipWithIdx(base), Nil, 1, Nil)
  }

  /** Dense 0..n-1 `_idx` in current row order, without a global window:
    * `df` becomes an eager stage, whose one job also counts each
    * partition's rows; partition p's rows are numbered from the sum of
    * the counts before it, over the stage's blocks, as each reader scans
    * them.
    */
  def zipWithIdx(df: DataFrame): DataFrame = {
    val stage = Dedup.materialize(df, eager = true)
    val starts = Dedup.partitionRows(stage).scanLeft(0L)(_ + _)
    val schema = StructType(stage.schema.fields :+ StructField(IdxCol, LongType, nullable = false))
    val rows = stage.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    val numbered = rows.mapPartitionsWithIndex { (p, it) =>
      val append = UnsafeProjection.create(schema)
      val idx = new SpecificInternalRow(Seq(LongType))
      val joined = new JoinedRow
      var next = starts(p)
      it.map { r =>
        idx.setLong(0, next)
        next += 1
        append(joined(r, idx)): InternalRow
      }
    }
    ColumnShim.internalCreateDataFrame(df.sparkSession, numbered, schema)
  }

  /** Renumber after a row-changing op: [[zipWithIdx]] without the old
    * `_idx`. Partition order is stable under Spark's narrow ops, so the
    * prior order is preserved without a global sort. Row-changing
    * *shuffling* ops must orderBy (or sortWithinPartitions) first.
    */
  private[core] def reindex(df: DataFrame): DataFrame = zipWithIdx(df.drop(IdxCol))
}

/** Op-log entries replacing the reference's pop-dive/replay
  * (dataset.py:757-772, 913-922): `prepareFeat` extracts features from the
  * source table and replays these on the feature table.
  */
sealed trait DabOp extends Serializable
final case class SelectOp(pred: String) extends DabOp
final case class SplitOp(keys: Seq[String], win: Int) extends DabOp
final case class ReplicateOp(factor: String) extends DabOp
