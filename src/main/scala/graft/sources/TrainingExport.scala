package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ranking

/** The pipeline's last mile: export a curated corpus as size-bounded,
  * deterministically shuffled training shards plus a verifiable
  * manifest.
  *
  * Training ingestion wants (a) a global pseudo-random order decoupled
  * from corpus layout (so a reader streaming shard 0..k sees an i.i.d.
  * mixture, not one source then the next), (b) size-bounded shards, and
  * (c) reproducibility — the same corpus + seed must shard identically
  * on any cluster. The order key is the seeded md5 permutation used
  * across the engine (`md5(seed#id)` — engine-independent), the exact
  * global position comes from [[graft.operators.Ranking.withGlobalRowNumber]]
  * (two-phase: range-bucket on the numeric md5 prefix, local
  * row_number, broadcast offsets — NO global window at any scale), and
  * shard = (pos-1) DIV rowsPerShard.
  *
  * Scale shape: one pass for bucket counts (bounded collect ≤
  * numBuckets), one shuffle into shards, one write. The manifest's
  * per-shard id digest concatenates the shard's sorted ids —
  * O(rowsPerShard) per group, fine for verification-sized shards; for
  * billion-row shards swap in an order-insensitive digest (sum of
  * per-id hashes) at the cost of weaker collision guarantees.
  */
object TrainingExport {

  /** Assign every row its shard: `shard` (0-based) and `shard_pos`
    * (0-based position inside the shard) by the seeded md5 global
    * permutation. Deterministic for a given (corpus, seed,
    * rowsPerShard) — reruns and other engines agree bit-for-bit
    * (the q115 oracle replays it with a plain global window).
    */
  def withShards(df: DataFrame, rowsPerShard: Int, seed: Long = 0,
      idCol: String = "doc_id"): DataFrame = {
    require(rowsPerShard > 0, s"rowsPerShard $rowsPerShard must be > 0")
    val keyed = df
      .withColumn("_md5", md5(concat_ws("#", lit(seed), col(idCol).cast("string"))))
      // numeric lead for range-bucketing: the first 15 hex chars as a
      // long (60 bits). Hex is fixed-width lowercase, so numeric order
      // of the prefix is a prefix-projection of (md5, id) lexicographic
      // order — bucketing by it never contradicts the final sort.
      .withColumn("_ord", conv(substring(col("_md5"), 1, 15), 16, 10).cast("long"))
    Ranking.withGlobalRowNumber(keyed, Seq("_ord", "_md5", idCol),
        outCol = "_grank", nCol = "_gn")
      .withColumn("shard", expr(s"CAST((_grank - 1) DIV $rowsPerShard AS BIGINT)"))
      .withColumn("shard_pos", expr(s"CAST((_grank - 1) % $rowsPerShard AS BIGINT)"))
      .drop("_ord", "_md5", "_grank", "_gn")
  }

  /** Per-shard manifest: (shard, n_rows, id_digest) where id_digest =
    * md5 of the shard's ids sorted numerically and joined with ','.
    * Any reader can recompute it from a shard's content; a mismatch
    * pinpoints the damaged shard without touching the others.
    */
  def manifest(df: DataFrame, rowsPerShard: Int, seed: Long = 0,
      idCol: String = "doc_id"): DataFrame =
    withShards(df, rowsPerShard, seed, idCol)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        md5(array_join(transform(sort_array(collect_list(col(idCol))),
          x => x.cast("string")), ",")).as("id_digest"))

  /** Shard-skew preflight (r16 verdict stretch item) — the pre-write
    * companion to [[writeShards]], as
    * [[graft.operators.Validation.joinSkewPreflight]] is to a join:
    * BEFORE writing anything, compute each planned shard's row and
    * token counts from the same (corpus, seed, rowsPerShard)
    * permutation the write would use, and flag shards whose token load
    * falls outside a tolerance band around the mean. Rows per shard
    * are equalized by construction; token SKEW is what actually breaks
    * training ingestion (a shard of books next to a shard of tweets
    * stalls the slowest reader), and this is the number to read before
    * paying for the write. `load_q6` = 10⁶ · shard tokens / mean shard
    * tokens (10⁶ = perfectly balanced — the q328 convention);
    * `flagged` = outside [10⁶−tolQ6, 10⁶+tolQ6]. The ragged final
    * shard (corpus % rowsPerShard rows) reads a genuinely low load —
    * that IS skew a reader sees, so it flags honestly rather than
    * being special-cased away.
    *
    * Output: one row per planned shard (shard, n_rows, n_tokens,
    * load_q6, flagged) with (n_shards, total_tokens) broadcast on
    * every row. Consistent with [[manifest]]: identical shard ids and
    * n_rows for the same (seed, rowsPerShard) — spec-asserted.
    *
    * Scale shape: [[withShards]]' two-phase global permutation (no
    * partition-less window), one partial-agg'd collapse to |shards|
    * cells, a broadcast 1-row total. Nothing corpus-sized crosses an
    * extra shuffle and nothing reaches the driver.
    */
  def shardSkewPreflight(df: DataFrame, rowsPerShard: Int,
      seed: Long = 0, idCol: String = "doc_id",
      tokenCol: String = "n_chars", tolQ6: Long = 100000): DataFrame =
    shardLoadReadout(withShards(df, rowsPerShard, seed, idCol),
      tokenCol, tolQ6)

  /** The per-shard load table behind [[shardSkewPreflight]] and
    * [[tokenShardPlan]] — ONE readout for the audit and its remedy, so
    * the two are comparable number for number: per shard (shard,
    * n_rows, n_tokens, load_q6, flagged) + broadcast (n_shards,
    * total_tokens). Input must carry a `shard` column.
    */
  private def shardLoadReadout(sharded: DataFrame, tokenCol: String,
      tolQ6: Long): DataFrame = {
    require(tolQ6 >= 0, s"tolQ6 $tolQ6 must be >= 0")
    val cells = sharded
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col(tokenCol).cast("long"), lit(0L)))
          .as("n_tokens"))
    val tot = cells.agg(count(lit(1)).as("n_shards"),
      coalesce(sum("n_tokens"), lit(0L)).as("total_tokens"))
    cells.crossJoin(tot)
      .withColumn("load_q6", when(col("total_tokens") > 0, expr(
        "CAST((CAST(n_tokens AS DECIMAL(38,0)) * n_shards * 1000000)" +
          " DIV total_tokens AS BIGINT)")))
      .withColumn("flagged",
        col("load_q6") > lit(1000000L + tolQ6) ||
          col("load_q6") < lit(1000000L - tolQ6))
      .select(col("shard"), col("n_rows"), col("n_tokens"),
        col("load_q6"), col("flagged"), col("n_shards"),
        col("total_tokens"))
  }

  /** Token-BALANCED shard assignment — the remedy
    * [[shardSkewPreflight]] flags toward: the same seeded md5 global
    * permutation as [[withShards]], but shard boundaries fall on
    * TOKEN-budget marks instead of row counts —
    * `shard = ⌊cum_before / tokensPerShard⌋` where cum_before is the
    * exact exclusive prefix token sum in permutation order (a document
    * belongs to the shard its first token lands in). Every shard's
    * token load sits within ±(max doc tokens) of the budget — the
    * stalled-reader skew a row-count split ships is gone by
    * construction, at the cost of ragged row counts (readers stream
    * tokens, not rows, so that is the right trade). NULL token counts
    * read 0 (the document still ships, contributes no budget).
    *
    * Scale shape: [[graft.operators.Packing.withRunningTotal]]'s
    * range-bucketed two-phase prefix sum (no partition-less window at
    * any scale) + map-side arithmetic; deterministic for a given
    * (corpus, seed, tokensPerShard) on any cluster layout.
    */
  def withTokenShards(df: DataFrame, tokensPerShard: Long,
      seed: Long = 0, idCol: String = "doc_id",
      tokenCol: String = "n_chars"): DataFrame = {
    require(tokensPerShard > 0,
      s"tokensPerShard $tokensPerShard must be > 0")
    val keyed = df
      .withColumn("_md5",
        md5(concat_ws("#", lit(seed), col(idCol).cast("string"))))
      .withColumn("_ord",
        conv(substring(col("_md5"), 1, 15), 16, 10).cast("long"))
    graft.operators.Packing
      .withRunningTotal(keyed, Seq("_ord", "_md5", idCol), tokenCol,
        outCol = "_cum")
      .withColumn("shard", expr(
        s"CAST((_cum - coalesce(CAST($tokenCol AS BIGINT), 0L))" +
          s" DIV ${tokensPerShard}L AS BIGINT)"))
      .drop("_md5", "_ord", "_cum")
  }

  /** Planned-shard load table for [[withTokenShards]] — the same
    * readout as [[shardSkewPreflight]] so the audit and the remedy are
    * directly comparable: with token-budget boundaries every non-tail
    * shard reads load_q6 ≈ 10⁶ (within ±max-doc/budget), and the
    * preflight's flags vanish.
    */
  def tokenShardPlan(df: DataFrame, tokensPerShard: Long,
      seed: Long = 0, idCol: String = "doc_id",
      tokenCol: String = "n_chars", tolQ6: Long = 100000): DataFrame =
    shardLoadReadout(withTokenShards(df, tokensPerShard, seed, idCol,
      tokenCol), tokenCol, tolQ6)

  /** Write the sharded corpus under `outDir` (one directory + one file
    * per shard via `partitionBy`, rows ordered by `shard_pos` inside
    * each file) and return the manifest of what was written.
    */
  def writeShards(df: DataFrame, outDir: String, rowsPerShard: Int,
      seed: Long = 0, idCol: String = "doc_id"): DataFrame = {
    // one computation feeds both the write and the manifest; registered
    // with the pipeline checkpoint scope so long sessions don't leak it
    val sharded = graft.operators.Dedup.materialize(
      withShards(df, rowsPerShard, seed, idCol))
    sharded
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "shard_pos")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        md5(array_join(transform(sort_array(collect_list(col(idCol))),
          x => x.cast("string")), ",")).as("id_digest"))
  }
}
