package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining: lay the corpus out as one long
  * token stream in a deterministic document order and chunk it into
  * fixed-budget training sequences (the "concatenate and chunk" scheme of
  * GPT-style pretraining). Each document maps to a span
  * [seq_start, seq_end] of sequence ids plus its offset inside the first
  * one — exactly what a downstream batch writer needs to emit packed
  * examples without ever materializing the concatenation.
  *
  * The primitive underneath is an EXACT global prefix sum over a total
  * ordering — the classic scale trap (a partition-less
  * `sum().over(Window.orderBy(...))` funnels the whole table through one
  * task). [[withRunningTotal]] is the two-phase scale-safe form, sharing
  * its monotone range-bucketing with [[Ranking.withGlobalRanks]]:
  * bucket map-side → per-bucket windows after one hash shuffle → tiny
  * per-bucket totals collected, prefix-summed on the driver (≤ numBuckets
  * rows by construction), broadcast back. No partition-less window
  * anywhere in the plan.
  */
object Packing {

  /** Append `outCol` = running total of `valueCol` (inclusive of the
    * current row) over the global ordering `sortCols`. Values are summed
    * as BIGINT — exact — so `valueCol` must be integral (token counts,
    * byte sizes, row weights). The leading sort column must be numeric
    * (it is range-bucketed; the cast to double is monotone so bucket
    * assignment is order-consistent); ties must be broken by the
    * remaining sort columns for a deterministic result.
    */
  def withRunningTotal(df: DataFrame, sortCols: Seq[String], valueCol: String,
      outCol: String = "running", numBuckets: Int = 32): DataFrame = {
    require(sortCols.nonEmpty, "withRunningTotal needs at least one sort column")
    // One source scan (same shape as Ranking.withGlobalRanks): lazily
    // materialize the input, let the quantile sketch populate it,
    // and feed both the per-bucket totals and the final query from the
    // materialized copy.
    val mat = Dedup.materialize(df)
    val b = mat.withColumn("_b",
      Ranking.bucketCol(sortCols.head,
        Ranking.rangeCuts(mat, sortCols.head, numBuckets)))
    // per-bucket totals: ≤ numBuckets rows by construction — collect,
    // prefix-sum on the driver, broadcast back (same fit-then-broadcast
    // shape as Ranking's offsets; no window over the counts table)
    val perBucket = b.groupBy("_b")
      .agg(sum(col(valueCol).cast("long")).as("_s"))
      .collect()
      // an all-NULL bucket sums to NULL — treat as contributing nothing
      .map(r => (r.getInt(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy(_._1)
    val offRows = perBucket.scanLeft((0, 0L, 0L)) { case ((_, off, s0), (bid, s)) =>
      (bid, off + s0, s)
    }.drop(1).map { case (bid, off, _) => (bid, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsets = offRows.toSeq.toDF("_b", "_boff")
    val w = Window.partitionBy("_b").orderBy(sortCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL values contribute 0 — both inside the sum (a NULL row must not
    // poison its successors) and around it (a bucket prefix that is all
    // NULL is an empty contribution, matching the all-NULL bucket
    // treatment of the driver-side offsets above)
    b.join(offsets, Seq("_b"))
      .withColumn(outCol, col("_boff") +
        coalesce(sum(coalesce(col(valueCol).cast("long"), lit(0L))).over(w), lit(0L)))
      .drop("_b", "_boff")
  }

  /** Pack documents into fixed-`budget` token sequences in `idCol` order.
    * Output per document: (`idCol`, n_tokens, cum_before, seq_start,
    * seq_end, offset_in_seq) where cum_before is the exclusive prefix sum
    * of token counts, seq_start/seq_end the first/last sequence id the
    * document's tokens land in (empty documents occupy a zero-width slot
    * in their current sequence), and offset_in_seq its starting position
    * inside seq_start. Token counts default to whitespace tokens
    * ([[TextAnalysis.tokenCountWs]]); pass `tokenCount` for
    * model-specific counting — e.g.
    * `Some(graft.functions.Bpe.tokenCount(col("text"), merges))` packs
    * by a loaded BPE tokenizer's counts.
    *
    * All arithmetic is integral (DIV / %), so the layout is bit-exact on
    * any engine and any cluster size.
    */
  def packSequences(docs: DataFrame, budget: Int, idCol: String = "doc_id",
      textCol: String = "text",
      tokenCount: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // null text counts as 0 tokens (a zero-width slot, like the empty
    // string) — without the coalesce the NULL poisons the running sum and
    // this row's span, diverging from the oracle's COALESCEd prefix sum
    val tc = tokenCount.getOrElse(TextAnalysis.tokenCountWs(col(textCol)))
    val withTok = docs.select(col(idCol),
      coalesce(tc.cast("long"), lit(0L)).as("n_tokens"))
    withRunningTotal(withTok, Seq(idCol), "n_tokens", outCol = "_run")
      .withColumn("cum_before", col("_run") - col("n_tokens"))
      .withColumn("seq_start", expr(s"cum_before DIV $budget"))
      .withColumn("seq_end",
        expr(s"(cum_before + greatest(n_tokens, 1L) - 1L) DIV $budget"))
      .withColumn("offset_in_seq", col("cum_before") % budget)
      .select(col(idCol), col("n_tokens"), col("cum_before"),
        col("seq_start"), col("seq_end"), col("offset_in_seq"))
  }

  /** Packing-efficiency report over a [[packSequences]] layout: document
    * and token totals, sequence count, the capacity those sequences
    * represent (`n_sequences × budget` — capacity − tokens is the
    * padding a training run pays for), and how many documents span a
    * sequence boundary (relevant when the loader can't split). One
    * partial-aggregated pass over the packed table; output is a single
    * row whatever the corpus size.
    */
  /** Context-length planner — "what does each max_len cost in lost
    * text?" asked BEFORE committing to a packing budget (the planning
    * companion to [[packSequences]]' execution and [[packingReport]]'s
    * postmortem): for every candidate budget, how many documents
    * truncate and what Q6 share of the corpus tokens falls off the
    * end. Tokens are the packing family's q79 whitespace convention
    * ([[TextAnalysis.tokenCountWs]] — the planner runs before a
    * tokenizer is even chosen; swap in [[graft.operators.TextAnalysis
    * .tokenBudgetBySource]]'s exact BPE counts per domain when one
    * is). One row per budget:
    * (max_len, n_docs, n_tokens, n_docs_truncated, tokens_lost,
    * lost_share_q6).
    *
    * Scale shape: ONE corpus scan computes per-doc token counts
    * map-side; the |budgets|-row grid broadcast-crosses onto it and
    * the partial-agg'd groupBy collapses straight to |budgets| rows.
    */
  def contextLengthPlan(docs: DataFrame,
      budgets: Seq[Int] = Seq(128, 256, 512, 1024),
      textCol: String = "text"): DataFrame = {
    require(budgets.nonEmpty, "contextLengthPlan needs budgets")
    val spark = docs.sparkSession
    import spark.implicits._
    val n = docs.select(greatest(lit(0L),
      coalesce(TextAnalysis.tokenCountWs(col(textCol)).cast("long"),
        lit(0L))).as("_n"))
    val grid = budgets.map(_.toLong).toDF("max_len")
    n.crossJoin(grid)
      .groupBy("max_len")
      .agg(count(lit(1)).as("n_docs"),
        sum("_n").as("n_tokens"),
        sum(when(col("_n") > col("max_len"), 1L).otherwise(0L))
          .as("n_docs_truncated"),
        sum(greatest(lit(0L), col("_n") - col("max_len")))
          .as("tokens_lost"))
      .withColumn("lost_share_q6", when(col("n_tokens") > 0, expr(
        "CAST((CAST(tokens_lost AS DECIMAL(38,0)) * 1000000)" +
          " DIV n_tokens AS BIGINT)")))
      .select(col("max_len"), col("n_docs"), col("n_tokens"),
        col("n_docs_truncated"), col("tokens_lost"),
        col("lost_share_q6"))
  }

  def packingReport(packed: DataFrame, budget: Int): DataFrame =
    packed.agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("total_tokens"),
      max("seq_end").as("_maxseq"),
      sum(when(col("seq_start") =!= col("seq_end"), 1L).otherwise(0L))
        .as("n_spanning_docs"))
      .select(col("n_docs"), col("total_tokens"),
        (col("_maxseq") + 1).as("n_sequences"),
        ((col("_maxseq") + 1) * budget).as("capacity_tokens"),
        col("n_spanning_docs"))
}
