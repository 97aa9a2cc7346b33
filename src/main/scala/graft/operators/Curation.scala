package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Curation-pipeline observability: a per-document decision trace over
  * the composed curation chain (URL dedup → exact dedup → Gopher
  * quality gate → domain blocklist → per-domain cap — the q114 /
  * RefinedWeb §3 order), and the stage-by-stage document/word funnel
  * derived from it. Production pipelines publish exactly this funnel
  * (RefinedWeb Table 2, Dolma §4's removal-rate tables), and the
  * per-doc trace answers the operational question the filtered corpus
  * alone cannot: WHY is a given document absent from the output.
  *
  * Scale shape: one scan of the corpus computes every per-doc fact
  * (Gopher flags, content digest, canonical URL, registered domain)
  * map-side and is checkpoint-materialized; every later stage works on
  * that slim attribute table (ids + digests + flags — never bodies).
  * Keep-sets are min-id aggregates (partial-agg'd on 16-byte keys) and
  * the only window partitions by domain, exactly like [[Dedup.capPerDomain]].
  * The funnel aggregates to ≤ |stages|+1 rows before anything leaves
  * the executors.
  */
object Curation {

  /** Funnel stage names in pipeline order. */
  val stages: Seq[String] =
    Seq("url_dup", "exact_dup", "quality", "domain_block", "domain_cap")

  /** One row per input document: (idCol, domain, n_words, n_bytes,
    * drop_stage)
    * where `drop_stage` ∈ [[stages]] names the FIRST stage that dropped
    * the document, or 'kept' for survivors. The kept set is identical
    * to running the composed pipeline itself (spec-asserted). n_bytes
    * (octet length of the text each stage actually processes) feeds
    * [[stageCosts]]' work attribution — it rides the SAME single
    * corpus scan, not a second pass.
    */
  def trace(docs: DataFrame, blocklist: DataFrame, maxPerDomain: Int,
      seed: Long = 0, idCol: String = "doc_id", urlCol: String = "url",
      textCol: String = "text"): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain $maxPerDomain must be > 0")
    val id = col(idCol)
    // one corpus scan: every per-doc fact the five stages need, map-side
    val attrs = Dedup.materialize(
      TextAnalysis.gopherRules(docs, idCol, textCol,
          carry = Seq(urlCol, textCol))
        .select(id, col("n_words"), col("pass"),
          coalesce(octet_length(col(textCol)), lit(0))
            .cast("long").as("n_bytes"),
          md5(col(textCol)).as("_dg"),
          TextAnalysis.urlNormalize(col(urlCol)).as("_u"),
          TextAnalysis.urlDomain(col(urlCol)).as("domain")))
    // stage 1: min-id per canonical URL
    val k1 = attrs.groupBy("_u").agg(min(idCol).as(idCol))
      .select(id).withColumn("_k1", lit(true))
    val s1 = Dedup.materialize(attrs.join(k1, Seq(idCol), "left"))
    // stage 2: min-id per content digest, over stage-1 survivors only
    val k2 = s1.filter(col("_k1").isNotNull)
      .groupBy("_dg").agg(min(idCol).as(idCol))
      .select(id).withColumn("_k2", lit(true))
    // stage 3 (quality) is the map-side `pass` column — no join; stage 4
    // blocklist is a broadcast left join on domain
    val bl = blocklist.select(col(blocklist.columns.head).as("domain"))
      .distinct().withColumn("_blk", lit(true))
    val s3 = Dedup.materialize(
      s1.join(k2, Seq(idCol), "left").join(broadcast(bl), Seq("domain"), "left"))
    // stage 5: seeded-md5 per-domain cap over docs that reached it
    val w = Window.partitionBy("domain")
      .orderBy(md5(concat_ws("#", lit(seed), id.cast("string"))), id)
    val k5 = s3.filter(col("_k1").isNotNull && col("_k2").isNotNull &&
        col("pass") && col("_blk").isNull)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= maxPerDomain)
      .select(id).withColumn("_k5", lit(true))
    s3.join(k5, Seq(idCol), "left")
      .select(id, col("domain"), col("n_words"), col("n_bytes"),
        when(col("_k1").isNull, "url_dup")
          .when(col("_k2").isNull, "exact_dup")
          .when(!col("pass"), "quality")
          .when(col("_blk").isNotNull, "domain_block")
          .when(col("_k5").isNull, "domain_cap")
          .otherwise("kept").as("drop_stage"))
  }

  /** The stage-by-stage funnel over a [[trace]] result: one row per
    * stage with documents/words entering, dropped, and surviving. A
    * single partial-aggregated pass over the trace reduces it to ≤ 6
    * rows (one per stage + 'kept'); the cumulative window after that
    * runs over the constant-size stage list, not the corpus.
    */
  def funnel(traced: DataFrame): DataFrame = {
    val spark = traced.sparkSession
    import spark.implicits._
    val drops = traced.groupBy("drop_stage")
      .agg(count(lit(1)).as("_n"), sum("n_words").as("_w"))
    val st = stages.zipWithIndex.map { case (s, i) => (i + 1, s) }
      .toDF("stage_ord", "stage")
    val joined = st.join(drops.withColumnRenamed("drop_stage", "stage"),
        Seq("stage"), "left")
      .na.fill(0L, Seq("_n", "_w"))
    val tot = drops.agg(sum("_n").as("_tn"), sum("_w").as("_tw"))
    // cumulative drops BEFORE each stage; the window spans |stages| rows
    val wcum = Window.orderBy("stage_ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    joined.crossJoin(tot)
      .withColumn("n_docs_in",
        col("_tn") - coalesce(sum("_n").over(wcum), lit(0L)))
      .withColumn("n_words_in",
        col("_tw") - coalesce(sum("_w").over(wcum), lit(0L)))
      .select(col("stage_ord"), col("stage"),
        col("n_docs_in"), col("_n").as("n_docs_dropped"),
        (col("n_docs_in") - col("_n")).as("n_docs_kept"),
        col("n_words_in"), col("_w").as("n_words_dropped"),
        (col("n_words_in") - col("_w")).as("n_words_kept"))
  }

  /** Per-stage COST attribution over a [[trace]] result — the funnel's
    * economics companion ([[funnel]] says what each stage removes;
    * this says what each stage COSTS and what its removals save
    * downstream): a stage's work is proportional to the bytes that
    * reach it, so per stage the table reads bytes entering / dropped,
    * the stage's Q6 share of the pipeline's total stage-work
    * (Σ over stages of bytes-in — the deterministic stand-in for wall
    * share: wall clock is not oracle-replayable, byte throughput is),
    * and the downstream bytes its drops spare the later stages
    * (bytes_dropped × stages-remaining — why cheap dedup runs FIRST:
    * its drops are multiplied by every stage after it).
    *
    * Output: one row per stage (stage_ord, stage, n_docs_in,
    * n_docs_dropped, n_bytes_in, n_bytes_dropped, cost_share_q6,
    * saved_downstream_bytes).
    *
    * Scale shape: ONE partial-agg'd fold of the (already slim) trace
    * to ≤ 6 drop-stage rows; everything after runs on the constant-
    * size stage list ([[funnel]]'s discipline — the corpus is touched
    * only by the trace's own single scan).
    */
  def stageCosts(traced: DataFrame): DataFrame = {
    val spark = traced.sparkSession
    import spark.implicits._
    val drops = traced.groupBy("drop_stage")
      .agg(count(lit(1)).as("_n"), sum("n_bytes").as("_b"))
    val st = stages.zipWithIndex.map { case (s, i) => (i + 1, s) }
      .toDF("stage_ord", "stage")
    val joined = st.join(drops.withColumnRenamed("drop_stage", "stage"),
        Seq("stage"), "left")
      .na.fill(0L, Seq("_n", "_b"))
    val tot = drops.agg(sum("_n").as("_tn"), sum("_b").as("_tb"))
    val wcum = Window.orderBy("stage_ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    val nStages = stages.size
    val perStage = joined.crossJoin(tot)
      .withColumn("n_docs_in",
        col("_tn") - coalesce(sum("_n").over(wcum), lit(0L)))
      .withColumn("n_bytes_in",
        col("_tb") - coalesce(sum("_b").over(wcum), lit(0L)))
    // total stage-work = Σ bytes entering each stage (a doc dropped at
    // stage s was still processed by stages 1..s — counted s times)
    val work = perStage.agg(
      sum(col("n_bytes_in").cast("decimal(38,0)")).as("_work"))
    perStage.crossJoin(work)
      .withColumn("cost_share_q6", when(col("_work") > 0, expr(
        "CAST((CAST(n_bytes_in AS DECIMAL(38,0)) * 1000000) DIV _work" +
          " AS BIGINT)")).otherwise(lit(0L)))
      .withColumn("saved_downstream_bytes",
        col("_b") * (lit(nStages) - col("stage_ord")))
      .select(col("stage_ord"), col("stage"), col("n_docs_in"),
        col("_n").as("n_docs_dropped"), col("n_bytes_in"),
        col("_b").as("n_bytes_dropped"), col("cost_share_q6"),
        col("saved_downstream_bytes"))
  }

  /** Greedy set-cover data selection: pick `k` documents one at a time,
    * each maximizing the count of DISTINCT tokens not yet covered by
    * the picks so far (ties by doc id) — the classical (1−1/e)
    * coverage-maximization greedy, used to assemble small high-
    * coverage eval/calibration sets from a large corpus. Returns one
    * row per pick: (round, doc_id, new_tokens, covered_total).
    *
    * Exact and deterministic: marginal gains are integer counts of a
    * distinct-token anti-join; the DuckDB oracle unrolls the same k
    * rounds (q248).
    *
    * Scale shape: k is small and bounded; each round is one anti-join
    * of the (doc, token) table against the covered-token table (both
    * distributed, token-partitioned — no driver state; the covered set
    * grows but stays a token-keyed DataFrame) plus one bounded argmax
    * via the native top-1 aggregate. Lineage is checkpoint-cut per
    * round so round r's plan does not replay rounds 1..r−1.
    */
  def greedySetCover(docs: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // elements are word TRIGRAMS: the driver corpus' unigram
    // vocabulary is ~31 words and one doc covers it all — trigram
    // coverage is the non-degenerate (and real-world: n-gram
    // diversity) objective
    val toks = graft.operators.Dedup.materialize(docs
      .select(col(idCol).cast("long").as("_id"),
        explode(array_distinct(
          TextAnalysis.wordNgrams(col(textCol), 3))).as("_t")))
    var covered = spark.emptyDataset[String].toDF("_t")
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var total = 0L
    val pickedIds = scala.collection.mutable.Set.empty[Long]
    var round = 1
    while (round <= k) {
      val gains = toks
        .join(covered, Seq("_t"), "left_anti")
        .filter(!col("_id").isin(pickedIds.toSeq.map(java.lang.Long.valueOf): _*))
        .groupBy("_id").agg(count(lit(1)).as("_g"))
      // argmax (gain DESC, id ASC) through the bounded native top-k
      val top = gains.agg(graft.plans.GraftExtensions.topKNative(
          col("_g").cast("double"), col("_id"), 1).as("_t"))
        .select(explode(col("_t")).as("p")).select(col("p.id"), col("p.ord"))
        .collect()
      if (top.isEmpty) round = k + 1
      else {
        val id = top.head.getLong(0)
        val gain = top.head.getDouble(1).toLong
        total += gain
        picks += ((round.toLong, id, gain, total))
        pickedIds += id
        covered = graft.operators.Dedup.materialize(
          covered.unionByName(
            toks.filter(col("_id") === id).select("_t")).distinct())
        round += 1
      }
    }
    picks.toSeq.toDF("round", "doc_id", "new_tokens", "covered_total")
  }
}
