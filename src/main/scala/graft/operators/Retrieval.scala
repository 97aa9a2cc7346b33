package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus: BM25 scoring + exact top-k per
  * query (Robertson & Spärck Jones probabilistic relevance framework;
  * the Okapi BM25 formulation with the Lucene-style always-positive
  * idf = ln(1 + (N − df + 0.5)/(df + 0.5))). Curation pipelines use
  * exactly this shape to pull benchmark-adjacent or domain-adjacent
  * documents out of a crawl (targeted decontamination sweeps, DSIR-style
  * proxy retrieval, eval-set neighborhood audits).
  *
  * Determinism discipline: corpus statistics (N, Σdl, per-term df) come
  * from ONE aggregation pass; idf is fixed to integer micro-units
  * (round(ln·10⁶)) so every later arithmetic step is reproducible IEEE
  * double math on identical inputs in any engine; per-document term
  * contributions are folded in sorted-term order so the float sum is
  * order-fixed.
  *
  * Scale shape: queries are a literal handful — their terms ride into
  * the scan as expressions (no join), so scoring is one map-side pass
  * over (id, words). Top-k per query runs as TakeOrderedAndProject
  * (per-partition bounded heaps + driver merge of k) over a
  * checkpointed slim (query_id, id, score) table — the corpus is
  * scored once and never shuffled; nothing ∝ corpus reaches the driver.
  */
object Retrieval {

  /** Tokenize a query string exactly like [[TextAnalysis.words]]. */
  def queryTerms(q: String): Seq[String] =
    q.toLowerCase.split("[^a-z0-9']+").filter(_.nonEmpty).distinct.sorted

  /** BM25 top-k documents per query. `queries`: (query_id, text), small
    * (terms become literals in the scan). Output: (query_id, doc_id,
    * score, rank 1..≤k) — rank by (score desc, id asc); documents
    * matching no query term are not candidates.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty && k >= 1, "bm25TopK needs queries and k >= 1")
    val allTerms: Seq[String] =
      queries.flatMap(q => queryTerms(q._2)).distinct.sorted
    val toks = Dedup.materialize(docs.select(col(idCol),
      coalesce(TextAnalysis.words(col(textCol)),
        array().cast("array<string>")).as("_ws"))
      .withColumn("_dl", size(col("_ws")).cast("long")))
    // one stats pass: N, Σdl, df per term (terms are literals — the agg
    // row is |terms|+2 numbers, nothing else leaves the executors)
    val aggCols: Seq[Column] = sum("_dl").as("sumdl") +:
      allTerms.map(t => sum(when(array_contains(col("_ws"), t), 1L)
        .otherwise(0L)).as(s"df_$t"))
    val statsRow = toks.agg(count(lit(1)).as("n"), aggCols: _*).head()
    val n = statsRow.getAs[Long]("n")
    val sumdl = statsRow.getAs[Long]("sumdl")
    val avgdl = sumdl.toDouble / n
    // Robertson idf, libm-free: (n−df+0.5)/(df+0.5)+1 = 2(n+1)/(2df+1),
    // so round(ln(r)·10⁶) = (L(2n+2) − L(2df+1) + 5·10¹¹) / 10⁶ over
    // the integer log kernel L = lnQ12 (exact 10⁻¹² fixed point, the
    // q199 discipline) — removes the last oracle-allowlisted libm call
    // (r > 1 always, so the difference is nonnegative and the floor
    // division is engine-identical truncation).
    val idfMicro: Map[String, Long] = allTerms.map { t =>
      val df = statsRow.getAs[Long](s"df_$t")
      val d = graft.functions.FixedMath.lnQ12(2L * (n + 1)) -
        graft.functions.FixedMath.lnQ12(2L * df + 1L)
      t -> (d + 500000000000L) / 1000000L
    }.toMap
    // scoring pass: contribution of term t, folded in sorted-term order
    def contrib(t: String): Column = {
      val tf = size(filter(col("_ws"), w => w === t)).cast("double")
      (lit(idfMicro(t).toDouble / 1e6) * (tf * lit(k1 + 1.0))) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("_dl").cast("double") / lit(avgdl))))
    }
    def scoreFor(qText: String): Column =
      queryTerms(qText).map(contrib).foldLeft(lit(0.0))(_ + _)
    val scored = Dedup.materialize(toks.select(col(idCol),
      posexplode(array(queries.map { case (_, qt) => scoreFor(qt) }: _*))
        .as(Seq("_qi", "score")))
      .withColumn("query_id",
        element_at(array(queries.map(q => lit(q._1)): _*), col("_qi") + 1))
      .filter(col("score") > 0.0)
      .select(col("query_id"), col(idCol), col("score")))
    // exact per-query top-k as TakeOrderedAndProject over the slim
    // checkpointed score table — no per-query window over the corpus
    val topk = queries.map { case (qid, _) =>
      scored.filter(col("query_id") === qid)
        .orderBy(col("score").desc, col(idCol))
        .limit(k)
    }.reduce(_ unionAll _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol))
    topk.withColumn("rank", row_number().over(w))
  }

  /** Hybrid retrieval with Reciprocal-Rank Fusion (Cormack et al. 2009):
    * a lexical ranking (k-char shingle Jaccard against each query doc)
    * and a semantic ranking (int8-embedding cosine) are fused by
    * `rrf(d) = Σ_lists ⌊10⁹ / (C + rank_list(d))⌋` — rank-only fusion,
    * immune to the two scorers' incomparable scales. The standard
    * hybrid-search shape: lexical catches exact phrasing, embeddings
    * catch paraphrase; RRF needs no weight tuning.
    *
    * Exactness: the lexical score is an integer Jaccard
    * `⌊10⁹·|A∩B| / |A∪B|⌋` over shingle-digest sets
    * ([[graft.plans.ShingleDigests]] + [[graft.plans.SortedIntersectCount]];
    * the oracle uses the string-set truth — the q178-verified
    * digest↔string equivalence); the semantic score is the q193
    * int-dot + one-IEEE-division cosine; fusion is pure integer
    * arithmetic. Both per-list ranks break ties by doc id.
    *
    * Scale shape: two corpus-sized map passes (digest intersect,
    * int dot) each feeding the bounded native top-k aggregate — the
    * scored pair sets are never shuffled; fusion runs on ≤ 2·topN rows
    * per query.
    */
  def hybridRrf(docs: DataFrame, embeds: DataFrame, nQueries: Int = 3,
      topN: Int = 20, fuseK: Int = 10, rrfC: Int = 60,
      shingleK: Int = 12): DataFrame = {
    import graft.plans.GraftExtensions
    // lexical: shingle-digest Jaccard to each query doc
    val dig = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("_id"),
        GraftExtensions.shingleDigestsNative(lower(col("text")), shingleK)
          .as("_dg"))
      .withColumn("_sz", size(col("_dg")).cast("long"))
    val qd = dig.filter(col("_id") < nQueries)
      .select(col("_id").as("_qid"), col("_dg").as("_qdg"),
        col("_sz").as("_qsz"))
    val lex = dig.join(broadcast(qd), col("_id") =!= col("_qid"))
      .withColumn("_inter", GraftExtensions
        .sortedIntersectNative(col("_dg"), col("_qdg")).cast("long"))
      // zero-overlap pairs drop via a null score (TopKAgg.update skips
      // null inputs), not a Filter: Filter(_inter > 0) would evaluate
      // the digest intersection in the pushed-down predicate AND again
      // in the score Project (the q274 class)
      .withColumn("_score", when(col("_inter") > 0,
        expr("(1000000000 * _inter) DIV (_sz + _qsz - _inter)")))
      .groupBy("_qid")
      .agg(GraftExtensions.topKNative(
        col("_score").cast("double"), col("_id"), topN).as("_t"))
      .select(col("_qid").as("query_id"), posexplode(col("_t")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
    // semantic: int8 cosine to each query vector (the q234 pool shape)
    def quant(df: DataFrame): DataFrame =
      Embeddings.withInt8Quantized(
          df.filter(col("embedding").isNotNull), "embedding")
        .select(col("vec_id").cast("long").as("_id"), col("q"))
        .withColumn("_ssq", aggregate(col("q"), lit(0L),
          (a, v) => a + v.cast("long") * v.cast("long")))
    val c = quant(embeds)
    val sem = c.join(broadcast(quant(embeds).filter(col("_id") < nQueries)
        .select(col("_id").as("_qid"), col("q").as("_qq"),
          col("_ssq").as("_qssq"))), col("_id") =!= col("_qid"))
      .withColumn("_dot",
        GraftExtensions.dotIntNative(col("q"), col("_qq")))
      .withColumn("_rel", col("_dot").cast("double") /
        (sqrt(col("_ssq").cast("double")) * sqrt(col("_qssq").cast("double"))))
      .groupBy("_qid")
      .agg(GraftExtensions.topKNative(col("_rel"), col("_id"), topN).as("_t"))
      .select(col("_qid").as("query_id"), posexplode(col("_t")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("sem_rank"))
    // fusion: pure integer RRF on the ≤ 2·topN rows per query
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_q9").desc, col("doc_id"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_q9",
        coalesce(expr(s"1000000000 DIV ($rrfC + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000 DIV ($rrfC + sem_rank)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= fuseK)
      .select(col("query_id"), col("fused_rank"), col("doc_id"),
        col("rrf_q9"), col("lex_rank"), col("sem_rank"))
  }

  /** nDCG@k — the graded ranking-quality readout MRR can't give (MRR
    * sees only the first hit): DCG = Σ_{r≤k} rel_r / log₂(r+1) over a
    * recommendation list, normalized by the ideal ordering's IDCG.
    * Exact integers throughout: rel/log₂(r+1) = rel·ln2/ln(r+1), so
    * each term is ⌊rel·lnQ12(2)·10⁶ / lnQ12(r+1)⌋ (DECIMAL(38,0)
    * intermediates, the shared codegen'd ln kernel), and
    * ndcg_q6 = ⌊dcg·10⁶ / idcg⌋ is one terminal floor division. A
    * recommended item absent from the truth contributes 0; a query
    * with no positive truth gets NULL ndcg (idcg = 0).
    *
    * Inputs: `recs`(q, item, rank 1-based) and `truth`(q, item, rel ≥
    * 0 integer grades). Output one row per rec-list query:
    * (q, dcg_q6, idcg_q6, ndcg_q6).
    *
    * Scale shape: one item-keyed left join recs⋈truth (recs is
    * |queries|·k rows), one per-query window over ≤k truth rows for
    * the ideal ordering (rel DESC, item ASC — deterministic ties),
    * two |queries|-row aggregates. Queries are the parallel unit.
    */
  /** MRR@k + hit@k — the "did the right answer surface AT ALL, and
    * how high" companion to [[ndcgAtK]]'s graded-gain view (RAG
    * retrievers are usually graded on exactly these two): per query
    * the rank of the FIRST relevant item in the top-k list, its Q6
    * reciprocal rank (0 when nothing relevant surfaced), and the
    * macro MRR repeated as a summary column (the ece_q9 convention).
    * Exact integers: rr_q6 = 10⁶ DIV first_rank.
    *
    * Scale shape: one (q, item)-keyed left join of the |Q|·k rec
    * table against the truth, a |Q|-row groupBy, a broadcast 2-number
    * total — the [[graft.operators.Similarity.annRecallAtK]] shape.
    */
  def mrrAtK(recs: DataFrame, truth: DataFrame, k: Int,
      qCol: String = "q", itemCol: String = "item",
      rankCol: String = "rank", relCol: String = "rel"): DataFrame = {
    require(k >= 1, "mrrAtK needs k >= 1")
    val first = recs.filter(col(rankCol) <= k)
      .join(truth.select(col(qCol), col(itemCol), col(relCol)),
        Seq(qCol, itemCol), "left")
      .groupBy(qCol)
      .agg(min(when(coalesce(col(relCol), lit(0L)) > 0, col(rankCol)))
        .as("first_rank"))
      .withColumn("rr_q6", coalesce(
        expr("1000000 DIV first_rank"), lit(0L)))
      .withColumn("hit", col("first_rank").isNotNull)
    val tot = first.agg(coalesce(sum("rr_q6"), lit(0L)).as("_s"),
      count(lit(1)).as("_n"))
    first.crossJoin(tot)
      .withColumn("mrr_q6", when(col("_n") > 0,
        expr("CAST(CAST(_s AS DECIMAL(38,0)) DIV _n AS BIGINT)")))
      .select(col(qCol), col("first_rank"), col("rr_q6"), col("hit"),
        col("mrr_q6"))
  }

  def ndcgAtK(recs: DataFrame, truth: DataFrame, k: Int,
      qCol: String = "q", itemCol: String = "item",
      rankCol: String = "rank", relCol: String = "rel"): DataFrame = {
    val ln2 = graft.functions.FixedMath.lnQ12(2L)
    def termQ6(relC: Column, rankC: Column): Column = {
      val num = relC.cast("decimal(38,0)") * lit(ln2) * lit(1000000L)
      val den = graft.plans.GraftExtensions.lnQ12Native(rankC + lit(1L))
        .cast("decimal(38,0)")
      ((num - num % den) / den).cast("long")
    }
    val dcg = recs.filter(col(rankCol) <= k)
      .join(truth.select(col(qCol), col(itemCol), col(relCol)),
        Seq(qCol, itemCol), "left")
      .withColumn("_t",
        termQ6(coalesce(col(relCol), lit(0L)), col(rankCol)))
      .groupBy(qCol).agg(coalesce(sum("_t"), lit(0L)).as("dcg_q6"))
    val iw = Window.partitionBy(qCol)
      .orderBy(col(relCol).desc, col(itemCol))
    val idcg = truth.filter(col(relCol) > 0)
      .withColumn("_r", row_number().over(iw).cast("long"))
      .filter(col("_r") <= k)
      .withColumn("_t", termQ6(col(relCol), col("_r")))
      .groupBy(qCol).agg(sum("_t").as("idcg_q6"))
    dcg.join(idcg, Seq(qCol), "left")
      .select(col(qCol), col("dcg_q6"),
        coalesce(col("idcg_q6"), lit(0L)).as("idcg_q6"))
      .withColumn("ndcg_q6", when(col("idcg_q6") > 0, expr(
        "CAST((CAST(dcg_q6 AS DECIMAL(38,0)) * 1000000)" +
          " DIV idcg_q6 AS BIGINT)")))
  }
}
