package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-column utilities for ANN/similarity pipelines over an
  * `embedding: array<float>` column: exact L2 normalization (after which
  * cosine = dot — the cheap form every ANN stage wants) and symmetric
  * int8 quantization (max-abs scale per vector), the standard 4× memory
  * cut for corpus-side vectors at 100 TB.
  *
  * Everything here is a pure Catalyst expression pipeline — codegen'd,
  * map-side, zero shuffle; the only per-row state is one extra column
  * (`_l2` / `_ma`) so the norm/scale folds run once per row, not once
  * per element. Folds accumulate in array order with double arithmetic,
  * so results are bit-identical across engines and cluster sizes (the
  * property the DuckDB oracle checks).
  */
object Embeddings {

  /** Exact L2 norm: sequential sum-of-squares fold in array order. */
  def l2Norm(vec: Column): Column =
    sqrt(aggregate(vec, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Append `outCol` = vec/‖vec‖ (as array<double>); zero vectors pass
    * through unscaled instead of dividing by zero.
    */
  def withL2Normalized(df: DataFrame, vecCol: String = "embedding",
      outCol: String = "unit"): DataFrame =
    df.withColumn("_l2", l2Norm(col(vecCol)))
      .withColumn(outCol,
        when(col("_l2") === 0.0, transform(col(vecCol), x => x.cast("double")))
          .otherwise(transform(col(vecCol), x => x.cast("double") / col("_l2"))))
      .drop("_l2")

  /** Append `qCol` = round(vec × `scaleCol`) as array<int> with
    * `scaleCol` = 127 / max|vec| (1.0 for the zero vector): symmetric
    * per-vector int8 quantization. Rounding is floor(x+0.5) — half-up,
    * IEEE-identical on any engine — and |q| ≤ 127 by construction.
    */
  def withInt8Quantized(df: DataFrame, vecCol: String = "embedding",
      qCol: String = "q", scaleCol: String = "scale"): DataFrame =
    df.withColumn("_ma",
        coalesce(array_max(transform(col(vecCol), x => abs(x.cast("double")))), lit(0.0)))
      .withColumn(scaleCol,
        when(col("_ma") === 0.0, lit(1.0)).otherwise(lit(127.0) / col("_ma")))
      .withColumn(qCol,
        transform(col(vecCol), x =>
          floor(x.cast("double") * col(scaleCol) + 0.5).cast("int")))
      .drop("_ma")

  /** Reconstruct approximate doubles from a quantized vector: q / scale.
    * Max per-element error is 0.5/scale = max|vec|/254.
    */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") / scale)

  /** Pairwise cosine between per-label centroids in the int8-quantized
    * space — "how far apart do the classes / days / sources sit", the
    * embedding-drift readout. cosine(Σv) ≡ cosine(centroid), so the
    * centroids are never materialized: per-(label, dim) integer sums
    * (exact), then exact long dot/norms per label pair and ONE IEEE
    * sqrt+divide — engine-identical (the q57/q81 integer discipline).
    *
    * Scale shape: one explode + partial-agg'd groupBy(label, dim), a
    * label-sized collect per label, and a label×label broadcast join —
    * nothing pairwise ever touches row counts.
    */
  def labelCentroidCosines(df: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val q = withInt8Quantized(df, vecCol)
    val sums = q.select(col(labelCol).as("_lab"), posexplode(col("q")))
      .groupBy(col("_lab"), col("pos"))
      .agg(sum(col("col").cast("long")).as("_v"))
      .groupBy("_lab")
      .agg(sort_array(collect_list(struct(col("pos"), col("_v")))).as("_sv"))
      .select(col("_lab"), transform(col("_sv"), x => x("_v")).as("_svec"))
    def ldot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, r) => p * r), lit(0L), (acc, v) => acc + v)
    val a = sums.select(col("_lab").as("label_a"), col("_svec").as("_va"))
    val b = sums.select(col("_lab").as("label_b"), col("_svec").as("_vb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        (ldot(col("_va"), col("_vb")).cast("double") /
          (sqrt(ldot(col("_va"), col("_va")).cast("double")) *
            sqrt(ldot(col("_vb"), col("_vb")).cast("double")))).as("cosine"))
  }

  /** Seeded ±1 random projection (the JL / sign-matrix reduction every
    * billion-vector ANN pre-pass wants): out[j] = Σ_d sign(seed,j,d) ·
    * q[d] over the int8-quantized vector, with sign = +1 iff
    * splitmix64(seed + j·inDim + d) ≥ 0 as a SIGNED long. Everything
    * is integer-exact — quantization is [[withInt8Quantized]]'s
    * half-up rule, the projection matrix is a pure hash function of
    * (seed, j, d), and each output is a bounded integer sum (|out| ≤
    * 127·inDim) — so the DuckDB oracle replays the whole thing
    * bit-for-bit (q210).
    *
    * Scale shape: the outDim×inDim sign matrix folds in as LITERALS
    * (driver-computed, a few KB) — map-side, zero shuffle, codegen'd;
    * no broadcast, no join. Output is exploded (id, dim, value) — the
    * layout a downstream banded-LSH bucketing or per-dim index
    * consumes. Rows whose vector is null or not `inDim` wide are
    * dropped (the ANN-path null convention).
    */
  def randomProjection(df: DataFrame, outDim: Int = 16, seed: Long = 2026L,
      inDim: Int = 64, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val q = withInt8Quantized(
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) === inDim), vecCol)
    val projCols = (0 until outDim).map { j =>
      val signs = array((0 until inDim).map { d =>
        lit(if (graft.functions.Hashing.splitmix64(
          seed + j.toLong * inDim + d) >= 0L) 1L else -1L)
      }: _*)
      aggregate(zip_with(col("q"), signs, (x, sg) => x.cast("long") * sg),
        lit(0L), (acc, v) => acc + v).as(s"_p$j")
    }
    q.select(col(idCol) +: projCols: _*)
      .select(col(idCol),
        posexplode(array((0 until outDim).map(j => col(s"_p$j")): _*)))
      .select(col(idCol), col("pos").cast("long").as("dim"),
        col("col").as("value"))
  }

  /** Dominant principal direction of the (uncentered) second-moment
    * matrix of the int8-quantized corpus — the "which way does this
    * embedding space point" readout behind anisotropy checks, whitening
    * decisions, and ABTT-style dominant-component removal. Returns one
    * row per dimension: `(dim, component_q12, rayleigh_q6)` — the
    * power-iteration vector in 10⁻¹² fixed point (normalized so
    * max|component| ∈ [10¹², ~2·10¹²)) and its Rayleigh quotient
    * wᵀGw/wᵀw (the top-eigenvalue estimate) in 10⁻⁶ fixed point.
    *
    * Everything is integer arithmetic: quantization is
    * [[withInt8Quantized]]'s half-up rule, the Gram matrix
    * G[i][j] = Σ_rows q_i·q_j is an exact integer sum, and each of the
    * `rounds` power steps is v ← G·v renormalized by the
    * sign-magnitude division v_i ← sign(n_i)·(|n_i| ÷ max(⌊max|n|/10¹²⌋, 1))
    * (÷ = truncating, identical to DuckDB's `//` on the non-negative
    * magnitudes) — so the DuckDB oracle replays the whole computation
    * bit-for-bit with `rounds` unrolled CTEs (q233).
    *
    * Scale shape: the ONLY corpus-sized pass is the Gram build — a
    * per-row outer-product explode (d² cells/row) into one
    * partial-agg'd groupBy whose shuffle carries ≤ d² rows per map
    * task; sums ride DECIMAL(30,0) (|q|≤127 ⇒ 1.7·10⁴/row ⇒ headroom
    * past 10²⁵ rows). The iteration itself runs on the collected d²
    * Gram — bounded by dims², independent of corpus size (the
    * centroid-table collect convention).
    */
  def dominantDirection(df: DataFrame, dim: Int = 64, rounds: Int = 8,
      vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    gramAndPower(df, dim, rounds, vecCol) match {
      case None =>
        val spark0 = df.sparkSession
        import spark0.implicits._
        Seq.empty[(Long, Long, Long)]
          .toDF("dim", "component_q12", "rayleigh_q6")
      case Some((gram, v)) =>
        val spark0 = df.sparkSession
        import spark0.implicits._
        val Q6 = BigInt(1000000L)
        // Rayleigh on the Q6-rescaled vector keeps wᵀGw inside 38
        // digits even at 10¹²-row Gram magnitudes.
        val w = v.map(x => if (x.signum < 0) -(x.abs / Q6) else x.abs / Q6)
        val den = w.foldLeft(BigInt(0))((a, x) => a + x * x)
        val numR = (for (i <- 0 until dim; j <- 0 until dim)
          yield gram(i)(j) * w(i) * w(j)).foldLeft(BigInt(0))(_ + _)
        val ray = if (den.signum > 0) (Q6 * numR / den).toLong else 0L
        v.zipWithIndex.map { case (c, i) => (i.toLong, c.toLong, ray) }
          .toSeq.toDF("dim", "component_q12", "rayleigh_q6")
    }
  }

  /** Shared exact kernel of [[dominantDirection]] /
    * [[anisotropyProfile]]: the integer Gram matrix and the Q12
    * power-iteration vector (None on an empty corpus). Same scale
    * shape as documented on [[dominantDirection]].
    */
  private def gramAndPower(df: DataFrame, dim: Int, rounds: Int,
      vecCol: String): Option[(Array[Array[BigInt]], Array[BigInt])] = {
    val spark = df.sparkSession
    val q = withInt8Quantized(
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim), vecCol)
    // Gram partials per PARTITION, not per row: a d² long array
    // accumulated locally (upper triangle only — G is symmetric), then
    // d(d+1)/2 rows per partition into the final decimal sum. The
    // explode formulation churned d² structs per input row (4096×
    // row amplification before the partial agg) — this emits ≤ 2080
    // rows per partition total. Long partials are safe to ~5·10¹⁰
    // rows/partition (127²·rows < 2⁶³); the cross-partition sum rides
    // DECIMAL for unbounded corpora.
    import spark.implicits._
    val cells = q.select(col("q")).as[Seq[Int]]
      .mapPartitions { it =>
        val acc = new Array[Long](dim * dim)
        it.foreach { v =>
          var i = 0
          while (i < dim) {
            val vi = v(i).toLong
            var j = i
            while (j < dim) { acc(i * dim + j) += vi * v(j); j += 1 }
            i += 1
          }
        }
        (for (i <- 0 until dim; j <- i until dim if acc(i * dim + j) != 0L)
          yield (i, j, acc(i * dim + j))).iterator
      }
      .toDF("i", "j", "p")
      .groupBy("i", "j").agg(sum(col("p").cast("decimal(38,0)")).as("g"))
    val gram = Array.ofDim[BigInt](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim) gram(i)(j) = BigInt(0)
    val rows = cells.collect()   // ≤ dim(dim+1)/2 rows, corpus-size-independent
    if (rows.isEmpty) return None
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val v = BigInt(r.getDecimal(2).toBigInteger)
      gram(i)(j) = v
      gram(j)(i) = v // upper triangle stored once; G is symmetric
    }
    val Q12 = BigInt(1000000000000L)
    var v = Array.fill(dim)(Q12)
    for (_ <- 1 to rounds) {
      val num = Array.tabulate(dim)(i =>
        (0 until dim).foldLeft(BigInt(0))((a, j) => a + gram(i)(j) * v(j)))
      val dnorm = (num.map(_.abs).max / Q12).max(BigInt(1))
      v = num.map(n => (if (n.signum < 0) -(n.abs / dnorm) else n.abs / dnorm))
    }
    Some((gram, v))
  }

  /** Per-vector anisotropy profile (ABTT's "all-but-the-top"
    * diagnostic, Mu & Viswanath 2018): how much of each embedding's
    * energy lies ON the corpus' dominant direction —
    * `energy_on_axis_q6 = ⌊10⁶·⟨q,w⟩² / (|q|²·|w|²)⌋` (squared cosine
    * to the power-iteration axis w, Q6 fixed point) plus the raw
    * integer dot. A corpus whose mean is high is anisotropic — the
    * standard trigger for mean-centering / dominant-component removal
    * before cosine retrieval.
    *
    * Exactness: w is [[dominantDirection]]'s iterate rescaled to Q6
    * (|wᵢ| ≲ 2·10⁶, so ⟨q,w⟩ ≤ 1.6·10¹⁰ stays in long and
    * 10⁶·⟨q,w⟩² ≲ 2.7·10²⁶ rides DECIMAL/HUGEINT); the division is a
    * single floor over exact integers — the DuckDB oracle recomputes w
    * through the q233 unrolled CTEs and replays every vector
    * bit-for-bit.
    *
    * Scale shape: one Gram pass (the [[dominantDirection]] partials),
    * then ONE map-side pass over the corpus with w as 64 literals —
    * no joins, no shuffle beyond the Gram's d²-row aggregate.
    */
  def anisotropyProfile(df: DataFrame, dim: Int = 64, rounds: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    gramAndPower(df, dim, rounds, vecCol) match {
      case None =>
        Seq.empty[(Long, Long, Long)]
          .toDF(idCol, "dot_w_q6", "energy_on_axis_q6")
      case Some((_, v)) =>
        val Q6 = BigInt(1000000L)
        val w: Array[Long] =
          v.map(x => (if (x.signum < 0) -(x.abs / Q6) else x.abs / Q6).toLong)
        val wss = w.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * BigInt(x))
        val wLit = array(w.map(lit): _*)
        val q = withInt8Quantized(
          df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim), vecCol)
          .select(col(idCol), col("q"))
          .withColumn("_ssq", aggregate(col("q"), lit(0L),
            (a, x) => a + x.cast("long") * x.cast("long")))
          .withColumn("_dw", aggregate(
            zip_with(col("q"), wLit, (a, b) => a.cast("long") * b),
            lit(0L), (a, x) => a + x))
        q.withColumn("_num",
            expr("CAST(1000000 AS DECIMAL(38,0)) * _dw * _dw"))
          .withColumn("_den",
            expr(s"CAST(_ssq AS DECIMAL(38,0)) * CAST('$wss' AS DECIMAL(38,0))"))
          .select(col(idCol), col("_dw").as("dot_w_q6"),
            when(col("_ssq") > 0 && lit(wss.signum > 0),
              expr("CAST((_num - (_num % _den)) / _den AS BIGINT)"))
              .otherwise(lit(0L)).as("energy_on_axis_q6"))
    }
  }

  /** Matryoshka truncation profile: for each prefix length k, the
    * exact squared cosine between every int8-quantized vector and its
    * first-k-dims truncation — cos²(v, v₁..ₖ‖0) = Sₖ/S_d with
    * S = Σ qᵢ², a pure integer ratio (no square root needed) read out
    * as a per-vector Q9 floor and aggregated mean/min/max. The
    * "how much retrieval signal survives dim reduction" readout that
    * decides whether to ship 16- or 32-dim embeddings. Quantization
    * is the q81-proven half-up int8 kernel, so the oracle replays
    * everything bit-for-bit.
    *
    * Scale shape: one map pass per vector (prefixes explode from a
    * literal array — one scan, |prefixes|× slim rows), then one
    * partial-agg'd groupBy(prefix); per-vector Q9 values stay inside
    * longs (Sₖ·10⁹ ≤ 64·127²·10⁹), means sum in DECIMAL(38,0).
    */
  def matryoshkaProfile(df: DataFrame, vecCol: String = "embedding",
      prefixes: Seq[Int] = Seq(16, 32, 48)): DataFrame = {
    val q = withInt8Quantized(df, vecCol)
    q.select(col("q"),
        explode(array(prefixes.map(p => lit(p.toLong)): _*))
          .as("prefix_dim"))
      .withColumn("_sk", aggregate(
        slice(col("q"), lit(1), col("prefix_dim").cast("int")), lit(0L),
        (a, x) => a + x.cast("long") * x.cast("long")))
      .withColumn("_sd", aggregate(col("q"), lit(0L),
        (a, x) => a + x.cast("long") * x.cast("long")))
      // zero-norm vectors drop via a null _c2 + null-skipping aggs, not
      // a Filter: a Filter(_sd > 0) would re-evaluate the full-vector
      // norm aggregate in the pushed-down predicate AND the Project
      // above it (the q274 class)
      .withColumn("_c2",
        when(col("_sd") > 0, expr("(_sk * 1000000000) DIV _sd")))
      .groupBy("prefix_dim")
      .agg(count(col("_c2")).as("n"),
        sum(col("_c2").cast("decimal(38,0)")).as("_s"),
        min("_c2").as("min_cos2_q9"), max("_c2").as("max_cos2_q9"))
      .filter(col("n") > 0) // all-degenerate prefix: bounded post-agg drop
      .withColumn("mean_cos2_q9", expr("CAST(_s DIV n AS BIGINT)"))
      .select(col("prefix_dim"), col("n"), col("mean_cos2_q9"),
        col("min_cos2_q9"), col("max_cos2_q9"))
  }

  /** Greedy k-center coreset (farthest-point sampling, the Gonzalez
    * 2-approximation): pick the minimum-id vector, then k−1 times the
    * vector FARTHEST from everything picked so far (max of
    * min-distance-to-centers, ties → smallest id) — the standard
    * diverse-subset selection for active learning / annotation budgets
    * (CoreSet, Sener & Savarese 2018), complementing [[graft.operators
    * .Curation.greedySetCover]] (coverage objective) and MMR
    * (query-relative). Exact integers: vectors int8-quantized by the
    * q81 half-up rule, distance = squared L2 over the int8 codes
    * (≤ 254²·dim, never near 2⁶³), argmax through the bounded native
    * top-k. Output per round: (round, vec_id, dist_sq) — dist_sq is
    * the pick's distance to the PREVIOUS centers (the k-center radius
    * sequence; round 1 = 0); re-plotted it is the coverage-vs-budget
    * curve.
    *
    * Scale shape: each round is ONE map over the corpus (the new
    * center's codes fold in as a LITERAL array — zero shuffle, the
    * q210 sign-matrix discipline) + one 1-row top-k readback; the
    * running min-distance column materializes per round so round k
    * never replays rounds 1..k−1. k rounds × one pass — the same
    * bounded-rounds contract as PageRank/set-cover.
    *
    * Storage contract: at most TWO corpus-sized checkpoint blocks are
    * live at any instant — the current round's state and its
    * predecessor, which is freed ([[Dedup.releaseStage]]) immediately
    * after the round's top-k action materializes the successor (the
    * predecessor must outlive that action: localCheckpoint truncates
    * lineage, so its blocks are the successor's only input). A spec
    * asserts the ≤ +2 persistent-RDD bound.
    */
  def kCenterSelect(embs: DataFrame, k: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "kCenterSelect needs k >= 1")
    val spark = embs.sparkSession
    import spark.implicits._
    val base = withInt8Quantized(
      embs.filter(col(vecCol).isNotNull).select(col(idCol).as("_id"),
        col(vecCol)), vecCol = vecCol)
      .select(col("_id"), col("q"))
    val first = base.agg(min("_id")).head()
    if (first.isNullAt(0)) return Seq.empty[(Long, Long, Long)]
      .toDF("round", idCol, "dist_sq")
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var pickedId = first.getLong(0)
    picks += ((1L, pickedId, 0L))
    var state = Dedup.materialize(base
      .withColumn("_dmin", lit(Long.MaxValue)))
    for (round <- 2 to k) {
      val prev = state
      val cq = prev.filter(col("_id") === pickedId)
        .select("q").head().getSeq[Int](0)
      state = Dedup.materialize(prev
        .withColumn("_cq", typedLit(cq))
        .withColumn("_d2", expr(
          "aggregate(zip_with(q, _cq, (x, y) -> CAST((x - y) * (x - y)" +
            " AS BIGINT)), 0L, (a, v) -> a + v)"))
        .withColumn("_dmin", least(col("_dmin"), col("_d2")))
        .drop("_d2", "_cq"))
      val top = state
        .filter(!col("_id").isin(picks.toSeq.map(_._2).map(
          java.lang.Long.valueOf): _*))
        .agg(graft.plans.GraftExtensions.topKNative(
          col("_dmin").cast("double"), col("_id"), 1).as("_t"))
        .select(explode(col("_t")).as("p"))
        .select(col("p.id"), col("p.ord")).collect()
      // the collect above materialized this round's state — the
      // predecessor's blocks are superseded; free them now instead of
      // holding k corpus-sized blocks to scope exit
      Dedup.releaseStage(prev)
      if (top.nonEmpty) {
        pickedId = top.head.getLong(0)
        picks += ((round.toLong, pickedId, top.head.getDouble(1).toLong))
      }
    }
    picks.toSeq.toDF("round", idCol, "dist_sq")
  }

  /** Per-cell simplified (centroid) silhouette of the IVF clustering —
    * "was the partition any good?" asked of [[graft.operators
    * .Similarity.ivfIndexInt8]]'s cells (the q225-for-graphs question,
    * for embeddings): per vector a = d² to its OWN centroid, b = min
    * d² to any OTHER centroid, s = (b−a)/max(a,b) ∈ [0,1] here (a is
    * the argmin by construction, so b ≥ a). Exact integers: int8
    * codes, squared-L2 ≤ 254²·dim, one Q6 floor division per vector.
    * Output per cell: (cell, n, mean_sil_q6, min_sil_q6, max_sil_q6).
    * Near-zero means the cell boundary cuts through a blob — add
    * cells or re-seed; the IVF recall planner reads this table.
    *
    * Scale shape: the trained centroids (nCells·dim longs) fold in as
    * LITERAL arrays — the whole a/b computation is ONE codegen'd map
    * over the coded corpus (no join, no shuffle; the q210 discipline);
    * the readout is a ≤nCells-row aggregate.
    */
  def silhouetteProfile(embs: DataFrame, nCells: Int = 16,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (cents, assigned) =
      Similarity.ivfIndexInt8(embs, nCells, iters, idCol, vecCol)
    val cs: Seq[(Int, Seq[Long])] = cents.orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq
    def d2(cent: Seq[Long]): Column =
      aggregate(
        zip_with(col("nv"), typedLit(cent), (x, y) => {
          val d = x.cast("long") - y; d * d
        }),
        lit(0L), (a, v) => a + v)
    val all = array(cs.map { case (c, cent) =>
      struct(lit(c).as("c"), d2(cent).as("d2"))
    }: _*)
    assigned
      .withColumn("_all", all)
      .withColumn("_a", element_at(
        filter(col("_all"), s => s("c") === col("cell")), 1)("d2"))
      .withColumn("_b", array_min(transform(
        filter(col("_all"), s => s("c") =!= col("cell")), s => s("d2"))))
      // Degenerate single-cell training: no "other" centroid exists, _b
      // is NULL — make _s NULL and let the null-skipping aggregates drop
      // the row, matching the oracle's inner join on the other-cells
      // table (silhouette is undefined with one cluster). A Filter here
      // would force _all (the expensive per-centroid distance array) to
      // evaluate twice — once in the Filter predicate, once in the
      // Project above it; no cross-operator subexpression elimination.
      .withColumn("_s", when(col("_b").isNotNull,
        when(greatest(col("_a"), col("_b")) === 0, 0L)
          .otherwise(expr("((_b - _a) * 1000000) DIV greatest(_a, _b)"))))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(col("_s")).as("n"),
        expr("SUM(_s) DIV COUNT(_s)").as("mean_sil_q6"),
        min("_s").as("min_sil_q6"), max("_s").as("max_sil_q6"))
      // post-agg on the ≤nCells-row table: a cell whose every row was
      // degenerate (n = 0) does not exist in the oracle's joined set
      .filter(col("n") > 0)
  }

  /** IVF cell-balance report — "will nProbe cost what the planner
    * thinks?" asked of [[graft.operators.Similarity.ivfIndexInt8]]'s
    * partition (the capacity-planning companion to
    * [[silhouetteProfile]]'s quality question): per cell its row count
    * and Q6 share of the corpus, plus the global imbalance factor
    * max/mean in Q6 repeated per row (the ece_q9 convention). An
    * imbalance near 10⁶ means uniform cells (probe cost ≈ nProbe/nCells
    * of the corpus); 5·10⁶ means the hottest cell costs 5× the plan —
    * re-seed or add cells before serving.
    *
    * Scale shape: the training chain is ivfIndexInt8's (bounded
    * centroid collects); the readout is ONE partial-agg'd
    * groupBy(cell) to ≤nCells rows and a broadcast 3-number total —
    * nothing after the assignment scan is proportional to the corpus.
    */
  /** Embedding norm profile — the vector-QA table read BEFORE an
    * index is built (the q296/q274 questions assume the vectors are
    * sane; this checks): dyadic (octave) histogram of the int8
    * squared L2 norms, with zero vectors on their own row (octave 0).
    * A mass of zero/low-norm vectors means failed embeds or padding
    * rows — they poison cosine (the kernels zero-guard, but the DATA
    * should not need the guard); a wide spread across octaves means
    * un-normalized output, cross-read with q247's anisotropy. One row
    * per octave: (octave, n_vectors, min_n2, max_n2).
    *
    * Scale shape: one map pass per vector (quantize + norm + octave),
    * one partial-agg'd groupBy to ≤64 rows — the q241 dyadic
    * discipline.
    */
  def normProfile(embs: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    withInt8Quantized(embs.filter(col(vecCol).isNotNull), vecCol)
      .select(aggregate(col("q"), lit(0L),
        (a, x) => a + x.cast("long") * x.cast("long")).as("_n2"))
      .withColumn("octave", when(col("_n2") === 0, 0L)
        .otherwise(length(expr("bin(_n2)")).cast("long")))
      .groupBy("octave")
      .agg(count(lit(1)).as("n_vectors"),
        min("_n2").as("min_n2"), max("_n2").as("max_n2"))

  def ivfBalanceReport(embs: DataFrame, nCells: Int = 16,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (_, assigned) =
      Similarity.ivfIndexInt8(embs, nCells, iters, idCol, vecCol)
    val cells = assigned
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum("n").as("_t"), count(lit(1)).as("_nc"),
      max("n").as("_mx"))
    cells.crossJoin(tot)
      .withColumn("share_q6", expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * 1000000) DIV _t AS BIGINT)"))
      .withColumn("imbalance_q6", expr(
        "CAST((CAST(_mx AS DECIMAL(38,0)) * _nc * 1000000) DIV _t" +
          " AS BIGINT)"))
      .select(col("cell"), col("n"), col("share_q6"),
        col("imbalance_q6"))
  }
}
