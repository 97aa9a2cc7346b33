package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-validation fold assignment (reference dabstract/dataset/xval.py +
  * `set_xval`, dataset.py:932-1059).
  *
  * The reference materializes per-fold index lists on the driver; at scale
  * that is a collect of the whole key space, so the engine expresses folds
  * as *columns* instead: each strategy appends a `fold: int` column (and
  * train/val/test set columns where the strategy defines them), computed
  * with window functions or hashes — no driver-side index lists. The
  * reference's unseeded `np.random` is replaced by seeded `rand(seed)` /
  * deterministic hashing (SURVEY §4 determinism discipline).
  *
  * Reference `test_only==1` routing (dataset.py:981-985): rows flagged
  * test-only never enter train/val folds — expressed as a filter the
  * caller applies; [[foldMasks]] reproduces the mask-column layout.
  */
object Xval {

  /** Folds = distinct values of a column (reference `xval_from_item`,
    * xval.py:12-24). The distinct value set IS the fold set — small by
    * definition — so it is ranked alone (a window over ≤ #folds rows) and
    * joined back broadcast; no partition-less window ever touches the
    * full table.
    */
  def fromItem(df: DataFrame, key: String): DataFrame = {
    val vals = df.select(col(key)).distinct()
      .withColumn("fold", dense_rank().over(Window.orderBy(col(key))) - 1)
    df.join(broadcast(vals), Seq(key))
  }

  /** K-fold over unique groups, members follow their group (reference
    * `group_random_kfold`, xval.py:27-43). Group→fold via seeded hash —
    * deterministic, no shuffle of the big table beyond the hash itself.
    * Balanced only in expectation; [[groupRandomKfold]] matches the
    * reference's exactly-balanced permutation semantics.
    */
  def groupKfold(df: DataFrame, folds: Int, key: String, seed: Long = 0): DataFrame =
    df.withColumn("fold", pmod(xxhash64(lit(seed), col(key)), lit(folds)).cast("int"))

  /** K-fold over unique groups with *balanced* fold sizes (differ by ≤1),
    * via a seeded pseudo-random permutation of the distinct group set —
    * the reference's `group_random_kfold` semantics (xval.py:27-43,
    * `np.random.permutation` over unique groups, folds = contiguous
    * slices). The permutation orders groups by md5(seed ‖ group) — an
    * engine-independent shuffle any SQL system reproduces (same trick as
    * [[md5Kfold]]); fold = position mod k. Scale shape: distinct groups
    * ≪ rows, so the ranking window is tiny and assignment is a broadcast
    * join.
    */
  def groupRandomKfold(df: DataFrame, folds: Int, key: String,
      seed: Long = 0): DataFrame = {
    val groups = df.select(col(key)).distinct()
      .withColumn("fold",
        ((row_number().over(Window.orderBy(
            md5(concat_ws("#", lit(seed), col(key).cast("string"))), col(key))) - 1)
          % folds).cast("int"))
    df.join(broadcast(groups), Seq(key))
  }

  /** Per-group contiguous split, order-preserving (reference
    * `sequential_kfold`, xval.py:46-80): ntile over position within group.
    */
  def sequentialKfold(df: DataFrame, folds: Int, key: String,
      orderCol: String = "_idx"): DataFrame =
    df.withColumn("fold",
      ntile(folds).over(Window.partitionBy(col(key)).orderBy(col(orderCol))) - 1)

  /** Uniform in [0, 1) derived from md5(seed ‖ tag ‖ key) — the
    * engine-independent, layout-independent stand-in for `rand(seed)`
    * wherever a row has a stable key: identical on any cluster layout and
    * replayable by any engine with md5 (first 8 hex digits / 2^32).
    */
  private def md5Uniform(seed: Long, tag: Long, key: Column): Column =
    conv(substring(md5(concat_ws("#", lit(seed), lit(tag), key.cast("string"))),
      1, 8), 16, 10).cast("double") / 4294967296.0

  /** Stratified k-fold on a label (reference `stratified_kfold`,
    * xval.py:83-111): seeded shuffle within label strata. Parallelism is
    * bounded by label cardinality (the window partitions on the label) —
    * inherent to the semantics; for few huge strata at extreme scale,
    * compose the [[randomKfold]] two-phase shuffle per stratum instead.
    *
    * With `keyCol` set (any unique row key) the shuffle order is
    * md5(seed ‖ key) — layout-independent: the same rows land in the same
    * folds on any partitioning/cluster (spec-pinned). Without a key it
    * falls back to `rand(seed)`, which depends on the physical row
    * layout — folds differ across cluster layouts; prefer `keyCol`, or
    * [[md5Kfold]] when per-stratum balance isn't required.
    */
  def stratifiedKfold(df: DataFrame, folds: Int, label: String,
      seed: Long = 0, keyCol: Option[String] = None): DataFrame = {
    val order: Seq[Column] = keyCol match {
      case Some(k) => Seq(md5Uniform(seed, 0, col(k)), col(k))
      case None => Seq(rand(seed))
    }
    df.withColumn("fold",
      (row_number().over(Window.partitionBy(col(label)).orderBy(order: _*)) - 1)
        % folds)
  }

  /** Plain shuffled k-fold (reference `random_kfold`, xval.py:114-139):
    * global seeded shuffle, balanced folds (sizes differ by ≤1).
    *
    * Scale shape (two-phase, no partition-less window over the table):
    * the uniform rand value doubles as its own range partitioner —
    * `_b = floor(r·B)` is a monotone bucket of the shuffle order — so
    * rows are ranked per bucket in parallel and offset by broadcast
    * cumulative bucket counts (the only global window runs over B rows).
    */
  def randomKfold(df: DataFrame, folds: Int, seed: Long = 0,
      buckets: Int = 64, keyCol: Option[String] = None): DataFrame = {
    // With a stable row key the shuffle is md5-derived — identical folds on
    // any cluster layout (spec-pinned under repartition(1) vs (64)).
    // Without one, rand(seed) is seeded-but-layout-dependent: a different
    // partitioning assigns different folds (the reference's in-memory
    // np.random has no distributed analog) — prefer keyCol or md5Kfold.
    val (r1, r2) = keyCol match {
      case Some(k) => (md5Uniform(seed, 1, col(k)), md5Uniform(seed, 2, col(k)))
      case None => (rand(seed), rand(seed + 1))
    }
    val b = df
      .withColumn("_r", r1)
      .withColumn("_r2", r2) // tie-break: double collisions happen at 1e12 rows
      .withColumn("_b", floor(col("_r") * buckets).cast("int"))
    val counts = b.groupBy("_b").agg(count(lit(1)).as("_cnt"))
    val offW = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_off", coalesce(sum("_cnt").over(offW), lit(0L)))
      .select("_b", "_off")
    val localW = Window.partitionBy("_b").orderBy("_r", "_r2")
    b.join(broadcast(offsets), Seq("_b"))
      .withColumn("fold",
        (((row_number().over(localW) - 1) + col("_off")) % folds).cast("int"))
      .drop("_b", "_r", "_r2", "_off")
  }

  /** Deterministic, shuffle-free k-fold on a key column: seeded hash mod k.
    * The 100 TB default — no global window, pure map-side.
    */
  def hashKfold(df: DataFrame, folds: Int, key: String, seed: Long = 0): DataFrame =
    groupKfold(df, folds, key, seed)

  /** Engine-independent k-fold: md5 of the key's string form, first 8 hex
    * digits mod k. Slower than [[hashKfold]] but reproducible outside
    * Spark (any system with md5 assigns identical folds — useful when the
    * split must be shared across engines/teams).
    */
  def md5Kfold(df: DataFrame, folds: Int, key: String): DataFrame =
    df.withColumn("fold",
      (conv(substring(md5(col(key).cast("string")), 1, 8), 16, 10).cast("long")
        % folds).cast("int"))

  /** Split-leakage audit — the hygiene check the xval and dedup tiers
    * compose into: EXACT duplicate groups (content digest) whose
    * members land in more than one [[md5Kfold]] fold. Every such
    * group leaks its answer from train into validation — per-fold
    * metrics computed on those folds are optimistic by construction,
    * the classic silent inflation a dedup-unaware split ships. Per
    * straddling fold pair: the groups and the exact cross-fold
    * member-pair count (n_a·n_b per digest); panel-wide, the total
    * digest count, how many straddle at all, and their Q6 share (the
    * headline leak number). Fix is upstream: dedup BEFORE splitting,
    * or fold on the digest instead of the id — this table is the
    * evidence either way.
    *
    * Output: one row per leaking fold pair (fold_a < fold_b):
    * (fold_a, fold_b, n_leaky_groups, n_leaky_pairs) with
    * (total_groups, n_multi_fold_groups, leak_share_q6) broadcast on
    * every row. No straddling groups → zero rows.
    *
    * Scale shape: one corpus scan collapses to (digest, fold, n)
    * cells (partial-agg'd, 16-byte keys — the q20 shuffle); the
    * straddle join is cells⋈cells on the digest (cell-sized, never
    * the corpus); readouts are ≤C(folds,2) rows + 1-row scalars.
    */
  def leakageAudit(docs: DataFrame, folds: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(folds >= 2, "leakageAudit needs folds >= 2")
    leakageAuditOn(
      md5Kfold(docs.filter(col(textCol).isNotNull), folds, idCol), textCol)
  }

  /** Fold-agnostic [[leakageAudit]] (r16 verdict item): audits WHATEVER
    * `fold` column the input carries — the FromCells discipline — so a
    * pipeline that split with [[randomKfold]], [[groupKfold]],
    * [[stratifiedKfold]] or a persisted external split can audit its
    * ACTUAL folds instead of the md5Kfold convenience replay. Same
    * output contract and scale shape as [[leakageAudit]], which is now
    * the md5Kfold convenience overload over this core.
    */
  def leakageAuditOn(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    require(docs.columns.contains("fold"),
      "leakageAuditOn needs a `fold` column — assign one with any " +
        "Xval strategy (or use the leakageAudit(docs, folds) overload)")
    leakageAuditFromCells(Dedup.materialize(leakageCellsOn(docs, textCol)))
  }

  /** The (digest, fold, count) cells behind [[leakageAuditOn]] — the
    * mergeable collapse (the q284 digestCells discipline), exposed so
    * the streaming engine can build them through the state store and
    * share the batch readout + oracle. Input must carry `fold`.
    */
  def leakageCellsOn(docs: DataFrame,
      textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("_dg"), col("fold"))
      .agg(count(lit(1)).as("_n"))

  /** [[leakageCellsOn]] with the [[md5Kfold]] convenience split. */
  def leakageCells(docs: DataFrame, folds: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(folds >= 2, "leakageCells needs folds >= 2")
    leakageCellsOn(
      md5Kfold(docs.filter(col(textCol).isNotNull), folds, idCol),
      textCol)
  }

  /** Readout of [[leakageAuditOn]] over prebuilt (_dg, fold, _n)
    * cells (the FromCells discipline — streaming cells plug in
    * unchanged; q337 rides this with q329's oracle verbatim).
    */
  def leakageAuditFromCells(cells: DataFrame): DataFrame = {
    val groups = cells.groupBy("_dg")
      .agg(countDistinct("fold").as("_nf"))
    val tot = groups.agg(count(lit(1)).as("total_groups"),
      coalesce(sum(when(col("_nf") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_multi_fold_groups"))
    // the b side renames its digest: a memory-sink view (the streaming
    // twin's cells) yields the SAME attribute ids on both sides of a
    // self-join, and two Projects keeping `_dg` un-renamed fail
    // resolution with conflicting references — a checkpointed batch
    // input never showed it, the q337 sink did
    val a = cells.select(col("_dg"), col("fold").as("fold_a"),
      col("_n").as("_na"))
    val b = cells.select(col("_dg").as("_dgb"), col("fold").as("fold_b"),
      col("_n").as("_nb"))
    a.join(b, col("_dg") === col("_dgb")).drop("_dgb")
      .filter(col("fold_a") < col("fold_b"))
      .groupBy("fold_a", "fold_b")
      .agg(count(lit(1)).as("n_leaky_groups"),
        sum(expr("CAST(_na AS DECIMAL(38,0)) * _nb")).as("_lp"))
      .crossJoin(tot)
      .withColumn("leak_share_q6", when(col("total_groups") > 0, expr(
        "CAST((CAST(n_multi_fold_groups AS DECIMAL(38,0)) * 1000000)" +
          " DIV total_groups AS BIGINT)")))
      .select(col("fold_a").cast("long").as("fold_a"),
        col("fold_b").cast("long").as("fold_b"),
        col("n_leaky_groups"),
        col("_lp").cast("long").as("n_leaky_pairs"),
        col("total_groups"), col("n_multi_fold_groups"),
        col("leak_share_q6"))
  }

  /** Fold-parity audit — the leakage family's complement: leakage
    * asks whether folds share CONTENT they shouldn't; parity asks
    * whether each fold REPRESENTS the corpus (a fold starved of a
    * domain/language reads as a distribution-shift eval, and per-fold
    * metrics stop being comparable). Per fold, the composition over
    * `byCol` vs the corpus composition: the worst per-group share
    * deviation and the total variation distance, both exact in Q6 via
    * cross-multiplied counts (|n_fb·N − n_b·n_f| over n_f·N — no
    * intermediate fraction). A group absent from a fold still
    * contributes its full corpus share (the t-closeness grid rule).
    *
    * Output: one row per fold: (fold, n_rows, n_groups, max_dev_q6,
    * tvd_q6) — tvd = Σ|·|/2, the mass that would have to move.
    *
    * Scale shape: one corpus scan collapses to (fold, group, n)
    * cells; the folds×groups grid is cells-sized (broadcast of the
    * group totals); readout is |folds| rows.
    */
  def foldParityAudit(docs: DataFrame, byCol: String): DataFrame = {
    require(docs.columns.contains("fold"),
      "foldParityAudit needs a `fold` column — assign one with any " +
        "Xval strategy first")
    foldParityFromCells(foldParityCells(docs, byCol))
  }

  /** The (fold, _by, _n) cells behind [[foldParityAudit]] — the
    * mergeable collapse (the leakageCells discipline), exposed so the
    * streaming engine can build them through the state store and
    * share the batch readout + oracle.
    */
  def foldParityCells(docs: DataFrame, byCol: String): DataFrame =
    docs.filter(col(byCol).isNotNull)
      .groupBy(col("fold"), col(byCol).cast("string").as("_by"))
      .agg(count(lit(1)).as("_n"))

  /** Readout of [[foldParityAudit]] over prebuilt (fold, _by, _n)
    * cells.
    */
  def foldParityFromCells(cells: DataFrame): DataFrame = {
    val groups = cells.groupBy("_by").agg(sum("_n").as("_ngrp"))
    val foldsT = cells.groupBy("fold").agg(sum("_n").as("_nf"))
    val scal = groups.agg(coalesce(sum("_ngrp"), lit(0L)).as("_N"))
    // the cells side renames everything: the grid's fold/_by come from
    // aggregates of the SAME plan (the q337 conflicting-reference rule)
    val cellsR = cells.select(col("fold").as("_rfold"),
      col("_by").as("_rby"), col("_n").as("_rn"))
    val grid = foldsT.crossJoin(broadcast(groups))
      .join(cellsR,
        col("fold") <=> col("_rfold") && col("_by") <=> col("_rby"),
        "left")
      .select(col("fold"), col("_nf"), col("_ngrp"),
        coalesce(col("_rn"), lit(0L)).as("_nfb"))
    grid.crossJoin(scal)
      .withColumn("_dev", expr(
        "abs(CAST(_nfb AS DECIMAL(38,0)) * _N" +
          " - CAST(_ngrp AS DECIMAL(38,0)) * _nf)"))
      .groupBy(col("fold").cast("long").as("fold"))
      .agg(max("_nf").as("n_rows"),
        count(lit(1)).as("n_groups"),
        max(expr("CAST((_dev * 1000000) DIV" +
          " (CAST(_nf AS DECIMAL(38,0)) * _N) AS BIGINT)"))
          .as("max_dev_q6"),
        expr("CAST((SUM(_dev) * 1000000) DIV" +
          " (2 * CAST(MAX(_nf) AS DECIMAL(38,0)) * MAX(_N)) AS BIGINT)")
          .as("tvd_q6"))
  }

  /** Semantic fold-parity audit — the parity family's third modality,
    * mirroring the leakage family's tiers: [[foldParityAudit]] checks
    * COMPOSITION (counts per group), this checks the embedding
    * DISTRIBUTION — per fold-pair and fold-vs-corpus ('_all') the
    * cosine between int8 centroids
    * ([[Embeddings.labelCentroidCosines]]: cosine(Σv) ≡
    * cosine(centroid), exact integer sums, ONE IEEE sqrt+divide). A
    * fold whose centroid drifts from '_all' is a distribution-shift
    * eval in disguise even when q344 reads balanced counts.
    *
    * Scale shape: the q193 shape — one explode + partial-agg'd
    * (label, dim) collapse over folds ∪ corpus, then a
    * (folds+1)²-pair broadcast join; nothing pairwise touches rows.
    */
  def semanticFoldParity(vectors: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    require(vectors.columns.contains("fold"),
      "semanticFoldParity needs a `fold` column — assign one with any " +
        "Xval strategy first")
    val lab = vectors.select(
      concat(lit("f"), col("fold").cast("string")).as("label"),
      col(vecCol).as("embedding"))
    val all = vectors.select(lit("_all").as("label"),
      col(vecCol).as("embedding"))
    Embeddings.labelCentroidCosines(lab.unionByName(all))
  }

  /** NEAR-DUP split-leakage audit — [[leakageAudit]]'s real-world
    * sibling (r16 verdict item #1): exact-dup straddle is the easy
    * case; the contamination that actually inflates evals at corpus
    * scale is paraphrase/near-dup straddle (a lightly edited copy of a
    * train document sitting in the validation fold scores as held-out
    * while being memorizable). Composes the dedup tier's cluster
    * machinery ([[Dedup.minhashCandidates]] → [[Dedup.clusterPairs]],
    * the q56/q320 build) with the fold assignment exactly as
    * [[leakageAuditOn]] composes content digests: per straddling fold
    * pair the clusters and the exact cross-fold member-pair count,
    * panel-wide the straddle share.
    *
    * Membership counts EXACT copies too: every corpus doc maps to its
    * digest's representative (min id — [[Dedup.minhashCandidates]]'
    * collapse-exact rule), and a digest whose rep is clustered carries
    * all its copies into the cluster's per-fold counts — so a clone of
    * a clustered doc in a third fold is counted, not lost to the exact
    * collapse. Docs whose rep has no LSH candidate pair (singletons —
    * ~the whole corpus, by LSH's point) carry no near-dup leak signal
    * and are absent; their exact-dup straddle is [[leakageAuditOn]]'s
    * job, and the two audits read zero rows together iff the split is
    * dedup-clean at both tiers.
    *
    * Output: one row per leaking fold pair (fold_a < fold_b):
    * (fold_a, fold_b, n_leaky_clusters, n_leaky_pairs) with
    * (total_clusters, n_multi_fold_clusters, leak_share_q6) broadcast
    * on every row; leak_share is over near-dup clusters (the at-risk
    * population). No straddling clusters → zero rows.
    *
    * Scale shape: the LSH candidate build + pointer-doubled label
    * propagation are the q56 cost (banded, skew-capped, never
    * all-pairs); ONE corpus scan collapses to (digest, fold, n) cells;
    * the digest→cluster map is label-table-sized (candidate pairs, not
    * the corpus); cells⋈map and the straddle self-join are cell-sized;
    * readouts are ≤C(folds,2) rows + 1-row scalars.
    */
  /** ONE build site for the digest → near-dup-cluster map the audit
    * and the remedy both ride: each digest's representative (min id —
    * [[Dedup.minhashCandidates]]' collapse-exact rule, so the join key
    * set matches the label table's ids exactly) carried to its
    * [[Dedup.clusterPairs]] component. Output: (_dg, cluster_id), one
    * row per digest whose rep sits in a cluster (candidate-pair-sized,
    * never the corpus). Build it once — `Dedup.materialize(...)` — and
    * pass it to [[nearDupLeakageAuditOn]] AND [[nearDupAwareKfold]]:
    * the LSH candidate build + label propagation (the expensive stage)
    * then runs once instead of once per consumer.
    */
  def nearDupGroupMap(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 32,
      rowsPerBand: Int = 4, k: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
    val cands = Dedup.minhashCandidates(
      base.select(col(idCol), col(textCol)),
      numHashes, rowsPerBand, k, threshold, idCol, textCol)
    val labels = Dedup.clusterPairs(cands)
    base.groupBy(md5(col(textCol)).as("_dg"))
      .agg(min(col(idCol)).as("_rid"))
      .join(labels.select(col("id").as("_rid"), col("cluster_id")),
        Seq("_rid"))
      .select("_dg", "cluster_id")
  }

  def nearDupLeakageAuditOn(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 32,
      rowsPerBand: Int = 4, k: Int = 5, threshold: Double = 0.5,
      groupMap: Option[DataFrame] = None): DataFrame = {
    require(docs.columns.contains("fold"),
      "nearDupLeakageAuditOn needs a `fold` column — assign one with " +
        "any Xval strategy (or use the nearDupLeakageAudit overload)")
    val base = docs.filter(col(textCol).isNotNull)
    val dgc = groupMap.getOrElse(
      nearDupGroupMap(docs, idCol, textCol, numHashes, rowsPerBand, k,
        threshold))
    val cells = Dedup.materialize(
      base.groupBy(md5(col(textCol)).as("_dg"), col("fold"))
        .agg(count(lit(1)).as("_n0"))
        .join(dgc, Seq("_dg"))
        .groupBy(col("cluster_id").as("_cid"), col("fold"))
        .agg(sum("_n0").as("_n")))
    clusterStraddleReadout(cells)
  }

  /** The straddle readout over (_cid, fold, _n) cluster cells — ONE
    * code path for every cluster-tier leakage audit (near-dup text,
    * semantic/embedding), so their tables compare column for column.
    */
  private def clusterStraddleReadout(cells: DataFrame): DataFrame = {
    val groups = cells.groupBy("_cid")
      .agg(countDistinct("fold").as("_nf"))
    val tot = groups.agg(count(lit(1)).as("total_clusters"),
      coalesce(sum(when(col("_nf") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_multi_fold_clusters"))
    // b renames its key: a memory-sink-backed cells frame yields the
    // same attribute ids on both sides of a self-join (the q337 class)
    val a = cells.select(col("_cid"), col("fold").as("fold_a"),
      col("_n").as("_na"))
    val b = cells.select(col("_cid").as("_cidb"),
      col("fold").as("fold_b"), col("_n").as("_nb"))
    a.join(b, col("_cid") === col("_cidb")).drop("_cidb")
      .filter(col("fold_a") < col("fold_b"))
      .groupBy("fold_a", "fold_b")
      .agg(count(lit(1)).as("n_leaky_clusters"),
        sum(expr("CAST(_na AS DECIMAL(38,0)) * _nb")).as("_lp"))
      .crossJoin(tot)
      .withColumn("leak_share_q6", when(col("total_clusters") > 0, expr(
        "CAST((CAST(n_multi_fold_clusters AS DECIMAL(38,0)) * 1000000)" +
          " DIV total_clusters AS BIGINT)")))
      .select(col("fold_a").cast("long").as("fold_a"),
        col("fold_b").cast("long").as("fold_b"),
        col("n_leaky_clusters"),
        col("_lp").cast("long").as("n_leaky_pairs"),
        col("total_clusters"), col("n_multi_fold_clusters"),
        col("leak_share_q6"))
  }

  /** EMBEDDING-tier split-leakage audit — the modality the lexical
    * audits cannot reach: semantic near-dup groups (SemDeDup —
    * [[Similarity.semanticDedup]]'s within-cell integer-cosine pairs,
    * componentized with [[Dedup.clusterPairs]]) whose members straddle
    * folds. A paraphrase or re-render that shares no 5-gram with its
    * source still lands in the same embedding cluster, so a split that
    * passes q329 AND q330 can still leak here. Same output contract as
    * [[nearDupLeakageAuditOn]] ([[clusterStraddleReadout]], one code
    * path); members are vectors (embedding identity IS the content —
    * no digest expansion tier). Input must carry `fold`.
    *
    * Scale shape: SemDeDup's cost (IVF-bucketed within-cell pairs,
    * never all-pairs), the component labels are dup-pair-sized, cells
    * are cells⋈cells — nothing corpus-sized past the pair stage.
    */
  def semanticLeakageAuditOn(vectors: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = -1, iters: Int = 2, thresholdNum: Long = 7,
      thresholdDen: Long = 10): DataFrame = {
    require(vectors.columns.contains("fold"),
      "semanticLeakageAuditOn needs a `fold` column — assign one with " +
        "any Xval strategy (or use the semanticLeakageAudit overload)")
    val sem = Similarity.semanticDedup(
      vectors.select(col(idCol), col(vecCol)), nCells = nCells,
      iters = iters, thresholdNum = thresholdNum,
      thresholdDen = thresholdDen, idCol = idCol, vecCol = vecCol)
    val pairs = sem.filter(col("dup_of") >= 0)
      .select(col("dup_of").as("id_a"), col(idCol).as("id_b"))
    val labels = Dedup.clusterPairs(pairs)
    val cells = Dedup.materialize(
      vectors.select(col(idCol).as("id"), col("fold"))
        .join(labels, Seq("id"))
        .groupBy(col("cluster_id").as("_cid"), col("fold"))
        .agg(count(lit(1)).as("_n")))
    clusterStraddleReadout(cells)
  }

  /** [[semanticLeakageAuditOn]] with the [[md5Kfold]] convenience
    * split on the vector id.
    */
  def semanticLeakageAudit(vectors: DataFrame, folds: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = -1, iters: Int = 2, thresholdNum: Long = 7,
      thresholdDen: Long = 10): DataFrame = {
    require(folds >= 2, "semanticLeakageAudit needs folds >= 2")
    semanticLeakageAuditOn(md5Kfold(vectors, folds, idCol), idCol,
      vecCol, nCells, iters, thresholdNum, thresholdDen)
  }

  /** [[nearDupLeakageAuditOn]] with the [[md5Kfold]] convenience split
    * — the shape [[leakageAudit]] has for the exact tier.
    */
  def nearDupLeakageAudit(docs: DataFrame, folds: Int,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, rowsPerBand: Int = 4, k: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    require(folds >= 2, "nearDupLeakageAudit needs folds >= 2")
    nearDupLeakageAuditOn(
      md5Kfold(docs.filter(col(textCol).isNotNull), folds, idCol),
      idCol, textCol, numHashes, rowsPerBand, k, threshold)
  }

  /** Dedup-aware k-fold, EXACT tier — the remedy [[leakageAudit]]'s
    * scaladoc promises ("fold on the digest instead of the id"): fold
    * = md5 of the CONTENT, so every exact-duplicate group lands whole
    * in one fold and [[leakageAuditOn]] over this split returns ZERO
    * rows by construction. Pure map-side (the [[md5Kfold]] idiom keyed
    * on the text — engine-independent, no shuffle); balance holds in
    * expectation over distinct digests (hash-uniform, the md5Kfold
    * band). NULL-text rows read a NULL fold — they carry no content to
    * leak, and routing them is the caller's explicit decision.
    */
  def dedupAwareKfold(df: DataFrame, folds: Int,
      textCol: String = "text"): DataFrame =
    md5Kfold(df, folds, textCol)

  /** Dedup-aware k-fold, NEAR-DUP tier — folds on the near-dup CLUSTER
    * representative where one exists, else on the content digest: the
    * group key is `c#<cluster_id>` for docs whose digest rep sits in a
    * [[Dedup.clusterPairs]] component (tagged so a numeric id can
    * never collide with a digest) and `d#<digest>` otherwise, then
    * fold = md5(group key) first-8-hex mod k — the engine-independent
    * [[md5Kfold]] idiom. Every near-dup cluster AND every exact-dup
    * group lands whole in one fold, so both [[leakageAuditOn]] and
    * [[nearDupLeakageAuditOn]] (same LSH parameters) return ZERO rows
    * over this split by construction. NULL-text rows read a NULL fold
    * (as [[dedupAwareKfold]]).
    *
    * Scale shape: one LSH candidate build + label propagation (the
    * q56 cost), one digest-keyed join of the corpus against the
    * digest→group map (16-byte keys — the exactKeep shuffle class),
    * then map-side fold arithmetic. Balance holds in expectation over
    * GROUPS; a pathological corpus that is one giant cluster cannot be
    * balanced by any leak-free split — that is a fact about the data,
    * and [[nearDupLeakageAuditOn]]'s zero-rows gate is the honest
    * trade.
    */
  def nearDupAwareKfold(docs: DataFrame, folds: Int,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, rowsPerBand: Int = 4, k: Int = 5,
      threshold: Double = 0.5,
      groupMap: Option[DataFrame] = None): DataFrame = {
    require(folds >= 2, "nearDupAwareKfold needs folds >= 2")
    val base = docs.filter(col(textCol).isNotNull)
    val dgc = groupMap.getOrElse(
      nearDupGroupMap(docs, idCol, textCol, numHashes, rowsPerBand, k,
        threshold))
    val gk = base
      .select(md5(col(textCol)).as("_dg")).distinct()
      .join(dgc, Seq("_dg"), "left")
      .select(col("_dg"),
        coalesce(concat(lit("c#"), col("cluster_id").cast("string")),
          concat(lit("d#"), col("_dg"))).as("_gk"))
    docs.withColumn("_dg", md5(col(textCol)))
      .join(gk, Seq("_dg"), "left")
      .withColumn("fold",
        (conv(substring(md5(col("_gk")), 1, 8), 16, 10).cast("long")
          % folds).cast("int"))
      .drop("_dg", "_gk")
  }

  /** Single random train/val/test split (reference `random_split`,
    * xval.py:142-161): seeded, proportions normalized.
    */
  def randomSplit(df: DataFrame, train: Double, valFrac: Double, test: Double,
      seed: Long = 0): DataFrame = {
    val tot = train + valFrac + test
    val r = rand(seed)
    df.withColumn("set",
      when(r < train / tot, "train")
        .when(r < (train + valFrac) / tot, "val")
        .otherwise("test"))
  }

  /** Reference mask-column layout (`xval.<set>.fold_k` bool columns,
    * dataset.py:1051-1059) from a `fold` column: train = all other folds,
    * test = own fold, with `test_only` rows in every test fold and no
    * train fold (dataset.py:981-985, 1043-1045).
    */
  def foldMasks(df: DataFrame, folds: Int,
      testOnlyCol: Option[String] = None): DataFrame = {
    // NULL test_only means not-test-only (reference boolean-mask semantics):
    // without the coalesce a NULL poisons all masks via three-valued logic
    // and the row lands in no set, breaking the partition invariant.
    val testOnly: Column =
      testOnlyCol.map(c => coalesce(col(c) === 1.0, lit(false))).getOrElse(lit(false))
    (0 until folds).foldLeft(df) { (d, k) =>
      d.withColumn(s"xval_train_fold_$k", !testOnly && col("fold") =!= k)
        .withColumn(s"xval_test_fold_$k", testOnly || col("fold") === k)
    }
  }

  /** Reference train/**val**/test mask layout (xval.py:69-78,99-110,
    * 126-137 + dataset.py:1043-1059): every reference kfold carves a
    * validation set out of each fold's train side — `val_frac` of the
    * train rows, sampled without replacement — so per fold k the three
    * masks partition the table: test = own fold (∪ test_only rows),
    * val ⊂ train-side, train = the train-side remainder. test_only rows
    * (dataset.py:981-985) are in every test fold and never train/val.
    *
    * The reference samples val with unseeded `np.random.choice`; per the
    * engine's determinism discipline the sample here is the rows whose
    * md5(seed ‖ fold ‖ key)-derived uniform < valFrac — deterministic,
    * layout-independent, pure map-side (zero shuffle, no global window).
    * The val set size is exact-in-expectation (|train side|·valFrac)
    * rather than the reference's exact ceil — at scale an exact count
    * would need a global rank of every train side; compose
    * [[randomKfold]]'s bucketed ranking per fold if exactness matters.
    *
    * `valKey` must be a stable unique row key (e.g. `_idx` or a doc id).
    */
  def foldMasksVal(df: DataFrame, folds: Int, valFrac: Double,
      valKey: String, testOnlyCol: Option[String] = None,
      seed: Long = 0): DataFrame = {
    require(valFrac >= 0.0 && valFrac < 1.0, s"valFrac $valFrac not in [0,1)")
    // NULL test_only means not-test-only (reference boolean-mask semantics):
    // without the coalesce a NULL poisons all masks via three-valued logic
    // and the row lands in no set, breaking the partition invariant.
    val testOnly: Column =
      testOnlyCol.map(c => coalesce(col(c) === 1.0, lit(false))).getOrElse(lit(false))
    (0 until folds).foldLeft(df) { (d, k) =>
      val trainSide = !testOnly && col("fold") =!= k
      val isVal = trainSide && md5Uniform(seed, 1000 + k, col(valKey)) < valFrac
      d.withColumn(s"xval_train_fold_$k", trainSide && !isVal)
        .withColumn(s"xval_val_fold_$k", isVal)
        .withColumn(s"xval_test_fold_$k", testOnly || col("fold") === k)
    }
  }

  /** Select one xval set (reference `get_xval_set`, dataset.py:1066-1130;
    * `set` ∈ train/val/test — val columns come from [[foldMasksVal]]).
    */
  def xvalSet(df: DataFrame, set: String, fold: Int): DataFrame =
    df.filter(col(s"xval_${set}_fold_$fold"))

  /** Persist fold assignment (reference pickles index lists to
    * `save_path/xval.pickle`, dataset.py:988-1025; here a parquet of
    * (key, fold) — scalable and re-joinable instead of driver-side lists).
    */
  def saveFolds(df: DataFrame, keyCol: String, path: String): Unit =
    df.select(col(keyCol), col("fold")).write.mode("overwrite").parquet(path)

  /** Re-attach persisted folds by key. */
  def loadFolds(df: DataFrame, keyCol: String, path: String): DataFrame =
    df.join(df.sparkSession.read.parquet(path), Seq(keyCol), "left")
}
