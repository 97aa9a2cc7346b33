package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality, Spark-first: edges as a DataFrame
  * partitioned by source, scores re-joined per iteration — the
  * fixed-point-by-iterated-join family (PageRank & friends) that web
  * corpus curation uses to rank domains/URLs before sampling (CCNet /
  * RefinedWeb-style source weighting; Common Crawl publishes harmonic
  * centrality the same way). No driver-side graph state: every
  * iteration is two co-partitioned joins + one aggregation, so the
  * pattern survives a billion-edge graph unchanged.
  *
  * Scores are INTEGER fixed-point (parts-per-`scale`): each hop is
  * floor((score·damp)/(deg·100)) — exact on any engine, so
  * [[graft.Oracles]] replays all iterations as unrolled CTEs (the q57
  * integer-Lloyd discipline applied to graphs).
  */
object Graphs {

  /** Undirected co-occurrence edges: items sharing a group (parts in an
    * order, tokens in a doc, domains in a session) get both directed
    * edges. Multiplicity is ignored — the final DISTINCT collapses
    * repeat pairs, so no pre-distinct pass is spent on the raw rows.
    * Groups with more than `maxGroup` membership ROWS are dropped whole
    * — the capBuckets skew guard: a single million-item group would
    * emit 10¹² pairs and no centrality signal worth having.
    *
    * The self-join keys on the group column, so it is co-partitioned
    * (one shuffle of slim (group, item) rows, reused by the guard's
    * anti-join) with per-task cost bounded by maxGroup².
    */
  /** Temporal holdout evaluation of the co-occurrence recommender (the
    * q157 family closing its loop): split baskets at the 80 % point of
    * the calendar span, build item–item co-basket counts on TRAIN,
    * score each customer's unseen items by summed co-occurrence with
    * their train items, take top-`topK` (score DESC, item ASC), and
    * check the recommendations against the customer's TEST items.
    * Output ONE row: (n_users, n_hit, sum_recip_q6) — users evaluated
    * (has recs AND test items), users with ≥1 hit in the top-k, and
    * Σ ⌊10⁶ / first-hit-rank⌋ (the integer MRR numerator).
    *
    * All-integer: co-occurrence counts, summed scores, rank ties by
    * item id, reciprocal ranks as exact floor divisions — the DuckDB
    * oracle replays the whole evaluation (q249), including the
    * neighborhood truncation.
    *
    * Scale shape: the q157 group-to-list pair build (maxGroup cap, no
    * self-join), then the standard item-kNN bound — each source item
    * keeps only its top-`maxNeighbors` co-items by (count DESC, item
    * ASC) — so candidate generation is |trainItems|·maxNeighbors
    * instead of |trainItems|·avg-degree (the unbounded form OOM'd the
    * 30× sweep: ~10⁹ candidate rows into one hash-agg). Scoring is
    * further restricted to customers that appear in the TEST window —
    * output-identical (only those customers are eligible) but skips
    * building recommendations nobody evaluates. Item-keyed score
    * join, per-customer bounded native top-k — no window over the
    * corpus, nothing on the driver.
    */
  def recHoldoutEval(baskets: DataFrame, custCol: String, grpCol: String,
      itemCol: String, dayCol: String, topK: Int = 5,
      maxGroup: Int = 1000, maxNeighbors: Int = 20): DataFrame = {
    val b = Dedup.materialize(baskets.select(col(custCol).as("_c"),
      col(grpCol).as("_g"), col(itemCol).as("_i"), col(dayCol).as("_d")))
    // empty input → null min/max; coalesce to 0 so cutoff=0 and every
    // downstream table is empty → one honest (0, 0, 0) output row
    val lim = b.agg(coalesce(min("_d"), lit(0L)),
      coalesce(max("_d"), lit(0L))).head()
    val (lo, hi) = (lim.getLong(0), lim.getLong(1))
    val cutoff = lo + 4L * (hi - lo) / 5L
    val train = b.filter(col("_d") < cutoff)
    val test = b.filter(col("_d") >= cutoff)
    val testCusts = test.select("_c").distinct()
    val trainItems = Dedup.materialize(train.select("_c", "_i").distinct()
      .join(testCusts, Seq("_c"), "semi"))
    val testItems = test.select("_c", "_i").distinct()
    val nbrW = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("_w").desc, col("dst"))
    val cooc = train.select("_g", "_i").distinct()
      .groupBy("_g").agg(collect_list("_i").as("_is"))
      .filter(size(col("_is")) <= maxGroup)
      .select(col("_is"), explode(col("_is")).as("src"))
      .select(col("src"), explode(col("_is")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("_w"))
      .withColumn("_rn", row_number().over(nbrW))
      .filter(col("_rn") <= maxNeighbors).drop("_rn")
    val scores = trainItems
      .join(cooc, col("_i") === col("src"))
      .select(col("_c"), col("dst").as("_j"), col("_w"))
      .join(trainItems.select(col("_c"), col("_i").as("_j")),
        Seq("_c", "_j"), "left_anti")
      .groupBy("_c", "_j").agg(sum("_w").as("_s"))
    val recs = scores.groupBy("_c")
      .agg(graft.plans.GraftExtensions.topKNative(
        col("_s").cast("double"), col("_j"), topK).as("_t"))
      .select(col("_c"), posexplode(col("_t")))
      .select(col("_c"), col("col.id").as("_j"),
        (col("pos") + 1).cast("long").as("_rank"))
    val eligible = recs.select("_c").distinct()
      .join(testItems.select("_c").distinct(), Seq("_c"), "semi")
    val hits = recs.join(testItems.select(col("_c"), col("_i").as("_j")),
        Seq("_c", "_j"), "semi")
      .groupBy("_c").agg(min("_rank").as("_hr"))
    eligible.join(hits, Seq("_c"), "left")
      .agg(count(lit(1)).as("n_users"),
        count(col("_hr")).as("n_hit"),
        coalesce(sum(expr("1000000 DIV _hr")), lit(0L)).as("sum_recip_q6"))
  }

  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxGroup: Int = 1000, dedup: Boolean = true): DataFrame = {
    val slim = df.select(col(groupCol).as("_g"), col(itemCol).as("_i"))
    // group-to-list instead of a self-join: ONE hash-agg shuffle of the
    // slim rows (no sort anywhere), the size cap falls out of the list
    // length, and the pair blow-up happens map-side row-at-a-time under
    // whole-stage codegen (never a maxGroup²-element array in memory).
    val pairs = slim.groupBy("_g").agg(collect_list("_i").as("_is"))
      .filter(size(col("_is")) <= maxGroup)
      .select(col("_is"), explode(col("_is")).as("src"))
      .select(col("src"), explode(col("_is")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // dedup=false skips the pair-level exchange when the consumer
    // dedups anyway (pageRankInt's collect_set adjacency build) — the
    // multiset and the set describe the same graph.
    if (dedup) pairs.distinct() else pairs
  }

  /** Exact global triangle count over an undirected edge multiset —
    * the clustering-structure summary (spam/bot rings in web graphs,
    * community density in co-occurrence graphs). Output ONE row:
    * (n_nodes, n_edges, n_triangles) on the canonicalized (a<b,
    * deduped) edge set.
    *
    * Scale shape: the classic degree-ordered wedge join — each edge
    * orients from its (degree, id)-smaller endpoint, so a node
    * generates wedges only among HIGHER-ranked neighbours: per-node
    * wedge work is bounded by its oriented out-degree² ≤ O(√m) per
    * edge on any graph (Σ wedges = O(m^1.5) worst case instead of
    * Σ deg² — the hub that breaks the naive join generates nothing).
    * Wedge closure is one join against the canonical edge set; every
    * shuffle keys on node or edge ids.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = Dedup.materialize(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct(), eager = true)
    val m = Dedup.rowCount(und)
    val deg = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient each edge (degree, id)-low → high; the degree table has
    // at most 2m rows
    val o = und
      .join(Gates.broadcastIfFits(
        deg.select(col("n").as("a"), col("d").as("_da")), 2 * m), Seq("a"))
      .join(Gates.broadcastIfFits(
        deg.select(col("n").as("b"), col("d").as("_db")), 2 * m), Seq("b"))
      .select(
        when(struct(col("_da"), col("a")) < struct(col("_db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v"))
    // Forward counting by adjacency intersection: with the (deg,id)
    // DAG orientation, triangle u<v<w is counted exactly once — at its
    // u→v edge, as w ∈ N⁺(u) ∩ N⁺(v). So the count is one pass over
    // the oriented edges with a per-row set intersection: no wedge
    // stream ever materializes (the naive wedge join emits Σ outdeg²
    // rows — 41M at sf0.1 — and its closure probe dominates the
    // runtime). Out-lists are bounded by the oriented out-degree
    // (O(√m) under this orientation), so per-row work is bounded too.
    // The adjacency table (n rows, m total entries) is gated as m rows;
    // bigger graphs fall back to u- and v-keyed hash joins.
    val adj = o.groupBy("u").agg(collect_set("v").as("_vs"))
    val tri = o
      .join(Gates.broadcastIfFits(
        adj.select(col("u"), col("_vs").as("_nu")), m), Seq("u"))
      .join(Gates.broadcastIfFits(
        adj.select(col("u").as("v"), col("_vs").as("_nv")), m), Seq("v"))
      .select(size(array_intersect(col("_nu"), col("_nv"))).as("_t"))
      .agg(coalesce(sum("_t"), lit(0L)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(tri)
      .select(col("n_nodes"), lit(m).as("n_edges"), col("n_triangles"))
  }

  /** Weighted co-occurrence edges: like [[coOccurrenceEdges]] but each
    * (src, dst) pair carries how many groups contain both — the edge
    * weight a weighted centrality wants. One extra groupBy over the
    * pair multiset (partial-agg'd; the cap is the same skew guard).
    */
  def coOccurrenceWeighted(df: DataFrame, groupCol: String,
      itemCol: String, maxGroup: Int = 1000): DataFrame =
    coOccurrenceEdges(df, groupCol, itemCol, maxGroup, dedup = false)
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))

  /** Market-basket association rules over (basket, item) pairs:
    * directed rules a→b with integer metrics — c_a/c_b/c_ab basket
    * counts, support‰ = ⌊1000·c_ab/N⌋, confidence‰ = ⌊1000·c_ab/c_a⌋,
    * lift in 10⁻⁶ fixed point ⌊10⁶·c_ab·N/(c_a·c_b)⌋ — every division
    * a DECIMAL(38,0) floor (HUGEINT oracle-side), no libm. Membership
    * is DISTINCT (an item twice in one basket counts once — the
    * support semantics), and baskets with more than `maxBasket`
    * distinct items are dropped BEFORE any count (the
    * [[coOccurrenceEdges]] skew guard; item counts, N and pairs all
    * see the same capped basket set, so the metrics stay consistent).
    *
    * Scale shape: the pair blow-up is the group-to-list explode under
    * whole-stage codegen (bounded by maxBasket²), one hash-agg shuffle
    * per count table, and the two item-count joins key on single item
    * ids; N joins in as a 1×1 cross.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2, maxBasket: Int = 1000): DataFrame = {
    val dec = "DECIMAL(38,0)"
    val slim = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct()
    val ok = slim.groupBy("_b").agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBasket).select("_b")
    val m = slim.join(ok, Seq("_b"), "semi")
    val nB = m.agg(countDistinct("_b").as("n_baskets"))
    val itemCnt = m.groupBy("_i").agg(count(lit(1)).as("_c"))
    val pairs = m.groupBy("_b").agg(collect_list("_i").as("_is"))
      .select(col("_is"), explode(col("_is")).as("item_a"))
      .select(col("item_a"), explode(col("_is")).as("item_b"))
      .filter(col("item_a") =!= col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    pairs
      .join(itemCnt.select(col("_i").as("item_a"), col("_c").as("c_a")),
        Seq("item_a"))
      .join(itemCnt.select(col("_i").as("item_b"), col("_c").as("c_b")),
        Seq("item_b"))
      .crossJoin(nB)
      .select(col("item_a"), col("item_b"), col("c_a"), col("c_b"),
        col("c_ab"), col("n_baskets"),
        expr(s"CAST((1000 * c_ab) DIV n_baskets AS BIGINT)")
          .as("support_permille"),
        expr(s"CAST((1000 * c_ab) DIV c_a AS BIGINT)")
          .as("confidence_permille"),
        expr(s"CAST((CAST(1000000 AS $dec) * c_ab * n_baskets)" +
          s" DIV (CAST(c_a AS $dec) * c_b) AS BIGINT)").as("lift_q6"))
  }

  /** Weighted integer fixed-point PageRank: each hop carries
    * floor(score·dampPct·w / (wdeg·100)) where wdeg = Σ out-weights —
    * the CCNet/RefinedWeb-style source weighting where heavier
    * co-occurrence means more rank flow. Same chunked-adjacency shape
    * as [[pageRankInt]] (neighbour chunks hold (dst, w) structs; the
    * weighted degree is exact from one aggregation); symmetric-graph
    * fast path only (co-occurrence output is symmetric by
    * construction). Long-range bound: score·damp·w ≤ 1e12·85·1e5 <
    * 2^63 — cap weights upstream if a pair can co-occur > ~10^5 times.
    */
  def pageRankIntWeighted(edges: DataFrame, iters: Int = 3,
      scale: Long = 1000000000000L, dampPct: Int = 85,
      maxNbrsPerRow: Int = 8192): DataFrame = {
    val c = maxNbrsPerRow
    val e = Dedup.materialize(edges
      .select(col("src"), col("dst"), col("weight"))
      .groupBy("src").agg(
        sum("weight").as("wdeg"),
        collect_list(struct(col("dst"), col("weight").as("w"))).as("_all"))
      .select(col("src"), col("wdeg"),
        posexplode(expr(
          s"transform(sequence(0, (size(_all)-1) div $c)," +
            s" i -> slice(_all, i*$c+1, $c))")).as(Seq("_chunk", "nbrs"))))
    // weighted edges are symmetric-caller-only in this engine, so the
    // nodes are exactly the chunk-0 adjacency rows
    val nodes = Dedup.materialize(
      e.filter(col("_chunk") === 0).select(col("src").as("node")), eager = true)
    val n = Dedup.rowCount(nodes)
    require(n > 0, "empty graph")
    val base = (scale * (100 - dampPct)) / (100L * n)
    var scores = nodes.withColumn("score", lit(scale / n))
    for (_ <- 1 to iters) {
      // a node whose out-weights are all zero passes no mass
      val contrib = e
        .join(Gates.broadcastIfFits(
          scores.withColumnRenamed("node", "src"), n), Seq("src"))
        .select(col("score"), col("wdeg"), explode(col("nbrs")).as("_nb"))
        .select(col("_nb.dst").as("node"), expr(
          s"coalesce((score * $dampPct * _nb.w) div nullif(wdeg * 100, 0), 0)")
          .as("_c"))
        .groupBy("node").agg(sum("_c").as("_cs"))
      scores = Dedup.materialize(
        contrib.select(col("node"), (lit(base) + col("_cs")).as("score")))
    }
    scores
  }

  /** Synchronous label-propagation communities, `rounds` rounds: every
    * node starts as its own label; each round it adopts the most
    * frequent label among its NEIGHBOURS (ties → smallest label) — the
    * classic near-linear community detector (Raghavan et al. 2007),
    * made deterministic by the fixed round count, the synchronous
    * schedule, and the min-label tie-break, so the oracle unrolls each
    * round exactly (the q147 discipline).
    *
    * Scale shape per round: one join of the edge table against the
    * node-sized label table + one (node, label) count + one argmax agg
    * via max(struct(count, −label)) — no window over anything larger
    * than a node's neighbour-label set.
    */
  def labelPropagate(edges: DataFrame, rounds: Int = 2): DataFrame = {
    val e = Dedup.materialize(
      edges.select(col("src"), col("dst")).distinct(), eager = true)
    var labels = Dedup.materialize(
      e.select(col("src").as("node")).union(e.select(col("dst")))
        .distinct().withColumn("lab", col("node")), eager = true)
    for (_ <- 1 to rounds) {
      labels = Dedup.materialize(
        e.join(labels.select(col("node").as("dst"), col("lab")), Seq("dst"))
          .groupBy(col("src").as("node"), col("lab"))
          .agg(count(lit(1)).as("_c"))
          .groupBy("node")
          .agg(max(struct(col("_c"), (-col("lab")).as("_nl"))).as("_m"))
          .select(col("node"), (-col("_m._nl")).as("lab")), eager = true)
    }
    labels.select(col("node"), col("lab").as("community"))
  }

  /** Newman modularity of a community assignment, per community and
    * EXACT: on the canonical undirected edge set (a<b, deduped) with
    * m edges, community c with L_c intra-community edges and degree
    * sum D_c contributes Q_c = L_c/m − (D_c/2m)², so
    * Q_c·4m² = 4m·L_c − D_c² — an integer. Output one row per
    * community: (community, n_nodes, l_in, deg_sum, q_num BIGINT)
    * plus the shared denominator q_den = 4m²; Q = Σ q_num / q_den.
    * No doubles are emitted — the decimal→double terminal cast is the
    * one step engines disagree on (the q156 lesson), and the division
    * is one exact op away for a reader.
    *
    * Scale shape: one degree agg + one per-community agg + one
    * edge⋈labels join keyed on node ids (labels shuffle-joined — at
    * corpus scale the label table is graph-sized, never broadcast
    * unless the exact count says so). Arithmetic runs in
    * DECIMAL(38,0) (HUGEINT oracle-side) so intermediates never
    * overflow; the TERMINAL q_num/q_den are cast to BIGINT per the
    * repo's terminal-type convention — q_den = 4m² binds at
    * m ≈ 1.5·10⁹ edges, at which scale widen BOTH engines' terminals
    * to DECIMAL(38,0) in one commit.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val canon = Dedup.materialize(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct(), eager = true)
    val m = Dedup.rowCount(canon)
    val lab = labels.select(col("node"), col("community"))
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("_deg"))
    val commStats = deg.join(lab, Seq("node"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"),
        sum("_deg").as("deg_sum"))
    val intra = canon
      .join(lab.select(col("node").as("a"), col("community").as("_ca")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("community").as("_cb")), Seq("b"))
      .filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("community"))
      .agg(count(lit(1)).as("l_in"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    commStats.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("l_in"))
      .select(col("community"), col("n_nodes"), col("l_in"), col("deg_sum"),
        (lit(4L * m).cast(dec) * col("l_in").cast(dec) -
          col("deg_sum").cast(dec) * col("deg_sum").cast(dec))
          .cast("long").as("q_num"),
        (lit(4L).cast(dec) * lit(m).cast(dec) * lit(m).cast(dec))
          .cast("long").as("q_den"))
  }

  /** HITS hubs/authorities on a DIRECTED edge set, `rounds` synchronous
    * rounds in 10⁻⁶ fixed point: a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v}
    * a(v), each vector max-normalized after its update —
    * x ← ⌊x·10⁶ / max(x)⌋, all integer (max-norm instead of the
    * classical L2: no square root, exact in any engine; the ranking
    * and the fixed point are the same up to scale). Nodes with no
    * in-edges (resp. out-edges) hold authority (resp. hub) 0. Output:
    * (node, hub_q6, auth_q6) after `rounds` rounds from the uniform
    * h₀ = 10⁶ start — bounded rounds keep the oracle unrollable (the
    * q147 PageRank discipline).
    *
    * Scale shape per round: two node-keyed agg shuffles (in-sum and
    * out-sum) + one 1×1 scalar cross-join per normalization; scores
    * stay BIGINT (≤ 10⁶ post-norm; pre-norm sums ≤ 10⁶·maxdeg, the
    * rescale multiply runs in DECIMAL(38,0)). Rounds checkpoint so
    * round r's plan does not nest rounds 1..r−1.
    */
  def hitsInt(edges: DataFrame, rounds: Int = 2,
      scale: Long = 1000000L): DataFrame = {
    val e = Dedup.materialize(
      edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
        .distinct(), eager = true)
    val nodes = Dedup.materialize(
      e.select(col("src").as("node")).union(e.select(col("dst")))
        .distinct(), eager = true)
    def maxNorm(df: DataFrame, c: String): DataFrame = {
      val mx = df.agg(max(col(c)).as("_mx"))
      // DIV, not decimal `/`: decimal division HALF_UP-rounds to its
      // result scale before any cast, which can land one above the
      // true floor — DIV truncates exactly (positive ⇒ floor, the
      // nelsonAalen discipline) and the quotient ≤ scale fits BIGINT
      df.crossJoin(mx)
        .select(col("node"),
          expr(s"CAST((CAST($c AS DECIMAL(38,0)) * $scale) DIV _mx AS BIGINT)")
            .as(c))
    }
    var h = nodes.withColumn("h", lit(scale))
    var a = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to rounds) {
      val aRaw = e.join(h.select(col("node").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("h").as("a"))
      a = Dedup.materialize(maxNorm(aRaw, "a"), eager = true)
      val hRaw = e.join(a.select(col("node").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum("a").as("h"))
      h = Dedup.materialize(maxNorm(hRaw, "h"), eager = true)
    }
    nodes
      .join(h.select(col("node"), col("h").as("hub_q6")), Seq("node"), "left")
      .join(a.select(col("node"), col("a").as("auth_q6")), Seq("node"), "left")
      .na.fill(0L, Seq("hub_q6", "auth_q6"))
  }

  /** Iterated k-core peel: `rounds` synchronous rounds of deleting
    * nodes with degree < k from the canonical (a<b, deduped) edge set,
    * then the surviving nodes with their within-subgraph degree. With
    * enough rounds this converges to the k-core; fixing `rounds` keeps
    * the operator deterministic and lets the oracle unroll each peel as
    * a CTE (the q147 discipline for iterative graph algorithms).
    *
    * Scale shape per round: one degree aggregation + two semi-joins on
    * node ids, every shuffle keyed on node/edge ids; the edge set only
    * shrinks. Rounds go through Dedup.materialize so round r's plan
    * does not nest rounds 1..r−1.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    var und = Dedup.materialize(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct(), eager = true)
    for (_ <- 1 to rounds) {
      val keep = und.select(col("a").as("n"))
        .union(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("n")
      und = Dedup.materialize(
        und.join(keep.select(col("n").as("a")), Seq("a"), "semi")
          .join(keep.select(col("n").as("b")), Seq("b"), "semi"), eager = true)
    }
    und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Multi-source BFS hop distance, `maxHops` synchronous frontier
    * expansions over the directed edge set — the "how far is everything
    * from here" primitive (landmark-distance features, reachability
    * tiers). Exact BFS layers, fully deterministic, so the oracle
    * unrolls each frontier as a CTE pair (the q147 discipline).
    * `sources` is a (node) DataFrame; omit it to start from the
    * smallest node id in the edge set (computed on the already-
    * materialized edges — no second co-occurrence pass).
    *
    * Scale shape per round: one equi-join of the (typically shrinking)
    * frontier against the edge table + one anti-join against the
    * settled set, every shuffle keyed on node ids; rounds flatten
    * through Dedup.materialize so round r's plan never nests rounds
    * 1..r−1. Output: (node, hops) for every node within `maxHops`.
    */
  def bfsHops(edges: DataFrame, sources: DataFrame = null,
      maxHops: Int = 3): DataFrame = {
    val e = Dedup.materialize(edges.select(col("src"), col("dst")).distinct(),
      eager = true)
    val src0 = Option(sources).getOrElse(e.agg(min(col("src")).as("node")))
    var dist = Dedup.materialize(src0.select(col("node")).distinct()
      .withColumn("hops", lit(0L)), eager = true)
    var frontier = dist.select("node")
    for (h <- 1 to maxHops) {
      val next = Dedup.materialize(
        e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist.select("node"), Seq("node"), "anti"), eager = true)
      dist = Dedup.materialize(
        dist.union(next.withColumn("hops", lit(h.toLong))), eager = true)
      frontier = next
    }
    dist
  }

  /** Bounded-round weighted single-source shortest paths (Bellman–Ford
    * with a label-correcting frontier): after `rounds` rounds, (node,
    * dist) holds the EXACT shortest integer distance over paths of ≤
    * `rounds` edges from the source set — the bounded-frontier form a
    * billion-edge SSSP runs (Δ-stepping's outer loop), and the bound
    * makes the answer deterministic and oracle-replayable (q211).
    * Parallel edges collapse to their minimum weight; `sources` omitted
    * starts from the smallest src id. Weights must be ≥ 0 longs.
    *
    * Scale shape per round: one equi-join of the (shrinking) improved
    * frontier against the edge table + one per-node min — shuffles
    * keyed on node ids only; rounds flatten through Dedup.materialize.
    * Only nodes whose label improved last round join this round
    * (contributions from unchanged labels were already applied), and
    * the result after r rounds equals the synchronous Bellman–Ford
    * dist over ≤ r-edge paths — what the unrolled oracle computes.
    */
  def ssspInt(edges: DataFrame, sources: DataFrame = null,
      rounds: Int = 3): DataFrame = {
    val e = Dedup.materialize(edges
      .select(col("src"), col("dst"), col("weight").cast("long").as("w"))
      .groupBy("src", "dst").agg(min("w").as("w")), eager = true)
    val src0 = Option(sources).getOrElse(e.agg(min(col("src")).as("node")))
    var dist = Dedup.materialize(src0.select(col("node")).distinct()
      .withColumn("dist", lit(0L)), eager = true)
    // The frontier is an eager stage, so Catalyst broadcasts it while it
    // fits. Without the broadcast every round's relax re-shuffles and
    // re-sorts the FULL edge table by src (measured r18: the 3
    // edge-table shuffles were q211's dominant cost).
    var frontier = dist
    for (r <- 1 to rounds) {
      val relax = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("_nd"))
        .groupBy("node").agg(min("_nd").as("_nd"))
      // One node-keyed FULL OUTER join folds the old improved-filter +
      // union/min-regroup pair (two dist-sized shuffles and two
      // checkpoint jobs per round) into a single pass: both sides hold
      // distinct nodes (dist by invariant, relax by its groupBy), so
      // per node the merge is least(dist, _nd) and "improved" is
      // exactly "_nd exists and beats the old dist" — the same label-
      // correcting frontier, one shuffle cheaper per round.
      val merged = Dedup.materialize(dist
        .join(relax, Seq("node"), "full")
        .select(col("node"),
          when(col("dist").isNull || (col("_nd").isNotNull &&
            col("_nd") < col("dist")), col("_nd"))
            .otherwise(col("dist")).as("dist"),
          (col("dist").isNull || (col("_nd").isNotNull &&
            col("_nd") < col("dist"))).as("_imp")), eager = true)
      dist = merged.select("node", "dist")
      if (r < rounds) frontier = Dedup.materialize(
        merged.filter(col("_imp")).select("node", "dist"), eager = true)
    }
    dist.select("node", "dist")
  }

  /** Item-item co-occurrence similarity, top-k per item — the
    * "customers who bought X also bought Y" recommender shape. Counts
    * are group-set based: n_both(a,b) = groups containing BOTH, n(a) =
    * groups containing a; the ranking score is the integer-scaled
    * squared cosine floor(n_both²·scale / (n(a)·n(b))) — monotone in
    * the real cosine n_both/√(n(a)·n(b)) for positive counts, and
    * floor-exact on any engine (ties broken by neighbour id). The Long
    * product bounds n_both ≤ ~3e6 at scale=1e6 — beyond that, shrink
    * `scale`.
    *
    * Scale shape: one groupBy to per-group member sets (raw-row cap =
    * the coOccurrenceEdges skew guard), lazily checkpointed and shared
    * by the pair-count and item-count aggregations; item counts
    * broadcast onto the pair table; the final top-k is a window
    * partitioned by item — never a global sort.
    */
  def itemSimilarityTopK(df: DataFrame, groupCol: String, itemCol: String,
      k: Int = 3, maxGroup: Int = 1000,
      scale: Long = 1000000L): DataFrame = {
    val sets = Dedup.materialize(
      df.select(col(groupCol).as("_g"), col(itemCol).as("_i"))
        .groupBy("_g").agg(collect_list("_i").as("_raw"))
        .filter(size(col("_raw")) <= maxGroup)
        .select(array_distinct(col("_raw")).as("_is")))
    val pairs = sets.select(col("_is"), explode(col("_is")).as("src"))
      .select(col("src"), explode(col("_is")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n_both"))
    val items = sets.select(explode(col("_is")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("_na"))
    val scored = pairs
      .join(broadcast(items), Seq("src"))
      .join(broadcast(items.select(col("src").as("dst"),
        col("_na").as("_nb"))), Seq("dst"))
      .withColumn("score",
        expr(s"(n_both * n_both * ${scale}L) div (_na * _nb)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("score").desc, col("dst"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src").as("item"), col("dst").as("nbr"),
        col("n_both"), col("score"), col("rank"))
  }

  /** The (adjacency, nodes) pair both integer PageRanks iterate over.
    *
    * The graph materializes as a CHUNKED ADJACENCY table in ONE
    * shuffle: groupBy(src) + collect_set dedups repeat edges inside
    * the aggregation (map-side partials shrink them before the wire),
    * yields the exact out-degree as the set size, and stores each
    * node's neighbours as ≤ c-element array rows (a 10M-degree hub
    * becomes ~1.2k bounded rows, never one giant record). The lazy
    * adjacency stage is filled by the eager node table's one job, which
    * also counts the nodes. Under adaptive execution the checkpoint
    * does not declare the groupBy's src hash-partitioning, so a round
    * that does not broadcast its scores shuffles the adjacency again.
    *
    * Pure sinks (dst-only nodes of a digraph) still get base mass:
    * nodes = every src (one row per node via _chunk=0) ∪ every
    * neighbour, read off the adjacency, never the raw edges. With
    * `symmetric = true` (the caller GUARANTEES every dst is also a src,
    * as coOccurrenceEdges' output is) nodes are the chunk-0 rows.
    */
  private def chunkedGraph(edges: DataFrame, c: Int, symmetric: Boolean)
      : (DataFrame, DataFrame) = {
    val e = Dedup.materialize(edges.select("src", "dst")
      .groupBy("src").agg(collect_set("dst").as("_all"))
      .select(col("src"), size(col("_all")).as("deg"),
        posexplode(expr(
          s"transform(sequence(0, (size(_all)-1) div $c)," +
            s" i -> slice(_all, i*$c+1, $c))")).as(Seq("_chunk", "nbrs"))))
    val chunk0 = e.filter(col("_chunk") === 0).select(col("src").as("node"))
    (e, Dedup.materialize(
      if (symmetric) chunk0
      else chunk0.union(e.select(explode(col("nbrs")).as("node"))).distinct(),
      eager = true))
  }

  /** PageRank in integer fixed-point, `iters` synchronous rounds.
    * score₀ = scale/n; per round each node sends
    * floor(score·dampPct/(deg·100)) along each out-edge and every node
    * restarts from base = floor(scale·(100−dampPct)/(100·n)). With
    * symmetric (co-occurrence) edges there are no dangling nodes. For
    * general digraphs pick the sink-mass policy:
    * `redistributeDangling = false` (default) lets sink mass evaporate
    * — fine when only the RANKING matters at small iteration counts;
    * `= true` applies the standard correction: each round the total
    * score held by out-degree-0 nodes is damped and split evenly,
    * floor(sinkMass·dampPct/(100·n)) to every node (the ≤ n−1 unit
    * floor remainder evaporates — deterministic integer form). The
    * per-round cost is one node-sized semi-join aggregate (a single
    * long), nothing per-edge — scale posture unchanged.
    *
    * Output: (node, score) for every node. Edges + degrees materialize
    * once (lazy Dedup.materialize) and feed all rounds; each round is a
    * join on src (reusing the edge partitioning) + one groupBy dst.
    */
  def pageRankInt(edges: DataFrame, iters: Int = 3,
      scale: Long = 1000000000000L, dampPct: Int = 85,
      maxNbrsPerRow: Int = 8192, symmetric: Boolean = false,
      redistributeDangling: Boolean = false): DataFrame = {
    val (e, nodes) = chunkedGraph(edges, maxNbrsPerRow, symmetric)
    val n = Dedup.rowCount(nodes)
    require(n > 0, "empty graph")
    val base = (scale * (100 - dampPct)) / (100L * n)
    // Each round's scores materialize (nodes-sized — tiny by
    // construction), keeping round k's plan flat instead of nesting
    // rounds 1..k−1; the node-sized tables broadcast while n rows fit.
    // Dangling set (out-degree 0): nodes minus adjacency srcs — node-
    // sized, computed once, reused every round for the sink-mass agg.
    val sinks: Option[DataFrame] =
      if (!symmetric && redistributeDangling)
        Some(Dedup.materialize(nodes.join(
            e.filter(col("_chunk") === 0).select(col("src").as("node")),
            Seq("node"), "anti"), eager = true))
      else None
    var scores = nodes.withColumn("score", lit(scale / n))
    for (_ <- 1 to iters) {
      // One scalar per round: Σ score over sinks (damped, split below).
      // sinkMass ≤ scale = 1e12, ·dampPct stays far inside Long.
      val sinkShare: Long = sinks match {
        case Some(sk) =>
          val m = scores.join(sk, Seq("node"))
            .agg(coalesce(sum("score"), lit(0L))).head.getLong(0)
          (m * dampPct) / (100L * n)
        case None => 0L
      }
      // Per-chunk hop: the floor division happens once per adjacency
      // row, then fans out map-side under codegen via explode.
      val contrib = e
        .join(Gates.broadcastIfFits(
          scores.withColumnRenamed("node", "src"), n), Seq("src"))
        .select(expr(s"(score * $dampPct) div (deg * 100)").as("_c"),
          explode(col("nbrs")).as("node"))
        .groupBy("node").agg(sum("_c").as("_cs"))
      // Symmetric graphs: every node has an in-edge, so contrib already
      // covers the full node set — no re-join with nodes needed.
      val next =
        if (symmetric)
          contrib.select(col("node"),
            (lit(base) + col("_cs")).as("score"))
        else
          nodes.join(Gates.broadcastIfFits(contrib, n), Seq("node"), "left")
            .select(col("node"),
              (lit(base + sinkShare) +
                coalesce(col("_cs"), lit(0L))).as("score"))
      scores = Dedup.materialize(next)
    }
    scores
  }

  /** PERSONALIZED integer PageRank: identical hop arithmetic to
    * [[pageRankInt]], but all restart mass returns to the `seeds` set —
    * score₀ = scale/|seeds| on seeds (0 elsewhere) and per-round base =
    * floor(scale·(100−dampPct)/(100·|seeds|)) on seeds (0 elsewhere).
    * The result ranks the graph BY PROXIMITY TO THE SEEDS — the
    * "related items / similar domains" recommender query, vs the global
    * importance [[pageRankInt]] computes. Seeds outside the graph are
    * ignored (|seeds| counts in-graph seeds only). Sink mass
    * evaporates, as in the default pageRankInt policy — on the
    * symmetric co-occurrence graphs this serves there are no sinks.
    *
    * Scale shape: the pageRankInt loop with one extra node-sized seed
    * flag column folded into the score table — no extra shuffles; the
    * seed join happens once before the rounds.
    */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, scale: Long = 1000000000000L, dampPct: Int = 85,
      maxNbrsPerRow: Int = 8192, symmetric: Boolean = false): DataFrame = {
    val (e, nodes) = chunkedGraph(edges, maxNbrsPerRow, symmetric)
    val n = Dedup.rowCount(nodes)
    require(n > 0, "empty graph")
    // In-graph seeds, as a 0/1 flag on the node table (one join, once)
    val seedCol = seeds.columns.head
    val flagged = Dedup.materialize(nodes
      .join(seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("_s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("_s"), lit(0L)).as("_seed")),
      eager = true)
    val ns = flagged.filter(col("_seed") === 1L).count()
    require(ns > 0, "no seed is present in the graph")
    val baseSeed = (scale * (100 - dampPct)) / (100L * ns)
    var scores = flagged.select(col("node"),
      (col("_seed") * lit(scale / ns)).as("score"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(Gates.broadcastIfFits(
          scores.withColumnRenamed("node", "src"), n), Seq("src"))
        .select(expr(s"(score * $dampPct) div (deg * 100)").as("_c"),
          explode(col("nbrs")).as("node"))
        .groupBy("node").agg(sum("_c").as("_cs"))
      val next = flagged.join(Gates.broadcastIfFits(contrib, n), Seq("node"),
          "left")
        .select(col("node"),
          (col("_seed") * lit(baseSeed) +
            coalesce(col("_cs"), lit(0L))).as("score"))
      scores = Dedup.materialize(next)
    }
    scores
  }

  /** Link prediction on an undirected graph: for every NON-edge pair
    * with ≥1 common neighbor, the common-neighbor count and the
    * Adamic–Adar score Σ_z 1/ln(deg z) — the classic "who should be
    * connected next" ranking (recommendations, knowledge-graph
    * completion, entity-resolution candidates). Exact integers
    * throughout: every common neighbor z contributes
    * ⌊10¹⁸ / lnQ12(deg z)⌋ (the Q6 of 1/ln, via the shared codegen'd
    * [[graft.plans.GraftExtensions.lnQ12Native]] kernel; deg z ≥ 2 by
    * construction so ln > 0). Top-`topK` by (aa_q6 DESC, a, b) — a
    * deterministic total order the oracle replays.
    *
    * Hubs with degree > `maxDegree` are EXCLUDED as intermediates (the
    * q157 cap discipline: a million-degree hub contributes deg² pair
    * candidates and ~0 signal at 1/ln(deg)) but still appear as
    * endpoints via their other neighbors. The cap is the scale lever,
    * not a footnote: on a DENSE co-occurrence graph the 2-hop space
    * approaches all-pairs — measured on the sf0.1 co-purchase graph
    * (20k nodes, max deg 222): cap 1000 binds nothing and the
    * candidate build emits 101M pairs in ~90 s, while Σdeg² over
    * deg ≤ 64 nodes is 0.2 % of the total — so pick maxDegree by the
    * degree histogram, not generosity (q267 runs at 64).
    *
    * Scale shape: degree is one agg; pair generation is the q157
    * group-to-list map-side explode bounded by maxDegree²; the anti-
    * join on existing edges and the final agg shuffle on the pair key;
    * top-k is TakeOrderedAndProject, never a global sort.
    */
  def linkPredict(edges: DataFrame, topK: Int = 100,
      maxDegree: Int = 1000): DataFrame = {
    val canon = Dedup.materialize(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct(), eager = true)
    // canon's exact edge count bounds the weight table (nodes of
    // degree ≥ 2: at most m rows)
    val m = Dedup.rowCount(canon)
    val both = canon.select(col("a").as("z"), col("b").as("x"))
      .unionByName(canon.select(col("b").as("z"), col("a").as("x")))
    val deg = both.groupBy("z").agg(count(lit(1)).as("_d"))
    // deg 1 ⇒ ln = 0, and a single-neighbor node contributes no pair
    // anyway — filter BEFORE the division so it can never see a zero
    val wz = deg.filter(col("_d") <= maxDegree && col("_d") >= 2)
      .withColumn("_ln", graft.plans.GraftExtensions.lnQ12Native(col("_d")))
      .withColumn("_wq6", expr("1000000000000000000 DIV _ln"))
      .drop("_ln")
    val pairs = both.join(Gates.broadcastIfFits(wz, m), Seq("z"))
      .groupBy("z", "_wq6").agg(collect_list("x").as("_xs"))
      .select(col("_wq6"), explode(col("_xs")).as("pa"), col("_xs"))
      .select(col("_wq6"), col("pa"), explode(col("_xs")).as("pb"))
      .filter(col("pa") < col("pb"))
    pairs
      .groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("cn"), sum("_wq6").as("aa_q6"))
      .join(canon, Seq("a", "b"), "left_anti")
      .orderBy(col("aa_q6").desc, col("a"), col("b"))
      .limit(topK)
  }
}
