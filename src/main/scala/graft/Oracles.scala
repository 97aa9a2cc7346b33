package graft

/** DuckDB oracle SQL named by [[SparkEntry.registry]] entries; a def
  * shared by several entries is one relational truth checked against
  * several engine paths.
  *
  * Generated DuckDB oracle SQL for the similarity/dedup queries whose
  * kernels live in [[graft.functions.Hashing]] (FNV-1a + splitmix64 +
  * fixed-seed hyperplanes — all deterministic integer/IEEE math, chosen in
  * part so an independent engine can recompute them exactly).
  *
  * The SQL re-derives each kernel from first principles in DuckDB:
  *  - 64-bit wrapping arithmetic runs in HUGEINT mod 2^64 (a 64×64-bit
  *    product is split into 32-bit halves so no intermediate exceeds the
  *    signed-128 range);
  *  - Scala's signed-Long comparisons (MinHash minima) map through an
  *    explicit unsigned→signed conversion before MIN;
  *  - LSH banding joins on the raw signature slices rather than the
  *    engine's xxhash64 bucket key — bucket equality is slice equality, so
  *    the candidate sets agree (modulo 64-bit hash collisions, absent at
  *    oracle scale);
  *  - cosine similarity folds dot/norms sequentially in DOUBLE in array
  *    order, bit-identical to `Hashing.cosine` (float→double is exact, a
  *    float×float product is exactly representable in double, and both
  *    engines round each accumulate identically).
  *
  * splitmix64 over every (shingle × seed) pair dominated the runtime, so
  * signatures are computed once per *globally distinct* shingle hash and
  * joined back per document (the synthetic corpus has ~2k distinct
  * 5-shingles for 147k occurrences) — a pure oracle-side optimization
  * with identical results.
  *
  * q57 (IVF) is gated through the integer-exact variant
  * (`Similarity.ivfTopKInt8`): float-averaged centroids are not portable
  * across engines (engine-defined accumulation order; and FLOAT→DECIMAL
  * casts themselves diverge — DuckDB scales through float arithmetic), so
  * the oracle-facing IVF quantizes to int8 first (q81-proven rounding),
  * assigns cells by integer squared-L2 and updates centroids with
  * truncating integer division — every Lloyd round replayable bit-for-bit
  * ([[q57KnnIvf]] unrolls them as CTEs). The float-cosine `ivfTopK` keeps
  * its ScalaTest recall gate.
  */
object Oracles {

  private val Mask = (BigInt(1) << 64) - 1
  private val M64 = "18446744073709551616::HUGEINT"
  private val Gold = BigInt("9e3779b97f4a7c15", 16)
  private val FnvBasis = BigInt("cbf29ce484222325", 16)
  private val FnvPrime = BigInt("100000001b3", 16)
  private val Mix1 = BigInt("bf58476d1ce4e5b9", 16)
  private val Mix2 = BigInt("94d049bb133111eb", 16)
  private val PlaneC = BigInt("c2b2ae3d27d4eb4f", 16)

  /** (a * b) mod 2^64 for a HUGEINT expression and a constant, via 32-bit
    * halves of the constant (largest intermediate < 2^65 << HUGEINT max).
    */
  private def mulmod(a: String, b: BigInt): String = {
    val bl = b & 0xFFFFFFFFL
    val bh = b >> 32
    s"(($a)%4294967296::HUGEINT*$bl::HUGEINT" +
      s" + ((($a)%4294967296::HUGEINT*$bh::HUGEINT" +
      s" + (($a)//4294967296::HUGEINT)*$bl::HUGEINT)%4294967296::HUGEINT)" +
      s"*4294967296::HUGEINT) % $M64"
  }

  /** x ^ (x >>> s) on a nonnegative HUGEINT expression. */
  private def xshift(a: String, s: Int): String =
    s"xor(($a), ($a)//${BigInt(1) << s}::HUGEINT)"

  /** splitmix64 finalizer as SELECT-stage rewrites of column `col`. */
  private def splitmixStages(col: String): Seq[(String, String)] = Seq(
    "_s1" -> xshift(col, 30),
    "_s2" -> mulmod("_s1", Mix1),
    "_s3" -> xshift("_s2", 27),
    "_s4" -> mulmod("_s3", Mix2),
    "_sm" -> xshift("_s4", 31))

  /** Unsigned HUGEINT in [0, 2^64) → the BIGINT with the same 64-bit
    * pattern (Scala Long semantics for comparisons/minima).
    */
  private def signed(a: String): String =
    s"(CASE WHEN ($a) >= 9223372036854775808::HUGEINT" +
      s" THEN ($a) - $M64 ELSE ($a) END)::BIGINT"

  private def staged(base: String, stages: Seq[(String, String)]): String =
    stages.foldLeft(base) { case (sql, (nm, ex)) =>
      s"SELECT *, $ex AS $nm FROM ($sql)"
    }

  /** CTE chain computing (id, sig BIGINT[num]) — MinHash signatures per
    * `Hashing.minhashSignature` — from `docSrc` yielding (id, t).
    */
  private def minhashSigCtes(docSrc: String, num: Int, k: Int): String = {
    val seeds = (0 until num)
      .map(m => s"($m, ${(Gold * (m + 1)) & Mask}::HUGEINT)").mkString(", ")
    val chars = (0 until k)
      .map(j => s"ascii(substr(t, i+$j, 1))::HUGEINT AS c$j").mkString(", ")
    val fnv = staged(
      s"SELECT id, ${(0 until k).map(j => s"c$j").mkString(", ")} FROM shc",
      (0 until k).map { j =>
        val prev = if (j == 0) s"$FnvBasis::HUGEINT" else s"h${j - 1}"
        s"h$j" -> mulmod(s"xor($prev, c$j)", FnvPrime)
      })
    val smx = staged(
      s"SELECT h, m, (h + km) % $M64 AS z FROM hdist CROSS JOIN seeds",
      splitmixStages("z"))
    s"""  low AS (SELECT id, lower(t) AS t FROM ($docSrc)),
       |  shi AS (SELECT id, unnest(range(1, greatest(2, length(t) - ${k - 2}))) AS i, t FROM low),
       |  shc AS (SELECT id, $chars FROM shi),
       |  shh AS (SELECT DISTINCT id, h${k - 1} AS h FROM ($fnv)),
       |  hdist AS (SELECT DISTINCT h FROM shh),
       |  seeds(m, km) AS (VALUES $seeds),
       |  hsm AS (SELECT h, m, ${signed("_sm")} AS v FROM ($smx)),
       |  sigm AS (SELECT id, m, min(v) AS s FROM shh JOIN hsm USING (h) GROUP BY id, m),
       |  sig AS (SELECT id, list(s ORDER BY m) AS sig FROM sigm GROUP BY id)""".stripMargin
  }

  /** CTE chain: exact-collapse reps → signatures → band joins → `cand`
    * (id_a, id_b, est_jaccard ≥ threshold) — `Dedup.minhashCandidates`.
    * The engine's maxBucket skew cap (5000) cannot trigger at oracle
    * scale (≤ the table's row count) and is omitted.
    */
  private def minhashCandCtes(threshold: Double, num: Int, rpb: Int,
      k: Int, docsRel: String = "documents"): String = {
    val bands = num / rpb
    val slots = (0 until rpb)
      .map(j => s"sig[band*$rpb + ${j + 1}] AS s$j").mkString(", ")
    val joinKeys = ("a.band = b.band" +:
      (0 until rpb).map(j => s"a.s$j = b.s$j")).mkString(" AND ")
    val matches = s"list_sum(list_transform(range(1, ${num + 1})," +
      s" i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END))"
    s"""  reps AS (SELECT min(doc_id) AS id, min(text) AS t FROM $docsRel GROUP BY md5(text)),
       |${minhashSigCtes("SELECT id, t FROM reps", num, k)},
       |  bnd AS (SELECT id, unnest(range(0, $bands)) AS band, sig FROM sig),
       |  bands AS (SELECT id, band, $slots FROM bnd),
       |  cand0 AS (SELECT a.id AS id_a, b.id AS id_b FROM bands a JOIN bands b
       |            ON $joinKeys AND a.id < b.id GROUP BY 1, 2),
       |  cand AS (SELECT id_a, id_b, $matches::DOUBLE / $num AS est_jaccard
       |           FROM cand0
       |           JOIN (SELECT id, sig AS sa FROM sig) x ON cand0.id_a = x.id
       |           JOIN (SELECT id, sig AS sb FROM sig) y ON cand0.id_b = y.id
       |           WHERE $matches::DOUBLE / $num >= $threshold)""".stripMargin
  }

  /** q92: `Dedup.minhashCandidatesAgainst` — the same signature + raw
    * band-slice join as q34, but across the corpus split (index =
    * doc_id < 400, incoming = ≥ 400) with no exact-collapse (the index
    * builder indexes documents as given). The split predicate replaces
    * the self-join's `a.id < b.id`.
    */
  def q92DedupIncremental: String = {
    val num = 32; val rpb = 4; val k = 5; val threshold = 0.3
    val bands = num / rpb
    val slots = (0 until rpb)
      .map(j => s"sig[band*$rpb + ${j + 1}] AS s$j").mkString(", ")
    val joinKeys = ("a.band = b.band" +:
      (0 until rpb).map(j => s"a.s$j = b.s$j")).mkString(" AND ")
    val matches = s"list_sum(list_transform(range(1, ${num + 1})," +
      s" i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END))"
    s"""WITH
       |${minhashSigCtes("SELECT doc_id AS id, text AS t FROM documents", num, k)},
       |  bnd AS (SELECT id, unnest(range(0, $bands)) AS band, sig FROM sig),
       |  bands AS (SELECT id, band, $slots FROM bnd),
       |  cand0 AS (SELECT a.id AS index_id, b.id AS incoming_id
       |            FROM bands a JOIN bands b
       |            ON $joinKeys AND a.id < 400 AND b.id >= 400 GROUP BY 1, 2),
       |  cand AS (SELECT index_id, incoming_id,
       |             $matches::DOUBLE / $num AS est_jaccard
       |           FROM cand0
       |           JOIN (SELECT id, sig AS sa FROM sig) x ON cand0.index_id = x.id
       |           JOIN (SELECT id, sig AS sb FROM sig) y ON cand0.incoming_id = y.id
       |           WHERE $matches::DOUBLE / $num >= $threshold)
       |SELECT index_id, incoming_id, est_jaccard FROM cand
       |ORDER BY index_id, incoming_id""".stripMargin
  }

  /** q208: `Dedup.fuzzyDecontaminate` — the q92 cross-split band join
    * with benchmark = doc_id % 13 = 0, aggregated per training doc:
    * (n_bench_matches, max_est_jaccard ≥ 0.3, contaminated). est =
    * agreement/32 is an exact dyadic rational; the count/max/flag are
    * integers and booleans — nothing engine-dependent survives to the
    * output.
    */
  def q208FuzzyDecontaminate: String = {
    val num = 32; val rpb = 4; val k = 5; val threshold = 0.3
    val bands = num / rpb
    val slots = (0 until rpb)
      .map(j => s"sig[band*$rpb + ${j + 1}] AS s$j").mkString(", ")
    val joinKeys = ("a.band = b.band" +:
      (0 until rpb).map(j => s"a.s$j = b.s$j")).mkString(" AND ")
    val matches = s"list_sum(list_transform(range(1, ${num + 1})," +
      s" i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END))"
    s"""WITH
       |${minhashSigCtes("SELECT doc_id AS id, text AS t FROM documents", num, k)},
       |  bnd AS (SELECT id, unnest(range(0, $bands)) AS band, sig FROM sig),
       |  bands AS (SELECT id, band, $slots FROM bnd),
       |  cand0 AS (SELECT a.id AS bench_id, b.id AS train_id
       |            FROM bands a JOIN bands b
       |            ON $joinKeys AND a.id % 13 = 0 AND b.id % 13 != 0
       |            GROUP BY 1, 2),
       |  cand AS (SELECT bench_id, train_id,
       |             $matches::DOUBLE / $num AS est_jaccard
       |           FROM cand0
       |           JOIN (SELECT id, sig AS sa FROM sig) x ON cand0.bench_id = x.id
       |           JOIN (SELECT id, sig AS sb FROM sig) y ON cand0.train_id = y.id
       |           WHERE $matches::DOUBLE / $num >= $threshold),
       |  agg AS (SELECT train_id, COUNT(*) AS n, MAX(est_jaccard) AS mx
       |          FROM cand GROUP BY train_id)
       |SELECT d.doc_id, COALESCE(a.n, 0)::BIGINT AS n_bench_matches,
       |  COALESCE(a.mx, 0.0)::DOUBLE AS max_est_jaccard,
       |  (COALESCE(a.n, 0) > 0) AS contaminated
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.train_id
       |WHERE d.doc_id % 13 != 0 ORDER BY d.doc_id""".stripMargin
  }

  /** q93: `Dedup.duplicateSpans` — stride-1 5-word window digests,
    * corpus-frequency > 1, overlapping/adjacent windows merged per doc
    * via the running-max gaps-and-islands (both engines: ROWS frame over
    * unique starts, so the islands are identical).
    */
  def q93DuplicateSpans: String = {
    val w = 5
    s"""WITH
       |  base AS (SELECT doc_id,
       |      list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |        x -> length(x) > 0) AS ws
       |    FROM documents),
       |  wins AS (SELECT doc_id, s.i AS start,
       |      md5(array_to_string(ws[s.i+1 : s.i+$w], ' ')) AS digest
       |    FROM (SELECT doc_id, ws, unnest(list_transform(range(0, len(ws) - ${w - 1}),
       |        i -> {'i': i})) AS s
       |      FROM base WHERE len(ws) >= $w)),
       |  dupd AS (SELECT digest FROM wins GROUP BY digest HAVING count(*) > 1),
       |  dw AS (SELECT wi.doc_id, wi.start, wi.start + ${w - 1} AS fin
       |    FROM wins wi JOIN dupd USING (digest)),
       |  m AS (SELECT doc_id, start, fin,
       |      max(fin) OVER (PARTITION BY doc_id ORDER BY start
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |    FROM dw),
       |  g AS (SELECT doc_id, start, fin,
       |      sum(CASE WHEN pmax IS NULL OR start > pmax + 1 THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY doc_id ORDER BY start
       |          ROWS UNBOUNDED PRECEDING) AS grp
       |    FROM m)
       |SELECT doc_id, min(start)::BIGINT AS span_start,
       |  max(fin)::BIGINT AS span_end, count(*)::BIGINT AS n_windows
       |FROM g GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
  }

  /** q34: MinHash LSH near-dup candidates (32 hashes, bands of 4, k=5,
    * est-Jaccard ≥ 0.3).
    */
  /** q103: `Dedup.removeDuplicateSpans(window=5)` — q93's window scan,
    * but non-first occurrences (row_number per digest by (doc, start) >
    * 1) merge into spans and are cut from the word sequence; docs
    * rebuild from the survivors.
    */
  def q103RemoveSpans: String = {
    val w = 5
    s"""WITH
       |  base AS (SELECT doc_id,
       |      list_filter(string_split_regex(lower(COALESCE(text, '')), '[^a-z0-9'']+'),
       |        x -> length(x) > 0) AS ws
       |    FROM documents),
       |  wins AS (SELECT doc_id, s.i AS start,
       |      md5(array_to_string(ws[s.i+1 : s.i+$w], ' ')) AS digest
       |    FROM (SELECT doc_id, ws, unnest(list_transform(range(0, len(ws) - ${w - 1}),
       |        i -> {'i': i})) AS s
       |      FROM base WHERE len(ws) >= $w)),
       |  rk AS (SELECT doc_id, start,
       |      row_number() OVER (PARTITION BY digest ORDER BY doc_id, start) AS rk
       |    FROM wins),
       |  dw AS (SELECT doc_id, start, start + ${w - 1} AS fin FROM rk WHERE rk > 1),
       |  m AS (SELECT doc_id, start, fin,
       |      max(fin) OVER (PARTITION BY doc_id ORDER BY start
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |    FROM dw),
       |  g AS (SELECT doc_id, start, fin,
       |      sum(CASE WHEN pmax IS NULL OR start > pmax + 1 THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY doc_id ORDER BY start
       |          ROWS UNBOUNDED PRECEDING) AS grp
       |    FROM m),
       |  spans AS (SELECT doc_id, min(start) AS s, max(fin) AS e
       |    FROM g GROUP BY doc_id, grp),
       |  covered AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM spans),
       |  idx AS (SELECT doc_id, ws, unnest(range(0, len(ws))) AS pos FROM base),
       |  keptw AS (SELECT i.doc_id, i.pos, i.ws[i.pos + 1] AS word
       |    FROM idx i LEFT JOIN covered c
       |    ON c.doc_id = i.doc_id AND c.pos = i.pos
       |    WHERE c.doc_id IS NULL),
       |  agg AS (SELECT doc_id,
       |      string_agg(word, ' ' ORDER BY pos) AS clean_text,
       |      count(*)::BIGINT AS n_kept
       |    FROM keptw GROUP BY doc_id)
       |SELECT b.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       |  len(b.ws)::BIGINT AS n_words_in,
       |  COALESCE(a.n_kept, 0)::BIGINT AS n_words_kept
       |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""".stripMargin
  }

  def q34MinhashNearDup: String =
    s"""WITH
       |${minhashCandCtes(0.3, num = 32, rpb = 4, k = 5)}
       |SELECT id_a, id_b, est_jaccard FROM cand ORDER BY id_a, id_b""".stripMargin

  /** q86: `StreamingDedup.nearDupCandidates` run in batch mode over the
    * exact-dedup representatives, distinct pairs — the stateful
    * per-bucket comparison yields exactly the within-bucket candidate set
    * of the batch LSH, so the oracle is the same band-join replay as q34.
    * est_jaccard = agreement/32 is an exact dyadic division, identical on
    * any engine.
    */
  def q86StreamNearDup: String =
    s"""WITH
       |${minhashCandCtes(0.3, num = 32, rpb = 4, k = 5)}
       |SELECT id_a, id_b, est_jaccard FROM cand ORDER BY id_a, id_b""".stripMargin

  /** q36: exact 5-shingle Jaccard ≥ 0.4 over the q34 candidate pairs. */
  def q36JaccardVerify: String =
    s"""WITH
       |${minhashCandCtes(0.3, num = 32, rpb = 4, k = 5)},
       |  shset AS (SELECT DISTINCT id, substr(t, i, 5) AS sh FROM
       |              (SELECT id, lower(t) AS t,
       |                 unnest(range(1, greatest(2, length(t) - 3))) AS i
       |               FROM reps)),
       |  cnt AS (SELECT id, count(*) AS n FROM shset GROUP BY id),
       |  inter AS (SELECT c.id_a, c.id_b, count(y.sh) AS i
       |            FROM cand c
       |            JOIN shset x ON x.id = c.id_a
       |            LEFT JOIN shset y ON y.id = c.id_b AND y.sh = x.sh
       |            GROUP BY 1, 2)
       |SELECT i.id_a, i.id_b, i.i::DOUBLE / (ca.n + cb.n - i.i) AS jaccard
       |FROM inter i JOIN cnt ca ON ca.id = i.id_a JOIN cnt cb ON cb.id = i.id_b
       |WHERE i.i::DOUBLE / (ca.n + cb.n - i.i) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  /** q56: `Dedup.nearDupKeep` — exact-keep reps, candidates at est ≥ 0.5,
    * connected components (recursive-CTE transitive closure; the engine's
    * pointer-doubled min-label propagation computes the same fixpoint),
    * drop every non-minimum member of each component.
    */
  def q56NearDupKeep: String =
    s"""WITH RECURSIVE
       |${minhashCandCtes(0.5, num = 32, rpb = 4, k = 5)},
       |  edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM cand
       |            UNION SELECT id_b, id_a FROM cand),
       |  reach(s, d) AS (SELECT s, d FROM edges
       |                  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |  minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
       |  losers AS (SELECT id FROM minr WHERE cid < id)
       |SELECT d.doc_id, d.lang FROM documents d
       |JOIN reps ON d.doc_id = reps.id
       |WHERE d.doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY d.doc_id""".stripMargin

  /** q295: end-to-end dedup removal rate by domain — q56's keep
    * verdicts (exact collapse + near-dup component min-keep) counted
    * against each source's doc total, widened Q6 rate.
    */
  def q295DedupRateByDomain: String =
    s"""WITH RECURSIVE
       |${minhashCandCtes(0.5, num = 32, rpb = 4, k = 5)},
       |  edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM cand
       |            UNION SELECT id_b, id_a FROM cand),
       |  reach(s, d) AS (SELECT s, d FROM edges
       |                  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |  minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
       |  losers AS (SELECT id FROM minr WHERE cid < id),
       |  kept AS (SELECT d.doc_id, d.source FROM documents d
       |    JOIN reps ON d.doc_id = reps.id
       |    WHERE d.doc_id NOT IN (SELECT id FROM losers)),
       |  tot AS (SELECT source, COUNT(*) AS n_docs FROM documents
       |    GROUP BY 1),
       |  kc AS (SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY 1)
       |SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
       |  CAST(COALESCE(kc.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(t.n_docs - COALESCE(kc.n_kept, 0) AS BIGINT) AS n_removed,
       |  CAST((CAST(t.n_docs - COALESCE(kc.n_kept, 0) AS HUGEINT)
       |    * 1000000) // t.n_docs AS BIGINT) AS removed_rate_q6
       |FROM tot t LEFT JOIN kc ON kc.source = t.source
       |ORDER BY t.source""".stripMargin

  /** q127: `Dedup.clusterReport` — q56's candidate graph, but emitting
    * cluster MEMBERSHIP (component id = min reachable id, size,
    * canonical flag) instead of keep/drop verdicts. Same recursive-CTE
    * transitive closure as q56.
    */
  def q127DedupClusters: String =
    s"""WITH RECURSIVE
       |${minhashCandCtes(0.5, num = 32, rpb = 4, k = 5)},
       |  edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM cand
       |            UNION SELECT id_b, id_a FROM cand),
       |  reach(s, d) AS (SELECT s, d FROM edges
       |                  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |  minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
       |  sz AS (SELECT cid, count(*)::BIGINT AS cluster_size FROM minr GROUP BY cid)
       |SELECT m.id AS doc_id, m.cid AS cluster_id, sz.cluster_size,
       |  (m.id = m.cid) AS is_canonical
       |FROM minr m JOIN sz ON sz.cid = m.cid
       |ORDER BY doc_id""".stripMargin

  /** q320: `Dedup.dupClusterDomains` — q127's candidate graph +
    * closure over the mirror-augmented corpus (doc_id<50 re-published
    * under a 'mirror' domain with an appended suffix, so the copies
    * are NEAR-dups that survive the exact collapse — the q307
    * augmentation pattern, near-dup edition), each cluster's distinct
    * member domains, then the spread histogram with a Q6 cluster
    * share.
    */
  def q320DupClusterDomains: String =
    s"""WITH RECURSIVE
       |  aug AS (SELECT doc_id, source, text FROM documents
       |          UNION ALL
       |          SELECT doc_id + 1000000, 'mirror', text || ' via mirror feed'
       |          FROM documents WHERE doc_id < 50),
       |${minhashCandCtes(0.5, num = 32, rpb = 4, k = 5, docsRel = "aug")},
       |  edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM cand
       |            UNION SELECT id_b, id_a FROM cand),
       |  reach(s, d) AS (SELECT s, d FROM edges
       |                  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |  minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
       |  dom AS (SELECT m.cid, count(DISTINCT a.source) AS n_domains,
       |      count(*)::BIGINT AS n_docs
       |    FROM minr m JOIN aug a ON a.doc_id = m.id GROUP BY 1),
       |  hist AS (SELECT n_domains, count(*)::BIGINT AS n_clusters,
       |      sum(n_docs)::BIGINT AS n_docs FROM dom GROUP BY 1),
       |  tot AS (SELECT sum(n_clusters) AS tc FROM hist)
       |SELECT n_domains::BIGINT AS n_domains, n_clusters, n_docs,
       |  CASE WHEN tc > 0 THEN
       |    ((n_clusters::HUGEINT * 1000000) // tc)::BIGINT END
       |    AS cluster_share_q6
       |FROM hist, tot ORDER BY n_domains""".stripMargin

  /** q35: 64-bit SimHash (token FNV → splitmix, per-bit majority vote),
    * 4×16-bit band buckets, Hamming ≤ 16 — `Hashing.simhash` +
    * `Dedup.simhashCandidates`. Tokens: Java-`\s` split (pinned as the
    * explicit class `[ \t\n\x0b\f\r]+` — RE2's `\s` lacks \x0B, the
    * r15 ADVICE divergence) on lowered text, empties
    * dropped (the kernel's isWhitespace scan, identical on this ASCII
    * corpus).
    */
  def q35SimhashNearDup: String = {
    val step = mulmod("xor(h, c)", FnvPrime)
    val smx = staged("SELECT doc_id, z FROM th0", splitmixStages("z"))
    val bitpow = (0 until 64)
      .map(b => s"($b, ${BigInt(1) << b}::HUGEINT)").mkString(", ")
    val bandpow = (0 until 4)
      .map(b => s"($b, ${BigInt(1) << (16 * b)}::HUGEINT)").mkString(", ")
    s"""WITH
       |  toks AS (SELECT doc_id,
       |             unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), t -> t != '')) AS tok
       |           FROM documents),
       |  th0 AS (SELECT doc_id, list_reduce(
       |            list_concat([$FnvBasis::HUGEINT],
       |              list_transform(split(tok, ''), ch -> ascii(ch)::HUGEINT)),
       |            (h, c) -> $step) AS z FROM toks),
       |  smx AS ($smx),
       |  bp(b, p) AS (VALUES $bitpow),
       |  bits AS (SELECT doc_id, b, p,
       |             sum(CASE WHEN (_sm // p) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
       |           FROM smx CROSS JOIN bp GROUP BY doc_id, b, p),
       |  sig AS (SELECT doc_id, sum(CASE WHEN cnt > 0 THEN p ELSE 0::HUGEINT END)::HUGEINT AS sig
       |          FROM bits GROUP BY doc_id),
       |  gp(band, bpw) AS (VALUES $bandpow),
       |  banded AS (SELECT doc_id, band, (sig // bpw) % 65536 AS bucket, sig
       |             FROM sig CROSS JOIN gp),
       |  cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |                  ${signed("a.sig")} AS sa, ${signed("b.sig")} AS sb
       |           FROM banded a JOIN banded b
       |             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 16
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Sequential-fold sum of a DOUBLE list expression, seeded with +0.0 —
    * the accumulation order of `Hashing.cosine`.
    */
  private def foldSum(lst: String): String =
    s"list_reduce(list_concat([0.0::DOUBLE], $lst), (a, b) -> a + b)"

  /** Bit-exact `Hashing.cosine` over two FLOAT[] columns. */
  private def cosExpr(a: String, b: String): String = {
    val dot = foldSum(s"list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)")
    val na = foldSum(s"list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)")
    val nb = foldSum(s"list_transform(range(1, len($b)+1), i -> $b[i]::DOUBLE * $b[i]::DOUBLE)")
    s"(CASE WHEN $na = 0.0 OR $nb = 0.0 THEN 0.0 ELSE $dot / sqrt($na * $nb) END)"
  }

  /** q37: exact cosine top-5 per query (vec_id < 20), self excluded,
    * ties by neighbor_id — `Similarity.bruteForceTopK`.
    */
  def q37KnnBrute: String =
    s"""WITH
       |  q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |  scored AS (SELECT query_id, c.vec_id AS neighbor_id,
       |               ${cosExpr("qe", "c.embedding")} AS cosine
       |             FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.query_id),
       |  ranked AS (SELECT query_id, neighbor_id,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY cosine DESC, neighbor_id)::INT AS rank
       |             FROM scored)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** CTE chain computing (id, tbl, bucket) hyperplane LSH keys for every
    * vector — `Hashing.hyperplaneBucket` with seeds 42..42+tables-1.
    * Plane components depend only on (seed, plane, dim), so they are
    * computed once into per-(table, plane) ordered lists and each
    * projection is a sequential DOUBLE fold in dim order — bit-identical
    * to the kernel (its skip-of-zero-components cannot change an IEEE
    * accumulation: adding ±0.0 to a finite value is the identity here).
    */
  private def hyperplaneCtes(tables: Int, nPlanes: Int, src: String,
      idc: String, vecc: String, out: String): String = {
    val seeds = (0 until tables)
      .map(t => s"($t, ${(Gold * (42 + t)) & Mask}::HUGEINT)").mkString(", ")
    val mrows = (0 until nPlanes)
      .map(m => s"($m, ${(PlaneC * m) & Mask}::HUGEINT, ${1L << m})")
      .mkString(", ")
    val smx = staged(
      s"SELECT tbl, m, pw, j, (st + mc + j) % $M64 AS z FROM ${out}_tm" +
        s" CROSS JOIN (SELECT unnest(range(0, (SELECT max(len($vecc)) FROM ($src)))) AS j)",
      splitmixStages("z"))
    s"""  ${out}_tm AS (SELECT t.tbl, t.st, m.m, m.mc, m.pw FROM
       |       (SELECT * FROM (VALUES $seeds) s(tbl, st)) t
       |       CROSS JOIN (SELECT * FROM (VALUES $mrows) mm(m, mc, pw)) m),
       |  ${out}_cmp AS (SELECT tbl, m, pw, j,
       |       ((_sm // 2048)::DOUBLE / 4503599627370496.0) - 1.0 AS comp
       |     FROM ($smx)),
       |  ${out}_cl AS (SELECT tbl, m, pw, list(comp ORDER BY j) AS comps
       |               FROM ${out}_cmp GROUP BY tbl, m, pw),
       |  ${out}_proj AS (SELECT v.$idc AS id, c.tbl, c.pw,
       |       list_reduce(list_concat([0.0::DOUBLE],
       |         list_transform(range(1, len(v.$vecc)+1), j -> v.$vecc[j]::DOUBLE * c.comps[j])),
       |         (a, b) -> a + b) AS p
       |     FROM ($src) v CROSS JOIN ${out}_cl c),
       |  $out AS (SELECT id, tbl, sum(CASE WHEN p >= 0 THEN pw ELSE 0 END)::BIGINT AS bucket
       |            FROM ${out}_proj GROUP BY id, tbl)""".stripMargin
  }

  /** q39: `Similarity.embeddingNearDup` — pairs sharing a hyperplane
    * bucket in ≥1 of 8 tables (8 planes), exact cosine ≥ 0.35.
    */
  def q39EmbeddingNearDup: String =
    s"""WITH
       |${hyperplaneCtes(tables = 8, nPlanes = 8,
          "SELECT vec_id, embedding FROM embeddings", "vec_id", "embedding", "bk")},
       |  cand AS (SELECT a.id AS id_a, b.id AS id_b FROM bk a JOIN bk b
       |           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
       |           GROUP BY 1, 2),
       |  verified AS (SELECT id_a, id_b,
       |      ${cosExpr("x.embedding", "y.embedding")} AS cosine
       |    FROM cand JOIN embeddings x ON x.vec_id = cand.id_a
       |              JOIN embeddings y ON y.vec_id = cand.id_b)
       |SELECT id_a, id_b FROM verified WHERE cosine >= 0.35
       |ORDER BY id_a, id_b""".stripMargin

  /** q38: `Similarity.lshTopK` — LSH candidates (10 planes × 8 tables,
    * queries vec_id < 20, self excluded), exact-cosine top-5 re-rank.
    */
  def q38KnnLsh: String =
    s"""WITH
       |${hyperplaneCtes(tables = 8, nPlanes = 10,
          "SELECT vec_id, embedding FROM embeddings", "vec_id", "embedding", "bk")},
       |  cand AS (SELECT q.id AS query_id, c.id AS neighbor_id FROM bk q JOIN bk c
       |           ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.id < 20
       |              AND q.id <> c.id
       |           GROUP BY 1, 2),
       |  scored AS (SELECT query_id, neighbor_id,
       |      ${cosExpr("x.embedding", "y.embedding")} AS cosine
       |    FROM cand JOIN embeddings x ON x.vec_id = cand.query_id
       |              JOIN embeddings y ON y.vec_id = cand.neighbor_id),
       |  ranked AS (SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)::INT AS rank
       |    FROM scored)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** q49: `Multimodal.fakeDecodeRgb` + `channelMeans` — the deterministic
    * stub image decode is a 31-multiplier byte hash seeding a 64-bit LCG;
    * the oracle replays the byte fold with list_reduce, walks the 192 LCG
    * states with a recursive CTE, and reproduces the `v/65535f` pixel in
    * FLOAT arithmetic (verified equal to float32 for all 65536 inputs).
    * Channel means fold FLOAT→DOUBLE in pixel order like the engine's
    * `aggregate` HOF; round-to-6 + string formatting agree on this data.
    */
  def q49ImageFeatures: String = {
    val nPx = 8 * 8 * 3
    val byteStep = s"(${mulmod("h", BigInt(31))} + c) % $M64"
    def lcg(h: String) =
      s"(${mulmod(h, BigInt("6364136223846793005"))} + 1442695040888963407::HUGEINT) % $M64"
    s"""WITH RECURSIVE
       |  seed AS (SELECT doc_id, list_reduce(
       |             list_concat([1125899906842597::HUGEINT],
       |               list_transform(split(text, ''), ch -> ascii(ch)::HUGEINT)),
       |             (h, c) -> $byteStep) AS h
       |           FROM documents),
       |  states(doc_id, i, h) AS (
       |    SELECT doc_id, 0, ${lcg("h")} FROM seed
       |    UNION
       |    SELECT doc_id, i + 1, ${lcg("states.h")} FROM states WHERE i < ${nPx - 1}),
       |  px AS (SELECT doc_id, i, i % 3 AS c,
       |           (((h // 1099511627776::HUGEINT) % 65536)::FLOAT / 65535::FLOAT) AS v
       |         FROM states),
       |  chan AS (SELECT doc_id, c,
       |             list_reduce(list_concat([0.0::DOUBLE], list(v::DOUBLE ORDER BY i)),
       |               (a, b) -> a + b) / ${nPx / 3}.0 AS mean
       |           FROM px GROUP BY doc_id, c)
       |SELECT doc_id,
       |  string_agg(round(mean, 6)::VARCHAR, ',' ORDER BY c) AS rgb_means,
       |  $nPx::BIGINT AS n_px
       |FROM chan GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q219: `Multimodal.perceptualDedup` — the q49 fake-decode replay at
    * 9×8 (byte fold → 216 LCG states → float pixels), gray = left-assoc
    * FLOAT sum of each cell's 3 channels, 64 gradient-sign bits, and
    * the two exact BIGINT halves (bits 32..63 / 0..31 — no 2⁶³ term on
    * either engine), grouped.
    */
  def q219PerceptualDedup: String = {
    val nPx = 9 * 8 * 3
    val byteStep = s"(${mulmod("h", BigInt(31))} + c) % $M64"
    def lcg(h: String) =
      s"(${mulmod(h, BigInt("6364136223846793005"))} + 1442695040888963407::HUGEINT) % $M64"
    s"""WITH RECURSIVE
       |  corpus AS (SELECT doc_id, text FROM documents
       |             UNION ALL
       |             SELECT doc_id + 100000, text FROM documents
       |             WHERE doc_id % 10 = 0),
       |  seed AS (SELECT doc_id, list_reduce(
       |             list_concat([1125899906842597::HUGEINT],
       |               list_transform(split(text, ''), ch -> ascii(ch)::HUGEINT)),
       |             (h, c) -> $byteStep) AS h
       |           FROM corpus),
       |  states(doc_id, i, h) AS (
       |    SELECT doc_id, 0, ${lcg("h")} FROM seed
       |    UNION
       |    SELECT doc_id, i + 1, ${lcg("states.h")} FROM states WHERE i < ${nPx - 1}),
       |  px AS (SELECT doc_id, i,
       |           (((h // 1099511627776::HUGEINT) % 65536)::FLOAT / 65535::FLOAT) AS v
       |         FROM states),
       |  g AS (SELECT doc_id, i // 3 AS p, list(v ORDER BY i) AS vs
       |        FROM px GROUP BY doc_id, i // 3),
       |  g2 AS (SELECT doc_id, p, (vs[1] + vs[2]) + vs[3] AS gray FROM g),
       |  grid AS (SELECT y, x, y*8 + x AS b
       |           FROM (SELECT unnest(range(0, 8)) AS y) CROSS JOIN
       |                (SELECT unnest(range(0, 8)) AS x)),
       |  bits AS (SELECT gc.doc_id, grid.b,
       |             CASE WHEN gn.gray > gc.gray THEN 1 ELSE 0 END AS bit
       |           FROM grid
       |           JOIN g2 gc ON gc.p = grid.y*9 + grid.x
       |           JOIN g2 gn ON gn.doc_id = gc.doc_id
       |             AND gn.p = grid.y*9 + grid.x + 1),
       |  hh AS (SELECT doc_id,
       |           SUM(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32))
       |               ELSE 0 END) AS hash_hi,
       |           SUM(CASE WHEN b < 32 THEN bit * (1::BIGINT << b)
       |               ELSE 0 END) AS hash_lo
       |         FROM bits GROUP BY doc_id)
       |SELECT hash_hi::BIGINT AS hash_hi, hash_lo::BIGINT AS hash_lo,
       |  COUNT(*)::BIGINT AS n_images, MIN(doc_id)::BIGINT AS keep_id
       |FROM hh GROUP BY 1, 2 ORDER BY keep_id""".stripMargin
  }

  /** q66: `TextAnalysis.qualityScore`/`qualityFeatures` — pure
    * length/regex/ratio arithmetic. RE2's `[[:punct:]]` equals Java's
    * `\\p{Punct}` on ASCII (verified over the full 32..126 range);
    * DuckDB regexp_replace needs the 'g' flag to match Spark's
    * replace-all. Every ratio is an int/int IEEE division — exact in
    * both engines.
    */
  def q66QualityScore: String = {
    val stop = Seq("the", "a", "an", "and", "or", "but", "if", "then",
      "is", "are", "was", "were", "be", "been", "of", "to", "in", "on",
      "at", "for", "with", "by", "from", "as", "that", "this", "it",
      "not", "he", "she", "they", "we", "you", "i", "his", "her",
      "their", "have", "has", "had", "do", "does", "did", "will",
      "would", "can", "could").map(w => s"'$w'").mkString(", ")
    s"""WITH
       |  base AS (SELECT doc_id, text, length(text) AS n_chars,
       |             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |               w -> length(w) > 0) AS ws
       |           FROM documents),
       |  feat AS (SELECT doc_id, n_chars, len(ws) AS n_words,
       |             list_sum(list_transform(ws, w -> length(w)))::DOUBLE
       |               / greatest(len(ws), 1) AS mean_word_len,
       |             len(list_filter(ws, w -> list_contains([$stop], w)))::DOUBLE
       |               / greatest(len(ws), 1) AS stopword_ratio,
       |             (n_chars - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
       |               / greatest(n_chars, 1) AS punct_ratio,
       |             (n_chars - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
       |               / greatest(n_chars, 1) AS digit_ratio
       |           FROM base)
       |SELECT doc_id,
       |  ((CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
       |   + (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |   + (CASE WHEN stopword_ratio >= 0.01 THEN 1.0 ELSE 0.0 END)
       |   + (CASE WHEN punct_ratio <= 0.3 THEN 1.0 ELSE 0.0 END)
       |   + (CASE WHEN digit_ratio <= 0.3 THEN 1.0 ELSE 0.0 END)) / 5 AS quality,
       |  n_words::BIGINT AS n_words, mean_word_len, stopword_ratio, punct_ratio
       |FROM feat ORDER BY doc_id""".stripMargin
  }

  /** q67: `TextAnalysis.hashingTf` buckets + document frequency — the
    * kernel's token scan (letter/digit start, apostrophe continuation)
    * as `[a-z0-9][a-z0-9']*` on the lowered ASCII text, FNV-1a per
    * token, and Java's signed `%` (DuckDB's % matches: sign of the
    * dividend). All-integer output.
    */
  def q67TfidfBuckets: String = {
    val step = mulmod("xor(h, c)", FnvPrime)
    s"""WITH
       |  toks AS (SELECT doc_id,
       |             unnest(regexp_extract_all(lower(text), '[a-z0-9][a-z0-9'']*')) AS tok
       |           FROM documents),
       |  th AS (SELECT doc_id, list_reduce(
       |           list_concat([$FnvBasis::HUGEINT],
       |             list_transform(split(tok, ''), ch -> ascii(ch)::HUGEINT)),
       |           (h, c) -> $step) AS h FROM toks),
       |  bkt AS (SELECT doc_id, ((${signed("h")} % 1024) + 1024) % 1024 AS bucket FROM th),
       |  tf AS (SELECT doc_id, bucket, count(*)::BIGINT AS tf FROM bkt GROUP BY 1, 2),
       |  dfb AS (SELECT bucket, count(*)::BIGINT AS df FROM tf GROUP BY 1)
       |SELECT doc_id, bucket::BIGINT AS bucket, tf, df
       |FROM tf JOIN dfb USING (bucket)
       |ORDER BY doc_id, bucket""".stripMargin
  }

  /** q68: the salted two-phase aggregation must equal a plain GROUP BY —
    * DECIMAL partials are exact, so the salt split cannot change the sum.
    */
  def q68SaltedAgg: String =
    """SELECT l_suppkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  /** q69: streaming dedup of a self-unioned source = the distinct
    * original rows (event_id is unique in the driver data).
    */
  def q69StreamDedup: String =
    "SELECT event_id, event_type FROM events ORDER BY event_id"

  /** q70: the co-bucketed shuffle-free join must be semantics-preserving
    * vs a plain join + aggregate.
    */
  def q70ColocatedJoin: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q71: `TextAnalysis.repetitionRatio` — duplicate word-3-gram share.
    * Word split and n-gram build mirror `words`/`wordNgrams`; the ratio
    * is an int/int IEEE division, exact in both engines.
    */
  def q71Repetition: String =
    """WITH
      |  base AS (SELECT doc_id,
      |             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |               w -> length(w) > 0) AS ws
      |           FROM documents),
      |  ng AS (SELECT doc_id,
      |           CASE WHEN len(ws) >= 3
      |             THEN list_transform(range(1, len(ws) - 1),
      |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |             ELSE [] END AS ng
      |         FROM base)
      |SELECT doc_id,
      |  len(ng)::BIGINT AS n_3grams,
      |  len(list_distinct(ng))::BIGINT AS distinct_3grams,
      |  (len(ng) - len(list_distinct(ng)))::DOUBLE / greatest(len(ng), 1) AS rep_ratio
      |FROM ng ORDER BY doc_id""".stripMargin

  /** q72: TPC-H Q15 shape — suppliers achieving the max quarterly
    * revenue. Revenue stays DECIMAL (exact) through the max-equality;
    * only the output casts to double after ROUND.
    */
  def q72TopSupplier: String =
    """WITH r AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      |        * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS total_dec
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(ROUND(total_dec, 2) AS DOUBLE) AS total_revenue
      |FROM r JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_dec = (SELECT MAX(total_dec) FROM r)
      |ORDER BY s_suppkey""".stripMargin

  /** q73: `Dedup.capPerKey` — the md5-permutation rank is the same
    * cross-engine idiom as q65 (`md5('seed#'||id)` orders identically in
    * both engines).
    */
  def q73CapPerSource: String =
    """SELECT doc_id, source, lang FROM (
      |  SELECT doc_id, source, lang,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5('7#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10 ORDER BY doc_id""".stripMargin

  /** q74: `TextAnalysis.redactPii` — the PII patterns are restricted to
    * the Java∩RE2 regex subset (classes, bounded repetition, ASCII `\b`),
    * so DuckDB's RE2 picks the same non-overlapping spans as Spark's
    * `java.util.regex`. DuckDB `regexp_replace` needs the explicit 'g'
    * flag to match Spark's replace-all. The injected suffix mirrors the
    * query's concat exactly (`%` matches sign-of-dividend in both engines;
    * doc_ids are non-negative).
    */
  def q74PiiRedaction: String = {
    import graft.operators.TextAnalysis.{emailPattern, ipv4Pattern, phonePattern}
    s"""WITH pii AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@mail.example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
       |      || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
       |      || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
       |      || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(t, '$emailPattern'))::BIGINT AS n_email,
       |  len(regexp_extract_all(t, '$ipv4Pattern'))::BIGINT AS n_ip,
       |  len(regexp_extract_all(t, '$phonePattern'))::BIGINT AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(t,
       |    '$emailPattern', '<EMAIL>', 'g'),
       |    '$ipv4Pattern', '<IP>', 'g'),
       |    '$phonePattern', '<PHONE>', 'g') AS clean
       |FROM pii ORDER BY doc_id""".stripMargin
  }

  /** q75: `Dedup.decontaminate` — word split + 3-gram build mirror q71;
    * the overlap count joins *raw n-gram strings* (the query passes
    * `hashNgrams=false`; OperatorsSpec asserts the hashed production path
    * agrees), distinct-per-side so COUNT(*) equals distinct-overlap.
    */
  def q75Decontaminate: String =
    """WITH
      |  base AS (SELECT doc_id,
      |             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |               w -> length(w) > 0) AS ws
      |           FROM documents),
      |  ngrams AS (SELECT doc_id,
      |           CASE WHEN len(ws) >= 3
      |             THEN list_transform(range(1, len(ws) - 1),
      |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |             ELSE [] END AS ng
      |         FROM base),
      |  bench AS (SELECT DISTINCT unnest(ng) AS g FROM ngrams WHERE doc_id % 97 = 0),
      |  train AS (SELECT doc_id, unnest(list_distinct(ng)) AS g FROM ngrams),
      |  ov AS (SELECT doc_id, COUNT(*) AS n_overlap
      |         FROM train JOIN bench USING (g) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(o.n_overlap, 0)::BIGINT AS n_overlap,
      |  COALESCE(o.n_overlap, 0) >= 50 AS contaminated
      |FROM documents d LEFT JOIN ov o USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q224: `Sketches.amsF2Counters`/`amsF2Estimate` — per-user counts,
    * sign = low bit of splitmix64((user_id + GOLD·(j+1)) mod 2⁶⁴)
    * replayed through the staged HUGEINT rewrites; counters and the
    * mean-of-squares floor all exact integers (HUGEINT ↔ DECIMAL(38,0)).
    */
  def q224AmsF2: String = {
    val k = 32
    val seeds = (0 until k)
      .map(j => s"($j, ${(Gold * (j + 1)) & Mask}::HUGEINT)").mkString(", ")
    val smx = staged(
      s"SELECT v, n, j, (v + kj) % $M64 AS z FROM vals CROSS JOIN seeds",
      splitmixStages("z"))
    s"""WITH
       |  vals AS (SELECT user_id::HUGEINT AS v, COUNT(*)::BIGINT AS n
       |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |  seeds(j, kj) AS (VALUES $seeds),
       |  sgn AS (SELECT j, n,
       |      CASE WHEN _sm % 2 = 1 THEN 1 ELSE -1 END AS s FROM ($smx)),
       |  cnt AS (SELECT j, CAST(SUM(s * n) AS HUGEINT) AS c FROM sgn GROUP BY j)
       |SELECT COUNT(*)::BIGINT AS k,
       |  CAST(SUM(c * c) // COUNT(*) AS BIGINT) AS f2_est
       |FROM cnt ORDER BY k""".stripMargin
  }

  /** q223: `TextAnalysis.ngramNovelty` — q75's word split + 3-gram
    * build; reference = doc_id % 3 = 0 snapshot, scored docs = the
    * rest; novelty joins raw n-gram strings (the query passes
    * `hashGrams=false`; OperatorsSpec asserts the hashed production
    * path agrees); the permille is the exact floor 1000·novel//total.
    */
  def q223NgramNovelty: String =
    """WITH
      |  base AS (SELECT doc_id,
      |             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |               w -> length(w) > 0) AS ws
      |           FROM documents),
      |  ngrams AS (SELECT doc_id,
      |           CASE WHEN len(ws) >= 3
      |             THEN list_transform(range(1, len(ws) - 1),
      |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |             ELSE [] END AS ng
      |         FROM base),
      |  ref AS (SELECT DISTINCT unnest(ng) AS g FROM ngrams WHERE doc_id % 3 = 0),
      |  train AS (SELECT doc_id, unnest(list_distinct(ng)) AS g
      |            FROM ngrams WHERE doc_id % 3 <> 0),
      |  ov AS (SELECT t.doc_id, COUNT(*) AS n_grams,
      |           SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS n_novel
      |         FROM train t LEFT JOIN ref r USING (g) GROUP BY t.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(o.n_grams, 0)::BIGINT AS n_grams,
      |  COALESCE(o.n_novel, 0)::BIGINT AS n_novel,
      |  CASE WHEN COALESCE(o.n_grams, 0) = 0 THEN NULL
      |    ELSE CAST((1000 * o.n_novel) // o.n_grams AS BIGINT)
      |  END AS novelty_permille
      |FROM documents d LEFT JOIN ov o USING (doc_id)
      |WHERE d.doc_id % 3 <> 0 ORDER BY d.doc_id""".stripMargin

  /** q76: `Dedup.weightedSample` — survival test on the first 32 md5 bits
    * (`CAST('0x'||hex AS UBIGINT)` ↔ Spark `conv(…,16,10)`), thresholds
    * computed with the *same* `(f * 2³²).toLong` expression the operator
    * uses so both engines compare against identical integers.
    */
  def q76WeightedSample: String = {
    def th(f: Double): Long = (f * 4294967296d).toLong
    s"""SELECT doc_id, source, lang FROM documents
       |WHERE CAST('0x' || substr(md5('11#' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT)
       |  < CASE source WHEN 'src0' THEN ${th(0.75)} WHEN 'src1' THEN ${th(0.5)}
       |      WHEN 'src2' THEN ${th(0.25)} ELSE ${th(0.1)} END
       |ORDER BY doc_id""".stripMargin
  }

  /** q77: `Dedup.dedupSegments` — 0-based fixed 10-word segments (DuckDB
    * list slices are 1-based inclusive and clamp like Spark `slice`);
    * first occurrence = row_number over (doc, pos) within the segment
    * (the engine partitions by md5(segment) — same grouping, shorter
    * shuffle key); rebuild order is the unique per-doc pos, so
    * `string_agg ORDER BY pos` equals the engine's sorted-struct concat.
    */
  def q77DedupSegments: String =
    """WITH
      |  base AS (SELECT doc_id,
      |             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |               w -> length(w) > 0) AS ws
      |           FROM documents),
      |  segs AS (SELECT doc_id,
      |             unnest(list_transform(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
      |               i -> {'pos': i, 'seg': array_to_string(ws[i*10+1 : i*10+10], ' ')})) AS s
      |           FROM base WHERE len(ws) >= 1),
      |  flat AS (SELECT doc_id, s.pos AS pos, s.seg AS seg FROM segs),
      |  kept AS (SELECT doc_id, pos, seg FROM (
      |             SELECT doc_id, pos, seg,
      |               row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rk
      |             FROM flat) WHERE rk = 1),
      |  rebuilt AS (SELECT doc_id, COUNT(*) AS n_kept,
      |                string_agg(seg, ' ' ORDER BY pos) AS clean
      |              FROM kept GROUP BY doc_id)
      |SELECT b.doc_id,
      |  CAST(ceil(len(b.ws) / 10.0) AS BIGINT) AS n_segs,
      |  COALESCE(r.n_kept, 0)::BIGINT AS n_kept,
      |  COALESCE(r.clean, '') AS clean
      |FROM base b LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q78: `TextAnalysis.topNgrams` — corpus bigram counts, total-ordered
    * by (count desc, gram) so LIMIT picks the same 100 rows both sides.
    */
  def q78TopNgrams: String =
    """WITH
      |  base AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |             w -> length(w) > 0) AS ws
      |           FROM documents),
      |  ngrams AS (SELECT CASE WHEN len(ws) >= 2
      |               THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      |               ELSE [] END AS ng
      |             FROM base)
      |SELECT g AS gram, COUNT(*)::BIGINT AS cnt
      |FROM (SELECT unnest(ng) AS g FROM ngrams)
      |GROUP BY g ORDER BY cnt DESC, gram LIMIT 100""".stripMargin

  /** q79: `Packing.packSequences` — the DuckDB replay is the naive global
    * window (fine on oracle-scale data); the engine computes the same
    * prefix sums two-phase without a partition-less window. All layout
    * arithmetic is integral, so the comparison is bit-exact.
    */
  def q79PackSequences: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
      |      w -> length(w) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM t)
      |SELECT doc_id, n_tokens, cum_before,
      |  cum_before // 2048 AS seq_start,
      |  (cum_before + GREATEST(n_tokens, 1) - 1) // 2048 AS seq_end,
      |  cum_before % 2048 AS offset_in_seq
      |FROM c ORDER BY doc_id""".stripMargin

  /** q119: `Dedup.snapshotDiff` — the crawl-over-crawl diff replayed
    * relationally: digests of both snapshot views, FULL JOIN on id,
    * CASE status, per-(source,status) counts.
    */
  def q119SnapshotDiff: String =
    s"""WITH
       |  o AS (SELECT doc_id, source, md5(COALESCE(text, '')) AS d
       |    FROM documents WHERE doc_id < 400),
       |  n AS (SELECT doc_id, source,
       |      md5(COALESCE(CASE WHEN doc_id % 5 = 0
       |          THEN COALESCE(text, '') || ' v2' ELSE text END, '')) AS d
       |    FROM documents WHERE doc_id >= 100),
       |  j AS (SELECT COALESCE(n.source, o.source) AS source,
       |      CASE WHEN o.d IS NULL THEN 'added'
       |           WHEN n.d IS NULL THEN 'removed'
       |           WHEN o.d = n.d THEN 'unchanged'
       |           ELSE 'changed' END AS status
       |    FROM o FULL OUTER JOIN n USING (doc_id))
       |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin

  /** q118: `Packing.packingReport` — q79's prefix-sum replay wrapped in
    * the one-row efficiency aggregate (ints only).
    */
  def q118PackingReport: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
      |      w -> length(w) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM t),
      |p AS (
      |  SELECT doc_id, n_tokens,
      |    cum_before // 2048 AS seq_start,
      |    (cum_before + GREATEST(n_tokens, 1) - 1) // 2048 AS seq_end
      |  FROM c)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(MAX(seq_end) + 1 AS BIGINT) AS n_sequences,
      |  CAST((MAX(seq_end) + 1) * 2048 AS BIGINT) AS capacity_tokens,
      |  CAST(SUM(CASE WHEN seq_start <> seq_end THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_spanning_docs
      |FROM p""".stripMargin

  /** q80: `TextAnalysis.scoreLinear` — the q67 tokenizer/FNV/bucket replay
    * joined against the splitmix64 stand-in weight table
    * (`Hashing.qualityWeights`: w(b) = unsigned(splitmix64(42+b)) % 2001
    * − 1000). Score sum is BIGINT (exact); the normalized score is one
    * BIGINT/BIGINT IEEE division — identical on both engines.
    */
  def q80QualityFilter: String = {
    val step = mulmod("xor(h, c)", FnvPrime)
    val smx = staged(
      "SELECT b, (42 + b)::HUGEINT AS z FROM (SELECT unnest(range(0, 1024)) AS b)",
      splitmixStages("z"))
    s"""WITH
       |  toks AS (SELECT doc_id,
       |             unnest(regexp_extract_all(lower(text), '[a-z0-9][a-z0-9'']*')) AS tok
       |           FROM documents),
       |  th AS (SELECT doc_id, list_reduce(
       |           list_concat([$FnvBasis::HUGEINT],
       |             list_transform(split(tok, ''), ch -> ascii(ch)::HUGEINT)),
       |           (h, c) -> $step) AS h FROM toks),
       |  bkt AS (SELECT doc_id, ((${signed("h")} % 1024) + 1024) % 1024 AS bucket FROM th),
       |  wts AS (SELECT b, (_sm % 2001 - 1000)::BIGINT AS w FROM ($smx)),
       |  sc AS (SELECT doc_id, SUM(w)::BIGINT AS score_raw,
       |           COUNT(*)::BIGINT AS n_toks
       |         FROM bkt JOIN wts ON bucket = b GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(sc.score_raw, 0)::BIGINT AS score_raw,
       |  COALESCE(sc.n_toks, 0)::BIGINT AS n_toks,
       |  (COALESCE(sc.score_raw, 0)::DOUBLE / GREATEST(COALESCE(sc.n_toks, 0), 1)) AS score,
       |  ((COALESCE(sc.score_raw, 0)::DOUBLE / GREATEST(COALESCE(sc.n_toks, 0), 1)) >= 0) AS keep
       |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  /** q81: `Embeddings.withInt8Quantized` + `l2Norm` — norm is the same
    * seeded sequential double fold as the cosine replays (bit-exact);
    * max-abs and the scale division are order-independent IEEE ops;
    * quantized values are integers serialized to CSV.
    */
  def q81EmbedQuantize: String = {
    val sq = foldSum(
      "list_transform(range(1, len(embedding)+1), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt($sq) AS l2norm,
       |    COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |  FROM embeddings),
       |s AS (
       |  SELECT vec_id, len(embedding)::BIGINT AS n_dims, l2norm,
       |    CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END AS scale,
       |    embedding
       |  FROM base)
       |SELECT vec_id, n_dims, l2norm, scale,
       |  array_to_string(list_transform(embedding,
       |    x -> CAST(CAST(floor(x::DOUBLE * scale + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q_csv
       |FROM s ORDER BY vec_id""".stripMargin
  }

  /** q217: `Sketches.kmvQuantiles` — distinct cents values, the
    * splitmix walk, bottom-256 by UNSIGNED hash order, and the
    * value-rank quantile picks at ⌈q·m/100⌉. All hash/rank integer
    * arithmetic, replayed bit-for-bit.
    */
  def q217KmvQuantiles: String = {
    val k = 256
    val smx = staged("SELECT v, v::HUGEINT AS z FROM dv",
      splitmixStages("z"))
    s"""WITH dv AS (SELECT DISTINCT
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
       |hs AS (SELECT v, _sm FROM ($smx)),
       |rk AS (SELECT v, row_number() OVER (ORDER BY _sm) AS rn FROM hs),
       |sample AS (SELECT v FROM rk WHERE rn <= $k),
       |mm AS (SELECT COUNT(*) AS m FROM sample),
       |vr AS (SELECT v, row_number() OVER (ORDER BY v) AS vr FROM sample)
       |SELECT mm.m::BIGINT AS m,
       |  MIN(CASE WHEN vr = (25*mm.m + 99)//100 THEN v END)::BIGINT AS q25,
       |  MIN(CASE WHEN vr = (50*mm.m + 99)//100 THEN v END)::BIGINT AS q50,
       |  MIN(CASE WHEN vr = (75*mm.m + 99)//100 THEN v END)::BIGINT AS q75,
       |  MIN(CASE WHEN vr = (90*mm.m + 99)//100 THEN v END)::BIGINT AS q90
       |FROM vr, mm GROUP BY mm.m""".stripMargin
  }

  /** q210: `Embeddings.randomProjection` — the q81 quantization replay
    * feeding a splitmix64 ±1 sign matrix (sign = +1 iff the unsigned
    * mix < 2⁶³, i.e. the signed long is ≥ 0) and exact integer sums per
    * (vec_id, output dim). Order-free integer arithmetic end-to-end.
    */
  def q210RandomProjection: String = {
    val outDim = 16; val inDim = 64; val seed = 2026L
    val smx = staged(
      s"SELECT j, d, ($seed + j*$inDim + d)::HUGEINT AS z FROM " +
        s"(SELECT unnest(range(0, $outDim)) AS j) CROSS JOIN " +
        s"(SELECT unnest(range(0, $inDim)) AS d)",
      splitmixStages("z"))
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $inDim),
       |s AS (SELECT vec_id, embedding,
       |    CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END AS scale
       |  FROM base),
       |qv AS (SELECT vec_id, d,
       |    CAST(floor(embedding[d+1]::DOUBLE * scale + 0.5) AS BIGINT) AS qd
       |  FROM s, (SELECT unnest(range(0, $inDim)) AS d)),
       |sgn AS (SELECT j, d,
       |    CASE WHEN _sm >= 9223372036854775808::HUGEINT THEN -1 ELSE 1 END AS sg
       |  FROM ($smx)),
       |proj AS (SELECT vec_id, j, SUM(sg * qd)::BIGINT AS value
       |  FROM qv JOIN sgn USING (d) GROUP BY vec_id, j)
       |SELECT vec_id, j::BIGINT AS dim, value FROM proj
       |ORDER BY vec_id, dim""".stripMargin
  }

  /** q233: `Embeddings.dominantDirection` — the q81 int8 quantization
    * replay, the exact integer Gram matrix via a vec_id self-join, then
    * `rounds` power-iteration steps each unrolled as (numerator, max,
    * renormalize) CTEs in HUGEINT; divisions are sign-magnitude
    * (`ABS(x) // d` re-signed), matching Scala BigInt's truncating `/`
    * exactly; Rayleigh quotient on the Q6-rescaled vector.
    */
  def q233DominantDirection: String = {
    val dim = 64; val rounds = 8
    val rk = (1 to rounds).map { r =>
      s"""n$r AS MATERIALIZED (SELECT g.i, SUM(g.g * v.p) AS num
         |  FROM gram g JOIN v${r - 1} v ON v.i = g.j GROUP BY 1),
         |m$r AS (SELECT GREATEST(MAX(ABS(num)) // 1000000000000, 1::HUGEINT) AS dn FROM n$r),
         |v$r AS MATERIALIZED (SELECT i, CASE WHEN num < 0 THEN -(ABS(num) // dn)
         |    ELSE ABS(num) // dn END AS p
         |  FROM n$r CROSS JOIN m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |s AS (SELECT vec_id, embedding,
       |    CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END AS scale
       |  FROM base),
       |qv AS (SELECT vec_id, d,
       |    CAST(floor(embedding[d+1]::DOUBLE * scale + 0.5) AS BIGINT) AS qd
       |  FROM s, (SELECT unnest(range(0, $dim)) AS d)),
       |gram AS MATERIALIZED (SELECT a.d AS i, b.d AS j, SUM(a.qd * b.qd)::HUGEINT AS g
       |  FROM qv a JOIN qv b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (SELECT unnest(range(0, $dim)) AS i, 1000000000000::HUGEINT AS p),
       |$rk,
       |w AS (SELECT i, CASE WHEN p < 0 THEN -(ABS(p) // 1000000)
       |    ELSE ABS(p) // 1000000 END AS pw FROM v$rounds),
       |den AS (SELECT SUM(pw * pw) AS dn FROM w),
       |nr AS (SELECT SUM(g.g * wa.pw * wb.pw) AS nm
       |  FROM gram g JOIN w wa ON wa.i = g.i JOIN w wb ON wb.i = g.j),
       |ray AS (SELECT CASE WHEN dn > 0
       |    THEN CAST((1000000::HUGEINT * nm) // dn AS BIGINT)
       |    ELSE 0 END AS rayleigh_q6 FROM den CROSS JOIN nr)
       |SELECT v.i::BIGINT AS dim, CAST(v.p AS BIGINT) AS component_q12,
       |  ray.rayleigh_q6
       |FROM v$rounds v CROSS JOIN ray ORDER BY dim""".stripMargin
  }

  /** q235: `Timeseries.ewmaChart` — daily tenk sums, ROW_NUMBER-indexed
    * per-type series, the α = 1/8 EWMA floor-division recurrence
    * replayed as a recursive CTE (DuckDB `//` floors exactly like
    * `Math.floorDiv`), and the scale-free alert as an integer
    * cross-multiply against the previous smoothed level.
    */
  def q235EwmaChart: String =
    """WITH RECURSIVE daily AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS MATERIALIZED (
      |  SELECT event_type, day, x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
      |  FROM daily),
      |walk AS (
      |  SELECT event_type, day, x, i, x AS s FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT d.event_type, d.day, d.x, d.i, (d.x + 7 * w.s) // 8 AS s
      |  FROM idx d JOIN walk w ON w.event_type = d.event_type
      |    AND d.i = w.i + 1)
      |SELECT w.event_type, w.day, w.x AS x_tenk, w.s AS ewma_tenk,
      |  CASE WHEN p.s IS NULL THEN FALSE
      |    ELSE 4 * ABS(w.x - p.s) > ABS(p.s) END AS alert
      |FROM walk w LEFT JOIN walk p
      |  ON p.event_type = w.event_type AND p.i = w.i - 1
      |ORDER BY w.event_type, w.day""".stripMargin

  /** q260: `TextAnalysis.zipfProfile` — token counts, top-1000 head,
    * lnQ12 CTE logs scaled to Q6, exact HUGEINT OLS moments, one
    * signed truncating division to Q9.
    */
  def q260ZipfProfile: String =
    """WITH RECURSIVE w AS (
      |  SELECT w FROM documents,
      |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS t(w)
      |  WHERE w <> ''),
      |c AS MATERIALIZED (SELECT w, COUNT(*) AS c FROM w GROUP BY 1),
      |v AS (SELECT COUNT(*) AS vocab FROM c),
      |top AS MATERIALIZED (SELECT c, r FROM (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM c)
      |  WHERE r <= 1000),
      |_ks AS (SELECT DISTINCT k FROM (
      |  SELECT c AS k FROM top UNION SELECT r FROM top)),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |xy AS (SELECT lr.l // 1000000 AS x, lc.l // 1000000 AS y
      |  FROM top JOIN _lnq lr ON lr.k = top.r JOIN _lnq lc ON lc.k = top.c),
      |s AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
      |    SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx FROM xy)
      |SELECT CAST(v.vocab AS BIGINT) AS vocab_size,
      |  CAST(s.n AS BIGINT) AS n_fit,
      |  CASE WHEN s.n * s.sxx - s.sx * s.sx <> 0 THEN
      |    CAST(((s.n * s.sxy - s.sx * s.sy) * 1000000000)
      |      // (s.n * s.sxx - s.sx * s.sx) AS BIGINT) END AS slope_q9
      |FROM s CROSS JOIN v ORDER BY vocab_size""".stripMargin

  /** q261: `Embeddings.matryoshkaProfile` — q81's half-up int8
    * quantize replay, prefix slices, pure-integer cos² = Sₖ/S_d per
    * vector in Q9, mean/min/max per prefix.
    */
  def q261Matryoshka: String =
    """WITH base AS (
      |  SELECT vec_id,
      |    COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))),
      |      0.0) AS maxabs, embedding
      |  FROM embeddings),
      |qv AS MATERIALIZED (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(x::DOUBLE *
      |      (CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END)
      |      + 0.5) AS BIGINT)) AS q
      |  FROM base),
      |pk AS (SELECT q, CAST(k AS BIGINT) AS prefix_dim
      |  FROM qv, unnest([16, 32, 48]) AS t(k)),
      |s AS (SELECT prefix_dim,
      |    CAST(list_sum(list_transform(q[1:CAST(prefix_dim AS INTEGER)],
      |      x -> x * x)) AS HUGEINT) AS sk,
      |    CAST(list_sum(list_transform(q, x -> x * x)) AS HUGEINT) AS sd
      |  FROM pk),
      |c AS (SELECT prefix_dim, (sk * 1000000000) // sd AS c2
      |  FROM s WHERE sd > 0)
      |SELECT prefix_dim, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(c2) // COUNT(*) AS BIGINT) AS mean_cos2_q9,
      |  CAST(MIN(c2) AS BIGINT) AS min_cos2_q9,
      |  CAST(MAX(c2) AS BIGINT) AS max_cos2_q9
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** q262: `Validation.kAnonymityAudit` — quasi-id class sizes on
    * (nation, segment), min class size, rows in classes < 10, Q9 rate.
    */
  def q262KAnonymity: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      |  FROM customer GROUP BY 1, 2)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(MIN(n) AS BIGINT) AS min_group_size,
      |  CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
      |    AS n_violating,
      |  CAST((CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS HUGEINT)
      |    * 1000000000) // SUM(n) AS BIGINT) AS viol_rate_q9
      |FROM g ORDER BY n_rows""".stripMargin

  /** q263: `Layout.zoneMapOverlap` — per-bucket [min, max] of the day
    * under hash(orderkey) and range(day) layouts, overlapping ordered
    * pair counts, Q9 overlap rate.
    */
  def q263ZoneMap: String =
    """WITH d AS (SELECT o_orderkey AS k,
      |    epoch_us(o_orderdate) // 86400000000 AS day FROM orders),
      |mm AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
      |z1 AS MATERIALIZED (SELECT k % 32 AS b, MIN(day) AS lo,
      |    MAX(day) AS hi FROM d GROUP BY 1),
      |z2 AS MATERIALIZED (SELECT ((day - mm.lo) * 32)
      |      // (mm.hi - mm.lo + 1) AS b,
      |    MIN(day) AS lo, MAX(day) AS hi
      |  FROM d CROSS JOIN mm GROUP BY 1),
      |p1 AS (SELECT (SELECT COUNT(*) FROM z1) AS nb, COUNT(*) AS np
      |  FROM z1 a JOIN z1 b2
      |  ON a.b <> b2.b AND a.lo <= b2.hi AND b2.lo <= a.hi),
      |p2 AS (SELECT (SELECT COUNT(*) FROM z2) AS nb, COUNT(*) AS np
      |  FROM z2 a JOIN z2 b2
      |  ON a.b <> b2.b AND a.lo <= b2.hi AND b2.lo <= a.hi)
      |SELECT * FROM (
      |  SELECT 'hash' AS layout, CAST(nb AS BIGINT) AS n_buckets,
      |    CAST(np AS BIGINT) AS n_overlap_pairs,
      |    CASE WHEN nb > 1 THEN CAST((CAST(np AS HUGEINT) * 1000000000)
      |      // (CAST(nb AS HUGEINT) * (nb - 1)) AS BIGINT) END AS overlap_q9
      |  FROM p1
      |  UNION ALL
      |  SELECT 'range', CAST(nb AS BIGINT), CAST(np AS BIGINT),
      |    CASE WHEN nb > 1 THEN CAST((CAST(np AS HUGEINT) * 1000000000)
      |      // (CAST(nb AS HUGEINT) * (nb - 1)) AS BIGINT) END
      |  FROM p2)
      |ORDER BY layout""".stripMargin

  /** q264: `Validation.lDiversityAudit` — class × sensitive-band
    * two-level group, min diversity, classes/rows under l=5, Q9 rate.
    * Sensitive band shifted positive so // = DIV.
    */
  def q264LDiversity: String =
    """WITH b AS (SELECT c_nationkey, c_mktsegment,
      |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      + 100000) // 100000 AS sb
      |  FROM customer),
      |i AS (SELECT c_nationkey, c_mktsegment, sb, COUNT(*) AS n
      |  FROM b GROUP BY 1, 2, 3),
      |g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS l,
      |    CAST(SUM(n) AS BIGINT) AS nr FROM i GROUP BY 1, 2)
      |SELECT CAST(SUM(nr) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(MIN(l) AS BIGINT) AS min_l,
      |  CAST(SUM(CASE WHEN l < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violating_classes,
      |  CAST(SUM(CASE WHEN l < 5 THEN nr ELSE 0 END) AS BIGINT)
      |    AS n_rows_violating,
      |  CAST((CAST(SUM(CASE WHEN l < 5 THEN nr ELSE 0 END) AS HUGEINT)
      |    * 1000000000) // SUM(nr) AS BIGINT) AS viol_rate_q9
      |FROM g ORDER BY n_rows""".stripMargin

  /** q265: `Sampling.domainMixturePlan` — per-domain floor rate toward
    * the target permille (downsample-only, LEAST cap), kept tokens,
    * achieved permille; HUGEINT intermediates, BIGINT terminals.
    */
  def q265DomainMixture: String = {
    val targets = (0 until 20)
      .map(i => s"('src$i', ${if (i < 10) 80 else 20})").mkString(", ")
    s"""WITH t(g, pm) AS (VALUES $targets),
       |p AS (SELECT source AS g, CAST(SUM(n_chars) AS BIGINT) AS toks
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(toks) AS HUGEINT) AS tt FROM p),
       |r AS (SELECT p.g, p.toks, t.pm,
       |    CASE WHEN p.toks = 0 THEN 1000000
       |      ELSE LEAST(1000000, CAST((CAST(t.pm AS HUGEINT) * tot.tt
       |        * 1000000) // (1000 * CAST(p.toks AS HUGEINT)) AS BIGINT))
       |    END AS rate_q6
       |  FROM p JOIN t ON t.g = p.g CROSS JOIN tot),
       |k AS (SELECT r.*, CAST((CAST(toks AS HUGEINT) * rate_q6)
       |    // 1000000 AS BIGINT) AS kept_toks FROM r),
       |kt AS (SELECT CAST(SUM(kept_toks) AS HUGEINT) AS kt FROM k)
       |SELECT g AS source, toks, CAST(pm AS BIGINT) AS target_pm,
       |  rate_q6, kept_toks,
       |  CASE WHEN kt.kt <> 0 THEN CAST((CAST(kept_toks AS HUGEINT)
       |    * 1000) // kt.kt AS BIGINT) END AS achieved_pm
       |FROM k CROSS JOIN kt ORDER BY source""".stripMargin
  }

  /** q266: `TextAnalysis.heapsGrowth` — doc ordinal by doc_id, token
    * first-seen ordinal, B=10 floor checkpoints, cumulative vocab.
    */
  def q266HeapsGrowth: String =
    """WITH o AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id)
      |    AS BIGINT) AS ord FROM documents),
      |nn AS (SELECT COALESCE(MAX(ord), 0) AS n FROM o),
      |w AS (SELECT DISTINCT d.doc_id, t.w FROM documents d,
      |    unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9'']+'))
      |      AS t(w)
      |  WHERE t.w <> ''),
      |fs AS (SELECT w.w, MIN(o.ord) AS fs
      |  FROM w JOIN o ON o.doc_id = w.doc_id GROUP BY 1),
      |h AS (SELECT fs, COUNT(*) AS nw FROM fs GROUP BY 1),
      |ck AS (SELECT CAST(x AS BIGINT) AS ckpt,
      |    (CAST(x AS BIGINT) * nn.n) // 10 AS n_docs
      |  FROM unnest(generate_series(1, 10)) t(x) CROSS JOIN nn)
      |SELECT ck.ckpt, CAST(ck.n_docs AS BIGINT) AS n_docs,
      |  CAST(COALESCE(SUM(h.nw), 0) AS BIGINT) AS vocab
      |FROM ck LEFT JOIN h ON h.fs <= ck.n_docs
      |GROUP BY 1, 2 ORDER BY ckpt""".stripMargin

  /** q267: `Graphs.linkPredict` — q157's capped co-purchase build,
    * canonical edges, hub cap on intermediates, Adamic–Adar term
    * ⌊10¹⁸/lnQ12(deg)⌋ via the shared ln kernel, non-edge anti-join,
    * deterministic (aa DESC, a, b) top-100.
    */
  def q267LinkPredict: String =
    """WITH RECURSIVE e0 AS (SELECT l_orderkey AS g, l_partkey AS i
      |  FROM lineitem),
      |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
      |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
      |d AS (SELECT DISTINCT g, i FROM ok),
      |canon AS MATERIALIZED (SELECT DISTINCT LEAST(a.i, b.i) AS a,
      |    GREATEST(a.i, b.i) AS b
      |  FROM d a JOIN d b ON a.g = b.g AND a.i <> b.i),
      |bd AS (SELECT a AS z, b AS x FROM canon
      |  UNION ALL SELECT b, a FROM canon),
      |deg AS (SELECT z, COUNT(*) AS dg FROM bd GROUP BY 1),
      |_ks AS (SELECT DISTINCT dg AS k FROM deg
      |  WHERE dg <= 64 AND dg >= 2),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |wz AS (SELECT deg.z, 1000000000000000000 // l.l AS wq6
      |  FROM deg JOIN _lnq l ON l.k = deg.dg
      |  WHERE deg.dg <= 64 AND deg.dg >= 2),
      |pr AS (SELECT b1.x AS pa, b2.x AS pb, wz.wq6
      |  FROM bd b1 JOIN bd b2 ON b1.z = b2.z AND b1.x < b2.x
      |  JOIN wz ON wz.z = b1.z),
      |cand AS (SELECT pa, pb, COUNT(*) AS cn, SUM(wq6) AS aa
      |  FROM pr GROUP BY 1, 2),
      |ne AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
      |  SELECT 1 FROM canon WHERE canon.a = c.pa AND canon.b = c.pb))
      |SELECT pa AS a, pb AS b, CAST(cn AS BIGINT) AS cn,
      |  CAST(aa AS BIGINT) AS aa_q6
      |FROM ne ORDER BY aa DESC, a, b LIMIT 100""".stripMargin

  /** q268: `Dedup.lshPlan` — the exact Q6 truncating power walks as
    * two recursive CTEs over the (bands, rows, j) grid.
    */
  def q268LshPlan: String =
    """WITH RECURSIVE grid AS (
      |  SELECT b.b, r.r, CAST(100000 * j.x AS BIGINT) AS j
      |  FROM (VALUES (1), (2), (4), (8), (16)) b(b),
      |       (VALUES (2), (4), (8)) r(r),
      |       (SELECT unnest(generate_series(1, 9)) AS x) j
      |  WHERE b.b * r.r <= 64),
      |pr(b, r, j, i, acc) AS (
      |  SELECT b, r, j, 1, j FROM grid
      |  UNION ALL SELECT b, r, j, i + 1, (acc * j) // 1000000
      |  FROM pr WHERE i < r),
      |p1 AS (SELECT b, r, j, acc AS pband FROM pr WHERE i = r),
      |pb(b, r, j, pband, i, acc) AS (
      |  SELECT b, r, j, pband, 1, 1000000 - pband FROM p1
      |  UNION ALL SELECT b, r, j, pband, i + 1,
      |    (acc * (1000000 - pband)) // 1000000
      |  FROM pb WHERE i < b)
      |SELECT CAST(b AS BIGINT) AS n_bands, CAST(r AS BIGINT) AS n_rows,
      |  CAST(b * r AS BIGINT) AS n_hashes, j AS j_q6,
      |  CAST(pband AS BIGINT) AS p_band_q6,
      |  CAST(1000000 - acc AS BIGINT) AS p_detect_q6
      |FROM pb WHERE i = b
      |ORDER BY n_bands, n_rows, j_q6""".stripMargin

  /** q269: `Embeddings.kCenterSelect` — q233's half-up int8 CTEs, then
    * k−1 unrolled greedy rounds: per-round exact squared-L2 to the new
    * center, running min, argmax (dist DESC, id ASC) excluding picks.
    */
  def q269KCenterCoreset: String = {
    val k = 6; val dim = 64
    val rounds = (2 to k).map { r =>
      val excl = (1 until r).map(i =>
        if (i == 1) "SELECT id FROM c1"
        else s"SELECT vec_id FROM p$i").mkString(" UNION ALL ")
      val prevDm = if (r == 2) "d1" else s"dm${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT vec_id, dm FROM $prevDm
         |  WHERE vec_id NOT IN ($excl)
         |  ORDER BY dm DESC, vec_id LIMIT 1),
         |cq$r AS MATERIALIZED (SELECT qv.d, qv.qd FROM qv
         |  JOIN p$r ON qv.vec_id = p$r.vec_id),
         |nd$r AS (SELECT v.vec_id,
         |    SUM((v.qd - c.qd) * (v.qd - c.qd)) AS d2
         |  FROM qv v JOIN cq$r c ON c.d = v.d GROUP BY 1),
         |dm$r AS MATERIALIZED (SELECT a.vec_id, LEAST(a.dm, b.d2) AS dm
         |  FROM ${if (r == 2) "d1" else s"dm${r - 1}"} a
         |  JOIN nd$r b USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val out = (2 to k).map(r =>
      s"SELECT ${r}::BIGINT, vec_id, CAST(dm AS BIGINT) FROM p$r")
      .mkString("\n  UNION ALL ")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    COALESCE(list_max(list_transform(embedding,
       |      x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |s AS (SELECT vec_id, embedding,
       |    CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END AS scale
       |  FROM base),
       |qv AS MATERIALIZED (SELECT vec_id, d,
       |    CAST(floor(embedding[d+1]::DOUBLE * scale + 0.5) AS BIGINT) AS qd
       |  FROM s, (SELECT unnest(range(0, $dim)) AS d)),
       |c1 AS (SELECT MIN(vec_id) AS id FROM s),
       |cq1 AS MATERIALIZED (SELECT qv.d, qv.qd FROM qv
       |  JOIN c1 ON qv.vec_id = c1.id),
       |d1 AS MATERIALIZED (SELECT v.vec_id,
       |    SUM((v.qd - c.qd) * (v.qd - c.qd)) AS dm
       |  FROM qv v JOIN cq1 c ON c.d = v.d GROUP BY 1),
       |$rounds
       |SELECT * FROM (
       |  SELECT 1::BIGINT AS round, c1.id AS vec_id,
       |    0::BIGINT AS dist_sq FROM c1
       |  UNION ALL $out)
       |ORDER BY round""".stripMargin
  }

  /** q270: `Analytics.calibrationCurve` — Q4 pseudo-propensity, 10
    * fixed value bins, mean-pred / observed-rate, single-floor ECE.
    */
  def q270Calibration: String =
    """WITH r0 AS (SELECT DISTINCT l_orderkey AS rk FROM lineitem
      |  WHERE l_returnflag = 'R'),
      |b AS (SELECT LEAST(10000,
      |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |        // 5500) AS p,
      |    CASE WHEN r0.rk IS NOT NULL THEN 1 ELSE 0 END AS y
      |  FROM orders LEFT JOIN r0 ON o_orderkey = r0.rk),
      |c AS (SELECT LEAST(9, (p * 10) // 10000) AS bin, COUNT(*) AS n,
      |    CAST(SUM(p) AS HUGEINT) AS sp,
      |    CAST(SUM(y) AS BIGINT) AS n_pos
      |  FROM b GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn,
      |    CAST(SUM(ABS(sp - 10000 * n_pos)) AS HUGEINT) AS gap FROM c)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
      |  CAST(sp // n AS BIGINT) AS mean_pred_q4, n_pos,
      |  CAST((CAST(n_pos AS HUGEINT) * 1000000000) // n AS BIGINT)
      |    AS obs_rate_q9,
      |  CASE WHEN t.nn <> 0 THEN
      |    CAST((t.gap * 1000000000) // (10000 * t.nn) AS BIGINT)
      |  END AS ece_q9
      |FROM c CROSS JOIN t ORDER BY bin""".stripMargin

  /** q271: `TextRank keywords` — adjacent-word co-occurrence edges
    * (self-pairs dropped, counts capped 10⁵), q173's weighted-PageRank
    * recurrence unrolled for 3 iterations (odd — synchronous
    * rounds oscillate on star-ish graphs), top-20 (score DESC, word).
    */
  def q271TextRank: String = {
    val scale = 1000000000000L
    val iters = 3
    val baseSub =
      s"(SELECT ($scale::HUGEINT * 15) // (100 * COUNT(*)) FROM nodes)"
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node,
         |    SUM((s.score * 85 * e.w) // (d.wdeg * 100)) AS cs
         |  FROM e JOIN s${k - 1} s ON e.src = s.node
         |         JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |s$k AS (SELECT node, $baseSub + cs AS score FROM c$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH l AS (SELECT doc_id, list_filter(string_split_regex(
       |    lower(text), '[^a-z0-9'']+'), x -> length(x) > 0) AS ws
       |  FROM documents),
       |p0 AS (SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS pr
       |  FROM l WHERE len(ws) >= 2),
       |bi AS (SELECT pr[1] AS a, pr[2] AS b FROM p0 WHERE pr[1] <> pr[2]),
       |e AS (SELECT src, dst, LEAST(COUNT(*), 100000)::HUGEINT AS w
       |  FROM (SELECT a AS src, b AS dst FROM bi
       |        UNION ALL SELECT b, a FROM bi)
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src, SUM(w) AS wdeg FROM e GROUP BY 1),
       |s0 AS (SELECT node,
       |    (SELECT $scale::HUGEINT // COUNT(*) FROM nodes) AS score
       |  FROM nodes),
       |$iterCtes
       |SELECT node AS word, CAST(score AS BIGINT) AS score
       |FROM s$iters ORDER BY score DESC, word LIMIT 20""".stripMargin
  }

  /** q273: `Retrieval.ndcgAtK` — even-day recs / odd-day graded truth,
    * integer DCG/IDCG terms ⌊rel·lnQ12(2)·10⁶ / lnQ12(r+1)⌋ via the
    * shared ln kernel, terminal Q6 division.
    */
  def q273Ndcg: String = {
    val ln2 = graft.functions.FixedMath.lnQ12(2L)
    s"""WITH RECURSIVE b AS (
       |  SELECT c_nationkey AS q, l_partkey AS item,
       |    (epoch_us(o_orderdate) // 86400000000) % 2 AS par
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey),
       |recs AS (SELECT q, item, rank FROM (
       |  SELECT q, item, ROW_NUMBER() OVER (
       |      PARTITION BY q ORDER BY COUNT(*) DESC, item) AS rank
       |  FROM b WHERE par = 0 GROUP BY q, item) WHERE rank <= 5),
       |truth AS (SELECT q, item, COUNT(*) AS rel FROM b WHERE par = 1
       |  GROUP BY 1, 2),
       |_ks AS (SELECT DISTINCT x + 1 AS k
       |  FROM unnest(generate_series(1, 5)) t(x)),
       |""".stripMargin + graft.functions.FixedMath.lnCteSql + s""",
       |dterm AS (SELECT r.q,
       |    CASE WHEN t.rel IS NULL THEN 0::HUGEINT
       |      ELSE (CAST(t.rel AS HUGEINT) * $ln2 * 1000000) // l.l
       |    END AS tq
       |  FROM recs r LEFT JOIN truth t USING (q, item)
       |  JOIN _lnq l ON l.k = r.rank + 1),
       |dcg AS (SELECT q, CAST(SUM(tq) AS BIGINT) AS dcg_q6
       |  FROM dterm GROUP BY 1),
       |ideal AS (SELECT q, item, rel, ROW_NUMBER() OVER (
       |    PARTITION BY q ORDER BY rel DESC, item) AS rr
       |  FROM truth WHERE rel > 0),
       |iterm AS (SELECT i.q,
       |    (CAST(i.rel AS HUGEINT) * $ln2 * 1000000) // l.l AS tq
       |  FROM ideal i JOIN _lnq l ON l.k = i.rr + 1 WHERE i.rr <= 5),
       |idcg AS (SELECT q, CAST(SUM(tq) AS BIGINT) AS idcg_q6
       |  FROM iterm GROUP BY 1)
       |SELECT d.q, d.dcg_q6, COALESCE(i.idcg_q6, 0) AS idcg_q6,
       |  CASE WHEN COALESCE(i.idcg_q6, 0) > 0 THEN
       |    CAST((CAST(d.dcg_q6 AS HUGEINT) * 1000000) // i.idcg_q6
       |      AS BIGINT) END AS ndcg_q6
       |FROM dcg d LEFT JOIN idcg i USING (q) ORDER BY q""".stripMargin
  }

  /** q274: `Embeddings.silhouetteProfile` — the q57 training chain
    * (cellAsgnCtes, same nCells/iters), then per vector a = own-cell
    * d², b = min other-cell d², s = (b−a)·10⁶ // max(a,b), per-cell
    * readout.
    */
  def q274Silhouette: String = {
    val iters = 2
    s"""WITH
       |${cellAsgnCtes(16, iters)},
       |own AS (SELECT a.vec_id, a.cell, d.d2
       |  FROM asgn$iters a JOIN d$iters d
       |  ON d.vec_id = a.vec_id AND d.cell = a.cell),
       |oth AS (SELECT d.vec_id, MIN(d.d2) AS b
       |  FROM d$iters d JOIN asgn$iters a
       |  ON a.vec_id = d.vec_id AND d.cell <> a.cell GROUP BY 1),
       |sil AS (SELECT o.cell,
       |    CASE WHEN GREATEST(o.d2, t.b) = 0 THEN 0::HUGEINT
       |      ELSE ((t.b - o.d2) * 1000000) // GREATEST(o.d2, t.b)
       |    END AS sq6
       |  FROM own o JOIN oth t USING (vec_id))
       |SELECT CAST(cell AS BIGINT) AS cell, COUNT(*)::BIGINT AS n,
       |  CAST(SUM(sq6) // COUNT(*) AS BIGINT) AS mean_sil_q6,
       |  CAST(MIN(sq6) AS BIGINT) AS min_sil_q6,
       |  CAST(MAX(sq6) AS BIGINT) AS max_sil_q6
       |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q275: `TextAnalysis.domainTopTerms` — (domain, word) tf, domain
    * df, Robertson idf as an lnQ12 difference, Q6 score, top-5 per
    * domain by (score DESC, word). S is read from the data.
    */
  def q275DomainTerms: String =
    """WITH RECURSIVE tw AS (SELECT source AS g, w FROM (
      |    SELECT source, unnest(list_filter(string_split_regex(
      |      lower(COALESCE(text, '')), '[^a-z0-9'']+'),
      |      x -> length(x) > 0)) AS w
      |    FROM documents)),
      |tf AS (SELECT g, w, COUNT(*) AS tf FROM tw GROUP BY 1, 2),
      |dfw AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT COUNT(DISTINCT g) AS s FROM tf),
      |_ks AS (SELECT DISTINCT k FROM (
      |  SELECT 2 * (s + 1) AS k FROM sc
      |  UNION SELECT 2 * df + 1 FROM dfw)),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |scored AS (SELECT tf.g, tf.w, tf.tf,
      |    (CAST(tf.tf AS HUGEINT) * (ln.l - ld.l)) // 1000000 AS sq6
      |  FROM tf JOIN dfw ON dfw.w = tf.w CROSS JOIN sc
      |  JOIN _lnq ln ON ln.k = 2 * (sc.s + 1)
      |  JOIN _lnq ld ON ld.k = 2 * dfw.df + 1),
      |rk AS (SELECT g, w, tf, sq6, ROW_NUMBER() OVER (
      |    PARTITION BY g ORDER BY sq6 DESC, w) AS rank FROM scored)
      |SELECT g AS source, CAST(rank AS BIGINT) AS rank, w AS term,
      |  CAST(tf AS BIGINT) AS tf, CAST(sq6 AS BIGINT) AS score_q6
      |FROM rk WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  /** q276: `TextAnalysis.hillTailIndex` — top-100 n_chars, lnQ12
    * diffs vs the k-th value, one terminal Q6 division.
    */
  def q276HillTail: String =
    """WITH RECURSIVE v AS (SELECT n_chars AS x FROM documents
      |  WHERE n_chars > 0 ORDER BY x DESC LIMIT 100),
      |xk AS (SELECT MIN(x) AS xk, COUNT(*) AS k_eff FROM v),
      |_ks AS (SELECT DISTINCT x AS k FROM v
      |  UNION SELECT xk FROM xk),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |t AS (SELECT xk.k_eff, xk.xk,
      |    CAST(SUM(la.l - lb.l) AS BIGINT) AS s
      |  FROM v JOIN _lnq la ON la.k = v.x
      |  CROSS JOIN xk JOIN _lnq lb ON lb.k = xk.xk
      |  GROUP BY 1, 2)
      |SELECT CAST(k_eff AS BIGINT) AS k_eff, CAST(xk AS BIGINT) AS x_k,
      |  s AS sum_ln_q12,
      |  CASE WHEN s > 0 THEN CAST((CAST(k_eff - 1 AS HUGEINT)
      |    * 1000000000000000000) // s AS BIGINT) END AS alpha_q6
      |FROM t""".stripMargin

  /** q277: `Analytics.conformalCoverage` — calibration residual cells,
    * ⌈(n+1)·0.9⌉-th order statistic via ordered cumsum, test coverage.
    */
  def q277Conformal: String =
    """WITH b AS (SELECT
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS y,
      |    CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) * 200000
      |      AS yh,
      |    l_orderkey % 2 AS par
      |  FROM lineitem),
      |r AS (SELECT ABS(y - yh) AS r, par FROM b),
      |cells AS (SELECT r, COUNT(*) AS c FROM r WHERE par = 0 GROUP BY 1),
      |tot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_cal
      |  FROM cells),
      |kk AS (SELECT n_cal, ((n_cal + 1) * 900 + 999) // 1000 AS k
      |  FROM tot),
      |cum AS (SELECT r, SUM(c) OVER (ORDER BY r) AS cum FROM cells),
      |q AS (SELECT MIN(r) AS q_hat FROM cum CROSS JOIN kk
      |  WHERE cum >= kk.k),
      |t AS (SELECT COUNT(*) AS n_test,
      |    SUM(CASE WHEN q.q_hat IS NULL OR r <= q.q_hat
      |      THEN 1 ELSE 0 END) AS ncov
      |  FROM r CROSS JOIN q WHERE par = 1)
      |SELECT kk.n_cal, CAST(kk.k AS BIGINT) AS k, q.q_hat,
      |  CAST(t.n_test AS BIGINT) AS n_test,
      |  CAST(t.ncov AS BIGINT) AS n_covered,
      |  CASE WHEN t.n_test <> 0 THEN
      |    CAST((CAST(t.ncov AS HUGEINT) * 1000000000) // t.n_test
      |      AS BIGINT) END AS coverage_q9
      |FROM kk CROSS JOIN q CROSS JOIN t ORDER BY n_cal""".stripMargin

  /** q282: `TextAnalysis.domainVocabOverlap` — the q266 tokenizer's
    * distinct (domain, token) sets, exact pairwise Jaccard in Q6 over
    * the a < b matrix (zero-overlap pairs completed from the size
    * table).
    */
  def q282DomainOverlap: String =
    """WITH dt AS (SELECT DISTINCT d.source AS g, t.w
      |  FROM documents d,
      |    unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9'']+'))
      |      AS t(w)
      |  WHERE t.w <> ''),
      |sz AS (SELECT g, COUNT(*) AS n FROM dt GROUP BY 1),
      |iv AS (SELECT a.g AS ga, b.g AS gb, COUNT(*) AS i
      |  FROM dt a JOIN dt b ON a.w = b.w AND a.g < b.g GROUP BY 1, 2)
      |SELECT sa.g AS domain_a, sb.g AS domain_b,
      |  CAST(COALESCE(iv.i, 0) AS BIGINT) AS n_common,
      |  CAST(sa.n + sb.n - COALESCE(iv.i, 0) AS BIGINT) AS n_union,
      |  CAST((CAST(COALESCE(iv.i, 0) AS HUGEINT) * 1000000)
      |    // (sa.n + sb.n - COALESCE(iv.i, 0)) AS BIGINT) AS jaccard_q6
      |FROM sz sa JOIN sz sb ON sa.g < sb.g
      |LEFT JOIN iv ON iv.ga = sa.g AND iv.gb = sb.g
      |ORDER BY domain_a, domain_b""".stripMargin

  /** q283: `Sketches.cmsPlan` — (eps_ppm, 1/δ) grid, width =
    * ⌈2718282/eps_ppm⌉ (e pinned at Q6), depth = ⌈lnQ12(1/δ)/10¹²⌉
    * via the shared ln CTE, bytes = w·d·8.
    */
  def q283CmsPlan: String =
    """WITH RECURSIVE _ks AS (SELECT CAST(x AS BIGINT) AS k
      |  FROM (VALUES (100), (10000), (1000000), (1000000000)) v(x)),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |grid AS (SELECT CAST(e.x AS BIGINT) AS eps_ppm,
      |    CAST(d.x AS BIGINT) AS delta_inv
      |  FROM (VALUES (10000), (1000), (100), (10)) e(x),
      |    (VALUES (100), (10000), (1000000), (1000000000)) d(x))
      |SELECT g.eps_ppm, g.delta_inv,
      |  CAST((2718282 + g.eps_ppm - 1) // g.eps_ppm AS BIGINT) AS width,
      |  CAST((l.l + 999999999999) // 1000000000000 AS BIGINT) AS depth,
      |  CAST(((2718282 + g.eps_ppm - 1) // g.eps_ppm)
      |    * ((l.l + 999999999999) // 1000000000000) * 8 AS BIGINT)
      |    AS bytes
      |FROM grid g JOIN _lnq l ON l.k = g.delta_inv
      |ORDER BY eps_ppm, delta_inv""".stripMargin

  /** q284/q285: `Dedup.dupInflation` — md5 digest multiplicity (the
    * q20 convention), size histogram, widened Q6 doc share.
    */
  def q284DupInflation: String =
    """WITH c AS (SELECT md5(text) AS digest, COUNT(*) AS n
      |  FROM documents GROUP BY 1),
      |h AS (SELECT n AS cluster_size, COUNT(*) AS n_clusters
      |  FROM c GROUP BY 1),
      |t AS (SELECT SUM(cluster_size * n_clusters) AS t FROM h)
      |SELECT CAST(h.cluster_size AS BIGINT) AS cluster_size,
      |  CAST(h.n_clusters AS BIGINT) AS n_clusters,
      |  CAST(h.cluster_size * h.n_clusters AS BIGINT) AS n_docs,
      |  CASE WHEN t.t <> 0 THEN
      |    CAST((CAST(h.cluster_size * h.n_clusters AS HUGEINT) * 1000000)
      |      // t.t AS BIGINT) END AS pct_docs_q6
      |FROM h CROSS JOIN t ORDER BY cluster_size""".stripMargin

  /** q287: `Dedup.domainDupReport` — per-source md5 multiplicity (the
    * q20/q284 digest convention) collapsed to docs/distinct/redundant
    * + widened Q6 dup rate.
    */
  def q287DomainDupRate: String =
    """WITH c AS (SELECT source, md5(text) AS d, COUNT(*) AS n
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(SUM(n - 1) AS BIGINT) AS n_redundant,
      |  CASE WHEN SUM(n) <> 0 THEN
      |    CAST((CAST(SUM(n - 1) AS HUGEINT) * 1000000) // SUM(n)
      |      AS BIGINT) END AS dup_rate_q6
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** q288: `TextAnalysis.langMixBySource` — q23's marker-hit CASE
    * ladder, crosstabbed by source with widened Q6 shares.
    */
  def q288LangMix: String =
    """WITH w AS (
      |  SELECT doc_id, w FROM documents,
      |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS t(w)
      |  WHERE w <> ''),
      |h AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN w IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit') THEN 1 ELSE 0 END) AS h_de,
      |    SUM(CASE WHEN w IN ('the','and','of','to','in','is','that','it','was','for') THEN 1 ELSE 0 END) AS h_en,
      |    SUM(CASE WHEN w IN ('el','la','los','las','y','es','un','una','que','por') THEN 1 ELSE 0 END) AS h_es,
      |    SUM(CASE WHEN w IN ('le','la','les','et','est','une','un','que','pour','dans') THEN 1 ELSE 0 END) AS h_fr,
      |    SUM(CASE WHEN w IN ('il','la','di','e','che','un','una','per','non','sono') THEN 1 ELSE 0 END) AS h_it,
      |    SUM(CASE WHEN w IN ('de','het','een','en','van','is','dat','niet','met','op') THEN 1 ELSE 0 END) AS h_nl
      |  FROM w GROUP BY doc_id),
      |p AS (SELECT d.source,
      |  CASE
      |    WHEN h.doc_id IS NULL OR GREATEST(h_de,h_en,h_es,h_fr,h_it,h_nl) = 0 THEN 'und'
      |    WHEN h_de >= GREATEST(h_en,h_es,h_fr,h_it,h_nl) THEN 'de'
      |    WHEN h_en >= GREATEST(h_es,h_fr,h_it,h_nl) THEN 'en'
      |    WHEN h_es >= GREATEST(h_fr,h_it,h_nl) THEN 'es'
      |    WHEN h_fr >= GREATEST(h_it,h_nl) THEN 'fr'
      |    WHEN h_it >= h_nl THEN 'it'
      |    ELSE 'nl' END AS lang_pred
      |  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id),
      |c AS (SELECT source, lang_pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
      |t AS (SELECT source, SUM(n) AS tn FROM c GROUP BY 1)
      |SELECT c.source, c.lang_pred, CAST(c.n AS BIGINT) AS n,
      |  CAST((CAST(c.n AS HUGEINT) * 1000000) // t.tn AS BIGINT)
      |    AS share_q6
      |FROM c JOIN t USING (source)
      |ORDER BY source, lang_pred""".stripMargin

  /** q289: `Sampling.temperatureMixturePlan` — per-domain token sums,
    * w = floor(√toks) via the shared Newton isqrt CTE, widened Q6 raw
    * and tempered shares.
    */
  /** [[graft.functions.FixedMath.isqrtCteSql]] with every fragment
    * name suffixed, so one statement can chain several independent
    * Newton-isqrt passes (q326 iterates floor-isqrt three times —
    * ⌊√⌊√x⌋⌋ = ⌊x^¼⌋, the nested-floor identity). `_isq` replaced
    * before `_sq` (substring hazard).
    */
  private def isqrtCteSuffixed(sfx: String): String =
    graft.functions.FixedMath.isqrtCteSql
      .replace("_isq", s"_isq$sfx")
      .replace("_sq", s"_sq$sfx")
      .replace("_sr", s"_sr$sfx")
      .replace("_sa", s"_sa$sfx")

  /** q326: `Sampling.temperatureSweep` — q289's cells, three chained
    * Newton-isqrt passes for the α = ½/¼/⅛ weights, per-α share +
    * head-share readout.
    */
  def q326TemperatureSweep: String =
    """WITH RECURSIVE cells AS (SELECT source,
      |    CAST(SUM(n_chars) AS BIGINT) AS toks
      |  FROM documents GROUP BY 1),
      |_saA AS (SELECT source AS id, CAST(toks AS HUGEINT) AS a
      |  FROM cells),
      |""".stripMargin + isqrtCteSuffixed("A") + """,
      |w500 AS (SELECT c.source, c.toks, CAST(i.r AS BIGINT) AS w
      |  FROM cells c JOIN _isqA i ON i.id = c.source),
      |_saB AS (SELECT source AS id, CAST(w AS HUGEINT) AS a
      |  FROM w500),
      |""".stripMargin + isqrtCteSuffixed("B") + """,
      |w250 AS (SELECT w.source, w.toks, CAST(i.r AS BIGINT) AS w
      |  FROM w500 w JOIN _isqB i ON i.id = w.source),
      |_saC AS (SELECT source AS id, CAST(w AS HUGEINT) AS a
      |  FROM w250),
      |""".stripMargin + isqrtCteSuffixed("C") + """,
      |w125 AS (SELECT w.source, w.toks, CAST(i.r AS BIGINT) AS w
      |  FROM w250 w JOIN _isqC i ON i.id = w.source),
      |alln AS (
      |  SELECT 1000 AS alpha_q3, source, toks, toks AS w FROM cells
      |  UNION ALL SELECT 500, source, toks, w FROM w500
      |  UNION ALL SELECT 250, source, toks, w FROM w250
      |  UNION ALL SELECT 125, source, toks, w FROM w125),
      |t AS (SELECT alpha_q3, SUM(w) AS tw FROM alln GROUP BY 1),
      |sh AS (SELECT a.alpha_q3, a.source, a.toks, a.w,
      |    CASE WHEN t.tw <> 0 THEN
      |      CAST((CAST(a.w AS HUGEINT) * 1000000) // t.tw AS BIGINT)
      |    END AS share_q6
      |  FROM alln a JOIN t ON t.alpha_q3 = a.alpha_q3)
      |SELECT CAST(alpha_q3 AS BIGINT) AS alpha_q3, source, toks, w,
      |  share_q6,
      |  MAX(share_q6) OVER (PARTITION BY alpha_q3) AS head_share_q6
      |FROM sh ORDER BY alpha_q3 DESC, source""".stripMargin

  def q289TemperatureMixture: String =
    """WITH RECURSIVE cells AS (SELECT source,
      |    CAST(SUM(n_chars) AS BIGINT) AS toks
      |  FROM documents GROUP BY 1),
      |_sa AS (SELECT source AS id, CAST(toks AS HUGEINT) AS a
      |  FROM cells),
      |""".stripMargin + graft.functions.FixedMath.isqrtCteSql + """,
      |w AS (SELECT c.source, c.toks, CAST(i.r AS BIGINT) AS w
      |  FROM cells c JOIN _isq i ON i.id = c.source),
      |t AS (SELECT SUM(toks) AS tt, SUM(w) AS tw FROM w)
      |SELECT w.source, w.toks,
      |  CASE WHEN t.tt <> 0 THEN
      |    CAST((CAST(w.toks AS HUGEINT) * 1000000) // t.tt AS BIGINT)
      |  END AS raw_share_q6,
      |  w.w AS w_sqrt,
      |  CASE WHEN t.tw <> 0 THEN
      |    CAST((CAST(w.w AS HUGEINT) * 1000000) // t.tw AS BIGINT)
      |  END AS temp_share_q6
      |FROM w CROSS JOIN t ORDER BY source""".stripMargin

  /** q291: `Similarity.annRecallAtK(bruteForceTopK, ivfTopKInt8)` —
    * q57's full unrolled integer-Lloyd IVF replay and q37's exact
    * float-cosine brute force composed in one statement (brute CTEs
    * renamed b*), hit join on (query, neighbor), Q6 per-query and
    * macro recall.
    */
  def q291AnnRecall: String = {
    val nCells = 16; val nProbe = 4; val iters = 2; val k = 5
    s"""WITH
       |${cellAsgnCtes(nCells, iters)},
       |  probe AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |      FROM d$iters WHERE vec_id < 20) WHERE rn <= $nProbe),
       |  cand AS (SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
       |           FROM probe p JOIN asgn$iters a
       |           ON p.cell = a.cell AND a.vec_id <> p.query_id),
       |  iscored AS (SELECT c.query_id, c.neighbor_id,
       |      sum(a.v * b.v)::BIGINT AS dot,
       |      sum(a.v * a.v)::BIGINT AS na, sum(b.v * b.v)::BIGINT AS nb
       |    FROM cand c
       |    JOIN vpos a ON a.vec_id = c.query_id
       |    JOIN vpos b ON b.vec_id = c.neighbor_id AND b.pos = a.pos
       |    GROUP BY 1, 2),
       |  iranked AS (SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY
       |        (CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |              ELSE dot::DOUBLE / sqrt((na * nb)::DOUBLE) END) DESC,
       |        neighbor_id)::INT AS rank
       |    FROM iscored),
       |  ivf AS (SELECT query_id, neighbor_id FROM iranked
       |    WHERE rank <= $k),
       |  bq AS (SELECT vec_id AS query_id, embedding AS qe
       |    FROM embeddings WHERE vec_id < 20),
       |  bscored AS (SELECT query_id, c.vec_id AS neighbor_id,
       |      ${cosExpr("qe", "c.embedding")} AS cosine
       |    FROM bq CROSS JOIN embeddings c WHERE c.vec_id <> bq.query_id),
       |  branked AS (SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id)::INT AS rank
       |    FROM bscored),
       |  truth AS (SELECT query_id, neighbor_id FROM branked
       |    WHERE rank <= $k),
       |  h AS (SELECT t.query_id, COUNT(i.neighbor_id) AS n_hits
       |    FROM truth t LEFT JOIN ivf i ON i.query_id = t.query_id
       |      AND i.neighbor_id = t.neighbor_id
       |    GROUP BY 1),
       |  o AS (SELECT SUM(n_hits) AS th, COUNT(*) AS nq FROM h)
       |SELECT h.query_id, CAST(h.n_hits AS BIGINT) AS n_hits,
       |  CAST((CAST(h.n_hits AS HUGEINT) * 1000000) // $k AS BIGINT)
       |    AS recall_q6,
       |  CASE WHEN o.nq <> 0 THEN
       |    CAST((CAST(o.th AS HUGEINT) * 1000000) // (o.nq * $k)
       |      AS BIGINT) END AS macro_recall_q6
       |FROM h CROSS JOIN o ORDER BY query_id""".stripMargin
  }

  /** q315: `Similarity.ivfProbePlan` — q291's IVF replay generalized
    * to a probe SWEEP: candidates carry their probe rank (≤ maxProbe),
    * a VALUES table of probe counts theta-joins them, per-probe
    * row_number ranking + the q291 hit join gives recall, and scan
    * cost sums probed-cell sizes; grid-completed per probe count.
    */
  def q315IvfProbePlan: String = {
    val nCells = 16; val iters = 2; val k = 5
    val probes = Seq(1, 2, 4, 8)
    val maxP = probes.max
    val probeVals = probes.map(p => s"($p)").mkString(", ")
    s"""WITH
       |${cellAsgnCtes(nCells, iters)},
       |  probe AS (SELECT vec_id AS query_id, cell, rn AS prn
       |    FROM (SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |      FROM d$iters WHERE vec_id < 20) WHERE rn <= $maxP),
       |  cand AS (SELECT p.query_id, p.prn, a.vec_id AS neighbor_id
       |           FROM probe p JOIN asgn$iters a
       |           ON p.cell = a.cell AND a.vec_id <> p.query_id),
       |  iscored AS (SELECT c.query_id, c.neighbor_id, c.prn,
       |      sum(a.v * b.v)::BIGINT AS dot,
       |      sum(a.v * a.v)::BIGINT AS na, sum(b.v * b.v)::BIGINT AS nb
       |    FROM cand c
       |    JOIN vpos a ON a.vec_id = c.query_id
       |    JOIN vpos b ON b.vec_id = c.neighbor_id AND b.pos = a.pos
       |    GROUP BY 1, 2, 3),
       |  nprobes(p) AS (VALUES $probeVals),
       |  iranked AS (SELECT np.p, s.query_id, s.neighbor_id,
       |      row_number() OVER (PARTITION BY np.p, s.query_id ORDER BY
       |        (CASE WHEN s.na = 0 OR s.nb = 0 THEN 0.0
       |              ELSE s.dot::DOUBLE / sqrt((s.na * s.nb)::DOUBLE) END)
       |          DESC, s.neighbor_id)::INT AS rank
       |    FROM iscored s JOIN nprobes np ON s.prn <= np.p),
       |  ivf AS (SELECT p, query_id, neighbor_id FROM iranked
       |    WHERE rank <= $k),
       |  bq AS (SELECT vec_id AS query_id, embedding AS qe
       |    FROM embeddings WHERE vec_id < 20),
       |  bscored AS (SELECT query_id, c.vec_id AS neighbor_id,
       |      ${cosExpr("qe", "c.embedding")} AS cosine
       |    FROM bq CROSS JOIN embeddings c WHERE c.vec_id <> bq.query_id),
       |  branked AS (SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id)::INT AS rank
       |    FROM bscored),
       |  truth AS (SELECT query_id, neighbor_id FROM branked
       |    WHERE rank <= $k),
       |  h AS (SELECT np.p, COUNT(i.neighbor_id) AS n_hits
       |    FROM nprobes np CROSS JOIN truth t
       |    LEFT JOIN ivf i ON i.p = np.p AND i.query_id = t.query_id
       |      AND i.neighbor_id = t.neighbor_id
       |    GROUP BY 1),
       |  nqv AS (SELECT COUNT(DISTINCT query_id) AS nq FROM truth),
       |  csz AS (SELECT cell, COUNT(*) AS csz FROM asgn$iters GROUP BY 1),
       |  ncv AS (SELECT COUNT(*) AS nc FROM asgn$iters),
       |  sc AS (SELECT np.p, SUM(csz.csz) AS rows_scanned
       |    FROM nprobes np JOIN probe pr ON pr.prn <= np.p
       |    JOIN csz ON csz.cell = pr.cell GROUP BY 1)
       |SELECT np.p::BIGINT AS n_probe,
       |  COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
       |  CASE WHEN nqv.nq > 0 THEN
       |    CAST((CAST(COALESCE(h.n_hits, 0) AS HUGEINT) * 1000000)
       |      // (nqv.nq * $k) AS BIGINT) END AS macro_recall_q6,
       |  COALESCE(sc.rows_scanned, 0)::BIGINT AS rows_scanned,
       |  CASE WHEN nqv.nq > 0 AND ncv.nc > 0 THEN
       |    CAST((CAST(COALESCE(sc.rows_scanned, 0) AS HUGEINT) * 1000000)
       |      // (nqv.nq * ncv.nc) AS BIGINT) END AS scan_share_q6
       |FROM nprobes np LEFT JOIN h ON h.p = np.p
       |LEFT JOIN sc ON sc.p = np.p
       |CROSS JOIN nqv CROSS JOIN ncv
       |ORDER BY n_probe""".stripMargin
  }

  /** q316: `Dedup.dedupThresholdSweep` — the q207 collapsed pair CTEs
    * at τ_min, a VALUES threshold table theta-joined on jaccard, per-τ
    * pair sums and distinct-group doc sums, grid-completed. Since r15
    * each threshold row also carries the touched documents' whitespace
    * token sum (the q79 token convention, summed per shingle-set
    * group) and its Q6 share of the corpus token total.
    */
  def q316DedupThresholdSweep: String = {
    val taus = Seq(0.7, 0.8, 0.9, 0.95, 1.0)
    val tauVals = taus
      .map(t => s"(${math.round(t * 1e6)}, ${t}::DOUBLE)").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(1, strlen(lower(text)) - 11)),
       |    i -> substring(lower(text), i, 12)))) AS tok
       |  FROM documents),
       |dtk AS (SELECT doc_id, CAST(GREATEST(0, COALESCE(
       |    len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
       |      w -> length(w) > 0)), 0)) AS BIGINT) AS ntk
       |  FROM documents),
       |ds AS (SELECT doc_id, list_sort(list(tok)) AS toks
       |  FROM tk GROUP BY doc_id),
       |g AS (SELECT toks, MIN(ds.doc_id) AS id, COUNT(*) AS n,
       |    SUM(dtk.ntk) AS tk
       |  FROM ds JOIN dtk ON dtk.doc_id = ds.doc_id GROUP BY toks),
       |pr AS (SELECT a.id AS id_a, b.id AS id_b,
       |    len(list_intersect(a.toks, b.toks)) AS inter,
       |    len(a.toks) AS sa, len(b.toks) AS sb,
       |    a.n AS n_a, b.n AS n_b
       |  FROM g a JOIN g b ON a.id < b.id),
       |interg AS (SELECT id_a, id_b,
       |    inter::DOUBLE / (sa + sb - inter) AS jaccard,
       |    n_a, n_b, n_a * n_b AS n_pairs
       |  FROM pr WHERE inter::DOUBLE / (sa + sb - inter) >= ${taus.min}),
       |intrag AS (SELECT id AS id_a, id AS id_b, 1.0::DOUBLE AS jaccard,
       |    n AS n_a, n AS n_b, n * (n - 1) // 2 AS n_pairs
       |  FROM g WHERE n > 1),
       |allp AS (SELECT * FROM interg UNION ALL SELECT * FROM intrag),
       |taus(tau_q6, tau) AS (VALUES $tauVals),
       |qual AS (SELECT t.tau_q6, p.* FROM allp p
       |  JOIN taus t ON p.jaccard >= t.tau),
       |pa AS (SELECT tau_q6, SUM(n_pairs) AS n_pairs FROM qual
       |  GROUP BY 1),
       |dg AS (SELECT DISTINCT tau_q6, gid, gn FROM (
       |  SELECT tau_q6, id_a AS gid, n_a AS gn FROM qual
       |  UNION ALL SELECT tau_q6, id_b, n_b FROM qual)),
       |da AS (SELECT tau_q6, COUNT(*) AS n_groups, SUM(gn) AS n_docs,
       |    SUM(g.tk) AS n_tokens
       |  FROM dg JOIN g ON g.id = dg.gid GROUP BY 1),
       |nt AS (SELECT COUNT(*) AS nd, COALESCE(SUM(ntk), 0) AS ntk
       |  FROM dtk)
       |SELECT t.tau_q6::BIGINT AS tau_q6,
       |  COALESCE(pa.n_pairs, 0)::BIGINT AS n_pairs,
       |  COALESCE(da.n_groups, 0)::BIGINT AS n_groups,
       |  COALESCE(da.n_docs, 0)::BIGINT AS n_docs,
       |  CASE WHEN nt.nd > 0 THEN
       |    CAST((CAST(COALESCE(da.n_docs, 0) AS HUGEINT) * 1000000)
       |      // nt.nd AS BIGINT) END AS doc_share_q6,
       |  COALESCE(da.n_tokens, 0)::BIGINT AS n_tokens,
       |  CASE WHEN nt.ntk > 0 THEN
       |    CAST((CAST(COALESCE(da.n_tokens, 0) AS HUGEINT) * 1000000)
       |      // nt.ntk AS BIGINT) END AS token_share_q6
       |FROM taus t LEFT JOIN pa USING (tau_q6)
       |LEFT JOIN da USING (tau_q6) CROSS JOIN nt
       |ORDER BY tau_q6""".stripMargin
  }

  /** q286: `Analytics.conformalCoverageByGroup` — q277's CTEs with
    * every stage keyed by l_returnflag (per-group n_cal/k/q̂, the
    * group-conditional Mondrian audit); groups need both splits.
    */
  def q286GroupConformal: String =
    """WITH b AS (SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS y,
      |    CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) * 200000
      |      AS yh,
      |    l_orderkey % 2 AS par
      |  FROM lineitem),
      |r AS (SELECT g, ABS(y - yh) AS r, par FROM b),
      |cells AS (SELECT g, r, COUNT(*) AS c FROM r WHERE par = 0
      |  GROUP BY 1, 2),
      |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_cal FROM cells
      |  GROUP BY 1),
      |kk AS (SELECT g, n_cal, ((n_cal + 1) * 900 + 999) // 1000 AS k
      |  FROM tot),
      |cum AS (SELECT g, r, SUM(c) OVER (PARTITION BY g ORDER BY r)
      |    AS cum FROM cells),
      |q AS (SELECT cum.g, MIN(r) AS q_hat FROM cum
      |  JOIN kk ON kk.g = cum.g WHERE cum.cum >= kk.k GROUP BY 1),
      |t AS (SELECT r.g, COUNT(*) AS n_test,
      |    SUM(CASE WHEN q.q_hat IS NULL OR r.r <= q.q_hat
      |      THEN 1 ELSE 0 END) AS ncov
      |  FROM r JOIN kk ON kk.g = r.g LEFT JOIN q ON q.g = r.g
      |  WHERE r.par = 1 GROUP BY 1)
      |SELECT kk.g AS grp, kk.n_cal, CAST(kk.k AS BIGINT) AS k, q.q_hat,
      |  CAST(t.n_test AS BIGINT) AS n_test,
      |  CAST(t.ncov AS BIGINT) AS n_covered,
      |  CASE WHEN t.n_test <> 0 THEN
      |    CAST((CAST(t.ncov AS HUGEINT) * 1000000000) // t.n_test
      |      AS BIGINT) END AS coverage_q9
      |FROM kk LEFT JOIN q ON q.g = kk.g JOIN t ON t.g = kk.g
      |ORDER BY grp""".stripMargin

  /** q278: `Analytics.signFlipTest` — per-user even−odd tenk diff, 64
    * splitmix sign patterns (the q224 seed family), permille p.
    */
  def q278SignFlip: String = {
    val seeds = (0 until 64)
      .map(j => s"($j, ${(Gold * (j + 1)) & Mask}::HUGEINT)").mkString(", ")
    val smx = staged(
      "SELECT k, d, j, (k + kj) % " + M64 + " AS z FROM dt CROSS JOIN seeds",
      splitmixStages("z"))
    s"""WITH e AS (SELECT user_id,
       |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vt,
       |    (epoch_us(ts) // 86400000000) % 2 AS par
       |  FROM events WHERE event_type = 'purchase'
       |    AND user_id IS NOT NULL),
       |dt AS (SELECT user_id::HUGEINT AS k,
       |    CAST(SUM(CASE WHEN par = 0 THEN vt ELSE -vt END) AS BIGINT)
       |      AS d
       |  FROM e GROUP BY 1),
       |seeds(j, kj) AS (VALUES $seeds),
       |sgn AS (SELECT j, d,
       |    CASE WHEN _sm % 2 = 1 THEN 1 ELSE -1 END AS s FROM ($smx)),
       |tb AS (SELECT j, ABS(CAST(SUM(s * d) AS BIGINT)) AS t
       |  FROM sgn GROUP BY 1),
       |obs AS (SELECT ABS(CAST(SUM(d) AS BIGINT)) AS t_obs,
       |    CAST(COUNT(*) AS BIGINT) AS n_keys FROM dt)
       |SELECT obs.n_keys, obs.t_obs, 64::BIGINT AS n_perms,
       |  CAST(SUM(CASE WHEN tb.t >= obs.t_obs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_ge,
       |  CAST((SUM(CASE WHEN tb.t >= obs.t_obs THEN 1 ELSE 0 END)
       |    * 1000) // 64 AS BIGINT) AS p_permille
       |FROM tb CROSS JOIN obs GROUP BY 1, 2, 3 ORDER BY n_keys""".stripMargin
  }

  /** q256: `Analytics.robustOutliers` — q237's median/MAD replay, the
    * modified z-score flag (|x − med| > 3·MAD), exact Q9 rate.
    */
  def q256RobustOutliers: String =
    """WITH b AS (SELECT o_orderpriority AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |r AS MATERIALIZED (SELECT g, x,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS n FROM b),
      |med AS (SELECT g, x AS med FROM r WHERE rn = (n + 1) // 2),
      |d AS (SELECT b.g, ABS(b.x - m.med) AS dx
      |  FROM b JOIN med m ON m.g = b.g),
      |r2 AS (SELECT g, dx,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY dx) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS n FROM d),
      |mad AS (SELECT g, dx AS mad FROM r2 WHERE rn = (n + 1) // 2),
      |f AS (SELECT b.g, COUNT(*) AS n,
      |    SUM(CASE WHEN ABS(b.x - m.med) > 3 * md.mad
      |      THEN 1 ELSE 0 END) AS n_out
      |  FROM b JOIN med m ON m.g = b.g JOIN mad md ON md.g = b.g
      |  GROUP BY 1)
      |SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n,
      |  CAST(n_out AS BIGINT) AS n_out,
      |  CAST((CAST(n_out AS HUGEINT) * 1000000000) // n AS BIGINT)
      |    AS out_rate_q9
      |FROM f ORDER BY 1""".stripMargin

  /** q257: `Analytics.cohenKappa` — q23's langid replay as the second
    * rater, confusion-matrix margins, κ as one SIGNED HUGEINT floor
    * division (DuckDB `//` floors; the Spark side uses the pmod form).
    */
  def q257CohenKappa: String =
    """WITH w AS (
      |  SELECT doc_id, w FROM documents,
      |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS t(w)
      |  WHERE w <> ''),
      |h AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN w IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit') THEN 1 ELSE 0 END) AS h_de,
      |    SUM(CASE WHEN w IN ('the','and','of','to','in','is','that','it','was','for') THEN 1 ELSE 0 END) AS h_en,
      |    SUM(CASE WHEN w IN ('el','la','los','las','y','es','un','una','que','por') THEN 1 ELSE 0 END) AS h_es,
      |    SUM(CASE WHEN w IN ('le','la','les','et','est','une','un','que','pour','dans') THEN 1 ELSE 0 END) AS h_fr,
      |    SUM(CASE WHEN w IN ('il','la','di','e','che','un','una','per','non','sono') THEN 1 ELSE 0 END) AS h_it,
      |    SUM(CASE WHEN w IN ('de','het','een','en','van','is','dat','niet','met','op') THEN 1 ELSE 0 END) AS h_nl
      |  FROM w GROUP BY doc_id),
      |p AS (SELECT d.lang AS a,
      |  CASE
      |    WHEN h.doc_id IS NULL OR GREATEST(h_de,h_en,h_es,h_fr,h_it,h_nl) = 0 THEN 'und'
      |    WHEN h_de >= GREATEST(h_en,h_es,h_fr,h_it,h_nl) THEN 'de'
      |    WHEN h_en >= GREATEST(h_es,h_fr,h_it,h_nl) THEN 'en'
      |    WHEN h_es >= GREATEST(h_fr,h_it,h_nl) THEN 'es'
      |    WHEN h_fr >= GREATEST(h_it,h_nl) THEN 'fr'
      |    WHEN h_it >= h_nl THEN 'it'
      |    ELSE 'nl' END AS b
      |  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
      |  WHERE d.lang IS NOT NULL),
      |cm AS (SELECT a, b, COUNT(*) AS c FROM p GROUP BY 1, 2),
      |rw AS (SELECT a AS l, SUM(c) AS ra FROM cm GROUP BY 1),
      |cl AS (SELECT b AS l, SUM(c) AS rb FROM cm GROUP BY 1),
      |pe AS (SELECT COALESCE(SUM(CAST(COALESCE(ra, 0) AS HUGEINT)
      |    * COALESCE(rb, 0)), 0) AS pe
      |  FROM rw FULL JOIN cl USING (l)),
      |t AS (SELECT SUM(c) AS n,
      |    SUM(CASE WHEN a = b THEN c ELSE 0 END) AS agree FROM cm)
      |SELECT CAST(t.n AS BIGINT) AS n, CAST(t.agree AS BIGINT) AS n_agree,
      |  CASE WHEN CAST(t.n AS HUGEINT) * t.n - pe.pe <> 0 THEN
      |    CAST(((CAST(t.agree AS HUGEINT) * t.n - pe.pe) * 1000000000)
      |      // (CAST(t.n AS HUGEINT) * t.n - pe.pe) AS BIGINT)
      |  END AS kappa_q9
      |FROM t CROSS JOIN pe ORDER BY n""".stripMargin

  /** q258: `Analytics.abcClassification` — per-part revenue, running
    * total over (value DESC, key), permille cuts by integer cross-
    * multiplication.
    */
  def q258AbcClasses: String =
    """WITH rev AS (SELECT l_partkey AS k,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
      |      AS DECIMAL(18,4)) AS rev
      |  FROM lineitem GROUP BY 1),
      |b AS (SELECT k, CAST(rev * 10000 AS BIGINT) AS v
      |  FROM rev WHERE rev IS NOT NULL),
      |r AS (SELECT k, v, SUM(v) OVER (ORDER BY v DESC, k) AS cum,
      |    SUM(v) OVER () AS tot FROM b),
      |c AS (SELECT CASE
      |    WHEN CAST(cum AS HUGEINT) * 1000 <= CAST(tot AS HUGEINT) * 800
      |      THEN 'A'
      |    WHEN CAST(cum AS HUGEINT) * 1000 <= CAST(tot AS HUGEINT) * 950
      |      THEN 'B'
      |    ELSE 'C' END AS abc_class, v, tot FROM r)
      |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(v) AS BIGINT) AS value_tenk,
      |  CAST((CAST(SUM(v) AS HUGEINT) * 1000000000) // MAX(tot) AS BIGINT)
      |    AS share_q9
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** q259: `Analytics.logRank` — q201's lifetimes in odd/even user
    * arms; per-event-time O−E and hypergeometric variance as Q9
    * floor-per-term integers (suffix-sum at-risk counts).
    */
  def q259LogRank: String =
    """WITH life AS (
      |  SELECT user_id,
      |    MAX(epoch_us(ts) // 86400000000)
      |      - MIN(epoch_us(ts) // 86400000000) AS t,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e,
      |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS a
      |  FROM events GROUP BY user_id),
      |cells AS (SELECT t,
      |    SUM(CASE WHEN a = 1 THEN e ELSE 0 END) AS d1, SUM(e) AS d,
      |    SUM(a) AS m1, COUNT(*) AS m
      |  FROM life GROUP BY 1),
      |ar AS (SELECT t, d1, d,
      |    SUM(m1) OVER (ORDER BY t DESC) AS n1,
      |    SUM(m) OVER (ORDER BY t DESC) AS n
      |  FROM cells),
      |terms AS (SELECT
      |    ((CAST(d1 AS HUGEINT) * n - CAST(n1 AS HUGEINT) * d)
      |      * 1000000000) // n AS oe,
      |    CASE WHEN n > 1 THEN (CAST(d AS HUGEINT) * n1 * (n - n1)
      |      * (n - d) * 1000000000)
      |      // (CAST(n AS HUGEINT) * n * (n - 1)) ELSE 0 END AS v
      |  FROM ar WHERE d > 0)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
      |  CAST(SUM(oe) AS BIGINT) AS oe_q9, CAST(SUM(v) AS BIGINT) AS var_q9
      |FROM terms""".stripMargin

  /** q250: `Analytics.aucExact` — per-distinct-score cells, strict-
    * below negative cumsum, tie-aware rank-sum numerator in HUGEINT,
    * one Q9 floor division.
    */
  def q250AucExact: String =
    """WITH lab AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS s,
      |    EXISTS (SELECT 1 FROM lineitem
      |            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') AS y
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |cells AS (SELECT s, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS p,
      |    SUM(CASE WHEN y THEN 0 ELSE 1 END) AS q FROM lab GROUP BY 1),
      |cum AS (SELECT p, q, COALESCE(SUM(q) OVER (ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
      |  FROM cells),
      |t AS (SELECT SUM(p) AS np, SUM(q) AS nq,
      |    SUM(CAST(p AS HUGEINT) * (2 * nb + q)) AS u2 FROM cum)
      |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nq AS BIGINT) AS n_neg,
      |  CASE WHEN np * nq <> 0 THEN CAST((u2 * 1000000000)
      |    // (2 * CAST(np AS HUGEINT) * nq) AS BIGINT) END AS auc_q9
      |FROM t""".stripMargin

  /** q251: `Analytics.decileLift` — descending (score, key) row
    * numbers, rank-determined deciles, cumulative capture/lift as
    * HUGEINT floor divisions.
    */
  def q251DecileLift: String =
    """WITH lab AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS s,
      |    EXISTS (SELECT 1 FROM lineitem
      |            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') AS y
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |r AS (SELECT s, y, ROW_NUMBER() OVER (ORDER BY s DESC, k) AS rn,
      |    COUNT(*) OVER () AS nn FROM lab),
      |per AS (SELECT ((rn - 1) * 10) // nn AS decile, COUNT(*) AS n,
      |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np,
      |    SUM(CAST(s AS HUGEINT)) AS ss
      |  FROM r GROUP BY 1),
      |c AS (SELECT decile, n, np, ss,
      |    SUM(n) OVER (ORDER BY decile) AS cn,
      |    SUM(np) OVER (ORDER BY decile) AS cp,
      |    SUM(n) OVER () AS tn, SUM(np) OVER () AS tp
      |  FROM per)
      |SELECT decile, CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
      |  CAST(cn AS BIGINT) AS cum_n, CAST(cp AS BIGINT) AS cum_pos,
      |  CAST(ss // n AS BIGINT) AS mean_score_tenk,
      |  CAST((CAST(np AS HUGEINT) * 1000000000) // n AS BIGINT) AS rate_q9,
      |  CASE WHEN tp <> 0 THEN CAST((CAST(cp AS HUGEINT) * 1000000000)
      |    // tp AS BIGINT) END AS capture_q9,
      |  CASE WHEN tp <> 0 THEN CAST((CAST(cp AS HUGEINT) * tn * 1000000000)
      |    // (CAST(tp AS HUGEINT) * cn) AS BIGINT) END AS lift_q9
      |FROM c ORDER BY decile""".stripMargin

  /** q252: `Analytics.emdDrift` — hour-of-day cells (odd vs even day),
    * cross-multiplied |CDF_ref − CDF_cur| integer terms, one Q9 floor
    * division by n_ref·n_cur.
    */
  def q252EmdDrift: String =
    """WITH b AS (
      |  SELECT (epoch_us(ts) // 3600000000) % 24 AS h,
      |    CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1
      |      THEN 1 ELSE 0 END AS cur
      |  FROM events),
      |cells AS (SELECT h, SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS r,
      |    SUM(cur) AS c FROM b GROUP BY 1),
      |tot AS (SELECT SUM(r) AS nr, SUM(c) AS nc, COUNT(*) AS k FROM cells),
      |cum AS (SELECT SUM(r) OVER (ORDER BY h) AS cr,
      |    SUM(c) OVER (ORDER BY h) AS cc FROM cells)
      |SELECT CAST(t.nr AS BIGINT) AS n_ref, CAST(t.nc AS BIGINT) AS n_cur,
      |  CAST(t.k AS BIGINT) AS n_bins,
      |  CASE WHEN t.nr * t.nc <> 0 THEN CAST(
      |    (SUM(ABS(CAST(cr AS HUGEINT) * t.nc - CAST(cc AS HUGEINT) * t.nr))
      |      * 1000000000) // (CAST(t.nr AS HUGEINT) * t.nc) AS BIGINT)
      |  END AS emd_q9
      |FROM cum CROSS JOIN tot t
      |GROUP BY t.nr, t.nc, t.k""".stripMargin

  /** q253: `Analytics.transitionTopK` — per-user LEAD pairs under the
    * (ts, event_id) total order, per-src top-3 by (count DESC, dst),
    * exact Q9 probabilities.
    */
  def q253Transitions: String =
    """WITH p AS (
      |  SELECT event_type AS src, LEAD(event_type) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst
      |  FROM events),
      |c AS (SELECT src, dst, COUNT(*) AS n FROM p
      |  WHERE dst IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT src, dst, n, SUM(n) OVER (PARTITION BY src) AS tot,
      |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rk
      |  FROM c)
      |SELECT src, CAST(rk AS BIGINT) AS rank, dst, CAST(n AS BIGINT) AS n,
      |  CAST((CAST(n AS HUGEINT) * 1000000000) // tot AS BIGINT) AS prob_q9
      |FROM r WHERE rk <= 3 ORDER BY src, rank""".stripMargin

  /** q292: `Analytics.transitionStationary` — q253's LEAD-pair cells,
    * row-stochastic Q9 matrix, 8 unrolled power-iteration rounds from
    * the uniform Q12 start with term-wise floors (the PageRank unroll
    * discipline applied to the behavioral chain).
    */
  def q292Stationary: String = {
    val rounds = 8
    val iter = (1 to rounds).map { r =>
      s"""m$r AS (SELECT pm.dst AS s,
         |    SUM((CAST(pk.pi AS HUGEINT) * pm.pq) // 1000000000) AS pi
         |  FROM pm JOIN pi${r - 1} pk ON pk.s = pm.src GROUP BY 1),
         |pi$r AS (SELECT st.s, COALESCE(m.pi, 0) AS pi
         |  FROM st LEFT JOIN m$r m ON m.s = st.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT event_type AS src, LEAD(event_type) OVER (
       |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst
       |  FROM events),
       |c AS (SELECT src, dst, COUNT(*) AS n FROM p
       |  WHERE dst IS NOT NULL GROUP BY 1, 2),
       |pm AS (SELECT src, dst,
       |    CAST((CAST(n AS HUGEINT) * 1000000000) //
       |      SUM(n) OVER (PARTITION BY src) AS BIGINT) AS pq
       |  FROM c),
       |st AS (SELECT DISTINCT src AS s FROM c
       |  UNION SELECT DISTINCT dst FROM c),
       |ns AS (SELECT COUNT(*) AS n FROM st),
       |pi0 AS (SELECT st.s, 1000000000000 // ns.n AS pi
       |  FROM st CROSS JOIN ns),
       |$iter
       |SELECT s AS state, CAST(pi AS BIGINT) AS pi_q12 FROM pi$rounds
       |ORDER BY state""".stripMargin
  }

  /** q294: `Analytics.pinballLoss` — q277's (y, ŷ) pair, per-τ
    * milli-unit integer losses, HUGEINT sum, widened Q6 mean.
    */
  def q294PinballLoss: String =
    """WITH b AS (SELECT
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      - CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) * 200000
      |      AS d
      |  FROM lineitem),
      |t AS (SELECT CAST(x AS BIGINT) AS tau_pm
      |  FROM (VALUES (100), (500), (900)) v(x)),
      |l AS (SELECT t.tau_pm,
      |    CASE WHEN b.d >= 0 THEN t.tau_pm * b.d
      |         ELSE (t.tau_pm - 1000) * b.d END AS lm
      |  FROM b CROSS JOIN t)
      |SELECT tau_pm, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(lm AS HUGEINT)) AS BIGINT) AS sum_loss_milli,
      |  CASE WHEN COUNT(*) <> 0 THEN
      |    CAST((SUM(CAST(lm AS HUGEINT)) * 1000) // COUNT(*) AS BIGINT)
      |  END AS mean_loss_q6
      |FROM l GROUP BY tau_pm ORDER BY tau_pm""".stripMargin

  /** q254: `Analytics.aucByGroup` — q250's rank-sum kernel partitioned
    * by order priority.
    */
  def q254AucByGroup: String =
    """WITH lab AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS s,
      |    EXISTS (SELECT 1 FROM lineitem
      |            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') AS y
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |cells AS (SELECT g, s, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS p,
      |    SUM(CASE WHEN y THEN 0 ELSE 1 END) AS q FROM lab GROUP BY 1, 2),
      |cum AS (SELECT g, p, q, COALESCE(SUM(q) OVER (PARTITION BY g
      |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS nb FROM cells),
      |t AS (SELECT g, SUM(p) AS np, SUM(q) AS nq,
      |    SUM(CAST(p AS HUGEINT) * (2 * nb + q)) AS u2 FROM cum GROUP BY 1)
      |SELECT g AS o_orderpriority, CAST(np AS BIGINT) AS n_pos,
      |  CAST(nq AS BIGINT) AS n_neg,
      |  CASE WHEN np * nq <> 0 THEN CAST((u2 * 1000000000)
      |    // (2 * CAST(np AS HUGEINT) * nq) AS BIGINT) END AS auc_q9
      |FROM t ORDER BY 1""".stripMargin

  /** q249: `Graphs.recHoldoutEval` — the temporal split, train-side
    * co-basket counts (distinct items per basket, maxGroup cap can't
    * trigger at oracle scale), per-source top-20 neighborhood
    * truncation by (count DESC, item), summed scores minus seen items,
    * ROW_NUMBER top-5 by (score DESC, item), first-hit rank, integer
    * MRR. The engine additionally restricts scoring to test-window
    * customers — output-identical (only they are eligible), so the
    * oracle keeps the plain form.
    */
  def q249RecEval: String =
    """WITH b AS MATERIALIZED (
      |  SELECT o_custkey AS c, l_orderkey AS g, l_partkey AS i,
      |    epoch_us(o_orderdate) // 86400000000 AS d
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |lim AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM b),
      |cut AS (SELECT lo + 4 * (hi - lo) // 5 AS cutoff FROM lim),
      |train AS MATERIALIZED (SELECT b.* FROM b CROSS JOIN cut WHERE d < cutoff),
      |test AS MATERIALIZED (SELECT b.* FROM b CROSS JOIN cut WHERE d >= cutoff),
      |ti AS MATERIALIZED (SELECT DISTINCT c, i FROM train),
      |si AS MATERIALIZED (SELECT DISTINCT c, i FROM test),
      |bi AS (SELECT DISTINCT g, i FROM train),
      |sz AS (SELECT g FROM bi GROUP BY g HAVING COUNT(*) <= 1000),
      |cooc0 AS MATERIALIZED (
      |  SELECT a.i AS src, x.i AS dst, COUNT(*) AS w
      |  FROM bi a JOIN bi x ON a.g = x.g AND a.i <> x.i
      |  JOIN sz ON sz.g = a.g
      |  GROUP BY 1, 2),
      |cooc AS MATERIALIZED (
      |  SELECT src, dst, w FROM (
      |    SELECT src, dst, w, ROW_NUMBER() OVER (
      |      PARTITION BY src ORDER BY w DESC, dst) AS nrn FROM cooc0)
      |  WHERE nrn <= 20),
      |sc AS MATERIALIZED (
      |  SELECT t.c, o.dst AS j, SUM(o.w) AS s
      |  FROM ti t JOIN cooc o ON o.src = t.i
      |  LEFT JOIN ti seen ON seen.c = t.c AND seen.i = o.dst
      |  WHERE seen.i IS NULL
      |  GROUP BY 1, 2),
      |recs AS MATERIALIZED (
      |  SELECT c, j, rn AS rank FROM (
      |    SELECT c, j, ROW_NUMBER() OVER (
      |      PARTITION BY c ORDER BY s DESC, j) AS rn FROM sc)
      |  WHERE rn <= 5),
      |elig AS (SELECT DISTINCT r.c FROM recs r
      |  WHERE EXISTS (SELECT 1 FROM si WHERE si.c = r.c)),
      |hits AS (SELECT r.c, MIN(r.rank) AS hr
      |  FROM recs r JOIN si ON si.c = r.c AND si.i = r.j
      |  GROUP BY 1)
      |SELECT COUNT(*) AS n_users, COUNT(h.hr) AS n_hit,
      |  CAST(COALESCE(SUM(1000000 // h.hr), 0) AS BIGINT) AS sum_recip_q6
      |FROM elig e LEFT JOIN hits h ON h.c = e.c""".stripMargin

  /** q248: `Curation.greedySetCover` — k unrolled greedy rounds: gains
    * as anti-join counts against the covered set, argmax (gain DESC,
    * doc_id), covered set grown per round (every round CTE
    * MATERIALIZED — the q233 inlining lesson), running coverage as a
    * window at the end.
    */
  def q248SetCover: String = {
    val k = 8
    val rounds = (1 to k).map { r =>
      val notPicked =
        if (r == 1) ""
        else s"AND d.doc_id NOT IN (SELECT doc_id FROM picked${r - 1})"
      val cov =
        if (r == 1) "SELECT d.t FROM tk d JOIN pick1 p ON d.doc_id = p.doc_id"
        else s"""SELECT t FROM cov${r - 1}
                |  UNION SELECT d.t FROM tk d JOIN pick$r p ON d.doc_id = p.doc_id""".stripMargin
      val anti =
        if (r == 1) ""
        else s"LEFT JOIN cov${r - 1} c ON c.t = d.t"
      val whereCov = if (r == 1) "WHERE TRUE" else "WHERE c.t IS NULL"
      val picked =
        if (r == 1) "SELECT doc_id FROM pick1"
        else s"SELECT doc_id FROM picked${r - 1} UNION SELECT doc_id FROM pick$r"
      s"""g$r AS MATERIALIZED (
         |  SELECT d.doc_id, COUNT(*) AS g FROM tk d $anti
         |  $whereCov $notPicked GROUP BY 1),
         |pick$r AS MATERIALIZED (
         |  SELECT doc_id, g, $r AS round FROM (
         |    SELECT doc_id, g, ROW_NUMBER() OVER (ORDER BY g DESC, doc_id) AS rn
         |    FROM g$r) WHERE rn = 1),
         |cov$r AS MATERIALIZED ($cov),
         |picked$r AS MATERIALIZED ($picked)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k)
      .map(r => s"SELECT round, doc_id, g FROM pick$r")
      .mkString("\nUNION ALL ")
    s"""WITH tk AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, t FROM (
       |    SELECT doc_id, unnest(
       |      CASE WHEN len(ws) >= 3
       |        THEN list_transform(range(1, len(ws) - 1),
       |               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |        ELSE [] END) AS t
       |    FROM (SELECT doc_id,
       |        list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |          w -> length(w) > 0) AS ws
       |      FROM documents WHERE text IS NOT NULL))),
       |$rounds
       |SELECT CAST(round AS BIGINT) AS round, doc_id,
       |  CAST(g AS BIGINT) AS new_tokens,
       |  CAST(SUM(g) OVER (ORDER BY round ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS covered_total
       |FROM ($unionAll)
       |ORDER BY round""".stripMargin
  }

  /** q246: `Layout.shardMigration` — the HRW argmax replayed with the
    * shared splitmix64 stage machinery (xor-mix seeds, signed-long
    * compare, ties to the smaller shard), both shard counts read from
    * ONE hash table.
    */
  def q246ShardMigration: String = {
    val kFrom = 16; val kTo = 20
    val seeds = (0 until kTo)
      .map(s => s"($s, ${(Gold * (s + 1)) & Mask}::HUGEINT)").mkString(", ")
    val smx = staged("SELECT doc_id, s, z FROM z", splitmixStages("z"))
    s"""WITH seeds(s, ks) AS (VALUES $seeds),
       |z AS (SELECT doc_id, s, xor(CAST(doc_id AS HUGEINT), ks) AS z
       |  FROM documents CROSS JOIN seeds),
       |h AS MATERIALIZED (SELECT doc_id, s, ${signed("_sm")} AS h FROM ($smx)),
       |f16 AS (SELECT doc_id, s AS s16 FROM (
       |  SELECT doc_id, s, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY h DESC, s) AS r
       |  FROM h WHERE s < $kFrom) WHERE r = 1),
       |f20 AS (SELECT doc_id, s AS s20 FROM (
       |  SELECT doc_id, s, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY h DESC, s) AS r
       |  FROM h) WHERE r = 1)
       |SELECT CAST(f20.s20 AS BIGINT) AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN f16.s16 <> f20.s20 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_moved_in
       |FROM f20 JOIN f16 USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q245: `Analytics.equiFrequencyBins` — shared ROW_NUMBER ordering,
    * rank-determined bins, exact tenk edges.
    */
  def q245EquifreqBins: String =
    """WITH b AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn,
      |    COUNT(*) OVER () AS nn FROM b)
      |SELECT ((rn - 1) * 10) // nn AS bin, MIN(x) AS lo_tenk,
      |  MAX(x) AS hi_tenk, COUNT(*) AS n
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** q244: `Analytics.targetEncode` — per-category tenk sums, the
    * additive-smoothing formula as one HUGEINT floor division.
    */
  def q244TargetEncode: String =
    """WITH b AS (
      |  SELECT l_returnflag AS c,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |per AS (SELECT c, COUNT(*) AS n, CAST(SUM(v) AS HUGEINT) AS s
      |  FROM b GROUP BY 1),
      |g AS (SELECT SUM(n) AS nn, SUM(s) AS ss FROM per)
      |SELECT per.c AS l_returnflag, CAST(per.n AS BIGINT) AS n,
      |  CAST((1000000::HUGEINT * (per.s * g.nn + 10 * g.ss))
      |    // (10000::HUGEINT * g.nn * (per.n + 10)) AS BIGINT) AS enc_q6
      |FROM per CROSS JOIN g ORDER BY 1""".stripMargin

  /** q243: `Features.pointInTimeFeatures` — identical value-based RANGE
    * frames per user ([t−7d, t] trailing + unbounded-preceding running
    * max), integer tenk spend and microsecond gaps; click rows only.
    */
  def q243PitFeatures: String =
    """WITH b AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    COALESCE(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT), 0) AS vt
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, event_type, us,
      |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN vt END) OVER (
      |      PARTITION BY user_id ORDER BY us
      |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW), 0)
      |      AS spend_7d_tenk,
      |    COUNT(*) OVER (
      |      PARTITION BY user_id ORDER BY us
      |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
      |      AS n_events_7d,
      |    us - MAX(CASE WHEN event_type = 'purchase' THEN us END) OVER (
      |      PARTITION BY user_id ORDER BY us
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_purchase_gap_us
      |  FROM b)
      |SELECT user_id, event_id, us,
      |  CAST(spend_7d_tenk AS BIGINT) AS spend_7d_tenk,
      |  CAST(n_events_7d AS BIGINT) AS n_events_7d, last_purchase_gap_us
      |FROM f WHERE event_type = 'click'
      |ORDER BY user_id, us, event_id""".stripMargin

  /** q242: `TextAnalysis.codeSwitch` — per-line q23 langid replay
    * (tokens grouped by an arbitrary-but-grouping-only line id), vote
    * counts per doc, majority by (votes DESC, lang), runner-up
    * cross-multiply, and the q199-style integer entropy on the
    * [[graft.functions.FixedMath.lnCteSql]] kernel.
    */
  def q242CodeSwitch: String =
    """WITH RECURSIVE aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    text || chr(10) || 'el la los las y es un una que por'
      |      || CASE WHEN doc_id < 125
      |         THEN chr(10) || 'der die das und ist nicht ein eine zu mit'
      |         ELSE '' END
      |  FROM documents WHERE doc_id < 250),
      |lines AS (
      |  SELECT doc_id, l, ROW_NUMBER() OVER (PARTITION BY doc_id) AS lid
      |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
      |        FROM aug)
      |  WHERE trim(l) <> ''),
      |w AS (
      |  SELECT doc_id, lid, w FROM lines,
      |    unnest(regexp_split_to_array(lower(l), '[^a-z0-9'']+')) AS t(w)
      |  WHERE w <> ''),
      |h AS (
      |  SELECT doc_id, lid,
      |    SUM(CASE WHEN w IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit') THEN 1 ELSE 0 END) AS h_de,
      |    SUM(CASE WHEN w IN ('the','and','of','to','in','is','that','it','was','for') THEN 1 ELSE 0 END) AS h_en,
      |    SUM(CASE WHEN w IN ('el','la','los','las','y','es','un','una','que','por') THEN 1 ELSE 0 END) AS h_es,
      |    SUM(CASE WHEN w IN ('le','la','les','et','est','une','un','que','pour','dans') THEN 1 ELSE 0 END) AS h_fr,
      |    SUM(CASE WHEN w IN ('il','la','di','e','che','un','una','per','non','sono') THEN 1 ELSE 0 END) AS h_it,
      |    SUM(CASE WHEN w IN ('de','het','een','en','van','is','dat','niet','met','op') THEN 1 ELSE 0 END) AS h_nl
      |  FROM w GROUP BY 1, 2),
      |ll AS (
      |  SELECT doc_id, lid,
      |    CASE
      |      WHEN GREATEST(h_de,h_en,h_es,h_fr,h_it,h_nl) = 0 THEN 'und'
      |      WHEN h_de >= GREATEST(h_en,h_es,h_fr,h_it,h_nl) THEN 'de'
      |      WHEN h_en >= GREATEST(h_es,h_fr,h_it,h_nl) THEN 'en'
      |      WHEN h_es >= GREATEST(h_fr,h_it,h_nl) THEN 'es'
      |      WHEN h_fr >= GREATEST(h_it,h_nl) THEN 'fr'
      |      WHEN h_it >= h_nl THEN 'it'
      |      ELSE 'nl' END AS lang
      |  FROM h),
      |votes AS MATERIALIZED (
      |  SELECT doc_id, lang, COUNT(*) AS c FROM ll WHERE lang <> 'und'
      |  GROUP BY 1, 2),
      |tot AS MATERIALIZED (
      |  SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_langs FROM votes GROUP BY 1),
      |_ks AS (SELECT DISTINCT k FROM (
      |  SELECT c AS k FROM votes UNION SELECT n FROM tot)),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |ent AS (
      |  SELECT v.doc_id, SUM(v.c * (ln_n.l - ln_c.l)) AS num
      |  FROM votes v JOIN tot t ON t.doc_id = v.doc_id
      |  JOIN _lnq ln_n ON ln_n.k = t.n
      |  JOIN _lnq ln_c ON ln_c.k = v.c
      |  GROUP BY 1),
      |maj AS (
      |  SELECT doc_id, lang AS majority_lang FROM (
      |    SELECT doc_id, lang, ROW_NUMBER() OVER (
      |      PARTITION BY doc_id ORDER BY c DESC, lang) AS r
      |    FROM votes) WHERE r = 1),
      |sec AS (
      |  SELECT v.doc_id, MAX(v.c) AS sec_c
      |  FROM votes v JOIN maj m ON m.doc_id = v.doc_id
      |    AND v.lang <> m.majority_lang
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(t.n, 0)::BIGINT AS n_voting_lines,
      |  COALESCE(m.majority_lang, 'und') AS majority_lang,
      |  COALESCE(t.n_langs, 0)::BIGINT AS n_langs,
      |  COALESCE(CAST(e.num // t.n AS BIGINT), 0) AS entropy_q12,
      |  COALESCE(t.n_langs >= 2 AND 8 * s.sec_c >= t.n, FALSE) AS mixed
      |FROM aug d
      |LEFT JOIN tot t ON t.doc_id = d.doc_id
      |LEFT JOIN maj m ON m.doc_id = d.doc_id
      |LEFT JOIN ent e ON e.doc_id = d.doc_id
      |LEFT JOIN sec s ON s.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q241: `Sketches.dyadicHistogram` + `dyadicQuantiles` — octave =
    * `length(bin(x))` (identical SQL both engines), 8 linear cells per
    * octave by integer floor division, cumulative bucket counts, and
    * the ⌈p·n⌉ rank bracketed by [lo, hi) edges — integer throughout.
    */
  def q241DyadicQuantiles: String =
    """WITH v AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL
      |    AND CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) > 0),
      |o AS (SELECT x, CAST(length(bin(x)) AS BIGINT) AS oct,
      |    (1::BIGINT << (length(bin(x)) - 1)) AS lo FROM v),
      |h AS MATERIALIZED (
      |  SELECT oct,
      |    CASE WHEN oct = 1 THEN 0 ELSE (8 * (x - lo)) // lo END AS cell,
      |    COUNT(*) AS n
      |  FROM o GROUP BY 1, 2),
      |c AS (SELECT oct, cell, n,
      |    SUM(n) OVER (ORDER BY oct, cell ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(n) OVER () AS nn,
      |    (1::BIGINT << (oct - 1)::INT) AS lo1
      |  FROM h),
      |p(num, den, pct) AS (VALUES (1, 2, 'p50'), (9, 10, 'p90'), (99, 100, 'p99'))
      |SELECT pct, CAST(nn AS BIGINT) AS n,
      |  CAST((num * nn + den - 1) // den AS BIGINT) AS target_rank,
      |  CASE WHEN oct = 1 THEN 1 ELSE lo1 + (cell * lo1) // 8 END AS est_lo,
      |  CASE WHEN oct = 1 THEN 2 ELSE lo1 + ((cell + 1) * lo1) // 8 END AS est_hi
      |FROM c JOIN p ON cum - n < (num * nn + den - 1) // den
      |  AND (num * nn + den - 1) // den <= cum
      |ORDER BY pct""".stripMargin

  /** q239: `Validation.profileTable` on `documents` — per-column
    * COUNT/COUNT(col)/COUNT(DISTINCT col), one branch per column.
    */
  def q239TableProfile: String = {
    val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
    cols.map(c =>
      s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** q238: `Sampling.budgetSample` — Hamilton allocation in integer
    * arithmetic (base = (k·n_g)//N, leftovers to the largest
    * remainders, ties by stratum), then per-stratum ROW_NUMBER over
    * (md5 hex, id). md5 of the decimal id string is byte-identical in
    * both engines.
    */
  def q238BudgetSample: String = {
    val k = 100
    s"""WITH cnt AS (SELECT source AS g, COUNT(*) AS ng FROM documents GROUP BY 1),
       |tot AS (SELECT SUM(ng) AS n FROM cnt),
       |alloc AS (SELECT g, ng, ($k * ng) // n AS base, ($k * ng) % n AS rem
       |  FROM cnt CROSS JOIN tot),
       |short AS (SELECT $k - SUM(base) AS extra FROM alloc),
       |rk AS (SELECT g, base, rem,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, g) AS rr FROM alloc),
       |quota AS (SELECT g, base + CASE WHEN rr <= extra THEN 1 ELSE 0 END AS quota
       |  FROM rk CROSS JOIN short),
       |sel AS (SELECT d.source AS g, d.doc_id,
       |    md5(CAST(d.doc_id AS VARCHAR)) AS h
       |  FROM documents d),
       |rnk AS (SELECT g, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY h, doc_id) AS rn
       |  FROM sel)
       |SELECT r.g AS source, r.doc_id, CAST(r.rn AS BIGINT) AS pick_rank,
       |  CAST(q.quota AS BIGINT) AS quota
       |FROM rnk r JOIN quota q ON q.g = r.g AND r.rn <= q.quota
       |WHERE q.quota > 0
       |ORDER BY source, pick_rank""".stripMargin
  }

  /** q237: `Analytics.robustStats` — tenk-unit values, ROW_NUMBER order
    * statistics (lower median, MAD around it, winsorize bounds at
    * ⌊n/10⌋ per side), floor-division integer mean of the clamped sum.
    * Every statistic reads a value at a rank, so tie order never
    * matters.
    */
  def q237RobustStats: String =
    """WITH b AS (SELECT o_orderpriority AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |r AS MATERIALIZED (SELECT g, x,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM b),
      |med AS (SELECT g, x AS med, n FROM r WHERE rn = (n + 1) // 2),
      |d AS (SELECT b.g, ABS(b.x - m.med) AS dx FROM b JOIN med m ON m.g = b.g),
      |r2 AS (SELECT g, dx,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY dx) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM d),
      |mad AS (SELECT g, dx AS mad FROM r2 WHERE rn = (n + 1) // 2),
      |vlo AS (SELECT g, x AS lo FROM r WHERE rn = n // 10 + 1),
      |vhi AS (SELECT g, x AS hi FROM r WHERE rn = n - n // 10),
      |wm AS (SELECT r.g, SUM(GREATEST(LEAST(r.x, h.hi), l.lo)) AS s, MAX(r.n) AS n
      |  FROM r JOIN vlo l ON l.g = r.g JOIN vhi h ON h.g = r.g
      |  GROUP BY 1)
      |SELECT m.g AS o_orderpriority, CAST(m.n AS BIGINT) AS n,
      |  m.med AS median_tenk, mad.mad AS mad_tenk,
      |  CAST(wm.s // wm.n AS BIGINT) AS winsor_mean_tenk
      |FROM med m JOIN mad ON mad.g = m.g JOIN wm ON wm.g = m.g
      |ORDER BY 1""".stripMargin

  /** q236: `Retrieval.hybridRrf` — lexical side from the q178
    * string-shingle truth (digest↔string equivalence is q178's
    * verified property), integer Jaccard `⌊10⁹·∩/∪⌋`; semantic side
    * from the q234 quantize→int-dot→one-IEEE-division cosine; RRF is
    * integer `⌊10⁹/(60+rank)⌋` sums over the two rank lists — ties by
    * doc id everywhere.
    */
  def q236HybridRrf: String = {
    val nQ = 3; val topN = 20; val fuseK = 10; val c = 60
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(1, strlen(lower(text)) - 11)),
       |    i -> substring(lower(text), i, 12)))) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS s FROM tk GROUP BY doc_id),
       |qtk AS MATERIALIZED (SELECT doc_id AS qid, tok FROM tk WHERE doc_id < $nQ),
       |li AS MATERIALIZED (
       |  SELECT q.qid, d.doc_id, COUNT(*) AS inter
       |  FROM tk d JOIN qtk q ON q.tok = d.tok AND d.doc_id <> q.qid
       |  GROUP BY 1, 2),
       |lsc AS (
       |  SELECT li.qid, li.doc_id,
       |    (1000000000 * li.inter) // (sa.s + sb.s - li.inter) AS score
       |  FROM li JOIN sz sa ON sa.doc_id = li.doc_id
       |  JOIN sz sb ON sb.doc_id = li.qid
       |  WHERE li.inter > 0),
       |lrank AS MATERIALIZED (
       |  SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |    FROM lsc) WHERE r <= $topN),
       |base AS (
       |  SELECT vec_id, embedding,
       |    COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |qv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE *
       |      (CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END) + 0.5) AS BIGINT)) AS q
       |  FROM base),
       |cell AS MATERIALIZED (
       |  SELECT vec_id, i, q[i] AS v
       |  FROM (SELECT vec_id, unnest(range(1, len(q) + 1)) AS i, q FROM qv)),
       |s2 AS MATERIALIZED (SELECT vec_id, SUM(v * v) AS ssq FROM cell GROUP BY 1),
       |dots AS MATERIALIZED (
       |  SELECT qc.vec_id AS query_id, cc.vec_id AS vec_id, SUM(cc.v * qc.v) AS dot
       |  FROM cell cc JOIN cell qc ON qc.i = cc.i AND qc.vec_id < $nQ
       |    AND cc.vec_id <> qc.vec_id
       |  GROUP BY 1, 2),
       |rel AS (
       |  SELECT d.query_id, d.vec_id, CAST(d.dot AS DOUBLE)
       |      / (sqrt(CAST(cs.ssq AS DOUBLE)) * sqrt(CAST(qs.ssq AS DOUBLE))) AS rel
       |  FROM dots d JOIN s2 cs ON cs.vec_id = d.vec_id
       |  JOIN s2 qs ON qs.vec_id = d.query_id),
       |srank AS MATERIALIZED (
       |  SELECT query_id, vec_id, r FROM (
       |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY rel DESC, vec_id) AS r
       |    FROM rel) WHERE r <= $topN),
       |f AS (
       |  SELECT COALESCE(l.qid, s.query_id) AS query_id,
       |    COALESCE(l.doc_id, s.vec_id) AS doc_id,
       |    l.r AS lex_rank, s.r AS sem_rank
       |  FROM lrank l FULL OUTER JOIN srank s
       |    ON s.query_id = l.qid AND s.vec_id = l.doc_id),
       |g AS (
       |  SELECT query_id, doc_id, lex_rank, sem_rank,
       |    COALESCE(1000000000 // ($c + lex_rank), 0)
       |      + COALESCE(1000000000 // ($c + sem_rank), 0) AS rrf_q9
       |  FROM f)
       |SELECT query_id, fused_rank, doc_id, rrf_q9, lex_rank, sem_rank
       |FROM (SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY rrf_q9 DESC, doc_id) AS fused_rank
       |  FROM g)
       |WHERE fused_rank <= $fuseK
       |ORDER BY query_id, fused_rank""".stripMargin
  }

  /** q234: `Similarity.mmrTopK` — the q81 quantization replay, integer
    * dots + the q193 one-IEEE-division cosine, ROW_NUMBER top-`pool`
    * candidate pools (TopKAgg's (ord DESC, id ASC) order), then the
    * λ=½ greedy unrolled: round r scores every unselected candidate
    * `0.5·rel − 0.5·MAX(sim to selected)` and picks (score DESC,
    * vec_id) — doubles identical to Spark's by construction (exact
    * ints into one division, one max, one fused-free `0.5·a − 0.5·b`).
    * Every round CTE is MATERIALIZED (the q233 lesson: DuckDB inlines
    * CTEs, and chained rounds re-expand exponentially otherwise).
    */
  def q234MmrTopK: String = {
    val k = 8; val pool = 40; val nQ = 3
    val rounds = (2 to k).map { r =>
      s"""cum${r - 1} AS (SELECT query_id, vec_id FROM picks${r - 1}),
         |n$r AS MATERIALIZED (
         |  SELECT c.query_id, c.vec_id, c.rel,
         |    0.5 * c.rel - 0.5 * MAX(m.s) AS score
         |  FROM pool c
         |  JOIN cum${r - 1} u ON u.query_id = c.query_id
         |  JOIN sim m ON m.query_id = c.query_id AND m.ai = c.vec_id
         |    AND m.bi = u.vec_id
         |  LEFT JOIN cum${r - 1} x ON x.query_id = c.query_id
         |    AND x.vec_id = c.vec_id
         |  WHERE x.vec_id IS NULL
         |  GROUP BY 1, 2, 3),
         |sel$r AS MATERIALIZED (
         |  SELECT query_id, vec_id, rel, score, $r AS rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id) AS rn FROM n$r) WHERE rn = 1),
         |picks$r AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM picks${r - 1}
         |  UNION ALL SELECT query_id, vec_id FROM sel$r)""".stripMargin
    }.mkString(",\n")
    val unionAll = (2 to k).map(r =>
      s"UNION ALL SELECT query_id, vec_id, rel, score, rank FROM sel$r")
      .mkString("\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |qv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE *
       |      (CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END) + 0.5) AS BIGINT)) AS q
       |  FROM base),
       |cell AS MATERIALIZED (
       |  SELECT vec_id, i, q[i] AS v
       |  FROM (SELECT vec_id, unnest(range(1, len(q) + 1)) AS i, q FROM qv)),
       |s2 AS MATERIALIZED (SELECT vec_id, SUM(v * v) AS ssq FROM cell GROUP BY 1),
       |dots AS MATERIALIZED (
       |  SELECT qc.vec_id AS query_id, cc.vec_id AS vec_id, SUM(cc.v * qc.v) AS dot
       |  FROM cell cc JOIN cell qc ON qc.i = cc.i AND qc.vec_id < $nQ
       |    AND cc.vec_id <> qc.vec_id
       |  GROUP BY 1, 2),
       |rel AS MATERIALIZED (
       |  SELECT d.query_id, d.vec_id, CAST(d.dot AS DOUBLE)
       |      / (sqrt(CAST(cs.ssq AS DOUBLE)) * sqrt(CAST(qs.ssq AS DOUBLE))) AS rel
       |  FROM dots d JOIN s2 cs ON cs.vec_id = d.vec_id
       |  JOIN s2 qs ON qs.vec_id = d.query_id),
       |pool AS MATERIALIZED (
       |  SELECT query_id, vec_id, rel FROM (
       |    SELECT query_id, vec_id, rel, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
       |    FROM rel) WHERE rn <= $pool),
       |pdots AS MATERIALIZED (
       |  SELECT a.query_id, a.vec_id AS ai, b.vec_id AS bi, SUM(ca.v * cb.v) AS dot
       |  FROM pool a JOIN pool b ON a.query_id = b.query_id
       |  JOIN cell ca ON ca.vec_id = a.vec_id
       |  JOIN cell cb ON cb.vec_id = b.vec_id AND cb.i = ca.i
       |  GROUP BY 1, 2, 3),
       |sim AS MATERIALIZED (
       |  SELECT p.query_id, p.ai, p.bi, CAST(p.dot AS DOUBLE)
       |      / (sqrt(CAST(sa.ssq AS DOUBLE)) * sqrt(CAST(sb.ssq AS DOUBLE))) AS s
       |  FROM pdots p JOIN s2 sa ON sa.vec_id = p.ai
       |  JOIN s2 sb ON sb.vec_id = p.bi),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, vec_id, rel, score, 1 AS rank FROM (
       |    SELECT query_id, vec_id, rel, 0.5 * rel AS score, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY 0.5 * rel DESC, vec_id) AS rn
       |    FROM pool) WHERE rn = 1),
       |picks1 AS MATERIALIZED (SELECT query_id, vec_id FROM sel1),
       |$rounds
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
       |  rel AS relevance, score AS mmr_score
       |FROM (SELECT query_id, vec_id, rel, score, rank FROM sel1
       |$unionAll)
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q247: `Embeddings.anisotropyProfile` — the q233 chain (quantize →
    * Gram → unrolled power rounds) re-read per vector: Q6-rescaled w,
    * exact integer ⟨q,w⟩ and |q|², one HUGEINT floor division for the
    * squared-cosine energy.
    */
  def q247Anisotropy: String = {
    val dim = 64; val rounds = 8
    val rk = (1 to rounds).map { r =>
      s"""n$r AS MATERIALIZED (SELECT g.i, SUM(g.g * v.p) AS num
         |  FROM gram g JOIN v${r - 1} v ON v.i = g.j GROUP BY 1),
         |m$r AS (SELECT GREATEST(MAX(ABS(num)) // 1000000000000, 1::HUGEINT) AS dn FROM n$r),
         |v$r AS MATERIALIZED (SELECT i, CASE WHEN num < 0 THEN -(ABS(num) // dn)
         |    ELSE ABS(num) // dn END AS p
         |  FROM n$r CROSS JOIN m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |s AS (SELECT vec_id, embedding,
       |    CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END AS scale
       |  FROM base),
       |qv AS MATERIALIZED (SELECT vec_id, d,
       |    CAST(floor(embedding[d+1]::DOUBLE * scale + 0.5) AS BIGINT) AS qd
       |  FROM s, (SELECT unnest(range(0, $dim)) AS d)),
       |gram AS MATERIALIZED (SELECT a.d AS i, b.d AS j, SUM(a.qd * b.qd)::HUGEINT AS g
       |  FROM qv a JOIN qv b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (SELECT unnest(range(0, $dim)) AS i, 1000000000000::HUGEINT AS p),
       |$rk,
       |w AS MATERIALIZED (SELECT i, CASE WHEN p < 0 THEN -(ABS(p) // 1000000)
       |    ELSE ABS(p) // 1000000 END AS pw FROM v$rounds),
       |wss AS (SELECT SUM(pw * pw) AS ws FROM w),
       |dots AS (SELECT qv.vec_id, SUM(qv.qd * w.pw) AS dw
       |  FROM qv JOIN w ON w.i = qv.d GROUP BY 1),
       |sq AS (SELECT vec_id, SUM(qd * qd) AS ssq FROM qv GROUP BY 1)
       |SELECT d.vec_id, CAST(d.dw AS BIGINT) AS dot_w_q6,
       |  CASE WHEN sq.ssq > 0 AND ws.ws > 0
       |    THEN CAST((1000000::HUGEINT * d.dw * d.dw)
       |      // (CAST(sq.ssq AS HUGEINT) * ws.ws) AS BIGINT)
       |    ELSE 0 END AS energy_on_axis_q6
       |FROM dots d JOIN sq USING (vec_id) CROSS JOIN wss ws
       |ORDER BY vec_id""".stripMargin
  }

  /** q57: `Similarity.ivfTopKInt8` — int8 quantization (the q81 replay),
    * splitmix64-seeded cells, unrolled integer Lloyd rounds (truncating
    * `//` centroid update ≡ Scala `Long./`; empty cells keep the previous
    * centroid via COALESCE), integer squared-L2 cell assignment with
    * tie → lowest cell, nProbe probing, and an exact integer-cosine top-k
    * re-rank (dot/norms are exact integer sums, so the final
    * `dot / sqrt(na·nb)` double is engine-identical).
    */
  /** Shared CTE prefix for the integer-exact ANN replays (q57 IVF, q84
    * PQ): int8 quantization (the q81 replay) → per-position values →
    * splitmix64 seed ranking (`nSeeds` hash-smallest vectors, cell index
    * = rank).
    */
  private def quantSeedCtes(nSeeds: Int): String =
    quantSeedCtes(nSeeds.toString)

  /** As [[quantSeedCtes(nSeeds:Int)*]] but the seed count is an
    * arbitrary scalar SQL expression (e.g. a subquery over a count
    * CTE) — the replay of the engine's auto-scaled nCells.
    */
  private def quantSeedCtes(nSeedsExpr: String,
      srcRel: String = "embeddings"): String = {
    val smx = staged(s"SELECT vec_id, vec_id::HUGEINT AS z FROM qz",
      splitmixStages("z"))
    s"""  qz AS (SELECT vec_id,
       |      list_transform(embedding, x -> CAST(floor(x::DOUBLE *
       |        (CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END) + 0.5) AS BIGINT)) AS qv
       |    FROM (SELECT vec_id, embedding,
       |            COALESCE(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |          FROM $srcRel)),
       |  vpos0 AS (SELECT vec_id, qv, unnest(range(len(qv))) AS pos FROM qz),
       |  vpos AS (SELECT vec_id, pos, qv[pos + 1] AS v FROM vpos0),
       |  sm AS (SELECT vec_id, ${signed("_sm")} AS h FROM ($smx)),
       |  seeds AS (SELECT vec_id, (row_number() OVER (ORDER BY h, vec_id) - 1)::INT AS cell
       |            FROM sm ORDER BY h, vec_id LIMIT $nSeedsExpr)""".stripMargin
  }

  /** Shared whole-vector integer-Lloyd chain (q57/q94):
    * [[quantSeedCtes]] + seed centroids + `iters` Lloyd rounds, ending
    * at `d<iters>` / `asgn<iters>` — the exact replay of
    * `Similarity.trainCellCentroids` + final cell assignment.
    * d<i>: per-(vector, cell) integer squared-L2 vs cent<i>;
    * asgn<i>: argmin cell per vector (tie → lowest cell index).
    */
  private def cellAsgnCtes(nCells: Int, iters: Int): String =
    cellAsgnCtes(nCells.toString, iters)

  private def cellAsgnCtes(nCellsExpr: String, iters: Int,
      srcRel: String = "embeddings"): String = {
    def dCtes(i: Int) =
      s"""  d$i AS (SELECT v.vec_id, c.cell, sum((v.v - c.c) * (v.v - c.c)) AS d2
         |          FROM vpos v JOIN cent$i c ON v.pos = c.pos GROUP BY 1, 2),
         |  asgn$i AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d$i)
         |    WHERE rn = 1)""".stripMargin
    val lloyd = (0 until iters).map { i =>
      dCtes(i) + ",\n" +
        s"""  cent${i + 1} AS (SELECT p.cell, p.pos, COALESCE(s.s // s.n, p.c) AS c
           |    FROM cent$i p LEFT JOIN
           |      (SELECT a.cell, v.pos, sum(v.v)::BIGINT AS s, count(*) AS n
           |       FROM asgn$i a JOIN vpos v ON a.vec_id = v.vec_id GROUP BY 1, 2) s
           |    ON p.cell = s.cell AND p.pos = s.pos)""".stripMargin
    }.mkString(",\n")
    s"""${quantSeedCtes(nCellsExpr, srcRel)},
       |  cent0 AS (SELECT s.cell, v.pos, v.v AS c FROM seeds s JOIN vpos v ON s.vec_id = v.vec_id),
       |$lloyd,
       |${dCtes(iters)}""".stripMargin
  }

  def q57KnnIvf: String = {
    val nCells = 16; val nProbe = 4; val iters = 2; val k = 5
    s"""WITH
       |${cellAsgnCtes(nCells, iters)},
       |  probe AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |      FROM d$iters WHERE vec_id < 20) WHERE rn <= $nProbe),
       |  cand AS (SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
       |           FROM probe p JOIN asgn$iters a
       |           ON p.cell = a.cell AND a.vec_id <> p.query_id),
       |  scored AS (SELECT c.query_id, c.neighbor_id, c.cell,
       |      sum(a.v * b.v)::BIGINT AS dot,
       |      sum(a.v * a.v)::BIGINT AS na, sum(b.v * b.v)::BIGINT AS nb
       |    FROM cand c
       |    JOIN vpos a ON a.vec_id = c.query_id
       |    JOIN vpos b ON b.vec_id = c.neighbor_id AND b.pos = a.pos
       |    GROUP BY 1, 2, 3),
       |  ranked AS (SELECT query_id, neighbor_id, cell, dot,
       |      row_number() OVER (PARTITION BY query_id ORDER BY
       |        (CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |              ELSE dot::DOUBLE / sqrt((na * nb)::DOUBLE) END) DESC,
       |        neighbor_id)::INT AS rank
       |    FROM scored)
       |SELECT query_id, neighbor_id, cell, dot, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q94: `Similarity.semanticDedup` — SemDeDup. The q57 training chain
    * ([[cellAsgnCtes]], same nCells/iters) assigns every vector a cell;
    * within-cell smaller-id pairs are scored with the all-integer
    * rational-threshold cosine test (dot > 0 ∧ den²·dot² ≥ num²·na·nb,
    * threshold 7/10), and each vector reports its earlier-id near-dup
    * count / smallest matching id / keep flag. nCells replays the
    * engine's AUTO-SCALE rule — LEAST(65536, ⌈count/1024⌉) derived from
    * the data itself — so the gate stays exact at every sf the driver
    * runs it at.
    */
  def q94SemanticDedup: String =
    s"""WITH
       |  ncauto AS (SELECT LEAST(65536, (count(*) + 1023) // 1024)::INT AS n
       |             FROM embeddings),
       |${cellAsgnCtes("(SELECT n FROM ncauto)", 2)},
       |  pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |            FROM asgn2 a JOIN asgn2 b
       |            ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |  scored AS (SELECT p.id_a, p.id_b,
       |      sum(x.v * y.v)::BIGINT AS dot,
       |      sum(x.v * x.v)::BIGINT AS na, sum(y.v * y.v)::BIGINT AS nb
       |    FROM pairs p
       |    JOIN vpos x ON x.vec_id = p.id_a
       |    JOIN vpos y ON y.vec_id = p.id_b AND y.pos = x.pos
       |    GROUP BY 1, 2),
       |  dup AS (SELECT id_b AS vec_id, count(*)::BIGINT AS n_dups_earlier,
       |      min(id_a)::BIGINT AS dup_of
       |    FROM scored WHERE dot > 0 AND 100 * dot * dot >= 49 * na * nb
       |    GROUP BY 1)
       |SELECT a.vec_id, a.cell,
       |  COALESCE(d.n_dups_earlier, 0)::BIGINT AS n_dups_earlier,
       |  COALESCE(d.dup_of, -1)::BIGINT AS dup_of,
       |  (d.vec_id IS NULL) AS keep
       |FROM asgn2 a LEFT JOIN dup d USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  /** q338: `Xval.semanticLeakageAudit` — the q94 chain over the
    * clone-augmented embeddings (cellAsgnCtes with srcRel=aug;
    * ncauto replays the auto-scale over the augmented count), the
    * SemDeDup min-parent edges (dup_of = min matching earlier id —
    * components of the parent-pointer forest, exactly what the engine
    * componentizes), recursive closure, md5Kfold fold replay on the
    * vector id, and the q330 straddle arithmetic.
    */
  def q338SemanticSplitLeakage: String =
    s"""WITH RECURSIVE
       |  aug AS (SELECT vec_id, embedding FROM embeddings
       |          UNION ALL
       |          SELECT vec_id + 1000000, embedding FROM embeddings
       |          WHERE vec_id < 50),
       |  ncauto AS (SELECT LEAST(65536, (count(*) + 1023) // 1024)::INT AS n
       |             FROM aug),
       |${cellAsgnCtes("(SELECT n FROM ncauto)", 2, "aug")},
       |  pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |            FROM asgn2 a JOIN asgn2 b
       |            ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |  scored AS (SELECT p.id_a, p.id_b,
       |      sum(x.v * y.v)::BIGINT AS dot,
       |      sum(x.v * x.v)::BIGINT AS na, sum(y.v * y.v)::BIGINT AS nb
       |    FROM pairs p
       |    JOIN vpos x ON x.vec_id = p.id_a
       |    JOIN vpos y ON y.vec_id = p.id_b AND y.pos = x.pos
       |    GROUP BY 1, 2),
       |  dup AS (SELECT id_b AS vec_id, min(id_a)::BIGINT AS dup_of
       |    FROM scored WHERE dot > 0 AND 100 * dot * dot >= 49 * na * nb
       |    GROUP BY 1),
       |  edges AS MATERIALIZED (SELECT dup_of AS s, vec_id AS d FROM dup
       |            UNION SELECT vec_id, dup_of FROM dup),
       |  reach(s, d) AS (SELECT s, d FROM edges
       |                  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |  minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
       |  f AS (SELECT m.id, m.cid,
       |      CAST(CAST('0x' || substr(md5(CAST(m.id AS VARCHAR)), 1, 8)
       |        AS UBIGINT) % 4 AS BIGINT) AS fold
       |    FROM minr m),
       |  cells AS (SELECT cid, fold, COUNT(*) AS n FROM f GROUP BY 1, 2),
       |  grp AS (SELECT cid, COUNT(DISTINCT fold) AS nf FROM cells GROUP BY 1),
       |  tot AS (SELECT COUNT(*)::BIGINT AS total_clusters,
       |      COALESCE(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END), 0)::BIGINT
       |        AS n_multi FROM grp),
       |  p AS (SELECT a.fold AS fold_a, b.fold AS fold_b,
       |      COUNT(*)::BIGINT AS n_leaky_clusters,
       |      SUM(CAST(a.n AS HUGEINT) * b.n) AS lp
       |    FROM cells a JOIN cells b ON a.cid = b.cid AND a.fold < b.fold
       |    GROUP BY 1, 2)
       |SELECT p.fold_a, p.fold_b, p.n_leaky_clusters,
       |  CAST(p.lp AS BIGINT) AS n_leaky_pairs,
       |  tot.total_clusters, tot.n_multi AS n_multi_fold_clusters,
       |  CAST(CASE WHEN tot.total_clusters > 0 THEN
       |    (CAST(tot.n_multi AS HUGEINT) * 1000000) // tot.total_clusters
       |    END AS BIGINT) AS leak_share_q6
       |FROM p CROSS JOIN tot ORDER BY fold_a, fold_b""".stripMargin

  /** q353: `Similarity.semanticDecontaminate` — the q94 training chain
    * over the corpus ∪ re-keyed benchmark union (cellAsgnCtes with
    * srcRel = uni; ncauto replays the auto-scale over the UNION
    * count), within-cell corpus×bench pairs scored with the
    * rational-threshold integer cosine (7/10), per-corpus-vector hit
    * count / smallest matching bench id / contaminated flag.
    */
  def q353SemanticDecontaminate: String =
    s"""WITH
       |  bench AS (SELECT vec_id + 1000000000000 AS vec_id, embedding
       |            FROM embeddings WHERE vec_id % 7 = 3),
       |  uni AS (SELECT vec_id, embedding FROM embeddings
       |          UNION ALL SELECT vec_id, embedding FROM bench),
       |  ncauto AS (SELECT LEAST(65536, (count(*) + 1023) // 1024)::INT AS n
       |             FROM uni),
       |${cellAsgnCtes("(SELECT n FROM ncauto)", 2, "uni")},
       |  pairs AS (SELECT a.vec_id AS cid, b.vec_id AS bid
       |            FROM asgn2 a JOIN asgn2 b ON a.cell = b.cell
       |            WHERE a.vec_id < 1000000000000
       |              AND b.vec_id >= 1000000000000),
       |  scored AS (SELECT p.cid, p.bid,
       |      sum(x.v * y.v)::BIGINT AS dot,
       |      sum(x.v * x.v)::BIGINT AS na, sum(y.v * y.v)::BIGINT AS nb
       |    FROM pairs p
       |    JOIN vpos x ON x.vec_id = p.cid
       |    JOIN vpos y ON y.vec_id = p.bid AND y.pos = x.pos
       |    GROUP BY 1, 2),
       |  hits AS (SELECT cid AS vec_id, count(*)::BIGINT AS n_bench_hits,
       |      min(bid)::BIGINT AS hit_bench_id
       |    FROM scored WHERE dot > 0 AND 100 * dot * dot >= 49 * na * nb
       |    GROUP BY 1)
       |SELECT a.vec_id, a.cell,
       |  COALESCE(h.n_bench_hits, 0)::BIGINT AS n_bench_hits,
       |  COALESCE(h.hit_bench_id, -1)::BIGINT AS hit_bench_id,
       |  (h.vec_id IS NOT NULL) AS contaminated
       |FROM asgn2 a LEFT JOIN hits h USING (vec_id)
       |WHERE a.vec_id < 1000000000000
       |ORDER BY a.vec_id""".stripMargin

  /** q104: `Similarity.knnClassify` — q37's exact-cosine top-k joined
    * to the neighbors' labels, majority vote per query (ties: more
    * votes, then smallest label).
    */
  def q104KnnClassify: String =
    s"""WITH
       |  q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |  scored AS (SELECT query_id, c.vec_id AS neighbor_id, c.label AS lbl,
       |               ${cosExpr("qe", "c.embedding")} AS cosine
       |             FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.query_id),
       |  ranked AS (SELECT query_id, neighbor_id, lbl,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY cosine DESC, neighbor_id) AS rank
       |             FROM scored),
       |  votes AS (SELECT query_id, lbl, count(*)::BIGINT AS votes
       |            FROM ranked WHERE rank <= 5 GROUP BY 1, 2),
       |  best AS (SELECT query_id, lbl, votes,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY votes DESC, lbl) AS rk
       |           FROM votes)
       |SELECT query_id, lbl AS pred_label, votes FROM best WHERE rk = 1
       |ORDER BY query_id""".stripMargin

  /** q106: `Similarity.hardNegatives(k=5, overfetch=4)` — q104's cosine
    * rank cut at k×overfetch, then different-label filter and re-rank.
    * The oracle replays the overfetch semantics exactly (shortlist
    * first, filter second) so the gate matches the engine even when a
    * neighborhood is label-homogeneous; `n_found` (the per-query
    * different-label candidate count — the saturation signal) is the
    * same pre-cut window count.
    */
  def q106HardNegatives: String =
    s"""WITH
       |  q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlbl
       |        FROM embeddings WHERE vec_id < 20),
       |  scored AS (SELECT query_id, qlbl, c.vec_id AS neighbor_id, c.label AS lbl,
       |               ${cosExpr("qe", "c.embedding")} AS cosine
       |             FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.query_id),
       |  ranked AS (SELECT query_id, qlbl, neighbor_id, lbl,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY cosine DESC, neighbor_id) AS rank
       |             FROM scored),
       |  short AS (SELECT * FROM ranked WHERE rank <= 20),
       |  neg AS (SELECT query_id, neighbor_id, lbl,
       |            row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rk,
       |            count(*) OVER (PARTITION BY query_id) AS n_found
       |          FROM short WHERE lbl <> qlbl)
       |SELECT query_id, neighbor_id, lbl AS neg_label, rk::BIGINT AS rank,
       |  n_found::BIGINT AS n_found
       |FROM neg WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin

  /** q84: `Similarity.pqTopKInt8` — product quantization with
    * asymmetric-distance scoring, all-integer: the [[quantSeedCtes]]
    * prefix, per-subvector integer Lloyd rounds (sub = pos // ds;
    * truncating `//` centroid update, empty cells keep the previous
    * centroid), per-(vector, sub) nearest-cell codes (tie → lowest cell),
    * then ADC — for a query, d<iters> IS its distance table, so the
    * score is one join of corpus codes onto it summed over subs.
    */
  def q84PqTopK: String = {
    val k = 5
    s"""${pqAdcRankedCtes(ksub = 16, m = 8, iters = 2)}
       |SELECT query_id, neighbor_id, adist, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q89: `Similarity.pqRefineTopK` — q84's ADC chain shortlists
    * k×refineFactor candidates, then the exact integer squared-L2 on the
    * int8 vectors re-ranks the true top-k out of the shortlist. The
    * exact distance is one (query, neighbor) positional join over vpos —
    * the same quantized table the PQ training used, so engine and oracle
    * agree bit-for-bit.
    */
  def q89PqRefine: String = {
    val k = 5; val rf = 4
    s"""${pqAdcRankedCtes(ksub = 16, m = 8, iters = 2)},
       |  cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= ${k * rf}),
       |  exact AS (SELECT c.query_id, c.neighbor_id,
       |      sum((q.v - n.v) * (q.v - n.v))::BIGINT AS dist2
       |    FROM cand c
       |    JOIN vpos q ON q.vec_id = c.query_id
       |    JOIN vpos n ON n.vec_id = c.neighbor_id AND n.pos = q.pos
       |    GROUP BY 1, 2),
       |  rranked AS (SELECT query_id, neighbor_id, dist2,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id)::INT AS rank
       |    FROM exact)
       |SELECT query_id, neighbor_id, dist2, rank FROM rranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Shared q84/q89 prefix: int8 quantize + per-subvector integer Lloyd
    * rounds + code assignment + ADC scoring, ending at the `ranked` CTE
    * (rank over ALL candidates, unfiltered — callers cut at their k).
    */
  private def pqAdcRankedCtes(ksub: Int, m: Int, iters: Int): String = {
    val dsExpr = s"(SELECT len(qv) FROM qz LIMIT 1) // $m"
    // d<i>: per-(vector, sub, cell) integer squared-L2 vs cent<i>;
    // code<i>: argmin cell per (vector, sub)
    def dCtes(i: Int) =
      s"""  d$i AS (SELECT v.vec_id, c.sub, c.cell, sum((v.v - c.c) * (v.v - c.c)) AS d2
         |          FROM vpos v JOIN cent$i c ON v.pos = c.pos GROUP BY 1, 2, 3),
         |  code$i AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS rn FROM d$i)
         |    WHERE rn = 1)""".stripMargin
    val lloyd = (0 until iters).map { i =>
      dCtes(i) + ",\n" +
        s"""  cent${i + 1} AS (SELECT p.sub, p.cell, p.pos, COALESCE(s.s // s.n, p.c) AS c
           |    FROM cent$i p LEFT JOIN
           |      (SELECT a.sub, a.cell, v.pos, sum(v.v)::BIGINT AS s, count(*) AS n
           |       FROM code$i a JOIN vpos v
           |       ON a.vec_id = v.vec_id AND (v.pos // (SELECT ds FROM ds)) = a.sub
           |       GROUP BY 1, 2, 3) s
           |    ON p.sub = s.sub AND p.cell = s.cell AND p.pos = s.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |${quantSeedCtes(ksub)},
       |  ds AS (SELECT $dsExpr AS ds),
       |  cent0 AS (SELECT (v.pos // (SELECT ds FROM ds)) AS sub, s.cell, v.pos, v.v AS c
       |            FROM seeds s JOIN vpos v ON s.vec_id = v.vec_id),
       |$lloyd,
       |${dCtes(iters)},
       |  scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      sum(q.d2)::BIGINT AS adist
       |    FROM d$iters q JOIN code$iters c ON q.sub = c.sub AND q.cell = c.cell
       |    WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
       |    GROUP BY 1, 2),
       |  ranked AS (SELECT query_id, neighbor_id, adist,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id)::INT AS rank
       |    FROM scored)""".stripMargin
  }

  /** q319: `Similarity.pqRefinePlan` — the q84/q89 ADC chain at the
    * deepest shortlist (k·max(f), adc_rank kept), ONE exact re-score
    * of those candidates, the exact integer-L2 top-k truth over the
    * whole int8 corpus, then per refine factor the window re-rank at
    * `adc_rank ≤ k·f`, recall join, and refine-cost shares — every
    * division a HUGEINT floor matching the engine's DECIMAL DIVs.
    */
  def q319PqRefinePlan: String = {
    val k = 5; val rfs = Seq(1, 2, 4, 8); val rfMax = rfs.max
    val rfValues = rfs.map(f => s"($f)").mkString(", ")
    s"""${pqAdcRankedCtes(ksub = 16, m = 8, iters = 2)},
       |  cand AS (SELECT query_id, neighbor_id, rank AS adc_rank
       |           FROM ranked WHERE rank <= ${k * rfMax}),
       |  exact AS (SELECT c.query_id, c.neighbor_id, c.adc_rank,
       |      sum((q.v - n.v) * (q.v - n.v))::BIGINT AS dist2
       |    FROM cand c
       |    JOIN vpos q ON q.vec_id = c.query_id
       |    JOIN vpos n ON n.vec_id = c.neighbor_id AND n.pos = q.pos
       |    GROUP BY 1, 2, 3),
       |  td AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |      sum((q.v - n.v) * (q.v - n.v))::BIGINT AS dist2
       |    FROM vpos q JOIN vpos n ON n.pos = q.pos AND n.vec_id <> q.vec_id
       |    WHERE q.vec_id < 20 GROUP BY 1, 2),
       |  truth AS (SELECT query_id, neighbor_id FROM (
       |      SELECT query_id, neighbor_id, row_number() OVER (
       |        PARTITION BY query_id ORDER BY dist2, neighbor_id) AS rn
       |      FROM td) WHERE rn <= $k),
       |  rfs(rf) AS (VALUES $rfValues),
       |  app AS (SELECT rf, query_id, neighbor_id FROM (
       |      SELECT r.rf, e.query_id, e.neighbor_id,
       |        row_number() OVER (PARTITION BY r.rf, e.query_id
       |          ORDER BY e.dist2, e.neighbor_id) AS rn
       |      FROM rfs r JOIN exact e ON e.adc_rank <= r.rf * $k)
       |    WHERE rn <= $k),
       |  hits AS (SELECT a.rf, count(*)::BIGINT AS n_hits
       |    FROM app a JOIN truth t USING (query_id, neighbor_id)
       |    GROUP BY 1),
       |  nref AS (SELECT r.rf, count(*)::BIGINT AS n_refined
       |    FROM rfs r JOIN exact e ON e.adc_rank <= r.rf * $k GROUP BY 1),
       |  nn AS (SELECT
       |    (SELECT count(DISTINCT vec_id) FROM vpos WHERE vec_id < 20) AS nq,
       |    (SELECT count(DISTINCT vec_id) FROM vpos) AS ncorp)
       |SELECT r.rf::BIGINT AS refine_factor, (r.rf * $k)::BIGINT AS depth,
       |  COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
       |  CASE WHEN nq > 0 THEN ((COALESCE(h.n_hits, 0)::HUGEINT * 1000000)
       |    // (nq * $k))::BIGINT END AS macro_recall_q6,
       |  COALESCE(f.n_refined, 0)::BIGINT AS n_refined,
       |  CASE WHEN nq > 0 AND ncorp > 0 THEN
       |    ((COALESCE(f.n_refined, 0)::HUGEINT * 1000000)
       |      // (nq * ncorp))::BIGINT END AS refine_share_q6
       |FROM rfs r LEFT JOIN hits h ON h.rf = r.rf
       |LEFT JOIN nref f ON f.rf = r.rf
       |CROSS JOIN nn ORDER BY refine_factor""".stripMargin
  }

  /** q85: `Similarity.ivfPqTopKInt8` — IVF-PQ with residual encoding,
    * all-integer: the q57 coarse-quantizer chain (cent/asgn), residuals
    * rv = v − cent[own cell], per-subvector residual Lloyd rounds (PQ
    * seeds = residuals of the first `ksub` hash-ranked ids, reusing the
    * shared `seeds` ranking), corpus coded per (cell, sub); queries probe
    * `nProbe` cells, build per-(query, cell) residual distance tables
    * (`qdt` — exactly the engine's broadcast ADC tables), and candidates
    * in probed cells score by one (cell, sub, code) join summed over
    * subs.
    */
  def q85IvfPq: String = {
    val nCells = 16; val nProbe = 4; val m = 8; val ksub = 16
    val iters = 2; val k = 5
    // ---- coarse quantizer: identical chain to q57 ----
    def dCtes(i: Int) =
      s"""  d$i AS (SELECT v.vec_id, c.cell, sum((v.v - c.c) * (v.v - c.c)) AS d2
         |          FROM vpos v JOIN cent$i c ON v.pos = c.pos GROUP BY 1, 2),
         |  asgn$i AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d$i)
         |    WHERE rn = 1)""".stripMargin
    val lloyd = (0 until iters).map { i =>
      dCtes(i) + ",\n" +
        s"""  cent${i + 1} AS (SELECT p.cell, p.pos, COALESCE(s.s // s.n, p.c) AS c
           |    FROM cent$i p LEFT JOIN
           |      (SELECT a.cell, v.pos, sum(v.v)::BIGINT AS s, count(*) AS n
           |       FROM asgn$i a JOIN vpos v ON a.vec_id = v.vec_id GROUP BY 1, 2) s
           |    ON p.cell = s.cell AND p.pos = s.pos)""".stripMargin
    }.mkString(",\n")
    // ---- residual PQ: q84's per-sub chain over rpos instead of vpos ----
    def pdCtes(i: Int) =
      s"""  pd$i AS (SELECT r.vec_id, pc.sub, pc.pc, sum((r.rv - pc.c) * (r.rv - pc.c)) AS d2
         |           FROM rpos r JOIN pqcent$i pc ON r.pos = pc.pos GROUP BY 1, 2, 3),
         |  pcode$i AS (SELECT vec_id, sub, pc FROM (SELECT vec_id, sub, pc,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, pc) AS rn FROM pd$i)
         |    WHERE rn = 1)""".stripMargin
    val pqLloyd = (0 until iters).map { i =>
      pdCtes(i) + ",\n" +
        s"""  pqcent${i + 1} AS (SELECT p.sub, p.pc, p.pos, COALESCE(s.s // s.n, p.c) AS c
           |    FROM pqcent$i p LEFT JOIN
           |      (SELECT a.sub, a.pc, r.pos, sum(r.rv)::BIGINT AS s, count(*) AS n
           |       FROM pcode$i a JOIN rpos r
           |       ON a.vec_id = r.vec_id AND (r.pos // (SELECT ds FROM ds)) = a.sub
           |       GROUP BY 1, 2, 3) s
           |    ON p.sub = s.sub AND p.pc = s.pc AND p.pos = s.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |${quantSeedCtes(math.max(nCells, ksub))},
       |  ds AS (SELECT (SELECT len(qv) FROM qz LIMIT 1) // $m AS ds),
       |  cent0 AS (SELECT s.cell, v.pos, v.v AS c FROM seeds s JOIN vpos v
       |            ON s.vec_id = v.vec_id WHERE s.cell < $nCells),
       |$lloyd,
       |${dCtes(iters)},
       |  rpos AS (SELECT v.vec_id, a.cell, v.pos, v.v - c.c AS rv
       |           FROM vpos v JOIN asgn$iters a ON v.vec_id = a.vec_id
       |           JOIN cent$iters c ON c.cell = a.cell AND c.pos = v.pos),
       |  pqcent0 AS (SELECT (r.pos // (SELECT ds FROM ds)) AS sub, s.cell AS pc, r.pos, r.rv AS c
       |              FROM seeds s JOIN rpos r ON s.vec_id = r.vec_id WHERE s.cell < $ksub),
       |$pqLloyd,
       |${pdCtes(iters)},
       |  probe AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |      FROM d$iters WHERE vec_id < 20) WHERE rn <= $nProbe),
       |  qrpos AS (SELECT p.query_id, p.cell, v.pos, v.v - c.c AS rv
       |            FROM probe p JOIN vpos v ON v.vec_id = p.query_id
       |            JOIN cent$iters c ON c.cell = p.cell AND c.pos = v.pos),
       |  qdt AS (SELECT q.query_id, q.cell, pc.sub, pc.pc,
       |      sum((q.rv - pc.c) * (q.rv - pc.c)) AS d2
       |    FROM qrpos q JOIN pqcent$iters pc ON pc.pos = q.pos
       |    GROUP BY 1, 2, 3, 4),
       |  scored AS (SELECT t.query_id, a.vec_id AS neighbor_id,
       |      any_value(t.cell) AS cell, sum(t.d2)::BIGINT AS adist
       |    FROM qdt t
       |    JOIN asgn$iters a ON a.cell = t.cell AND a.vec_id <> t.query_id
       |    JOIN pcode$iters n ON n.vec_id = a.vec_id AND n.sub = t.sub AND n.pc = t.pc
       |    GROUP BY 1, 2),
       |  ranked AS (SELECT query_id, neighbor_id, cell, adist,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id)::INT AS rank
       |    FROM scored)
       |SELECT query_id, neighbor_id, cell, adist, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q82: `EventStreams.clickPurchaseJoin` — the streaming interval join
    * replayed as a batch join on epoch-µs longs (inner stream-stream
    * joins emit every match, so the streamed result equals the batch
    * join; timestamps compare at µs like every other events oracle).
    */
  def q82StreamIntervalJoin: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(c.ts) >= epoch_us(p.ts)
      | AND epoch_us(c.ts) <= epoch_us(p.ts) + 7200000000
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** q88: [[graft.functions.Bpe]] — the GPT-2-style merge walk replayed
    * in SQL. The state string wraps each symbol as chr(30)‖sym‖chr(31)
    * (control chars the pre-tokenizer excludes from tokens), so one
    * `replace()` of chr(30)‖a‖chr(31)‖chr(30)‖b‖chr(31) with
    * chr(30)‖ab‖chr(31) IS the BPE step: SQL replace substitutes every
    * non-overlapping occurrence left-to-right, exactly the published
    * merge semantics, and the delimiters make a match possible only
    * where a whole symbol equals `a` and the next whole symbol equals
    * `b`. The recursive CTE picks the present pair with the lowest rank
    * each round (LATERAL … ORDER BY rnk LIMIT 1) until none applies;
    * the walk runs per globally DISTINCT pre-token and joins back — the
    * same dedup the oracle uses for minhash shingles. Pre-tokenizer and
    * fixture merges come verbatim from [[graft.functions.Bpe]]
    * (alphanumeric pairs only, so no LIKE/quote escaping is needed).
    */
  def q88BpeTokens: String = {
    val values = graft.functions.Bpe.defaultMerges.zipWithIndex
      .map { case ((a, b), i) => s"('$a','$b',$i)" }.mkString(", ")
    val head = "WITH RECURSIVE\nmerges(a, b, rnk) AS (VALUES "
    val body =
      """),
        |pre AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s\x00-\x1f]+') AS ws
        |  FROM documents),
        |flat AS (SELECT doc_id, s.pos AS widx, s.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(0, len(ws)),
        |    i -> {'pos': i, 'w': ws[i+1]})) AS s FROM pre)),
        |uw AS (SELECT DISTINCT w FROM flat),
        |init AS (SELECT w, list_aggregate(list_transform(string_split(w, ''),
        |    c -> chr(30) || c || chr(31)), 'string_agg', '') AS s FROM uw),
        |walk AS (
        |  SELECT w, s FROM init
        |  UNION ALL
        |  SELECT walk.w, replace(walk.s,
        |      chr(30)||bm.a||chr(31)||chr(30)||bm.b||chr(31),
        |      chr(30)||bm.a||bm.b||chr(31))
        |  FROM walk, LATERAL (SELECT a, b FROM merges
        |    WHERE walk.s LIKE '%'||chr(30)||a||chr(31)||chr(30)||b||chr(31)||'%'
        |    ORDER BY rnk LIMIT 1) bm),
        |fin AS (SELECT w, s FROM walk t WHERE NOT EXISTS (
        |  SELECT 1 FROM merges m
        |  WHERE t.s LIKE '%'||chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31)||'%')),
        |toks AS (SELECT w,
        |    len(s) - length(replace(s, chr(30), '')) AS n_toks,
        |    array_to_string(string_split(trim(s, chr(30)||chr(31)), chr(31)||chr(30)), ' ') AS tstr
        |  FROM fin),
        |agg AS (SELECT f.doc_id, SUM(t.n_toks)::BIGINT AS n_tokens_bpe,
        |    string_agg(t.tstr, ' ' ORDER BY f.widx) AS tokens_str
        |  FROM flat f JOIN toks t USING (w) GROUP BY f.doc_id)
        |SELECT d.doc_id, COALESCE(a.n_tokens_bpe, 0)::BIGINT AS n_tokens_bpe,
        |  COALESCE(a.tokens_str, '') AS tokens_str
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin
    head + values + body
  }

  /** q108: [[graft.functions.Bpe]] byteLevel mode — q88's recursive
    * merge-walk replay, upgraded to the real GPT-2 byte-level (Ġ)
    * convention on the fragment RE2 can express. Domain: ASCII-only
    * docs, whitespace-normalized (explicit `[ \t\n\f\r\x0B]+` class on
    * both engines — Java and RE2 disagree on whether \s has \x0B) and
    * trimmed, so the GPT-2 pre-tokenizer's `\s+(?!\S)` lookahead branch
    * can never match and the RE2 alternation below is exactly
    * equivalent. Each pre-token char then maps through the published
    * byte↔unicode bijection (identity for `!`..`~`, 256+b for b ≤ 32 —
    * space lands on Ġ — and DEL on 289) before the same walk.
    */
  def q108BpeByteTokens: String = {
    val values = graft.functions.Bpe.gpt2DemoMerges.zipWithIndex
      .map { case ((a, b), i) => s"('$a','$b',$i)" }.mkString(", ")
    val head = "WITH RECURSIVE\nmerges(a, b, rnk) AS (VALUES "
    val body =
      """),
        |base AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[ \t\n\f\r\x0b]+', ' ', 'g')) AS ct
        |  FROM documents
        |  WHERE text IS NOT NULL AND regexp_matches(text, '^[\x00-\x7f]*$')),
        |pre AS (SELECT doc_id, regexp_extract_all(ct,
        |  '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+') AS ws
        |  FROM base),
        |flat AS (SELECT doc_id, s.pos AS widx, s.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(0, len(ws)),
        |    i -> {'pos': i, 'w': ws[i+1]})) AS s FROM pre)),
        |uw AS (SELECT DISTINCT w FROM flat),
        |init AS (SELECT w, list_aggregate(list_transform(string_split(w, ''),
        |    c -> chr(30) || CASE WHEN ord(c) BETWEEN 33 AND 126 THEN c
        |                         WHEN ord(c) <= 32 THEN chr(256 + ord(c))
        |                         ELSE chr(289) END || chr(31)),
        |    'string_agg', '') AS s FROM uw),
        |walk AS (
        |  SELECT w, s FROM init
        |  UNION ALL
        |  SELECT walk.w, replace(walk.s,
        |      chr(30)||bm.a||chr(31)||chr(30)||bm.b||chr(31),
        |      chr(30)||bm.a||bm.b||chr(31))
        |  FROM walk, LATERAL (SELECT a, b FROM merges
        |    WHERE walk.s LIKE '%'||chr(30)||a||chr(31)||chr(30)||b||chr(31)||'%'
        |    ORDER BY rnk LIMIT 1) bm),
        |fin AS (SELECT w, s FROM walk t WHERE NOT EXISTS (
        |  SELECT 1 FROM merges m
        |  WHERE t.s LIKE '%'||chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31)||'%')),
        |toks AS (SELECT w,
        |    len(s) - length(replace(s, chr(30), '')) AS n_toks,
        |    array_to_string(string_split(trim(s, chr(30)||chr(31)), chr(31)||chr(30)), ' ') AS tstr
        |  FROM fin),
        |agg AS (SELECT f.doc_id, SUM(t.n_toks)::BIGINT AS n_tokens_bpe,
        |    string_agg(t.tstr, ' ' ORDER BY f.widx) AS tokens_str
        |  FROM flat f JOIN toks t USING (w) GROUP BY f.doc_id)
        |SELECT b.doc_id, COALESCE(a.n_tokens_bpe, 0)::BIGINT AS n_tokens_bpe,
        |  COALESCE(a.tokens_str, '') AS tokens_str
        |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""".stripMargin
    head + values + body
  }

  /** q90: `TextAnalysis.perplexityScore` — the hash-derived bigram lp
    * (−500 − md5₃₂("lm#a#b") mod 4500) replayed with the same md5-int
    * idiom as the q83 val-mask sampling; mean via the positive domain so
    * truncating division agrees across engines on negative sums.
    */
  def q90PerplexityScore: String =
    s"""$perplexityScoredCtes
       |SELECT doc_id, n_bigrams, lp_sum, mean_lp
       |FROM scored ORDER BY doc_id""".stripMargin

  /** q91: `TextAnalysis.ccnetSample` — q90's scoring + fixed-threshold
    * head/middle/tail buckets + the q76 md5-threshold sampler per bucket
    * (head 1.0 / middle 0.5 / tail 0.1, seed 13).
    */
  def q91CcnetSample: String = {
    def th(f: Double): Long = (f * 4294967296d).toLong
    s"""$perplexityScoredCtes,
       |  bucketed AS (SELECT *,
       |      CASE WHEN mean_lp >= -2695 THEN 'head'
       |           WHEN mean_lp >= -2849 THEN 'middle'
       |           ELSE 'tail' END AS ppl_bucket
       |    FROM scored)
       |SELECT doc_id, n_bigrams, lp_sum, mean_lp, ppl_bucket FROM bucketed
       |WHERE CAST('0x' || substr(md5('13#' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT)
       |  < CASE ppl_bucket WHEN 'head' THEN ${th(1.0)}
       |      WHEN 'middle' THEN ${th(0.5)} ELSE ${th(0.1)} END
       |ORDER BY doc_id""".stripMargin
  }

  /** q95: `TextAnalysis.dsirSelect` — DSIR top-n. The q90 bigram fold
    * with TWO hash-derived fixed-point LMs (salts dsir_t / dsir_b),
    * weight = Σ(lp_t − lp_b), then the deterministic top-100 by
    * (weight DESC, doc_id).
    */
  def q95DsirSelect: String = {
    def lp(salt: String) =
      s"-(500 + CAST(CONCAT('0x', SUBSTRING(md5('$salt#' || g.a || '#' || g.b), 1, 8)) AS UBIGINT) % 4500)::BIGINT"
    s"""WITH
       |  base AS (SELECT doc_id,
       |      list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |        w -> length(w) > 0) AS ws
       |    FROM documents),
       |  bg AS (SELECT doc_id,
       |      unnest(list_transform(range(1, len(ws)),
       |        i -> {'a': ws[i], 'b': ws[i+1]})) AS g
       |    FROM base WHERE len(ws) >= 2),
       |  lr AS (SELECT doc_id, (${lp("dsir_t")}) - (${lp("dsir_b")}) AS lr
       |    FROM bg),
       |  agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |      sum(lr)::BIGINT AS weight
       |    FROM lr GROUP BY doc_id),
       |  scored AS (SELECT b.doc_id,
       |      COALESCE(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       |      COALESCE(a.weight, 0)::BIGINT AS weight
       |    FROM base b LEFT JOIN agg a USING (doc_id))
       |SELECT doc_id, n_bigrams, weight FROM scored
       |ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin
  }

  /** q96: `TextAnalysis.gopherRules` — every flag is an integer-ratio
    * compare; tokenization/line-split/trim semantics are the shared
    * engine-portable ones (space-only trims, `\r?\n` lines, the q22
    * ASCII word tokenizer).
    */
  /** Shared q96/q100 WITH-fragment ending at `flags`: per-doc Gopher
    * counts and the seven integer-ratio rule flags + `pass`.
    */
  private def gopherFlagsCtes: String = gopherFlagsCtesFrom("documents")

  private def gopherFlagsCtesFrom(from: String): String = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = stops.map(s =>
      s"(CASE WHEN list_contains(ws, '$s') THEN 1 ELSE 0 END)").mkString(" + ")
    s"""  f AS (SELECT doc_id,
       |      list_filter(string_split_regex(lower(COALESCE(text, '')), '[^a-z0-9'']+'),
       |        w -> length(w) > 0) AS ws,
       |      regexp_split_to_array(COALESCE(text, ''), '\\r?\\n') AS ls,
       |      COALESCE(text, '') AS t
       |    FROM $from),
       |  m AS (SELECT doc_id,
       |      len(ws)::BIGINT AS n_words,
       |      COALESCE(list_sum(list_transform(ws, w -> length(w))), 0)::BIGINT AS n_word_chars,
       |      len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))::BIGINT AS n_alpha,
       |      ($stopHits)::BIGINT AS stop_hits,
       |      len(ls)::BIGINT AS n_lines,
       |      len(list_filter(ls, l -> starts_with(ltrim(l), '- ')
       |        OR starts_with(ltrim(l), '* ')))::BIGINT AS n_bullet,
       |      len(list_filter(ls, l -> ends_with(rtrim(l), '...')))::BIGINT AS n_ell_lines,
       |      (length(t) - length(replace(t, '#', '')))::BIGINT AS n_hash,
       |      ((length(t) - length(replace(t, '...', ''))) // 3)::BIGINT AS n_ellipsis
       |    FROM f),
       |  flags AS (SELECT doc_id, n_words, n_word_chars, n_lines,
       |      (n_words >= 50 AND n_words <= 100000) AS r_word_count,
       |      (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words) AS r_word_len,
       |      (10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words) AS r_symbol,
       |      (10 * n_bullet <= 9 * n_lines) AS r_bullet,
       |      (10 * n_ell_lines <= 3 * n_lines) AS r_ellipsis,
       |      (5 * n_alpha >= 4 * n_words) AS r_alpha,
       |      (stop_hits >= 2) AS r_stop,
       |      ((n_words >= 50 AND n_words <= 100000)
       |        AND (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words)
       |        AND (10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words)
       |        AND (10 * n_bullet <= 9 * n_lines)
       |        AND (10 * n_ell_lines <= 3 * n_lines)
       |        AND (5 * n_alpha >= 4 * n_words)
       |        AND (stop_hits >= 2)) AS pass
       |    FROM m)""".stripMargin
  }

  def q96GopherRules: String =
    s"""WITH
       |$gopherFlagsCtes
       |SELECT doc_id, n_words, n_word_chars, n_lines, r_word_count,
       |  r_word_len, r_symbol, r_bullet, r_ellipsis, r_alpha, r_stop, pass
       |FROM flags ORDER BY doc_id""".stripMargin

  /** q100: `TextAnalysis.corpusReport` — the q96 flags aggregated per
    * source label.
    */
  def q100CorpusReport: String =
    s"""WITH
       |$gopherFlagsCtes
       |SELECT d.source, count(*)::BIGINT AS n_docs,
       |  sum(f.n_words)::BIGINT AS n_words,
       |  sum(f.n_word_chars)::BIGINT AS n_word_chars,
       |  sum(CASE WHEN f.pass THEN 1 ELSE 0 END)::BIGINT AS n_gopher_pass
       |FROM flags f JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q99: `Dedup.nearDupKeepBy(score = n_chars)` — q56's exact-collapse
    * + LSH + connected components, but each cluster keeps its LONGEST
    * member (n_chars DESC, tie lowest id) instead of the min id.
    */
  def q99NearDupKeepBest: String =
    s"""WITH RECURSIVE
       |${minhashCandCtes(0.5, num = 32, rpb = 4, k = 5)},
       |  edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM cand
       |            UNION SELECT id_b, id_a FROM cand),
       |  reach(s, d) AS (SELECT s, d FROM edges
       |                  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |  minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
       |  rankd AS (SELECT m.id, row_number() OVER (PARTITION BY m.cid
       |      ORDER BY d.n_chars DESC, m.id) AS rk
       |    FROM minr m JOIN documents d ON d.doc_id = m.id),
       |  losers AS (SELECT id FROM rankd WHERE rk > 1)
       |SELECT d.doc_id, d.n_chars, d.lang FROM documents d
       |JOIN reps ON d.doc_id = reps.id
       |WHERE d.doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY d.doc_id""".stripMargin

  /** q97: `TextAnalysis.chunkByWords(win=50, stride=40)` — starts at
    * 0, 40, 80, … while < |words|; 1-based inclusive list_slice matches
    * Spark's `slice(ws, start+1, win)`.
    */
  def q97ChunkWords: String =
    s"""WITH
       |  base AS (SELECT doc_id,
       |      list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |        w -> length(w) > 0) AS ws
       |    FROM documents),
       |  st AS (SELECT doc_id, ws,
       |      unnest(range(0, len(ws), 40)) AS chunk_start
       |    FROM base WHERE len(ws) > 0)
       |SELECT doc_id,
       |  (chunk_start // 40)::BIGINT AS chunk_id,
       |  chunk_start::BIGINT AS chunk_start,
       |  len(list_slice(ws, chunk_start + 1, chunk_start + 50))::BIGINT AS n_chunk_words,
       |  array_to_string(list_slice(ws, chunk_start + 1, chunk_start + 50), ' ') AS chunk_text
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin

  /** q98: `Dedup.rebalanceMixture` — counts → T = min⌊cₖ·W/wₖ⌋ →
    * per-source HUGEINT thresholds → the q76 md5 keep rule (seed 7,
    * weights src0:5 src1:3 src2:2 src3:1, W = 11).
    */
  def q98RebalanceMixture: String =
    s"""WITH
       |  w(source, wt) AS (SELECT * FROM (VALUES
       |    ('src0', 5), ('src1', 3), ('src2', 2), ('src3', 1))),
       |  counts AS (SELECT source, count(*)::HUGEINT AS c
       |    FROM documents GROUP BY 1),
       |  t AS (SELECT min((c * 11) // wt) AS t FROM counts JOIN w USING (source)),
       |  thr AS (SELECT w.source,
       |      LEAST((4294967296::HUGEINT * w.wt * t.t) // (11 * c.c),
       |        4294967296::HUGEINT) AS thr
       |    FROM w JOIN counts c USING (source) CROSS JOIN t)
       |SELECT d.doc_id, d.source FROM documents d
       |JOIN thr ON d.source = thr.source
       |WHERE CAST('0x' || substr(md5('7#' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS UBIGINT) < thr.thr
       |ORDER BY d.doc_id""".stripMargin

  /** q101: `TextAnalysis.dedupLinesWithinDoc` — the engine folds each
    * line array keeping first occurrences; the oracle cross-validates
    * with the independent relational form (min position per distinct
    * line, re-aggregated in first-occurrence order).
    */
  def q101DedupLines: String =
    s"""WITH
       |  l AS (SELECT doc_id,
       |      regexp_split_to_array(COALESCE(text, ''), '\\r?\\n') AS ls
       |    FROM documents),
       |  p AS (SELECT doc_id, ls, unnest(range(len(ls))) AS pos FROM l),
       |  lines AS (SELECT doc_id, pos, ls[pos + 1] AS line FROM p),
       |  firsts AS (SELECT doc_id, line, min(pos) AS fp
       |    FROM lines GROUP BY 1, 2),
       |  agg AS (SELECT doc_id,
       |      string_agg(line, chr(10) ORDER BY fp) AS clean_text,
       |      count(*)::BIGINT AS n_lines_kept
       |    FROM firsts GROUP BY doc_id)
       |SELECT l.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       |  len(l.ls)::BIGINT AS n_lines_in,
       |  COALESCE(a.n_lines_kept, 0)::BIGINT AS n_lines_kept
       |FROM l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id""".stripMargin

  /** q110: `TextAnalysis.removeBoilerplateLines` — corpus-level
    * boilerplate removal over a deterministic multi-line view of the
    * corpus (shared NAV header + per-source footer around each body):
    * lines in ≥ 2 distinct docs are dropped EVERYWHERE (first
    * occurrence included), bodies survive; the engine's digest-keyed
    * count + map-side rebuild must equal this direct relational
    * formulation.
    */
  def q110BoilerplateLines: String =
    s"""WITH
       |  d AS (SELECT doc_id,
       |      concat_ws(chr(10), 'NAV', text, 'footer ' || source) AS text
       |    FROM documents),
       |  l AS (SELECT doc_id,
       |      regexp_split_to_array(COALESCE(text, ''), '\\r?\\n') AS ls
       |    FROM d),
       |  p AS (SELECT doc_id, ls, unnest(range(len(ls))) AS pos FROM l),
       |  lines AS (SELECT doc_id, pos, ls[pos + 1] AS line FROM p),
       |  hot AS (SELECT line FROM (
       |      SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY 1)
       |    WHERE nd >= 2),
       |  kept AS (SELECT lines.* FROM lines ANTI JOIN hot USING (line)),
       |  agg AS (SELECT doc_id,
       |      string_agg(line, chr(10) ORDER BY pos) AS clean_text,
       |      count(*)::BIGINT AS n_lines_kept
       |    FROM kept GROUP BY doc_id)
       |SELECT l.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       |  len(l.ls)::BIGINT AS n_lines_in,
       |  COALESCE(a.n_lines_kept, 0)::BIGINT AS n_lines_kept
       |FROM l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id""".stripMargin

  /** q111: `Dedup.urlKeep` ∘ `TextAnalysis.urlNormalize` — URL-level
    * dedup over the deterministic four-variant URL view; the oracle
    * replays every normalization step (scheme strip, fragment strip,
    * first-`?` split, host lowercase + www strip, trailing-slash strip,
    * tracking-param drop + sort) and keeps the min doc per canonical.
    */
  def q111UrlDedup: String =
    s"""WITH
       |  d AS (SELECT doc_id, source,
       |      (CASE doc_id % 4 WHEN 0 THEN 'https://www.' WHEN 1 THEN 'HTTP://'
       |            WHEN 2 THEN 'https://' ELSE 'http://www.' END)
       |      || 'site' || ((doc_id // 4) % 7) || '.test/Docs/' || (doc_id // 4)
       |      || (CASE doc_id % 4 WHEN 0 THEN '/' WHEN 1 THEN '?utm_source=x&b=2&a=1'
       |            WHEN 2 THEN '?a=1&b=2#frag' ELSE '?b=2&utm_campaign=z&a=1' END) AS url
       |    FROM documents),
       |  n1 AS (SELECT doc_id, source,
       |      regexp_replace(regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
       |        '#.*$$', '') AS s FROM d),
       |  n2 AS (SELECT doc_id, source, s, position('?' IN s) AS qp FROM n1),
       |  n3 AS (SELECT doc_id, source,
       |      CASE WHEN qp > 0 THEN substr(s, 1, qp - 1) ELSE s END AS base,
       |      CASE WHEN qp > 0 THEN substr(s, qp + 1) ELSE '' END AS query FROM n2),
       |  n4 AS (SELECT doc_id, source, base, query, position('/' IN base) AS sp FROM n3),
       |  n5 AS (SELECT doc_id, source,
       |      regexp_replace(lower(CASE WHEN sp > 0 THEN substr(base, 1, sp - 1) ELSE base END),
       |        '^www\\.', '') AS host,
       |      regexp_replace(CASE WHEN sp > 0 THEN substr(base, sp) ELSE '' END,
       |        '/+$$', '') AS path,
       |      list_sort(list_filter(string_split(query, '&'),
       |        p -> NOT regexp_matches(p, '^(utm_|fbclid(=|$$))') AND p <> '')) AS ps
       |    FROM n4),
       |  norm AS (SELECT doc_id, source, host || path ||
       |      (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END) AS url_norm
       |    FROM n5),
       |  keep AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY url_norm)
       |SELECT n.doc_id, n.source, n.url_norm FROM norm n
       |JOIN keep USING (doc_id) ORDER BY n.doc_id""".stripMargin

  /** q117: tokenizer-fit report — q88's recursive merge-walk replay
    * (same distinct-word walk), aggregated per source with a
    * single-char-token (fragmentation) count. All-integer outputs.
    */
  def q117TokenizerFit: String = {
    val values = graft.functions.Bpe.defaultMerges.zipWithIndex
      .map { case ((a, b), i) => s"('$a','$b',$i)" }.mkString(", ")
    val head = "WITH RECURSIVE\nmerges(a, b, rnk) AS (VALUES "
    val body =
      """),
        |pre AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s\x00-\x1f]+') AS ws
        |  FROM documents),
        |flat AS (SELECT doc_id, s.pos AS widx, s.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(0, len(ws)),
        |    i -> {'pos': i, 'w': ws[i+1]})) AS s FROM pre)),
        |uw AS (SELECT DISTINCT w FROM flat),
        |init AS (SELECT w, list_aggregate(list_transform(string_split(w, ''),
        |    c -> chr(30) || c || chr(31)), 'string_agg', '') AS s FROM uw),
        |walk AS (
        |  SELECT w, s FROM init
        |  UNION ALL
        |  SELECT walk.w, replace(walk.s,
        |      chr(30)||bm.a||chr(31)||chr(30)||bm.b||chr(31),
        |      chr(30)||bm.a||bm.b||chr(31))
        |  FROM walk, LATERAL (SELECT a, b FROM merges
        |    WHERE walk.s LIKE '%'||chr(30)||a||chr(31)||chr(30)||b||chr(31)||'%'
        |    ORDER BY rnk LIMIT 1) bm),
        |fin AS (SELECT w, s FROM walk t WHERE NOT EXISTS (
        |  SELECT 1 FROM merges m
        |  WHERE t.s LIKE '%'||chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31)||'%')),
        |toks AS (SELECT w,
        |    string_split(trim(s, chr(30)||chr(31)), chr(31)||chr(30)) AS tl
        |  FROM fin),
        |tstat AS (SELECT w, len(tl)::BIGINT AS n_toks,
        |    len(list_filter(tl, t -> length(t) = 1))::BIGINT AS n_single
        |  FROM toks),
        |agg AS (SELECT f.doc_id, SUM(t.n_toks)::BIGINT AS ntok,
        |    SUM(t.n_single)::BIGINT AS nsingle
        |  FROM flat f JOIN tstat t USING (w) GROUP BY f.doc_id)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(len(p.ws), 0)) AS BIGINT) AS n_pretokens,
        |  CAST(SUM(COALESCE(a.ntok, 0)) AS BIGINT) AS n_tokens,
        |  CAST(SUM(COALESCE(a.nsingle, 0)) AS BIGINT) AS n_single_char_tokens
        |FROM documents d JOIN pre p USING (doc_id) LEFT JOIN agg a USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin
    head + values + body
  }

  /** q115: `TrainingExport.manifest` — the seeded md5 permutation and
    * shard split, replayed with a plain global window (the engine runs
    * it two-phase; the q61/q107 discipline). The id digest joins each
    * shard's ids in NUMERIC order.
    */
  def q115ExportManifest: String =
    s"""WITH
       |  ord AS (SELECT doc_id, md5('11#' || CAST(doc_id AS VARCHAR)) AS m
       |    FROM documents),
       |  r AS (SELECT doc_id, row_number() OVER (ORDER BY m, doc_id) AS rn
       |    FROM ord),
       |  s AS (SELECT doc_id, CAST((rn - 1) // 64 AS BIGINT) AS shard FROM r)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS id_digest
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  /** q114: the composed curation pipeline — q111's URL dedup, q20's
    * exact dedup, q96's Gopher gate, and q112's blocklist + domain cap
    * chained into one relational program. Stage fragments are the same
    * SQL as the individual gates; the composition order (URL → exact →
    * quality → cap) is the published pipeline order (RefinedWeb §3).
    */
  def q114CurationPipeline: String =
    s"""WITH
       |  dwrap AS (SELECT doc_id, source,
       |      'the of and that ' || COALESCE(text, '') AS text
       |    FROM documents),
       |${gopherFlagsCtesFrom("dwrap")},
       |  d AS (SELECT doc_id, source, text,
       |      (CASE doc_id % 4 WHEN 0 THEN 'https://www.' WHEN 1 THEN 'HTTP://'
       |            WHEN 2 THEN 'https://' ELSE 'http://www.' END)
       |      || 'site' || ((doc_id // 4) % 7) || '.test/Docs/' || (doc_id // 4)
       |      || (CASE doc_id % 4 WHEN 0 THEN '/' WHEN 1 THEN '?utm_source=x&b=2&a=1'
       |            WHEN 2 THEN '?a=1&b=2#frag' ELSE '?b=2&utm_campaign=z&a=1' END) AS url
       |    FROM dwrap),
       |  n1 AS (SELECT doc_id,
       |      regexp_replace(regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
       |        '#.*$$', '') AS s FROM d),
       |  n2 AS (SELECT doc_id, s, position('?' IN s) AS qp FROM n1),
       |  n3 AS (SELECT doc_id,
       |      CASE WHEN qp > 0 THEN substr(s, 1, qp - 1) ELSE s END AS base,
       |      CASE WHEN qp > 0 THEN substr(s, qp + 1) ELSE '' END AS query FROM n2),
       |  n4 AS (SELECT doc_id, base, query, position('/' IN base) AS sp FROM n3),
       |  n5 AS (SELECT doc_id,
       |      regexp_replace(lower(CASE WHEN sp > 0 THEN substr(base, 1, sp - 1) ELSE base END),
       |        '^www\\.', '') AS host,
       |      regexp_replace(CASE WHEN sp > 0 THEN substr(base, sp) ELSE '' END,
       |        '/+$$', '') AS path,
       |      list_sort(list_filter(string_split(query, '&'),
       |        p -> NOT regexp_matches(p, '^(utm_|fbclid(=|$$))') AND p <> '')) AS ps
       |    FROM n4),
       |  norm AS (SELECT doc_id, host || path ||
       |      (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END) AS url_norm
       |    FROM n5),
       |  ukeep AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY url_norm),
       |  usurv AS (SELECT d.* FROM d JOIN ukeep USING (doc_id)),
       |  exk AS (SELECT min(doc_id) AS doc_id FROM usurv GROUP BY md5(text)),
       |  gp AS (SELECT u.doc_id, u.source, u.url, fl.n_words
       |    FROM usurv u JOIN exk USING (doc_id)
       |    JOIN flags fl USING (doc_id) WHERE fl.pass),
       |  h2 AS (SELECT doc_id, source, n_words,
       |      regexp_replace(regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
       |        '[#?].*$$', '') AS nq FROM gp),
       |  dom2 AS (SELECT doc_id, source, n_words,
       |      regexp_extract(regexp_replace(lower(CASE WHEN position('/' IN nq) > 0
       |          THEN substr(nq, 1, position('/' IN nq) - 1) ELSE nq END),
       |        '^www\\.', ''), '([^.]+\\.)?[^.]+$$') AS domain FROM h2),
       |  allowed2 AS (SELECT * FROM dom2
       |    WHERE domain NOT IN ('site0.test', 'site3.test')),
       |  ranked2 AS (SELECT doc_id, source, domain, n_words,
       |      row_number() OVER (PARTITION BY domain
       |        ORDER BY md5('3#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM allowed2)
       |SELECT doc_id, source, domain, n_words FROM ranked2
       |WHERE rk <= 10 ORDER BY doc_id""".stripMargin

  /** Shared CTE chain for q120/q121: the q114 composition with per-stage
    * keep flags instead of sequential filters. `tr` is the per-doc trace
    * (doc_id, domain, n_words, drop_stage): LEFT joins against each
    * stage's keep-set replace q114's inner joins, and the CASE runs in
    * pipeline order so `drop_stage` is the FIRST stage that dropped the
    * document. The URL-normalization, gopher-flag, domain, and cap
    * fragments are byte-identical to the q111/q96/q112/q114 oracles.
    */
  private def curationTraceCtes: String =
    s"""  dwrap AS (SELECT doc_id, source,
       |      'the of and that ' || COALESCE(text, '') AS text
       |    FROM documents),
       |${gopherFlagsCtesFrom("dwrap")},
       |  d AS (SELECT doc_id, source, text,
       |      (CASE doc_id % 4 WHEN 0 THEN 'https://www.' WHEN 1 THEN 'HTTP://'
       |            WHEN 2 THEN 'https://' ELSE 'http://www.' END)
       |      || 'site' || ((doc_id // 4) % 7) || '.test/Docs/' || (doc_id // 4)
       |      || (CASE doc_id % 4 WHEN 0 THEN '/' WHEN 1 THEN '?utm_source=x&b=2&a=1'
       |            WHEN 2 THEN '?a=1&b=2#frag' ELSE '?b=2&utm_campaign=z&a=1' END) AS url
       |    FROM dwrap),
       |  n1 AS (SELECT doc_id,
       |      regexp_replace(regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
       |        '#.*$$', '') AS s FROM d),
       |  n2 AS (SELECT doc_id, s, position('?' IN s) AS qp FROM n1),
       |  n3 AS (SELECT doc_id,
       |      CASE WHEN qp > 0 THEN substr(s, 1, qp - 1) ELSE s END AS base,
       |      CASE WHEN qp > 0 THEN substr(s, qp + 1) ELSE '' END AS query FROM n2),
       |  n4 AS (SELECT doc_id, base, query, position('/' IN base) AS sp FROM n3),
       |  n5 AS (SELECT doc_id,
       |      regexp_replace(lower(CASE WHEN sp > 0 THEN substr(base, 1, sp - 1) ELSE base END),
       |        '^www\\.', '') AS host,
       |      regexp_replace(CASE WHEN sp > 0 THEN substr(base, sp) ELSE '' END,
       |        '/+$$', '') AS path,
       |      list_sort(list_filter(string_split(query, '&'),
       |        p -> NOT regexp_matches(p, '^(utm_|fbclid(=|$$))') AND p <> '')) AS ps
       |    FROM n4),
       |  norm AS (SELECT doc_id, host || path ||
       |      (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END) AS url_norm
       |    FROM n5),
       |  ukeep AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY url_norm),
       |  exk AS (SELECT min(d.doc_id) AS doc_id
       |    FROM d JOIN ukeep USING (doc_id) GROUP BY md5(d.text)),
       |  h2 AS (SELECT doc_id,
       |      regexp_replace(regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
       |        '[#?].*$$', '') AS nq FROM d),
       |  dom AS (SELECT doc_id,
       |      regexp_extract(regexp_replace(lower(CASE WHEN position('/' IN nq) > 0
       |          THEN substr(nq, 1, position('/' IN nq) - 1) ELSE nq END),
       |        '^www\\.', ''), '([^.]+\\.)?[^.]+$$') AS domain FROM h2),
       |  reach4 AS (SELECT d.doc_id, dm.domain FROM d
       |      JOIN ukeep USING (doc_id) JOIN exk USING (doc_id)
       |      JOIN flags fl USING (doc_id) JOIN dom dm USING (doc_id)
       |      WHERE fl.pass AND dm.domain NOT IN ('site0.test', 'site3.test')),
       |  ranked AS (SELECT doc_id, row_number() OVER (PARTITION BY domain
       |        ORDER BY md5('3#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM reach4),
       |  ckeep AS (SELECT doc_id FROM ranked WHERE rk <= 10),
       |  tr AS (SELECT d.doc_id, dm.domain, fl.n_words,
       |      strlen(d.text)::BIGINT AS n_bytes,
       |      CASE WHEN u.doc_id IS NULL THEN 'url_dup'
       |           WHEN e.doc_id IS NULL THEN 'exact_dup'
       |           WHEN NOT fl.pass THEN 'quality'
       |           WHEN dm.domain IN ('site0.test', 'site3.test') THEN 'domain_block'
       |           WHEN c.doc_id IS NULL THEN 'domain_cap'
       |           ELSE 'kept' END AS drop_stage
       |    FROM d
       |    LEFT JOIN ukeep u ON d.doc_id = u.doc_id
       |    LEFT JOIN exk e ON d.doc_id = e.doc_id
       |    JOIN flags fl ON d.doc_id = fl.doc_id
       |    JOIN dom dm ON d.doc_id = dm.doc_id
       |    LEFT JOIN ckeep c ON d.doc_id = c.doc_id)""".stripMargin

  /** q120: `Curation.trace` — the per-doc first-drop-stage view.
    * NOTE: the already-stripped CTE fragment is concatenated OUTSIDE the
    * margined strings — its `|| 'x'` concat continuation lines would be
    * mangled by a second stripMargin.
    */
  def q120CurationTrace: String =
    "WITH\n" + curationTraceCtes +
      "\nSELECT doc_id, domain, n_words, n_bytes, drop_stage" +
      "\nFROM tr ORDER BY doc_id"

  /** q121: `Curation.funnel` — per-stage docs/words entering, dropped,
    * kept: the trace aggregated to one row per group, then cumulative
    * arithmetic over the constant-size stage list. Same concatenation
    * discipline as q120 (no double stripMargin).
    */
  def q121CurationFunnel: String =
    "WITH\n" + curationTraceCtes + ",\n" +
    s"""  drops AS (SELECT drop_stage, count(*)::BIGINT AS n,
       |      COALESCE(sum(n_words), 0)::BIGINT AS w
       |    FROM tr GROUP BY drop_stage),
       |  st AS (SELECT * FROM (VALUES (1, 'url_dup'), (2, 'exact_dup'),
       |      (3, 'quality'), (4, 'domain_block'), (5, 'domain_cap'))
       |      v(stage_ord, stage)),
       |  j AS (SELECT st.stage_ord, st.stage,
       |      COALESCE(dr.n, 0)::BIGINT AS n, COALESCE(dr.w, 0)::BIGINT AS w
       |    FROM st LEFT JOIN drops dr ON dr.drop_stage = st.stage),
       |  tot AS (SELECT sum(n)::BIGINT AS tn, sum(w)::BIGINT AS tw FROM drops),
       |  pre AS (SELECT j.stage_ord, j.stage, j.n, j.w, tot.tn, tot.tw,
       |      COALESCE(sum(j.n) OVER w0, 0)::BIGINT AS cn,
       |      COALESCE(sum(j.w) OVER w0, 0)::BIGINT AS cw
       |    FROM j, tot
       |    WINDOW w0 AS (ORDER BY j.stage_ord
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT stage_ord, stage,
       |  (tn - cn) AS n_docs_in, n AS n_docs_dropped,
       |  (tn - cn - n) AS n_docs_kept,
       |  (tw - cw) AS n_words_in, w AS n_words_dropped,
       |  (tw - cw - w) AS n_words_kept
       |FROM pre ORDER BY stage_ord""".stripMargin

  /** q322: `Curation.stageCosts` — the q120 trace aggregated to per-
    * stage byte economics: bytes entering each stage (cumulative-drop
    * arithmetic, the q121 shape), Q6 share of total stage-work
    * (Σ bytes-in over the 5 stages), and downstream bytes saved
    * (bytes dropped × stages remaining). Same concatenation
    * discipline as q120/q121 (no double stripMargin).
    */
  def q322CurationCosts: String =
    "WITH\n" + curationTraceCtes + ",\n" +
    s"""  drops AS (SELECT drop_stage, count(*)::BIGINT AS n,
       |      COALESCE(sum(n_bytes), 0)::BIGINT AS b
       |    FROM tr GROUP BY drop_stage),
       |  st AS (SELECT * FROM (VALUES (1, 'url_dup'), (2, 'exact_dup'),
       |      (3, 'quality'), (4, 'domain_block'), (5, 'domain_cap'))
       |      v(stage_ord, stage)),
       |  j AS (SELECT st.stage_ord, st.stage,
       |      COALESCE(dr.n, 0)::BIGINT AS n, COALESCE(dr.b, 0)::BIGINT AS b
       |    FROM st LEFT JOIN drops dr ON dr.drop_stage = st.stage),
       |  tot AS (SELECT sum(n)::BIGINT AS tn, sum(b)::BIGINT AS tb FROM drops),
       |  pre AS (SELECT j.stage_ord, j.stage, j.n, j.b, tot.tn, tot.tb,
       |      COALESCE(sum(j.n) OVER w0, 0)::BIGINT AS cn,
       |      COALESCE(sum(j.b) OVER w0, 0)::BIGINT AS cb
       |    FROM j, tot
       |    WINDOW w0 AS (ORDER BY j.stage_ord
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |  wk AS (SELECT sum(tb - cb)::HUGEINT AS work FROM pre)
       |SELECT stage_ord, stage,
       |  (tn - cn) AS n_docs_in, n AS n_docs_dropped,
       |  (tb - cb) AS n_bytes_in, b AS n_bytes_dropped,
       |  CAST(CASE WHEN wk.work > 0
       |    THEN (CAST(tb - cb AS HUGEINT) * 1000000) // wk.work
       |    ELSE 0 END AS BIGINT) AS cost_share_q6,
       |  (b * (5 - stage_ord))::BIGINT AS saved_downstream_bytes
       |FROM pre, wk ORDER BY stage_ord""".stripMargin

  /** q122: `Sampling.ppsSystematic` — the systematic PPS pin count
    * replayed with the engine's own integer arithmetic: seeded md5
    * placement (15 hex digits ↔ Spark `conv(…,16,10)`), cumulative
    * weights via a window sum, then g(X) = ((X−1)//W + 1)//2 with every
    * product in HUGEINT (the engine runs decimal(38,0) — both exact, so
    * identical). n = 100, seed = 7, weight = n_chars.
    */
  def q122PpsSample: String =
    """WITH w AS (
      |  SELECT doc_id, COALESCE(n_chars, 0)::BIGINT AS weight,
      |    CAST('0x' || substr(md5('7#' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS ord
      |  FROM documents WHERE COALESCE(n_chars, 0) >= 0),
      |run AS (
      |  SELECT doc_id, weight,
      |    sum(weight) OVER (ORDER BY ord, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS c_after
      |  FROM w),
      |tot AS (SELECT max(c_after)::HUGEINT AS wt FROM run),
      |h AS (
      |  SELECT doc_id, weight, wt,
      |    200::HUGEINT * c_after::HUGEINT AS xa,
      |    200::HUGEINT * (c_after - weight)::HUGEINT AS xb
      |  FROM run, tot),
      |hits AS (
      |  SELECT doc_id, weight,
      |    ((CASE WHEN xa <= 0 THEN 0::HUGEINT
      |        ELSE least(((xa - 1) // wt + 1) // 2, 100::HUGEINT) END)
      |     - (CASE WHEN xb <= 0 THEN 0::HUGEINT
      |        ELSE least(((xb - 1) // wt + 1) // 2, 100::HUGEINT) END))::BIGINT AS n_hits
      |  FROM h)
      |SELECT doc_id, weight, n_hits FROM hits
      |WHERE n_hits > 0 ORDER BY doc_id""".stripMargin

  /** q123: `Retrieval.bm25TopK` — BM25 with the engine's determinism
    * discipline replayed exactly: df/N/Σdl from the corpus, micro-idf
    * via floor(ln·10⁶ + 0.5) (↔ Java Math.round), contributions as the
    * same double expression TREE (constants written as the unreduced
    * arithmetic the engine folds at plan time, e.g. (1.2 + 1.0)), and
    * the per-(query, doc) sum folded in sorted-term order via
    * list_reduce — float addition order is part of the contract. The
    * (query_id, term) VALUES must stay in sync with
    * SparkEntry.bm25Queries.
    */
  def q123Bm25TopK: String =
    """WITH RECURSIVE terms(query_id, term) AS (VALUES
      |    (1, 'agg'), (1, 'spark'), (1, 'window'),
      |    (2, 'batch'), (2, 'hash'), (2, 'join'), (2, 'merge'),
      |    (3, 'customer'), (3, 'data'), (3, 'query')),
      |docs AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
      |      '[^a-z0-9'']+'), x -> len(x) > 0) AS ws
      |  FROM documents),
      |dd AS (SELECT doc_id, ws, len(ws)::BIGINT AS dl FROM docs),
      |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl FROM dd),
      |dfs AS (
      |  SELECT t.term, count(*)::BIGINT AS df
      |  FROM (SELECT DISTINCT term FROM terms) t
      |  JOIN dd d ON list_contains(d.ws, t.term)
      |  GROUP BY t.term),
      |_ks AS (SELECT DISTINCT k FROM (
      |  SELECT 2 * (n + 1) AS k FROM stats
      |  UNION SELECT 2 * df + 1 FROM dfs)),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |idf AS (
      |  SELECT d.term,
      |    CAST((ln1.l - ln2.l + 500000000000) // 1000000 AS BIGINT) AS idf_micro
      |  FROM dfs d, stats s
      |  JOIN _lnq ln1 ON ln1.k = 2 * (s.n + 1)
      |  JOIN _lnq ln2 ON ln2.k = 2 * d.df + 1),
      |contribs AS (
      |  SELECT t.query_id, d.doc_id, t.term,
      |    ((i.idf_micro::DOUBLE / 1000000.0)
      |      * (len(list_filter(d.ws, x -> x = t.term))::DOUBLE * (1.2 + 1.0)))
      |    / (len(list_filter(d.ws, x -> x = t.term))::DOUBLE
      |       + 1.2 * ((1.0 - 0.75) + 0.75 * (d.dl::DOUBLE / (s.sumdl::DOUBLE / s.n)))) AS c
      |  FROM terms t JOIN idf i USING (term), dd d, stats s),
      |scored AS (
      |  SELECT query_id, doc_id,
      |    list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY term)),
      |      (a, b) -> a + b) AS score
      |  FROM contribs GROUP BY query_id, doc_id),
      |ranked AS (
      |  SELECT query_id::BIGINT AS query_id, doc_id, score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS INT) AS rank
      |  FROM scored WHERE score > 0.0)
      |SELECT query_id, doc_id, score, rank FROM ranked
      |WHERE rank <= 15 ORDER BY query_id, rank""".stripMargin

  /** q124: `plans.UnicodeNormalize` (graft_normalize NFC) — DuckDB's
    * nfc_normalize over the same decomposed suffix, built with chr()
    * codepoints (U+0301 combining acute, U+0308 combining diaeresis).
    * Both engines count length in code points, so the composed form
    * loses exactly 2.
    */
  def q124NormalizeNfc: String =
    """SELECT doc_id,
      |  nfc_normalize(COALESCE(text, '') || ' Cafe' || chr(769) || ' nai' || chr(776) || 've') AS text_nfc,
      |  length(COALESCE(text, '') || ' Cafe' || chr(769) || ' nai' || chr(776) || 've')::BIGINT AS n_chars_raw,
      |  length(nfc_normalize(COALESCE(text, '') || ' Cafe' || chr(769) || ' nai' || chr(776) || 've'))::BIGINT AS n_chars_nfc
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q125: `Timeseries.gapFillDaily` — daily max per (user, day), a
    * per-user calendar grid via generate_series (unnest-in-subquery —
    * this DuckDB rejects lateral generate_series(col)), forward fill via
    * last_value IGNORE NULLS over the per-user window. Day compared as
    * yyyy-MM-dd text (q62 discipline); value = max is order-independent
    * so the double survives the hash compare.
    */
  /** q126: `Analytics.funnel(view → click → purchase)` — sequential
    * min-ts chaining: t1 = first view, t2 = first click strictly after
    * t1, t3 = first purchase strictly after t2. Timestamps compared as
    * epoch-micros; every user in the table appears (step_reached 0 when
    * the first step never fired).
    */
  def q126EventFunnel: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
      |SELECT u.user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
      |  epoch_us(t3) AS t3_us,
      |  (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
      |        WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::INT AS step_reached
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN s1 ON u.user_id = s1.user_id
      |LEFT JOIN s2 ON u.user_id = s2.user_id
      |LEFT JOIN s3 ON u.user_id = s3.user_id
      |ORDER BY u.user_id""".stripMargin

  /** q128: `Analytics.cohortRetention` over orders — cohort = month of
    * first order, offset in exact integer months (year*12 + month).
    */
  def q128CohortRetention: String =
    """WITH fo AS (SELECT o_custkey, min(o_orderdate) AS f0
      |  FROM orders GROUP BY o_custkey),
      |act AS (SELECT DISTINCT f.o_custkey,
      |    strftime(f.f0, '%Y-%m') AS cohort_month,
      |    (year(o.o_orderdate)*12 + month(o.o_orderdate))
      |      - (year(f.f0)*12 + month(f.f0)) AS off
      |  FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey)
      |SELECT cohort_month, off::INT AS month_offset, count(*)::BIGINT AS n_customers
      |FROM act GROUP BY cohort_month, off
      |ORDER BY cohort_month, month_offset""".stripMargin

  /** q129: `TextAnalysis.spellingVariantPairs` — levenshtein ≤ 2 pairs
    * over the distinct ≥4-char word vocabulary (same `[^a-z0-9']+`
    * tokenizer as q103), frequencies from the vocab agg. Both engines'
    * levenshtein is the classic unit-cost insert/delete/substitute DP.
    */
  def q129SpellingVariants: String =
    """WITH noisy AS (SELECT CASE WHEN doc_id % 17 = 0
      |    THEN COALESCE(text, '') || ' tabel windwo qurey'
      |    ELSE COALESCE(text, '') END AS text FROM documents),
      |w AS (SELECT unnest(list_filter(
      |    string_split_regex(lower(COALESCE(text, '')), '[^a-z0-9'']+'),
      |    x -> length(x) >= 4)) AS wd FROM noisy),
      |v AS (SELECT wd, count(*)::BIGINT AS n FROM w GROUP BY wd)
      |SELECT a.wd AS word_a, b.wd AS word_b,
      |  levenshtein(a.wd, b.wd)::INT AS dist, a.n AS n_a, b.n AS n_b
      |FROM v a JOIN v b
      |  ON substr(a.wd, 1, 1) = substr(b.wd, 1, 1) AND a.wd < b.wd
      |  AND abs(length(a.wd) - length(b.wd)) <= 2
      |WHERE levenshtein(a.wd, b.wd) BETWEEN 1 AND 2
      |ORDER BY word_a, word_b""".stripMargin

  /** q136: `Timeseries.timeWeightedAvg` — lead() interval per key,
    * DECIMAL(18,4)·micros weighted sum, single final double division
    * (raw quotient: inputs are engine-identical, so the IEEE result is
    * too; display rounding would diverge on half-boundaries).
    * Single-event keys: span 0, twa NULL.
    */
  def q136TimeWeightedAvg: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t,
      |    value::DECIMAL(18,4) AS v FROM events),
      |w AS (SELECT user_id, v,
      |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dt
      |  FROM e)
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |  COALESCE(sum(dt), 0)::BIGINT AS span_us,
      |  CAST(CAST(sum(v * dt) * 10000 AS BIGINT) AS DOUBLE)
      |    / (CAST(sum(dt) AS DOUBLE) * 10000.0) AS twa
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q137: `Timeseries.driftAlerts(threshold=500)` — the ×n-scaled
    * CUSUM drawup: cᵢ = n·cumsum(v) − i·Σv, alert when cᵢ − min_{j≤i}cⱼ
    * > 500·n; every compared quantity DECIMAL-exact.
    */
  def q137DriftAlerts: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t,
      |    value::DECIMAL(18,4) AS v FROM events),
      |st AS (SELECT user_id, sum(v) AS s, count(*) AS n
      |  FROM e GROUP BY user_id),
      |c AS (SELECT e.user_id, e.event_id, e.t,
      |    st.n * sum(e.v) OVER (PARTITION BY e.user_id
      |      ORDER BY e.t, e.event_id ROWS UNBOUNDED PRECEDING)
      |      - row_number() OVER (PARTITION BY e.user_id
      |          ORDER BY e.t, e.event_id) * st.s AS cstat,
      |    st.n AS n
      |  FROM e JOIN st USING (user_id)),
      |d AS (SELECT user_id, event_id, t, n,
      |    cstat - min(cstat) OVER (PARTITION BY user_id
      |      ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS drawup
      |  FROM c)
      |SELECT user_id, event_id, t AS ts_us,
      |  CAST(CAST(drawup * 10000 AS BIGINT) AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * 10000.0) AS drift
      |FROM d WHERE drawup > 500.0::DECIMAL(18,4) * n
      |ORDER BY user_id, event_id""".stripMargin

  /** q139: `Analytics.eventTransitions` — lag() per user ordered by
    * (ts, event_id), (from, to) pair counts.
    */
  def q139EventTransitions: String =
    """WITH seq AS (SELECT user_id, event_type AS to_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS from_type
      |  FROM events)
      |SELECT from_type, to_type, count(*)::BIGINT AS n
      |FROM seq WHERE from_type IS NOT NULL
      |GROUP BY from_type, to_type
      |ORDER BY from_type, to_type""".stripMargin

  /** q140: `Analytics.rfmScores` — all three dimensions exact integers
    * (epoch-µs, count, cents via DECIMAL→BIGINT), tercile fences exact
    * interpolated percentiles over integers (engine-identical doubles),
    * strict `>` bucketing.
    */
  def q140RfmScores: String =
    """WITH pc AS (SELECT o_custkey,
      |    max(epoch_us(o_orderdate)) AS recency_us,
      |    count(*)::BIGINT AS frequency,
      |    CAST(sum(o_totalprice::DECIMAL(18,2) * 100) AS BIGINT)
      |      AS monetary_cents
      |  FROM orders GROUP BY o_custkey),
      |f AS (SELECT quantile_cont(recency_us, 0.333) AS r1,
      |    quantile_cont(recency_us, 0.667) AS r2,
      |    quantile_cont(frequency, 0.333) AS f1,
      |    quantile_cont(frequency, 0.667) AS f2,
      |    quantile_cont(monetary_cents, 0.333) AS m1,
      |    quantile_cont(monetary_cents, 0.667) AS m2
      |  FROM pc)
      |SELECT pc.o_custkey, pc.recency_us, pc.frequency, pc.monetary_cents,
      |  (CASE WHEN recency_us > r2 THEN 3 WHEN recency_us > r1 THEN 2
      |        ELSE 1 END)::INT AS r_score,
      |  (CASE WHEN frequency > f2 THEN 3 WHEN frequency > f1 THEN 2
      |        ELSE 1 END)::INT AS f_score,
      |  (CASE WHEN monetary_cents > m2 THEN 3 WHEN monetary_cents > m1
      |        THEN 2 ELSE 1 END)::INT AS m_score,
      |  ((CASE WHEN recency_us > r2 THEN 3 WHEN recency_us > r1 THEN 2
      |        ELSE 1 END) * 100
      |   + (CASE WHEN frequency > f2 THEN 3 WHEN frequency > f1 THEN 2
      |        ELSE 1 END) * 10
      |   + (CASE WHEN monetary_cents > m2 THEN 3 WHEN monetary_cents > m1
      |        THEN 2 ELSE 1 END))::INT AS rfm
      |FROM pc, f ORDER BY o_custkey""".stripMargin

  /** q134: `Dataset.pivot` with an explicit value list — conditional
    * FILTER counts per type, zero-filled.
    */
  def q134PivotEvents: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click')::BIGINT AS click,
      |  count(*) FILTER (event_type = 'error')::BIGINT AS error,
      |  count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
      |  count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
      |  count(*) FILTER (event_type = 'view')::BIGINT AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q135: `Dataset.unpivot` of the q134 wide shape — melt replayed as
    * a 5-way UNION ALL.
    */
  def q135UnpivotEvents: String =
    """WITH wide AS (SELECT user_id,
      |    count(*) FILTER (event_type = 'click')::BIGINT AS click,
      |    count(*) FILTER (event_type = 'error')::BIGINT AS error,
      |    count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
      |    count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
      |    count(*) FILTER (event_type = 'view')::BIGINT AS view
      |  FROM events GROUP BY user_id)
      |SELECT user_id, event_type, n_events FROM (
      |  SELECT user_id, 'click' AS event_type, click AS n_events FROM wide
      |  UNION ALL SELECT user_id, 'error', error FROM wide
      |  UNION ALL SELECT user_id, 'purchase', purchase FROM wide
      |  UNION ALL SELECT user_id, 'signup', signup FROM wide
      |  UNION ALL SELECT user_id, 'view', view FROM wide)
      |ORDER BY user_id, event_type""".stripMargin

  /** q130: `Analytics.histogram(o_totalprice, lo=0, width=25000, n=20)`
    * — floor((v−lo)/width) clamped into [0, 19]; bounds lo + k·width
    * are the same double expression on both engines.
    */
  def q130Histogram: String =
    """WITH b AS (SELECT CAST(least(greatest(
      |    floor((o_totalprice - 0.0) / 25000.0), 0.0), 19.0) AS BIGINT)
      |    AS bucket FROM orders)
      |SELECT bucket, 0.0 + bucket * 25000.0 AS bucket_lo,
      |  0.0 + (bucket + 1) * 25000.0 AS bucket_hi,
      |  count(*)::BIGINT AS n
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q132: `Analytics.funnelCounts` — entities reaching step ≥ i of the
    * q126 funnel; replayed off the same chained-CTE funnel.
    */
  def q132FunnelCounts: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
      |SELECT step, n_reached FROM (
      |  SELECT 1 AS step, count(*)::BIGINT AS n_reached FROM s1
      |  UNION ALL SELECT 2, count(*)::BIGINT FROM s2
      |  UNION ALL SELECT 3, count(*)::BIGINT FROM s3)
      |ORDER BY step""".stripMargin

  /** q133: `Layout.zorderKey` / native `graft_morton` — the Z-value of
    * 16-bit-bucketed (o_custkey, o_totalprice DIV 100). The oracle
    * replays the bit interleave as a 32-term integer sum: bit i of x
    * contributes 4^i, bit i of y contributes 2·4^i — definitionally the
    * Morton code, with no engine-specific bit tricks to diverge.
    */
  def q133ZorderKey: String = {
    def bits(c: String, mult: Long): String = (0 until 16).map { i =>
      s"(($c // ${1L << i}) % 2) * ${mult * (1L << (2 * i))}"
    }.mkString(" + ")
    s"""WITH base AS (SELECT o_orderkey,
       |    CAST(floor(o_custkey / 1) AS BIGINT) % 65536 AS x16,
       |    CAST(floor(o_totalprice / 100) AS BIGINT) % 65536 AS y16
       |  FROM orders)
       |SELECT o_orderkey, x16, y16,
       |  (${bits("x16", 1)} + ${bits("y16", 2)})::BIGINT AS zkey
       |FROM base ORDER BY o_orderkey""".stripMargin
  }

  /** q229: `Layout` Hilbert key / native `graft_hilbert` — the
    * published xy2d walk unrolled: 16 chained CTEs, each one quadrant
    * step (rx/ry from the current bit, d += s²·gray(rx,ry), then the
    * reflect-and-swap rotation over the full 2¹⁶ grid), every value a
    * BIGINT — no bit tricks to diverge between engines.
    */
  /** The 16 unrolled Hilbert xy2d rounds as chained CTEs h1..h16 from
    * an h0 carrying (`payload`*, x, y, d) — shared by q229 and q231.
    */
  private def hilbertSteps(payload: Seq[String]): String = {
    val keep = payload.map(_ + ", ").mkString
    (0 until 16).map { i =>
      val s = 1L << (15 - i)
      val ss = s * s
      s"""h${i + 1} AS (SELECT $keep
         |  CASE WHEN (y // $s) % 2 = 1 THEN x
         |       WHEN (x // $s) % 2 = 1 THEN 65535 - y ELSE y END AS x,
         |  CASE WHEN (y // $s) % 2 = 1 THEN y
         |       WHEN (x // $s) % 2 = 1 THEN 65535 - x ELSE x END AS y,
         |  d + $ss * (CASE WHEN (x // $s) % 2 = 1 AND (y // $s) % 2 = 1 THEN 2
         |                  WHEN (x // $s) % 2 = 1 THEN 3
         |                  WHEN (y // $s) % 2 = 1 THEN 1 ELSE 0 END) AS d
         |  FROM h$i)""".stripMargin
    }.mkString(",\n")
  }

  def q229HilbertKey: String = {
    val steps = hilbertSteps(Seq("o_orderkey", "ox", "oy"))
    s"""WITH h0 AS (SELECT o_orderkey,
       |    CAST(floor(o_custkey / 1) AS BIGINT) % 65536 AS ox,
       |    CAST(floor(o_totalprice / 100) AS BIGINT) % 65536 AS oy,
       |    CAST(floor(o_custkey / 1) AS BIGINT) % 65536 AS x,
       |    CAST(floor(o_totalprice / 100) AS BIGINT) % 65536 AS y,
       |    0::BIGINT AS d
       |  FROM orders),
       |$steps
       |SELECT o_orderkey, ox AS x16, oy AS y16, d AS hkey
       |FROM h16 ORDER BY o_orderkey""".stripMargin
  }

  /** q232: `Analytics.markovAttribution` — q174's sessionization (7-day
    * gap), journey transitions with START/CONV/NULL markers, per-
    * scenario dst→NULL redirect, and the six absorption rounds each
    * unrolled as a CTE computing p(s) = Σc·p // cs in HUGEINT.
    */
  def q232MarkovAttribution: String = {
    val rounds = 6
    val pk = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT ej.scenario, ej.src AS state,
         |    SUM(ej.c * COALESCE(pp.p, 0)) // ej.cs AS p
         |  FROM ej LEFT JOIN p${r - 1} pp
         |    ON pp.scenario = ej.scenario AND pp.state = ej.dst
         |  GROUP BY ej.scenario, ej.src, ej.cs
         |  UNION ALL
         |  SELECT scenario, '__CONV__', 1000000000000::HUGEINT FROM scen)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
       |  FROM events),
       |e AS (
       |  SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 604800000000 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM e0),
       |m AS (SELECT user_id, sid, event_id, event_type, us,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id, sid) AS conv
       |  FROM e),
       |t AS (SELECT user_id, sid, event_type, us, event_id, conv,
       |    row_number() OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS rn,
       |    lead(event_type) OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS nxt
       |  FROM m WHERE event_type <> 'purchase'),
       |mid AS (SELECT event_type AS src,
       |    COALESCE(nxt, CASE WHEN conv = 1 THEN '__CONV__' ELSE '__NULL__' END) AS dst
       |  FROM t),
       |st AS (SELECT '__START__' AS src, event_type AS dst FROM t WHERE rn = 1),
       |lonely AS (SELECT '__START__' AS src, '__CONV__' AS dst
       |  FROM (SELECT user_id, sid,
       |      MAX(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS ht
       |    FROM e GROUP BY 1, 2) WHERE ht = 0),
       |counts AS (SELECT src, dst, COUNT(*)::HUGEINT AS c FROM (
       |    SELECT * FROM mid UNION ALL SELECT * FROM st
       |    UNION ALL SELECT * FROM lonely) GROUP BY 1, 2),
       |rowsum AS (SELECT src, SUM(c) AS cs FROM counts GROUP BY 1),
       |chans AS (SELECT DISTINCT ch FROM (
       |    SELECT src AS ch FROM counts UNION SELECT dst FROM counts)
       |  WHERE ch NOT IN ('__START__', '__CONV__', '__NULL__')),
       |scen AS (SELECT ch AS scenario FROM chans
       |  UNION ALL SELECT '__FULL__' WHERE EXISTS (SELECT 1 FROM chans)),
       |edges AS (SELECT scenario, src,
       |    CASE WHEN dst = scenario THEN '__NULL__' ELSE dst END AS dst,
       |    SUM(c) AS c
       |  FROM scen CROSS JOIN counts GROUP BY 1, 2, 3),
       |ej AS (SELECT e2.scenario, e2.src, e2.dst, e2.c, r.cs
       |  FROM edges e2 JOIN rowsum r USING (src)),
       |p0 AS (SELECT scenario, '__CONV__' AS state,
       |    1000000000000::HUGEINT AS p FROM scen),
       |$pk,
       |ps AS (SELECT scenario, p FROM p$rounds WHERE state = '__START__'),
       |pf AS (SELECT p AS pfull FROM ps WHERE scenario = '__FULL__')
       |SELECT scenario AS event_type, CAST(pfull AS BIGINT) AS p_full_q12,
       |  CAST(p AS BIGINT) AS p_removed_q12,
       |  CASE WHEN pfull > 0
       |    THEN CAST((1000000::HUGEINT * (pfull - p)) // pfull AS BIGINT)
       |  END AS removal_effect_q6
       |FROM ps CROSS JOIN pf WHERE scenario <> '__FULL__'
       |ORDER BY event_type""".stripMargin
  }

  /** q231: `Layout.zoneMaps`/`boxScanStats` across three layouts of
    * the same points — compound (x-major) vs Z-order (q133's bit sum)
    * vs Hilbert (q229's unrolled walk); files are 64 equal-width cuts
    * of each layout's OCCUPIED key span ((k−min) // ((max−min)//64+1)),
    * scanned iff the min/max box overlaps the fixed query box. All
    * integer.
    */
  def q231ZonemapPruning: String = {
    def bits(c: String, mult: Long): String = (0 until 16).map { i =>
      s"(($c // ${1L << i}) % 2) * ${mult * (1L << (2 * i))}"
    }.mkString(" + ")
    val hit = "min_x <= 300 AND max_x >= 100 AND min_y <= 500 AND max_y >= 100"
    s"""WITH base AS (SELECT
       |    CAST(floor(o_custkey / 1) AS BIGINT) % 65536 AS x,
       |    CAST(floor(o_totalprice / 100) AS BIGINT) % 65536 AS y
       |  FROM orders),
       |h0 AS (SELECT x AS ox, y AS oy, x, y, 0::BIGINT AS d FROM base),
       |${hilbertSteps(Seq("ox", "oy"))},
       |keyed AS (
       |  SELECT 'compound' AS layout, ox * 65536 + oy AS k,
       |    ox AS x, oy AS y FROM h0
       |  UNION ALL SELECT 'zorder', (${bits("x", 1)} + ${bits("y", 2)})::BIGINT,
       |    x, y FROM base
       |  UNION ALL SELECT 'hilbert', d, ox, oy FROM h16),
       |ext AS (SELECT layout, MIN(k) AS kmin, MAX(k) AS kmax
       |  FROM keyed GROUP BY layout),
       |zm AS (SELECT layout,
       |    (k - kmin) // ((kmax - kmin) // 64 + 1) AS f,
       |    COUNT(*)::BIGINT AS n_rows,
       |    MIN(x) AS min_x, MAX(x) AS max_x,
       |    MIN(y) AS min_y, MAX(y) AS max_y
       |  FROM keyed JOIN ext USING (layout) GROUP BY 1, 2)
       |SELECT layout, COUNT(*)::BIGINT AS n_files,
       |  CAST(SUM(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       |  CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       |  CAST(SUM(CASE WHEN $hit THEN n_rows ELSE 0 END) AS BIGINT)
       |    AS rows_scanned
       |FROM zm GROUP BY layout ORDER BY layout""".stripMargin
  }

  /** q131: `Analytics.madOutliers(events.value by event_type, k=3)` —
    * both engines' exact median interpolates lo + (hi−lo)·frac, so the
    * unrounded 3×MAD predicate agrees bit-for-bit; displayed stats are
    * rounded to 4 (q44 discipline).
    */
  def q131MadOutliers: String =
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
      |  FROM events GROUP BY event_type),
      |d AS (SELECT e.event_id, e.event_type, e.value,
      |    abs(e.value - m.m) AS ad, m.m
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS md
      |  FROM d GROUP BY event_type)
      |SELECT d.event_id, d.event_type, d.value,
      |  round(d.ad, 4) AS abs_dev, round(d.m, 4) AS group_median,
      |  round(mad.md, 4) AS group_mad
      |FROM d JOIN mad USING (event_type)
      |WHERE d.ad > 3 * mad.md
      |ORDER BY event_id""".stripMargin

  def q125GapfillDaily: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    max(value) AS day_v, count(*)::BIGINT AS n
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1
      |  FROM daily GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0::TIMESTAMP,
      |    d1::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM spans),
      |j AS (
      |  SELECT g.user_id, g.day, d.day_v,
      |    COALESCE(d.n, 0)::BIGINT AS n_events,
      |    d.day_v IS NULL AS is_gap
      |  FROM grid g LEFT JOIN daily d USING (user_id, day))
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  last_value(day_v IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
      |  n_events, is_gap
      |FROM j ORDER BY user_id, day""".stripMargin

  /** q113: `Bpe.train` — the Sennrich BPE training loop, every iteration
    * replayed as a generated CTE block. The engine fuses pairs with a
    * greedy left-to-right fold; the relational equivalent is the
    * parity-run rule — within each maximal run of consecutive candidate
    * positions, even offsets are taken (a candidate at i+1 after a take
    * at i can only exist when the symbols chain, and the fold's fused
    * symbol is strictly longer than lhs, so both formulations consume
    * (i, i+1) and rescan from i+2). `cnt` sums cast to BIGINT (DuckDB
    * SUM(BIGINT) is HUGEINT); tie-break (pc DESC, l, r) is binary-order
    * identical cross-engine on the ASCII `words()` alphabet.
    */
  def q113BpeTrain: String = {
    val nMerges = 8
    val iter = (0 until nMerges).map { k =>
      s"""  pairs$k AS (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |      i -> {'l': syms[i], 'r': syms[i+1]})) AS g
         |    FROM w$k WHERE len(syms) >= 2),
         |  best$k AS (SELECT g.l AS l, g.r AS r, CAST(SUM(cnt) AS BIGINT) AS pc
         |    FROM pairs$k GROUP BY 1, 2
         |    ORDER BY pc DESC, l, r LIMIT 1),
         |  e$k AS (SELECT wid, cnt, syms, unnest(range(1, len(syms) + 1)) AS i FROM w$k),
         |  c$k AS (SELECT e.wid, e.cnt, e.i, e.syms[e.i] AS s,
         |      (e.i < len(e.syms) AND e.syms[e.i] = b.l AND e.syms[e.i + 1] = b.r) AS cand,
         |      b.l || b.r AS m
         |    FROM e$k e CROSS JOIN best$k b),
         |  r$k AS (SELECT *, i - row_number() OVER (PARTITION BY wid, cand ORDER BY i) AS grp
         |    FROM c$k),
         |  t$k AS (SELECT *, cand AND ((i - min(i) OVER (PARTITION BY wid, cand, grp)) % 2 = 0) AS taken
         |    FROM r$k),
         |  f$k AS (SELECT *, coalesce(lag(taken) OVER (PARTITION BY wid ORDER BY i), FALSE) AS consumed
         |    FROM t$k),
         |  w${k + 1} AS (SELECT wid, min(cnt) AS cnt,
         |      list(CASE WHEN taken THEN m ELSE s END ORDER BY i) AS syms
         |    FROM f$k WHERE NOT consumed GROUP BY wid)""".stripMargin
    }.mkString(",\n")
    val union = (0 until nMerges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, pc AS pair_count FROM best$k"
    }.mkString("\n  UNION ALL ")
    s"""WITH
       |  w0 AS (SELECT w AS wid, CAST(COUNT(*) AS BIGINT) AS cnt, string_split(w, '') AS syms
       |    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |            x -> length(x) > 0)) AS w
       |          FROM documents)
       |    GROUP BY w),
       |$iter
       |SELECT * FROM (
       |  $union)
       |ORDER BY merge_rank""".stripMargin
  }

  /** q112: `Dedup.capPerDomain` — registered-domain extraction (scheme
    * strip → host → lowercase → www strip → last two dot-labels),
    * blocklist anti join, then the q73 md5-permutation cap keyed on
    * domain. The URL view is q111's.
    */
  def q112DomainCap: String =
    s"""WITH
       |  d AS (SELECT doc_id, source,
       |      (CASE doc_id % 4 WHEN 0 THEN 'https://www.' WHEN 1 THEN 'HTTP://'
       |            WHEN 2 THEN 'https://' ELSE 'http://www.' END)
       |      || 'site' || ((doc_id // 4) % 7) || '.test/Docs/' || (doc_id // 4)
       |      || (CASE doc_id % 4 WHEN 0 THEN '/' WHEN 1 THEN '?utm_source=x&b=2&a=1'
       |            WHEN 2 THEN '?a=1&b=2#frag' ELSE '?b=2&utm_campaign=z&a=1' END) AS url
       |    FROM documents),
       |  h AS (SELECT doc_id, source,
       |      regexp_replace(regexp_replace(url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
       |        '[#?].*$$', '') AS nq FROM d),
       |  host AS (SELECT doc_id, source,
       |      regexp_replace(lower(CASE WHEN position('/' IN nq) > 0
       |          THEN substr(nq, 1, position('/' IN nq) - 1) ELSE nq END),
       |        '^www\\.', '') AS host0 FROM h),
       |  dom AS (SELECT doc_id, source,
       |      regexp_extract(host0, '([^.]+\\.)?[^.]+$$') AS domain FROM host),
       |  allowed AS (SELECT * FROM dom
       |    WHERE domain NOT IN ('site0.test', 'site3.test')),
       |  ranked AS (SELECT doc_id, source, domain,
       |      row_number() OVER (PARTITION BY domain
       |        ORDER BY md5('3#' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM allowed)
       |SELECT doc_id, source, domain FROM ranked
       |WHERE rk <= 10 ORDER BY doc_id""".stripMargin

  /** q102: `Dedup.exactKeepAgainst` — incremental EXACT dedup (the q92
    * shape for md5 digests): index = distinct digests of docs < 400,
    * incoming = docs ≥ 400; survivors are unindexed digests' min-id
    * shard representatives.
    */
  def q102ExactIncremental: String =
    s"""WITH
       |  idx AS (SELECT DISTINCT md5(COALESCE(text, '')) AS digest
       |    FROM documents WHERE doc_id < 400),
       |  inc AS (SELECT doc_id, md5(COALESCE(text, '')) AS digest
       |    FROM documents WHERE doc_id >= 400),
       |  novel AS (SELECT inc.* FROM inc
       |    ANTI JOIN idx USING (digest)),
       |  keep AS (SELECT min(doc_id) AS doc_id FROM novel GROUP BY digest)
       |SELECT d.doc_id, d.source FROM documents d
       |JOIN keep USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** q105: `TextAnalysis.bigramCounts(topN=200)` — corpus bigram
    * frequency table, the bigram-LM training pass.
    */
  def q105BigramCounts: String =
    s"""WITH
       |  base AS (SELECT doc_id,
       |      list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |        w -> length(w) > 0) AS ws
       |    FROM documents),
       |  bg AS (SELECT unnest(list_transform(range(1, len(ws)),
       |      i -> {'a': ws[i], 'b': ws[i+1]})) AS g
       |    FROM base WHERE len(ws) >= 2)
       |SELECT g.a AS a, g.b AS b, count(*)::BIGINT AS n
       |FROM bg GROUP BY 1, 2
       |ORDER BY n DESC, a, b LIMIT 200""".stripMargin

  /** q107: `TextAnalysis.pplTerciles` — the q90 scoring prefix, a total
    * (mean_lp, doc_id) row number, and the scores at descending
    * positions ⌈N/3⌉ / ⌈2N/3⌉ (the oracle may use a global window; the
    * engine's two-phase formulation is the scale-shaped one).
    */
  def q107PplTerciles: String =
    s"""$perplexityScoredCtes,
       |  rk AS (SELECT doc_id, mean_lp,
       |      row_number() OVER (ORDER BY mean_lp, doc_id) AS grank,
       |      count(*) OVER () AS gn
       |    FROM scored)
       |SELECT max(gn)::BIGINT AS n_docs,
       |  max(CASE WHEN grank = gn - (gn + 2) // 3 + 1 THEN mean_lp END)::BIGINT AS head_lp,
       |  max(CASE WHEN grank = gn - (2 * gn + 2) // 3 + 1 THEN mean_lp END)::BIGINT AS tail_lp
       |FROM rk""".stripMargin

  /** Shared q90/q91 prefix ending at `scored`: per-doc bigram count,
    * fixed-point lp sum, and truncating mean via the positive domain.
    */
  private def perplexityScoredCtes: String =
    """WITH
      |  base AS (SELECT doc_id,
      |      list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |        w -> length(w) > 0) AS ws
      |    FROM documents),
      |  bg AS (SELECT doc_id,
      |      unnest(list_transform(range(1, len(ws)),
      |        i -> {'a': ws[i], 'b': ws[i+1]})) AS g
      |    FROM base WHERE len(ws) >= 2),
      |  lp AS (SELECT doc_id,
      |      -(500 + CAST(CONCAT('0x', SUBSTRING(md5('lm#' || g.a || '#' || g.b), 1, 8)) AS UBIGINT) % 4500)::BIGINT AS lp
      |    FROM bg),
      |  agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |      sum(lp)::BIGINT AS lp_sum
      |    FROM lp GROUP BY doc_id),
      |  scored AS (SELECT b.doc_id,
      |      COALESCE(a.n_bigrams, 0)::BIGINT AS n_bigrams,
      |      COALESCE(a.lp_sum, 0)::BIGINT AS lp_sum,
      |      CASE WHEN COALESCE(a.n_bigrams, 0) > 0
      |           THEN -((-a.lp_sum) // a.n_bigrams) ELSE 0 END::BIGINT AS mean_lp
      |    FROM base b LEFT JOIN agg a USING (doc_id))""".stripMargin

  /** q141: HLL distinct-count replay — splitmix64 of event_id, bucket =
    * top p bits, rho = leading zeros of the remaining bits + 1 found by
    * an INTEGER binary search for the highest set bit (float log2
    * rounds the 2^k−1 boundary up at 52+ bits, so no log anywhere),
    * register max per (group, bucket), then the exact estimate
    * Numer // (S·10^9) in HUGEINT — [[graft.operators.Sketches]]
    * replayed end-to-end, including the cross-multiplied small-range
    * flag.
    */
  /** Generic HLL estimate block: `src` yields the group columns plus a
    * nonneg HUGEINT `z`; output = (groups*, n_set, est, small_range).
    * `groups` may be empty (whole-input sketch).
    */
  /** Register-table SQL: `src` yields groups + nonneg HUGEINT `z`;
    * output = (groups*, bucket, rho) — `Sketches.hllRegisters` replayed.
    */
  private def hllRegSql(src: String, groups: Seq[String]): String = {
    import graft.operators.Sketches
    val rhoMax = Sketches.HllRhoMax
    val div = BigInt(1) << (64 - Sketches.HllP)
    val g = groups.mkString(", ")
    val gc = if (groups.isEmpty) "" else s"$g, "
    val smx = staged(s"SELECT $gc z FROM ($src)", splitmixStages("z"))
    val rhoSearch = Seq(32, 16, 8, 4, 2, 1).foldLeft(
      s"SELECT $gc bucket, rem, rem AS _r, 0 AS _a FROM " +
        s"(SELECT $gc _sm // $div::HUGEINT AS bucket, " +
        s"_sm % $div::HUGEINT AS rem FROM ($smx))") {
      case (sql, sh) =>
        val tp = BigInt(1) << sh
        s"SELECT $gc bucket, rem, " +
          s"CASE WHEN _r >= $tp::HUGEINT THEN _r // $tp::HUGEINT ELSE _r END AS _r, " +
          s"_a + CASE WHEN _r >= $tp::HUGEINT THEN $sh ELSE 0 END AS _a FROM ($sql)"
    }
    val regBy = (groups :+ "bucket").mkString(", ")
    s"""SELECT $gc bucket,
       |  max(CASE WHEN rem = 0 THEN $rhoMax ELSE ${rhoMax - 1} - _a END) AS rho
       |FROM ($rhoSearch) GROUP BY $regBy""".stripMargin
  }

  /** Estimate from a register-table SQL (`Sketches.hllEstimate`). */
  private def hllEstFromRegSql(regSql: String, groups: Seq[String]): String = {
    import graft.operators.Sketches
    val m = Sketches.HllM
    val rhoMax = Sketches.HllRhoMax
    val scale = BigInt(1) << rhoMax
    val numer = Sketches.HllNumer
    val g = groups.mkString(", ")
    val gc = if (groups.isEmpty) "" else s"$g, "
    val esBy = if (groups.isEmpty) "" else s" GROUP BY $g"
    val sExpr =
      s"(($m - n_set)::HUGEINT * $scale::HUGEINT + s_set) * 1000000000::HUGEINT"
    s"""SELECT $gc CAST(n_set AS BIGINT) AS n_set,
       |  CAST($numer::HUGEINT // ($sExpr) AS BIGINT) AS est,
       |  (2::HUGEINT * $numer::HUGEINT) <= (${5 * m}::HUGEINT * ($sExpr)) AS small_range
       |FROM (
       |  SELECT $gc COUNT(*) AS n_set,
       |    SUM((1::BIGINT << ($rhoMax - rho))::HUGEINT) AS s_set
       |  FROM ($regSql)$esBy)""".stripMargin
  }

  private def hllEstimateSql(src: String, groups: Seq[String]): String =
    hllEstFromRegSql(hllRegSql(src, groups), groups)

  def q141HllDistinct: String =
    hllEstimateSql("SELECT event_type, event_id::HUGEINT AS z FROM events",
      Seq("event_type")) + "\nORDER BY event_type"

  /** q161: CMS join-size estimate replay — the d×w counter table
    * rebuilt via the splitmix bucket schedule (j-th row seed =
    * Gold·(j+1), bucket = top WBits of the mix), per-row dot products,
    * min over rows; the exact self-join size Σ n_k² rides along. Both
    * sides are lineitem.l_partkey, so one counter table serves both.
    */
  def q161JoinSizeEstimate: String = {
    import graft.operators.Sketches
    val shift = BigInt(1) << (64 - Sketches.CmsWBits)
    val seeds = (0 until Sketches.CmsD)
      .map(j => s"($j, ${(Gold * (j + 1)) & Mask}::HUGEINT)").mkString(", ")
    val smx = staged(s"SELECT j, (v + km) % $M64 AS z FROM keys CROSS JOIN seeds",
      splitmixStages("z"))
    s"""WITH seeds(j, km) AS (VALUES $seeds),
       |keys AS (SELECT l_partkey::HUGEINT AS v FROM lineitem),
       |bk AS (SELECT j, _sm // $shift::HUGEINT AS bucket FROM ($smx)),
       |cnt AS (SELECT j, bucket, COUNT(*)::HUGEINT AS c FROM bk GROUP BY j, bucket),
       |dots AS (SELECT j, SUM(c * c) AS dot FROM cnt GROUP BY j),
       |ex AS (SELECT SUM(n::HUGEINT * n) AS x FROM (
       |  SELECT COUNT(*) AS n FROM lineitem GROUP BY l_partkey))
       |SELECT CAST(MIN(dot) AS BIGINT) AS est_join,
       |  CAST((SELECT x FROM ex) AS BIGINT) AS exact_join
       |FROM dots ORDER BY est_join""".stripMargin
  }

  /** q166: iterated k-core peel — each round's surviving-node set and
    * restricted edge set unrolled as CTE pairs over the canonical
    * co-purchase graph; the final degrees read off the last round's
    * edges. The q147 unroll discipline for iterative graph algorithms.
    */
  def q166KCore: String = {
    val k = 90; val rounds = 3
    val peels = (1 to rounds).map { r =>
      s"""k$r AS (SELECT n FROM (
         |  SELECT a AS n FROM c${r - 1} UNION ALL SELECT b FROM c${r - 1}) t
         |  GROUP BY n HAVING COUNT(*) >= $k),
         |c$r AS (SELECT a, b FROM c${r - 1}
         |  WHERE a IN (SELECT n FROM k$r) AND b IN (SELECT n FROM k$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
       |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
       |c0 AS (SELECT DISTINCT least(x.i, y.i) AS a, greatest(x.i, y.i) AS b
       |  FROM ok x JOIN ok y ON x.g = y.g AND x.i <> y.i),
       |$peels
       |SELECT n AS node, COUNT(*) AS deg FROM (
       |  SELECT a AS n FROM c$rounds UNION ALL SELECT b FROM c$rounds) t
       |GROUP BY n ORDER BY node""".stripMargin
  }

  /** q173: weighted integer PageRank — q147's unroll with per-edge
    * weights (raw co-membership multiplicities) and weighted degrees:
    * every hop floor((score·85·w)/(wdeg·100)), all HUGEINT-exact.
    */
  /** q211: `Graphs.ssspInt` over the weighted co-purchase graph with
    * cost = 1000000 // count — each Bellman–Ford round unrolled as a
    * union+min CTE; the engine's label-correcting frontier computes the
    * same ≤ r-edge-path minimum as this synchronous unroll.
    */
  def q211Sssp: String = {
    val rounds = 3
    val rc = (1 to rounds).map { r =>
      s"""r$r AS (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT node, dist FROM r${r - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, d.dist + e.w AS dist
         |  FROM r${r - 1} d JOIN ew e ON e.src = d.node) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
       |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
       |ew AS (SELECT a.i AS src, b.i AS dst,
       |    (1000000 // COUNT(*))::BIGINT AS w
       |  FROM ok a JOIN ok b ON a.g = b.g AND a.i <> b.i
       |  GROUP BY a.i, b.i),
       |r0 AS (SELECT MIN(src) AS node, 0::BIGINT AS dist FROM ew),
       |$rc
       |SELECT node, dist FROM r$rounds ORDER BY node""".stripMargin
  }

  def q173WeightedRank: String = {
    val scale = 1000000000000L
    val iters = 3
    val baseSub = s"(SELECT ($scale::HUGEINT * 15) // (100 * COUNT(*)) FROM nodes)"
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node,
         |    SUM((s.score * 85 * e.w) // (d.wdeg * 100)) AS cs
         |  FROM e JOIN s${k - 1} s ON e.src = s.node
         |         JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |s$k AS (SELECT node, $baseSub + cs AS score FROM c$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
       |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
       |e AS (SELECT a.i AS src, b.i AS dst, COUNT(*)::HUGEINT AS w
       |      FROM ok a JOIN ok b ON a.g = b.g AND a.i <> b.i
       |      GROUP BY a.i, b.i),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src, SUM(w) AS wdeg FROM e GROUP BY src),
       |s0 AS (SELECT node, (SELECT $scale::HUGEINT // COUNT(*) FROM nodes) AS score
       |       FROM nodes),
       |$iterCtes
       |SELECT node AS l_partkey, CAST(score AS BIGINT) AS score
       |FROM s$iters ORDER BY score DESC, l_partkey LIMIT 20""".stripMargin
  }

  /** q169: synchronous label propagation — each round's neighbour-label
    * counts and min-tie argmax unrolled as CTE pairs over the distinct
    * co-purchase edges; labels start as node ids.
    */
  /** Shared CTE chain (e0 … l`rounds`) building the capped co-purchase
    * edge set and `rounds` synchronous label-prop rounds — used by
    * q169 (the labels themselves) and q225 (modularity of them).
    */
  private def labelPropCtes(rounds: Int): String = {
    val rc = (1 to rounds).map { r =>
      s"""n$r AS (SELECT e.src AS node, l.lab, COUNT(*) AS c
         |  FROM e JOIN l${r - 1} l ON l.node = e.dst GROUP BY e.src, l.lab),
         |l$r AS (SELECT node, lab FROM (
         |  SELECT node, lab,
         |    row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
         |  FROM n$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
       |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
       |e AS (SELECT DISTINCT a.i AS src, b.i AS dst
       |  FROM ok a JOIN ok b ON a.g = b.g AND a.i <> b.i),
       |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
       |$rc""".stripMargin
  }

  def q169Communities: String =
    s"""WITH ${labelPropCtes(2)}
       |SELECT node, lab AS community FROM l2 ORDER BY node""".stripMargin

  /** q225: `Graphs.modularity` over q169's labels — canonical a<b edge
    * set, per-community intra-edge and degree sums, and the exact
    * integer numerator Q_c·4m² = 4m·L_c − D_c² in HUGEINT
    * (↔ Spark DECIMAL(38,0)); no doubles emitted.
    */
  def q225Modularity: String =
    s"""WITH ${labelPropCtes(2)},
       |lab AS (SELECT node, lab AS community FROM l2),
       |canon AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |mm AS (SELECT COUNT(*)::HUGEINT AS m FROM canon),
       |deg AS (SELECT node, COUNT(*)::BIGINT AS d FROM (
       |    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
       |  GROUP BY node),
       |cs AS (SELECT community, COUNT(*)::BIGINT AS n_nodes,
       |    CAST(SUM(d) AS BIGINT) AS deg_sum
       |  FROM deg JOIN lab USING (node) GROUP BY community),
       |intra AS (SELECT la.community, COUNT(*)::BIGINT AS l_in
       |  FROM canon c JOIN lab la ON la.node = c.a
       |               JOIN lab lb ON lb.node = c.b
       |  WHERE la.community = lb.community GROUP BY la.community)
       |SELECT cs.community, cs.n_nodes,
       |  COALESCE(i.l_in, 0)::BIGINT AS l_in, cs.deg_sum,
       |  CAST(4::HUGEINT * mm.m * COALESCE(i.l_in, 0)::HUGEINT
       |    - cs.deg_sum::HUGEINT * cs.deg_sum::HUGEINT AS BIGINT) AS q_num,
       |  CAST(4::HUGEINT * mm.m * mm.m AS BIGINT) AS q_den
       |FROM cs CROSS JOIN mm LEFT JOIN intra i USING (community)
       |ORDER BY cs.community""".stripMargin

  /** q226: `Graphs.hitsInt` — two HITS rounds unrolled as CTE pairs;
    * every normalization the exact HUGEINT ⌊x·10⁶/max⌋ (↔ Spark
    * DECIMAL DIV); nodes missing a score coalesce to 0.
    */
  def q226Hits: String = {
    val rounds = 2
    val rc = (1 to rounds).map { r =>
      s"""ar$r AS (SELECT e.dst AS node, CAST(SUM(h.h) AS HUGEINT) AS a
         |  FROM e JOIN h${r - 1} h ON h.node = e.src GROUP BY e.dst),
         |a$r AS (SELECT node, CAST((a * 1000000) //
         |    (SELECT MAX(a) FROM ar$r) AS BIGINT) AS a FROM ar$r),
         |hr$r AS (SELECT e.src AS node, CAST(SUM(a.a) AS HUGEINT) AS h
         |  FROM e JOIN a$r a ON a.node = e.dst GROUP BY e.src),
         |h$r AS (SELECT node, CAST((h * 1000000) //
         |    (SELECT MAX(h) FROM hr$r) AS BIGINT) AS h FROM hr$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS src,
       |    o_custkey + 1000000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_suppkey <> o_custkey + 1000000),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, 1000000::BIGINT AS h FROM nodes),
       |$rc
       |SELECT n.node,
       |  COALESCE(h.h, 0)::BIGINT AS hub_q6,
       |  COALESCE(a.a, 0)::BIGINT AS auth_q6
       |FROM nodes n LEFT JOIN h$rounds h ON h.node = n.node
       |  LEFT JOIN a$rounds a ON a.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** q189: KMV bottom-k distinct — splitmix64 replayed per input, the
    * k-th smallest UNSIGNED hash per group, est = ⌊(k−1)·2⁶⁴/u_k⌋ in
    * HUGEINT (exact n below k). splitmix64 is bijective, so distinct
    * hashes ≡ distinct inputs.
    */
  def q189KmvDistinct: String = {
    val k = 256
    val smx = staged("SELECT event_type, z FROM base", splitmixStages("z"))
    s"""WITH base AS (SELECT event_type, user_id::HUGEINT AS z FROM events),
       |h AS (SELECT DISTINCT event_type, _sm AS u FROM ($smx)),
       |r AS (SELECT event_type, u,
       |    row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS nd
       |  FROM h)
       |SELECT event_type, CAST(LEAST(nd, $k) AS BIGINT) AS n_state,
       |  CAST(CASE WHEN nd < $k THEN nd
       |    ELSE (${k - 1}::HUGEINT * $M64) // (CASE WHEN u = 0 THEN 1 ELSE u END)
       |  END AS BIGINT) AS est
       |FROM r
       |WHERE (nd >= $k AND rn = $k) OR (nd < $k AND rn = nd)
       |ORDER BY event_type""".stripMargin
  }

  /** q206: content-defined chunking replay — the Gear walk
    * ([[graft.functions.Hashing.cdcChunks]]) as a recursive CTE that
    * advances every doc one character per step, carrying (h, d, cs)
    * exactly as the Scala kernel does: h ← (h·2 + G(c mod 256)) mod
    * 2⁶⁴ with G from a 256-row splitmix64 table, d ← FNV-1a fold,
    * boundary / reset logic identical, digests emitted signed. The
    * q88 BPE-walk discipline applied to rolling-hash chunking.
    */
  def q206CdcChunks(minLen: Int, maxLen: Int, maskBits: Int): String = {
    val mod = BigInt(1) << maskBits
    val gts = staged("SELECT c, c::HUGEINT AS z FROM range(0,256) t(c)",
      splitmixStages("z"))
    // step expressions over walk row w and its next char
    val cExpr = "ascii(substr(w.t, w.i + 1, 1)) % 256"
    val h1 = s"(w.h * 2 + gt.g) % $M64"
    val d1 = mulmod(s"xor(w.d, ($cExpr)::HUGEINT)", FnvPrime)
    val len1 = "(w.i + 1 - w.cs + 1)"
    val cut = s"(($len1 >= $minLen AND ($h1) % $mod = 0)" +
      s" OR $len1 >= $maxLen OR w.i + 1 = w.len)"
    s"""WITH RECURSIVE
       |gt AS (SELECT c, _sm AS g FROM ($gts)),
       |docs0 AS (SELECT doc_id, text AS t, strlen(text) AS len
       |  FROM documents WHERE strlen(text) >= 1),
       |walk AS (
       |  SELECT doc_id, t, len, 0 AS i, 0::HUGEINT AS h,
       |    $FnvBasis::HUGEINT AS d, 1 AS cs,
       |    FALSE AS cut, 0::HUGEINT AS emit_d, 0 AS emit_len
       |  FROM docs0
       |  UNION ALL
       |  SELECT w.doc_id, w.t, w.len, w.i + 1,
       |    CASE WHEN $cut THEN 0::HUGEINT ELSE $h1 END,
       |    CASE WHEN $cut THEN $FnvBasis::HUGEINT ELSE $d1 END,
       |    CASE WHEN $cut THEN w.i + 2 ELSE w.cs END,
       |    $cut, $d1, $len1
       |  FROM walk w JOIN gt ON gt.c = $cExpr
       |  WHERE w.i < w.len),
       |chunks AS (SELECT doc_id, ${signed("emit_d")} AS digest,
       |    emit_len FROM walk WHERE cut)
       |SELECT digest, COUNT(*) AS n_chunks,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(MAX(emit_len) AS BIGINT) AS chunk_len
       |FROM chunks GROUP BY digest HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY n_chunks DESC, digest LIMIT 20""".stripMargin
  }

  /** q204: KMV set-operation replay — per-set bottom-256 of the
    * sign-flipped splitmix64 hashes (ascending BIGINT ≡ unsigned hash
    * order), union re-rank, match count; union_est is the q189
    * estimator on the union's k-th min, inter_est its floor-scaled
    * Jaccard share. Pure integer until the final jaccard division.
    */
  def q204KmvSetOps: String = {
    val k = 256
    val smx = staged("SELECT event_type, z FROM base", splitmixStages("z"))
    // sign-flip: u = signed(_sm XOR 2^63); unsigned value recovers as
    // CAST(u AS HUGEINT) + 2^63
    val flip =
      s"${signed(s"xor(_sm, 9223372036854775808::HUGEINT)")}"
    s"""WITH base AS (SELECT event_type, user_id::HUGEINT AS z FROM events
       |  WHERE event_type IN ('click', 'purchase')),
       |h AS (SELECT DISTINCT event_type, $flip AS u FROM ($smx)),
       |ra AS (SELECT u, row_number() OVER (ORDER BY u) AS rn FROM h
       |  WHERE event_type = 'click'),
       |rb AS (SELECT u, row_number() OVER (ORDER BY u) AS rn FROM h
       |  WHERE event_type = 'purchase'),
       |a AS (SELECT u FROM ra WHERE rn <= $k),
       |b AS (SELECT u FROM rb WHERE rn <= $k),
       |un AS (SELECT u, MAX(ina) AS ina, MAX(inb) AS inb FROM (
       |  SELECT u, 1 AS ina, 0 AS inb FROM a
       |  UNION ALL SELECT u, 0, 1 FROM b) GROUP BY u),
       |rk AS (SELECT *, row_number() OVER (ORDER BY u) AS rn FROM un),
       |agg AS (SELECT COUNT(*) AS k_used,
       |    CAST(SUM(ina * inb) AS BIGINT) AS matches, MAX(u) AS umax
       |  FROM rk WHERE rn <= $k),
       |est AS (SELECT k_used, matches,
       |    CASE WHEN k_used < $k THEN CAST(k_used AS HUGEINT)
       |      ELSE (${k - 1}::HUGEINT * $M64) //
       |        (CASE WHEN CAST(umax AS HUGEINT) + 9223372036854775808::HUGEINT = 0
       |          THEN 1 ELSE CAST(umax AS HUGEINT) + 9223372036854775808::HUGEINT END)
       |    END AS ue
       |  FROM agg)
       |SELECT CAST(k_used AS BIGINT) AS k_used, matches,
       |  CAST(ue AS BIGINT) AS union_est,
       |  CAST(matches AS DOUBLE) / CAST(k_used AS DOUBLE) AS jaccard,
       |  CAST((matches::HUGEINT * ue) // k_used AS BIGINT) AS inter_est
       |FROM est""".stripMargin
  }

  /** q179: exact BFS layers — each frontier unrolled as (new nodes,
    * settled set) CTE pairs over the distinct co-purchase edges; the
    * landmark is the smallest node in the edge set.
    */
  def q179BfsHops: String = {
    val rounds = 3
    val rc = (1 to rounds).map { r =>
      s"""f$r AS (SELECT DISTINCT e.dst AS node
         |  FROM e JOIN d${r - 1} d ON e.src = d.node
         |  WHERE e.dst NOT IN (SELECT node FROM d${r - 1})),
         |d$r AS (SELECT node, hops FROM d${r - 1}
         |  UNION ALL SELECT node, $r AS hops FROM f$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
       |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
       |e AS (SELECT DISTINCT a.i AS src, b.i AS dst
       |  FROM ok a JOIN ok b ON a.g = b.g AND a.i <> b.i),
       |d0 AS (SELECT MIN(src) AS node, 0 AS hops FROM e),
       |$rc
       |SELECT node, CAST(hops AS BIGINT) AS hops
       |FROM d$rounds ORDER BY hops, node""".stripMargin
  }

  /** q155: audience overlap by HLL inclusion–exclusion — est(click) +
    * est(purchase) − est(click ∪ purchase), each term the exact q141
    * estimate replay; the union term sketches the unioned ROWS, which
    * equals the engine's register-wise max merge identically.
    */
  def q155HllOverlap: String = {
    def est(where: String): String = hllEstimateSql(
      s"SELECT user_id::HUGEINT AS z FROM events WHERE $where", Seq.empty)
    s"""WITH ea AS (${est("event_type = 'click'")}),
       |eb AS (${est("event_type = 'purchase'")}),
       |eu AS (${est("event_type IN ('click', 'purchase')")})
       |SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
       |  ea.est + eb.est - eu.est AS overlap_est
       |FROM ea, eb, eu ORDER BY est_a""".stripMargin
  }

  /** q151: the native HLL aggregate composed with SQL ROLLUP — per-day ×
    * per-type, per-day subtotals, and the grand total, each an
    * independent exact sketch replay; subtotal keys labeled like the
    * engine's coalesce.
    */
  def q151HllRollup: String = {
    val base = "SELECT event_type, epoch_us(ts) // 86400000000 AS day, " +
      "event_id::HUGEINT AS z FROM events"
    s"""WITH base AS ($base)
       |SELECT * FROM (
       |  SELECT day, event_type, n_set, est
       |  FROM (${hllEstimateSql("SELECT day, event_type, z FROM base",
                  Seq("day", "event_type"))})
       |  UNION ALL
       |  SELECT day, '(all)' AS event_type, n_set, est
       |  FROM (${hllEstimateSql("SELECT day, z FROM base", Seq("day"))})
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT) AS day, '(all)' AS event_type, n_set, est
       |  FROM (${hllEstimateSql("SELECT z FROM base", Seq.empty)})
       |) ORDER BY day, event_type""".stripMargin
  }

  /** q147: integer-fixed-point PageRank replay — co-occurrence edges,
    * then each of the 3 synchronous rounds unrolled as a (contrib,
    * score) CTE pair; every hop is floor((score·85)/(deg·100)) and the
    * restart base floor(scale·15/(100·n)), all HUGEINT-exact — the q57
    * integer-Lloyd discipline applied to an iterative graph algorithm.
    */
  def q147CopurchaseRank: String = {
    val scale = 1000000000000L
    val iters = 3
    val baseSub = s"(SELECT ($scale::HUGEINT * 15) // (100 * COUNT(*)) FROM nodes)"
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node, SUM((s.score * 85) // (d.deg * 100)) AS cs
         |  FROM e JOIN s${k - 1} s ON e.src = s.node
         |         JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |s$k AS (
         |  SELECT n.node, $baseSub + COALESCE(c.cs, 0) AS score
         |  FROM nodes n LEFT JOIN c$k c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
       |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
       |e AS (SELECT DISTINCT a.i AS src, b.i AS dst
       |      FROM ok a JOIN ok b ON a.g = b.g AND a.i <> b.i),
       |nodes AS (SELECT DISTINCT src AS node FROM (
       |  SELECT src FROM e UNION ALL SELECT dst FROM e) t(src)),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |s0 AS (SELECT node, (SELECT $scale::HUGEINT // COUNT(*) FROM nodes) AS score
       |       FROM nodes),
       |$iterCtes
       |SELECT node AS l_partkey, CAST(score AS BIGINT) AS score
       |FROM s$iters ORDER BY score DESC, l_partkey LIMIT 20""".stripMargin
  }

  /** q203: personalized PageRank replay — q147's unroll with the
    * restart mass pinned to the in-graph members of the seed set (top-3
    * parts by distinct-order count, desc count / asc id): s0 =
    * scale//|seeds| on seeds else 0, per-round base likewise. Same
    * HUGEINT-exact hop arithmetic.
    */
  def q203PprRelated: String = {
    val scale = 1000000000000L
    val iters = 2
    val nsSub = "(SELECT COUNT(*) FROM seedg)"
    val baseSub =
      s"(SELECT ($scale::HUGEINT * 15) // (100 * COUNT(*)) FROM seedg)"
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node, SUM((s.score * 85) // (d.deg * 100)) AS cs
         |  FROM e JOIN s${k - 1} s ON e.src = s.node
         |         JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |s$k AS (
         |  SELECT n.node,
         |    (CASE WHEN sg.node IS NOT NULL THEN $baseSub ELSE 0 END)
         |      + COALESCE(c.cs, 0) AS score
         |  FROM nodes n LEFT JOIN seedg sg USING (node)
         |    LEFT JOIN c$k c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
       |seeds AS (SELECT i AS node FROM (
       |  SELECT i, COUNT(DISTINCT g) AS cnt FROM e0 GROUP BY i
       |  ORDER BY cnt DESC, i LIMIT 3)),
       |ok AS (SELECT g, i FROM e0 WHERE g NOT IN (
       |  SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 1000)),
       |e AS (SELECT DISTINCT a.i AS src, b.i AS dst
       |      FROM ok a JOIN ok b ON a.g = b.g AND a.i <> b.i),
       |nodes AS (SELECT DISTINCT src AS node FROM (
       |  SELECT src FROM e UNION ALL SELECT dst FROM e) t(src)),
       |seedg AS (SELECT node FROM seeds JOIN nodes USING (node)),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |s0 AS (SELECT n.node,
       |  CASE WHEN sg.node IS NOT NULL
       |    THEN $scale::HUGEINT // $nsSub ELSE 0 END AS score
       |  FROM nodes n LEFT JOIN seedg sg USING (node)),
       |$iterCtes
       |SELECT node AS l_partkey, CAST(score AS BIGINT) AS score
       |FROM s$iters ORDER BY score DESC, l_partkey LIMIT 20""".stripMargin
  }

  /** q153: trailing-7-day distinct users — daily registers fanned onto
    * their window's target days, merged by max, estimated per day.
    */
  def q153WauSketch: String = {
    val base = "SELECT epoch_us(ts) // 86400000000 AS day, " +
      "user_id::HUGEINT AS z FROM events"
    s"""WITH base AS ($base),
       |days AS (SELECT DISTINCT day FROM base),
       |regs AS (${hllRegSql("SELECT day, z FROM base", Seq("day"))}),
       |win AS (
       |  SELECT d.day, r.bucket, MAX(r.rho) AS rho
       |  FROM days d JOIN regs r ON r.day BETWEEN d.day - 6 AND d.day
       |  GROUP BY d.day, r.bucket)
       |${hllEstFromRegSql("SELECT * FROM win", Seq("day"))}
       |ORDER BY day""".stripMargin
  }

  /** q296: `Embeddings.ivfBalanceReport` — the q57/q274 training chain
    * ([[cellAsgnCtes]], same nCells/iters), per-cell counts, Q6 share,
    * global max/mean imbalance repeated per row.
    */
  def q296IvfBalance: String = {
    val iters = 2
    s"""WITH
       |${cellAsgnCtes(16, iters)},
       |cells AS (SELECT cell, COUNT(*) AS n FROM asgn$iters GROUP BY 1),
       |tot AS (SELECT SUM(n) AS t, COUNT(*) AS nc, MAX(n) AS mx
       |  FROM cells)
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(n AS BIGINT) AS n,
       |  CAST((CAST(n AS HUGEINT) * 1000000) // t AS BIGINT)
       |    AS share_q6,
       |  CAST((CAST(mx AS HUGEINT) * nc * 1000000) // t AS BIGINT)
       |    AS imbalance_q6
       |FROM cells, tot ORDER BY cell""".stripMargin
  }

  /** q351: `Similarity.ivfStalenessAudit` — the q57 Lloyd chain
    * ([[cellAsgnCtes]]) trained on the 80% base relation, the 20%
    * appendix quantized independently (per-vector maxabs, the
    * engine's rule) and routed to the FROZEN final centroids
    * (argmin squared-L2, tie → lowest cell), then per-cell growth
    * and the before/after imbalance factors.
    */
  def q351IvfStaleness: String = {
    val iters = 2
    s"""WITH
       |${cellAsgnCtes(
            "LEAST(16, (SELECT COUNT(*) FROM embeddings" +
              " WHERE vec_id % 5 <> 0))", iters,
            "(SELECT * FROM embeddings WHERE vec_id % 5 <> 0)")},
       |aq AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE *
       |      (CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END)
       |      + 0.5) AS BIGINT)) AS qv
       |  FROM (SELECT vec_id, embedding,
       |      COALESCE(list_max(list_transform(embedding,
       |        x -> abs(x::DOUBLE))), 0.0) AS maxabs
       |    FROM embeddings WHERE vec_id % 5 = 0)),
       |apos0 AS (SELECT vec_id, qv, unnest(range(len(qv))) AS pos
       |  FROM aq),
       |apos AS (SELECT vec_id, pos, qv[pos + 1] AS v FROM apos0),
       |da AS (SELECT v.vec_id, c.cell,
       |    sum((v.v - c.c) * (v.v - c.c)) AS d2
       |  FROM apos v JOIN cent$iters c ON v.pos = c.pos GROUP BY 1, 2),
       |asgna AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell)
       |      AS rn FROM da) WHERE rn = 1),
       |bcells AS (SELECT cell, COUNT(*) AS n_base FROM asgn$iters
       |  GROUP BY 1),
       |acells AS (SELECT cell, COUNT(*) AS n_new FROM asgna GROUP BY 1),
       |cells AS (SELECT COALESCE(b.cell, a.cell) AS cell,
       |    COALESCE(b.n_base, 0) AS n_base, COALESCE(a.n_new, 0) AS n_new
       |  FROM bcells b FULL OUTER JOIN acells a ON b.cell = a.cell),
       |tot AS (SELECT SUM(n_base) AS tb, SUM(n_new) AS tn,
       |    COUNT(*) AS nc, MAX(n_base) AS mxb,
       |    MAX(n_base + n_new) AS mxa FROM cells)
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(n_base AS BIGINT) AS n_base,
       |  CAST(n_new AS BIGINT) AS n_new,
       |  CAST(CASE WHEN n_base > 0 THEN
       |    (CAST(n_new AS HUGEINT) * 1000000) // n_base END AS BIGINT)
       |    AS growth_q6,
       |  CAST(CASE WHEN tb > 0 THEN
       |    (CAST(mxb AS HUGEINT) * nc * 1000000) // tb END AS BIGINT)
       |    AS imbalance_before_q6,
       |  CAST(CASE WHEN tb + tn > 0 THEN
       |    (CAST(mxa AS HUGEINT) * nc * 1000000) // (tb + tn) END
       |    AS BIGINT) AS imbalance_after_q6
       |FROM cells CROSS JOIN tot ORDER BY cell""".stripMargin
  }

  /** q297: `TextAnalysis.domainDivergence` — the q282 tokenizer's
    * (domain, token) count cells, intersection-only pair join, per-pair
    * Q12 Jensen–Shannon via the shared lnQ12 kernel with the disjoint
    * mass folded in as (mass)·lnQ12(2); both KL halves clamped at 0
    * against per-term ln floor noise, mirrored in the engine.
    */
  def q297DomainDivergence: String =
    """WITH RECURSIVE tw AS (SELECT d.source AS g, t.w
      |  FROM documents d,
      |    unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9'']+'))
      |      AS t(w)
      |  WHERE t.w <> ''),
      |c AS (SELECT g, w, COUNT(*) AS c FROM tw GROUP BY 1, 2),
      |tt AS (SELECT g, SUM(c) AS t FROM c GROUP BY 1),
      |pr AS (SELECT a.g AS ga, b.g AS gb, a.c AS ca, b.c AS cb,
      |    2 * a.c * tb.t AS x1, a.c * tb.t + b.c * ta.t AS m,
      |    2 * b.c * ta.t AS x2
      |  FROM c a JOIN c b ON a.w = b.w AND a.g < b.g
      |  JOIN tt ta ON ta.g = a.g JOIN tt tb ON tb.g = b.g),
      |_ks AS (SELECT DISTINCT k FROM (
      |  SELECT x1 AS k FROM pr UNION SELECT m FROM pr
      |  UNION SELECT x2 FROM pr UNION SELECT 2)),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |s AS (SELECT ga, gb, COUNT(*) AS n_common,
      |    SUM(CAST(ca AS HUGEINT) * (l1.l - lm.l)) AS s1,
      |    SUM(CAST(cb AS HUGEINT) * (l2.l - lm.l)) AS s2,
      |    SUM(ca) AS ia, SUM(cb) AS ib
      |  FROM pr JOIN _lnq l1 ON l1.k = pr.x1
      |  JOIN _lnq lm ON lm.k = pr.m
      |  JOIN _lnq l2 ON l2.k = pr.x2
      |  GROUP BY 1, 2),
      |ln2 AS (SELECT l FROM _lnq WHERE k = 2)
      |SELECT ta.g AS domain_a, tb.g AS domain_b,
      |  CAST(COALESCE(s.n_common, 0) AS BIGINT) AS n_common,
      |  CAST((GREATEST(0::HUGEINT, COALESCE(s.s1, 0)
      |      + CAST(ta.t - COALESCE(s.ia, 0) AS HUGEINT) * ln2.l) // ta.t
      |    + GREATEST(0::HUGEINT, COALESCE(s.s2, 0)
      |      + CAST(tb.t - COALESCE(s.ib, 0) AS HUGEINT) * ln2.l) // tb.t)
      |    // 2 AS BIGINT) AS js_q12
      |FROM tt ta JOIN tt tb ON ta.g < tb.g
      |LEFT JOIN s ON s.ga = ta.g AND s.gb = tb.g
      |CROSS JOIN ln2
      |ORDER BY domain_a, domain_b""".stripMargin

  /** q298: `Analytics.psiVsBaseline` — q202's smoothed integer-log PSI
    * kernel per day bucket vs the GLOBAL category distribution; the
    * bucket×category grid completes with 0 so k is global.
    */
  def q298PsiOverTime: String =
    ("""WITH RECURSIVE
       |cells AS (SELECT (epoch_us(ts) // 86400000000) AS b, event_type,
       |    COUNT(*) AS c FROM events GROUP BY 1, 2),
       |base AS (SELECT event_type, SUM(c) AS a FROM cells GROUP BY 1),
       |kk AS (SELECT COUNT(*) AS k, SUM(a) AS na FROM base),
       |bt AS (SELECT b, SUM(c) AS nb FROM cells GROUP BY 1),
       |grid AS (SELECT bt.b, base.event_type, base.a,
       |    COALESCE(cells.c, 0) AS bc, bt.nb, kk.k, kk.na
       |  FROM bt CROSS JOIN base CROSS JOIN kk
       |  LEFT JOIN cells ON cells.b = bt.b
       |    AND cells.event_type = base.event_type),
       |sm AS (SELECT b, (bc + 1) * (na + k) AS x,
       |    (a + 1) * (nb + k) AS y, na, nb, k FROM grid),
       |_ks AS (SELECT DISTINCT k FROM (
       |  SELECT x AS k FROM sm UNION SELECT y FROM sm)),
       |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
       |t AS (SELECT sm.b, sm.x, sm.y, sm.na, sm.nb, sm.k,
       |    lx.l AS lx, ly.l AS ly
       |  FROM sm JOIN _lnq lx ON lx.k = sm.x
       |  JOIN _lnq ly ON ly.k = sm.y),
       |agg AS (SELECT b, MAX(na) AS na, MAX(nb) AS nb, MAX(k) AS k,
       |    SUM(CAST(x - y AS HUGEINT) * (lx - ly)) AS s2
       |  FROM t GROUP BY 1)
       |SELECT CAST(b AS BIGINT) AS bucket,
       |  CAST(na AS BIGINT) AS n_expected,
       |  CAST(nb AS BIGINT) AS n_actual, CAST(k AS BIGINT) AS n_cats,
       |  CAST(s2 // (CAST(na + k AS HUGEINT) * (nb + k)) AS BIGINT)
       |    AS psi_q,
       |  CAST(CAST(s2 // (CAST(na + k AS HUGEINT) * (nb + k)) AS BIGINT)
       |    AS DOUBLE) / 1e12 AS psi
       |FROM agg ORDER BY bucket""".stripMargin)

  /** q299: `TextAnalysis.tokenBudgetBySource` — the q88 BPE merge walk
    * (verbatim CTE chain, per globally-distinct pre-token), summed per
    * source with byte counts; Q6 token share and tokens-per-100-bytes
    * fertility.
    */
  def q299TokenBudget: String =
    bpePerSourceCte +
      """,
        |tot AS (SELECT SUM(n_tokens) AS tt FROM per)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_bytes AS BIGINT) AS n_bytes,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN tt > 0 THEN
        |    (CAST(n_tokens AS HUGEINT) * 1000000) // tt END AS BIGINT)
        |    AS token_share_q6,
        |  CAST(CASE WHEN n_bytes > 0 THEN
        |    (CAST(n_tokens AS HUGEINT) * 100000000) // n_bytes END
        |    AS BIGINT) AS fertility_q6
        |FROM per, tot ORDER BY source""".stripMargin

  /** Shared CTE prefix: exact-BPE token supply per source (the q88
    * merge walk per globally-distinct pre-token, summed per source) —
    * ends at `per(source, n_docs, n_bytes, n_tokens)`, ready for a
    * readout continuation (q299 budget report, q318 epochs plan).
    */
  private def bpePerSourceCte: String = {
    val values = graft.functions.Bpe.defaultMerges.zipWithIndex
      .map { case ((a, b), i) => s"('$a','$b',$i)" }.mkString(", ")
    val head = "WITH RECURSIVE\nmerges(a, b, rnk) AS (VALUES "
    val body =
      """),
        |pre AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s\x00-\x1f]+') AS ws
        |  FROM documents),
        |flat AS (SELECT doc_id, s.pos AS widx, s.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(0, len(ws)),
        |    i -> {'pos': i, 'w': ws[i+1]})) AS s FROM pre)),
        |uw AS (SELECT DISTINCT w FROM flat),
        |init AS (SELECT w, list_aggregate(list_transform(string_split(w, ''),
        |    c -> chr(30) || c || chr(31)), 'string_agg', '') AS s FROM uw),
        |walk AS (
        |  SELECT w, s FROM init
        |  UNION ALL
        |  SELECT walk.w, replace(walk.s,
        |      chr(30)||bm.a||chr(31)||chr(30)||bm.b||chr(31),
        |      chr(30)||bm.a||bm.b||chr(31))
        |  FROM walk, LATERAL (SELECT a, b FROM merges
        |    WHERE walk.s LIKE '%'||chr(30)||a||chr(31)||chr(30)||b||chr(31)||'%'
        |    ORDER BY rnk LIMIT 1) bm),
        |fin AS (SELECT w, s FROM walk t WHERE NOT EXISTS (
        |  SELECT 1 FROM merges m
        |  WHERE t.s LIKE '%'||chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31)||'%')),
        |toks AS (SELECT w,
        |    len(s) - length(replace(s, chr(30), '')) AS n_toks FROM fin),
        |dagg AS (SELECT f.doc_id, SUM(t.n_toks)::BIGINT AS nt
        |  FROM flat f JOIN toks t USING (w) GROUP BY 1),
        |per AS (SELECT d.source, COUNT(*) AS n_docs,
        |    SUM(COALESCE(strlen(d.text), 0)) AS n_bytes,
        |    SUM(COALESCE(a.nt, 0)) AS n_tokens
        |  FROM documents d LEFT JOIN dagg a USING (doc_id) GROUP BY 1)""".stripMargin
    head + values + body
  }

  /** q318: `TextAnalysis.epochsPlan` — the q299 per-source BPE supply
    * CTE, joined to the target mixture; needed tokens, Q3 ceil epochs,
    * cap flag, achieved/shortfall under the cap. Every division a
    * HUGEINT floor, matching the engine's DECIMAL(38,0) DIVs.
    */
  def q318EpochsPlan(targetsPermille: Seq[(String, Long)],
      budgetTokens: Long, maxEpochsQ3: Long): String = {
    val tgtValues = targetsPermille
      .map { case (s, pm) => s"('$s',$pm)" }.mkString(", ")
    bpePerSourceCte +
      s""",
        |tgt(source, target_pm) AS (VALUES $tgtValues),
        |j AS (SELECT source, COALESCE(per.n_tokens, 0) AS n_tokens,
        |    tgt.target_pm,
        |    (CAST($budgetTokens AS HUGEINT) * tgt.target_pm) // 1000
        |      AS needed
        |  FROM tgt LEFT JOIN per USING (source)),
        |k AS (SELECT source, n_tokens, target_pm, needed,
        |    CASE WHEN n_tokens > 0 THEN
        |      (CAST(needed AS HUGEINT) * 1000 + n_tokens - 1) // n_tokens
        |    END AS epochs,
        |    LEAST(needed,
        |      (CAST(n_tokens AS HUGEINT) * $maxEpochsQ3) // 1000)
        |      AS achieved
        |  FROM j)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(target_pm AS BIGINT) AS target_pm,
        |  CAST(needed AS BIGINT) AS needed_tokens,
        |  CAST(epochs AS BIGINT) AS epochs_q3,
        |  epochs > $maxEpochsQ3 AS capped,
        |  CAST(achieved AS BIGINT) AS achieved_tokens,
        |  CAST(needed - achieved AS BIGINT) AS shortfall_tokens
        |FROM k ORDER BY source""".stripMargin
  }

  /** q300: `Dedup.dupNgramShare` — the q209 per-doc distinct char
    * 12-gram shingles (string form; digest↔string equivalence is
    * q178's gate), corpus doc-frequency per shingle, per-source dup
    * slot share in Q6.
    */
  def q300DupNgramShare: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(1, strlen(lower(text)) - 11)),
      |    i -> substring(lower(text), i, 12)))) AS tok
      |  FROM documents),
      |dc AS (SELECT tok, COUNT(*) AS nd FROM tk GROUP BY 1),
      |sl AS (SELECT t.doc_id,
      |    CASE WHEN d.nd > 1 THEN 1 ELSE 0 END AS dup
      |  FROM tk t JOIN dc d USING (tok)),
      |per AS (SELECT d.source, COUNT(*) AS n_slots, SUM(s.dup) AS n_dup
      |  FROM sl s JOIN documents d USING (doc_id) GROUP BY 1)
      |SELECT source, CAST(n_slots AS BIGINT) AS n_shingle_slots,
      |  CAST(n_dup AS BIGINT) AS n_dup_slots,
      |  CAST((CAST(n_dup AS HUGEINT) * 1000000) // n_slots AS BIGINT)
      |    AS dup_share_q6
      |FROM per ORDER BY source""".stripMargin

  /** q303: `Packing.contextLengthPlan` — q79's whitespace token count
    * per doc, crossed with the budget grid, truncation/loss aggregates.
    */
  def q303ContextPlan: String =
    """WITH t AS (SELECT
      |    CAST(COALESCE(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
      |      w -> length(w) > 0)), 0) AS BIGINT) AS n
      |  FROM documents),
      |g AS (SELECT CAST(x AS BIGINT) AS max_len
      |  FROM (VALUES (128), (256), (512), (1024)) v(x)),
      |p AS (SELECT g.max_len, COUNT(*) AS n_docs, SUM(t.n) AS n_tokens,
      |    SUM(CASE WHEN t.n > g.max_len THEN 1 ELSE 0 END)
      |      AS n_docs_truncated,
      |    SUM(GREATEST(0, t.n - g.max_len)) AS tokens_lost
      |  FROM t CROSS JOIN g GROUP BY 1)
      |SELECT max_len, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_docs_truncated AS BIGINT) AS n_docs_truncated,
      |  CAST(tokens_lost AS BIGINT) AS tokens_lost,
      |  CAST(CASE WHEN n_tokens > 0 THEN
      |    (CAST(tokens_lost AS HUGEINT) * 1000000) // n_tokens END
      |    AS BIGINT) AS lost_share_q6
      |FROM p ORDER BY max_len""".stripMargin

  /** q304: `Similarity.knnHubness` — q37's exact-cosine kNN replay
    * widened to the vec_id<100 query sample, neighbor in-degrees,
    * in-degree histogram with Q6 slot shares.
    */
  def q304KnnHubness: String =
    s"""WITH
       |  q AS (SELECT vec_id AS query_id, embedding AS qe
       |        FROM embeddings WHERE vec_id < 100),
       |  scored AS (SELECT query_id, c.vec_id AS neighbor_id,
       |               ${cosExpr("qe", "c.embedding")} AS cosine
       |             FROM q CROSS JOIN embeddings c
       |             WHERE c.vec_id <> q.query_id),
       |  ranked AS (SELECT query_id, neighbor_id,
       |               row_number() OVER (PARTITION BY query_id
       |                 ORDER BY cosine DESC, neighbor_id)::INT AS rank
       |             FROM scored),
       |  knn AS (SELECT query_id, neighbor_id FROM ranked
       |          WHERE rank <= 5),
       |  deg AS (SELECT neighbor_id, COUNT(*) AS d FROM knn GROUP BY 1),
       |  hist AS (SELECT d AS in_degree, COUNT(*) AS n_points
       |           FROM deg GROUP BY 1),
       |  tot AS (SELECT COALESCE(SUM(in_degree * n_points), 0) AS s
       |          FROM hist)
       |SELECT CAST(in_degree AS BIGINT) AS in_degree,
       |  CAST(n_points AS BIGINT) AS n_points,
       |  CAST(CASE WHEN s > 0 THEN
       |    (CAST(in_degree * n_points AS HUGEINT) * 1000000) // s END
       |    AS BIGINT) AS slot_share_q6
       |FROM hist, tot ORDER BY in_degree""".stripMargin

  /** q305: `TextAnalysis.zipfSlope` — q282's tokenizer, top-100 by
    * (count DESC, token), exact least-squares of lnQ12(freq) on
    * lnQ12(rank) via the shared ln CTE, α = −slope in Q6 clamped ≥ 0.
    */
  def q305ZipfSlope: String =
    """WITH RECURSIVE tw AS (SELECT t.w
      |  FROM documents d,
      |    unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9'']+'))
      |      AS t(w)
      |  WHERE t.w <> ''),
      |f AS (SELECT w, COUNT(*) AS c FROM tw GROUP BY 1),
      |top AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r
      |  FROM f ORDER BY c DESC, w LIMIT 100),
      |_ks AS (SELECT DISTINCT k FROM (
      |  SELECT c AS k FROM top UNION SELECT r FROM top)),
      |""".stripMargin + graft.functions.FixedMath.lnCteSql + """,
      |s AS (SELECT COUNT(*) AS n, MAX(top.c) AS topc,
      |    SUM(CAST(lr.l AS HUGEINT)) AS sx,
      |    SUM(CAST(lc.l AS HUGEINT)) AS sy,
      |    SUM(CAST(lr.l AS HUGEINT) * lc.l) AS sxy,
      |    SUM(CAST(lr.l AS HUGEINT) * lr.l) AS sxx
      |  FROM top JOIN _lnq lr ON lr.k = top.r
      |  JOIN _lnq lc ON lc.k = top.c)
      |SELECT CAST(n AS BIGINT) AS n_terms,
      |  CAST(topc AS BIGINT) AS top_freq,
      |  CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
      |    (GREATEST(0::HUGEINT, sx * sy - n * sxy) * 1000000)
      |      // (n * sxx - sx * sx) END AS BIGINT) AS alpha_q6
      |FROM s""".stripMargin

  /** q306: `Embeddings.normProfile` — the q81 int8 quantization
    * replay, per-vector squared norm (integer sum, order-free), q241
    * octave histogram with zero vectors pinned to octave 0.
    */
  def q306NormProfile: String =
    """WITH base AS (SELECT vec_id, embedding,
      |    COALESCE(list_max(list_transform(embedding,
      |      x -> abs(x::DOUBLE))), 0.0) AS maxabs
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |qv AS (SELECT vec_id, list_transform(embedding, x ->
      |    CAST(floor(x::DOUBLE * (CASE WHEN maxabs = 0.0 THEN 1.0
      |      ELSE 127.0 / maxabs END) + 0.5) AS BIGINT)) AS q
      |  FROM base),
      |n2 AS (SELECT vec_id,
      |    CAST(COALESCE(list_sum(list_transform(q, x -> x * x)), 0)
      |      AS BIGINT) AS n2
      |  FROM qv),
      |h AS (SELECT CASE WHEN n2 = 0 THEN 0
      |    ELSE length(bin(n2)) END AS octave, n2 FROM n2)
      |SELECT CAST(octave AS BIGINT) AS octave,
      |  COUNT(*)::BIGINT AS n_vectors,
      |  CAST(MIN(n2) AS BIGINT) AS min_n2,
      |  CAST(MAX(n2) AS BIGINT) AS max_n2
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  /** q307: `Dedup.crossDomainDups` over the mirror-augmented corpus —
    * distinct (domain, md5) sets, digest-keyed pair intersection,
    * Q6 containment of the smaller side, zero pairs completed.
    */
  def q307CrossDomainDups: String =
    """WITH aug AS (SELECT source, text FROM documents
      |  UNION ALL SELECT 'mirror' AS source, text FROM documents
      |  WHERE doc_id < 50),
      |dd AS (SELECT DISTINCT source AS g, md5(text) AS d FROM aug),
      |sz AS (SELECT g, COUNT(*) AS n FROM dd GROUP BY 1),
      |iv AS (SELECT a.g AS ga, b.g AS gb, COUNT(*) AS i
      |  FROM dd a JOIN dd b ON a.d = b.d AND a.g < b.g GROUP BY 1, 2)
      |SELECT sa.g AS domain_a, sb.g AS domain_b,
      |  CAST(COALESCE(iv.i, 0) AS BIGINT) AS n_shared,
      |  CAST(sa.n AS BIGINT) AS n_distinct_a,
      |  CAST(sb.n AS BIGINT) AS n_distinct_b,
      |  CAST((CAST(COALESCE(iv.i, 0) AS HUGEINT) * 1000000)
      |    // LEAST(sa.n, sb.n) AS BIGINT) AS containment_q6
      |FROM sz sa JOIN sz sb ON sa.g < sb.g
      |LEFT JOIN iv ON iv.ga = sa.g AND iv.gb = sb.g
      |ORDER BY domain_a, domain_b""".stripMargin

  /** q308: `Retrieval.mrrAtK` on the q273 protocol — first relevant
    * rank per query, Q6 reciprocal rank, macro MRR repeated.
    */
  def q308Mrr: String =
    """WITH base AS (SELECT c.c_nationkey AS q, l.l_partkey AS item,
      |    (epoch_us(o.o_orderdate) // 86400000000) % 2 AS par
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey),
      |recs AS (SELECT q, item, rank FROM (
      |    SELECT q, item, ROW_NUMBER() OVER (PARTITION BY q
      |        ORDER BY COUNT(*) DESC, item) AS rank
      |    FROM base WHERE par = 0 GROUP BY q, item)
      |  WHERE rank <= 5),
      |truth AS (SELECT q, item, COUNT(*) AS rel
      |  FROM base WHERE par = 1 GROUP BY 1, 2),
      |fr AS (SELECT r.q,
      |    MIN(CASE WHEN COALESCE(t.rel, 0) > 0 THEN r.rank END)
      |      AS first_rank
      |  FROM recs r LEFT JOIN truth t USING (q, item) GROUP BY 1),
      |rr AS (SELECT q, first_rank,
      |    COALESCE(1000000 // first_rank, 0) AS rr_q6,
      |    first_rank IS NOT NULL AS hit
      |  FROM fr),
      |m AS (SELECT SUM(rr_q6) AS s, COUNT(*) AS n FROM rr)
      |SELECT rr.q, CAST(rr.first_rank AS BIGINT) AS first_rank,
      |  CAST(rr.rr_q6 AS BIGINT) AS rr_q6, rr.hit,
      |  CAST(CASE WHEN m.n > 0 THEN CAST(m.s AS HUGEINT) // m.n END
      |    AS BIGINT) AS mrr_q6
      |FROM rr, m ORDER BY rr.q""".stripMargin

  /** q309: `Validation.tableDiff` over the deterministic orders
    * drops — keyed full-outer compare, null-safe value equality,
    * ≤4-row status readout with Q6 shares.
    */
  def q309SnapshotDiff: String =
    """WITH base AS (SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS price_c,
      |    o_orderstatus AS st FROM orders),
      |b AS (SELECT * FROM base WHERE k % 11 <> 0),
      |a AS (SELECT k, CASE WHEN k % 7 = 0 THEN price_c + 100
      |    ELSE price_c END AS price_c, st
      |  FROM base WHERE k % 13 <> 0),
      |tagged AS (SELECT
      |    CASE WHEN b.k IS NULL THEN 'added'
      |         WHEN a.k IS NULL THEN 'removed'
      |         WHEN b.price_c IS NOT DISTINCT FROM a.price_c
      |           AND b.st IS NOT DISTINCT FROM a.st THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM b FULL OUTER JOIN a ON a.k = b.k),
      |cells AS (SELECT status, COUNT(*) AS n_rows FROM tagged
      |  GROUP BY 1),
      |tot AS (SELECT SUM(n_rows) AS t FROM cells)
      |SELECT status, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN t > 0 THEN
      |    (CAST(n_rows AS HUGEINT) * 1000000) // t END AS BIGINT)
      |    AS share_q6
      |FROM cells, tot ORDER BY status""".stripMargin

  /** q310: `Analytics.bradleyTerryFromWins` — within-order supplier
    * contests (suppkey ≤ 100, higher line price wins), then the MM
    * fixed point unrolled `rounds` times as CTEs: per-item
    * X = Σ (g·10¹²)//(s_i+s_j), raw s' = max(1, (W·10¹²)//X),
    * renormalized to mean 10⁶ — every floor mirrored in the engine.
    */
  def q310BradleyTerry: String = {
    val rounds = 6
    s"""WITH ${btUnrollCtes(rounds)}
       |SELECT CAST(i AS BIGINT) AS item, CAST(s AS BIGINT) AS bt_q6
       |FROM s$rounds ORDER BY item""".stripMargin
  }

  /** Shared q310/q325 CTE chain: the wins/games/items cells plus the
    * MM fixed point unrolled `rounds` times (final ratings in
    * `s{rounds}`). Exactly the q292 round-unroll discipline.
    */
  private def btUnrollCtes(rounds: Int): String = {
    val iter = (1 to rounds).map { t =>
      val p = if (t == 1) "s0" else s"s${t - 1}"
      s"""x$t AS MATERIALIZED (SELECT g.i,
         |    SUM((CAST(g.g AS HUGEINT) * 1000000000000)
         |      // (si.s + sj.s)) AS xs
         |  FROM games g JOIN $p si ON si.i = g.i
         |  JOIN $p sj ON sj.i = g.j GROUP BY 1),
         |r$t AS MATERIALIZED (SELECT w.i,
         |    CASE WHEN x.xs IS NOT NULL AND x.xs > 0
         |      THEN GREATEST(1, (CAST(w.w AS HUGEINT) * 1000000000000)
         |        // x.xs)
         |      ELSE 1 END AS sr
         |  FROM w LEFT JOIN x$t x ON x.i = w.i),
         |t$t AS MATERIALIZED (SELECT SUM(CAST(sr AS HUGEINT)) AS t FROM r$t),
         |s$t AS MATERIALIZED (SELECT r.i,
         |    GREATEST(1, (CAST(r.sr AS HUGEINT) * nn.n * 1000000)
         |      // t.t) AS s
         |  FROM r$t r, t$t t, nn)""".stripMargin
    }.mkString(",\n")
    s"""li AS (SELECT l_orderkey AS o, l_suppkey AS sk,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS p
       |  FROM lineitem WHERE l_suppkey <= 100),
       |wins AS MATERIALIZED (SELECT a.sk AS winner, b.sk AS loser, COUNT(*) AS n
       |  FROM li a JOIN li b ON a.o = b.o AND a.sk <> b.sk AND a.p > b.p
       |  GROUP BY 1, 2),
       |games AS MATERIALIZED (SELECT i, j, SUM(n) AS g FROM (
       |    SELECT winner AS i, loser AS j, n FROM wins
       |    UNION ALL SELECT loser, winner, n FROM wins)
       |  GROUP BY 1, 2),
       |items AS MATERIALIZED (SELECT DISTINCT i FROM games),
       |nn AS (SELECT COUNT(*) AS n FROM items),
       |w AS MATERIALIZED (SELECT items.i, CAST(COALESCE(wn.w, 0) AS BIGINT) AS w
       |  FROM items LEFT JOIN (SELECT winner AS i, SUM(n) AS w
       |    FROM wins GROUP BY 1) wn ON wn.i = items.i),
       |s0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS s FROM items),
       |$iter""".stripMargin
  }

  /** q325: `Analytics.bradleyTerryConfidence` — the q310 unroll's
    * final ratings, one more pass over the SAME game cells for the
    * Q12 Fisher information of each log-rating (per-cell positive
    * floor division), and se = 10¹² // isqrt(info) via the shared
    * Newton-isqrt fragment keyed by item.
    */
  def q325BtConfidence: String = {
    val rounds = 6
    s"""WITH RECURSIVE ${btUnrollCtes(rounds)},
       |inf AS MATERIALIZED (SELECT g.i,
       |    SUM(g.g) AS n_games,
       |    SUM((CAST(g.g AS HUGEINT) * si.s * sj.s * 1000000000000)
       |      // ((si.s + sj.s) * (si.s + sj.s))) AS info
       |  FROM games g JOIN s$rounds si ON si.i = g.i
       |  JOIN s$rounds sj ON sj.i = g.j GROUP BY 1),
       |_sa AS (SELECT i AS id,
       |    CASE WHEN info > 0 THEN info ELSE CAST(0 AS HUGEINT) END AS a
       |  FROM inf),
       |""".stripMargin + graft.functions.FixedMath.isqrtCteSql + s"""
       |SELECT CAST(s.i AS BIGINT) AS item, CAST(s.s AS BIGINT) AS bt_q6,
       |  CAST(inf.n_games AS BIGINT) AS n_games,
       |  CAST(inf.info AS BIGINT) AS info_q12,
       |  CAST(CASE WHEN inf.info > 0 AND q.r > 0
       |    THEN 1000000000000 // q.r END AS BIGINT) AS se_log_q6
       |FROM s$rounds s JOIN inf ON inf.i = s.i JOIN _isq q ON q.id = s.i
       |ORDER BY item""".stripMargin
  }

  /** Shared wins CTE for q310–q312: within-order supplier contests,
    * suppkey ≤ 100, higher line price wins.
    */
  private val winsCtes: String =
    """li AS (SELECT l_orderkey AS o, l_suppkey AS sk,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS p
      |  FROM lineitem WHERE l_suppkey <= 100),
      |wins AS MATERIALIZED (SELECT a.sk AS winner, b.sk AS loser,
      |    COUNT(*) AS n
      |  FROM li a JOIN li b ON a.o = b.o AND a.sk <> b.sk AND a.p > b.p
      |  GROUP BY 1, 2)""".stripMargin

  /** q311: `Analytics.winRateMatrix` — unordered-pair fold of the
    * wins table, Q6 win rate, and the q194 integer Wilson kernel
    * (z = 49/25 rational, floor isqrt) keyed by the pair.
    */
  def q311WinRateMatrix: String =
    s"""WITH RECURSIVE
       |$winsCtes,
       |pr AS (SELECT LEAST(winner, loser) AS a,
       |    GREATEST(winner, loser) AS b,
       |    SUM(CASE WHEN winner < loser THEN n ELSE 0 END) AS wa,
       |    SUM(n) AS g
       |  FROM wins GROUP BY 1, 2),
       |_sa AS (SELECT a * 1000000 + b AS id,
       |    CASE WHEN g > 477525395
       |      THEN CAST(error('q311 oracle: trials exceeds the HUGEINT radicand ceiling') AS HUGEINT)
       |      ELSE CAST(2500 AS HUGEINT)
       |      * (CAST(2500 AS HUGEINT) * wa * (g - wa)
       |         + CAST(2401 AS HUGEINT) * g)
       |      * g * 1000000 END AS a
       |  FROM pr),
       |""".stripMargin + graft.functions.FixedMath.isqrtCteSql + """
       |SELECT pr.a AS item_a, pr.b AS item_b,
       |  CAST(pr.g AS BIGINT) AS n_games,
       |  CAST(pr.wa AS BIGINT) AS n_a_wins,
       |  CAST((CAST(pr.wa AS HUGEINT) * 1000000) // pr.g AS BIGINT)
       |    AS win_rate_q6,
       |  CAST((CAST(62500000 AS HUGEINT) * pr.wa * pr.g
       |      + CAST(120050000 AS HUGEINT) * pr.g
       |      - CAST(49 AS HUGEINT) * i.r) * 1000000000
       |    // (CAST(100000 AS HUGEINT) * pr.g
       |        * (CAST(625 AS HUGEINT) * pr.g + 2401)) AS BIGINT)
       |    AS wilson_lb_q9
       |FROM pr JOIN _isq i ON i.id = pr.a * 1000000 + pr.b
       |ORDER BY item_a, item_b""".stripMargin

  /** q312: `Analytics.preferenceCycles` — strict-majority edges per
    * unordered pair, wedge-joined triples (a < b < c), cyclic iff the
    * directions chain, 1-row readout.
    */
  def q312PreferenceCycles: String =
    s"""WITH
       |$winsCtes,
       |e AS (SELECT LEAST(winner, loser) AS i,
       |    GREATEST(winner, loser) AS j,
       |    SUM(CASE WHEN winner < loser THEN n ELSE 0 END) AS wi,
       |    SUM(n) AS g
       |  FROM wins GROUP BY 1, 2),
       |me AS MATERIALIZED (SELECT i, j, wi * 2 > g AS iwins FROM e
       |  WHERE wi * 2 <> g),
       |tri AS (SELECT ab.iwins AS abw, bc.iwins AS bcw,
       |    ac.iwins AS acw
       |  FROM me ab JOIN me bc ON bc.i = ab.j
       |  JOIN me ac ON ac.i = ab.i AND ac.j = bc.j),
       |np AS (SELECT COUNT(*) AS n_majority_pairs FROM me),
       |ag AS (SELECT COUNT(*) AS n_triangles,
       |    CAST(COALESCE(SUM(CASE WHEN (abw AND bcw AND NOT acw)
       |      OR (NOT abw AND NOT bcw AND acw) THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_cyclic
       |  FROM tri)
       |SELECT CAST(np.n_majority_pairs AS BIGINT) AS n_majority_pairs,
       |  CAST(ag.n_triangles AS BIGINT) AS n_triangles,
       |  ag.n_cyclic,
       |  CAST(CASE WHEN ag.n_triangles > 0 THEN
       |    (CAST(ag.n_cyclic AS HUGEINT) * 1000000) // ag.n_triangles
       |    END AS BIGINT) AS cyclic_rate_q6
       |FROM np, ag ORDER BY n_majority_pairs""".stripMargin

  /** q321: `Analytics.judgeAgreement` — the q310 contest build with a
    * judge key (l_orderkey mod 8), per-(judge, unordered pair) net
    * verdicts (ties abstain), Cohen's κ per judge pair as ONE exact
    * integer ratio in signed Q6 (positive floor division on |num| —
    * identical under Spark DIV truncation and DuckDB // flooring),
    * Krippendorff's α (nominal binary) over the verdict table with
    * the per-unit Q12 disagreement term, panel scalar cross-joined
    * onto every pair row.
    */
  def q321JudgeAgreement: String =
    """WITH li AS (SELECT l_orderkey AS o, l_suppkey AS sk,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS p
      |  FROM lineitem WHERE l_suppkey <= 100),
      |jwins AS MATERIALIZED (SELECT a.o % 8 AS judge, a.sk AS winner,
      |    b.sk AS loser, COUNT(*) AS n
      |  FROM li a JOIN li b ON a.o = b.o AND a.sk <> b.sk AND a.p > b.p
      |  GROUP BY 1, 2, 3),
      |pr AS (SELECT judge, LEAST(winner, loser) AS a,
      |    GREATEST(winner, loser) AS b,
      |    SUM(CASE WHEN winner < loser THEN n ELSE 0 END) AS wa,
      |    SUM(n) AS g
      |  FROM jwins GROUP BY 1, 2, 3),
      |vv AS MATERIALIZED (SELECT judge, a, b,
      |    CASE WHEN wa * 2 > g THEN 1 ELSE 0 END AS v
      |  FROM pr WHERE wa * 2 <> g),
      |pc AS (SELECT l.judge AS judge_a, r.judge AS judge_b,
      |    COUNT(*) AS n_items,
      |    SUM(CASE WHEN l.v = r.v THEN 1 ELSE 0 END) AS n_agree,
      |    SUM(l.v) AS n1a, SUM(r.v) AS n2a
      |  FROM vv l JOIN vv r ON l.a = r.a AND l.b = r.b
      |    AND l.judge < r.judge
      |  GROUP BY 1, 2),
      |k AS (SELECT judge_a, judge_b, n_items, n_agree,
      |    CAST(n_agree AS HUGEINT) * n_items
      |      - CAST(n1a AS HUGEINT) * n2a
      |      - CAST(n_items - n1a AS HUGEINT) * (n_items - n2a) AS num,
      |    CAST(n_items AS HUGEINT) * n_items
      |      - CAST(n1a AS HUGEINT) * n2a
      |      - CAST(n_items - n1a AS HUGEINT) * (n_items - n2a) AS den,
      |    n1a, n2a
      |  FROM pc),
      |u AS (SELECT a, b, COUNT(*) AS m, SUM(v) AS ma FROM vv
      |  GROUP BY 1, 2),
      |u2 AS (SELECT m, ma,
      |    (CAST(ma AS HUGEINT) * (m - ma) * 1000000000000) // (m - 1)
      |      AS t_q12
      |  FROM u WHERE m >= 2),
      |al AS (SELECT SUM(m) AS nl, SUM(ma) AS ta, SUM(m - ma) AS tb,
      |    SUM(t_q12) AS tt FROM u2),
      |alp AS (SELECT CASE WHEN nl IS NOT NULL AND ta > 0 AND tb > 0
      |    THEN CAST(1000000 - (CAST(nl - 1 AS HUGEINT) * tt * 1000000)
      |      // (CAST(ta AS HUGEINT) * tb * 1000000000000) AS BIGINT)
      |    END AS alpha_q6,
      |    CAST(COALESCE(nl, 0) AS BIGINT) AS n_labels FROM al)
      |SELECT CAST(judge_a AS BIGINT) AS judge_a,
      |  CAST(judge_b AS BIGINT) AS judge_b,
      |  CAST(n_items AS BIGINT) AS n_items,
      |  CAST(n_agree AS BIGINT) AS n_agree,
      |  CAST((CAST(n_agree AS HUGEINT) * 1000000) // n_items AS BIGINT)
      |    AS po_q6,
      |  CAST((CAST(n1a AS HUGEINT) * n2a * 1000000
      |      + CAST(n_items - n1a AS HUGEINT) * (n_items - n2a) * 1000000)
      |    // (CAST(n_items AS HUGEINT) * n_items) AS BIGINT) AS pe_q6,
      |  CAST(CASE WHEN den > 0 THEN
      |      CASE WHEN num < 0 THEN -(((-num) * 1000000) // den)
      |        ELSE (num * 1000000) // den END
      |    END AS BIGINT) AS kappa_q6,
      |  alp.alpha_q6, alp.n_labels
      |FROM k CROSS JOIN alp
      |ORDER BY judge_a, judge_b""".stripMargin

  /** q323: `Analytics.judgeConsensusBias` — q321's verdict CTE, per-
    * pair vote totals joined back, leave-one-out majority (remaining
    * votes tie → pair not scored for that judge), per-judge agreement
    * rate, and the q311 Wilson Q9 fragment (z = 49/25 rational, floor
    * isqrt) keyed by judge.
    */
  def q323JudgeBias: String =
    s"""WITH RECURSIVE
       |li AS (SELECT l_orderkey AS o, l_suppkey AS sk,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS p
       |  FROM lineitem WHERE l_suppkey <= 100),
       |jwins AS MATERIALIZED (SELECT a.o % 8 AS judge, a.sk AS winner,
       |    b.sk AS loser, COUNT(*) AS n
       |  FROM li a JOIN li b ON a.o = b.o AND a.sk <> b.sk AND a.p > b.p
       |  GROUP BY 1, 2, 3),
       |pr AS (SELECT judge, LEAST(winner, loser) AS a,
       |    GREATEST(winner, loser) AS b,
       |    SUM(CASE WHEN winner < loser THEN n ELSE 0 END) AS wa,
       |    SUM(n) AS g
       |  FROM jwins GROUP BY 1, 2, 3),
       |vv AS MATERIALIZED (SELECT judge, a, b,
       |    CASE WHEN wa * 2 > g THEN 1 ELSE 0 END AS v
       |  FROM pr WHERE wa * 2 <> g),
       |tv AS (SELECT a, b, COUNT(*) AS m, SUM(v) AS ma FROM vv
       |  GROUP BY 1, 2),
       |loo AS (SELECT vv.judge, vv.v, tv.m - 1 AS mp,
       |    tv.ma - vv.v AS map
       |  FROM vv JOIN tv ON vv.a = tv.a AND vv.b = tv.b
       |  WHERE (tv.ma - vv.v) * 2 <> tv.m - 1),
       |pj AS MATERIALIZED (SELECT judge,
       |    COUNT(*)::BIGINT AS n_scored,
       |    SUM(CASE WHEN (v = 1 AND map * 2 > mp)
       |      OR (v = 0 AND map * 2 < mp) THEN 1 ELSE 0 END)::BIGINT
       |      AS n_agree
       |  FROM loo GROUP BY judge),
       |_sa AS (SELECT judge AS id,
       |    CASE WHEN n_scored > 477525395
       |      THEN CAST(error('q323 oracle: trials exceeds the HUGEINT radicand ceiling') AS HUGEINT)
       |      ELSE CAST(2500 AS HUGEINT)
       |      * (CAST(2500 AS HUGEINT) * n_agree * (n_scored - n_agree)
       |         + CAST(2401 AS HUGEINT) * n_scored)
       |      * n_scored * 1000000 END AS a
       |  FROM pj),
       |""".stripMargin + graft.functions.FixedMath.isqrtCteSql + """
       |SELECT pj.judge AS judge, pj.n_scored, pj.n_agree,
       |  CAST((CAST(pj.n_agree AS HUGEINT) * 1000000) // pj.n_scored
       |    AS BIGINT) AS agree_rate_q6,
       |  CAST((CAST(62500000 AS HUGEINT) * pj.n_agree * pj.n_scored
       |      + CAST(120050000 AS HUGEINT) * pj.n_scored
       |      - CAST(49 AS HUGEINT) * i.r) * 1000000000
       |    // (CAST(100000 AS HUGEINT) * pj.n_scored
       |        * (CAST(625 AS HUGEINT) * pj.n_scored + 2401)) AS BIGINT)
       |    AS wilson_lb_q9
       |FROM pj JOIN _isq i ON i.id = pj.judge
       |ORDER BY judge""".stripMargin

  /** q329: `Xval.leakageAudit` — md5Kfold replay (first 8 md5 hex
    * digits of the id's string form, UBIGINT mod k — the q83 idiom),
    * (digest, fold, n) cells, straddle self-join on the digest with
    * fold_a < fold_b, exact cross-fold pair products, panel scalars
    * cross-joined.
    */
  def q329SplitLeakage: String =
    """WITH f0 AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents
      |  WHERE doc_id < 200),
      |f AS (SELECT doc_id, text,
      |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |      AS UBIGINT) % 4 AS BIGINT) AS fold
      |  FROM f0 WHERE text IS NOT NULL),
      |cells AS (SELECT md5(text) AS dg, fold, COUNT(*) AS n
      |  FROM f GROUP BY 1, 2),
      |g AS (SELECT dg, COUNT(DISTINCT fold) AS nf FROM cells GROUP BY 1),
      |tot AS (SELECT COUNT(*)::BIGINT AS total_groups,
      |    COALESCE(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END), 0)::BIGINT
      |      AS n_multi FROM g),
      |p AS (SELECT a.fold AS fold_a, b.fold AS fold_b,
      |    COUNT(*)::BIGINT AS n_leaky_groups,
      |    SUM(CAST(a.n AS HUGEINT) * b.n) AS lp
      |  FROM cells a JOIN cells b ON a.dg = b.dg AND a.fold < b.fold
      |  GROUP BY 1, 2)
      |SELECT p.fold_a, p.fold_b, p.n_leaky_groups,
      |  CAST(p.lp AS BIGINT) AS n_leaky_pairs,
      |  tot.total_groups, tot.n_multi AS n_multi_fold_groups,
      |  CAST(CASE WHEN tot.total_groups > 0 THEN
      |    (CAST(tot.n_multi AS HUGEINT) * 1000000) // tot.total_groups
      |    END AS BIGINT) AS leak_share_q6
      |FROM p CROSS JOIN tot ORDER BY fold_a, fold_b""".stripMargin

  /** q333: `Sampling.mixtureFeasibility` — q326's iterated-isqrt α
    * grid extended with per-α demand/epochs/cap arithmetic: needed =
    * floor(budget·w / Σw), epochs = ceil-div in Q3, capped at 4000,
    * achieved = min(needed, toks·4), per-α feasibility + shortfall as
    * window aggregates over the cell table. budget = 10,000,000.
    */
  def q333MixtureFeasibility: String =
    """WITH RECURSIVE cells AS (SELECT source,
      |    CAST(SUM(n_chars) AS BIGINT) AS toks
      |  FROM documents GROUP BY 1),
      |_saA AS (SELECT source AS id, CAST(toks AS HUGEINT) AS a
      |  FROM cells),
      |""".stripMargin + isqrtCteSuffixed("A") + """,
      |w500 AS (SELECT c.source, c.toks, CAST(i.r AS BIGINT) AS w
      |  FROM cells c JOIN _isqA i ON i.id = c.source),
      |_saB AS (SELECT source AS id, CAST(w AS HUGEINT) AS a
      |  FROM w500),
      |""".stripMargin + isqrtCteSuffixed("B") + """,
      |w250 AS (SELECT w.source, w.toks, CAST(i.r AS BIGINT) AS w
      |  FROM w500 w JOIN _isqB i ON i.id = w.source),
      |_saC AS (SELECT source AS id, CAST(w AS HUGEINT) AS a
      |  FROM w250),
      |""".stripMargin + isqrtCteSuffixed("C") + """,
      |w125 AS (SELECT w.source, w.toks, CAST(i.r AS BIGINT) AS w
      |  FROM w250 w JOIN _isqC i ON i.id = w.source),
      |alln AS (
      |  SELECT 1000 AS alpha_q3, source, toks, toks AS w FROM cells
      |  UNION ALL SELECT 500, source, toks, w FROM w500
      |  UNION ALL SELECT 250, source, toks, w FROM w250
      |  UNION ALL SELECT 125, source, toks, w FROM w125),
      |t AS (SELECT alpha_q3, SUM(w) AS tw FROM alln GROUP BY 1),
      |d AS (SELECT a.alpha_q3, a.source, a.toks, a.w,
      |    CASE WHEN t.tw <> 0 THEN
      |      CAST((CAST(10000000 AS HUGEINT) * a.w) // t.tw AS BIGINT)
      |    ELSE 0 END AS needed_tokens
      |  FROM alln a JOIN t ON t.alpha_q3 = a.alpha_q3),
      |e AS (SELECT *,
      |    CAST(CASE WHEN needed_tokens = 0 THEN 0 WHEN toks > 0 THEN
      |      (CAST(needed_tokens AS HUGEINT) * 1000 + toks - 1) // toks
      |      END AS BIGINT) AS epochs_q3
      |  FROM d),
      |c AS (SELECT *, (epochs_q3 > 4000) AS capped,
      |    LEAST(needed_tokens,
      |      CAST((CAST(toks AS HUGEINT) * 4000) // 1000 AS BIGINT))
      |      AS achieved_tokens
      |  FROM e)
      |SELECT CAST(alpha_q3 AS BIGINT) AS alpha_q3, source, toks, w,
      |  needed_tokens, epochs_q3, capped, achieved_tokens,
      |  needed_tokens - achieved_tokens AS shortfall_tokens,
      |  (MAX(CASE WHEN capped THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY alpha_q3) = 0) AS alpha_feasible,
      |  SUM(needed_tokens - achieved_tokens)
      |    OVER (PARTITION BY alpha_q3)::BIGINT
      |    AS alpha_shortfall_tokens
      |FROM c ORDER BY alpha_q3 DESC, source""".stripMargin

  /** q336: `Sampling.annealMixturePlan` — q333's iterated-isqrt chain
    * with a phases VALUES table: per (phase, source) floor demand off
    * the phase budget, per-source totals folded ACROSS phases for the
    * epoch/cap/shortfall arithmetic, plan scalars cross-joined.
    */
  def q336AnnealMixturePlan: String =
    """WITH RECURSIVE cells AS (SELECT source,
      |    CAST(SUM(n_chars) AS BIGINT) AS toks
      |  FROM documents GROUP BY 1),
      |_saA AS (SELECT source AS id, CAST(toks AS HUGEINT) AS a
      |  FROM cells),
      |""".stripMargin + isqrtCteSuffixed("A") + """,
      |w500 AS (SELECT c.source, c.toks, CAST(i.r AS BIGINT) AS w
      |  FROM cells c JOIN _isqA i ON i.id = c.source),
      |_saB AS (SELECT source AS id, CAST(w AS HUGEINT) AS a
      |  FROM w500),
      |""".stripMargin + isqrtCteSuffixed("B") + """,
      |w250 AS (SELECT w.source, w.toks, CAST(i.r AS BIGINT) AS w
      |  FROM w500 w JOIN _isqB i ON i.id = w.source),
      |alln AS (
      |  SELECT 1000 AS alpha_q3, source, toks, toks AS w FROM cells
      |  UNION ALL SELECT 250, source, toks, w FROM w250),
      |ph(phase, phase_pm, alpha_q3) AS
      |  (VALUES ('main', 900, 1000), ('anneal', 100, 250)),
      |t AS (SELECT alpha_q3, SUM(w) AS tw FROM alln GROUP BY 1),
      |r0 AS (SELECT ph.phase, ph.phase_pm, ph.alpha_q3, a.source,
      |    a.toks, a.w,
      |    CAST((CAST(10000000 AS HUGEINT) * ph.phase_pm) // 1000
      |      AS BIGINT) AS phase_budget_tokens,
      |    CASE WHEN t.tw <> 0 THEN
      |      CAST((((CAST(10000000 AS HUGEINT) * ph.phase_pm) // 1000)
      |        * a.w) // t.tw AS BIGINT)
      |    ELSE 0 END AS needed_tokens
      |  FROM ph JOIN alln a ON a.alpha_q3 = ph.alpha_q3
      |  JOIN t ON t.alpha_q3 = ph.alpha_q3),
      |ps AS (SELECT source, toks,
      |    SUM(needed_tokens)::BIGINT AS source_needed_tokens
      |  FROM r0 GROUP BY 1, 2),
      |ps2 AS (SELECT *,
      |    CAST(CASE WHEN source_needed_tokens = 0 THEN 0
      |      WHEN toks > 0 THEN
      |        (CAST(source_needed_tokens AS HUGEINT) * 1000 + toks - 1)
      |          // toks END AS BIGINT) AS epochs_q3
      |  FROM ps),
      |ps3 AS (SELECT *, (epochs_q3 > 4000) AS capped,
      |    source_needed_tokens - LEAST(source_needed_tokens,
      |      CAST((CAST(toks AS HUGEINT) * 4000) // 1000 AS BIGINT))
      |      AS sshort
      |  FROM ps2),
      |plan AS (SELECT
      |    (COALESCE(MAX(CASE WHEN capped THEN 1 ELSE 0 END), 0) = 0)
      |      AS plan_feasible,
      |    COALESCE(SUM(sshort), 0)::BIGINT AS plan_shortfall_tokens
      |  FROM ps3)
      |SELECT r.phase, CAST(r.phase_pm AS BIGINT) AS phase_pm,
      |  CAST(r.alpha_q3 AS BIGINT) AS alpha_q3, r.source, r.toks, r.w,
      |  r.phase_budget_tokens, r.needed_tokens,
      |  p.source_needed_tokens, p.epochs_q3, p.capped,
      |  pl.plan_feasible, pl.plan_shortfall_tokens
      |FROM r0 r JOIN ps3 p ON p.source = r.source CROSS JOIN plan pl
      |ORDER BY r.phase, r.source""".stripMargin

  /** q334: `TrainingExport.shardSkewPreflight` — the q115 seeded-md5
    * permutation replayed with a plain global window, shard cells with
    * token sums, load vs the mean in Q6 (10⁶ = balanced), flagged
    * outside ±10%.
    */
  def q334ShardSkewPreflight: String =
    s"""WITH
       |  ord AS (SELECT doc_id, n_chars,
       |      md5('11#' || CAST(doc_id AS VARCHAR)) AS m
       |    FROM documents),
       |  r AS (SELECT doc_id, n_chars,
       |      row_number() OVER (ORDER BY m, doc_id) AS rn
       |    FROM ord),
       |  s AS (SELECT CAST((rn - 1) // 64 AS BIGINT) AS shard, n_chars
       |    FROM r),
       |  cells AS (SELECT shard, COUNT(*)::BIGINT AS n_rows,
       |      SUM(COALESCE(n_chars, 0))::BIGINT AS n_tokens
       |    FROM s GROUP BY 1),
       |  tot AS (SELECT COUNT(*)::BIGINT AS n_shards,
       |      COALESCE(SUM(n_tokens), 0)::BIGINT AS total_tokens
       |    FROM cells),
       |  l AS (SELECT c.shard, c.n_rows, c.n_tokens,
       |      CAST(CASE WHEN t.total_tokens > 0 THEN
       |        (CAST(c.n_tokens AS HUGEINT) * t.n_shards * 1000000)
       |          // t.total_tokens END AS BIGINT) AS load_q6,
       |      t.n_shards, t.total_tokens
       |    FROM cells c CROSS JOIN tot t)
       |SELECT shard, n_rows, n_tokens, load_q6,
       |  (load_q6 > 1100000 OR load_q6 < 900000) AS flagged,
       |  n_shards, total_tokens
       |FROM l ORDER BY shard""".stripMargin

  /** q335: `TrainingExport.tokenShardPlan` — the q334 permutation's
    * exact exclusive prefix token sum via a plain global window (the
    * engine runs it two-phase), shard = cum_before // 20000, then the
    * q334 load readout verbatim.
    */
  def q335TokenShardPlan: String =
    s"""WITH
       |  ord AS (SELECT doc_id, n_chars,
       |      md5('11#' || CAST(doc_id AS VARCHAR)) AS m
       |    FROM documents),
       |  r AS (SELECT doc_id, n_chars,
       |      SUM(COALESCE(n_chars, 0)) OVER (ORDER BY m, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM ord),
       |  s AS (SELECT
       |      CAST((cum - COALESCE(n_chars, 0)) // 20000 AS BIGINT)
       |        AS shard, n_chars
       |    FROM r),
       |  cells AS (SELECT shard, COUNT(*)::BIGINT AS n_rows,
       |      SUM(COALESCE(n_chars, 0))::BIGINT AS n_tokens
       |    FROM s GROUP BY 1),
       |  tot AS (SELECT COUNT(*)::BIGINT AS n_shards,
       |      COALESCE(SUM(n_tokens), 0)::BIGINT AS total_tokens
       |    FROM cells),
       |  l AS (SELECT c.shard, c.n_rows, c.n_tokens,
       |      CAST(CASE WHEN t.total_tokens > 0 THEN
       |        (CAST(c.n_tokens AS HUGEINT) * t.n_shards * 1000000)
       |          // t.total_tokens END AS BIGINT) AS load_q6,
       |      t.n_shards, t.total_tokens
       |    FROM cells c CROSS JOIN tot t)
       |SELECT shard, n_rows, n_tokens, load_q6,
       |  (load_q6 > 1100000 OR load_q6 < 900000) AS flagged,
       |  n_shards, total_tokens
       |FROM l ORDER BY shard""".stripMargin

  /** q330: `Xval.nearDupLeakageAudit` — the q56/q320 candidate graph
    * + recursive-CTE closure over the mirror+clone-augmented corpus,
    * digest→cluster map through each digest's min-id rep, exact
    * md5Kfold fold replay, (cluster, fold, n) cells with exact-copy
    * expansion, straddle self-join with fold_a < fold_b, panel
    * scalars cross-joined (the q329 shape at the cluster tier).
    */
  def q330NearDupSplitLeakage: String =
    s"""WITH RECURSIVE
       |  aug AS (SELECT doc_id, text FROM documents
       |          UNION ALL
       |          SELECT doc_id + 1000000, text || ' via mirror feed'
       |          FROM documents WHERE doc_id < 50
       |          UNION ALL
       |          SELECT doc_id + 2000000, text
       |          FROM documents WHERE doc_id < 25),
       |${minhashCandCtes(0.5, num = 32, rpb = 4, k = 5, docsRel = "aug")},
       |  edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM cand
       |            UNION SELECT id_b, id_a FROM cand),
       |  reach(s, d) AS (SELECT s, d FROM edges
       |                  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |  minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
       |  repdg AS (SELECT md5(text) AS dg, min(doc_id) AS rid
       |    FROM aug WHERE text IS NOT NULL GROUP BY 1),
       |  dgc AS (SELECT r.dg, m.cid FROM repdg r JOIN minr m ON m.id = r.rid),
       |  f AS (SELECT doc_id, md5(text) AS dg,
       |      CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |        AS UBIGINT) % 4 AS BIGINT) AS fold
       |    FROM aug WHERE text IS NOT NULL),
       |  cells0 AS (SELECT dg, fold, COUNT(*) AS n FROM f GROUP BY 1, 2),
       |  cells AS (SELECT g.cid, c.fold, SUM(c.n) AS n
       |    FROM cells0 c JOIN dgc g ON g.dg = c.dg GROUP BY 1, 2),
       |  grp AS (SELECT cid, COUNT(DISTINCT fold) AS nf FROM cells GROUP BY 1),
       |  tot AS (SELECT COUNT(*)::BIGINT AS total_clusters,
       |      COALESCE(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END), 0)::BIGINT
       |        AS n_multi FROM grp),
       |  p AS (SELECT a.fold AS fold_a, b.fold AS fold_b,
       |      COUNT(*)::BIGINT AS n_leaky_clusters,
       |      SUM(CAST(a.n AS HUGEINT) * b.n) AS lp
       |    FROM cells a JOIN cells b ON a.cid = b.cid AND a.fold < b.fold
       |    GROUP BY 1, 2)
       |SELECT p.fold_a, p.fold_b, p.n_leaky_clusters,
       |  CAST(p.lp AS BIGINT) AS n_leaky_pairs,
       |  tot.total_clusters, tot.n_multi AS n_multi_fold_clusters,
       |  CAST(CASE WHEN tot.total_clusters > 0 THEN
       |    (CAST(tot.n_multi AS HUGEINT) * 1000000) // tot.total_clusters
       |    END AS BIGINT) AS leak_share_q6
       |FROM p CROSS JOIN tot ORDER BY fold_a, fold_b""".stripMargin

  /** q331: `Xval.dedupAwareKfold` + `leakageAuditOn` — fold = first 8
    * md5 hex of the TEXT mod 4 (the md5Kfold idiom keyed on content),
    * per-fold doc/group histogram, and the exact audit's row count
    * (leaking fold pairs — ZERO by construction) cross-joined.
    */
  def q331DedupAwareKfold: String =
    """WITH f0 AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents
      |  WHERE doc_id < 200),
      |f AS (SELECT doc_id, text,
      |    CAST(CAST('0x' || substr(md5(text), 1, 8)
      |      AS UBIGINT) % 4 AS BIGINT) AS fold
      |  FROM f0 WHERE text IS NOT NULL),
      |hist AS (SELECT fold, COUNT(*)::BIGINT AS n_docs,
      |    COUNT(DISTINCT md5(text))::BIGINT AS n_groups
      |  FROM f GROUP BY 1),
      |cells AS (SELECT md5(text) AS dg, fold, COUNT(*) AS n
      |  FROM f GROUP BY 1, 2),
      |leaks AS (SELECT COUNT(*)::BIGINT AS n_leaks FROM (
      |    SELECT a.fold AS fa, b.fold AS fb FROM cells a
      |    JOIN cells b ON a.dg = b.dg AND a.fold < b.fold
      |    GROUP BY 1, 2) q)
      |SELECT hist.fold, hist.n_docs, hist.n_groups, leaks.n_leaks
      |FROM hist CROSS JOIN leaks ORDER BY fold""".stripMargin

  /** q332: `Xval.nearDupAwareKfold` + both audits — group key =
    * 'c#'||cluster of the digest's rep (closure replay) else
    * 'd#'||digest, fold = first 8 md5 hex of the group key mod 4;
    * per-fold histogram with the near-dup AND exact audit row counts
    * (both ZERO by construction) cross-joined.
    */
  def q332NearDupAwareKfold: String =
    s"""WITH RECURSIVE
       |  aug AS (SELECT doc_id, text FROM documents
       |          UNION ALL
       |          SELECT doc_id + 1000000, text || ' via mirror feed'
       |          FROM documents WHERE doc_id < 50
       |          UNION ALL
       |          SELECT doc_id + 2000000, text
       |          FROM documents WHERE doc_id < 25),
       |${minhashCandCtes(0.5, num = 32, rpb = 4, k = 5, docsRel = "aug")},
       |  edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM cand
       |            UNION SELECT id_b, id_a FROM cand),
       |  reach(s, d) AS (SELECT s, d FROM edges
       |                  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |  minr AS (SELECT s AS id, least(s, min(d)) AS cid FROM reach GROUP BY s),
       |  repdg AS (SELECT md5(text) AS dg, min(doc_id) AS rid
       |    FROM aug WHERE text IS NOT NULL GROUP BY 1),
       |  gk AS (SELECT r.dg,
       |      COALESCE('c#' || CAST(m.cid AS VARCHAR), 'd#' || r.dg) AS gkey
       |    FROM repdg r LEFT JOIN minr m ON m.id = r.rid),
       |  f AS (SELECT a.doc_id, md5(a.text) AS dg,
       |      CAST(CAST('0x' || substr(md5(g.gkey), 1, 8)
       |        AS UBIGINT) % 4 AS BIGINT) AS fold
       |    FROM aug a JOIN gk g ON g.dg = md5(a.text)
       |    WHERE a.text IS NOT NULL),
       |  hist AS (SELECT fold, COUNT(*)::BIGINT AS n_docs,
       |      COUNT(DISTINCT dg)::BIGINT AS n_groups FROM f GROUP BY 1),
       |  ecells AS (SELECT dg, fold, COUNT(*) AS n FROM f GROUP BY 1, 2),
       |  eleaks AS (SELECT COUNT(*)::BIGINT AS n_exact_leaks FROM (
       |      SELECT a.fold AS fa, b.fold AS fb FROM ecells a
       |      JOIN ecells b ON a.dg = b.dg AND a.fold < b.fold
       |      GROUP BY 1, 2) q1),
       |  dgc AS (SELECT r.dg, m.cid FROM repdg r JOIN minr m ON m.id = r.rid),
       |  ncells AS (SELECT g.cid, e.fold, SUM(e.n) AS n
       |    FROM ecells e JOIN dgc g ON g.dg = e.dg GROUP BY 1, 2),
       |  nleaks AS (SELECT COUNT(*)::BIGINT AS n_neardup_leaks FROM (
       |      SELECT a.fold AS fa, b.fold AS fb FROM ncells a
       |      JOIN ncells b ON a.cid = b.cid AND a.fold < b.fold
       |      GROUP BY 1, 2) q2)
       |SELECT hist.fold, hist.n_docs, hist.n_groups,
       |  nleaks.n_neardup_leaks, eleaks.n_exact_leaks
       |FROM hist CROSS JOIN nleaks CROSS JOIN eleaks
       |ORDER BY fold""".stripMargin

  /** q328: `Validation.joinSkewPreflight` — per-key multiplicity
    * cells on both sides, exact pair products, ROW_NUMBER top-k by
    * (pairs DESC, key ASC) (= the native bounded top-k's total
    * order), totals + Q6 skew factor cross-joined.
    */
  def q328JoinSkewPreflight: String =
    """WITH cl AS (SELECT CAST(l_partkey AS BIGINT) AS key,
      |    COUNT(*) AS n_left
      |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
      |cr AS (SELECT CAST(l_partkey AS BIGINT) AS key,
      |    COUNT(*) AS n_right
      |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
      |cells AS (SELECT cl.key, cl.n_left, cr.n_right,
      |    CAST(cl.n_left AS HUGEINT) * cr.n_right AS n_pairs
      |  FROM cl JOIN cr USING (key)),
      |tot AS (SELECT SUM(n_pairs) AS total_pairs,
      |    COUNT(*)::BIGINT AS n_keys, MAX(n_pairs) AS maxp FROM cells),
      |tk AS (SELECT key, n_left, n_right, n_pairs,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_pairs DESC, key) AS BIGINT)
      |      AS rank
      |  FROM cells)
      |SELECT tk.rank, tk.key,
      |  CAST(tk.n_left AS BIGINT) AS n_left,
      |  CAST(tk.n_right AS BIGINT) AS n_right,
      |  CAST(tk.n_pairs AS BIGINT) AS n_pairs,
      |  CAST(CASE WHEN tot.total_pairs > 0 THEN
      |    (tk.n_pairs * 1000000) // tot.total_pairs END AS BIGINT)
      |    AS pair_share_q6,
      |  CAST(tot.total_pairs AS BIGINT) AS total_pairs,
      |  tot.n_keys,
      |  CAST(CASE WHEN tot.total_pairs > 0 THEN
      |    (tot.maxp * tot.n_keys * 1000000) // tot.total_pairs
      |    END AS BIGINT) AS skew_q6
      |FROM tk CROSS JOIN tot WHERE tk.rank <= 10
      |ORDER BY rank""".stripMargin

  /** q339: `Validation.saltPlan` — q328's cells, per-key fan-out
    * S = ceil(n_big / max(1, target DIV n_small)) (1 when pairs ≤
    * target), residual ceil(n_big/S)·n_small, replication (S−1)·
    * n_small, grid flag when n_small > target; per-fan-out histogram
    * + plan scalars. All integer floor arithmetic, HUGEINT
    * intermediates.
    */
  def q339SaltPlan: String =
    """WITH cl AS (SELECT CAST(l_partkey AS BIGINT) AS key,
      |    COUNT(*) AS n_left
      |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
      |cr AS (SELECT CAST(l_partkey AS BIGINT) AS key,
      |    COUNT(*) AS n_right
      |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
      |cells AS (SELECT cl.key, cl.n_left, cr.n_right,
      |    CAST(cl.n_left AS HUGEINT) * cr.n_right AS n_pairs
      |  FROM cl JOIN cr USING (key)),
      |d AS (SELECT key, n_left, n_right, n_pairs,
      |    CAST(LEAST(n_left, n_right) AS HUGEINT) AS ns,
      |    CAST(GREATEST(n_left, n_right) AS HUGEINT) AS nb FROM cells),
      |f AS (SELECT *, CASE WHEN n_pairs <= 256 THEN 1
      |    ELSE (nb + GREATEST(1, 256 // ns) - 1) // GREATEST(1, 256 // ns)
      |    END AS s FROM d),
      |r AS (SELECT *, ((nb + s - 1) // s) * ns AS residual,
      |    (s - 1) * ns AS repl,
      |    CASE WHEN n_pairs > 256 AND ns > 256 THEN 1 ELSE 0 END AS grid
      |  FROM f),
      |tot AS (SELECT SUM(n_pairs) AS total_pairs,
      |    SUM(CASE WHEN s > 1 THEN 1 ELSE 0 END) AS n_salted,
      |    SUM(repl) AS total_repl, MAX(residual) AS max_after,
      |    SUM(grid) AS n_grid FROM r)
      |SELECT CAST(s AS BIGINT) AS salt_fanout,
      |  COUNT(*)::BIGINT AS n_keys,
      |  CAST(SUM(n_pairs) AS BIGINT) AS sum_pairs,
      |  CAST(SUM(repl) AS BIGINT) AS repl_rows,
      |  CAST(MAX(residual) AS BIGINT) AS max_task_pairs,
      |  CAST(tot.n_salted AS BIGINT) AS n_salted_keys,
      |  CAST(tot.total_repl AS BIGINT) AS total_repl_rows,
      |  CAST(tot.max_after AS BIGINT) AS max_task_pairs_after,
      |  CAST(tot.total_pairs AS BIGINT) AS total_pairs,
      |  CAST(tot.n_grid AS BIGINT) AS n_grid_keys
      |FROM r CROSS JOIN tot
      |GROUP BY s, tot.n_salted, tot.total_repl, tot.max_after,
      |  tot.total_pairs, tot.n_grid
      |ORDER BY salt_fanout""".stripMargin

  /** q340 (and q342's streaming twin): `Validation.tClosenessAudit` —
    * (class × band) cells, global band cums via the bounded band self-
    * join, class cums on the class×band grid, per-class exact EMD
    * numerator Σ|cumC·N − cumG·n| in Q9 over n·N·(B−1), 1-row readout
    * at t = 0.15. Bands are the q264 shifted-positive balance bands so
    * // ≡ DIV. The class-cells grid join is IS NOT DISTINCT FROM —
    * the engine joins quasi columns null-safely (`<=>`), so a NULL
    * quasi value forms a class both engines count identically (r17
    * ADVICE: plain `=` would zero the NULL class's cumulative cells on
    * the oracle side only).
    */
  def q340TCloseness: String =
    """WITH b0 AS (SELECT c_nationkey, c_mktsegment,
      |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      + 100000) // 100000 AS band
      |  FROM customer),
      |cells AS (SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS n
      |  FROM b0 GROUP BY 1, 2, 3),
      |bands AS (SELECT band, SUM(n) AS g FROM cells GROUP BY 1),
      |bc AS (SELECT x.band, SUM(y.g) AS cumg FROM bands x
      |  JOIN bands y ON y.band <= x.band GROUP BY 1),
      |scal AS (SELECT CAST(SUM(g) AS HUGEINT) AS nn,
      |    COUNT(*)::BIGINT AS nb FROM bands),
      |cls AS (SELECT c_nationkey, c_mktsegment, SUM(n) AS nc
      |  FROM cells GROUP BY 1, 2),
      |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.nc,
      |    bc.band, bc.cumg FROM cls CROSS JOIN bc),
      |cum AS (SELECT g.c_nationkey, g.c_mktsegment, g.nc, g.band,
      |    g.cumg, COALESCE(SUM(c.n), 0) AS cumc
      |  FROM grid g LEFT JOIN cells c
      |    ON c.c_nationkey IS NOT DISTINCT FROM g.c_nationkey
      |    AND c.c_mktsegment IS NOT DISTINCT FROM g.c_mktsegment
      |    AND c.band <= g.band
      |  GROUP BY 1, 2, 3, 4, 5),
      |pc AS (SELECT m.c_nationkey, m.c_mktsegment, m.nc,
      |    SUM(ABS(CAST(m.cumc AS HUGEINT) * scal.nn
      |      - CAST(m.cumg AS HUGEINT) * m.nc)) AS num,
      |    MAX(scal.nn) AS nn, MAX(scal.nb) AS nb
      |  FROM cum m CROSS JOIN scal GROUP BY 1, 2, 3),
      |e AS (SELECT *, CASE WHEN nb > 1 THEN
      |    CAST((num * 1000000000)
      |      // (CAST(nc AS HUGEINT) * nn * (nb - 1)) AS BIGINT)
      |    ELSE 0 END AS emd FROM pc)
      |SELECT CAST(MAX(nn) AS BIGINT) AS n_rows,
      |  COUNT(*)::BIGINT AS n_classes,
      |  CAST(MAX(nb) AS BIGINT) AS n_bands,
      |  MAX(emd) AS max_emd_q9,
      |  SUM(CASE WHEN emd > 150000000 THEN 1 ELSE 0 END)::BIGINT
      |    AS n_violating_classes,
      |  CAST(SUM(CASE WHEN emd > 150000000 THEN nc ELSE 0 END)
      |    AS BIGINT) AS n_rows_violating,
      |  CAST((CAST(SUM(CASE WHEN emd > 150000000 THEN nc ELSE 0 END)
      |    AS HUGEINT) * 1000000000) // SUM(nc) AS BIGINT)
      |    AS viol_rate_q9
      |FROM e ORDER BY n_rows""".stripMargin

  /** q352: `Validation.tClosenessByClass` — q340's per-class CTE chain
    * through `e`, top-10 by EMD with the quasi tuple as tie-break.
    */
  def q352TClosenessClasses: String =
    """WITH b0 AS (SELECT c_nationkey, c_mktsegment,
      |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      + 100000) // 100000 AS band
      |  FROM customer),
      |cells AS (SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS n
      |  FROM b0 GROUP BY 1, 2, 3),
      |bands AS (SELECT band, SUM(n) AS g FROM cells GROUP BY 1),
      |bc AS (SELECT x.band, SUM(y.g) AS cumg FROM bands x
      |  JOIN bands y ON y.band <= x.band GROUP BY 1),
      |scal AS (SELECT CAST(SUM(g) AS HUGEINT) AS nn,
      |    COUNT(*)::BIGINT AS nb FROM bands),
      |cls AS (SELECT c_nationkey, c_mktsegment, SUM(n) AS nc
      |  FROM cells GROUP BY 1, 2),
      |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.nc,
      |    bc.band, bc.cumg FROM cls CROSS JOIN bc),
      |cum AS (SELECT g.c_nationkey, g.c_mktsegment, g.nc, g.band,
      |    g.cumg, COALESCE(SUM(c.n), 0) AS cumc
      |  FROM grid g LEFT JOIN cells c
      |    ON c.c_nationkey IS NOT DISTINCT FROM g.c_nationkey
      |    AND c.c_mktsegment IS NOT DISTINCT FROM g.c_mktsegment
      |    AND c.band <= g.band
      |  GROUP BY 1, 2, 3, 4, 5),
      |pc AS (SELECT m.c_nationkey, m.c_mktsegment, m.nc,
      |    SUM(ABS(CAST(m.cumc AS HUGEINT) * scal.nn
      |      - CAST(m.cumg AS HUGEINT) * m.nc)) AS num,
      |    MAX(scal.nn) AS nn, MAX(scal.nb) AS nb
      |  FROM cum m CROSS JOIN scal GROUP BY 1, 2, 3),
      |e AS (SELECT *, CASE WHEN nb > 1 THEN
      |    CAST((num * 1000000000)
      |      // (CAST(nc AS HUGEINT) * nn * (nb - 1)) AS BIGINT)
      |    ELSE 0 END AS emd FROM pc)
      |SELECT c_nationkey, c_mktsegment, CAST(nc AS BIGINT) AS n_rows,
      |  emd AS emd_q9
      |FROM e ORDER BY emd_q9 DESC, c_nationkey, c_mktsegment
      |LIMIT 10""".stripMargin

  /** q341: `Validation.kAnonSuppressionLadder` — q262's cells crossed
    * with the k ladder, per-k suppression cost + kept floor + Q6 kept
    * share.
    */
  def q341KanonSuppression: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      |  FROM customer GROUP BY 1, 2),
      |ks(k) AS (VALUES (2), (5), (10), (25), (50)),
      |tot AS (SELECT SUM(n) AS t FROM g)
      |SELECT CAST(k AS BIGINT) AS k,
      |  SUM(CASE WHEN n < k THEN 1 ELSE 0 END)::BIGINT
      |    AS n_groups_suppressed,
      |  CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
      |    AS n_rows_suppressed,
      |  CAST(SUM(CASE WHEN n >= k THEN n ELSE 0 END) AS BIGINT)
      |    AS n_rows_kept,
      |  CAST(MIN(CASE WHEN n >= k THEN n END) AS BIGINT)
      |    AS min_kept_group_size,
      |  CAST((CAST(SUM(CASE WHEN n >= k THEN n ELSE 0 END) AS HUGEINT)
      |    * 1000000) // tot.t AS BIGINT) AS kept_share_q6
      |FROM g CROSS JOIN ks CROSS JOIN tot
      |GROUP BY k, tot.t ORDER BY k""".stripMargin

  /** q343: `Skew.saltedEquiJoin` — the oracle runs the PLAIN join
    * (semantic equality is the whole claim of the salted executor)
    * and the exact weighted aggregate.
    */
  def q343SaltedJoin: String =
    """WITH a AS (SELECT l_partkey, COUNT(*) AS n_lines
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, COUNT(*)::BIGINT AS n_rows,
      |  CAST(SUM(CAST(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100
      |    AS BIGINT) AS HUGEINT) * a.n_lines) AS BIGINT) AS qq_cents
      |FROM lineitem l JOIN a USING (l_partkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q344: `Xval.foldParityAudit` — md5Kfold replay, (fold, source)
    * cells, folds×groups grid with zero-filled absences, per-fold max
    * Q6 deviation + Q6 total variation distance, all cross-multiplied
    * integers.
    */
  def q344FoldParity: String =
    """WITH f AS (SELECT doc_id, source,
      |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |      AS UBIGINT) % 4 AS BIGINT) AS fold
      |  FROM documents WHERE source IS NOT NULL),
      |cells AS (SELECT fold, source AS src, COUNT(*) AS n
      |  FROM f GROUP BY 1, 2),
      |grp AS (SELECT src, SUM(n) AS ng FROM cells GROUP BY 1),
      |ft AS (SELECT fold, SUM(n) AS nf FROM cells GROUP BY 1),
      |scal AS (SELECT CAST(SUM(ng) AS HUGEINT) AS nn FROM grp),
      |grid AS (SELECT ft.fold, ft.nf, grp.src, grp.ng,
      |    COALESCE(c.n, 0) AS nfb
      |  FROM ft CROSS JOIN grp LEFT JOIN cells c
      |    ON c.fold = ft.fold AND c.src = grp.src),
      |d AS (SELECT fold, nf,
      |    ABS(CAST(nfb AS HUGEINT) * scal.nn
      |      - CAST(ng AS HUGEINT) * nf) AS dev,
      |    scal.nn AS nn
      |  FROM grid CROSS JOIN scal)
      |SELECT CAST(fold AS BIGINT) AS fold,
      |  CAST(MAX(nf) AS BIGINT) AS n_rows,
      |  COUNT(*)::BIGINT AS n_groups,
      |  CAST(MAX((dev * 1000000) // (CAST(nf AS HUGEINT) * nn))
      |    AS BIGINT) AS max_dev_q6,
      |  CAST((SUM(dev) * 1000000)
      |    // (2 * CAST(MAX(nf) AS HUGEINT) * MAX(nn)) AS BIGINT)
      |    AS tvd_q6
      |FROM d GROUP BY fold ORDER BY fold""".stripMargin

  /** q347: `Xval.stratifiedKfold(source, keyCol=doc_id)` replayed —
    * per-stratum row_number over the md5('seed#tag#key') order (the
    * /2³² normalization is monotone, so ordering by the 32-bit integer
    * is identical) — then q344's parity readout verbatim.
    */
  def q347StratifiedParity: String =
    """WITH f AS (SELECT doc_id, source,
      |    (ROW_NUMBER() OVER (PARTITION BY source ORDER BY
      |      CAST('0x' || substr(md5('0#0#' || CAST(doc_id AS VARCHAR)),
      |        1, 8) AS UBIGINT), doc_id) - 1) % 4 AS fold
      |  FROM documents WHERE source IS NOT NULL),
      |cells AS (SELECT fold, source AS src, COUNT(*) AS n
      |  FROM f GROUP BY 1, 2),
      |grp AS (SELECT src, SUM(n) AS ng FROM cells GROUP BY 1),
      |ft AS (SELECT fold, SUM(n) AS nf FROM cells GROUP BY 1),
      |scal AS (SELECT CAST(SUM(ng) AS HUGEINT) AS nn FROM grp),
      |grid AS (SELECT ft.fold, ft.nf, grp.src, grp.ng,
      |    COALESCE(c.n, 0) AS nfb
      |  FROM ft CROSS JOIN grp LEFT JOIN cells c
      |    ON c.fold = ft.fold AND c.src = grp.src),
      |d AS (SELECT fold, nf,
      |    ABS(CAST(nfb AS HUGEINT) * scal.nn
      |      - CAST(ng AS HUGEINT) * nf) AS dev,
      |    scal.nn AS nn
      |  FROM grid CROSS JOIN scal)
      |SELECT CAST(fold AS BIGINT) AS fold,
      |  CAST(MAX(nf) AS BIGINT) AS n_rows,
      |  COUNT(*)::BIGINT AS n_groups,
      |  CAST(MAX((dev * 1000000) // (CAST(nf AS HUGEINT) * nn))
      |    AS BIGINT) AS max_dev_q6,
      |  CAST((SUM(dev) * 1000000)
      |    // (2 * CAST(MAX(nf) AS HUGEINT) * MAX(nn)) AS BIGINT)
      |    AS tvd_q6
      |FROM d GROUP BY fold ORDER BY fold""".stripMargin

  /** q350: `Xval.semanticFoldParity` — q193's int8 centroid-cosine
    * chain over the md5Kfold-labeled folds ∪ the '_all' corpus
    * relation.
    */
  def q350SemanticFoldParity: String =
    """WITH folded AS (SELECT embedding,
      |    'f' || CAST(CAST(CAST('0x' ||
      |      substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
      |      AS UBIGINT) % 4 AS BIGINT) AS VARCHAR) AS label
      |  FROM embeddings),
      |aug AS (SELECT label, embedding FROM folded
      |  UNION ALL SELECT '_all', embedding FROM embeddings),
      |base AS (
      |  SELECT label, embedding,
      |    COALESCE(list_max(list_transform(embedding,
      |      x -> abs(x::DOUBLE))), 0.0) AS maxabs
      |  FROM aug),
      |qv AS (
      |  SELECT label, list_transform(embedding, x -> CAST(floor(x::DOUBLE *
      |      (CASE WHEN maxabs = 0.0 THEN 1.0 ELSE 127.0 / maxabs END)
      |      + 0.5) AS BIGINT)) AS q
      |  FROM base),
      |ex AS (SELECT label, unnest(range(1, len(q) + 1)) AS i, q FROM qv),
      |sv AS (SELECT label, i AS pos, CAST(SUM(q[i]) AS BIGINT) AS v
      |  FROM ex GROUP BY 1, 2),
      |pr AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |    CAST(SUM(a.v * b.v) AS DOUBLE) AS dot,
      |    CAST(SUM(a.v * a.v) AS DOUBLE) AS na2,
      |    CAST(SUM(b.v * b.v) AS DOUBLE) AS nb2
      |  FROM sv a JOIN sv b ON a.label < b.label AND a.pos = b.pos
      |  GROUP BY 1, 2)
      |SELECT label_a, label_b, dot / (sqrt(na2) * sqrt(nb2)) AS cosine
      |FROM pr ORDER BY label_a, label_b""".stripMargin

  /** q348: `Timeseries.freshnessAudit` — (type, minute) cells, global
    * max minute, per-type lag + trailing/previous 60-minute window
    * counts, Q6 ratio.
    */
  def q348Freshness: String =
    """WITH c AS (SELECT event_type, epoch_us(ts) // 60000000 AS m,
      |    COUNT(*) AS n FROM events GROUP BY 1, 2),
      |g AS (SELECT MAX(m) AS gm FROM c)
      |SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(MAX(m) AS BIGINT) AS last_minute,
      |  CAST(MAX(g.gm) - MAX(m) AS BIGINT) AS lag_min,
      |  CAST(SUM(CASE WHEN m > g.gm - 60 THEN n ELSE 0 END) AS BIGINT)
      |    AS n_last_w,
      |  CAST(SUM(CASE WHEN m <= g.gm - 60 AND m > g.gm - 120
      |    THEN n ELSE 0 END) AS BIGINT) AS n_prev_w,
      |  CAST(CASE WHEN SUM(CASE WHEN m <= g.gm - 60 AND m > g.gm - 120
      |      THEN n ELSE 0 END) > 0
      |    THEN (CAST(SUM(CASE WHEN m > g.gm - 60 THEN n ELSE 0 END)
      |      AS HUGEINT) * 1000000)
      |      // SUM(CASE WHEN m <= g.gm - 60 AND m > g.gm - 120
      |        THEN n ELSE 0 END)
      |    END AS BIGINT) AS ratio_q6
      |FROM c CROSS JOIN g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q345: `Validation.kAnonGeneralizationLadder` — one ROLLUP pass,
    * level = Σ GROUPING(cᵢ) (convention-free), per-level class stats
    * at k=10.
    */
  def q345KanonGeneralization: String =
    """WITH cells AS (SELECT
      |    GROUPING(c_nationkey) + GROUPING(c_mktsegment) AS lvl,
      |    COUNT(*) AS n
      |  FROM customer GROUP BY ROLLUP (c_nationkey, c_mktsegment))
      |SELECT CAST(lvl AS BIGINT) AS level,
      |  CASE lvl WHEN 0 THEN 'c_nationkey,c_mktsegment'
      |    WHEN 1 THEN 'c_nationkey' ELSE '<all>' END AS quasi,
      |  CAST(SUM(n) AS BIGINT) AS n_rows,
      |  COUNT(*)::BIGINT AS n_classes,
      |  CAST(MIN(n) AS BIGINT) AS min_class_size,
      |  CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
      |    AS n_rows_violating,
      |  CAST((CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS HUGEINT)
      |    * 1000000000) // SUM(n) AS BIGINT) AS viol_rate_q9
      |FROM cells GROUP BY lvl ORDER BY level""".stripMargin

  /** q313: `Sketches.dyadicHistogram` over per-doc whitespace token
    * counts — the q241 octave/cell replay on the q79 token convention
    * (zero-token docs drop, as the sketch's >0 domain requires).
    */
  def q313SeqLenProfile: String =
    """WITH v AS (SELECT CAST(COALESCE(len(list_filter(
      |    string_split_regex(text, '[ \t\n\x0b\f\r]+'), w -> length(w) > 0)), 0)
      |    AS BIGINT) AS x
      |  FROM documents),
      |p AS (SELECT x FROM v WHERE x > 0),
      |o AS (SELECT x, CAST(length(bin(x)) AS BIGINT) AS oct,
      |    (1::BIGINT << (length(bin(x)) - 1)) AS lo FROM p)
      |SELECT oct, CAST(CASE WHEN oct = 1 THEN 0
      |    ELSE (8 * (x - lo)) // lo END AS BIGINT) AS cell,
      |  COUNT(*)::BIGINT AS n
      |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q314: `TextAnalysis.langTokenBudget` — q288's langId replay per
    * doc, bytes + q79 whitespace tokens, per-language budget readout.
    */
  def q314LangTokenBudget: String =
    """WITH w AS (
      |  SELECT doc_id, w FROM documents,
      |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS t(w)
      |  WHERE w <> ''),
      |h AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN w IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit') THEN 1 ELSE 0 END) AS h_de,
      |    SUM(CASE WHEN w IN ('the','and','of','to','in','is','that','it','was','for') THEN 1 ELSE 0 END) AS h_en,
      |    SUM(CASE WHEN w IN ('el','la','los','las','y','es','un','una','que','por') THEN 1 ELSE 0 END) AS h_es,
      |    SUM(CASE WHEN w IN ('le','la','les','et','est','une','un','que','pour','dans') THEN 1 ELSE 0 END) AS h_fr,
      |    SUM(CASE WHEN w IN ('il','la','di','e','che','un','una','per','non','sono') THEN 1 ELSE 0 END) AS h_it,
      |    SUM(CASE WHEN w IN ('de','het','een','en','van','is','dat','niet','met','op') THEN 1 ELSE 0 END) AS h_nl
      |  FROM w GROUP BY doc_id),
      |p AS (SELECT
      |  CASE
      |    WHEN h.doc_id IS NULL OR GREATEST(h_de,h_en,h_es,h_fr,h_it,h_nl) = 0 THEN 'und'
      |    WHEN h_de >= GREATEST(h_en,h_es,h_fr,h_it,h_nl) THEN 'de'
      |    WHEN h_en >= GREATEST(h_es,h_fr,h_it,h_nl) THEN 'en'
      |    WHEN h_es >= GREATEST(h_fr,h_it,h_nl) THEN 'es'
      |    WHEN h_fr >= GREATEST(h_it,h_nl) THEN 'fr'
      |    WHEN h_it >= h_nl THEN 'it'
      |    ELSE 'nl' END AS lang_pred,
      |  COALESCE(strlen(d.text), 0) AS bytes,
      |  COALESCE(len(list_filter(string_split_regex(d.text, '[ \t\n\x0b\f\r]+'),
      |    x -> length(x) > 0)), 0) AS toks
      |  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id),
      |c AS (SELECT lang_pred, COUNT(*) AS n_docs, SUM(bytes) AS n_bytes,
      |    SUM(toks) AS n_tokens FROM p GROUP BY 1),
      |t AS (SELECT SUM(n_tokens) AS tt FROM c)
      |SELECT lang_pred, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_bytes AS BIGINT) AS n_bytes,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(CASE WHEN tt > 0 THEN
      |    (CAST(n_tokens AS HUGEINT) * 1000000) // tt END AS BIGINT)
      |    AS token_share_q6,
      |  CAST(CASE WHEN n_bytes > 0 THEN
      |    (CAST(n_tokens AS HUGEINT) * 100000000) // n_bytes END
      |    AS BIGINT) AS fertility_q6
      |FROM c, t ORDER BY lang_pred""".stripMargin
}
