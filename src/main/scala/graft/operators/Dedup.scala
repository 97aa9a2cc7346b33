package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators over a document table
  * (`doc_id: long, text: string`). These extend the reference's surface
  * with the LLM-training-pipeline ops the driver contract asks for
  * (BASELINE.json north_star) — each designed shuffle-minimal:
  *
  *  - exact: one hash-groupBy (single shuffle on a 128-bit digest, never
  *    on the full text).
  *  - MinHash/LSH: shingle → minhash signature (map-side, no shuffle) →
  *    band buckets → self-join *within buckets only* (shuffle on short
  *    band keys; candidate pairs ≪ n²).
  *  - SimHash: 64-bit signature, banded into 4×16-bit sub-keys, same
  *    bucket-join trick.
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  *
  * Determinism: all hashing derives from Spark's `xxhash64`/`md5` with
  * fixed seeds, so results are reproducible across runs and cluster sizes.
  */
object Dedup {

  /** Stage lifecycle: the engine's one way to materialize a stage and
    * its only ways to free one.
    *
    * [[materialize]] is a local checkpoint (lineage truncated, blocks on
    * the executors) registered with the calling thread's innermost
    * pipeline scope. `eager = true` runs the whole stage now in ONE job
    * that also counts it ([[rowCount]]) and sums its bytes, the sizes
    * Catalyst then plans joins by. `eager = false` (the default) adds no
    * job for the stage's last step and keeps its origin's estimate: the
    * first action that reads the stage computes it and populates the
    * blocks every later reader shares. (Under adaptive execution,
    * building a stage still runs the shuffle stages that feed it.)
    *
    * What frees the blocks:
    *  - [[withPipeline]] exit frees every stage materialized inside the
    *    scope. The registry is a per-thread stack of scopes, so nested
    *    scopes and pipelines built on other driver threads never free
    *    each other's blocks. Registration happens when the plan is
    *    BUILT, on the caller's thread.
    *  - [[releaseStage]] frees one stage early, for bounded round loops,
    *    once an action has populated the stage that supersedes it.
    *  - Outside any scope, the ContextCleaner frees a stage once the
    *    plans that read it are garbage-collected.
    *
    * Contract: consume results (collect/write/count) inside the scope. A
    * local checkpoint has no lineage, so a lazy DataFrame that escapes
    * the scope cannot recompute its freed blocks. The same holds for a
    * `DabDataset`: its `_idx` numbering is an eager stage, so one built
    * inside a scope must be read inside it, and a lost executor's share
    * of a numbered table is not recomputed from lineage either.
    */
  private type Scope = java.util.ArrayDeque[RDD[_]]
  private val openScopes = new ThreadLocal[java.util.ArrayDeque[Scope]] {
    override def initialValue() = new java.util.ArrayDeque[Scope]()
  }

  // the eager stages' blocks and their measured rows per partition, the
  // only stages rowCount and partitionRows read: a lazy stage keeps its
  // origin's estimate (a limit's bound), not a count
  private val eagerStages = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], Array[Long]])

  /** Materialize a pipeline stage (see the lifecycle note above). Also
    * the stage-boundary idiom for composed curation chains: each
    * keep-stage built as `df ⋉ keys(df)` doubles its input's lineage, so
    * k unboxed stages re-scan the base table 2^k times; a materialize
    * between stages caps every stage at one scan of the previous
    * stage's (already filtered, smaller) output.
    */
  def materialize(df: DataFrame, eager: Boolean = false): DataFrame = {
    val mat = df.localCheckpoint(eager = false)
    val lr = mat.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val scope = openScopes.get().peek() // null outside any scope
    if (scope != null) scope.push(lr.rdd)
    if (!eager) return mat
    // the one job, a SQL execution of df's plan; real bytes, as Spark's
    // per-type estimate counts an array as one element
    val perRow = EstimationUtils.getSizePerRow(lr.output).toLong
    val parts = SQLExecution.withNewExecutionId(df.queryExecution, Some("materialize")) {
      df.sparkSession.sparkContext.runJob(lr.rdd, (it: Iterator[InternalRow]) =>
        it.foldLeft((0L, 0L)) {
          case ((n, b), u: UnsafeRow) => (n + 1, b + u.getSizeInBytes)
          case ((n, b), _) => (n + 1, b + perRow)
        })
    }
    eagerStages.put(lr.rdd, parts.map(_._1))
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    ColumnShim.ofRows(session, lr.copy()(session, Some(Statistics(BigInt(parts.map(_._2).sum),
      Some(BigInt(parts.map(_._1).sum)))), Some(lr.constraints)))
  }

  /** The rows and bytes an eager [[materialize]] measured, or None for
    * any other frame: no job runs.
    */
  private[graft] def measured(df: DataFrame): Option[Statistics] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD if eagerStages.containsKey(lr.rdd) => Some(lr.stats)
      case _ => None
    }

  /** The row count an eager [[materialize]] recorded: no job runs. */
  def rowCount(stage: DataFrame): Long = measured(stage).fold(
    throw new IllegalArgumentException(
      "rowCount needs a stage built by materialize(df, eager = true)"))(
    _.rowCount.get.toLong)

  /** The rows of each partition of an eager [[materialize]]'s stage, in
    * partition order: no job runs. Partition p of the stage's RDD holds
    * `partitionRows(stage)(p)` rows.
    */
  def partitionRows(stage: DataFrame): Array[Long] = (stage.queryExecution.analyzed match {
    case lr: LogicalRDD => Option(eagerStages.get(lr.rdd))
    case _ => None
  }).getOrElse(throw new IllegalArgumentException(
    "partitionRows needs a stage built by materialize(df, eager = true)"))

  /** Free ONE materialized stage's blocks now: round k's output
    * supersedes round k−1's, so a loop frees the predecessor once an
    * ACTION has populated the successor (never before: the successor's
    * plan reads the predecessor's blocks). Keeps a k-round loop at ≤2
    * live stages instead of k. Harmless double-free with the scope exit.
    */
  def releaseStage(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  private def drain(q: Scope): Unit = {
    var r = q.poll()
    while (r != null) { r.unpersist(blocking = false); r = q.poll() }
  }

  /** Run a pipeline in a fresh scope and free (only) the stages
    * materialized inside it on exit.
    */
  def withPipeline[T](body: => T): T = {
    val scopes = openScopes.get()
    scopes.push(new Scope())
    try body finally drain(scopes.pop())
  }

  /** Scale-adaptive scan-parallelism guard (guide §2.5 "input skew: one
    * huge unsplittable file → repartition immediately after the read"):
    * when a source scans into FEWER partitions than the cluster has
    * cores — a single parquet row group, one gzip file — every map-side
    * kernel downstream (shingle digests, int8 quantization, Lloyd
    * assignment, per-partition top-k heaps) runs on ONE core while the
    * rest idle. Below `defaultParallelism` input partitions this adds
    * one round-robin exchange of the raw rows so the expensive kernels
    * run wide; at real scale a table scans into thousands of splits and
    * the branch is a no-op (the repartition never appears in the plan).
    * `.rdd.getNumPartitions` only plans the scan — no job runs.
    *
    * Apply ONLY where a profile shows a heavy per-row kernel trapped in
    * the scan stage (shingle digests, tokenize+explode): the r18 A/B on
    * the int8 ANN tier showed the exchange plus 32-task scheduling per
    * (numerous, tiny) downstream job COSTS more than it parallelizes
    * when the kernel is light (q37 +0.2 s, q353 +0.75 s) — those sites
    * were reverted; the digest/text sites (profiled 0.5–3.5 s
    * single-task kernels) keep it.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val p = df.rdd.getNumPartitions
    if (p > 0 && p < target) df.repartition(target) else df
  }

  /** Exact duplicate groups by content digest. Returns one row per kept
    * document with its duplicate count; `keep` = smallest doc_id wins.
    * Scale: the shuffle key is the 32-hex md5, not the document body —
    * at 100 TB the shuffled bytes are ~48B/row + ids.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("digest"))
      .groupBy("digest")
      .agg(min(idCol).as("keep_id"), count("*").as("dup_count"))

  /** Exact-dedup projection: the surviving rows. */
  def exactKeep(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exact(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "semi") // semi-join: no row duplication, keep-side broadcastable when small
  }

  /** URL-level dedup (C4's first pass): keep the min-id document per
    * canonical URL ([[graft.operators.TextAnalysis.urlNormalize]]).
    * Same cost shape as [[exactKeep]] — the groupBy shuffles normalized
    * URL strings (or md5 them upstream for 16-byte keys), never bodies.
    */
  def urlKeep(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame = {
    val keep = docs
      .select(col(idCol),
        graft.operators.TextAnalysis.urlNormalize(col(urlCol)).as("_u"))
      .groupBy("_u").agg(min(idCol).as(idCol))
      .select(idCol)
    docs.join(keep, Seq(idCol), "semi")
  }

  /** Domain-level curation pass (RefinedWeb §3.1): extract the
    * registered domain ([[graft.operators.TextAnalysis.urlDomain]]),
    * drop documents whose domain is blocklisted, then cap survivors at
    * `maxPerDomain` docs per domain so no single site dominates the
    * mixture — the [[capPerKey]] md5-permutation idiom, keyed on domain.
    * Output: the surviving rows plus a `domain` column.
    *
    * Scale shape: domain extraction is map-side; the blocklist (even
    * RefinedWeb's 4.6M-domain list is ~100 MB) broadcasts into a
    * map-side anti join; the only shuffle is the per-domain cap window,
    * partitioned by domain — no global funnel. A pathologically hot
    * domain concentrates its rows in one task; at 100 TB pre-aggregate
    * `count per domain` and route only domains over the cap through the
    * window (same two-path idea as `removeBoilerplateLines`).
    */
  def capPerDomain(docs: DataFrame, blocklist: DataFrame, maxPerDomain: Int,
      urlCol: String = "url", idCol: String = "doc_id", seed: Long = 0): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain $maxPerDomain must be > 0")
    val bl = blocklist.select(col(blocklist.columns.head).as("domain")).distinct()
    val withDomain = docs.withColumn("domain",
      graft.operators.TextAnalysis.urlDomain(col(urlCol)))
    val allowed = withDomain.join(broadcast(bl), Seq("domain"), "anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("domain")
      .orderBy(md5(concat_ws("#", lit(seed), col(idCol).cast("string"))),
        col(idCol))
    allowed.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= maxPerDomain)
      .drop("_rk")
  }

  /** Corpus snapshot diff — the what-changed report between two crawls /
    * pipeline runs of the same id space: per (source, status) counts
    * where status ∈ added (id only in `newer`), removed (only in
    * `older`), changed (both, body digest differs), unchanged. The ops
    * view that complements [[exactKeepAgainst]]'s dedup view: bodies
    * collapse to 16-byte md5 digests map-side, the full-outer join
    * shuffles (id, digest) pairs only, and the result is
    * dashboard-sized (|sources| × 4 rows) whatever the corpus size.
    */
  def snapshotDiff(older: DataFrame, newer: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      keyCol: String = "source"): DataFrame = {
    def keyed(df: DataFrame, suffix: String): DataFrame = df.select(
      col(idCol),
      col(keyCol).as(s"_src$suffix"),
      md5(coalesce(col(textCol), lit(""))).as(s"_d$suffix"))
    keyed(older, "_o").join(keyed(newer, "_n"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("_d_o").isNull, lit("added"))
          .when(col("_d_n").isNull, lit("removed"))
          .when(col("_d_o") === col("_d_n"), lit("unchanged"))
          .otherwise(lit("changed")))
      .withColumn(keyCol, coalesce(col("_src_n"), col("_src_o")))
      .groupBy(keyCol, "status")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Persistable exact-dedup digest index — the exact-dedup counterpart
    * of [[minhashIndex]]: one md5 digest per distinct document body.
    * Build over the accumulated corpus, write as parquet (~16 B/doc),
    * and screen every new shard with [[exactKeepAgainst]] instead of
    * re-deduping old+new.
    */
  def exactIndex(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(md5(coalesce(col(textCol), lit(""))).as("digest")).distinct()

  /** Incremental exact dedup: the `incoming` shard's survivors against
    * an existing digest `index` ([[exactIndex]], typically read back
    * from parquet) — drop docs whose body is already indexed, then keep
    * the min-id representative of each digest WITHIN the shard. Both
    * joins shuffle 16-byte digests, never bodies; the per-digest min is
    * partial-aggregated.
    */
  def exactKeepAgainst(index: DataFrame, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val novel = incoming
      .withColumn("_digest", md5(coalesce(col(textCol), lit(""))))
      .join(index.select(col("digest").as("_digest")), Seq("_digest"), "anti")
    val keep = novel.groupBy("_digest").agg(min(idCol).as(idCol))
      .select(idCol)
    incoming.join(keep, Seq(idCol), "semi")
  }

  /** Bloom filter over a digest `index` ([[exactIndex]] output) — the
    * broadcastable screen for [[exactKeepAgainstBloom]]. At 10⁹ indexed
    * digests and 1% fpp the filter is ~1.2 GB where the parquet index
    * is ~16 GB and the anti-join shuffles every incoming digest; the
    * bloom rides a broadcast and answers "definitely novel" map-side.
    * Sized from `expectedItems` (≤ 0 → one count of the index);
    * `spark.graft.bloom.maxBytes` (default 268435456 = 256 MB) refuses
    * a filter too big to broadcast rather than silently OOMing the
    * driver — shard the index (one bloom per digest prefix) past that.
    */
  def bloomIndex(index: DataFrame, expectedItems: Long = -1L,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    require(fpp > 0 && fpp < 1, s"fpp $fpp not in (0,1)")
    val n = if (expectedItems > 0) expectedItems else index.count()
    require(n > 0, "bloomIndex over an empty index")
    val bits = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val maxBytes = index.sparkSession.conf
      .get("spark.graft.bloom.maxBytes", (256L * 1024 * 1024).toString).toLong
    require(bits / 8 <= maxBytes,
      s"bloom for $n items at fpp=$fpp needs ~${bits / 8} bytes > " +
        s"spark.graft.bloom.maxBytes=$maxBytes — shard the index instead")
    index.stat.bloomFilter("digest", n, fpp)
  }

  /** Save/load a [[bloomIndex]] sidecar (Hadoop FS, any Spark-reachable
    * scheme) — the persistence shape of the other index artifacts.
    */
  def saveBloom(spark: org.apache.spark.sql.SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  def loadBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.util.sketch.BloomFilter = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
  }

  /** [[exactKeepAgainst]] with a bloom pre-screen — identical output
    * (the bloom has no false negatives, and every "maybe" is confirmed
    * against the real index), different cost shape: incoming digests
    * that the broadcast bloom rules out never reach the anti-join, so
    * the shuffle carries only true duplicates + fpp of the novel rows.
    * For the daily-ingest steady state (mostly-novel shards against a
    * huge accumulated index) that turns a full-shard digest shuffle
    * into a ~1% one; the within-shard per-digest min keep is unchanged.
    */
  def exactKeepAgainstBloom(bloom: org.apache.spark.util.sketch.BloomFilter,
      index: DataFrame, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bc = incoming.sparkSession.sparkContext.broadcast(bloom)
    val mightU = udf((d: String) => bc.value.mightContainString(d))
    val dig = incoming
      .withColumn("_digest", md5(coalesce(col(textCol), lit(""))))
      .withColumn("_maybe", mightU(col("_digest")))
    val sureNovel = dig.filter(!col("_maybe"))
    val confirmedNovel = dig.filter(col("_maybe"))
      .join(index.select(col("digest").as("_digest")), Seq("_digest"), "anti")
      .select(sureNovel.columns.map(col): _*)
    val keep = sureNovel.unionByName(confirmedNovel)
      .groupBy("_digest").agg(min(idCol).as(idCol))
      .select(idCol)
    incoming.join(keep, Seq(idCol), "semi")
  }

  /** Skew guard shared by every banded self-join (MinHash, SimHash,
    * embedding LSH): drop buckets larger than `maxBucket` rows before the
    * within-bucket pair join, otherwise one degenerate bucket (empty or
    * boilerplate content all hashing together) makes the join O(bucket²).
    * Hot buckets are near-identical content anyway — they surface through
    * the other bands or exact dedup.
    *
    * Shape: the bucket table is materialized once ([[materialize]] —
    * the hash kernels upstream must not re-run per consumer), then
    * partial-aggregated counts (map-side combine shrinks them to
    * ~#distinct buckets) feed a blacklist holding only the over-cap
    * buckets (by construction ≤ |rows|/maxBucket entries — tiny) for a
    * broadcast anti-join. Unlike a count-window formulation this never
    * shuffles or sorts the full signature table just to count it — the
    * only full shuffle left in an LSH pipeline is the pair join's own.
    * Callers need no further checkpoint: each self-join side rebuilds
    * only the near-free anti-join on top of the materialized table.
    */
  private[operators] def capBuckets(df: DataFrame, maxBucket: Int,
      keys: String*): DataFrame = {
    require(maxBucket >= 0, s"maxBucket $maxBucket must be >= 0")
    // Lazy checkpoint: materializes on the FIRST action that touches the
    // result (building the candidate DataFrame stays free), after which the
    // two consumers (blacklist agg + anti-join) share the one materialized
    // copy.
    val mat = materialize(df)
    val hot = mat.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > maxBucket)
      .select(keys.map(col): _*)
    mat.join(broadcast(hot), keys.toSeq, "left_anti")
  }

  /** Banded MinHash signature index of a corpus: (id, sig, band, bucket),
    * skew-capped — the persistable half of incremental dedup. Build once
    * over the accumulated corpus, write as parquet, and join every new
    * shard against it with [[minhashCandidatesAgainst]] instead of
    * re-running LSH over old+new ([[StreamingDedup]] is the continuous
    * counterpart). Index size ≈ ids + numHashes longs + band keys per
    * row — the classic signature matrix, ~1–2% of a text corpus.
    */
  def minhashIndex(docs: DataFrame, numHashes: Int = 64,
      rowsPerBand: Int = 8, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 5000): DataFrame = {
    val sigUdf = udf((text: String) =>
      graft.functions.Hashing.minhashSignature(text, k, numHashes).toSeq)
    val all = docs
      .select(col(idCol).cast("long").as("id"), sigUdf(col(textCol)).as("sig"))
      .select(col("id"), col("sig"),
        explode(bandKeys(col("sig"), numHashes, rowsPerBand)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bucket"))
    capBuckets(all, maxBucket, "band", "bucket")
  }

  /** Incremental near-dup: candidate pairs between `incoming` documents
    * and an existing signature `index` ([[minhashIndex]], typically read
    * back from parquet). Emits (index_id, incoming_id, est_jaccard ≥
    * threshold). Pairs WITHIN the incoming shard are
    * `minhashCandidates(incoming)` — compose both for full incremental
    * dedup; build parameters (numHashes, rowsPerBand, k) must match the
    * index's.
    *
    * Scale: the join shuffles on (band, bucket) keys only; a small
    * incoming shard against a huge index broadcasts under AQE. The index
    * is NOT rescanned per band — it is already exploded.
    */
  def minhashCandidatesAgainst(index: DataFrame, incoming: DataFrame,
      numHashes: Int = 64, rowsPerBand: Int = 8, k: Int = 5,
      threshold: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text", maxBucket: Int = 5000): DataFrame = {
    val inc = minhashIndex(incoming, numHashes, rowsPerBand, k,
      idCol, textCol, maxBucket)
    index.as("a").join(inc.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("index_id"), col("b.id").as("incoming_id"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("index_id", "incoming_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("index_id", "incoming_id", "est_jaccard")
  }

  /** Character shingles of length `k`, lowercased, as a distinct array. */
  def shingles(text: Column, k: Int = 5): Column = {
    // null ≡ empty doc, matching the UDF kernel path: without this,
    // xxhash64 SKIPS null args and the null doc gets per-seed constant
    // hashes — a signature unequal to ""'s, so the two paths disagreed
    val lowered = lower(coalesce(text, lit("")))
    val n = greatest(lit(1), length(lowered) - (k - 1))
    array_distinct(transform(sequence(lit(1), n), i => lowered.substr(i, lit(k))))
  }

  /** MinHash signature: `numHashes` minima of seeded xxhash64 over the
    * shingle set. Pure expressions — computed map-side, fully codegen'd.
    */
  def minhashSignature(text: Column, numHashes: Int = 64, k: Int = 5): Column = {
    val sh = shingles(text, k)
    val hashes = (0 until numHashes).map { seed =>
      array_min(transform(sh, s => xxhash64(lit(seed), s)))
    }
    array(hashes: _*)
  }

  /** LSH band key: hash of one band (of `rowsPerBand` signature slots). */
  def bandKeys(sig: Column, numHashes: Int, rowsPerBand: Int): Column = {
    val bands = numHashes / rowsPerBand
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }: _*)
  }

  /** Near-duplicate candidate pairs via MinHash LSH: documents sharing at
    * least one band bucket, with estimated Jaccard (signature agreement)
    * ≥ `threshold`. Output: (id_a, id_b, est_jaccard), id_a < id_b.
    *
    * Plan shape at scale: explode to (band,bucket) keys → shuffle on the
    * 16-byte key → within-bucket self-join. No O(n²) comparisons; skewed
    * buckets (boilerplate docs) can be salted or capped upstream.
    */
  def minhashCandidates(docs: DataFrame, numHashes: Int = 64,
      rowsPerBand: Int = 8, k: Int = 5, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 5000, collapseExact: Boolean = true): DataFrame = {
    // Production dedup order: collapse exact duplicates FIRST (cheap md5
    // groupBy), then run near-dup LSH on one representative per digest.
    // Without this, a corpus with d-fold exact duplication pays d× on
    // signatures and d²× on within-bucket pairs — measured 38× slowdown
    // on a 10×-duplicated scale test. Candidates are between
    // representatives (min id per digest), which is what a dedup pipeline
    // consumes; exact-dup members are handled by exactKeep.
    val base =
      if (collapseExact)
        docs.select(col(idCol).as("id"), col(textCol).as("t"))
          .withColumn("digest", md5(col("t")))
          .groupBy("digest")
          .agg(min("id").as("id"), first("t").as("t"))
          .drop("digest")
      else docs.select(col(idCol).as("id"), col(textCol).as("t"))
    // single-pass kernel: the pure-expression signature (kept above for the
    // API) re-traverses the shingle set numHashes times — 30× slower
    val sigUdf = udf((text: String) =>
      graft.functions.Hashing.minhashSignature(text, k, numHashes).toSeq)
    val sigs = base
      .select(col("id"), sigUdf(col("t")).as("sig"))
    val allBuckets = sigs
      .select(col("id"), col("sig"),
        explode(bandKeys(col("sig"), numHashes, rowsPerBand)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bucket"))
    // capBuckets materializes the (id, sig, band, bucket) table ONCE
    // (Spark plans each side of a self-join as its own subtree — no
    // exchange reuse, verified on the executed plan — so an
    // unmaterialized signature kernel would run once per side and once
    // for the skew count). The checkpointed table is compact (ids +
    // 64-int signatures + band keys) — the classic LSH signature-matrix
    // materialization. A local checkpoint trades fault-tolerance for
    // speed (executor loss fails the job); on preemptible clusters swap
    // [[materialize]]'s one checkpoint call for persist(MEMORY_AND_DISK_2)
    // or a reliable checkpoint dir — same plan shape either way.
    val buckets = capBuckets(allBuckets, maxBucket, "band", "bucket")
    val pairs = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Exact n-gram Jaccard similarity for a pair list (verification stage
    * after LSH candidate generation): |A∩B| / |A∪B| over k-shingle sets.
    */
  def jaccardVerify(docs: DataFrame, pairs: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
    pairs
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("union", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") / col("union"))
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT all-pairs set-similarity join (AllPairs/PPJoin prefix
    * filtering): every pair of docs whose set Jaccard ≥ `tau` — sets
    * default to the 5-char [[shingles]] of `text` (pass `setExpr` for
    * word tokens or anything else). No hashing, no probability of a
    * miss: the exact complement to [[minhashCandidates]] — use MinHash
    * when recall < 1 is acceptable, this when the answer must be
    * complete.
    *
    * Prefix-filter guarantee (Chaudhuri et al.'s SSJoin principle with
    * PPJoin's positional bound): order each doc's tokens by ascending
    * global document frequency (rarest first, token tie-break). For a
    * qualifying pair the required overlap is α = ⌈τ/(1+τ)·(s₁+s₂)⌉,
    * and the FIRST shared token in the global order must sit within
    * BOTH docs' (s − ⌈τ·s⌉ + 1)-prefixes (were it later, the ≥ α
    * shared tokens would have to fit in < α trailing slots). So a
    * prefix-⋈-prefix equi-join over the rarest tokens generates every
    * qualifying pair; a size filter (τ·s₂ ≤ s₁ ≤ s₂/τ) and the PPJoin
    * positional filter (1 + min(s₁−pos₁, s₂−pos₂) ≥ α — the overlap
    * upper bound at the first shared token) prune before the exact
    * intersection verify. Every ⌈·⌉ threshold carries a −1e-9 slack so
    * float error can only widen the candidate set — completeness is
    * never at risk.
    *
    * The whole pipeline runs on xxhash64 token digests, never token
    * strings: frequencies, ordering (df, digest — any deterministic
    * total order works), the candidate join and the intersection
    * verify. Distinct tokens colliding at 64 bits could perturb a
    * count with probability ~|vocab|²/2⁶⁵ (≈10⁻⁹ at a 10⁸ vocabulary)
    * — and the oracle gate compares against a string-set truth, so a
    * collision cannot pass silently.
    *
    * Scale shape: the verify-ready sorted digest arrays come straight
    * off the map side (native [[graft.plans.ShingleDigests]] — no
    * substring allocation, no collect round trip); one explode + one
    * groupBy(digest) computes frequencies; the rare-first prefix is a
    * per-doc window (partitioned by id, never global); the candidate
    * equi-join is bounded by prefix rarity (never the full posting
    * list); the exact verify ([[graft.plans.SortedIntersectCount]],
    * two-pointer over primitive longs) runs only on surviving pairs.
    * All shuffles carry longs.
    * Output: (id_a, id_b, inter, jaccard), id_a < id_b.
    *
    * `setExpr` (array&lt;string&gt;, digested via xxhash64) or
    * `digestExpr` (array&lt;long&gt; of distinct digests — e.g. the
    * allocation-free native [[graft.plans.ShingleDigests]]) chooses the
    * set representation; default = native 12-char shingle digests of
    * lowered `text`.
    */
  def setSimJoin(docs: DataFrame, tau: Double,
      idCol: String = "doc_id", setExpr: Column = null,
      digestExpr: Column = null): DataFrame = {
    val dig = Option(digestExpr)
      .orElse(Option(setExpr).map(s => transform(s, t => xxhash64(t))))
      .getOrElse(graft.plans.GraftExtensions.shingleDigestsNative(
        lower(col("text")), 12))
    // base carries the verify-ready sorted digest array straight from
    // the map side — no groupBy/collect round trip rebuilds it. The r18
    // spread() here and in shingleGroups was REVERTED in r19: the q316
    // quiet A/B charged the extra round-robin exchange + 32-task
    // scheduling ~0.65 s (2.62 → 1.96 s min), and at real scale the
    // branch is a no-op anyway (scans split past defaultParallelism).
    val base = materialize(docs.select(col(idCol).as("id"),
        sort_array(array_distinct(dig)).as("toks"))
      .withColumn("s", size(col("toks")))
      .withColumn("p",
        col("s") - ceil(lit(tau) * col("s") - lit(1e-9)).cast("int") + lit(1)))
    val toks = base.select(col("id"), col("s"), col("p"),
      explode(col("toks")).as("hk"))
    val dfreq = toks.groupBy("hk").agg(count(lit(1)).as("df"))
    // rare-first prefix via a per-doc window (partitioned by id — never
    // a global sort): the p globally-rarest digests of each doc
    val wRare = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("df", "hk")
    // df-annotation join, size-gated (r19): |dfreq| ≤ Σs, known exactly
    // from the materialized base for the price of one tiny agg job.
    // When Σs rows of the vocabulary slice fit (see Gates), BROADCAST
    // it — the exploded token table then never exchanges before its
    // per-doc window (the r18 blanket shuffle_hash hint forced that
    // exchange even on a 249-group sweep input, the biggest slice of
    // q316's 2.26×-above-floor flag: A/B'd 2.62 → 1.84 s min with the
    // spread revert below). Above the gate,
    // shuffle_hash as in r18: per-partition build of the 16 B/row
    // (hk, df) vocabulary slice, no sort of the exploded token table by
    // hk — see containmentJoin's ranked join for the measurement and
    // the scale argument.
    val nTokUb = base.agg(coalesce(sum(col("s")), lit(0L)))
      .first.getLong(0)
    val dfreqSide =
      if (Gates.fits(dfreq, nTokUb)) broadcast(dfreq)
      else dfreq.hint("shuffle_hash")
    val prefix = toks.join(dfreqSide, "hk")
      .withColumn("_rn", row_number().over(wRare))
      .filter(col("_rn") <= col("p"))
      .select(col("id"), col("s"), (col("_rn") - 1).as("pos"), col("hk"))
    val a = prefix.select(col("id").as("id_a"), col("s").as("s_a"),
      col("pos").as("_pa"), col("hk"))
    val b = prefix.select(col("id").as("id_b"), col("s").as("s_b"),
      col("pos").as("_pb"), col("hk"))
    val cand = a.join(b, "hk")
      .filter(col("id_a") < col("id_b"))
      .filter(col("s_a") >= lit(tau) * col("s_b") - lit(1e-9) &&
        col("s_b") >= lit(tau) * col("s_a") - lit(1e-9))
      .filter((lit(1) + least(col("s_a") - col("_pa") - 1,
          col("s_b") - col("_pb") - 1)) * (lit(1.0) + tau) >=
        lit(tau) * (col("s_a") + col("s_b")) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // shuffle_hash with the pair side building (r18) — see
    // containmentJoin's verify joins for the measurement and the
    // scale argument (build ∝ candidate output, never the corpus).
    cand
      .hint("shuffle_hash")
      .join(base.select(col("id").as("id_a"), col("toks").as("_ta"),
        col("s").as("s_a")), "id_a")
      .hint("shuffle_hash")
      .join(base.select(col("id").as("id_b"), col("toks").as("_tb"),
        col("s").as("s_b")), "id_b")
      .withColumn("inter", graft.plans.GraftExtensions
        .sortedIntersectNative(col("_ta"), col("_tb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("s_a") + col("s_b") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
        col("jaccard"))
  }

  /** [[setSimJoin]] with EXACT-DUPLICATE COLLAPSE — the duplicate-
    * saturation scale path the plain exact join cannot have: a corpus
    * where each doc has c exact clones makes the true pairwise answer
    * Θ(c²) rows (the r11 100× sweep filled local disk exactly this
    * way), so this variant groups docs BY THEIR SHINGLE SET first
    * (array groupBy — set equality, no hashing ambiguity), joins only
    * the ≤ one representative per distinct set, and reports
    * multiplicities instead of materializing clone×clone pairs:
    *
    *   - inter-group rows: (rep_a, rep_b, inter, jaccard, n_a, n_b,
    *     n_pairs = n_a·n_b) for distinct-set pairs with jaccard ≥ τ
    *   - intra-group rows: (rep, rep, |set|, 1.0, n, n, n·(n−1)/2)
    *     for every set occurring n ≥ 2 times (identical docs qualify
    *     at any τ ≤ 1)
    *
    * Σ n_pairs over all rows = the exact pair count [[setSimJoin]]
    * would emit — same truth, output linear in DISTINCT sets. The
    * collapse groupBy is one shuffle of (set, id) rows; everything
    * after runs on the deduplicated corpus.
    */
  /** The collapsed shingle-set group table behind
    * [[setSimJoinCollapsed]] / [[dedupThresholdSweep]]: one row per
    * DISTINCT shingle set with its min-id representative and member
    * count; `withTokens` also carries the members' summed whitespace
    * token counts (the q79 convention) for ROI readouts — kept
    * optional so the plain pair join pays nothing for it.
    */
  private def shingleGroups(docs: DataFrame, idCol: String,
      withTokens: Boolean): DataFrame = {
    val dig = graft.plans.GraftExtensions.shingleDigestsNative(
      lower(col("text")), 12)
    if (withTokens)
      docs.select(col(idCol).cast("long").as("id"),
          sort_array(array_distinct(dig)).as("toks"),
          greatest(lit(0L), coalesce(
            TextAnalysis.tokenCountWs(col("text")).cast("long"),
            lit(0L))).as("_tk"))
        .groupBy("toks").agg(min("id").as("id"), count(lit(1)).as("n"),
          sum("_tk").as("tk"))
    else
      docs.select(col(idCol).cast("long").as("id"),
          sort_array(array_distinct(dig)).as("toks"))
        .groupBy("toks").agg(min("id").as("id"), count(lit(1)).as("n"))
  }

  def setSimJoinCollapsed(docs: DataFrame, tau: Double,
      idCol: String = "doc_id"): DataFrame =
    collapsedPairsFromGroups(
      materialize(shingleGroups(docs, idCol, withTokens = false)), tau)

  /** The inter+intra pair build of [[setSimJoinCollapsed]] over a
    * prebuilt (toks, id, n) group table. */
  private def collapsedPairsFromGroups(groups: DataFrame,
      tau: Double): DataFrame = {
    val inter = setSimJoin(groups, tau, idCol = "id",
        digestExpr = col("toks"))
      .join(groups.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(groups.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"),
        col("n_a"), col("n_b"), (col("n_a") * col("n_b")).as("n_pairs"))
    val intra = groups.filter(col("n") > 1)
      .select(col("id").as("id_a"), col("id").as("id_b"),
        size(col("toks")).cast("long").as("inter"), lit(1.0).as("jaccard"),
        col("n").as("n_a"), col("n").as("n_b"),
        expr("(n * (n - 1)) div 2").as("n_pairs"))
    inter.unionByName(intra)
  }

  /** Threshold-sensitivity table for pair-level dedup — the curator's
    * FIRST question before paying for a near-dup pass ("how much does
    * each Jaccard cutoff actually bite?") answered from ONE pair
    * computation: run [[setSimJoinCollapsed]] once at min(taus) and
    * read every higher threshold off the SAME bounded pair table. Per
    * threshold: the exact qualifying pair count (Σ n_pairs — clone
    * multiplicities included, what plain [[setSimJoin]] would emit at
    * that τ), the distinct shingle-set groups touched, the documents
    * those groups contain, and the Q6 share of the corpus those
    * documents are. Pairs with q300's linear screen (dupNgramShare) as
    * the decision kit that runs BEFORE pair-level dedup is paid for.
    *
    * Exactness: the prefix filter at τ_min generates a superset of
    * every higher threshold's pairs and the final `jaccard >= τ`
    * comparisons are the same IEEE double test on both engines (exact
    * integer inter/union division — the q178 discipline), so filtering
    * the τ_min table at τ equals running the join at τ.
    *
    * Token ROI (r15): each threshold row also reports the whitespace
    * tokens (q79 convention) of the documents it touches and their Q6
    * share of the corpus token total — "how many TRAINING TOKENS are
    * at stake at this cutoff", the number the dedup pass is actually
    * budgeted against (docs are not the currency; tokens are). Token
    * sums ride the SAME group build (one corpus pass), so the ROI
    * column is free at the sweep stage.
    *
    * Scale shape: ONE collapsed pair join (the q207 duplicate-
    * saturation-proof path); the sweep is a broadcast |taus|-row theta
    * join against the materialized pair table (output bounded by
    * |taus| · |pairs|), two partial-agg'd groupBys, one key join of
    * the (bounded) touched-group set back to the group table for
    * token sums, and a broadcast 1-row corpus total. No per-threshold
    * corpus pass, no re-join.
    * Output: (tau_q6, n_pairs, n_groups, n_docs, doc_share_q6,
    * n_tokens, token_share_q6), one row per threshold (zero-filled
    * when nothing qualifies).
    */
  def dedupThresholdSweep(docs: DataFrame, taus: Seq[Double] = Seq(0.7, 0.8, 0.9, 0.95, 1.0),
      idCol: String = "doc_id"): DataFrame = {
    require(taus.nonEmpty && taus.forall(t => t > 0.0 && t <= 1.0),
      "dedupThresholdSweep needs thresholds in (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val groups = materialize(shingleGroups(docs, idCol, withTokens = true))
    val pairs = materialize(collapsedPairsFromGroups(
      groups.select("toks", "id", "n"), taus.min))
    val tausDf = taus.distinct.sorted
      .map(t => (math.round(t * 1e6), t)).toDF("tau_q6", "_tau")
    // share denominators: doc count from the corpus, token total from
    // the GROUP table — groups partition every doc (null-text docs sit
    // in the null-toks group at 0 tokens), so Σ tk ≡ the corpus token
    // total with no second tokenization scan
    val nTot = docs.agg(count(lit(1)).as("_nd")).crossJoin(
      groups.agg(coalesce(sum("tk"), lit(0L)).as("_ntk")))
    val qual = pairs.join(tausDf, col("jaccard") >= col("_tau"))
    val pairAgg = qual.groupBy("tau_q6")
      .agg(sum("n_pairs").as("n_pairs"))
    // groups touched at τ: either side of any qualifying row (intra
    // rows carry id_a = id_b — the distinct collapses the double emit);
    // token sums joined from the group table by rep id (the touched
    // set is pair-table-bounded, the join is key-local)
    val docAgg = qual.select(col("tau_q6"), explode(array(
        struct(col("id_a").as("_gid"), col("n_a").as("_gn")),
        struct(col("id_b").as("_gid"), col("n_b").as("_gn")))).as("_g"))
      .select(col("tau_q6"), col("_g._gid").as("_gid"),
        col("_g._gn").as("_gn"))
      .distinct()
      .join(groups.select(col("id").as("_gid"), col("tk").as("_gtk")),
        Seq("_gid"))
      .groupBy("tau_q6")
      .agg(count(lit(1)).as("n_groups"), sum("_gn").as("n_docs"),
        sum("_gtk").as("n_tokens"))
    tausDf.select("tau_q6")
      .join(pairAgg, Seq("tau_q6"), "left")
      .join(docAgg, Seq("tau_q6"), "left")
      .na.fill(0L, Seq("n_pairs", "n_groups", "n_docs", "n_tokens"))
      .crossJoin(nTot)
      .withColumn("doc_share_q6", when(col("_nd") > 0, expr(
        "CAST((CAST(n_docs AS DECIMAL(38,0)) * 1000000) DIV _nd" +
          " AS BIGINT)")))
      .withColumn("token_share_q6", when(col("_ntk") > 0, expr(
        "CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000) DIV _ntk" +
          " AS BIGINT)")))
      .select(col("tau_q6"), col("n_pairs"), col("n_groups"),
        col("n_docs"), col("doc_share_q6"), col("n_tokens"),
        col("token_share_q6"))
  }

  /** Blocked fuzzy record linkage: all pairs within a block whose key
    * strings are within `maxDist` Levenshtein edits — the entity-
    * resolution candidate generator (names, addresses, titles).
    * Blocking is the scale contract: the quadratic comparison runs only
    * INSIDE each block (equi-join on the block key, co-partitioned),
    * and blocks larger than `maxBlock` rows are dropped whole (the
    * coOccurrenceEdges skew guard — a million-row block is a blocking-
    * key bug, not a linkage signal). The edit distance itself is
    * Spark's codegen'd `levenshtein` with the early-exit threshold
    * form doing the filter, so non-matches cost O(maxDist·len), not
    * O(len²). Output: (id_a, id_b, dist), id_a < id_b, dist ≤ maxDist.
    */
  def blockedLinkPairs(df: DataFrame, idCol: String, keyCol: String,
      blockCol: String, maxDist: Int, maxBlock: Int = 10000): DataFrame = {
    val slim = df.select(col(blockCol).as("_blk"), col(idCol).as("_id"),
      col(keyCol).as("_key"))
    val ok = capBuckets(slim, maxBlock, "_blk")
    val a = ok.select(col("_blk"), col("_id").as("id_a"), col("_key").as("_ka"))
    val b = ok.select(col("_blk"), col("_id").as("id_b"), col("_key").as("_kb"))
    a.join(b, Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      .filter(levenshtein(col("_ka"), col("_kb"), maxDist) =!= -1)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_ka"), col("_kb")).cast("long").as("dist"))
  }

  /** Corpus-level n-gram Jaccard between two sources — "how similar are
    * these two crawls/snapshots" as ONE number: |shingles(A) ∩
    * shingles(B)| / |shingles(A) ∪ shingles(B)| over the distinct
    * k-shingle sets of each side. Output one row: (n_a, n_b, n_inter,
    * n_union, jaccard) — all exact integers plus one double division of
    * exact integers (engine-identical).
    *
    * Scale shape: one explode + one partial-agg'd groupBy on the
    * shingle (membership flags via max — dedup and side-tagging in the
    * same aggregation), then a single global agg; nothing is ever
    * pairwise. At 100 TB, hash the shingles to 8-byte digests first if
    * string shuffle volume matters — counts are identical modulo hash
    * collisions.
    */
  def corpusJaccard(docs: DataFrame, srcCol: String, a: String, b: String,
      k: Int = 5, textCol: String = "text"): DataFrame = {
    docs.filter(col(srcCol).isin(a, b))
      .select(col(srcCol).as("_src"),
        explode(shingles(col(textCol), k)).as("_s"))
      .groupBy("_s")
      .agg(max(when(col("_src") === a, 1L).otherwise(0L)).as("_ina"),
        max(when(col("_src") === b, 1L).otherwise(0L)).as("_inb"))
      .agg(sum("_ina").as("n_a"), sum("_inb").as("n_b"),
        sum(col("_ina") * col("_inb")).as("n_inter"),
        count(lit(1)).as("n_union"))
      .select(col("n_a"), col("n_b"), col("n_inter"), col("n_union"),
        (col("n_inter").cast("double") / col("n_union")).as("jaccard"))
  }

  /** All-pairs corpus similarity matrix — [[corpusJaccard]] for EVERY
    * source pair at once: per distinct shingle, the (small) set of
    * sources containing it; pair counts explode from that set (bounded
    * by #sources², never by rows); per-source distinct counts and the
    * final Jaccard matrix follow by broadcast join. Pairs sharing no
    * shingle are absent (Jaccard 0). Output: (source_a, source_b,
    * n_a, n_b, inter, jaccard), source_a < source_b.
    */
  def corpusJaccardMatrix(docs: DataFrame, srcCol: String, k: Int = 5,
      textCol: String = "text"): DataFrame = {
    val sets = materialize(docs
      .select(col(srcCol).as("_src"),
        explode(shingles(col(textCol), k)).as("_s"))
      .groupBy("_s").agg(sort_array(collect_set("_src")).as("_ss")))
    val counts = sets.select(explode(col("_ss")).as("_src"))
      .groupBy("_src").agg(count(lit(1)).as("_n"))
    val pairs = sets.select(col("_ss"), explode(col("_ss")).as("_a"))
      .select(col("_a"), explode(col("_ss")).as("_b"))
      .filter(col("_a") < col("_b"))
      .groupBy("_a", "_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(counts.select(col("_src").as("_a"), col("_n").as("n_a"))), "_a")
      .join(broadcast(counts.select(col("_src").as("_b"), col("_n").as("n_b"))), "_b")
      .select(col("_a").as("source_a"), col("_b").as("source_b"),
        col("n_a"), col("n_b"), col("inter"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
  }

  /** Cluster near-duplicate candidate pairs into groups and pick a
    * canonical survivor per group: connected components over the pair
    * edges, labels = component-minimum ids. Two physical paths, same
    * result:
    *
    *  - edge sets that fit [[Gates]] (the common case — LSH exists to
    *    make candidates ≪ corpus) collect to the driver and solve in one
    *    union-find pass: a single action, no iteration. `driverMaxEdges`
    *    ≥ 0 sets the edge ceiling instead; 0 forces the loop below;
    *  - larger graphs run distributed min-label propagation *with
    *    pointer-doubling shortcutting* (each round every node takes the
    *    min label of its neighbors, then follows its label's own label) —
    *    chains collapse geometrically, so convergence is O(log(diameter))
    *    rounds, each one join + one agg + one self-join on the (small)
    *    label table.
    *
    * Every round goes through [[materialize]] (eager) so lineage stays
    * flat across iterations (no re-execution stack at scale), and the
    * convergence probe reads the already-materialized result instead of
    * recomputing the round's join.
    *
    * Input: (id_a, id_b) pairs. Output: (doc_id, cluster_id) where
    * cluster_id = min doc id reachable through the pair graph; rows not
    * in any pair are absent (they are their own cluster).
    */
  def clusterPairs(pairs: DataFrame, maxIterations: Int = 15,
      driverMaxEdges: Int = -1): DataFrame = {
    // Fit-then-broadcast fast path: after LSH the candidate edge set is
    // normally tiny next to the corpus (it is the point of LSH), so an
    // edge set that fits solves on the driver in one union-find pass —
    // one action, zero per-round stage barriers — the same driver-scale
    // discipline as Normalizer.fit / IVF centroids. The size probe is
    // limit(N+1).collect: if it comes back short we already hold every
    // edge (no separate count, no plan re-execution — the signature
    // table upstream is checkpointed).
    val idType = pairs.schema("id_a").dataType
    val isIntegral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    if (isIntegral) {
      val slim =
        pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      val maxEdges =
        if (driverMaxEdges >= 0) driverMaxEdges else Gates.maxRows(slim)
      val probe = slim.limit(maxEdges + 1).collect()
      if (probe.length <= maxEdges) {
        // union-find, roots kept at the component minimum: attach the
        // larger root under the smaller, halve paths on find
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) {
            val gp = parent.getOrDefault(p, p)
            parent.put(x, gp) // path halving
            x = gp
            p = parent.getOrDefault(x, x)
          }
          x
        }
        probe.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val ids = {
          val s = new java.util.TreeSet[java.lang.Long]()
          probe.foreach { r => s.add(r.getLong(0)); s.add(r.getLong(1)) }
          s
        }
        val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](ids.size)
        ids.forEach(id => rows += ((id, find(id))))
        val spark = pairs.sparkSession
        import spark.implicits._
        return rows.toSeq.toDF("id", "cluster_id")
          .select(col("id").cast(idType), col("cluster_id").cast(idType))
      }
    }
    // reused by every round — materialize once
    val edges = materialize(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      eager = true)
    // The label table is bounded by the directed edge count (the stage's
    // own): its node-sized sides broadcast while that many rows fit.
    val nDirEdges = rowCount(edges)
    // init folds the first hop in: label = min(self, direct neighbors).
    // Every node appears as a src (edges are bidirectional), so this one
    // aggregation replaces the distinct-nodes scan AND saves a full
    // propagation round — pairs/cliques then converge in a single
    // confirming iteration.
    // not checkpointed: consumed exactly once (by round 1's joins), so
    // materializing it would only add a job — every later `labels` is the
    // round's own checkpointed result
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min("dst")).as("cluster_id"))
      .select(col("src").as("id"), col("cluster_id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // hop: each node adopts the min label among itself and its neighbors
      val neighborMin = edges
        .join(Gates.broadcastIfFits(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("cluster_id", "n_label"), nDirEdges), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("n_label").as("n_min"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("old_cid"),
          least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
            .as("mid_cid"))
      // shortcut: follow the label's own label (labels are node ids, so
      // every mid_cid has a row); this is the pointer-doubling step
      val parents = stepped.select(col("id").as("pid"), col("mid_cid").as("p_label"))
      val updated = materialize(
        stepped.join(Gates.broadcastIfFits(parents, nDirEdges),
            stepped("mid_cid") === parents("pid"), "left")
          .select(col("id"), col("old_cid"),
            least(col("mid_cid"), coalesce(col("p_label"), col("mid_cid")))
              .as("cluster_id")),
        eager = true) // one job materializes the round
      val changed = updated
        .filter(col("cluster_id") =!= col("old_cid")).limit(1).count()
      labels = updated.select("id", "cluster_id")
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] clusterPairs: not converged after $maxIterations rounds; " +
          "components wider than 2^rounds may be split")
    labels
  }

  /** End-to-end near-dup removal: LSH candidates → cluster → keep the
    * min-id survivor of each cluster (plus all unpaired docs).
    */
  def nearDupKeep(docs: DataFrame, numHashes: Int = 64, rowsPerBand: Int = 8,
      k: Int = 5, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // stage 1: exact dedup (drops md5-identical copies, keeps min id)
    val uniq = exactKeep(docs, idCol, textCol)
    // stage 2: near-dup LSH over the unique survivors only
    val cands = minhashCandidates(uniq, numHashes, rowsPerBand, k, threshold,
      idCol, textCol, collapseExact = false)
    // converged min-label = the component minimum, so the survivor of a
    // cluster is exactly the node labeled with itself — non-survivors
    // fall out of one filter (no extra groupBy/anti-join round trip)
    val losers = clusterPairs(cands)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    uniq.join(losers, Seq(idCol), "anti")
  }

  /** Cluster-membership view of the near-dup graph — the auditable
    * companion to [[nearDupKeep]]'s keep/drop verdicts: every exact-rep
    * doc that participates in at least one LSH candidate pair, labeled
    * with its connected component (cluster_id = component-minimum doc
    * id), the component size, and whether it is the canonical survivor.
    * Singletons (docs with no candidate pair) are absent — at corpus
    * scale they are ~all rows, and they carry no audit information.
    *
    * Scale shape: [[clusterPairs]]' pointer-doubled label propagation
    * plus ONE extra groupBy over the label table (which is sized by the
    * candidate pairs, not the corpus) for the component sizes.
    */
  def clusterReport(docs: DataFrame, numHashes: Int = 64,
      rowsPerBand: Int = 8, k: Int = 5, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      driverMaxEdges: Int = -1): DataFrame = {
    val uniq = exactKeep(docs, idCol, textCol)
    val cands = minhashCandidates(uniq, numHashes, rowsPerBand, k, threshold,
      idCol, textCol, collapseExact = false)
    val labels = clusterPairs(cands, driverMaxEdges = driverMaxEdges)
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("id").as(idCol), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).as("is_canonical"))
  }

  /** Domain-spread histogram of the near-dup clusters — the signal
    * that tells a curator WHAT KIND of duplication the corpus has:
    * clusters confined to one domain are template/boilerplate
    * (fix with per-domain cleaning, [[graft.operators.TextAnalysis]]'s
    * boilerplate pass), clusters spanning domains are
    * syndication/mirrors (fix with cross-domain dedup before
    * mixture-weighting, or the weights double-count the shared text).
    * The near-dup complement to [[crossDomainDups]]' EXACT matrix:
    * per [[clusterReport]] cluster the distinct member domains, then
    * one row per spread value — (n_domains, n_clusters, n_docs,
    * cluster_share_q6).
    *
    * Scale shape: [[clusterPairs]]' label table (sized by candidate
    * pairs, not the corpus) joined once to the docs' domain column,
    * two partial-agg'd folds to a ≤|domains|-row histogram, broadcast
    * 1-row total. Nothing else touches the corpus.
    */
  def dupClusterDomains(docs: DataFrame, numHashes: Int = 64,
      rowsPerBand: Int = 8, k: Int = 5, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      domainCol: String = "source"): DataFrame = {
    val members = clusterReport(docs, numHashes, rowsPerBand, k,
        threshold, idCol, textCol)
      .select(col(idCol), col("cluster_id"))
    val dom = members
      .join(docs.select(col(idCol), col(domainCol).as("_dom")), Seq(idCol))
      .groupBy("cluster_id")
      .agg(countDistinct("_dom").as("n_domains"),
        count(lit(1)).as("n_docs"))
    val hist = dom.groupBy("n_domains")
      .agg(count(lit(1)).as("n_clusters"), sum("n_docs").as("n_docs"))
    val tot = hist.agg(coalesce(sum("n_clusters"), lit(0L)).as("_tc"))
    hist.crossJoin(tot)
      .withColumn("cluster_share_q6", when(col("_tc") > 0, expr(
        "CAST((CAST(n_clusters AS DECIMAL(38,0)) * 1000000) DIV _tc" +
          " AS BIGINT)")))
      .select(col("n_domains"), col("n_clusters"), col("n_docs"),
        col("cluster_share_q6"))
  }

  /** [[nearDupKeep]] with a caller-chosen representative: cluster
    * members rank by `score` DESC (tie: lowest id) and only the top one
    * survives — curation's "keep the best copy" (longest, highest
    * quality score, freshest) instead of the min-id default. `score` is
    * any deterministic expression over the doc row (e.g.
    * `col("n_chars")` to keep the longest version).
    *
    * Scale shape is [[nearDupKeep]]'s plus one window PARTITIONED BY
    * cluster id — clusters are near-dup groups (small by construction;
    * the LSH skew cap bounds pathological ones), so there is no global
    * funnel; the rank never sees more rows than the cluster.
    */
  def nearDupKeepBy(docs: DataFrame, score: Column, numHashes: Int = 64,
      rowsPerBand: Int = 8, k: Int = 5, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val uniq = exactKeep(docs, idCol, textCol)
    val cands = minhashCandidates(uniq, numHashes, rowsPerBand, k, threshold,
      idCol, textCol, collapseExact = false)
    val labels = clusterPairs(cands)
      .select(col("id").as(idCol), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(score.desc, col(idCol))
    val losers = uniq.join(labels, Seq(idCol))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > 1)
      .select(col(idCol))
    uniq.join(losers, Seq(idCol), "anti")
  }

  /** Deterministic per-key cap (corpus curation's "at most n docs per
    * domain/source"): rows ranked by a seeded md5 permutation within each
    * key, keep the first `n`. The window partitions by the key — no
    * global funnel — and md5 order is engine-independent, so the kept
    * set is reproducible anywhere (same idiom as `Xval.groupRandomKfold`).
    */
  def capPerKey(df: DataFrame, keyCol: String, n: Int, seed: Long = 0,
      idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
      .orderBy(md5(concat_ws("#", lit(seed), col(idCol).cast("string"))),
        col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= n)
      .drop("_rk")
  }

  /** Benchmark decontamination (the standard eval-leak scrub before
    * training): a document is contaminated if it shares at least
    * `threshold` distinct word-`n`-grams with the benchmark corpus.
    * Returns one row per document: (idCol, n_overlap, contaminated).
    *
    * Scale shape: the benchmark side (eval sets — tiny next to a 100 TB
    * corpus) collapses to distinct n-grams and broadcasts, so the overlap
    * join is map-side; the only shuffle is the final per-doc count
    * aggregate, which is partial-aggregated (map-side combine) on doc ids.
    * `hashNgrams=true` (default) joins on `xxhash64` of the n-gram — 8 B
    * per key instead of the n-word string — the right trade at scale; the
    * oracle-checked query uses `false` so DuckDB can replay the join on
    * raw strings bit-exactly (a spec asserts both paths agree).
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 3,
      threshold: Int = 1, idCol: String = "doc_id", textCol: String = "text",
      hashNgrams: Boolean = true): DataFrame = {
    def grams(df: DataFrame, keep: Seq[String]): DataFrame = df
      .select(keep.map(col) :+
        explode(array_distinct(TextAnalysis.wordNgrams(col(textCol), n))).as("_g"): _*)
      .select(keep.map(col) :+
        (if (hashNgrams) xxhash64(col("_g")) else col("_g")).as("_gram"): _*)
    val bench = grams(benchmark, Nil).distinct()
    val overlap = grams(docs, Seq(idCol))
      .join(broadcast(bench), "_gram")
      .groupBy(idCol).agg(count("*").as("n_overlap"))
    docs.select(idCol).join(overlap, Seq(idCol), "left")
      .na.fill(0L, Seq("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= threshold)
  }

  /** Fixed-width word segments (0-based position, partial tail kept):
    * the deterministic segmentation under [[dedupSegments]]. Corpora with
    * real sentence boundaries would segment on those instead; the fixed
    * window is the delimiter-free equivalent and keeps the oracle replay
    * exact.
    */
  private[operators] def segments(text: Column, segWords: Int): Column = {
    val ws = TextAnalysis.words(text)
    val nseg = ceil(size(ws) / segWords.toDouble).cast("int")
    when(size(ws) >= 1,
      transform(sequence(lit(0), nseg - 1),
        i => concat_ws(" ", slice(ws, i * segWords + 1, lit(segWords)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Corpus-wide duplicated window spans — the sliding-window form of
    * exact-substring dedup (the published suffix-array recipe finds
    * duplicated ≥N-token substrings; stride-1 `window`-word digests find
    * the same spans up to window granularity at the same O(corpus
    * tokens) cost, with no suffix array to build or hold). A window is
    * duplicated if its digest occurs at any other (doc, position);
    * overlapping/adjacent duplicated windows merge into maximal spans.
    * Returns (idCol, span_start, span_end, n_windows) in word offsets —
    * the input a span-removal or span-masking pass consumes.
    *
    * Scale shape: the digest table is O(words) rows of ~50 B (shuffle on
    * the digest only); the merge is a per-doc running-max window
    * (bounded by the doc's own spans, never cross-doc). The
    * corpus-frequency pass is a partial-aggregated count + semi-join —
    * no digest carries its text.
    */
  def duplicateSpans(docs: DataFrame, window: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = graft.operators.TextAnalysis.words(col(textCol))
    val wins = docs
      .select(col(idCol), ws.as("_ws"))
      .filter(size(col("_ws")) >= window)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("_ws")) - window),
          i => md5(array_join(slice(col("_ws"), i + 1, lit(window)), " "))))
        .as(Seq("start", "digest")))
    val dupDigests = wins.groupBy("digest")
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).select("digest")
    val dw = wins.join(dupDigests, Seq("digest"), "semi")
      .withColumn("end", col("start") + (window - 1))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("start")
    val prevMax = max(col("end"))
      .over(byDoc.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1))
    dw
      .withColumn("_new",
        when(prevMax.isNull || col("start") > prevMax + 1, 1).otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_grp"))
      .agg(min("start").cast("long").as("span_start"),
        max("end").cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("_grp")
  }

  /** Content-defined chunking over the corpus: every doc splits at
    * Gear-hash boundaries ([[graft.functions.Hashing.cdcChunks]] —
    * FastCDC-family, so an insertion reshapes only the chunks it
    * touches, where [[duplicateSpans]]' fixed word windows all shift),
    * then chunks repeated across ≥ `minDocs` DISTINCT docs aggregate to
    * (digest, n_chunks, n_docs, chunk_len) — the storage-dedup view of
    * corpus redundancy, complementary to the span view.
    *
    * Scale shape: one map-side walk per doc (no state across docs), a
    * chunk table of O(chars/avgChunk) slim rows shuffled on digest
    * once; nothing carries chunk text.
    */
  def cdcDuplicateChunks(docs: DataFrame, minLen: Int = 16,
      maxLen: Int = 128, maskBits: Int = 6, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunker = graft.plans.GraftExtensions.cdcChunksNative(
      col(textCol), minLen, maxLen, maskBits)
    docs.select(col(idCol), explode(chunker).as("_c"))
      .select(col(idCol), col("_c.len").as("_len"),
        col("_c.digest").as("digest"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col(idCol)).as("n_docs"),
        max("_len").cast("long").as("chunk_len"))
      .filter(col("n_docs") >= minDocs)
  }

  /** ExactSubstr-style duplicate-span REMOVAL — [[duplicateSpans]]'s
    * rewrite half: every `window`-word sliding window that duplicates an
    * earlier occurrence (global first = min (doc, start) per digest,
    * like the published train-dedup recipe keeps one copy) is merged
    * into per-doc spans and cut out; documents are rebuilt from the
    * surviving words. Window-granularity is the standard sliding-window
    * compromise: overlapping periodic repeats may truncate into the
    * retained copy's neighborhood, deterministically.
    *
    * Scale shape: first-occurrence choice is a row_number window
    * PARTITIONED BY the 16-byte window digest (occurrence lists, never
    * a global funnel), span merge is the per-doc gaps-and-islands pass,
    * and the rebuild is one row-local array filter against the doc's
    * merged span list (collected per doc — bounded by words/1). The
    * tokenized corpus is materialized once (lazy [[materialize]]) and
    * shared by the window pass and the rebuild.
    *
    * Output: (idCol, clean_text, n_words_in, n_words_kept).
    */
  def removeDuplicateSpans(docs: DataFrame, window: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val base = materialize(docs
      .select(col(idCol),
        coalesce(graft.operators.TextAnalysis.words(col(textCol)), array())
          .as("_ws")))
    val wins = base.filter(size(col("_ws")) >= window)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("_ws")) - window),
          i => md5(array_join(slice(col("_ws"), i + 1, lit(window)), " "))))
        .as(Seq("start", "digest")))
    val firstW = W.partitionBy("digest").orderBy(col(idCol), col("start"))
    val losers = wins.withColumn("_rk", row_number().over(firstW))
      .filter(col("_rk") > 1)
      .withColumn("end", col("start") + (window - 1))
    val byDoc = W.partitionBy(idCol).orderBy("start")
    val prevMax = max(col("end"))
      .over(byDoc.rowsBetween(W.unboundedPreceding, -1))
    val spans = losers
      .withColumn("_new",
        when(prevMax.isNull || col("start") > prevMax + 1, 1).otherwise(0))
      .withColumn("_grp", sum(col("_new"))
        .over(byDoc.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_grp"))
      .agg(min("start").as("s"), max("end").as("e"))
      .groupBy(idCol)
      .agg(collect_list(struct(col("s"), col("e"))).as("_spans"))
    base.join(spans, Seq(idCol), "left")
      .withColumn("_spans",
        coalesce(col("_spans"), array().cast("array<struct<s:int,e:int>>")))
      .withColumn("_kept", filter(col("_ws"),
        (w, i) => !exists(col("_spans"),
          sp => i >= sp("s") && i <= sp("e"))))
      .select(col(idCol),
        array_join(col("_kept"), " ").as("clean_text"),
        size(col("_ws")).cast("long").as("n_words_in"),
        size(col("_kept")).cast("long").as("n_words_kept"))
  }

  /** Segment-level exact dedup (C4-style duplicate-span removal): every
    * `segWords`-word segment that occurs more than once corpus-wide is
    * kept only at its first occurrence (min (doc, pos)); documents are
    * rebuilt from their surviving segments. Returns
    * (idCol, n_segs, n_kept, clean).
    *
    * Scale shape: first-occurrence selection is a `row_number` window
    * partitioned by the segment's md5 — thousands of rows per digest at
    * worst, never a global funnel — and the rebuild is a per-doc
    * aggregate; both shuffles are on short keys but carry the segment
    * text once each (unavoidable: the rebuild needs the bytes). Counts
    * stay partial-aggregated map-side.
    */
  def dedupSegments(docs: DataFrame, segWords: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val seg = docs
      .select(col(idCol), posexplode(segments(col(textCol), segWords)).as(Seq("pos", "seg")))
      .withColumn("_d", md5(col("seg")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_d")
      .orderBy(col(idCol), col("pos"))
    val kept = seg.withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
    val rebuilt = kept.groupBy(idCol).agg(
      count("*").as("n_kept"),
      concat_ws(" ", transform(
        sort_array(collect_list(struct(col("pos"), col("seg")))),
        s => s("seg"))).as("clean"))
    docs
      .select(col(idCol),
        ceil(size(TextAnalysis.words(col(textCol))) / segWords.toDouble)
          .cast("long").as("n_segs"))
      .join(rebuilt, Seq(idCol), "left")
      .na.fill(0L, Seq("n_kept")).na.fill("", Seq("clean"))
  }

  /** Deterministic weighted sampling per key (corpus mixture control:
    * "keep 50% of src_a, 10% of src_b"): a row survives iff the first
    * 32 bits of a seeded md5 over its id fall under `fraction × 2³²`.
    * Fully map-side — no counts, no window, no shuffle — so unlike
    * [[capPerKey]] it costs nothing beyond the scan at any scale, and the
    * kept set is a stable function of (seed, id): re-runs, retries, and
    * different cluster sizes keep exactly the same rows.
    */
  def weightedSample(df: DataFrame, keyCol: String,
      fractions: Map[String, Double], default: Double = 1.0,
      seed: Long = 0, idCol: String = "doc_id"): DataFrame = {
    val bucket = conv(substring(
      md5(concat_ws("#", lit(seed), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val threshold = fractions.foldLeft(lit((default * 4294967296d).toLong)) {
      case (acc, (k, f)) =>
        when(col(keyCol) === k, lit((f * 4294967296d).toLong)).otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** Rebalance a corpus to a target source mixture by integer-exact
    * downsampling — the Pile/Dolma-style mixing step: given integer
    * mixture weights per source, compute the LARGEST total T such that
    * no source must be upsampled (T = min over weighted sources of
    * ⌊cₖ·W/wₖ⌋, W = Σwₖ), then keep each source k with probability
    * wₖ·T/(W·cₖ) via the [[weightedSample]] md5-threshold sampler.
    * Sources absent from `weights` (or weighted 0) are dropped. The
    * kept corpus has source proportions ≈ wₖ/W exactly-in-expectation,
    * and no source is sampled above its size.
    *
    * All threshold arithmetic is BigInt truncating division — the
    * DuckDB oracle replays counts → T → thresholds → the md5 keep rule
    * in HUGEINT, bit-for-bit.
    *
    * Scale shape: one groupBy(keyCol).count() whose cardinality is the
    * number of DISTINCT SOURCES (guarded by
    * `spark.graft.mixture.maxKeys`, default 100 000 — mixtures are
    * per-corpus/domain labels, not per-document), then a pure map-side
    * threshold filter: no second shuffle, no global sort, nothing
    * proportional to |corpus| ever reaches the driver.
    */
  def rebalanceMixture(df: DataFrame, keyCol: String,
      weights: Map[String, Long], seed: Long = 0,
      idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0L) &&
      weights.values.sum > 0L, s"weights must be nonnegative, not all zero")
    val maxKeys = df.sparkSession.conf
      .get("spark.graft.mixture.maxKeys", "100000").toInt
    val countRows = df.groupBy(col(keyCol).cast("string").as("_k"))
      .agg(count(lit(1)).as("_n"))
      .limit(maxKeys + 1).collect()
    require(countRows.length <= maxKeys,
      s"$keyCol has > $maxKeys distinct values — not a mixture label " +
        "(raise spark.graft.mixture.maxKeys if intended)")
    val counts: Map[String, Long] =
      countRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val W = weights.values.sum
    val present = weights.filter { case (k, w) =>
      w > 0L && counts.getOrElse(k, 0L) > 0L }
    require(present.nonEmpty,
      "no weighted source present in the data — empty mixture")
    // T in BigInt: counts(k) * W overflows Long for large corpora with
    // token-count-style weights; the oracle does this step in HUGEINT.
    val T = present.map { case (k, w) => BigInt(counts(k)) * W / w }.min
    val full = BigInt(4294967296L)
    val thresholds: Map[String, Long] = present.map { case (k, w) =>
      k -> ((full * w * T) / (BigInt(W) * counts(k))).min(full).toLong
    }
    val bucket = conv(substring(
      md5(concat_ws("#", lit(seed), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val thrCol = thresholds.foldLeft(lit(0L)) { case (acc, (k, t)) =>
      when(col(keyCol) === k, lit(t)).otherwise(acc)
    }
    df.filter(bucket < thrCol)
  }

  /** 64-bit SimHash over word tokens: sign of per-bit weighted sums of
    * token hashes. Near-dups = signatures within small Hamming distance;
    * banded into 16-bit sub-keys for bucket joins (a doc pair within
    * Hamming distance 3 of 64 bits shares at least one of 4 bands).
    */
  def simhash(text: Column): Column = {
    val tokens = split(lower(text), "\\s+")
    val bits = (0 until 64).map { b =>
      val contrib = aggregate(tokens,
        lit(0L), (acc, t) => acc +
          when(shiftright(xxhash64(t), b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(contrib > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash near-duplicate candidates: equal 16-bit bands. Degenerate
    * bands (e.g. all-zero signatures of empty docs) are capped at
    * `maxBucket` rows via [[capBuckets]].
    */
  def simhashCandidates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxBucket: Int = 5000): DataFrame = {
    val simUdf = udf((text: String) => graft.functions.Hashing.simhash(text))
    val sigs = docs.select(col(idCol).as("id"), simUdf(col(textCol)).as("sig"))
    val banded = capBuckets(
      sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("bucket"))
        }: _*)).as("bk"))
        .select(col("id"), col("sig"), col("bk.band"), col("bk.bucket")),
      maxBucket, "band", "bucket") // capBuckets materializes the signature table once
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .select("id_a", "id_b", "hamming")
  }

  /** End-to-end entity resolution: fuzzy-link records within blocks
    * ([[blockedLinkPairs]]), close the match graph into entities
    * ([[clusterPairs]] min-label components), and append `entity_id`
    * to every input row (unmatched records are their own entity). The
    * caller aggregates the golden record per entity (canonical name,
    * merged balances, …) — that part is domain shape, not engine
    * shape. Transitivity is the point: A~B and B~C merge all three
    * even when A and C differ by 2·maxDist.
    *
    * Scale shape: the quadratic comparison runs only inside blocks
    * (capped at `maxBlock`), the component solve sees only the MATCH
    * graph (≪ corpus; driver union-find while it fits [[Gates]], else
    * the distributed pointer-doubling loop), and the label table joins
    * back on the id key once.
    */
  def resolveEntities(df: DataFrame, idCol: String, keyCol: String,
      blockCol: String, maxDist: Int = 1,
      maxBlock: Int = 10000): DataFrame = {
    val pairs = blockedLinkPairs(df, idCol, keyCol, blockCol, maxDist, maxBlock)
    // internal names: the caller's idCol may itself be "id"/"cluster_id"
    val labels = clusterPairs(pairs.select("id_a", "id_b"))
      .select(col("id").as("_er_id"), col("cluster_id").as("_er_cid"))
    df.join(labels, df(idCol) === col("_er_id"), "left")
      .withColumn("entity_id", coalesce(col("_er_cid"), df(idCol)))
      .drop("_er_id", "_er_cid")
  }

  /** Fuzzy (near-duplicate) decontamination: flag training documents
    * whose MinHash-estimated Jaccard against ANY benchmark document
    * reaches `threshold` — the published LM-eval hygiene pass that
    * exact n-gram overlap ([[decontaminate]]) misses when the
    * contamination is a lightly-edited copy rather than a verbatim one.
    * Output: one row per `docs` row — (idCol, n_bench_matches,
    * max_est_jaccard, contaminated) — so the caller either drops
    * flagged docs or reports leakage per split.
    *
    * Scale shape: the benchmark is the SMALL side (eval suites are
    * thousands of docs, the corpus is billions) — its exploded
    * signature index shuffles on (band, bucket) keys and broadcasts
    * under AQE; the corpus side streams through one signature pass +
    * one band join + one per-doc aggregation. est_jaccard =
    * agreement/numHashes is an exact dyadic rational — identical on
    * any engine, which is what lets the DuckDB oracle replay the whole
    * walk (q208).
    */
  def fuzzyDecontaminate(docs: DataFrame, benchmark: DataFrame,
      numHashes: Int = 32, rowsPerBand: Int = 4, k: Int = 5,
      threshold: Double = 0.3, idCol: String = "doc_id",
      textCol: String = "text", maxBucket: Int = 5000): DataFrame = {
    val bench = minhashIndex(benchmark, numHashes, rowsPerBand, k,
      idCol, textCol, maxBucket)
    val hits = minhashCandidatesAgainst(bench, docs, numHashes,
        rowsPerBand, k, threshold, idCol, textCol, maxBucket)
      .groupBy(col("incoming_id").as("_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        max("est_jaccard").as("max_est_jaccard"))
    docs.select(col(idCol).cast("long").as(idCol))
      .join(hits, col(idCol) === col("_id"), "left")
      .na.fill(0L, Seq("n_bench_matches"))
      .na.fill(0.0, Seq("max_est_jaccard"))
      .withColumn("contaminated", col("n_bench_matches") > 0)
      .select(idCol, "n_bench_matches", "max_est_jaccard", "contaminated")
  }

  /** EXACT all-pairs set-CONTAINMENT join: directed pairs (a, b), a ≠ b,
    * where C(a→b) = |Sₐ ∩ S_b| / |Sₐ| ≥ `tau` over distinct 12-char
    * shingle digests — "a is (nearly) a subset of b". The asymmetric
    * complement to [[setSimJoin]]'s Jaccard: a short doc quoted whole
    * inside a long one scores containment ≈ 1 while its Jaccard stays
    * tiny, so this is the operator that catches quote/excerpt/superset
    * duplication.
    *
    * Prefix filter (recall = 1): with every doc's digests sorted by
    * global rarity, a true pair must share one of a's p = |Sₐ| −
    * ⌈τ·|Sₐ|⌉ + 1 rarest digests — if all p are absent from b, the
    * intersection is < ⌈τ·|Sₐ|⌉. Only a's prefix joins; b indexes ALL
    * its tokens (any b token can witness), so the join is
    * prefix(A) ⋈ full(B) — still never O(n²), and the hot-token risk
    * is bounded because prefixes hold each doc's RAREST digests. The
    * first shared token in the shared global order also bounds the
    * intersection by 1 + min(remaining-a, remaining-b) — the PPJoin
    * positional filter, valid per witness with candidates kept when any
    * witness passes. Survivors verify with the native sorted-merge
    * intersect on the digest arrays carried from the map side.
    */
  def containmentJoin(docs: DataFrame, tau: Double,
      idCol: String = "doc_id"): DataFrame = {
    val dig = graft.plans.GraftExtensions.shingleDigestsNative(
      lower(col("text")), 12)
    val base = materialize(spread(docs).select(col(idCol).as("id"),
        sort_array(array_distinct(dig)).as("toks"))
      .withColumn("s", size(col("toks"))))
    val toks = base.select(col("id"), col("s"), explode(col("toks")).as("hk"))
    val dfreq = toks.groupBy("hk").agg(count(lit(1)).as("df"))
    val wRare = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("df", "hk")
    // materialized ONCE: both the prefix and the full index read this
    // table, and at 30× the planner's guessed stats on the unmateria-
    // lized join tried to BROADCAST a multi-million-row side (driver
    // OOM). Checkpointed sizes are real sizes — the joins below plan
    // as shuffle joins on the token key, which is the scale shape.
    // shuffle_hash (r18, was merge): same no-broadcast guarantee, no
    // sort of the exploded token table by hk; the build side is the
    // (hk, df) vocabulary slice per partition — 16 B rows, skew-free
    // by construction (distinct digests), bounded by the shuffle
    // partitioning that scales with the cluster. Measured 0.30→0.27 s
    // warm / 1.15→0.51 s cold on the sf0.1 profile.
    val ranked = materialize(toks.join(dfreq.hint("shuffle_hash"), "hk")
      .withColumn("_rn", row_number().over(wRare)))
    val prefix = ranked
      .withColumn("p",
        col("s") - ceil(lit(tau) * col("s") - lit(1e-9)).cast("int") + lit(1))
      .filter(col("_rn") <= col("p"))
      .select(col("id").as("id_a"), col("s").as("s_a"),
        (col("_rn") - 1).as("_pa"), col("hk"))
    val full = ranked.select(col("id").as("id_b"), col("s").as("s_b"),
      (col("_rn") - 1).as("_pb"), col("hk"))
    // merge (sort-merge) hints: on a clone-saturated corpus the identical
    // digest arrays compress ~clones× in shuffle stats, so AQE's size
    // estimate undershoots by that factor and elects a broadcast that
    // then explodes at build time (observed: driver OOM at 30×). These
    // sides are never broadcast-safe at scale — pin the join strategy.
    val cand = prefix.join(full.hint("merge"), "hk")
      .filter(col("id_a") =!= col("id_b"))
      // |A∩B| ≤ |B|, so τ·|A| > |B| can never qualify
      .filter(col("s_b") >= lit(tau) * col("s_a") - lit(1e-9))
      .filter((lit(1) + least(col("s_a") - col("_pa") - 1,
          col("s_b") - col("_pb") - 1)) >= lit(tau) * col("s_a") - lit(1e-9))
      .select("id_a", "id_b")
      .distinct()
    // verify joins as shuffle_hash with the PAIR side building (r18,
    // was merge on the base side): still never a broadcast (the 30×
    // OOM class stays closed), but the id-keyed sorts of the array-
    // carrying base table are gone and the per-partition build is the
    // 16 B/row candidate slice — proportional to the join OUTPUT, not
    // the corpus. Measured 1.27→0.61 s warm on the sf0.1 profile.
    cand
      .hint("shuffle_hash")
      .join(base.select(col("id").as("id_a"), col("toks").as("_ta"),
        col("s").as("s_a")), "id_a")
      .hint("shuffle_hash")
      .join(base.select(col("id").as("id_b"), col("toks").as("_tb")),
        "id_b")
      .withColumn("inter", graft.plans.GraftExtensions
        .sortedIntersectNative(col("_ta"), col("_tb")))
      .withColumn("containment", col("inter").cast("double") / col("s_a"))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
        col("containment"))
  }

  /** MinHash-LSH parameter planner: the S-curve a banding scheme
    * applies to true Jaccard — P(candidate | J=j) = 1 − (1 − j^r)^b —
    * evaluated EXACTLY in Q6 fixed point (each power step one
    * truncating ⌊acc·base/10⁶⌋, so both engines walk identical
    * integers) over the (bands, rows) grid with b·r ≤ `maxHashes` and
    * j on a 0.1 Jaccard lattice. This is the table a 100 TB dedup run
    * consults BEFORE signing the corpus: pick (b, r) whose curve is
    * steep at the target threshold, trade b·r signature cost against
    * miss rate at j = τ and collision rate at low j.
    *
    * Scale shape: ≤ |bands|·|rows|·9 rows total, generated and folded
    * map-side (the power fold is a codegen'd higher-order aggregate
    * over `sequence` — no loop on the driver, no shuffle at all).
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession,
      bandsOpts: Seq[Int] = Seq(1, 2, 4, 8, 16),
      rowsOpts: Seq[Int] = Seq(2, 4, 8),
      maxHashes: Int = 64): DataFrame = {
    import spark.implicits._
    require(bandsOpts.forall(_ >= 1) && rowsOpts.forall(_ >= 1),
      "lshPlan needs positive band/row counts")
    val grid = for {
      b <- bandsOpts; r <- rowsOpts if b * r <= maxHashes
      j <- 1 to 9
    } yield (b.toLong, r.toLong, (b * r).toLong, j * 100000L)
    grid.toDF("n_bands", "n_rows", "n_hashes", "j_q6")
      .withColumn("p_band_q6", expr(
        "CASE WHEN n_rows = 1 THEN j_q6 ELSE aggregate(" +
          "sequence(2L, n_rows), j_q6," +
          " (acc, x) -> (acc * j_q6) DIV 1000000) END"))
      .withColumn("p_detect_q6", expr(
        "CASE WHEN n_bands = 1 THEN p_band_q6 ELSE 1000000 - aggregate(" +
          "sequence(2L, n_bands), 1000000 - p_band_q6," +
          " (acc, x) -> (acc * (1000000 - p_band_q6)) DIV 1000000) END"))
  }

  /** Per-digest multiplicity cells behind [[dupInflationFromCells]] —
    * exposed separately (the calibrationCells discipline) so the
    * streaming engine can build the same cells through the state store
    * and share the batch readout + oracle. One row per distinct
    * content digest: (digest, n). The [[exact]] md5 convention: the
    * shuffle key is the 32-hex digest, never the body.
    */
  def digestCells(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(md5(col(textCol)).as("digest"))
      .groupBy("digest").agg(count(lit(1)).as("n"))

  /** Duplicate-inflation histogram over [[digestCells]] output: one
    * row per cluster size — (cluster_size, n_clusters, n_docs,
    * pct_docs_q6) — the "how duplicated is this corpus, and in what
    * shape" readout a curator reads BEFORE choosing a dedup strategy
    * (a fat head of size-2 clusters wants exact dedup; a few
    * giant clusters want boilerplate removal; the r11 100×-sweep
    * lesson — q178's Θ(clones²) blow-up — is literally a row of this
    * table). Exact integers; the share is one widened Q6 floor
    * division.
    *
    * Scale shape: cells are digest-keyed partial-agg output; the
    * histogram groupBy collapses to ≤|distinct sizes| rows and the
    * total joins back as a broadcast 1-row aggregate.
    */
  def dupInflationFromCells(cells: DataFrame): DataFrame = {
    val hist = cells.groupBy(col("n").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val tot = hist.agg(coalesce(sum("n_docs"), lit(0L)).as("_t"))
    hist.crossJoin(tot)
      .withColumn("pct_docs_q6", when(col("_t") =!= 0, expr(
        "CAST((CAST(n_docs AS DECIMAL(38,0)) * 1000000) DIV _t" +
          " AS BIGINT)")))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("pct_docs_q6"))
  }

  /** Batch composition: [[digestCells]] → [[dupInflationFromCells]]. */
  def dupInflation(docs: DataFrame, textCol: String = "text"): DataFrame =
    dupInflationFromCells(digestCells(docs, textCol))

  /** Per-domain duplication report: for each source, total docs,
    * distinct contents, redundant docs (n − distinct) and the exact Q6
    * dup rate — WHERE the duplication lives, the domain-resolved
    * companion to [[dupInflation]]'s corpus-wide shape (a crawler that
    * re-fetched one site 50× shows up here, not there) and the number
    * that prices per-source dedup before a mixture plan ([[graft
    * .operators.Sampling.domainMixturePlan]]) trusts per-domain token
    * counts.
    *
    * Scale shape: one (domain, digest) partial-agg'd groupBy (shuffle
    * key = domain + 32-hex digest, never the body), one |domains|-row
    * collapse. Output ≤ |domains| rows.
    */
  def domainDupReport(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.select(col(domainCol).as("source"), md5(col(textCol)).as("_d"))
      .groupBy("source", "_d").agg(count(lit(1)).as("_n"))
      .groupBy("source").agg(
        sum("_n").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(col("_n") - 1).as("n_redundant"))
      .withColumn("dup_rate_q6", when(col("n_docs") =!= 0, expr(
        "CAST((CAST(n_redundant AS DECIMAL(38,0)) * 1000000) DIV n_docs" +
          " AS BIGINT)")))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        col("n_redundant"), col("dup_rate_q6"))

  /** Cross-domain exact-duplicate matrix — which domain PAIRS share
    * identical documents (mirror sites, syndicated feeds, the same
    * dump ingested twice under two names): for every unordered pair,
    * the count of md5 digests present in BOTH and its Q6 share of the
    * SMALLER side's distinct set (containment, not Jaccard — a small
    * mirror fully inside a big crawl should read 10⁶, not get diluted
    * by the big side's size). The digest-level companion to
    * [[domainDupReport]] (within-domain) and q282/q297's vocabulary
    * views; the pairs this table lights up are where a cross-domain
    * dedup pass (q56 across sources) recovers the most tokens.
    *
    * Scale shape: one corpus pass collapses to the distinct
    * (domain, digest) table; the self-join is digest-keyed
    * (≤|domains|² pair rows per digest — never doc pairs, the q282
    * shape); the matrix completes from the broadcast |domains|-row
    * size table. Output ≤ C(|domains|, 2).
    */
  def crossDomainDups(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val dd = materialize(docs
      .select(col(domainCol).as("_g"), md5(col(textCol)).as("_d"))
      .distinct())
    val sizes = dd.groupBy("_g").agg(count(lit(1)).as("_n"))
    val inter = dd
      .join(dd.select(col("_g").as("_g2"), col("_d")), Seq("_d"))
      .filter(col("_g") < col("_g2"))
      .groupBy("_g", "_g2").agg(count(lit(1)).as("_i"))
    broadcast(sizes)
      .join(broadcast(sizes.select(col("_g").as("_g2"),
        col("_n").as("_n2"))), col("_g") < col("_g2"))
      .join(inter, Seq("_g", "_g2"), "left")
      .na.fill(0L, Seq("_i"))
      .withColumn("containment_q6", expr(
        "CAST((CAST(_i AS DECIMAL(38,0)) * 1000000)" +
          " DIV least(_n, _n2) AS BIGINT)"))
      .select(col("_g").as("domain_a"), col("_g2").as("domain_b"),
        col("_i").as("n_shared"), col("_n").as("n_distinct_a"),
        col("_n2").as("n_distinct_b"), col("containment_q6"))
  }

  /** Per-domain duplicate-substring exposure — the EXACT-SUBSTRING
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): of each domain's per-doc DISTINCT
    * character-12-gram shingles, the Q6 share whose shingle also
    * occurs in at least one OTHER document (any domain).
    * [[domainDupReport]] sees whole-document copies;
    * this sees the partial overlap those miss — boilerplate headers,
    * quoted passages, templated spans — and tells the curator WHERE a
    * substring-level dedup pass (q93's spans) would bite. One row per
    * domain: (source, n_shingle_slots, n_dup_slots, dup_share_q6).
    *
    * Shingles are the q178/q209 convention (xxhash64 digests of
    * lower-cased char 12-grams, distinct per doc; digest↔string
    * equivalence is q178's gate). "slots" counts each (doc, distinct
    * shingle) once, so a shingle repeated across k docs contributes k
    * dup slots — occurrence-weighted, matching how much text a span
    * dedup would actually touch.
    *
    * Scale shape: one corpus pass explodes to (doc, digest) slots and
    * collapses them in the SAME partial-agg'd shuffle to the
    * (digest, domain, k) cell table (token-scale rows, the TF-IDF
    * shuffle class — flows through, never stored: checkpointing an
    * intermediate 10× the corpus is exactly wrong at 100 TB, the r14
    * 100×-sweep lesson); per-digest doc counts come from a window
    * PARTITIONED by digest over the collapsed cells (no global
    * window, no join back); the readout is a ≤|domains|-row
    * aggregate. No pair join anywhere — this is the linear-cost
    * screen you run BEFORE deciding to pay for q178/q209's
    * pair-level passes.
    */
  def dupNgramShare(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text", shingleK: Int = 12): DataFrame = {
    val cells = docs
      .select(col(domainCol).as("source"),
        explode(array_distinct(graft.plans.GraftExtensions
          .shingleDigestsNative(lower(col(textCol)), shingleK)))
          .as("_h"))
      .groupBy("_h", "source").agg(count(lit(1)).as("_k"))
    // docs containing the digest, across ALL domains: a digest-keyed
    // window over the collapsed cells (≤|domains| rows per digest)
    val wD = org.apache.spark.sql.expressions.Window.partitionBy("_h")
    cells.withColumn("_nd", sum("_k").over(wD))
      .groupBy("source")
      .agg(sum("_k").as("n_shingle_slots"),
        sum(when(col("_nd") > 1, col("_k")).otherwise(0L))
          .as("n_dup_slots"))
      .withColumn("dup_share_q6", when(col("n_shingle_slots") =!= 0,
        expr("CAST((CAST(n_dup_slots AS DECIMAL(38,0)) * 1000000)" +
          " DIV n_shingle_slots AS BIGINT)")))
      .select(col("source"), col("n_shingle_slots"), col("n_dup_slots"),
        col("dup_share_q6"))
  }
}
