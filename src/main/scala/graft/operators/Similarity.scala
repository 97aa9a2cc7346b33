package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`embedding: array<float>`) — the driver contract's similarity
  * operators (BASELINE.json north_star).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k, broadcast queries × corpus —
  *    the correctness baseline. Scales linearly in corpus size with NO
  *    shuffle of the corpus (queries are the broadcast side); per-partition
  *    top-k then a tiny final reduce.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus bucketed by sign
  *    pattern, candidates = same-bucket rows, exact re-rank inside
  *    buckets. The 100 TB path: the big table is hashed map-side and
  *    joined on short keys.
  */
// Serializable: the ANN UDF closures reference module-level helpers
// (dist2At, the encoders), so the module instance rides along in the
// serialized task closure.
object Similarity extends Serializable {

  /** Cosine similarity of two equal-length float-array columns, computed
    * with codegen'd higher-order functions (no UDF).
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** Hot-path cosine: the codegen'd native Catalyst expression
    * ([[graft.plans.CosineSimilarity]]) — fused dot+norms loop inside
    * whole-stage codegen, no UDF boxing, no session registration needed.
    * Computes bit-identically to `Hashing.cosine` (same accumulation
    * order), so the JVM and expression paths agree exactly.
    */
  private def cosineNative(a: Column, b: Column): Column =
    graft.plans.GraftExtensions.cosineNative(a, b)

  /** Exact top-k cosine neighbors for each query id. `queries` is expected
    * to be small (it is broadcast); the corpus is scanned once.
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    *
    * Scale shape: each corpus partition keeps one bounded heap per query
    * and emits ≤ |queries|×k rows — the scored (query × corpus) pair set
    * is never shuffled. The union of per-partition top-k is a superset of
    * the global top-k, so the final window over ≤ |queries|×k×partitions
    * rows is exact (tie-break: cosine desc, then neighbor_id).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q: Array[(Long, Array[Float])] = queries
      .select(col(idCol).cast("long"), col(vecCol))
      .filter(col(vecCol).isNotNull) // null embeddings join nothing
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qB = spark.sparkContext.broadcast(q)
    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val qs = qB.value
        // worst-first ordering under (cosine desc, neighbor_id asc): the
        // heap head is the candidate the next better row evicts
        val ord = new java.util.Comparator[(Double, Long)] {
          def compare(x: (Double, Long), y: (Double, Long)): Int = {
            val c = java.lang.Double.compare(x._1, y._1)
            if (c != 0) c else java.lang.Long.compare(y._2, x._2)
          }
        }
        val heaps = Array.fill(qs.length)(
          new java.util.PriorityQueue[(Double, Long)](k + 1, ord))
        rows.foreach { case (nid, vec) =>
          var i = 0
          while (i < qs.length) {
            if (qs(i)._1 != nid) {
              val c = graft.functions.Hashing.cosine(qs(i)._2, vec)
              val h = heaps(i)
              if (h.size < k) h.offer((c, nid))
              else if (ord.compare((c, nid), h.peek()) > 0) { h.poll(); h.offer((c, nid)) }
            }
            i += 1
          }
        }
        import scala.jdk.CollectionConverters._
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.iterator().asScala.map { case (c, nid) => (qs(i)._1, nid, c) }
        }
      }
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    partial.toDF("query_id", "neighbor_id", "cosine")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** LSH-bucketed ANN: candidates share a hyperplane sign bucket in at
    * least one of `tables` independent hash tables; exact cosine re-rank
    * within candidates. Recall grows with tables; cost stays ~linear.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 12, tables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 5000): DataFrame = {
    val bucketUdf = udf((vec: Seq[Float], t: Int) =>
      graft.functions.Hashing.hyperplaneBucket(vec.toArray, nPlanes, seed = 42 + t))
    def keyed(df: DataFrame, id: String, vec: String): DataFrame =
      df.filter(col(vecCol).isNotNull) // null vectors hash nowhere
        .select(col(idCol).as(id), col(vecCol).as(vec),
          explode(sequence(lit(0), lit(tables - 1))).as("table"))
        .withColumn("bucket", bucketUdf(col(vec), col("table")))
    // Same skew guard as the near-dup paths: a degenerate hyperplane
    // bucket (boilerplate / near-zero vectors) would make the
    // corpus×query bucket join O(|bucket_c|×|bucket_q|).
    val c = Dedup.capBuckets(keyed(corpus, "neighbor_id", "cvec"),
      maxBucket, "table", "bucket")
    val q = keyed(queries, "query_id", "qvec")
    val cands = c.join(q, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosineNative(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Spherical k-means coarse quantizer for IVF: Lloyd's iterations with
    * the corpus staying distributed — per iteration one broadcast of the
    * (tiny) centroid set, one map-side assignment, one groupBy-average.
    * Deterministic: seeds are the k hash-smallest corpus vectors.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Float]] = {
    import org.apache.spark.sql.functions.{udf => mkUdf}
    var centroids: Array[Array[Float]] = corpus
      .select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull) // a null seed would NPE every round
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    var it = 0
    while (it < iters) {
      val cs = centroids // stable closure for this round
      val assignU = mkUdf((v: Seq[Float]) => {
        val a = v.toArray
        var best = 0; var bestSim = Double.MinValue
        var i = 0
        while (i < cs.length) {
          val s = graft.functions.Hashing.cosine(a, cs(i))
          if (s > bestSim) { bestSim = s; best = i }
          i += 1
        }
        best
      })
      val means = corpus
        .select(assignU(col(vecCol)).as("cell"),
          posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(avg("v").as("m"))
        .collect()
      val dim = centroids.head.length
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) = r.getAs[Double]("m").toFloat
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** IVF ANN: corpus assigned to k-means cells once (map-side, broadcast
    * centroids); each query probes its `nProbe` nearest cells and exact
    * cosine re-ranks only those candidates. The 100 TB path alternative
    * to [[lshTopK]]: cost ≈ corpus-scan + |corpus|·nProbe/k comparisons,
    * recall tunable via nProbe.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.functions.{udf => mkUdf}
    val cs = kmeansCentroids(corpus, nCells, kmeansIters, idCol, vecCol)
    val assignU = mkUdf((v: Seq[Float]) => {
      val a = v.toArray
      var best = 0; var bestSim = Double.MinValue
      var i = 0
      while (i < cs.length) {
        val s = graft.functions.Hashing.cosine(a, cs(i))
        if (s > bestSim) { bestSim = s; best = i }
        i += 1
      }
      best
    })
    val probeU = mkUdf((v: Seq[Float]) => {
      val a = v.toArray
      cs.indices.map(i => (graft.functions.Hashing.cosine(a, cs(i)), i))
        .sortBy(-_._1).take(nProbe).map(_._2)
    })
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .withColumn("cell", assignU(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("cell", explode(probeU(col("qvec"))))
    val cands = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosineNative(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Integer-exact IVF ANN — the oracle-gated variant of [[ivfTopK]].
    *
    * Same plan shape as the float path (tiny broadcast centroid set,
    * map-side cell assignment, nProbe probing, in-cell exact re-rank), but
    * every engine-visible comparison is exact integer / single-rounding
    * IEEE math, so an independent engine (the DuckDB oracle,
    * [[graft.Oracles.q57KnnIvf]]) reproduces the result bit-for-bit:
    *
    *  - vectors are symmetric-int8 quantized first
    *    ([[graft.operators.Embeddings.withInt8Quantized]] — rounding
    *    proven engine-identical by q81);
    *  - cell seeds are the `nCells` splitmix64-smallest corpus ids (pure
    *    integer hash, no RNG state);
    *  - Lloyd's rounds assign by integer squared-L2 distance (tie →
    *    lowest cell index) and update centroids with truncating integer
    *    division (Scala `Long./` ≡ DuckDB `//` on BIGINT), so the final
    *    cell layout is exactly reproducible; cells that lose all members
    *    keep their previous centroid;
    *  - the re-rank is cosine over the integer vectors: dot and norms are
    *    exact integer sums (≤ 2^41 — exactly representable in double),
    *    leaving one IEEE sqrt + divide, identical on any engine.
    *
    * Scale shape is unchanged from [[ivfTopK]]: per Lloyd round one
    * broadcast of nCells×dim longs, one map-side assignment, one
    * nCells×dim-row aggregate; the corpus never shuffles and the
    * candidate set is ≈ |corpus|·nProbe/nCells per query. Requires
    * |corpus| ≥ nCells.
    */
  // ---- shared machinery of the integer-exact ANN variants (IVF / PQ /
  // IVF-PQ): int8-quantized table, splitmix64 seed selection, integer
  // Lloyd training (whole-vector and per-subvector), argmin encoders.
  // All integer / truncating-division math — the property that lets the
  // DuckDB oracles replay training and scoring bit-for-bit.

  /** (id, qv: array<int>) projection with q81-proven int8 quantization. */
  private def quantIds(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    // null vectors cannot participate in any distance — drop here so
    // every int8 path (IVF/PQ/refine) is null-safe at the funnel
    Embeddings.withInt8Quantized(df.filter(col(vecCol).isNotNull),
        vecCol, qCol = "qv", scaleCol = "_qs")
      .select(col(idCol).cast("long").as("id"), col("qv"))

  /** Integer squared-L2 of v[off..off+|c|) vs c. */
  @inline private def dist2At(v: Seq[Int], off: Int, c: Array[Long]): Long = {
    var d = 0L; var j = 0
    while (j < c.length) { val t = v(off + j) - c(j); d += t * t; j += 1 }
    d
  }

  /** The n hash-smallest vectors of (id, qv) — signed splitmix64 of id,
    * tie by id; seed index = rank in that order.
    */
  private def hashSeedVecs(qc: DataFrame, n: Int): Array[Array[Int]] = {
    val smxU = udf((id: Long) => graft.functions.Hashing.splitmix64(id))
    val seeds = qc.withColumn("_h", smxU(col("id")))
      .orderBy(col("_h"), col("id"))
      .limit(n)
      .collect()
      .map(_.getSeq[Int](1).toArray)
    require(seeds.length == n,
      s"corpus has only ${seeds.length} vectors, need ≥ $n for the codebook seeds")
    seeds
  }

  /** Whole-vector argmin-cell UDF: (d², cell) ascending. */
  private def cellAssigner(cs: Array[Array[Long]]) = udf((v: Seq[Int]) => {
    var best = 0; var bestD = Long.MaxValue
    var i = 0
    while (i < cs.length) {
      val d = dist2At(v, 0, cs(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  })

  /** Integer Lloyd rounds over whole vectors of `qc`(id, qv): assignment
    * by (d², cell), centroid update by truncating division, empty cells
    * keep their previous centroid. One broadcast + one map-side
    * assignment + one nCells×dim aggregate per round.
    */
  private def trainCellCentroids(qc: DataFrame, seeds: Array[Array[Int]],
      iters: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = seeds.map(_.map(_.toLong))
    var it = 0
    while (it < iters) {
      val sums = qc.withColumn("cell", cellAssigner(cents)(col("qv")))
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(col("v").cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) =
          r.getAs[Long]("s") / r.getAs[Long]("n")
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Per-subvector argmin-code UDF over (sub)(cell)(j) codebooks. */
  private def subEncoder(cs: Array[Array[Array[Long]]], m: Int, ds: Int) =
    udf((v: Seq[Int]) =>
      Array.tabulate(m) { s =>
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < cs(s).length) {
          val d = dist2At(v, s * ds, cs(s)(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      })

  /** Integer Lloyd rounds per subvector over `qc`(id, qv): the PQ
    * codebook trainer. Same exactness discipline as
    * [[trainCellCentroids]]; returns (sub)(cell)(j) codebooks.
    */
  private def trainSubCentroids(qc: DataFrame, seeds: Array[Array[Int]],
      m: Int, iters: Int): Array[Array[Array[Long]]] = {
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subvectors")
    val ds = dim / m
    var cents: Array[Array[Array[Long]]] =
      Array.tabulate(m)(s => seeds.map(v =>
        v.slice(s * ds, (s + 1) * ds).map(_.toLong)))
    var it = 0
    while (it < iters) {
      val sums = qc.withColumn("codes", subEncoder(cents, m, ds)(col("qv")))
        .select(posexplode(col("qv")).as(Seq("pos", "v")), col("codes"))
        .withColumn("sub", expr(s"pos DIV $ds"))
        .withColumn("cell", element_at(col("codes"), col("sub").cast("int") + 1))
        .groupBy("sub", "cell", "pos")
        .agg(sum(col("v").cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      sums.foreach { r =>
        val sub = r.getAs[Long]("sub").toInt
        val pos = r.getAs[Int]("pos")
        next(sub)(r.getAs[Int]("cell"))(pos - sub * ds) =
          r.getAs[Long]("s") / r.getAs[Long]("n")
      }
      cents = next
      it += 1
    }
    cents
  }

  def ivfTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cents, assigned) = ivfIndexInt8(corpus, nCells, iters, idCol, vecCol)
    ivfTopKInt8Against(cents, assigned, queries, k, nProbe, idCol, vecCol)
  }

  /** Build the PERSISTABLE IVF index — the ANN counterpart of
    * `Dedup.exactIndex`/`minhashIndex`: returns (centroids, assigned)
    * where centroids is the tiny trained table (cell, centroid:
    * Array[Long] — nCells rows) and assigned is the cell-coded corpus
    * (neighbor_id, nv int8 vector, cell, nb norm). Write both as
    * parquet, then serve every later query batch with
    * [[ivfTopKInt8Against]] instead of retraining — the
    * build-once/query-many shape a production embedding store runs.
    * Identical math to the inline path ([[ivfTopKInt8]] IS build +
    * search-against), so the q57 oracle gates both.
    */
  def ivfIndexInt8(corpus: DataFrame, nCells: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    // The quantized corpus feeds seed ranking, every Lloyd round, and the
    // final cell assignment — materialize it once (lazy local checkpoint,
    // the Ranking/Packing idiom) instead of re-reading + re-quantizing
    // the source per pass. Freed via Dedup.withPipeline or plan GC.
    val qc = Dedup.materialize(quantIds(corpus, idCol, vecCol))
    val cs = trainCellCentroids(qc, hashSeedVecs(qc, nCells), iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = cs.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
    val assigned = qc.select(col("id").as("neighbor_id"), col("qv").as("nv"))
      .withColumn("cell", cellAssigner(cs)(col("nv")))
      .withColumn("nb", n2Col(col("nv")))
    (cents, assigned)
  }

  /** Search a prebuilt IVF index ([[ivfIndexInt8]], typically read back
    * from parquet): probe the nProbe nearest cells per query (centroids
    * collect — nCells rows, bounded), then the same within-cell
    * integer-cosine scoring as the inline path. The corpus codes are
    * joined by cell and never shuffled; queries broadcast.
    */
  def ivfTopKInt8Against(centroids: DataFrame, assigned: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cands = ivfScoreCands(assigned,
      ivfProbes(centroids, queries, nProbe, idCol, vecCol))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cell", "dot", "rank")
  }

  /** Probe-ranked (query, cell) table: one row per query × probed
    * cell, `_prn` the 0-based probe rank under (d² to centroid, cell)
    * ascending. Rank-ordered, so the nProbe=p probe set is exactly
    * `_prn < p` of a maxProbe ≥ p build — the property
    * [[ivfProbePlan]]'s per-probe ≡ served-path claim rides on. ONE
    * build site shared with [[ivfTopKInt8Against]] (r16: replaces the
    * r15 KEEP-IN-SYNC twin copies — probe ordering, tie-breaks and
    * the norm carry can no longer drift apart; OperatorsSpec keeps
    * the end-to-end equivalence pin at nProbe=4).
    */
  private def ivfProbes(centroids: DataFrame, queries: DataFrame,
      maxProbe: Int, idCol: String, vecCol: String): DataFrame = {
    val cs: Array[Array[Long]] = centroids.orderBy("cell").collect()
      .map(_.getSeq[Long](1).toArray)
    import org.apache.spark.sql.functions.{udf => mkUdf}
    val probeU = mkUdf((v: Seq[Int]) =>
      cs.indices.map(i => (dist2At(v, 0, cs(i)), i)).sorted
        .take(maxProbe).map(_._2))
    // norms once per query vector, carried through the join — never
    // recomputed per candidate pair
    quantIds(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("qv").as("qvq"))
      .withColumn("na", n2Col(col("qvq")))
      .select(col("query_id"), col("qvq"), col("na"),
        posexplode(probeU(col("qvq"))))
      .withColumnRenamed("pos", "_prn") // 0-based probe rank
      .withColumnRenamed("col", "cell")
  }

  /** Integer-cosine scoring of an [[ivfProbes]] table against the
    * cell-coded corpus: probes broadcast, corpus codes joined by cell
    * and never shuffled. The OTHER half of the shared candidate build
    * (see [[ivfProbes]]); zero-norm rows score 0.0 by the same guard
    * on both the served and planner paths.
    */
  private def ivfScoreCands(assigned: DataFrame, probes: DataFrame): DataFrame =
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // fused codegen'd loop (plans.IntDotProduct) — bit-identical to the
      // zip_with fold, no per-pair products array
      .withColumn("dot",
        graft.plans.GraftExtensions.dotIntNative(col("qvq"), col("nv")))
      .withColumn("cosine",
        when(col("na") === 0L || col("nb") === 0L, lit(0.0))
          .otherwise(col("dot").cast("double") /
            sqrt((col("na") * col("nb")).cast("double"))))

  private def n2Col(cc: Column): Column =
    aggregate(cc, lit(0L), (a, v) => a + v.cast("long") * v.cast("long"))

  /** Persist an [[ivfIndexInt8]] pair as the two-parquet sidecar a
    * production embedding store ships (same deployment shape as
    * `Dedup.saveBloom` / `Bpe.saveMerges`).
    */
  def saveIvfIndex(centroids: DataFrame, assigned: DataFrame, dir: String): Unit = {
    centroids.write.mode("overwrite").parquet(dir + "/centroids")
    assigned.write.mode("overwrite").parquet(dir + "/assigned")
  }

  /** Read an IVF index back; feeds [[ivfTopKInt8Against]]. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(dir + "/centroids"), spark.read.parquet(dir + "/assigned"))

  /** Product-quantization ANN (integer-exact): the memory-compression
    * tier of the ANN ladder (brute → LSH → IVF → PQ). Vectors are split
    * into `m` subvectors, each encoded as the index of its nearest
    * per-subspace centroid — the corpus side shrinks to m small ints per
    * row (~m bytes at ksub ≤ 256; 32× vs float32 at dim 64 / m 8), and
    * query scoring is asymmetric-distance (ADC): one (m × ksub) integer
    * distance table per query, then each candidate costs m table lookups
    * — no vector arithmetic in the scan loop.
    *
    * Scale shape: codebooks are nCells×dim longs trained with the same
    * driver-iterated integer Lloyd rounds as [[ivfTopKInt8]] (one
    * broadcast + one map-side assignment + one tiny aggregate per round);
    * the scan is [[bruteForceTopK]]'s per-partition bounded-heap pattern
    * over the CODES table — the corpus vectors themselves are never
    * scanned, never shuffled. Exactness: int8 quantization (q81-proven),
    * splitmix64-seeded codebooks, integer squared-L2 everywhere — the
    * DuckDB oracle ([[graft.Oracles.q84PqTopK]]) replays encode + ADC
    * bit-for-bit. Approximation error vs exact distance comes only from
    * the PQ encoding itself (recall property-tested vs brute force).
    *
    * Output: (query_id, neighbor_id, adist, rank) — adist the integer ADC
    * distance, rank 1..k by (adist asc, neighbor_id). Requires
    * dim % m == 0 and |corpus| ≥ ksub.
    */
  def pqTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // one materialization feeds seeds + every per-sub Lloyd round + the
    // final coding pass (see ivfTopKInt8)
    val qc = Dedup.materialize(quantIds(corpus, idCol, vecCol))
    pqTopKInt8Quant(qc, queries, k, m, ksub, iters, idCol, vecCol)
  }

  /** [[pqTopKInt8]] over an ALREADY-materialized int8 corpus (id, qv) —
    * the shared-scan entry for [[pqRefineTopK]] and [[pqRefinePlan]],
    * which need the same quantized corpus again for their exact
    * re-score / truth / count passes: the corpus source is then read
    * and quantized ONCE per plan instead of once per pass (2 scans →
    * 1 for q89, 4 → 1 for q319 — the scans that dominate at 100 TB).
    * Identical math by construction (the public entry delegates here),
    * so the q84/q89/q319 oracles gate all callers.
    */
  private def pqTopKInt8Quant(qc: DataFrame, queries: DataFrame, k: Int,
      m: Int, ksub: Int, iters: Int,
      idCol: String, vecCol: String): DataFrame = {
    val spark = qc.sparkSession
    import spark.implicits._

    val seedRows = hashSeedVecs(qc, ksub)
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subvectors")
    val ds = dim / m
    val cs = trainSubCentroids(qc, seedRows, m, iters)

    val coded = qc.select(col("id"), subEncoder(cs, m, ds)(col("qv")).as("codes"))
    // ADC tables: per query, dt(s)(c) = d²(query subvector s, centroid c)
    val qTables: Array[(Long, Array[Array[Long]])] =
      quantIds(queries, idCol, vecCol).collect()
      .map { r =>
        val qv = r.getSeq[Int](1)
        (r.getLong(0), Array.tabulate(m, ksub)((s, c) => dist2At(qv, s * ds, cs(s)(c))))
      }
    val qB = spark.sparkContext.broadcast(qTables)
    val partial = coded.as[(Long, Seq[Int])].mapPartitions { rows =>
      val qs = qB.value
      // worst-first under (adist asc, neighbor_id asc): head is the
      // candidate the next better row evicts — larger dist is worse, and
      // on equal dist the LARGER neighbor_id is worse (ties keep small ids)
      val ord = new java.util.Comparator[(Long, Long)] {
        def compare(x: (Long, Long), y: (Long, Long)): Int = {
          val c = java.lang.Long.compare(y._1, x._1) // larger dist = worse = first
          if (c != 0) c else java.lang.Long.compare(y._2, x._2)
        }
      }
      val heaps = Array.fill(qs.length)(
        new java.util.PriorityQueue[(Long, Long)](k + 1, ord))
      rows.foreach { case (nid, codes) =>
        var i = 0
        while (i < qs.length) {
          if (qs(i)._1 != nid) {
            val dt = qs(i)._2
            var d = 0L; var s = 0
            while (s < m) { d += dt(s)(codes(s)); s += 1 }
            val h = heaps(i)
            if (h.size < k) h.offer((d, nid))
            else if (ord.compare((d, nid), h.peek()) > 0) { h.poll(); h.offer((d, nid)) }
          }
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        h.iterator().asScala.map { case (d, nid) => (qs(i)._1, nid, d) }
      }
    }
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    partial.toDF("query_id", "neighbor_id", "adist")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  /** PQ ANN with an exact refine pass — FAISS's `RFlat` composition:
    * the ADC code scan shortlists `k × refineFactor` candidates per
    * query, then ONLY those candidates are re-scored with the exact
    * integer squared-L2 on the int8-quantized vectors and the true
    * top-k re-ranked out. Refine repairs most of PQ's quantization
    * error at a cost proportional to |queries|·k·refineFactor point
    * lookups — not corpus size.
    *
    * Scale shape: the shortlist (a few thousand (query, neighbor) ids)
    * is BROADCAST back against the corpus, so the refine join is one
    * map-side hash probe per corpus row — no shuffle of vectors, and
    * the full-precision column is touched only for shortlist hits
    * (columnar scan prunes everything else). All-integer like the rest
    * of the ladder, so the q89 oracle replays shortlist + re-rank
    * bit-for-bit.
    */
  def pqRefineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      refineFactor: Int = 4, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(refineFactor >= 1, s"refineFactor $refineFactor must be >= 1")
    val spark = corpus.sparkSession
    // ONE quantized-corpus materialization feeds both the ADC shortlist
    // and the exact re-score join (was two source read+quantize passes)
    val qc = Dedup.materialize(quantIds(corpus, idCol, vecCol))
    val shortlist = pqTopKInt8Quant(qc, queries, k * refineFactor,
        m, ksub, iters, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val qQueries = quantIds(queries, idCol, vecCol).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray)).toMap
    val qB = spark.sparkContext.broadcast(qQueries)
    val exactU = udf { (qid: Long, nv: Seq[Int]) =>
      val qv = qB.value(qid)
      var d = 0L; var i = 0
      while (i < qv.length) { val t = (qv(i) - nv(i)).toLong; d += t * t; i += 1 }
      d
    }
    val w = Window.partitionBy("query_id").orderBy(col("dist2"), col("neighbor_id"))
    qc.withColumnRenamed("id", "neighbor_id")
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .withColumn("dist2", exactU(col("query_id"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dist2", "rank")
  }

  /** IVF-PQ ANN with residual encoding (integer-exact) — the production
    * composition of the ladder, the FAISS `IVFx,PQy` shape: IVF cells
    * prune the search to nProbe/nCells of the corpus, and within cells
    * candidates are scored from PQ codes of their RESIDUAL (vector −
    * cell centroid) — residuals concentrate around zero, so the same
    * codebook budget quantizes them much more accurately than raw
    * vectors. At 100 TB the corpus persists as (cell, m codes) per row:
    * pruning AND ~32× compression, with the scan reading codes only.
    *
    * Exactness discipline is [[ivfTopKInt8]]'s: int8 quantization, both
    * trainings (cell centroids, then per-sub residual codebooks) are
    * integer Lloyd rounds, residuals are integer differences, and ADC
    * tables are integer d² — the DuckDB oracle
    * ([[graft.Oracles.q85IvfPq]]) replays the whole pipeline. Queries
    * probe nProbe cells with a per-(query, cell) residual table.
    *
    * Output: (query_id, neighbor_id, cell, adist, rank), rank by
    * (adist asc, neighbor_id) over candidates in probed cells.
    */
  def ivfPqTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.functions.{udf => mkUdf}
    val spark = corpus.sparkSession
    import spark.implicits._

    val qc = Dedup.materialize(quantIds(corpus, idCol, vecCol))
    val ivfSeeds = hashSeedVecs(qc, math.max(nCells, ksub))
    val dim = ivfSeeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subvectors")
    val ds = dim / m

    // coarse quantizer, then residuals r = v − cent[cell] (still ints)
    val ivfCents = trainCellCentroids(qc, ivfSeeds.take(nCells), iters)
    val resU = mkUdf((v: Seq[Int], cell: Int) => {
      val c = ivfCents(cell)
      Array.tabulate(v.length)(j => (v(j) - c(j)).toInt)
    })
    // residuals feed the PQ seed ranking, every residual Lloyd round, AND
    // the coding pass — second materialization point
    val withRes = Dedup.materialize(
      qc.withColumn("cell", cellAssigner(ivfCents)(col("qv")))
        .withColumn("rv", resU(col("qv"), col("cell"))))
    // PQ codebooks on residuals; seeds = residuals of the ksub
    // hash-smallest ids (their own cells' residuals)
    val resTable = withRes.select(col("id"), col("rv").as("qv"))
    val pqSeeds = hashSeedVecs(resTable, ksub)
    val pqCents = trainSubCentroids(resTable, pqSeeds, m, iters)

    val coded = withRes.select(col("id"), col("cell"),
      subEncoder(pqCents, m, ds)(col("rv")).as("codes"))

    // per-query probes + per-(query, probed-cell) residual ADC tables
    val qRows: Array[(Long, Map[Int, Array[Array[Long]]])] =
      quantIds(queries, idCol, vecCol).collect().map { r =>
        val qv = r.getSeq[Int](1)
        val cells = ivfCents.indices
          .map(i => (dist2At(qv, 0, ivfCents(i)), i)).sorted.take(nProbe).map(_._2)
        val tables = cells.map { cell =>
          val res = Array.tabulate(dim)(j => (qv(j) - ivfCents(cell)(j)).toInt).toSeq
          cell -> Array.tabulate(m, ksub)((s, c) => dist2At(res, s * ds, pqCents(s)(c)))
        }.toMap
        (r.getLong(0), tables)
      }
    val qB = spark.sparkContext.broadcast(qRows)

    val partial = coded.as[(Long, Int, Seq[Int])].mapPartitions { rows =>
      val qs = qB.value
      // worst-first under (adist asc, neighbor_id asc), as in pqTopKInt8
      val ord = new java.util.Comparator[(Long, Long, Int)] {
        def compare(x: (Long, Long, Int), y: (Long, Long, Int)): Int = {
          val c = java.lang.Long.compare(y._1, x._1)
          if (c != 0) c else java.lang.Long.compare(y._2, x._2)
        }
      }
      val heaps = Array.fill(qs.length)(
        new java.util.PriorityQueue[(Long, Long, Int)](k + 1, ord))
      rows.foreach { case (nid, cell, codes) =>
        var i = 0
        while (i < qs.length) {
          if (qs(i)._1 != nid) {
            qs(i)._2.get(cell) match {
              case Some(dt) =>
                var d = 0L; var s = 0
                while (s < m) { d += dt(s)(codes(s)); s += 1 }
                val h = heaps(i)
                if (h.size < k) h.offer((d, nid, cell))
                else if (ord.compare((d, nid, cell), h.peek()) > 0) {
                  h.poll(); h.offer((d, nid, cell))
                }
              case None => () // neighbor's cell not probed by this query
            }
          }
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        h.iterator().asScala.map { case (d, nid, cell) => (qs(i)._1, nid, cell, d) }
      }
    }
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    partial.toDF("query_id", "neighbor_id", "cell", "adist")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cell", "adist", "rank")
  }

  /** Pairwise near-duplicate detection by embedding cosine ≥ threshold,
    * via LSH buckets (embedding-space analog of Dedup.minhashCandidates).
    * Degenerate buckets (many near-zero / boilerplate vectors hashing
    * together) are capped at `maxBucket` rows — same skew guard as the
    * MinHash path — so the self-join never goes O(bucket²).
    */
  def embeddingNearDup(corpus: DataFrame, threshold: Double,
      nPlanes: Int = 12, tables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 5000): DataFrame = {
    val bucketUdf = udf((vec: Seq[Float], t: Int) =>
      graft.functions.Hashing.hyperplaneBucket(vec.toArray, nPlanes, seed = 42 + t))
    val keyed = Dedup.capBuckets(
      corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("id"), col(vecCol).as("vec"),
          explode(sequence(lit(0), lit(tables - 1))).as("table"))
        .withColumn("bucket", bucketUdf(col("vec"), col("table"))),
      maxBucket, "table", "bucket") // capBuckets materializes the hashed corpus once
    keyed.as("a").join(keyed.as("b"),
        col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.vec").as("va"), col("b.vec").as("vb"))
      // dedup + score in ONE aggregate: band duplicates of a pair all
      // carry the same deterministic cosine, so min() == the value. A
      // dropDuplicates + withColumn + filter chain would (a) shuffle the
      // raw vectors and (b) re-evaluate cosineNative in the pushed-down
      // Filter AND the Project above it (the q274 class — no
      // cross-operator subexpression elimination); here the cosine is
      // computed map-side in the partial aggregate and the shuffle
      // carries 3 numbers per pair, and the threshold filter sits above
      // the Aggregate where Catalyst cannot push it back down.
      .groupBy("id_a", "id_b")
      .agg(min(cosineNative(col("va"), col("vb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** kNN label propagation: classify each query vector by the MAJORITY
    * label of its k nearest corpus neighbors (exact cosine; ties break
    * toward more votes then the smallest label) — the standard
    * embedding-space quality/domain classifier used in corpus curation
    * when only a seed set is hand-labeled.
    *
    * Scale shape: the neighbor search is [[bruteForceTopK]] (queries
    * broadcast, per-partition bounded heaps, corpus never shuffled); the
    * label join touches only k×|queries| rows and the vote aggregate is
    * per-query — nothing downstream of the scan is proportional to the
    * corpus. Output: (query_id, pred_label, votes).
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val top = bruteForceTopK(corpus, queries, k, idCol, vecCol)
    val labels = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).as("_lbl"))
    val votes = top.join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("_lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("_lbl"))
    votes.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("query_id"), col("_lbl").as("pred_label"), col("votes"))
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * `k` most cosine-similar corpus vectors with a DIFFERENT label —
    * near the anchor in embedding space yet labeled otherwise, the
    * informative negatives. Rank is over the label-filtered candidate
    * set (cosine DESC, neighbor id).
    *
    * Scale shape mirrors [[knnClassify]]: [[bruteForceTopK]]'s bounded
    * per-partition heaps do the search with an overfetch of
    * `k × overfetch` (the label filter discards same-label neighbors;
    * overfetch must exceed the worst-case same-label run in a
    * neighborhood — raise it for label-clustered corpora), labels join
    * on the shortlist only, and the re-rank window sees ≤ k×overfetch
    * rows per query.
    *
    * Output: (query_id, neighbor_id, neg_label, rank, n_found) —
    * `n_found` = how many different-label candidates the whole
    * shortlist held for that query. `n_found < k` means the
    * neighborhood was label-saturated and the query under-delivered:
    * the SIGNAL to escalate `overfetch` for those queries, visible in
    * the output instead of silently missing rows.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding", overfetch: Int = 4): DataFrame = {
    require(overfetch >= 2, s"overfetch $overfetch must be >= 2")
    val top = bruteForceTopK(corpus, queries, k * overfetch, idCol, vecCol)
    val labels = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).as("neg_label"))
    val qLabels = queries.select(col(idCol).cast("long").as("query_id"),
      col(labelCol).as("_qlbl"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rank")) // preserves the cosine order of the shortlist
    top.join(labels, Seq("neighbor_id"))
      .join(broadcast(qLabels), Seq("query_id"))
      .filter(col("neg_label") =!= col("_qlbl"))
      .withColumn("_rk", row_number().over(w))
      // same partition+sort as _rk — one window exchange, not two
      .withColumn("n_found",
        count(lit(1)).over(Window.partitionBy("query_id")))
      .filter(col("_rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("_rk").as("rank"), col("n_found"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): k-means-cluster the embedding space, then mark as
    * duplicate every vector whose cosine similarity to a LOWER-id vector
    * in the SAME cluster meets the threshold — pairwise comparison only
    * ever happens inside a cell, which is the whole point of the recipe
    * (within-cluster ε-balls, never an all-pairs pass).
    *
    * Exactness discipline (the q57/q84 pattern): int8 quantization,
    * splitmix64-seeded integer Lloyd training, and a RATIONAL threshold
    * `thresholdNum/thresholdDen` compared as
    * `dot > 0 && den²·dot² ≥ num²·‖a‖²·‖b‖²` — all-integer, no sqrt, no
    * float compare, so the DuckDB oracle ([[graft.Oracles.q94SemanticDedup]])
    * replays training and the dup decision bit-for-bit.
    *
    * Scale shape: training is iters × (one nCells×dim broadcast + one
    * map-side assignment + one nCells×dim-row aggregate); the only join
    * is the within-cell self-join, whose cost is Σ|cell|² — `nCells`
    * must grow ∝ |corpus|/(target cell size) to bound it (SemDeDup used
    * 11k clusters for 100M+ embeddings). `nCells ≤ 0` (the default)
    * AUTO-SCALES: nCells = clamp(⌈N / targetCellSize⌉, 1, 65536) from
    * one count of the (about-to-be-materialized-anyway) quantized
    * corpus, so the expected pair count stays ≈ N·targetCellSize/2
    * without hand-tuning. The 65536 cap bounds the driver-side Lloyd
    * state (cap × dim longs ≈ 32 MB at dim 64) — it saturates at ~67M
    * vectors at the default target; past that, cells grow linearly and
    * a sharded / hierarchical clustering pass is the right tool.
    * Degenerate cells (boilerplate
    * embeddings collapsing into one cluster) are excluded from PAIR
    * GENERATION above `maxCell` rows via the shared skew guard — capped
    * cells' members stay in the output as keepers (the guard degrades
    * recall, never drops rows). Vectors ride the join as int8 arrays
    * (dim bytes-ish per row, not float32).
    *
    * Output: one row per corpus vector — (idCol, cell, n_dups_earlier,
    * dup_of, keep); `dup_of` = the smallest matching earlier id (−1 when
    * none), `keep` = no earlier in-cell near-duplicate. Filtering to
    * `keep` yields the deduplicated corpus deterministically (the
    * lowest-id representative of every semantic group survives).
    */
  def semanticDedup(corpus: DataFrame, nCells: Int = -1, iters: Int = 2,
      thresholdNum: Long = 7, thresholdDen: Long = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = 5000, targetCellSize: Int = 1024): DataFrame = {
    require(thresholdDen > 0 && thresholdNum >= 0,
      s"threshold $thresholdNum/$thresholdDen not a nonnegative rational")
    require(targetCellSize > 0, s"targetCellSize $targetCellSize must be positive")
    // den²·dot² must stay in Long: dot ≤ dim·127² (≈2^20 at dim 64), so
    // den ≤ 1000 keeps den²·dot² < 2^60 with headroom.
    require(thresholdDen <= 1000, s"thresholdDen $thresholdDen too large (≤1000)")
    // num²·na·nb must stay in Long too (na,nb up to ~2^20 each at dim
    // 64): a cosine threshold > 1 is meaningless, so num ≤ den ≤ 1000.
    require(thresholdNum <= thresholdDen,
      s"thresholdNum $thresholdNum > thresholdDen $thresholdDen (cosine threshold > 1)")
    // nCells ≤ 0 → auto-scale with corpus size (see scaladoc): an eager
    // stage, whose one job also counts it
    val qc = Dedup.materialize(quantIds(corpus, idCol, vecCol), eager = nCells <= 0)
    val nc = if (nCells > 0) nCells else {
      val n = Dedup.rowCount(qc)
      require(n > 0, "semanticDedup on an empty corpus")
      math.min(65536L, (n + targetCellSize - 1) / targetCellSize).toInt
    }
    val cs = trainCellCentroids(qc, hashSeedVecs(qc, nc), iters)
    def n2(c: Column) = aggregate(c, lit(0L),
      (acc, v) => acc + v.cast("long") * v.cast("long"))
    // norms computed ONCE per vector here (O(N·dim)) and carried through
    // the pair join — recomputing them per pair would triple the
    // pair-stage arithmetic, the dominant cost at scale
    val assigned = Dedup.materialize(
      qc.withColumn("cell", cellAssigner(cs)(col("qv")))
        .withColumn("n2", n2(col("qv"))))
    val capped = Dedup.capBuckets(assigned, maxCell, "cell")
    val dup = capped.select(col("id").as("id_a"), col("qv").as("va"),
        col("n2").as("na"), col("cell"))
      .join(capped.select(col("id").as("id_b"), col("qv").as("vb"),
        col("n2").as("nb"), col("cell")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      // the threshold test references dot THREE times; as a Filter the
      // pushed-down predicate would evaluate dotIntNative (the dominant
      // O(dim) pair-stage cost) three times per pair — FilterExec does
      // no subexpression elimination across conjuncts. Folded into one
      // Project column instead (single-Project codegen CSE evaluates
      // the dot once) with null-skipping aggregates doing the drop.
      .withColumn("dot",
        graft.plans.GraftExtensions.dotIntNative(col("va"), col("vb")))
      .withColumn("_hit", when(col("dot") > 0 &&
        lit(thresholdDen * thresholdDen) * col("dot") * col("dot") >=
          lit(thresholdNum * thresholdNum) * col("na") * col("nb"),
        col("id_a")))
      .groupBy(col("id_b").as("id"))
      .agg(count(col("_hit")).as("n_dups_earlier"),
        min(col("_hit")).as("dup_of"))
      // ids whose every pair missed the threshold are "no dup found" —
      // they must be ABSENT from dup (the left join below reads absence
      // as keep=true); bounded post-agg filter, never pushed back down
      .filter(col("n_dups_earlier") > 0)
    assigned.select(col("id"), col("cell"))
      .join(dup, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("n_dups_earlier"), lit(0L)).as("n_dups_earlier"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("n_dups_earlier").isNull.as("keep"))
  }

  /** Maximal-Marginal-Relevance diversified top-k: for each query,
    * retrieve a relevance-ranked candidate pool, then greedily re-rank
    * it so each pick balances relevance against similarity to what was
    * already picked — `score = λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)`
    * with λ = ½ (Carbonell & Goldstein 1998). The "retrieve then
    * diversify" step of RAG / eval-set assembly: plain top-k returns
    * near-duplicates; MMR spends the k slots on coverage.
    *
    * Exactness: similarities are the q193 discipline — int8 quantized
    * vectors ([[Embeddings.withInt8Quantized]]'s half-up rule), exact
    * integer dot/norms (≤ 64·127² per dim, far inside 2⁵³), then one
    * IEEE `dot / (sqrt(na²)·sqrt(nb²))` identical in both engines; the
    * greedy scores are `0.5·rel − 0.5·maxsim` of those doubles, ties
    * broken by id — so the DuckDB oracle replays the whole greedy
    * bit-for-bit with k unrolled rounds (q234).
    *
    * Scale shape: the only corpus-sized stage is pool retrieval —
    * broadcast queries × corpus scan into the bounded native top-k
    * aggregate ([[graft.plans.TopKAgg]], map-side partial keeps
    * ≤ poolSize rows per partition per query; the scored pair set is
    * never shuffled). The greedy itself is O(k·poolSize²) on the
    * collected ≤ |Q|·poolSize candidates — the centroid-table collect
    * convention, corpus-size-independent.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      poolSize: Int = 50, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def quant(df: DataFrame): DataFrame =
      Embeddings.withInt8Quantized(df.filter(col(vecCol).isNotNull), vecCol)
        .select(col(idCol).cast("long").as("_id"), col("q"))
        .withColumn("_ssq", aggregate(col("q"), lit(0L),
          (a, v) => a + v.cast("long") * v.cast("long")))
    val c = quant(corpus)
    // pool: exact integer dot + one IEEE division per (query, row);
    // bounded top-k aggregate — no |corpus|×|Q| shuffle
    val pool = c.join(broadcast(quant(queries).select(
        col("_id").as("_qid"), col("q").as("_qq"),
        col("_ssq").as("_qssq"))), col("_id") =!= col("_qid"))
      .withColumn("_dot",
        graft.plans.GraftExtensions.dotIntNative(col("q"), col("_qq")))
      .withColumn("_rel", col("_dot").cast("double") /
        (sqrt(col("_ssq").cast("double")) * sqrt(col("_qssq").cast("double"))))
      .groupBy("_qid")
      .agg(graft.plans.GraftExtensions.topKNative(
        col("_rel"), col("_id"), poolSize).as("_top"))
      .select(col("_qid"), explode(col("_top")).as("_t"))
      .select(col("_qid"), col("_t.id").as("_id"), col("_t.ord").as("_rel"))
    // candidate vectors: bounded (≤ |Q|·poolSize) — broadcast into the
    // corpus scan, then collect for the driver-side greedy
    val cand = pool.join(c.select(col("_id"), col("q"), col("_ssq")), Seq("_id"))
      .select(col("_qid"), col("_id"), col("_rel"), col("q"), col("_ssq"))
      .collect()
    val byQ = cand.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    val out = byQ.flatMap { case (qid, rows) =>
      val cs = rows.map(r => (r.getLong(1), r.getDouble(2),
        r.getSeq[Int](3).toArray, r.getLong(4))).sortBy(c => (-c._2, c._1))
      def sim(a: (Long, Double, Array[Int], Long),
          b: (Long, Double, Array[Int], Long)): Double = {
        var d = 0L; var i = 0
        while (i < a._3.length && i < b._3.length) {
          d += a._3(i).toLong * b._3(i).toLong; i += 1 }
        d.toDouble / (math.sqrt(a._4.toDouble) * math.sqrt(b._4.toDouble))
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[
        ((Long, Double, Array[Int], Long), Double)]
      val remaining = scala.collection.mutable.ArrayBuffer(cs: _*)
      while (selected.length < k && remaining.nonEmpty) {
        val scored = remaining.map { cd =>
          val ms = if (selected.isEmpty) 0.0
            else selected.map(s => sim(cd, s._1)).max
          (cd, 0.5 * cd._2 - 0.5 * ms)
        }
        // argmax by (score DESC, id ASC) — a total order shared with
        // the oracle's unrolled rounds
        val best = scored.minBy { case (cd, sc) => (-sc, cd._1) }(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        selected += best
        remaining -= best._1
      }
      selected.zipWithIndex.map { case ((cd, sc), i) =>
        (qid, (i + 1).toLong, cd._1, cd._2, sc) }
    }
    out.toDF("query_id", "rank", "vec_id", "relevance", "mmr_score")
  }

  /** Recall@k of an approximate neighbor table against an exact truth
    * table — THE ANN quality gate (what an IVF/PQ/LSH parameter choice
    * is graded on before it serves traffic): per query the hit count
    * and Q6 recall, plus the macro recall repeated as a summary column
    * (the ece_q9 convention). Both inputs are (query_id, neighbor_id)
    * top-k tables from any of the family's operators; the standard
    * protocol is exact truth over a SAMPLED query set — brute force
    * for 10³ queries is cheap even at corpus scale, and that is
    * exactly what this measures.
    *
    * Scale shape: one (query_id, neighbor_id)-keyed left join of two
    * |Q|·k-row tables, one |Q|-row groupBy, a broadcast 2-number
    * total. The expensive parts are the input builds, not this.
    */
  /** kNN hubness audit — the high-dimensional pathology check run on
    * an embedding space before trusting its neighborhoods (Radovanović
    * et al. 2010): over a query sample's exact top-k lists, the
    * in-degree distribution of the points that appear as neighbors. A
    * heavy tail (a few "hub" points in everyone's top-k) means
    * neighborhoods carry little information — kNN classify (q104),
    * SemDeDup (q94) and MMR (q234) all degrade — and usually indicates
    * un-normalized or anisotropic vectors (cross-read with q247's
    * anisotropy). One row per observed in-degree:
    * (in_degree, n_points, slot_share_q6) — slot share of the |Q|·k
    * neighbor slots, so the histogram's weighted mass sums to ~10⁶.
    *
    * Scale shape: the neighbor search is [[bruteForceTopK]] on a
    * BOUNDED query sample (queries broadcast, corpus never shuffled —
    * the exact-truth protocol of [[annRecallAtK]]); everything after
    * is aggregation of the |Q|·k result table.
    */
  def knnHubness(corpus: DataFrame, nQueries: Int = 100, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val knn = bruteForceTopK(corpus,
      corpus.filter(col(idCol) < nQueries), k, idCol, vecCol)
    val deg = knn.groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("in_degree"))
    val hist = deg.groupBy("in_degree")
      .agg(count(lit(1)).as("n_points"))
    val tot = hist.agg(coalesce(sum(col("in_degree") * col("n_points")),
      lit(0L)).as("_slots"))
    hist.crossJoin(tot)
      .withColumn("slot_share_q6", when(col("_slots") > 0, expr(
        "CAST((CAST(in_degree * n_points AS DECIMAL(38,0)) * 1000000)" +
          " DIV _slots AS BIGINT)")))
      .select(col("in_degree"), col("n_points"), col("slot_share_q6"))
  }

  def annRecallAtK(truth: DataFrame, approx: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, "annRecallAtK needs k >= 1")
    // defensive distinct on both sides: a duplicated (query_id,
    // neighbor_id) row in `approx` would multiply the left join and
    // push recall_q6 past 10⁶ while the denominator stays k; cheap at
    // the |Q|·k scale of these inputs
    val a = approx.select(col("query_id"), col("neighbor_id")).distinct()
      .withColumn("_hit", lit(1L))
    val h = truth.select(col("query_id"), col("neighbor_id")).distinct()
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
    val o = h.agg(coalesce(sum("n_hits"), lit(0L)).as("_th"),
      count(lit(1)).as("_nq"))
    h.crossJoin(o)
      .withColumn("recall_q6", expr(
        s"CAST((CAST(n_hits AS DECIMAL(38,0)) * 1000000) DIV $k" +
          " AS BIGINT)"))
      .withColumn("macro_recall_q6", when(col("_nq") =!= 0, expr(
        s"CAST((CAST(_th AS DECIMAL(38,0)) * 1000000) DIV (_nq * $k)" +
          " AS BIGINT)")))
      .select(col("query_id"), col("n_hits"), col("recall_q6"),
        col("macro_recall_q6"))
  }

  /** IVF serving-parameter planner — the table a serving team sets
    * nProbe FROM: for each candidate probe count, recall@k against
    * brute-force truth on a bounded query sample AND the scan cost
    * paid for it (corpus code rows read, absolute and as a Q6 share of
    * |queries|·|corpus| — share 10⁶ = brute force). Recall is bought
    * with probes; this prints the exact price curve instead of the
    * folklore "nProbe = √nCells". Completes the family: q291 audits
    * ONE operating point, q296 audits the index's balance, this sweeps
    * the knob.
    *
    * Exactness/protocol: the index is [[ivfIndexInt8]] (the q57 chain,
    * oracle-replayed); truth is [[bruteForceTopK]] float cosine (the
    * q291 protocol); per-probe results are IDENTICAL to running
    * [[ivfTopKInt8Against]] at that nProbe because a probe list is
    * rank-ordered — the nProbe=p candidate set is exactly the
    * max(nProbes) candidates with probe rank < p.
    *
    * Scale shape: ONE index build, ONE candidate scoring pass at
    * max(nProbes) (queries broadcast with their probe ranks, corpus
    * codes joined by cell — never shuffled), ONE brute-truth pass on
    * the bounded sample; the per-probe readouts are |nProbes| window
    * rankings over the MATERIALIZED bounded candidate table (|Q| ·
    * probed-cell rows) plus broadcast-joined cell-size sums — no
    * re-search, no per-probe corpus pass.
    * Output: (n_probe, n_hits, macro_recall_q6, rows_scanned,
    * scan_share_q6), one row per probe count.
    */
  def ivfProbePlan(corpus: DataFrame, queries: DataFrame, k: Int,
      nProbes: Seq[Int] = Seq(1, 2, 4, 8), nCells: Int = 16,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(p => p >= 1 && p <= nCells),
      s"ivfProbePlan needs probe counts in [1, nCells=$nCells]")
    val ps = nProbes.distinct.sorted
    val maxP = ps.last
    val (cents, assigned0) = ivfIndexInt8(corpus, nCells, iters, idCol, vecCol)
    val assigned = Dedup.materialize(assigned0)
    // the shared build sites ([[ivfProbes]]/[[ivfScoreCands]]) make the
    // per-probe ≡ served-path claim structural (one code path) — the
    // planner only adds the probe-table materialization (reused by the
    // |nProbes| scanned-rows readouts) and the `_prn` carry
    val q = Dedup.materialize(
      ivfProbes(cents, queries, maxP, idCol, vecCol))
    val cands = Dedup.materialize(ivfScoreCands(assigned, q)
      .select("query_id", "neighbor_id", "_prn", "cosine"))
    val truth = Dedup.materialize(
      bruteForceTopK(corpus, queries, k, idCol, vecCol)
        .select("query_id", "neighbor_id"))
    val nq = truth.select("query_id").distinct()
      .agg(count(lit(1)).as("_nq"))
    val nc = assigned.agg(count(lit(1)).as("_nc"))
    val cellSizes = assigned.groupBy("cell").agg(count(lit(1)).as("_csz"))
    // ONE grouped readout over the materialized candidate table (r18):
    // the previous per-probe loop planned |nProbes| separate window +
    // semi-join + aggregate branches (4× the exchanges for the same
    // bounded table). Probe sets NEST (`_prn < p`), so a theta join
    // against the |nProbes|-row literal table replicates each candidate
    // into exactly the probe levels that see it, and one window
    // partitioned by (query, n_probe) ranks all levels in one pass.
    // Levels with zero hits re-enter via the left join (the old
    // ungrouped aggregate's implicit zero row).
    val spark = corpus.sparkSession
    import spark.implicits._
    val psDf = ps.map(_.toLong).toDF("n_probe")
    val wP = Window.partitionBy("query_id", "n_probe")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val approx = cands.join(psDf, col("_prn") < col("n_probe"))
      .withColumn("rank", row_number().over(wP))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "n_probe")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("n_probe").agg(count(lit(1)).as("n_hits"))
    val scanned = q.join(psDf, col("_prn") < col("n_probe"))
      .join(broadcast(cellSizes), Seq("cell"))
      .groupBy("n_probe")
      .agg(coalesce(sum("_csz"), lit(0L)).as("rows_scanned"))
    psDf.join(hits, Seq("n_probe"), "left")
      .join(scanned, Seq("n_probe"), "left")
      .na.fill(0L, Seq("n_hits", "rows_scanned"))
      .crossJoin(nq).crossJoin(nc)
      .withColumn("macro_recall_q6", when(col("_nq") > 0, expr(
        s"CAST((CAST(n_hits AS DECIMAL(38,0)) * 1000000) DIV (_nq * $k)" +
          " AS BIGINT)")))
      .withColumn("scan_share_q6",
        when(col("_nq") > 0 && col("_nc") > 0, expr(
          "CAST((CAST(rows_scanned AS DECIMAL(38,0)) * 1000000)" +
            " DIV (_nq * _nc) AS BIGINT)")))
      .select(col("n_probe"), col("n_hits"), col("macro_recall_q6"),
        col("rows_scanned"), col("scan_share_q6"))
  }

  /** PQ refine-depth planner — [[ivfProbePlan]]'s discipline applied
    * to the OTHER serving knob: how deep must the ADC shortlist be
    * before the exact re-rank ([[pqRefineTopK]]) recovers the true
    * top-k? Per refine factor f: recall@k of refine-at-depth-k·f
    * against the exact integer-L2 truth, plus the price paid — exact
    * re-scores performed, absolute and as a Q6 share of
    * |queries|·|corpus| (share 10⁶ = re-ranking everything, i.e. no
    * PQ at all). q89 serves ONE operating point; this prints the
    * recall-vs-refine-cost curve the point is chosen from.
    *
    * Exactness/protocol: shortlist = [[pqTopKInt8]] at k·max(f) with
    * its ADC rank kept — rank lists NEST, so the depth-k·f shortlist
    * is exactly `adc_rank ≤ k·f` (the probe-rank argument of q315);
    * truth is the exact integer squared-L2 top-k over the int8
    * corpus — the metric refine targets.
    *
    * Scale shape: ONE ADC code pass at the deepest shortlist (the
    * corpus vectors never scanned there — codes only), ONE broadcast
    * exact re-score of that bounded shortlist (map-side hash probe
    * per corpus row, the q89 shape), ONE exact-truth pass with
    * per-partition bounded heaps (the [[bruteForceTopK]] pattern);
    * per-factor readouts are window rankings over the MATERIALIZED
    * |Q|·k·max(f) table — no re-search, no per-factor corpus pass;
    * and since r16 the int8 corpus is quantized from source ONCE
    * (one materialized (id, qv) table shared by shortlist, re-score,
    * truth and count — was four separate read+quantize passes).
    * Output: (refine_factor, depth, n_hits, macro_recall_q6,
    * n_refined, refine_share_q6), one row per factor.
    */
  def pqRefinePlan(corpus: DataFrame, queries: DataFrame, k: Int,
      refineFactors: Seq[Int] = Seq(1, 2, 4, 8), m: Int = 8,
      ksub: Int = 16, iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "pqRefinePlan needs k >= 1")
    require(refineFactors.nonEmpty && refineFactors.forall(_ >= 1),
      "pqRefinePlan needs refine factors >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val rfs = refineFactors.distinct.sorted
    val rfMax = rfs.last
    // ONE quantized-corpus materialization feeds the ADC shortlist,
    // the exact re-score, the truth pass AND the corpus count — this
    // was four separate source read+quantize passes (r16: the single
    // biggest cost in q319's profile, and the scan count is what
    // matters at 100 TB)
    val qc = Dedup.materialize(quantIds(corpus, idCol, vecCol))
    val shortlist = Dedup.materialize(
      pqTopKInt8Quant(qc, queries, k * rfMax, m, ksub, iters, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("_adc_rank")))
    val qQueries = quantIds(queries, idCol, vecCol).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray)).toMap
    val qB = spark.sparkContext.broadcast(qQueries)
    val exactU = udf { (qid: Long, nv: Seq[Int]) =>
      val qv = qB.value(qid)
      var d = 0L; var i = 0
      while (i < qv.length) { val t = (qv(i) - nv(i)).toLong; d += t * t; i += 1 }
      d
    }
    val exact = Dedup.materialize(
      qc.withColumnRenamed("id", "neighbor_id")
        .join(broadcast(shortlist), Seq("neighbor_id"))
        .withColumn("dist2", exactU(col("query_id"), col("qv")))
        .select("query_id", "neighbor_id", "_adc_rank", "dist2"))
    // exact-L2 truth via per-partition bounded heaps; worst-first under
    // (dist2 asc, neighbor_id asc) so the head is what a better row evicts
    val qArr: Array[(Long, Array[Int])] = qQueries.toArray.sortBy(_._1)
    val qB2 = spark.sparkContext.broadcast(qArr)
    val partial = qc
      .as[(Long, Seq[Int])].mapPartitions { rows =>
        val qs = qB2.value
        val ord = new java.util.Comparator[(Long, Long)] {
          def compare(x: (Long, Long), y: (Long, Long)): Int = {
            val c = java.lang.Long.compare(y._1, x._1)
            if (c != 0) c else java.lang.Long.compare(y._2, x._2)
          }
        }
        val heaps = Array.fill(qs.length)(
          new java.util.PriorityQueue[(Long, Long)](k + 1, ord))
        rows.foreach { case (nid, nv) =>
          var i = 0
          while (i < qs.length) {
            if (qs(i)._1 != nid) {
              val qv = qs(i)._2
              var d = 0L; var j = 0
              while (j < qv.length) {
                val t = (qv(j) - nv(j)).toLong; d += t * t; j += 1
              }
              val h = heaps(i)
              if (h.size < k) h.offer((d, nid))
              else if (ord.compare((d, nid), h.peek()) > 0) {
                h.poll(); h.offer((d, nid))
              }
            }
            i += 1
          }
        }
        import scala.jdk.CollectionConverters._
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.iterator().asScala.map { case (d, nid) => (qs(i)._1, nid, d) }
        }
      }
    val wT = Window.partitionBy("query_id")
      .orderBy(col("dist2"), col("neighbor_id"))
    val truth = Dedup.materialize(
      partial.toDF("query_id", "neighbor_id", "dist2")
        .withColumn("rank", row_number().over(wT))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id"))
    val nc = qc.agg(count(lit(1)).as("_nc"))
    val nqL = qQueries.size.toLong
    // ONE grouped readout over the materialized shortlist (r18): the
    // per-factor loop planned |rfs| window + semi-join + aggregate
    // branches; ADC ranks NEST (`_adc_rank ≤ k·f`), so the same theta-
    // join-against-literals shape as ivfProbePlan ranks every depth in
    // one window pass. Zero-hit factors re-enter via the left join.
    val rfsDf = rfs.map(_.toLong).toDF("refine_factor")
    val exactP = exact.join(rfsDf,
      col("_adc_rank") <= lit(k.toLong) * col("refine_factor"))
    val wTP = Window.partitionBy("query_id", "refine_factor")
      .orderBy(col("dist2"), col("neighbor_id"))
    val app = exactP
      .withColumn("rank", row_number().over(wTP))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "refine_factor")
    val hits = truth.join(app, Seq("query_id", "neighbor_id"))
      .groupBy("refine_factor").agg(count(lit(1)).as("n_hits"))
    val nref = exactP.groupBy("refine_factor")
      .agg(count(lit(1)).as("n_refined"))
    rfsDf.join(hits, Seq("refine_factor"), "left")
      .join(nref, Seq("refine_factor"), "left")
      .na.fill(0L, Seq("n_hits", "n_refined"))
      .withColumn("depth", lit(k.toLong) * col("refine_factor"))
      .crossJoin(nc)
      .withColumn("macro_recall_q6", when(lit(nqL) > 0, expr(
        s"CAST((CAST(n_hits AS DECIMAL(38,0)) * 1000000) DIV ($nqL * $k)" +
          " AS BIGINT)")))
      .withColumn("refine_share_q6",
        when(lit(nqL) > 0 && col("_nc") > 0, expr(
          s"CAST((CAST(n_refined AS DECIMAL(38,0)) * 1000000)" +
            s" DIV ($nqL * _nc) AS BIGINT)")))
      .select(col("refine_factor"), col("depth"), col("n_hits"),
        col("macro_recall_q6"), col("n_refined"), col("refine_share_q6"))
  }

  /** IVF index-staleness audit — the ANN-ops question q296 (balance)
    * and q315 (probe plan) don't answer: the index was trained on
    * BASE; since then APPENDED arrived and was routed to the FROZEN
    * centroids (what every serving index does between rebuilds). Per
    * cell: base/new counts and Q6 growth; plan-wide the imbalance
    * factor (max·cells / total, the q296 convention) BEFORE vs AFTER
    * the appendix — the re-index trigger as a number (growth
    * concentrating in few cells drives imbalance_after up; uniform
    * growth leaves it flat).
    *
    * Scale shape: one bounded Lloyd train on base (the q57 cost),
    * map-side assignment of both sets (centroids are a driver-held
    * array, the cellAssigner closure), two partial-agg'd cell
    * collapses, a cells⋈cells full-outer, 1-row broadcast scalars.
    */
  def ivfStalenessAudit(base: DataFrame, appended: DataFrame,
      nCells: Int = 16, iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qc = Dedup.materialize(quantIds(base, idCol, vecCol), eager = true)
    // clamp the codebook to the base size (the semanticDedup
    // auto-scale convention) so a tiny base degrades to one-vector
    // cells instead of failing the seed requirement
    val n = Dedup.rowCount(qc)
    require(n > 0, "ivfStalenessAudit on an empty base")
    val nc = math.min(nCells.toLong, n).toInt
    val cs = trainCellCentroids(qc, hashSeedVecs(qc, nc), iters)
    val bCells = qc.withColumn("cell", cellAssigner(cs)(col("qv")))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_base"))
    val aCells = quantIds(appended, idCol, vecCol)
      .withColumn("cell", cellAssigner(cs)(col("qv")))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_new"))
    val cells = bCells.join(aCells, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_new"))
    val tot = cells.agg(
      coalesce(sum("n_base"), lit(0L)).as("_tb"),
      coalesce(sum("n_new"), lit(0L)).as("_tn"),
      count(lit(1)).as("_nc"),
      coalesce(max("n_base"), lit(0L)).as("_mxb"),
      coalesce(max(col("n_base") + col("n_new")), lit(0L)).as("_mxa"))
    cells.crossJoin(tot)
      .withColumn("growth_q6", when(col("n_base") > 0, expr(
        "CAST((CAST(n_new AS DECIMAL(38,0)) * 1000000) DIV n_base" +
          " AS BIGINT)")))
      .withColumn("imbalance_before_q6", when(col("_tb") > 0, expr(
        "CAST((CAST(_mxb AS DECIMAL(38,0)) * _nc * 1000000) DIV _tb" +
          " AS BIGINT)")))
      .withColumn("imbalance_after_q6", when(col("_tb") + col("_tn") > 0,
        expr("CAST((CAST(_mxa AS DECIMAL(38,0)) * _nc * 1000000)" +
          " DIV (_tb + _tn) AS BIGINT)")))
      .select(col("cell"), col("n_base"), col("n_new"), col("growth_q6"),
        col("imbalance_before_q6"), col("imbalance_after_q6"))
  }

  /** SEMANTIC benchmark decontamination — the q338 move applied to the
    * eval-leak scrub: [[graft.operators.Dedup.decontaminate]] (exact
    * n-grams) and its fuzzy/stream siblings stop at LEXICAL overlap,
    * but a paraphrased or re-rendered eval item shares no 5-gram with
    * its source while still being memorizable — the exact gap the
    * semantic leakage audit closed for folds. Here: corpus and
    * benchmark embeddings ride ONE shared cell assignment (centroids
    * trained on the union — the q94/SemDeDup chain, auto-scaled
    * nCells), and a corpus vector is contaminated iff a SAME-CELL
    * benchmark vector passes the all-integer rational-threshold cosine
    * (dot > 0 ∧ den²·dot² ≥ num²·‖a‖²·‖b‖² — the [[semanticDedup]]
    * test, bit-replayable by the DuckDB oracle).
    *
    * Output: one row per corpus vector — (idCol, cell, n_bench_hits,
    * hit_bench_id, contaminated); `hit_bench_id` = the smallest
    * matching benchmark id (−1 when clean), mirroring
    * [[semanticDedup]]'s dup_of so drop/flag pipelines compose the
    * same way. Corpus and benchmark id spaces MUST be disjoint
    * (re-key the benchmark with an offset — the q338 convention):
    * ids seed the splitmix64 codebook, and a collision would make the
    * seed rank nondeterministic.
    *
    * Scale shape: training is the q94 cost (iters × broadcast +
    * map-side assignment + nCells×dim aggregate over union rows); the
    * match join BROADCASTS the benchmark side (eval sets are tiny next
    * to a training corpus — the q75 discipline) and pairs only within
    * a cell, so pair work is Σ_cell |corpus∩cell|·|bench∩cell| —
    * linear in the corpus for a bounded benchmark, never all-pairs.
    * No skew cap needed: a degenerate boilerplate cell costs
    * |cell|·|bench-in-cell|, still linear in the corpus.
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      nCells: Int = -1, iters: Int = 2, thresholdNum: Long = 7,
      thresholdDen: Long = 10, idCol: String = "vec_id",
      vecCol: String = "embedding", targetCellSize: Int = 1024): DataFrame = {
    require(thresholdDen > 0 && thresholdNum >= 0,
      s"threshold $thresholdNum/$thresholdDen not a nonnegative rational")
    require(thresholdDen <= 1000, s"thresholdDen $thresholdDen too large (≤1000)")
    require(thresholdNum <= thresholdDen,
      s"thresholdNum $thresholdNum > thresholdDen $thresholdDen (cosine threshold > 1)")
    require(targetCellSize > 0, s"targetCellSize $targetCellSize must be positive")
    val qcC = quantIds(corpus, idCol, vecCol)
      .select(col("id"), col("qv"), lit(false).as("_bench"))
    val qcB = quantIds(benchmark, idCol, vecCol)
      .select(col("id"), col("qv"), lit(true).as("_bench"))
    val qcU = Dedup.materialize(qcC.unionByName(qcB), eager = nCells <= 0)
    val nc = if (nCells > 0) nCells else {
      val n = Dedup.rowCount(qcU)
      require(n > 0, "semanticDecontaminate on empty input")
      math.min(65536L, (n + targetCellSize - 1) / targetCellSize).toInt
    }
    val idqv = qcU.select(col("id"), col("qv"))
    val cs = trainCellCentroids(idqv, hashSeedVecs(idqv, nc), iters)
    def n2(c: Column) = aggregate(c, lit(0L),
      (acc, v) => acc + v.cast("long") * v.cast("long"))
    val assigned = Dedup.materialize(
      qcU.withColumn("cell", cellAssigner(cs)(col("qv")))
        .withColumn("n2", n2(col("qv"))))
    val corpusA = assigned.filter(!col("_bench"))
    val benchA = assigned.filter(col("_bench"))
      .select(col("id").as("_bid"), col("qv").as("_bv"),
        col("n2").as("_bn2"), col("cell"))
    val hits = corpusA.select(col("id"), col("qv"), col("n2"), col("cell"))
      .join(broadcast(benchA), Seq("cell"))
      // dot referenced three times by the threshold — one Project
      // column (codegen CSE), not a pushed-down triple-eval Filter
      // (the semanticDedup lesson)
      .withColumn("dot",
        graft.plans.GraftExtensions.dotIntNative(col("qv"), col("_bv")))
      .withColumn("_hit", when(col("dot") > 0 &&
        lit(thresholdDen * thresholdDen) * col("dot") * col("dot") >=
          lit(thresholdNum * thresholdNum) * col("n2") * col("_bn2"),
        col("_bid")))
      .groupBy(col("id"))
      .agg(count(col("_hit")).as("n_bench_hits"),
        min(col("_hit")).as("hit_bench_id"))
      .filter(col("n_bench_hits") > 0)
    corpusA.select(col("id"), col("cell"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        coalesce(col("hit_bench_id"), lit(-1L)).as("hit_bench_id"),
        col("n_bench_hits").isNotNull.as("contaminated"))
  }
}
