package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators._
import graft.sources.WavCodec

/** Dedup / similarity / text / multimodal / xval operator behavior on
  * small controlled fixtures (the driver tables exercise them at scale).
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (1L, "the quick brown fox jumps over the lazy dog again and again", "en"), // exact dup of 0
    (2L, "the quick brown fox jumped over the lazy dog again and again", "en"), // near dup
    (3L, "der schnelle braune fuchs springt und springt ein eine mit zu", "de"),
    (4L, "completely different content about spark query engines at scale", "en"))
    .toDF("doc_id", "text", "lang")

  test("exact dedup groups identical texts, keeps min id") {
    val g = Dedup.exact(docs).collect()
    assert(g.length == 4) // 0+1 collapse
    val dup = g.find(_.getAs[Long]("dup_count") == 2).get
    assert(dup.getAs[Long]("keep_id") == 0L)
    assert(Dedup.exactKeep(docs).count() == 4)
  }

  test("minhash LSH finds the near-dup pair, not unrelated docs") {
    // exact dups (0,1) are collapsed to representative 0 before LSH
    val cands = Dedup.minhashCandidates(docs, numHashes = 32, rowsPerBand = 4,
      k = 5, threshold = 0.5).collect()
    val pairs = cands.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(!pairs.contains((0L, 1L))) // exact dup handled by stage-1 collapse
    assert(pairs.contains((0L, 2L))) // near dup vs the representative
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated
    // opting out restores raw pair generation
    val raw = Dedup.minhashCandidates(docs, numHashes = 32, rowsPerBand = 4,
      k = 5, threshold = 0.5, collapseExact = false).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(raw.contains((0L, 1L)))
  }

  test("jaccard verify: exact dup = 1.0, near dup high, cross-lang low") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val v = Dedup.jaccardVerify(docs, pairs, k = 5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(v((0L, 1L)) == 1.0)
    assert(v((0L, 2L)) > 0.6)
    assert(v((0L, 3L)) < 0.2)
  }

  test("setSimJoin equals brute-force pairwise Jaccard (recall = 1)") {
    // 40 docs: 10 templates × 4 variants with per-variant perturbations —
    // a mix of exact dups, near dups, and unrelated pairs
    val corpus = (0 until 40).map { i =>
      val t = i % 10; val v = i / 10
      val base = s"template $t body with shared phrasing segment alpha beta gamma delta " * 3
      val text = if (v == 0) base
        else if (v == 1) base + s" tail$i" // near dup
        else if (v == 2) base.replace("alpha", s"omega$i") // perturbed
        else s"unrelated content number $i entirely different words here"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    def brute(tau: Double): Set[(Long, Long, Int)] = {
      val rows = corpus.select(col("doc_id"),
        Dedup.shingles(col("text"), 5).as("sh")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSet))
      (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
        inter = (sa & sb).size
        if inter.toDouble / (sa.size + sb.size - inter) >= tau
      } yield (ia, ib, inter)).toSet
    }
    // string-set path (xxhash64 of explicit shingles) at k=5
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.setSimJoin(corpus, tau,
          setExpr = Dedup.shingles(col("text"), 5)).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("inter").toInt)).toSet
      assert(got == brute(tau), s"tau=$tau")
    }
    // native digest path (default, k=12): FNV digest intersection counts
    // must equal the string-set truth at the same width
    def brute12(tau: Double): Set[(Long, Long, Int)] = {
      val rows = corpus.select(col("doc_id"),
        Dedup.shingles(col("text"), 12).as("sh")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSet))
      (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
        inter = (sa & sb).size
        if inter.toDouble / (sa.size + sb.size - inter) >= tau
      } yield (ia, ib, inter)).toSet
    }
    for (tau <- Seq(0.5, 0.8)) {
      val got = Dedup.setSimJoin(corpus, tau).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("inter").toInt)).toSet
      assert(got == brute12(tau), s"native k=12 tau=$tau")
    }
    // word-token sets via setExpr: exact dups of the unrelated tier differ
    val wordPairs = Dedup.setSimJoin(corpus, 0.9,
        setExpr = array_distinct(filter(split(lower(col("text")), "\\W+"),
          t => t =!= ""))).count()
    assert(wordPairs >= 10) // template families share whole vocabularies
  }

  test("setSimJoin: byte-gated dfreq join — broadcast and shuffle_hash branches agree (r19)") {
    // the df-annotation join picks broadcast under the session
    // autoBroadcastJoinThreshold and shuffle_hash above/with it
    // disabled; both branches must emit the identical pair set
    val corpus = (0 until 30).map { i =>
      val t = i % 6
      (i.toLong, s"family $t shared shingle stream alpha beta gamma " * 4 +
        (if (i >= 24) s"divergent tail content $i" else ""))
    }.toDF("doc_id", "text")
    def pairs() = Dedup.setSimJoin(corpus, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBroadcast = traced(pairs())
    assert(viaBroadcast.broadcasts)
    val viaShj = withoutBroadcast(traced(pairs()))
    assert(!viaShj.broadcasts &&
      viaShj.plans.exists(_.contains("ShuffledHashJoin")))
    assert(viaShj.result == viaBroadcast.result,
      "shuffle_hash branch must emit the same pairs as the broadcast branch")
  }

  test("blockedLinkPairs: within-block edit-distance pairs; cap drops hot blocks") {
    val recs = Seq(
      (1L, "smith john", "A"), (2L, "smith jon", "A"),   // dist 1, same block
      (3L, "smith john", "B"),                            // identical, other block
      (4L, "smyth joan", "A"),                            // dist 3 from 1
      (5L, "doe jane", "C"), (6L, "doe jane", "C"))       // dist 0 pair
      .toDF("id", "name", "blk")
    val got = Dedup.blockedLinkPairs(recs, "id", "name", "blk", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (5L, 6L, 0L)))
    // a block over the cap contributes nothing; others are untouched
    val flood = (100 to 160).map(i => (i.toLong, s"name$i", "A"))
    val capped = Dedup.blockedLinkPairs(
        recs.union(flood.toDF("id", "name", "blk")),
        "id", "name", "blk", maxDist = 1, maxBlock = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((5L, 6L)))
  }

  test("clusterPairs: chains merge into one component, min id wins") {
    // components: {1,2,3,4} (chain), {10,11}, singletons absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val c = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(c(_) == 1L))
    assert(c(10L) == 10L && c(11L) == 10L)
  }

  test("clusterReport: membership, sizes, canonical flags; singletons absent") {
    val rep = Dedup.clusterReport(docs, numHashes = 32, rowsPerBand = 4,
      k = 5, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_canonical")))
      .toSet
    // docs 0 and 2 are the near-dup pair on the exact reps (1 collapsed
    // into 0 by stage-1 exactKeep); 3 and 4 are unpaired singletons
    assert(rep == Set((0L, 0L, 2L, true), (2L, 0L, 2L, false)))
  }

  test("spelling variants: recovers injected typos with frequencies, skips distance-0") {
    val corpus = Seq(
      (0L, "table window query table"),
      (1L, "tabel windwo query"), // typo'd variants
      (2L, "table unrelated"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.spellingVariantPairs(corpus)
      .orderBy("word_a", "word_b")
      .as[(String, String, Int, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("tabel", "table", 2, 1L, 3L),
      ("window", "windwo", 2, 1L, 1L))) // 'o' < 'w': window sorts first
    // 'query' appears twice but has no variant; identical words never pair
    assert(!got.exists(p => p._1 == p._2))
  }

  test("nearDupKeep drops near-dup group members, keeps min id + unpaired") {
    val kept = Dedup.nearDupKeep(docs, numHashes = 32, rowsPerBand = 4,
      k = 5, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(0L)) // survivor of the 0/1(/2) group
    assert(!kept.contains(1L)) // exact dup dropped
    assert(kept.contains(3L) && kept.contains(4L)) // unrelated docs kept
  }

  test("simhash: identical docs distance 0, near dups close") {
    val c = Dedup.simhashCandidates(docs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("hamming"))
      .toMap
    assert(c.get((0L, 1L)).contains(0L))
    c.get((0L, 2L)).foreach(d => assert(d <= 16))
  }

  test("brute-force knn: nearest neighbor of a vector is its duplicate") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.001f, 0.0f, 0.0f)), // ~dup of 0
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L), k = 1)
      .collect().head
    assert(top.getAs[Long]("neighbor_id") == 1L)
    assert(top.getAs[Double]("cosine") > 0.999)
  }

  test("brute-force knn: partition-local heaps match naive exact top-k, no join in plan") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 50).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val df = base.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
      .repartition(7) // multiple partitions: exercises the per-partition heap merge
    val queries = df.filter($"vec_id" < 5)
    val got = Similarity.bruteForceTopK(df, queries, k = 4)
    got.collect() // finalize AQE plan before asserting on it
    // the scored (query × corpus) pair set must never enter a join/shuffle
    assert(!got.queryExecution.executedPlan.toString.contains("Join"))
    val gotSet = got.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // naive oracle: full scoring + sort, same tie-break
    val naive = (0L until 5L).flatMap { q =>
      val qv = base(q.toInt)._2
      base.filter(_._1 != q)
        .map { case (id, v) => (id, graft.functions.Hashing.cosine(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(4).zipWithIndex
        .map { case ((id, _), r) => (q, id, r + 1) }
    }.toSet
    assert(gotSet == naive)
  }

  test("banded self-joins stay sub-quadratic on boilerplate corpora (bucket cap)") {
    val boiler = (0L until 300L).map(i => (i, "identical boilerplate text body"))
      .toDF("doc_id", "text")
    // 300 identical docs → every band is one degenerate bucket of 300;
    // uncapped that is 300²/2 pairs per band. The cap drops them.
    assert(Dedup.simhashCandidates(boiler, maxBucket = 50).count() == 0)
    assert(Dedup.simhashCandidates(boiler).count() > 0) // default cap admits them
    val vecs = (0L until 300L).map(i => (i, Seq(1.0f, 0.5f, 0.25f, 0.125f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.embeddingNearDup(vecs, 0.9, maxBucket = 50).count() == 0)
    assert(Similarity.embeddingNearDup(vecs, 0.9).count() > 0)
    // lshTopK's corpus×query bucket join has the same degenerate-bucket
    // exposure: 300 identical directions collapse into one bucket per table
    val qs = vecs.filter($"vec_id" < 3)
    assert(Similarity.lshTopK(vecs, qs, k = 2, maxBucket = 50).count() == 0)
    assert(Similarity.lshTopK(vecs, qs, k = 2).count() > 0)
  }

  test("minhash cap drops hot bands; skew guard plans as anti-join, not a window") {
    // Near-identical docs (shared prefix, unique tail): most signature
    // slots agree, so the shared-prefix band buckets go degenerate while
    // tail-perturbed ones stay small — the exact-collapse stage cannot
    // hide them (all texts are distinct).
    val nearBoiler = (0L until 200L)
      .map(i => (i, s"shared boilerplate content repeated across the corpus $i"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(nearBoiler, numHashes = 32,
      rowsPerBand = 4, k = 5, threshold = 0.0, maxBucket = 20,
      collapseExact = false)
    val n = cands.count()
    assert(n < 2000, s"cap failed: $n pairs (uncapped ≈ 19900)")
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), "expected broadcast anti-join skew guard")
    assert(!plan.toLowerCase.contains("window"),
      "skew guard must not shuffle the signature table through a window")
  }

  test("banded self-joins compute the signature kernel once, not per join side") {
    // Spark plans each side of a self-join as its own subtree with no
    // exchange reuse, so an unmaterialized bucket table would run the
    // (expensive) signature kernel and source scan twice. The operators
    // localCheckpoint the signature table; the join must read only the
    // materialized RDD — any LocalTableScan inside the executed plan
    // means the upstream was recomputed.
    val docs = (0L until 120L).map(i => (i, s"document body number $i padded with words " * 3))
      .toDF("doc_id", "text")
    val c = Dedup.minhashCandidates(docs, threshold = 0.1)
    c.count()
    assert(!c.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val vecs = (0L until 80L).map(i => (i, Seq.tabulate(8)(j => (i + j).toFloat)))
      .toDF("vec_id", "embedding")
    val nd = Similarity.embeddingNearDup(vecs, 0.9)
    nd.count()
    assert(!nd.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val sh = Dedup.simhashCandidates(docs)
    sh.count()
    assert(!sh.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("clusterPairs: long chains converge via shortcutting within default rounds") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // driverMaxEdges = 0 forces the distributed min-label loop
    val c = Dedup.clusterPairs(chain, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c.size == 41 && c.values.forall(_ == 0L)) // 2^15 ≫ 41-node diameter
  }

  test("clusterPairs: driver union-find path equals the distributed loop") {
    // chains, a star, a clique, reversed edges, duplicates — both paths
    // must produce identical component-min labels
    val edges = Seq(
      (5L, 3L), (3L, 1L), (2L, 3L),            // star-ish with a non-min hub
      (10L, 11L), (11L, 12L), (12L, 13L),      // chain
      (20L, 21L), (21L, 22L), (20L, 22L),      // clique
      (31L, 30L), (31L, 30L))                  // reversed + duplicate
      .toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = asMap(Dedup.clusterPairs(edges))
    val dist = asMap(Dedup.clusterPairs(edges, driverMaxEdges = 0))
    assert(fast == dist)
    assert(fast(5L) == 1L && fast(2L) == 1L && fast(13L) == 10L &&
      fast(22L) == 20L && fast(31L) == 30L)
    // not passed explicitly, the probe ceiling follows the broadcast
    // threshold: the default solves on the driver (its result is a local
    // table), -1 forces the distributed loop with shuffle joins
    def onDriver(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("LocalTableScan")
    assert(onDriver(Dedup.clusterPairs(edges)))
    val viaLoop = withoutBroadcast(traced {
      val c = Dedup.clusterPairs(edges)
      (onDriver(c), asMap(c))
    })
    assert(viaLoop.result == ((false, fast)))
    assert(viaLoop.joins && !viaLoop.broadcasts,
      viaLoop.plans.mkString("\n"))
  }

  test("duplicateSpans: planted shared run becomes one merged span per doc") {
    // docs 1 and 2 share the 7-word run "one two three four five six seven"
    // → with window 5 that is 3 overlapping duplicated windows → ONE span
    val shared = "one two three four five six seven"
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon zeta eta theta"),
      (2L, s"iota kappa lambda $shared mu nu xi omicron pi rho"),
      (3L, "totally unique words without any repeated run at all here"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(d, window = 5)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // doc 1: shared run at word offsets 2..8; doc 2: at 3..9; doc 3: none
    assert(out.toSeq == Seq((1L, 2L, 8L, 3L), (2L, 3L, 9L, 3L)))
    // disjoint duplicated runs stay separate spans (distinct gap words —
    // a repeated gap word would itself form duplicated windows and
    // legitimately bridge the spans)
    val d2 = Seq(
      (1L, s"$shared gap1 gap2 gap3 gap4 gap5 gap6 $shared"),
      (2L, shared)).toDF("doc_id", "text")
    val spans1 = Dedup.duplicateSpans(d2, window = 5)
      .filter($"doc_id" === 1).as[(Long, Long, Long, Long)].collect()
      .sortBy(_._2)
    assert(spans1.toSeq == Seq((1L, 0L, 6L, 3L), (1L, 13L, 19L, 3L)))
  }

  test("incremental dedup: index+shard composition equals full-corpus LSH") {
    val d = Tables.documents(spark, sf("sf0.001"))
    val idx = d.filter($"doc_id" < 400)
    val inc = d.filter($"doc_id" >= 400)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashCandidates(df, numHashes = 32, rowsPerBand = 4, k = 5,
          threshold = 0.3, collapseExact = false)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val index = Dedup.minhashIndex(idx, numHashes = 32, rowsPerBand = 4, k = 5)
    val cross = Dedup.minhashCandidatesAgainst(index, inc,
        numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.3)
      .select("index_id", "incoming_id").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    // incremental composition: within-index + within-shard + cross ==
    // one LSH pass over the whole corpus (ids are disjoint across sides)
    assert((pairsOf(idx) | pairsOf(inc) | cross) == pairsOf(d))
    assert(cross.nonEmpty, "split corpus should have cross-side near-dups")
  }

  test("withPipeline frees the pipeline's checkpoint blocks on exit") {
    import org.apache.spark.scheduler._
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    def live(id: Int): Boolean = sc.getPersistentRDDs.get(id)
      .exists(_.getStorageLevel != StorageLevel.NONE)
    // unpersist events, and every persisted RDD a stage has read
    val freed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val read = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        freed.add(e.rddId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel != StorageLevel.NONE)
          .foreach(i => read.add(i.id))
    }
    // the bus delivers events in order: once a sentinel's unpersist
    // event has arrived, every earlier event has too
    def drainBus(): Unit = {
      val s = sc.parallelize(Seq(1)).persist()
      s.unpersist(blocking = true)
      val deadline = System.nanoTime() + 60000000000L
      while (!freed.contains(s.id)) {
        assert(System.nanoTime() < deadline, "listener bus stalled")
        Thread.sleep(10)
      }
    }
    // A PageRank result is read after the rounds are built; every stage
    // the call materialized (its adjacency first) must still be live.
    def keepsStagesUntilRead(name: String)(
        run: => org.apache.spark.sql.DataFrame): Unit = {
      val lo = sc.parallelize(Seq(1)).id
      assert(run.count() > 0)
      drainBus()
      val mine = read.asScala.filter(_ > lo)
      assert(mine.nonEmpty, s"$name materialized nothing")
      val gone = mine.filter(id => freed.contains(id) || !live(id))
      assert(gone.isEmpty, s"$name freed stages before scope exit: $gone")
    }
    val und = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    val graph = (und ++ und.map(_.swap)).toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try Dedup.withPipeline {
      // force the distributed path (edges + per-round checkpoints) and run
      // an LSH candidate pass (capBuckets' lazy checkpoint)
      val edges = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      assert(Dedup.clusterPairs(edges, driverMaxEdges = 0).count() == 31)
      assert(Dedup.minhashCandidates(docs, numHashes = 16, rowsPerBand = 4)
        .count() >= 0)
      val during = sc.getPersistentRDDs.keySet -- before
      assert(during.nonEmpty, "pipeline should have live checkpoint blocks")
      keepsStagesUntilRead("pageRankInt")(Graphs.pageRankInt(graph))
      keepsStagesUntilRead("personalizedPageRankInt")(
        Graphs.personalizedPageRankInt(graph, Seq(1L).toDF("node")))
      keepsStagesUntilRead("pageRankIntWeighted")(
        Graphs.pageRankIntWeighted(graph.withColumn("weight", lit(2L))))
      // Bpe.train on both paths: driver fixed point and distributed
      // loop, which runs at least one job per merge
      def train() = traced(graft.functions.Bpe.train(docs, nMerges = 3))
      val (viaDriver, viaLoop) = (train(), withoutBroadcast(train()))
      assert(viaDriver.result.size == 3 && viaLoop.result == viaDriver.result)
      assert(viaLoop.jobs >= viaDriver.jobs + 3,
        s"distributed loop ran ${viaLoop.jobs} jobs, driver ${viaDriver.jobs}")
    } finally sc.removeSparkListener(listener)
    val leaked = (sc.getPersistentRDDs.keySet -- before).filter(live)
    assert(leaked.isEmpty, s"checkpoint blocks still persisted: $leaked")
  }

  test("nested withPipeline: inner scope exit leaves outer blocks live") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Dedup.withPipeline {
      val outer = Dedup.minhashCandidates(docs, numHashes = 16, rowsPerBand = 4)
      assert(outer.count() >= 0) // materializes the outer scope's blocks
      val outerLive = (sc.getPersistentRDDs.keySet -- before)
        .filter(id => sc.getPersistentRDDs(id).getStorageLevel
          != org.apache.spark.storage.StorageLevel.NONE)
      assert(outerLive.nonEmpty, "outer pipeline should hold live blocks")
      Dedup.withPipeline {
        val edges = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
        assert(Dedup.clusterPairs(edges, driverMaxEdges = 0).count() == 31)
      }
      // the inner scope drained only its own registrations: the outer
      // plan's checkpoint blocks must still be persisted and usable
      val survivors = outerLive.filter(id => sc.getPersistentRDDs.get(id)
        .exists(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE))
      assert(survivors == outerLive,
        s"inner scope freed outer blocks: ${outerLive -- survivors}")
      assert(outer.count() >= 0) // lineage-truncated plan still executes
    }
    val leaked = (sc.getPersistentRDDs.keySet -- before)
      .filter(id => sc.getPersistentRDDs(id).getStorageLevel
        != org.apache.spark.storage.StorageLevel.NONE)
    assert(leaked.isEmpty, s"outer exit should free everything: $leaked")
  }

  test("ANN join paths score through the native codegen'd cosine expression") {
    val vecs = (0L until 20L).map(i =>
      (i, Seq(1.0f + i * 0.01f, 0.5f, 0.25f, 0.125f))).toDF("vec_id", "embedding")
    val nd = Similarity.embeddingNearDup(vecs, threshold = 0.5)
    assert(nd.queryExecution.analyzed.toString.contains("graft_cosine"))
    val lsh = Similarity.lshTopK(vecs, vecs.filter($"vec_id" < 2), k = 2)
    assert(lsh.queryExecution.analyzed.toString.contains("graft_cosine"))
  }

  test("LSH ANN recall on clustered vectors") {
    val base = (0 until 40).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(j => if (j / 4 == cluster) 1.0f + 0.01f * i else 0.01f * ((i + j) % 3))
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, df.filter($"vec_id" < 4), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(df, df.filter($"vec_id" < 4), k = 3,
      nPlanes = 8, tables = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("IVF ANN recall vs brute force on clustered vectors") {
    val base = (0 until 60).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(j =>
        if (j / 4 == cluster) 1.0f + 0.01f * i else 0.01f * ((i + j) % 3))
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, df.filter($"vec_id" < 4), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(df, df.filter($"vec_id" < 4), k = 3,
      nCells = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.7, s"IVF recall too low: $recall")
  }

  test("integer-exact IVF: recall vs brute force and layout independence") {
    val base = (0 until 60).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(j =>
        if (j / 4 == cluster) 1.0f + 0.01f * i else 0.01f * ((i + j) % 3))
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, df.filter($"vec_id" < 4), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKInt8(d, d.filter($"vec_id" < 4), k = 3,
          nCells = 8, nProbe = 3, iters = 2)
        .select("query_id", "neighbor_id", "cell", "dot", "rank")
        .as[(Long, Long, Int, Long, Int)].collect().toSet
    val r1 = run(df.repartition(1))
    val r64 = run(df.repartition(64))
    // integer Lloyd rounds + integer re-rank ⇒ the result is a pure
    // function of the data, not of the cluster layout
    assert(r1 == r64)
    val ivf = r1.map { case (q, n, _, _, _) => (q, n) }
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.7, s"int8 IVF recall too low: $recall")
  }

  test("IVF index: parquet roundtrip serves the exact inline-path results") {
    val rnd = new scala.util.Random(404)
    val corpus = (0L until 200L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 10)
    val inline = Similarity.ivfTopKInt8(corpus, queries, k = 3,
      nCells = 8, nProbe = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).sortBy(identity)
    val (cents, assigned) = Similarity.ivfIndexInt8(corpus, nCells = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    Similarity.saveIvfIndex(cents, assigned, dir)
    val (lc, la) = Similarity.loadIvfIndex(spark, dir)
    val served = Similarity.ivfTopKInt8Against(lc, la, queries, k = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).sortBy(identity)
    assert(served.toSeq == inline.toSeq)
  }

  test("PQ ANN (ADC over codes): recall vs brute force and layout independence") {
    val base = (0 until 60).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(j =>
        if (j / 4 == cluster) 1.0f + 0.01f * i else 0.01f * ((i + j) % 3))
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, df.filter($"vec_id" < 4), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopKInt8(d, d.filter($"vec_id" < 4), k = 3,
          m = 4, ksub = 8, iters = 2)
        .select("query_id", "neighbor_id", "adist", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    val r1 = run(df.repartition(1))
    val r64 = run(df.repartition(64))
    assert(r1 == r64) // integer codebooks + integer ADC: layout-invariant
    val pq = r1.map { case (q, n, _, _) => (q, n) }
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall too low: $recall")
  }

  test("PQ refine: exact re-rank of the shortlist; recall >= plain PQ") {
    val base = (0 until 60).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(j =>
        if (j / 4 == cluster) 1.0f + 0.01f * i else 0.01f * ((i + j) % 3))
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 4)
    val brute = Similarity.bruteForceTopK(df, q, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(s: Set[(Long, Long)]) = (brute intersect s).size.toDouble / brute.size
    val pq = Similarity.pqTopKInt8(df, q, k = 3, m = 4, ksub = 8, iters = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val refined = Similarity.pqRefineTopK(df, q, k = 3, refineFactor = 4,
        m = 4, ksub = 8, iters = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(recall(refined) >= recall(pq),
      s"refine recall ${recall(refined)} < PQ recall ${recall(pq)}")
    // the refined ranks ARE the exact-distance order of the shortlist:
    // recompute driver-side from the quantized vectors and compare
    val qv = graft.operators.Embeddings.withInt8Quantized(df)
      .select($"vec_id", $"q").as[(Long, Seq[Int])].collect().toMap
    val shortlist = Similarity.pqTopKInt8(df, q, k = 12, m = 4, ksub = 8, iters = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    def d2(a: Seq[Int], b: Seq[Int]): Long =
      a.iterator.zip(b.iterator).map { case (x, y) => val t = (x - y).toLong; t * t }.sum
    val expected = shortlist.groupBy(_._1).toSeq.flatMap { case (qid, ns) =>
      ns.toSeq.map(n => (n._2, d2(qv(qid), qv(n._2))))
        .sortBy { case (nid, d) => (d, nid) }.take(3).map(p => (qid, p._1))
    }.toSet
    assert(refined == expected)
  }

  test("ANN scan plans never shuffle the corpus (codes/vectors stay map-side)") {
    val df = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(16)(j => (0.1f * ((i + j) % 7))).toSeq)
    }.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 4)
    def exchanges(plan: String): Int = "Exchange".r.findAllIn(plan).length
    // brute force and PQ scans: per-partition heaps over the corpus (or
    // its codes) — the only Exchange allowed is the final tiny window
    // over ≤ |queries|×k×partitions partial top-k rows
    val brute = Similarity.bruteForceTopK(df, q, k = 3)
    assert(exchanges(brute.queryExecution.executedPlan.toString) <= 1,
      brute.queryExecution.executedPlan.toString.take(800))
    val pq = Similarity.pqTopKInt8(df, q, k = 3, m = 4, ksub = 8, iters = 1)
    assert(exchanges(pq.queryExecution.executedPlan.toString) <= 1,
      pq.queryExecution.executedPlan.toString.take(800))
    val ivfpq = Similarity.ivfPqTopKInt8(df, q, k = 3, nCells = 4, nProbe = 2,
      m = 4, ksub = 8, iters = 1)
    assert(exchanges(ivfpq.queryExecution.executedPlan.toString) <= 1,
      ivfpq.queryExecution.executedPlan.toString.take(800))
  }

  test("IVF-PQ ANN (residual codes): recall vs brute force and layout independence") {
    val base = (0 until 60).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(j =>
        if (j / 4 == cluster) 1.0f + 0.01f * i else 0.01f * ((i + j) % 3))
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, df.filter($"vec_id" < 4), k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopKInt8(d, d.filter($"vec_id" < 4), k = 3,
          nCells = 8, nProbe = 4, m = 4, ksub = 8, iters = 2)
        .select("query_id", "neighbor_id", "cell", "adist", "rank")
        .as[(Long, Long, Int, Long, Int)].collect().toSet
    val r1 = run(df.repartition(1))
    val r64 = run(df.repartition(64))
    assert(r1 == r64) // integer trainings + integer ADC: layout-invariant
    val got = r1.map { case (q, n, _, _, _) => (q, n) }
    val recall = (brute intersect got).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF-PQ recall too low: $recall")
  }

  test("text analysis: counts and language id") {
    val out = TextAnalysis.analyze(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[String]("lang_pred") == "en")
    assert(out(3L).getAs[String]("lang_pred") == "de")
    assert(out(0L).getAs[Long]("n_tokens_ws") == 12)
    val q = out(0L).getAs[org.apache.spark.sql.Row]("quality")
    assert(q.getAs[Int]("n_words") == 12)
  }

  test("cleanLines keeps only ≥3-word lines with terminal punctuation (C4 rule)") {
    val doc =
      "Home | About | Contact\n" +          // nav stub: no terminal punct
      "This is a real sentence.\n" +        // kept
      "Short one.\n" +                      // < 3 words
      "  Another good line here!  \n" +     // kept (trimmed)
      "heading without punctuation\n" +     // dropped
      "Is this kept too?"                   // kept
    val out = Seq((1L, doc), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select($"doc_id",
        TextAnalysis.cleanLines($"text").as("c"),
        TextAnalysis.cleanLineCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.get(2)))).toMap
    assert(out(1L)._1 ==
      "This is a real sentence.\n  Another good line here!  \nIs this kept too?")
    assert(out(1L)._2 == 3)
    assert(out(2L) == (("", 0)))
    assert(out(3L)._1 == null) // NULL text propagates
  }

  test("cleanLines: CRLF input behaves like LF; output LF-normalized") {
    val crlf = "Home | About | Contact\r\nA real kept sentence.\r\nshort.\r\n" +
      "Is this kept too?"
    val lf = crlf.replace("\r\n", "\n")
    val out = Seq((1L, crlf), (2L, lf)).toDF("doc_id", "text")
      .select($"doc_id",
        TextAnalysis.cleanLines($"text").as("c"),
        TextAnalysis.cleanLineCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == out(2L)) // CRLF ≡ LF
    assert(out(1L)._1 == "A real kept sentence.\nIs this kept too?")
    assert(out(1L)._2 == 2)
    assert(!out(1L)._1.contains("\r")) // no stray carriage returns survive
  }

  test("perplexity score: bigram fold, short docs zero, loaded-LM path agrees") {
    val d = Seq(
      (0L, "the quick brown fox"), // 3 bigrams
      (1L, "one"),                 // 1 word → no bigrams
      (2L, ""),                    // empty
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.perplexityScore(d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(3L, 0L, 0L, 0L))
    assert(out(0)._3 < 0 && out(0)._4 < 0) // negative log-probs
    assert(out(0)._4 >= out(0)._3) // mean ≥ sum for ≥1 bigram
    assert(out.drop(1).forall(r => r._3 == 0L && r._4 == 0L))
    // loaded-LM path: a table holding the same hash-derived values must
    // reproduce the expression path exactly (production = real sidecar)
    val ws = Seq("the", "quick", "brown", "fox")
    val lmVals = ws.zip(ws.tail).map { case (a, b) =>
      val lp = d.sparkSession.range(1).select(
        TextAnalysis.bigramLogProb(lit(a), lit(b))).as[Long].head()
      ((a, b), lp)
    }.toMap
    val loaded = TextAnalysis.scoreBigramLm(d, lmVals, unkLp = -9999L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(loaded(0) == out(0))
    // unseen bigrams hit unkLp, not silence
    val unk = TextAnalysis.scoreBigramLm(
      Seq((9L, "alpha beta")).toDF("doc_id", "text"), lmVals, unkLp = -9999L)
      .as[(Long, Long, Long, Long)].head()
    assert(unk == ((9L, 1L, -9999L, -9999L)))
  }

  test("ccnetSample: head kept whole, tail thinned, split is score-deterministic") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val scored = TextAnalysis.perplexityScore(docs)
    // thresholds from this corpus's rough terciles
    val Array(t1, t2) = scored.stat.approxQuantile("mean_lp", Array(1.0 / 3, 2.0 / 3), 0.0)
    val out = TextAnalysis.ccnetSample(docs, headLp = t2.toLong, tailLp = t1.toLong,
      fractions = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1), seed = 13)
    val byBucket = out.groupBy("ppl_bucket").count()
      .as[(String, Long)].collect().toMap
    val totalByBucket = scored.withColumn("ppl_bucket",
        when($"mean_lp" >= t2.toLong, "head")
          .when($"mean_lp" >= t1.toLong, "middle").otherwise("tail"))
      .groupBy("ppl_bucket").count().as[(String, Long)].collect().toMap
    assert(byBucket("head") == totalByBucket("head")) // fraction 1.0 keeps all
    assert(byBucket.getOrElse("tail", 0L) < totalByBucket("tail")) // thinned
    // deterministic: identical kept set on re-run
    val ids1 = out.select("doc_id").as[Long].collect().toSet
    val ids2 = TextAnalysis.ccnetSample(docs, headLp = t2.toLong, tailLp = t1.toLong,
        fractions = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1), seed = 13)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
  }

  test("word ngrams: full grams only; short docs → empty") {
    val d = Seq((0L, "a b c d"), (1L, "a b")).toDF("doc_id", "text")
    val g = d.select($"doc_id", TextAnalysis.wordNgrams($"text", 3).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(g(0L) == Seq("a b c", "b c d"))
    assert(g(1L).isEmpty)
  }

  test("xval: sequential kfold balanced within groups; hash kfold deterministic") {
    val df = (1 to 40).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "g")
    val seqF = Xval.sequentialKfold(df, 4, "g", "id")
    val sizes = seqF.groupBy("g", "fold").count().select("count").as[Long].collect()
    assert(sizes.forall(_ == 5)) // 40 rows / 2 groups / 4 folds
    val h1 = Xval.hashKfold(df, 4, "id").select("fold").as[Int].collect().toSeq
    val h2 = Xval.hashKfold(df, 4, "id").select("fold").as[Int].collect().toSeq
    assert(h1 == h2)
    assert(h1.toSet.subsetOf(Set(0, 1, 2, 3)))
  }

  test("xval fold masks route test_only rows to test only (dataset.py:981-985)") {
    val df = Seq((1L, 0, 0.0), (2L, 1, 0.0), (3L, 0, 1.0)).toDF("id", "fold", "test_only")
    val m = Xval.foldMasks(df, 2, Some("test_only"))
    val r3 = m.filter($"id" === 3L).head()
    assert(!r3.getAs[Boolean]("xval_train_fold_0") && !r3.getAs[Boolean]("xval_train_fold_1"))
    assert(r3.getAs[Boolean]("xval_test_fold_0") && r3.getAs[Boolean]("xval_test_fold_1"))
    assert(Xval.xvalSet(m, "train", 0).select("id").as[Long].collect().toSet == Set(2L))
  }

  test("fold masks: NULL test_only means not-test-only (partition invariant holds)") {
    // a NULL in test_only must not drop the row from every set via
    // three-valued logic — it is an ordinary (non-test-only) row
    val df = Seq[(Long, Int, java.lang.Double)]((1L, 0, 0.0), (2L, 1, null),
      (3L, 0, 1.0)).toDF("id", "fold", "test_only")
    val m = Xval.foldMasks(df, 2, Some("test_only"))
    for (k <- 0 until 2) {
      val tr = Xval.xvalSet(m, "train", k).select("id").as[Long].collect().toSet
      val te = Xval.xvalSet(m, "test", k).select("id").as[Long].collect().toSet
      assert((tr & te).isEmpty && (tr | te) == Set(1L, 2L, 3L)) // exhaustive
    }
    assert(Xval.xvalSet(m, "train", 0).select("id").as[Long].collect().toSet == Set(2L))
    val mv = Xval.foldMasksVal(df, 2, valFrac = 0.5, valKey = "id",
      testOnlyCol = Some("test_only"), seed = 7)
    for (k <- 0 until 2) {
      val tr = Xval.xvalSet(mv, "train", k).select("id").as[Long].collect().toSet
      val va = Xval.xvalSet(mv, "val", k).select("id").as[Long].collect().toSet
      val te = Xval.xvalSet(mv, "test", k).select("id").as[Long].collect().toSet
      assert((tr | va | te) == Set(1L, 2L, 3L)) // NULL row lands somewhere
      assert((tr & va).isEmpty && (tr & te).isEmpty && (va & te).isEmpty)
    }
  }

  test("foldMasksVal: train/val/test partition each fold; test_only → test (xval.py:69-78)") {
    val df = (0 until 200).map(i =>
      (i.toLong, if (i % 10 == 0) 1.0 else 0.0)).toDF("id", "test_only")
    val folded = Xval.hashKfold(df, 4, "id")
    val m = Xval.foldMasksVal(folded, 4, valFrac = 1.0 / 3, valKey = "id",
      testOnlyCol = Some("test_only"), seed = 7)
    val testOnlyIds = (0 until 200 by 10).map(_.toLong).toSet
    for (k <- 0 until 4) {
      val tr = Xval.xvalSet(m, "train", k).select("id").as[Long].collect().toSet
      val va = Xval.xvalSet(m, "val", k).select("id").as[Long].collect().toSet
      val te = Xval.xvalSet(m, "test", k).select("id").as[Long].collect().toSet
      // disjoint and exhaustive per fold
      assert((tr & va).isEmpty && (tr & te).isEmpty && (va & te).isEmpty)
      assert((tr | va | te).size == 200)
      // test_only rows sit in every test fold, never in train/val
      assert(testOnlyIds.subsetOf(te))
      assert((tr & testOnlyIds).isEmpty && (va & testOnlyIds).isEmpty)
      // val is a nonempty sample of the train side, ~valFrac of it
      val side = tr.size + va.size
      assert(va.nonEmpty && math.abs(va.size.toDouble / side - 1.0 / 3) < 0.15)
    }
    // layout-independent: same masks on any partitioning
    val m64 = Xval.foldMasksVal(Xval.hashKfold(df.repartition(64), 4, "id"), 4,
      valFrac = 1.0 / 3, valKey = "id", testOnlyCol = Some("test_only"), seed = 7)
    assert(Xval.xvalSet(m64, "val", 2).select("id").as[Long].collect().toSet ==
      Xval.xvalSet(m, "val", 2).select("id").as[Long].collect().toSet)
  }

  test("keyed randomKfold/stratifiedKfold: identical folds under any layout") {
    val df = (0 until 400).map(i => (i.toLong, s"l${i % 3}")).toDF("id", "label")
    def collectFolds(d: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      d.select($"id", $"fold".cast("int")).as[(Long, Int)].collect().toSet
    val r1 = collectFolds(Xval.randomKfold(df.repartition(1), 4, seed = 3,
      keyCol = Some("id")))
    val r64 = collectFolds(Xval.randomKfold(df.repartition(64), 4, seed = 3,
      keyCol = Some("id")))
    assert(r1 == r64)
    // rank-based assignment stays exactly balanced
    val sizes = r1.groupBy(_._2).map(_._2.size).toSeq
    assert(sizes.size == 4 && sizes.max - sizes.min <= 1)
    val s1 = collectFolds(Xval.stratifiedKfold(df.repartition(1), 4, "label",
      seed = 3, keyCol = Some("id")))
    val s64 = collectFolds(Xval.stratifiedKfold(df.repartition(64), 4, "label",
      seed = 3, keyCol = Some("id")))
    assert(s1 == s64)
  }

  test("approx aggregates within tolerance of exact (HLL++, t-digest)") {
    val li = Tables.lineitem(spark, sf())
    val exact = li.select(countDistinct("l_partkey")).as[Long].head()
    val approx = li.select(approx_count_distinct("l_partkey")).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
    val exactMedian = li.select(expr("percentile(l_extendedprice, 0.5)")).as[Double].head()
    val approxMedian = li.select(percentile_approx(col("l_extendedprice"),
      lit(0.5), lit(10000))).as[Double].head()
    assert(math.abs(approxMedian - exactMedian) / exactMedian < 0.05)
  }

  test("salted aggregation equals plain aggregation (skew path)") {
    // heavily skewed key: 90% of rows share one key
    val df = (1 to 2000).map(i =>
      (if (i % 10 == 0) s"k$i" else "hot", i.toDouble)).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSumCount(df, "k", "v", saltBuckets = 8)
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("xval folds save/load round-trip via parquet sidecar") {
    val df = (1L to 20L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val folded = Xval.hashKfold(df, 4, "id")
    val path = java.nio.file.Files.createTempDirectory("graft_xval").toString + "/folds"
    Xval.saveFolds(folded, "id", path)
    val loaded = Xval.loadFolds(df, "id", path)
    assert(loaded.select("id", "fold").as[(Long, Int)].collect().toMap ==
      folded.select("id", "fold").as[(Long, Int)].collect().toMap)
  }

  test("wav codec roundtrip pcm16") {
    val fs = 8000
    val samples = Array.tabulate(1000)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / fs))
    val bytes = WavCodec.encodePcm16(samples, fs)
    val w = WavCodec.decode(bytes)
    assert(w.fs == fs && w.channels == 1 && w.samples.length == 1000)
    samples.zip(w.samples).foreach { case (a, b) => assert(math.abs(a - b) < 1e-4) }
    // range pushdown
    val part = WavCodec.decode(bytes, readRange = Some((100, 200)))
    assert(part.samples.length == 100)
    assert(math.abs(part.samples(0) - w.samples(100)) < 1e-12)
  }

  test("wav resample-on-read equals decode→Resample chain (processors.py:33-37,59-65)") {
    val fs = 8000
    val samples = Array.tabulate(fs)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / fs))
    val bytes = WavCodec.encodePcm16(samples, fs)
    // golden: read-time resample ≡ plain decode followed by the Resample kernel
    val onRead = WavCodec.decode(bytes, targetFs = Some(4000), resample = true)
    assert(onRead.fs == 4000 && onRead.samples.length == 4000)
    val chained = graft.functions.Dsp.resample(WavCodec.decode(bytes).samples, 4000)
    onRead.samples.zip(chained).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    // matching rate: no-op
    val same = WavCodec.decode(bytes, targetFs = Some(fs))
    assert(same.fs == fs && same.samples.length == fs)
    // mismatched rate without resample=true fails like the reference assert
    intercept[IllegalArgumentException] {
      WavCodec.decode(bytes, targetFs = Some(4000))
    }
  }

  test("wav stereo: channel select, per-channel resample preserves interleaving") {
    val fs = 8000
    val left = Array.tabulate(fs)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / fs))
    val right = Array.tabulate(fs)(i => 0.3 * math.sin(2 * math.Pi * 880 * i / fs))
    val inter = Array.tabulate(fs * 2)(i => if (i % 2 == 0) left(i / 2) else right(i / 2))
    val bytes = WavCodec.encodePcm16(inter, fs, channels = 2)

    val both = WavCodec.decode(bytes)
    assert(both.channels == 2 && both.samples.length == fs * 2)
    val chL = WavCodec.decode(bytes, channel = Some(0))
    assert(chL.channels == 1 && chL.samples.length == fs)
    assert(math.abs(chL.samples(100) - left(100)) < 1e-4)

    // stereo resample-on-read: each channel independently resampled,
    // output stays interleaved — equals resampling the deinterleaved
    // channels with the shared kernel
    val rs = WavCodec.decode(bytes, targetFs = Some(4000), resample = true)
    assert(rs.channels == 2 && rs.samples.length == 4000 * 2)
    val expL = graft.functions.Dsp.resample(both.samples.zipWithIndex.collect {
      case (v, i) if i % 2 == 0 => v }, 4000)
    val expR = graft.functions.Dsp.resample(both.samples.zipWithIndex.collect {
      case (v, i) if i % 2 == 1 => v }, 4000)
    (0 until 4000).foreach { f =>
      assert(math.abs(rs.samples(2 * f) - expL(f)) < 1e-12)
      assert(math.abs(rs.samples(2 * f + 1) - expR(f)) < 1e-12)
    }
  }

  test("multimodal: REAL JDK PNG decode — exact pixels, bilinear resize, dispatch") {
    import java.awt.image.BufferedImage
    // synthesize a 2×2 PNG with exact channel values
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0x00FF00)
    img.setRGB(0, 1, 0x0000FF); img.setRGB(1, 1, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    // no-resize decode is EXACT (PNG is lossless)
    val px = Multimodal.imageioDecodeRgb(png, 2, 2)
    assert(px.toSeq == Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f, 1f, 1f, 1f))
    // dispatch: a real PNG takes the codec path (≠ the fake's hash
    // pixels), garbage takes the fake path unchanged
    assert(Multimodal.decodeRgb(png, 2, 2).toSeq == px.toSeq)
    assert(Multimodal.imageioDecodeRgb("not an image".getBytes, 2, 2) == null)
    assert(Multimodal.decodeRgb("not an image".getBytes, 2, 2).toSeq ==
      Multimodal.fakeDecodeRgb("not an image".getBytes, 2, 2).toSeq)
    // resize runs and stays in [0,1] with sane mass (4× upscale of the
    // 4-color square keeps per-channel means near the originals)
    val up = Multimodal.imageioDecodeRgb(png, 8, 8)
    assert(up.length == 8 * 8 * 3)
    assert(up.forall(v => v >= 0f && v <= 1f))
    val rMean = up.grouped(3).map(_(0)).sum / 64f
    assert(rMean > 0.2f && rMean < 0.8f, s"rMean=$rMean")
    // the Spark column path decodes the PNG too
    val viaCol = Seq((1L, png)).toDF("id", "payload")
      .select(Multimodal.decodeResize($"payload", 2, 2).as("px"))
      .as[Seq[Float]].head()
    assert(viaCol == px.toSeq)
  }

  test("perceptual dHash: hand-computed bits; re-encode/resize invariant on real PNGs; groups collapse") {
    import java.awt.image.BufferedImage
    // hand-computable fixture: gray(x,y) = x (horizontal ramp) → every
    // gradient bit set → hash halves 0xFFFFFFFF each; vertical ramp →
    // no horizontal gradient → both halves 0
    def rampPixels(horizontal: Boolean): Seq[Float] =
      (0 until 8).flatMap(y => (0 until 9).flatMap { x =>
        val v = (if (horizontal) x else y).toFloat / 10f
        Seq(v, v, v)
      })
    val fixtures = Seq((1L, rampPixels(true)), (2L, rampPixels(false)))
      .toDF("id", "px")
    val (hi, lo) = Multimodal.dHashHalves(col("px"))
    val hs = fixtures.select(col("id"), hi.as("hi"), lo.as("lo"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(hs(1L) == ((0xFFFFFFFFL, 0xFFFFFFFFL)))
    assert(hs(2L) == ((0L, 0L)))
    // real-codec robustness: the same picture at 32×32 and re-encoded
    // at 64×64 must dHash identically; a different picture must not
    def mkPng(w: Int, h: Int, invert: Boolean): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (255 * x / (w - 1))
        val g = if (invert) 255 - v else v
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val payloads = Seq(
      (10L, mkPng(32, 32, invert = false)),
      (11L, mkPng(64, 64, invert = false)), // same picture, resized
      (12L, mkPng(32, 32, invert = true))) // different picture
      .toDF("doc_id", "payload")
    val groups = Multimodal.perceptualDedup(payloads)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._4 -> r._3).toMap // keep_id -> n_images
    assert(groups == Map(10L -> 2L, 12L -> 1L),
      s"resize robustness broken: $groups")
  }

  test("multimodal: fake decode deterministic, media stats real") {
    val a = Multimodal.fakeDecodeRgb("img-a".getBytes, 4, 4)
    val b = Multimodal.fakeDecodeRgb("img-a".getBytes, 4, 4)
    val c = Multimodal.fakeDecodeRgb("img-b".getBytes, 4, 4)
    assert(a.toSeq == b.toSeq && a.toSeq != c.toSeq)
    assert(a.length == 48 && a.forall(v => v >= 0f && v <= 1f))
    val df = Seq(Tuple1("hello".getBytes)).toDF("bin")
    val stats = df.select(Multimodal.mediaStats($"bin").as("m")).select("m.*").head()
    assert(stats.getAs[Long]("n_bytes") == 5L)
    assert(stats.getAs[String]("digest") == "5d41402abc4b2a76b9719d911017c592") // md5("hello")
  }

  test("asof join: latest right value at or before each left time") {
    val clicks = Seq((1L, 100L, 10L), (1L, 101L, 25L), (2L, 102L, 10L))
      .toDF("user_id", "event_id", "us")
    val purchases = Seq((1L, 10L, 5.0, 900L), (1L, 20L, 7.0, 901L), (2L, 50L, 9.0, 902L))
      .toDF("user_id", "us", "purchase_value", "p_event_id")
    val out = graft.operators.Asof.join(clicks, purchases, "user_id",
        "us", "us", Seq("purchase_value"), tiebreak = Some("p_event_id"))
      .select("event_id", "purchase_value")
      .as[(Long, Option[Double])].collect().toMap
    assert(out(100L).contains(5.0)) // t=10: purchase at 10 visible (<=)
    assert(out(101L).contains(7.0)) // t=25: latest is t=20
    assert(out(102L).isEmpty)       // t=10 < first purchase at 50 → null
  }

  test("nearest asof join: tie prefers backward, tolerance nulls, same-µs is Δ=0") {
    val left = Seq((1L, 100L, 50L), (1L, 101L, 10L), (1L, 102L, 500L),
      (2L, 103L, 20L))
      .toDF("user_id", "event_id", "us")
    val right = Seq((1L, 40L), (1L, 60L), (1L, 10L), (2L, 200L))
      .toDF("user_id", "pus")
    val out = graft.operators.Asof.nearestJoin(left, right, "user_id",
        "us", "pus", toleranceUs = 100L)
      .select("event_id", "nearest_us")
      .as[(Long, Option[Long])].collect().toMap
    assert(out(100L).contains(40L)) // t=50: 40 (Δ10) vs 60 (Δ10) tie → backward
    assert(out(101L).contains(10L)) // t=10: right at same µs, Δ=0
    assert(out(102L).isEmpty)       // t=500: nearest 60 is Δ440 > 100
    assert(out(103L).isEmpty)       // t=20: forward 200 is Δ180 > 100
  }

  test("corpus jaccard: identical sources give 1.0, disjoint give 0.0") {
    val docs = Seq(
      (1L, "A", "hello world"), (2L, "B", "hello world"),
      (3L, "C", "zzzzzqqqqq"))
      .toDF("doc_id", "src", "text")
    val same = Dedup.corpusJaccard(docs, "src", "A", "B").collect().head
    assert(same.getAs[Double]("jaccard") == 1.0)
    assert(same.getAs[Long]("n_a") == same.getAs[Long]("n_union"))
    val disj = Dedup.corpusJaccard(docs, "src", "A", "C").collect().head
    assert(disj.getAs[Double]("jaccard") == 0.0)
    assert(disj.getAs[Long]("n_inter") == 0L)
  }

  test("binned range join equals naive non-equi join") {
    val points = Seq((1L, 5L), (1L, 15L), (1L, 50L), (2L, 15L))
      .toDF("k", "t")
    val intervals = Seq((1L, 0L, 10L, "a"), (1L, 12L, 30L, "b"), (2L, 10L, 20L, "c"))
      .toDF("k", "s", "e", "tag")
    val naive = points.join(intervals, points("k") === intervals("k") &&
        points("t") >= intervals("s") && points("t") <= intervals("e"))
      .select(points("t"), intervals("tag")).as[(Long, String)].collect().toSet
    val binned = graft.operators.Asof.binnedRangeJoin(
        points, intervals, "k", "t", "s", "e", binWidth = 8)
      .select("t", "tag").as[(Long, String)].collect().toSet
    assert(binned == naive)
    assert(naive == Set((5L, "a"), (15L, "b"), (15L, "c")))
  }

  test("tfidf: common terms downweighted vs rare terms") {
    val corpus = (0 until 20).map(i =>
      (i.toLong, if (i == 0) "common rareword" else "common filler" + i))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(corpus, "text", dim = 256)
      .filter($"doc_id" === 0L).select("tfidf").as[Seq[Double]].head()
    val nonzero = out.filter(_ > 0).sorted
    assert(nonzero.length == 2) // "common" and "rareword" buckets
    // rare term weight strictly above ubiquitous term weight
    assert(nonzero.last > nonzero.head * 2)
  }

  test("hashingTf: fixed-width, deterministic, counts words") {
    val df = Seq((0L, "spark spark flies"), (1L, "")).toDF("doc_id", "text")
    val v = df.select($"doc_id", TextAnalysis.hashingTf($"text", 64).as("tf"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(v(0L).length == 64 && v(1L).length == 64)
    assert(v(0L).sum == 3.0) // three tokens total
    assert(v(0L).max == 2.0) // "spark" twice in one bucket
    assert(v(1L).sum == 0.0)
  }

  test("scoreLinear: one-pass kernel equals hashingTf · weights; custom weights plumb through") {
    val df = Seq((0L, "spark spark flies high"), (1L, ""), (2L, "don't stop"))
      .toDF("doc_id", "text")
    val dim = 64
    val w = graft.functions.Hashing.qualityWeights(dim, seed = 42L)
    val got = TextAnalysis.scoreLinear(df, dim = dim, seed = 42L)
      .select("doc_id", "score_raw", "n_toks")
      .as[(Long, Long, Long)].collect()
      .map { case (id, raw, n) => id -> ((raw, n)) }.toMap
    // independent recomputation: dense tf vector dotted with the weights
    val tf = df.select($"doc_id", TextAnalysis.hashingTf($"text", dim).as("tf"))
      .as[(Long, Seq[Double])].collect().toMap
    for ((id, (raw, n)) <- got) {
      val expect = tf(id).zipWithIndex.map { case (c, b) => c.toLong * w(b) }.sum
      assert(raw == expect, s"doc $id")
      assert(n == tf(id).sum.toLong)
    }
    // empty doc: zero tokens, score 0, kept (score >= 0)
    val row1 = TextAnalysis.scoreLinear(df, dim = dim)
      .filter($"doc_id" === 1L)
      .select("score", "keep").as[(Double, Boolean)].head()
    assert(row1 == ((0.0, true)))
    // custom weight vector overrides the stand-in
    val allNeg = Array.fill(dim)(-1L)
    val neg = TextAnalysis.scoreLinear(df, dim = dim, weights = Some(allNeg))
      .filter($"doc_id" === 0L)
      .select("score_raw", "keep").as[(Long, Boolean)].head()
    assert(neg == ((-4L, false))) // 4 tokens × −1
    // the tokenizer is ASCII by definition (== the oracle regex): a
    // non-ASCII letter separates tokens rather than joining one
    val (sUml, _) = graft.functions.Hashing.linearScore("über café", w)
    val (sAsc, _) = graft.functions.Hashing.linearScore("ber caf", w)
    assert(sUml == sAsc)
  }

  test("embeddings: L2-normalize yields unit vectors; int8 quantize bounds error") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),          // norm 5
      (2L, Seq(0.0f, 0.0f)),          // zero vector: passes through
      (3L, Seq(-1.5f, 0.5f, 2.0f)))
      .toDF("vec_id", "embedding")
    val unit = Embeddings.withL2Normalized(df)
      .select("vec_id", "unit").as[(Long, Seq[Double])].collect().toMap
    assert(unit(1L) == Seq(0.6, 0.8))
    assert(unit(2L) == Seq(0.0, 0.0)) // no NaN from the zero vector
    assert(math.abs(unit(3L).map(x => x * x).sum - 1.0) < 1e-12)

    val quant = Embeddings.withInt8Quantized(df)
    val rows = quant.select("vec_id", "scale", "q")
      .as[(Long, Double, Seq[Int])].collect()
      .map { case (id, s, q) => id -> ((s, q)) }.toMap
    assert(rows(1L)._1 == 127.0 / 4.0 && rows(1L)._2 == Seq(95, 127))
    assert(rows(2L) == ((1.0, Seq(0, 0))))
    assert(rows.values.forall(_._1 > 0))
    assert(rows.values.forall(_._2.forall(v => v >= -127 && v <= 127)))
    // dequantized error ≤ 0.5/scale per element
    val deq = quant
      .select($"vec_id", $"embedding", $"scale",
        Embeddings.dequantize($"q", $"scale").as("d"))
      .as[(Long, Seq[Float], Double, Seq[Double])].collect()
    for ((_, orig, scale, d) <- deq; (o, r) <- orig.zip(d))
      assert(math.abs(o - r) <= 0.5 / scale + 1e-12)
  }

  test("multimodal: batched mapPartitions decode matches per-row decode") {
    val df = Seq((1L, "img-a".getBytes), (2L, "img-b".getBytes))
      .toDF("id", "payload")
    val batched = Multimodal.decodeResizeBatched(df, 4, 4)
      .as[(Long, Seq[Float])].collect().toMap
    val perRow = df.select($"id", Multimodal.decodeResize($"payload", 4, 4).as("px"))
      .as[(Long, Seq[Float])].collect().toMap
    assert(batched == perRow)
  }

  test("embedding near-dup finds planted duplicate pair") {
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 7 + j).toFloat).toSeq)
    }
    val planted = base :+ (100L, base(5)._2.map(v => v * 1.0001f))
    val df = planted.toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDup(df, threshold = 0.999, tables = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((5L, 100L)))
  }

  /** True iff some window with an empty partitionSpec runs over the data
    * itself (any empty-partition window must sit above an Aggregate — the
    * tiny per-bucket counts — never the raw table).
    */
  private def hasUnpartitionedDataWindow(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty && w.collectFirst {
          case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => ()
        }.isEmpty => w
    }.nonEmpty

  test("two-phase global ranks match the naive global window exactly (ties included)") {
    val df = (1 to 500).map(i => (i.toLong, (i * 37 % 211).toDouble)).toDF("k", "v")
    // unique full sort key (v, k)
    val got = Ranking.withGlobalRanks(df, Seq("v", "k"))
      .select("k", "pr", "cd").as[(Long, Double, Double)].collect().sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v", $"k")
    val naive = df.select($"k", percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got.toSeq == naive.toSeq)
    // tieFree fast path (skips the desc-rank window) agrees on unique keys
    val fast = Ranking.withGlobalRanks(df, Seq("v", "k"), tieFree = true)
      .select("k", "pr", "cd").as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(fast.toSeq == naive.toSeq)
    // tie groups on the full sort key (v alone; 211 distinct over 500 rows)
    val gotT = Ranking.withGlobalRanks(df, Seq("v"))
      .select("k", "pr", "cd").as[(Long, Double, Double)].collect().sortBy(_._1)
    val wT = org.apache.spark.sql.expressions.Window.orderBy($"v")
    val naiveT = df.select($"k", percent_rank().over(wT).as("pr"), cume_dist().over(wT).as("cd"))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(gotT.toSeq == naiveT.toSeq)
  }

  test("withGlobalRowNumber + pplTerciles: exact positions, brute-force agreement") {
    // row numbers match a naive global window on a total order
    val df = (1 to 500).map(i => ((i * 37 % 211).toLong, i.toLong)).toDF("v", "k")
    val got = Ranking.withGlobalRowNumber(df, Seq("v", "k"))
      .select("k", "grank", "gn").as[(Long, Long, Long)].collect().sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v", $"k")
    val naive = df.select($"k",
        row_number().over(w).cast("long").as("grank"), lit(500L).as("gn"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == naive.toSeq)
    // tercile thresholds equal the brute-force positional read-off
    val docs = Tables.documents(spark, sf("sf0.001"))
    val row = TextAnalysis.pplTerciles(docs).head()
    val (n, head, tail) = (row.getAs[Long]("n_docs"),
      row.getAs[Long]("head_lp"), row.getAs[Long]("tail_lp"))
    val scored = TextAnalysis.perplexityScore(docs)
      .select("mean_lp", "doc_id").as[(Long, Long)].collect()
      .sortBy(identity)
    assert(n == scored.length)
    def atDescRank(k: Long): Long = scored((n - k + 1 - 1).toInt)._1
    assert(head == atDescRank((n + 2) / 3))
    assert(tail == atDescRank((2 * n + 2) / 3))
    // the head bucket the thresholds induce holds at least a third
    assert(scored.count(_._1 >= head) >= (n + 2) / 3)
  }

  test("global ranks: constant leading column degrades to one bucket, still exact") {
    // worst-case skew: every leading value identical → the quantile sketch
    // yields no usable cuts → a single bucket; serial but exact
    val df = (1 to 100).map(i => (i.toLong, 7.0)).toDF("k", "v")
    val got = Ranking.withGlobalRanks(df, Seq("v", "k"))
      .select("k", "pr", "cd").as[(Long, Double, Double)].collect().sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v", $"k")
    val naive = df.select($"k", percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got.toSeq == naive.toSeq)
    // single row: percent_rank defined as 0
    val one = Seq((1L, 5.0)).toDF("k", "v")
    val r1 = Ranking.withGlobalRanks(one, Seq("v", "k"))
      .select("pr", "cd").as[(Double, Double)].head()
    assert(r1 == ((0.0, 1.0)))
  }

  test("global ranks plan keeps every data window partitioned (q61 scale shape)") {
    val df = (1 to 500).map(i => (i.toLong, (i * 37 % 211).toDouble)).toDF("k", "v")
    assert(!hasUnpartitionedDataWindow(Ranking.withGlobalRanks(df, Seq("v", "k"))))
    // and the naive formulation is correctly detected as the anti-pattern
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v", $"k")
    assert(hasUnpartitionedDataWindow(df.select(percent_rank().over(w).as("pr"))))
  }

  test("two-phase global operators scan their input exactly once") {
    // count upstream row evaluations with an accumulator inside a
    // nondeterministic udf: the quantile sketch, the per-bucket counts,
    // and the final query must all feed off ONE materialized pass
    // (1–2 redundant fact-table scans is real money at 100 TB)
    val acc = spark.sparkContext.longAccumulator("rows-scanned")
    val bump = udf { (x: Long) => acc.add(1L); x }.asNondeterministic()
    def src = spark.range(0, 1000, 1, 8)
      .select(bump($"id").as("v"), $"id".as("k"))
    val ranked = Ranking.withGlobalRanks(src, Seq("v", "k"), tieFree = true)
    assert(ranked.count() == 1000)
    assert(acc.value == 1000L,
      s"withGlobalRanks evaluated the input ${acc.value / 1000.0}x (want 1x)")
    acc.reset()
    val run = Packing.withRunningTotal(src, Seq("k"), "v")
    assert(run.count() == 1000)
    assert(acc.value == 1000L,
      s"withRunningTotal evaluated the input ${acc.value / 1000.0}x (want 1x)")
  }

  test("running total matches the naive global window; plan stays partitioned") {
    val df = (1 to 500).map(i => (i.toLong, (i * 13 % 97).toLong)).toDF("k", "v")
    val got = Packing.withRunningTotal(df, Seq("k"), "v", outCol = "rt")
      .select("k", "rt").as[(Long, Long)].collect().sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = df.select($"k", sum($"v").over(w).as("rt"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == naive.toSeq)
    assert(!hasUnpartitionedDataWindow(Packing.withRunningTotal(df, Seq("k"), "v")))
  }

  test("packSequences: spans partition the token stream; empty docs zero-width") {
    // budget 10; docs: 4, 0, 13, 10, 3 tokens
    val docs = Seq(
      (1L, "a b c d"),            // cb=0  → seq 0..0, off 0
      (2L, "   "),                // cb=4  → empty: seq 0..0, off 4
      (3L, (1 to 13).map(i => s"t$i").mkString(" ")), // cb=4 → seqs 0..1, off 4
      (4L, (1 to 10).map(i => s"u$i").mkString(" ")), // cb=17 → seqs 1..2, off 7
      (5L, "x y z"))              // cb=27 → seq 2..2, off 7
      .toDF("doc_id", "text")
    val got = Packing.packSequences(docs, budget = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "cum_before", "seq_start", "seq_end", "offset_in_seq")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 0L, 0L, 0L, 0L),
      (2L, 0L, 4L, 0L, 0L, 4L),
      (3L, 13L, 4L, 0L, 1L, 4L),
      (4L, 10L, 17L, 1L, 2L, 7L),
      (5L, 3L, 27L, 2L, 2L, 7L)))
    // invariant: consecutive docs tile the stream (cum_before is exact)
    val cb = got.map(_._3); val nt = got.map(_._2)
    assert(cb.zip(nt).map { case (c, n) => c + n }.dropRight(1) == cb.drop(1))
  }

  test("groupRandomKfold: balanced folds, members follow their group (xval.py:27-43)") {
    val df = (1 to 200).map(i => (i.toLong, s"g${i % 25}")).toDF("id", "grp")
    val folded = Xval.groupRandomKfold(df, 4, "grp", seed = 3)
    val assign = folded.select("grp", "fold").distinct()
    assert(assign.count() == 25) // one fold per group
    val sizes = assign.groupBy("fold").count().as[(Int, Long)].collect().toMap
    assert(sizes.keySet == Set(0, 1, 2, 3))
    assert(sizes.values.max - sizes.values.min <= 1) // 25 groups / 4 folds → 7,6,6,6
    val again = Xval.groupRandomKfold(df, 4, "grp", seed = 3)
      .select("id", "fold").as[(Long, Int)].collect().toSet
    assert(again == folded.select("id", "fold").as[(Long, Int)].collect().toSet)
    val otherSeed = Xval.groupRandomKfold(df, 4, "grp", seed = 4)
      .select("id", "fold").as[(Long, Int)].collect().toSet
    assert(otherSeed != again) // permutation actually depends on the seed
  }

  test("randomKfold: balanced two-phase shuffle with no global window over the table") {
    val df = (1 to 1000).map(i => Tuple1(i.toLong)).toDF("id")
    val folded = Xval.randomKfold(df, 4, seed = 11)
    val sizes = folded.groupBy("fold").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.toSeq.sorted == Seq(250L, 250L, 250L, 250L))
    assert(!hasUnpartitionedDataWindow(folded))
    assert(folded.columns.toSeq == Seq("id", "fold")) // helper columns dropped
  }

  test("fromItem: folds = ranked distinct values via broadcast join, not a table-wide window") {
    val df = (1 to 100).map(i => (i.toLong, s"city${i % 5}")).toDF("id", "city")
    val folded = Xval.fromItem(df, "city")
    val folds = folded.select("city", "fold").distinct()
      .as[(String, Int)].collect().toMap
    assert(folds == (0 until 5).map(i => s"city$i" -> i).toMap)
    assert(!hasUnpartitionedDataWindow(folded))
  }

  test("redactPii masks emails, IPs, and phones; piiCounts audits the original") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at alice.smith+x@corp.example.org today"),
      (2L, "server 192.168.0.1 and 8.8.8.8 tel 555-123-4567"),
      (3L, "no pii here at all"),
      (4L, "combo u@1.2.3.4 left")) // digit TLD ⇒ the IP pass owns it
      .toDF("doc_id", "text")
    val out = df
      .select($"doc_id", TextAnalysis.redactPii($"text").as("clean"),
        TextAnalysis.piiCounts($"text").as("c"))
      .select($"doc_id", $"clean", $"c.n_email", $"c.n_ip", $"c.n_phone")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out(0) == ((1L, "mail me at <EMAIL> today", 1L, 0L, 0L)))
    assert(out(1) == ((2L, "server <IP> and <IP> tel <PHONE>", 0L, 2L, 1L)))
    assert(out(2) == ((3L, "no pii here at all", 0L, 0L, 0L)))
    assert(out(3) == ((4L, "combo u@<IP> left", 0L, 1L, 0L)))
  }

  test("decontaminate counts distinct shared n-grams vs the benchmark; hashed path agrees") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "quick brown fox runs"),
      (3L, "completely different words entirely"),
      (4L, "tiny")) // fewer than n words → zero n-grams, still reported
      .toDF("doc_id", "text")
    val bench = Seq((99L, "a quick brown fox jumps high")).toDF("doc_id", "text")
    // bench 3-grams: {a quick brown, quick brown fox, brown fox jumps, fox jumps high}
    val out = Dedup.decontaminate(docs, bench, n = 3, threshold = 2,
        hashNgrams = false)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    assert(out(0) == ((1L, 2L, true)))  // quick brown fox + brown fox jumps
    assert(out(1) == ((2L, 1L, false)))
    assert(out(2) == ((3L, 0L, false)))
    assert(out(3) == ((4L, 0L, false)))
    val hashed = Dedup.decontaminate(docs, bench, n = 3, threshold = 2)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    assert(hashed.toSeq == out.toSeq)
  }

  test("ngramNovelty: permille of distinct grams absent from the reference; hashed path agrees") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // 7 grams, 2 seen
      (2L, "completely different words entirely"),         // 2 grams, 0 seen
      (3L, "tiny")) // fewer than n words → zero grams → NULL permille
      .toDF("doc_id", "text")
    val ref = Seq((99L, "a quick brown fox jumps high")).toDF("doc_id", "text")
    // ref 3-grams: {a quick brown, quick brown fox, brown fox jumps, fox jumps high}
    val out = TextAnalysis.ngramNovelty(docs, ref, n = 3, hashGrams = false)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out(0) == ((1L, 7L, 5L, Some(1000L * 5 / 7)))) // ⌊714.28⌋ = 714
    assert(out(1) == ((2L, 2L, 2L, Some(1000L))))
    assert(out(2) == ((3L, 0L, 0L, None)))
    val hashed = TextAnalysis.ngramNovelty(docs, ref, n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(hashed.toSeq == out.toSeq)
  }

  test("dedupSegments removes repeated spans at all but their first occurrence") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),           // segs (w=2): "alpha beta", "gamma delta"
      (2L, "alpha beta epsilon"),               // "alpha beta" dup → kept only in doc 1
      (3L, "zeta eta zeta eta"),                // intra-doc dup: pos 1 dropped
      (4L, "")) // empty → 0 segments, still present in the output
      .toDF("doc_id", "text")
    val out = Dedup.dedupSegments(docs, segWords = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 2L, 2L, "alpha beta gamma delta")))
    assert(out(1) == ((2L, 2L, 1L, "epsilon")))
    assert(out(2) == ((3L, 2L, 1L, "zeta eta")))
    assert(out(3) == ((4L, 0L, 0L, "")))
  }

  test("topNgrams counts every occurrence and total-orders ties by gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"), // bigrams: a b, b a, a b, b c
      (2L, "b c d"))     // bigrams: b c, c d
      .toDF("doc_id", "text")
    val out = TextAnalysis.topNgrams(docs, n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a b", 2L), ("b c", 2L), ("b a", 1L)))
  }

  test("weightedSample: seed-stable per-key fractions with a shuffle-free plan") {
    import spark.implicits._
    val df = (0 until 4000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "src")
    val kept = Dedup.weightedSample(df, "src", Map("a" -> 0.5, "b" -> 0.1),
      default = 0.0, seed = 3)
    kept.count()
    assert(!kept.queryExecution.executedPlan.toString.contains("Exchange"))
    val counts = kept.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(counts("a") > 850 && counts("a") < 1150)  // 2000 rows × 0.5
    assert(counts("b") > 120 && counts("b") < 280)   // 2000 rows × 0.1
    val again = Dedup.weightedSample(df, "src", Map("a" -> 0.5, "b" -> 0.1),
      default = 0.0, seed = 3).select("doc_id").as[Long].collect().toSet
    assert(again == kept.select("doc_id").as[Long].collect().toSet)
    val all = Dedup.weightedSample(df, "src", Map.empty, default = 1.0, seed = 3)
    assert(all.count() == 4000)
    val none = Dedup.weightedSample(df, "src", Map.empty, default = 0.0, seed = 3)
    assert(none.count() == 0)
  }

  test("bigramCounts: frequency table feeds the loaded-LM scorer (train→score)") {
    val d = Seq((0L, "a b a b c"), (1L, "a b x")).toDF("doc_id", "text")
    val counts = TextAnalysis.bigramCounts(d, topN = 10)
      .as[(String, String, Long)].collect()
    assert(counts.head == (("a", "b", 3L))) // most frequent first
    assert(counts.toSet == Set(("a", "b", 3L), ("b", "a", 1L),
      ("b", "c", 1L), ("b", "x", 1L)))
    // the training loop closes: derive a fixed-point LM from the counts
    // and score with the loaded-table path
    val lm = counts.map { case (a, b, n) => ((a, b), -1000L + n) }.toMap
    val scored = TextAnalysis.scoreBigramLm(d, lm, unkLp = -5000L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(scored(0)._3 == -997L - 999L - 997L - 999L)
    assert(scored(1)._3 == -997L - 999L)
  }

  test("knnClassify: majority label of the nearest cluster wins") {
    // three tight clusters around orthogonal axes, labels 0/1/2; one
    // mislabeled point per cluster can't outvote the other four
    def v(axis: Int, jit: Int): Array[Float] =
      Array.tabulate(12)(j => (if (j == axis) 100f else 0f) +
        (if (j == (axis + 1) % 12) jit.toFloat else 0f))
    val corpus = (0 until 15).map { i =>
      val axis = i / 5
      val lbl = if (i % 5 == 4) (axis + 1) % 3 else axis // one outlier label
      (i.toLong, v(axis * 4, i % 5), lbl)
    }.toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, v(0, 2), -1), (101L, v(4, 2), -1),
      (102L, v(8, 2), -1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(corpus, queries, k = 5)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq ==
      Seq((100L, 0), (101L, 1), (102L, 2)))
    assert(out.forall(_._3 == 4L)) // 4 correct votes vs 1 outlier
  }

  test("hardNegatives: nearest different-label vectors, same-label excluded") {
    // cluster A (label 0) around axis 0 with one label-1 infiltrator;
    // cluster B (label 1) around axis 6
    def v(axis: Int, jit: Int): Array[Float] =
      Array.tabulate(12)(j => (if (j == axis) 100f else 0f) +
        (if (j == (axis + 1) % 12) jit.toFloat else 0f))
    val corpus = (
      (0 until 5).map(i => (i.toLong, v(0, i), if (i == 4) 1 else 0)) ++
      (5 until 10).map(i => (i.toLong, v(6, i - 5), 1))).toDF(
      "vec_id", "embedding", "label")
    val queries = Seq((100L, v(0, 2), 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(corpus, queries, k = 3)
      .as[(Long, Long, Int, Long, Long)].collect().sortBy(_._4)
    assert(out.length == 3)
    assert(out.forall(_._3 == 1))          // all negatives labeled differently
    assert(out.head._2 == 4L)              // the in-cluster infiltrator is
    assert(out.forall(_._1 == 100L))       //   the hardest negative
    // 6 of the 10 corpus vectors carry a different label and the k*4=12
    // shortlist holds all 9 non-query... the full corpus: n_found = 6
    assert(out.forall(_._5 == 6L))
  }

  test("hardNegatives: label-saturated neighborhood surfaces n_found < k") {
    // every corpus vector shares the query's label except ONE: with
    // k=3 only that one negative exists — the query must still emit it,
    // with n_found=1 announcing the under-delivery instead of silence
    def v(axis: Int, jit: Int): Array[Float] =
      Array.tabulate(8)(j => (if (j == axis) 100f else 0f) +
        (if (j == (axis + 1) % 8) jit.toFloat else 0f))
    val corpus = ((0 until 7).map(i => (i.toLong, v(0, i), 0)) :+
      ((7L, v(4, 0), 1))).toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, v(0, 2), 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(corpus, queries, k = 3)
      .as[(Long, Long, Int, Long, Long)].collect()
    assert(out.length == 1)                // under-delivered: 1 < k rows
    assert(out.head._2 == 7L && out.head._3 == 1)
    assert(out.head._5 == 1L)              // the saturation signal
  }

  test("semanticDedup: copies pruned to lowest id, orthogonals kept, layout-independent") {
    // 10 one-hot patterns (dim 16, pairwise orthogonal → cosine 0) × 2
    // copies each (cosine 1): the ONLY near-dups are the copies.
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(16)(j => if (j == i % 10) 1.0f else 0.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, nCells = 4, iters = 2)
      .as[(Long, Int, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.length == 20) // every vector reported exactly once
    out.foreach { case (id, _, nDup, dupOf, keep) =>
      if (id < 10) { assert(keep && nDup == 0L && dupOf == -1L) }
      else { assert(!keep && nDup == 1L && dupOf == id - 10) }
    }
    // layout independence: same verdicts from a different partitioning
    val again = Similarity.semanticDedup(df.repartition(7), nCells = 4, iters = 2)
      .as[(Long, Int, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(again.toSeq == out.toSeq)
  }

  test("semanticDecontaminate: paraphrase caught semantically, missed by BOTH lexical tiers") {
    // the hazard proof (the q331/q338 convention): an eval item
    // paraphrased with ZERO shared words — hence zero 5-grams for the
    // exact tier and negligible shingle Jaccard for the fuzzy tier —
    // still sits next to its source in embedding space, so only the
    // semantic tier catches it
    val benchText = "the quick brown fox jumps over the lazy dog" +
      " near the river bank today"
    val paraText = "a swift auburn vulpine leaps above an idle hound" +
      " beside that stream edge now"
    val cleanText = "completely unrelated treatise regarding integer" +
      " arithmetic inside columnar engines"
    val corpusDocs = Seq((0L, paraText), (1L, cleanText))
      .toDF("doc_id", "text")
    val benchDocs = Seq((100L, benchText)).toDF("doc_id", "text")
    // lexical tier 1 (q75, exact word-5-grams): both corpus docs clean
    val exact = Dedup.decontaminate(corpusDocs, benchDocs, n = 5)
      .as[(Long, Long, Boolean)].collect()
    assert(exact.length == 2 && exact.forall(r => !r._3 && r._2 == 0L))
    // lexical tier 2 (q208, MinHash-estimated Jaccard): clean as well
    val fuzzy = Dedup.fuzzyDecontaminate(corpusDocs, benchDocs)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(fuzzy.length == 2 && fuzzy.forall(r => !r._4))
    // semantic tier: the paraphrase's embedding is near the
    // benchmark's (cosine ≈ .994 > 7/10), the clean doc orthogonal
    val corpusVecs = Seq(
      (0L, Array(9f, 1f, 0f, 0f)),
      (1L, Array(0f, 0f, 10f, 0f))).toDF("vec_id", "embedding")
    val benchVecs = Seq((1000000L, Array(10f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val sem = Similarity.semanticDecontaminate(corpusVecs, benchVecs,
        nCells = 1)
      .as[(Long, Int, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(sem.length == 2) // one row per CORPUS vector, bench absent
    assert(sem(0) == ((0L, 0, 1L, 1000000L, true)))
    assert(sem(1) == ((1L, 0, 0L, -1L, false)))
    // empty benchmark: every corpus vector reads clean (no hits, -1)
    val none = Similarity.semanticDecontaminate(corpusVecs,
        benchVecs.filter(lit(false)), nCells = 1)
      .as[(Long, Int, Long, Long, Boolean)].collect()
    assert(none.length == 2 && none.forall(r => !r._5 && r._4 == -1L))
    // layout independence: verdicts survive a repartition
    val again = Similarity.semanticDecontaminate(
        corpusVecs.repartition(5), benchVecs, nCells = 1)
      .as[(Long, Int, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(again.toSeq == sem.toSeq)
  }

  test("semanticDedup: auto-scaled nCells = ceil(N/target), bounds pair work") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextInt(255) - 127).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // auto (nCells <= 0) must equal an explicit ceil(300/50) = 6
    val auto = Similarity.semanticDedup(df, targetCellSize = 50)
      .as[(Long, Int, Long, Long, Boolean)].collect().sortBy(_._1)
    val explicit = Similarity.semanticDedup(df, nCells = 6)
      .as[(Long, Int, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(auto.toSeq == explicit.toSeq)
    // the auto cells actually split the corpus: ids land in ≥ 2 of the 6
    // cells, and the within-cell pair count Σ|cell|²/2 is strictly below
    // the all-pairs N²/2 it exists to avoid
    val sizes = auto.groupBy(_._2).map(_._2.length.toLong)
    assert(auto.forall(r => r._2 >= 0 && r._2 < 6))
    assert(sizes.size >= 2, s"all 300 vectors in one cell: $sizes")
    val pairWork = sizes.map(s => s * s).sum
    assert(pairWork < 300L * 300L, s"pair work $pairWork not reduced")
  }

  test("dsirWeights/dsirSelect: deterministic weights, exact top-n order") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "one"),
      (2L, ""),
      (3L, "alpha beta gamma delta epsilon"),
      (4L, "the quick brown fox jumps over the lazy dog")) // dup of 0
      .toDF("doc_id", "text")
    val w = TextAnalysis.dsirWeights(d)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(w(0)._2 == 8L && w(3)._2 == 4L) // bigram counts
    assert(w(1) == ((1L, 0L, 0L)) && w(2) == ((2L, 0L, 0L))) // short → 0
    assert(w(0)._3 == w(4)._3) // same text, same weight
    val byWeight = w.sortBy(r => (-r._3, r._1)).map(_._1).toSeq
    val sel = TextAnalysis.dsirSelect(d, n = 3)
      .as[(Long, Long, Long)].collect().map(_._1).toSeq
    assert(sel == byWeight.take(3))
    assert(TextAnalysis.dsirSelect(d, n = 99).count() == 5) // n > corpus → all
  }

  test("gopherRules: each published rule trips on its crafted violation") {
    val fifty = Seq.fill(5)("the model and data that have with more signal here").mkString(" ")
    val d = Seq(
      (0L, fifty),                                    // 50 sane words → pass
      (1L, "the and of short"),                       // < 50 words
      (2L, (1 to 60).map(_ => "- item one two").mkString("\n")),   // all bullets
      (3L, (1 to 60).map(_ => "trailing words here...").mkString("\n")), // all "..." ends
      (4L, fifty + " " + Seq.fill(10)("#####").mkString(" ")),     // symbol-heavy
      (5L, Seq.fill(60)("12345").mkString(" ")),      // numeric → no alpha, no stops
      (6L, fifty.replace("the ", "zz ").replace("and ", "qq ").replace("that ", "rr ").replace("have ", "ss ").replace("with ", "tt ")),
      // 3 hashes + 3 ellipses in 50 words: each ratio 0.06 ≤ 0.1 so the
      // paper's per-symbol rule passes, while a combined-sum rule
      // (0.12 > 0.1) would fail — pins Rae et al. A1.1 fidelity.
      (7L, fifty + " ### ... ... ..."))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Boolean]("pass"))
    assert(!out(1L).getAs[Boolean]("r_word_count") && out(1L).getAs[Boolean]("r_stop"))
    assert(!out(2L).getAs[Boolean]("r_bullet"))
    assert(!out(3L).getAs[Boolean]("r_ellipsis"))
    assert(!out(4L).getAs[Boolean]("r_symbol"))
    assert(!out(5L).getAs[Boolean]("r_alpha") && !out(5L).getAs[Boolean]("r_stop"))
    assert(!out(6L).getAs[Boolean]("r_stop") && !out(6L).getAs[Boolean]("pass"))
    assert(out(7L).getAs[Boolean]("r_symbol"))
  }

  test("chunkByWords: stride coverage, overlap, short tail, empty docs dropped") {
    val words100 = (0 until 100).map(i => s"w$i").mkString(" ")
    val d = Seq((0L, words100), (1L, ""), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkByWords(d, win = 50, stride = 40)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    val doc0 = out.filter(_._1 == 0L)
    assert(doc0.map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((0L, 0L, 50L), (1L, 40L, 50L), (2L, 80L, 20L)))
    // overlap: words 40..49 appear in both chunk 0 and chunk 1
    assert(doc0(0)._5.split(" ").takeRight(10).toSeq ==
      doc0(1)._5.split(" ").take(10).toSeq)
    // full coverage: union of chunk words = original sequence
    assert(doc0.flatMap(_._5.split(" ")).distinct.length == 100)
    assert(out.count(_._1 == 1L) == 0) // empty doc → no rows
    assert(out.filter(_._1 == 2L).map(r => (r._2, r._4)).toSeq == Seq((0L, 3L)))
    // win == stride → exact partition, sizes sum to n
    val part = TextAnalysis.chunkByWords(d.filter($"doc_id" === 0L),
      win = 40, stride = 40).as[(Long, Long, Long, Long, String)].collect()
    assert(part.map(_._4).sum == 100L)
  }

  test("curation scorers keep scale-shaped plans (no shuffle / bounded top-n)") {
    val d = Tables.documents(spark, sf("sf0.001"))
    // row-local projections: the whole operator is one map-side stage
    for (df <- Seq(
        TextAnalysis.gopherRules(d),
        TextAnalysis.chunkByWords(d, win = 50, stride = 40),
        TextAnalysis.dedupLinesWithinDoc(d),
        TextAnalysis.dsirWeights(d))) {
      df.count()
      assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
        df.queryExecution.executedPlan.toString.linesIterator.take(3).mkString("|"))
    }
    // dsirSelect's top-n must plan as TakeOrderedAndProject (per-partition
    // bounded heaps + driver merge of n rows), never a global sort
    val sel = TextAnalysis.dsirSelect(d, n = 10)
    sel.count()
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("removeDuplicateSpans: global first copy survives, later copies cut") {
    val phrase = (1 to 5).map(i => s"p$i").mkString(" ") // the 5-word window
    val d = Seq(
      (0L, phrase + " tail0 tail1 tail2"),            // first occurrence
      (1L, "lead0 lead1 " + phrase + " tail3"),       // later copy → cut
      (2L, "solo0 solo1 solo2 solo3 solo4 solo5"))    // unique → untouched
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(d, window = 5)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((0L, phrase + " tail0 tail1 tail2", 8L, 8L)))
    assert(out(1) == ((1L, "lead0 lead1 tail3", 8L, 3L)))
    assert(out(2)._2 == "solo0 solo1 solo2 solo3 solo4 solo5" && out(2)._4 == 6L)
    // intra-doc repetition: the second copy inside one doc is removed too
    val rep = Dedup.removeDuplicateSpans(
      Seq((7L, phrase + " mid " + phrase)).toDF("doc_id", "text"), window = 5)
      .as[(Long, String, Long, Long)].head()
    assert(rep._2 == phrase + " mid" && rep._4 == 6L)
  }

  test("dedupLinesWithinDoc: first occurrence wins, order kept, CRLF safe") {
    val d = Seq(
      (0L, "nav bar\nreal content one\nnav bar\nreal content two\nnav bar"),
      (1L, "a\r\nb\r\na"),   // CRLF input behaves like LF
      (2L, ""),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupLinesWithinDoc(d)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((0L, "nav bar\nreal content one\nreal content two", 5L, 3L)))
    assert(out(1) == ((1L, "a\nb", 3L, 2L)))
    assert(out(2) == ((2L, "", 1L, 1L)))   // empty text = one empty line
    assert(out(3) == ((3L, "", 1L, 1L)))   // null text treated as empty
  }

  test("urlNormalize: scheme/www/fragment/tracking/sort/trailing-slash canonicalization") {
    val cases = Seq(
      // scheme + www + trailing slash, any scheme case
      ("https://www.Site.test/Docs/1/", "site.test/Docs/1"),
      ("HTTP://site.test/Docs/1", "site.test/Docs/1"),
      // fragment stripped; params sorted; tracking dropped
      ("https://site.test/a?b=2&a=1#frag", "site.test/a?a=1&b=2"),
      ("http://www.site.test/a?utm_source=x&b=2&a=1", "site.test/a?a=1&b=2"),
      ("https://site.test/a?b=2&utm_campaign=z&a=1&fbclid=abc", "site.test/a?a=1&b=2"),
      // empty query after tracking drop → no '?'
      ("https://site.test/a?utm_medium=m", "site.test/a"),
      // host lowercased, PATH case preserved
      ("https://WWW.SITE.test/CaseSensitive", "site.test/CaseSensitive"),
      // bare host; no path, no query
      ("https://www.site.test/", "site.test"),
      ("site.test/x", "site.test/x"))  // already scheme-less
    val out = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "url")
      .select($"i", TextAnalysis.urlNormalize($"url").as("n"))
      .as[(Int, String)].collect().sortBy(_._1).map(_._2)
    assert(out.toSeq == cases.map(_._2))
    // urlKeep: min id per canonical survives
    val docs = Seq(
      (0L, "https://www.site.test/p?a=1"),
      (1L, "http://site.test/p/?a=1#x"),   // same canonical as 0
      (2L, "https://site.test/q"))
      .toDF("doc_id", "url")
    val kept = Dedup.urlKeep(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
  }

  test("urlDomain + capPerDomain: registered-domain heuristic, blocklist, per-domain cap") {
    val cases = Seq(
      ("https://news.example.test/a/b", "example.test"), // subdomain collapses
      ("HTTP://www.Example.test", "example.test"),       // scheme case + www + host case
      ("https://site.test?a=1", "site.test"),            // query, no path
      ("https://site.test#frag", "site.test"),           // fragment, no path
      ("localhost/x", "localhost"),                      // single-label host
      ("a.b.c.d.test/p", "d.test"))                      // deep subdomains → last two
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "url")
      .select($"i", TextAnalysis.urlDomain($"url").as("d"))
      .as[(Int, String)].collect().sortBy(_._1).map(_._2)
    assert(got.toSeq == cases.map(_._2))
    // capPerDomain: blocked domain vanishes; survivors capped at 2/domain;
    // the kept set is seed-deterministic across runs
    val docs = (0L until 12L).map { i =>
      (i, s"https://www.site${i % 3}.test/p/$i")
    }.toDF("doc_id", "url")
    val bl = Seq("site2.test").toDF("domain")
    val out = Dedup.capPerDomain(docs, bl, maxPerDomain = 2, seed = 7)
      .select($"domain", $"doc_id").as[(String, Long)].collect()
    assert(!out.exists(_._1 == "site2.test"))
    assert(out.groupBy(_._1).forall(_._2.length == 2))
    assert(out.map(_._1).toSet == Set("site0.test", "site1.test"))
    val again = Dedup.capPerDomain(docs, bl, maxPerDomain = 2, seed = 7)
      .select($"domain", $"doc_id").as[(String, Long)].collect()
    assert(out.sorted.toSeq == again.sorted.toSeq)
    // plan: the blocklist rides a broadcast (anti) join — the corpus is
    // never shuffled for it — and the only window partitions by domain
    val plan = Dedup.capPerDomain(docs, bl, maxPerDomain = 2, seed = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan.take(600))
    assert(!plan.contains("Window [") || plan.contains("windowspecdefinition(domain"),
      plan.take(600))
  }

  test("snapshotDiff: added/removed/changed/unchanged per source, null-safe") {
    val older = Seq((0L, "a", "x"), (1L, "a", "y"), (2L, "b", "z"),
      (3L, "b", null.asInstanceOf[String])).toDF("doc_id", "source", "text")
    val newer = Seq((1L, "a", "y2"), (2L, "b", "z"),
      (3L, "b", null.asInstanceOf[String]), (4L, "c", "w"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.snapshotDiff(older, newer)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("a", "removed", 1L),    // id 0
      ("a", "changed", 1L),    // id 1: y -> y2
      ("b", "unchanged", 2L),  // id 2 same; id 3 null == null via coalesce
      ("c", "added", 1L)))     // id 4
  }

  test("removeBoilerplateLines: cross-doc lines drop everywhere, within-doc repeats stay") {
    val d = Seq(
      (0L, "NAV\ncontent zero\nNAV\nfooter x"),   // NAV repeated within + across
      (1L, "NAV\ncontent one\r\nfooter x"),       // CRLF, shares NAV + footer
      (2L, "solo only\nsolo only\nsolo only"),    // within-doc repeat ONLY → stays
      (3L, "NAV"),                                // all-boilerplate doc → empty
      (4L, null.asInstanceOf[String]))            // null text
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplateLines(d, minDocs = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // hot (≥2 distinct docs): "NAV" (docs 0,1,3), "footer x" (0,1),
    // "" (3? no — doc 3 is "NAV", no empty line; doc 4 null → one "" line;
    // only doc 4 has "" → not hot)
    assert(out(0) == ((0L, "content zero", 4L, 1L))) // both NAVs removed
    assert(out(1) == ((1L, "content one", 3L, 1L)))
    assert(out(2) == ((2L, "solo only\nsolo only\nsolo only", 3L, 3L)))
    assert(out(3) == ((3L, "", 1L, 0L)))
    assert(out(4) == ((4L, "", 1L, 1L))) // the lone "" line is not hot
    // minDocs = 3: the footer (2 docs) survives, NAV (3 docs) still drops
    val loose = TextAnalysis.removeBoilerplateLines(d, minDocs = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(loose(0) == ((0L, "content zero\nfooter x", 4L, 2L)))
    assert(loose(1) == ((1L, "content one\nfooter x", 3L, 2L)))
    // the hot-lexicon-too-big fallback (per-doc hits join) must agree
    // with the default broadcast path row for row; only it joins
    def joins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("Join")
    assert(!joins(TextAnalysis.removeBoilerplateLines(d, minDocs = 2)))
    withoutBroadcast {
      val viaJoin = TextAnalysis.removeBoilerplateLines(d, minDocs = 2)
      assert(joins(viaJoin))
      assert(viaJoin.as[(Long, String, Long, Long)].collect().sortBy(_._1)
        .toSeq == out.toSeq)
    }
  }

  test("dedupLinesWithinDoc: kernel path agrees with the fold; pathological doc is linear") {
    // seeded corpora through BOTH per-row paths: expression fold
    // (threshold above every doc) vs hash-set kernel (threshold 0)
    val rnd = new scala.util.Random(23)
    val docs = (0L until 40L).map { id =>
      val lines = (0 until 1 + rnd.nextInt(60))
        .map(_ => s"line ${rnd.nextInt(12)}") // small alphabet → many dups
      (id, lines.mkString(if (rnd.nextBoolean()) "\n" else "\r\n"))
    }
    val d = docs.toDF("doc_id", "text")
    def run() = TextAnalysis.dedupLinesWithinDoc(d)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val viaFold = run()
    val viaKernel = withConf("spark.graft.lineDedup.maxExprLines", "0")(run())
    assert(viaKernel == viaFold)
    // a 50k-line doc (1k distinct lines) crosses the default 10k
    // threshold into the O(lines) kernel — the fold's ~1.25G quadratic
    // membership checks would stall here; the kernel is instant
    val big = (0 until 50000).map(i => s"ln ${i % 1000}").mkString("\n")
    val bigOut = TextAnalysis.dedupLinesWithinDoc(
      Seq((99L, big)).toDF("doc_id", "text"))
      .as[(Long, String, Long, Long)].head()
    assert(bigOut._3 == 50000L && bigOut._4 == 1000L)
    assert(bigOut._2 == (0 until 1000).map(i => s"ln $i").mkString("\n"))
  }

  test("two-day incremental dedup (persisted exact+minhash indexes) == batch rerun") {
    // 20 duplicate groups, each a base text plus ONE near-variant (last
    // 3 of 30 words changed → char-shingle jaccard ≈ 0.9), with 1–3
    // exact copies of each scattered across both days. Groups share no
    // vocabulary, and each group holds at most two distinct texts, so
    // every cross-day near-dup decision is the SAME signature pair in
    // both pipelines — no transitive-chain asymmetry — and incremental
    // must reproduce batch exactly.
    val rnd = new scala.util.Random(31)
    // random 10-char words: cross-group CHAR-shingle overlap ~0 (a
    // patterned vocab like "g3w17" shares shingles across groups and
    // reintroduces chains)
    def rw() = (0 until 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    for (_ <- 0 until 20) {
      val ws = Vector.fill(30)(rw())
      val base = ws.mkString(" ")
      val variant = (ws.dropRight(3) ++ Vector.fill(3)(rw())).mkString(" ")
      for (_ <- 0 to rnd.nextInt(2)) texts += base
      for (_ <- 0 until rnd.nextInt(3)) texts += variant
    }
    val all = rnd.shuffle(texts.toVector).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val split = texts.length / 2
    val day1 = all.filter(col("doc_id") < split)
    val day2 = all.filter(col("doc_id") >= split)

    val batch = Dedup.nearDupKeep(Dedup.exactKeep(all),
        numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet

    // day 1: dedup, persist BOTH indexes through parquet (the digest
    // index covers the whole day-1 stream — dropped near-dups included —
    // so a day-2 exact copy of a dropped body still screens out; the
    // signature index covers day-1 SURVIVORS, the only docs a novel
    // day-2 body can legitimately near-dup against)
    val d1kept = Dedup.nearDupKeep(Dedup.exactKeep(day1),
      numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.5)
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    Dedup.exactIndex(day1).write.parquet(s"$dir/exact")
    Dedup.minhashIndex(d1kept, numHashes = 32, rowsPerBand = 4, k = 5)
      .write.parquet(s"$dir/minhash")
    val exactIdx = spark.read.parquet(s"$dir/exact")
    val mhIdx = spark.read.parquet(s"$dir/minhash")

    // day 2: digest screen → within-shard dedup → signature screen
    val d2exact = Dedup.exactKeepAgainst(exactIdx, day2)
    val d2kept0 = Dedup.nearDupKeep(d2exact,
      numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.5)
    val d2kept = d2kept0.join(
      Dedup.minhashCandidatesAgainst(mhIdx, d2kept0, numHashes = 32,
        rowsPerBand = 4, k = 5, threshold = 0.5)
        .select(col("incoming_id").as("doc_id")).distinct(),
      Seq("doc_id"), "anti")

    val incremental = d1kept.select("doc_id").as[Long].collect().toSet ++
      d2kept.select("doc_id").as[Long].collect().toSet
    assert(incremental == batch,
      s"incremental-only=${incremental -- batch} batch-only=${batch -- incremental}")
    assert(batch.size < texts.length) // the corpus actually had dups

    // index update closes the loop: after folding day-2 digests in,
    // re-screening the same shard drops every row
    val exactIdx2 = exactIdx.union(Dedup.exactIndex(day2)).distinct()
    assert(Dedup.exactKeepAgainst(exactIdx2, day2).count() == 0)
  }

  test("bloom-screened incremental dedup == plain anti-join, incl. persistence") {
    val rnd = new scala.util.Random(41)
    // seeded corpus with planted cross-day and within-shard dups
    val bodies = Vector.fill(60)(Vector.fill(20)(
      (0 until 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" "))
    val day1 = (0 until 80).map(i => (i.toLong, bodies(rnd.nextInt(60))))
      .toDF("doc_id", "text")
    val day2 = (100 until 200).map(i => (i.toLong, bodies(rnd.nextInt(60))))
      .toDF("doc_id", "text")
    val idx = Dedup.exactIndex(day1)
    val plain = Dedup.exactKeepAgainst(idx, day2)
      .select("doc_id").as[Long].collect().toSet
    // a DELIBERATELY saturated bloom (fpp 0.5): many false positives,
    // every one of which the confirm join must reject — equality cannot
    // come from the bloom being accidentally perfect
    for (fpp <- Seq(0.5, 0.01)) {
      val viaBloom = Dedup.exactKeepAgainstBloom(
          Dedup.bloomIndex(idx, fpp = fpp), idx, day2)
        .select("doc_id").as[Long].collect().toSet
      assert(viaBloom == plain, s"fpp=$fpp")
    }
    // persistence roundtrip (the sidecar deployment shape)
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    Dedup.saveBloom(spark, Dedup.bloomIndex(idx), s"$dir/idx.bloom")
    val loaded = Dedup.loadBloom(spark, s"$dir/idx.bloom")
    val viaLoaded = Dedup.exactKeepAgainstBloom(loaded, idx, day2)
      .select("doc_id").as[Long].collect().toSet
    assert(viaLoaded == plain)
    // no false negatives: every indexed digest answers maybe
    val digests = idx.as[String].collect()
    assert(digests.forall(loaded.mightContainString))
    // a filter too big to broadcast is refused up front
    withConf("spark.graft.bloom.maxBytes", "8") {
      intercept[IllegalArgumentException](Dedup.bloomIndex(idx))
    }
  }

  test("exactKeepAgainst: indexed bodies dropped, shard dups collapse to min id") {
    val old = Seq((0L, "body A"), (1L, "body B")).toDF("doc_id", "text")
    val idx = Dedup.exactIndex(old)
    val shard = Seq(
      (10L, "body A"),   // already indexed → dropped
      (11L, "body C"), (12L, "body C"), // new dup pair → keep 11
      (13L, "body D"))   // new unique → kept
      .toDF("doc_id", "text")
    val kept = Dedup.exactKeepAgainst(idx, shard)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
    // index roundtrips through parquet (the persistable deployment shape)
    val dir = java.nio.file.Files.createTempDirectory("graft_exact_idx")
    idx.write.mode("overwrite").parquet(dir.toString + "/idx")
    val kept2 = Dedup.exactKeepAgainst(
        spark.read.parquet(dir.toString + "/idx"), shard)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == kept)
  }

  test("nearDupKeepBy: cluster keeps highest-score member, not min id") {
    // docs 0/1 near-identical (1 is longer), 2 unrelated
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (0L, base),
      (1L, base + " extra trailing tokens here"),
      (2L, (100 to 140).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val byLen = Dedup.nearDupKeepBy(d, score = col("n_chars"),
        numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(byLen == Set(1L, 2L)) // longest copy survives
    val byMin = Dedup.nearDupKeep(d, numHashes = 32, rowsPerBand = 4,
        k = 5, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(byMin == Set(0L, 2L)) // min-id default keeps the other copy
  }

  test("corpusReport: per-label aggregates agree with the flag projection") {
    val d = Seq(
      (0L, "web", "the data and model that have with more signal " * 6),
      (1L, "web", "short one"),
      (2L, "wiki", "12345 " * 60))
      .toDF("doc_id", "source", "text")
    val rep = TextAnalysis.corpusReport(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val flags = TextAnalysis.gopherRules(d, carry = Seq("source")).collect()
    assert(rep("web").getAs[Long]("n_docs") == 2L)
    assert(rep("wiki").getAs[Long]("n_docs") == 1L)
    for (src <- Seq("web", "wiki")) {
      val fs = flags.filter(_.getAs[String]("source") == src)
      assert(rep(src).getAs[Long]("n_words") == fs.map(_.getAs[Long]("n_words")).sum)
      assert(rep(src).getAs[Long]("n_gopher_pass") ==
        fs.count(_.getAs[Boolean]("pass")).toLong)
    }
  }

  test("rebalanceMixture: no upsampling, unweighted dropped, map-side keep filter") {
    val rows = (0 until 100).map(i => (i.toLong, "a")) ++
      (100 until 150).map(i => (i.toLong, "b")) ++
      (150 until 350).map(i => (i.toLong, "c"))
    val df = rows.toDF("doc_id", "source")
    // W = 2, T = min(100·2/1, 50·2/1) = 100 → thr_a = 0.5, thr_b = 1.0
    val kept = Dedup.rebalanceMixture(df, "source",
      Map("a" -> 1L, "b" -> 1L), seed = 7)
    val counts = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(!counts.contains("c"))                  // unweighted → dropped
    assert(counts("b") == 50L)                     // threshold 1.0 keeps all
    assert(counts("a") > 30L && counts("a") < 70L) // ≈ 100 × 0.5
    kept.count()
    // the keep filter itself is map-side over the input (the only
    // shuffle in the operator is the tiny per-source count)
    assert(!kept.queryExecution.executedPlan.toString.contains("Exchange"))
    val again = Dedup.rebalanceMixture(df, "source",
      Map("a" -> 1L, "b" -> 1L), seed = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.select("doc_id").as[Long].collect().toSet)
    // a key-cardinality explosion is refused, not silently collected
    withConf("spark.graft.mixture.maxKeys", "2") {
      intercept[IllegalArgumentException] {
        Dedup.rebalanceMixture(df, "source",
          Map("a" -> 1L, "b" -> 1L, "c" -> 1L), seed = 7).count()
      }
    }
  }

  test("rebalanceMixture: token-count-scale weights do not overflow the threshold") {
    // weights in the billions (token-count style): counts(k)·W would
    // overflow Long (~150 · 7e9 · … fine here, but 1e18-scale weights
    // wouldn't be) — the BigInt threshold path must keep ratios exact.
    // equal giant weights ≡ equal unit weights, row for row.
    val rows = (0 until 100).map(i => (i.toLong, "a")) ++
      (100 until 150).map(i => (i.toLong, "b"))
    val df = rows.toDF("doc_id", "source")
    val giant = Dedup.rebalanceMixture(df, "source",
      Map("a" -> 4000000000000000000L, "b" -> 4000000000000000000L), seed = 7)
      .select("doc_id").as[Long].collect().toSet
    val unit = Dedup.rebalanceMixture(df, "source",
      Map("a" -> 1L, "b" -> 1L), seed = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(giant == unit)
    // asymmetric giant weights: the minority-weighted source still caps
    // the total (no upsampling) and nothing goes negative/empty
    val skewed = Dedup.rebalanceMixture(df, "source",
      Map("a" -> 3000000000000000000L, "b" -> 1000000000000000000L), seed = 7)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // W=4e18, T = min(⌊100·4/3⌋, 50·4/1) = 133 → thr_a = 399/400 ≈ 1.0,
    // thr_b = 133/200 = 0.665 — sane fractions, not overflow garbage
    assert(skewed("a") >= 95L)
    assert(skewed("b") > 15L && skewed("b") < 50L)
  }

  test("stupidBackoffScore: all four tiers hand-computed; short docs zero; OOV counted not scored") {
    import graft.functions.FixedMath.lnQ12
    // train counts: tri(abc)=2, tri(bca)=1, tri(cab)=1;
    // big(ab)=2, big(bc)=2, big(ca)=1; uni a=b=c=2; N=6
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "x a b c a z"), // tiers: 2 (xab), 3 (abc), 3 (bca→tier3 c3=1), OOV (caz)
      (11L, "a b"))         // < 3 words → zero row
      .toDF("doc_id", "text")
    val got = TextAnalysis.stupidBackoffScore(train, score)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val l04 = lnQ12(2) - lnQ12(5)
    val expect =
      (l04 + lnQ12(2) - lnQ12(2)) +        // (x,a,b): tier 2 via big(ab)/uni(a)
      (lnQ12(2) - lnQ12(2)) +              // (a,b,c): tier 3, c3=2 / c2s=2
      (lnQ12(1) - lnQ12(2))                // (b,c,a): tier 3, c3=1 / c2s=2
    assert(got(10L) == ((3L, 1L, expect)))
    assert(got(11L) == ((0L, 0L, 0L)))
    // tier 1: unseen context, seen word — score doc "z z c"
    val t1 = TextAnalysis.stupidBackoffScore(train,
        Seq((12L, "z z c")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].head()
    assert(t1 == ((12L, 1L, 0L, 2 * l04 + lnQ12(2) - lnQ12(6))))
  }

  test("vocabCoverage: hand-computed coverage at each K; monotone; total conservation") {
    // counts: a=5, b=3, c=2, d=1, e=1 → total 12, vocab 5
    val docs = Seq(
      (0L, "a a a b b c"),
      (1L, "a a b c d e"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, ks = Seq(1, 2, 4))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // top-1 = a(5); top-2 = a,b(8); top-4 = a,b,c,d(11) — tie d<e by word
    assert(got(1L) == ((5L, 12L, 5L, 5000L / 12L)))
    assert(got(2L) == ((8L, 12L, 5L, 8000L / 12L)))
    assert(got(4L) == ((11L, 12L, 5L, 11000L / 12L)))
    // K beyond the vocabulary covers everything
    val full = TextAnalysis.vocabCoverage(docs, ks = Seq(100))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(full == ((100L, 12L, 12L, 5L, 1000L)))
  }

  test("pmiCollocations: exact integer PMI vs driver recompute; collocated pair outranks independent pair") {
    // "new york" always adjacent (strong collocation); "red" and "car"
    // appear often but rarely adjacent (weak); filler varies
    val docs = (0 until 30).map { i =>
      val ny = "new york is large and new york is busy"
      val rc = if (i % 3 == 0) "red car" else "red paint near a car"
      (i.toLong, s"$ny $rc filler$i words here")
    }.toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, minCount = 5, topN = 50)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // driver-side recompute from raw tokenization
    val toks = docs.collect().map(_.getString(1)).flatMap(t =>
      t.toLowerCase.split("[^a-z0-9']+").filter(_.nonEmpty))
    // per-doc adjacency (the engine never pairs across doc boundaries)
    val biAll = docs.collect().map(_.getString(1)).flatMap { t =>
      val w = t.toLowerCase.split("[^a-z0-9']+").filter(_.nonEmpty)
      w.zip(w.drop(1))
    }
    val n = toks.length.toLong
    val b = biAll.length.toLong
    val uc = toks.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val bc = biAll.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    for (((w1, w2), (nPair, nW1, nW2, pmi)) <- got) {
      assert(nPair == bc((w1, w2)) && nW1 == uc(w1) && nW2 == uc(w2))
      val expect = graft.functions.FixedMath.lnQ12(nPair * n * n) -
        graft.functions.FixedMath.lnQ12(nW1 * nW2 * b)
      assert(pmi == expect, s"($w1,$w2)")
    }
    // minCount: pairs below 5 absent
    assert(got.values.forall(_._1 >= 5L))
    // the always-adjacent pair scores higher than the loosely-coupled
    // one ("red car" is adjacent in only 1/3 of docs)
    assert(got(("new", "york"))._4 > got(("red", "car"))._4)
  }

  test("resolveEntities: transitive merge within blocks, singletons self-entity, no cross-block merge") {
    val recs = Seq(
      // block 1: smith / smith2 / smith3 chain — pairwise dist 1 via the
      // shared base, A~B and B~C merge all three transitively
      (1L, "john smithx", 1),
      (2L, "john smith1", 1),
      (3L, "john smith2", 1),
      // block 1 singleton
      (4L, "maria garcia", 1),
      // block 2: same name as id 1 but different block — must NOT merge
      (5L, "john smithx", 2))
      .toDF("id", "name", "blk")
    val out = Dedup.resolveEntities(recs, "id", "name", "blk", maxDist = 1)
      .select("id", "entity_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
    // chain transitivity: 1 and 3 differ by 2 edits yet share an entity
    assert(out(1L) == out(3L))
  }

  test("readability: hand-computed FK counts and grade; wordless docs NULL") {
    val df = Seq(
      (0L, "The cat sat on the mat."),
      (1L, "Hello world! How are you today? Fine."),
      (2L, "!!! ... ???"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // doc 0: W=6 S=1 Y=6 → (39·36 + 1180·6 − 1559·6)/600 = −870/600
    assert(got(0L) == ((6L, 1L, 6L, Some(-870.0 / 600.0))))
    // doc 1: W=7 S=3, Y = 2+1+1+2+1+2+2 = 11 → 8112/2100
    assert(got(1L) == ((7L, 3L, 11L, Some(8112.0 / 2100.0))))
    // punctuation-only and null docs: zero counts, NULL grade
    assert(got(2L) == ((0L, 0L, 0L, None)))
    assert(got(3L) == ((0L, 0L, 0L, None)))
  }

  test("randomProjection: exact vs driver-side recompute, drops bad rows, roughly preserves cosine") {
    val rng = new scala.util.Random(210)
    val inDim = 64; val outDim = 16; val seed = 2026L
    val rows: Seq[(Long, Seq[Float])] = (0L until 40L).map { i =>
      (i, Seq.fill(inDim)((rng.nextDouble() * 2 - 1).toFloat))
    }
    val df = (rows :+ (98L, null.asInstanceOf[Seq[Float]]) :+
      (99L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val got = Embeddings.randomProjection(df, outDim, seed, inDim)
      .as[(Long, Long, Long)].collect()
    // null / wrong-width rows dropped; everyone else emits outDim rows
    assert(got.map(_._1).toSet == rows.map(_._1).toSet)
    assert(got.groupBy(_._1).forall(_._2.length == outDim))
    // exact recompute: quantize (half-up) then signed sums
    val proj = got.map(r => (r._1, r._2) -> r._3).toMap
    for ((id, v) <- rows) {
      val ma = v.map(x => math.abs(x.toDouble)).max
      val scale = if (ma == 0.0) 1.0 else 127.0 / ma
      val q = v.map(x => math.floor(x.toDouble * scale + 0.5).toLong)
      for (j <- 0 until outDim) {
        val expect = (0 until inDim).map { d =>
          val sg = if (graft.functions.Hashing.splitmix64(
            seed + j.toLong * inDim + d) >= 0L) 1L else -1L
          sg * q(d)
        }.sum
        assert(proj((id, j.toLong)) == expect, s"vec $id dim $j")
      }
    }
    // JL sanity: projected cosine tracks original cosine (loose bound —
    // 16 dims of ±1 signs; catches a broken sign matrix, not noise)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val pv = rows.map { case (id, _) =>
      id -> (0 until outDim).map(j => proj((id, j.toLong)).toDouble)
    }.toMap
    val errs = for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
    } yield math.abs(cos(va.map(_.toDouble), vb.map(_.toDouble)) -
      cos(pv(ia), pv(ib)))
    assert(errs.sum / errs.size < 0.25,
      f"mean cosine distortion ${errs.sum / errs.size}%.3f")
  }

  test("dominantDirection: exact vs BigInt recompute, finds the planted axis, norm invariant") {
    val rng = new scala.util.Random(233)
    val dim = 8
    // planted dominant axis e0: every vector is ±(1, small noise…)
    val rows: Seq[(Long, Seq[Float])] = (0L until 50L).map { i =>
      val sg = if (i % 2 == 0) 1.0 else -1.0
      (i, (sg * 1.0f).toFloat +: Seq.fill(dim - 1)(
        (rng.nextDouble() * 0.2 - 0.1).toFloat))
    }
    val df = (rows :+ (98L, null.asInstanceOf[Seq[Float]]) :+
      (99L, Seq(1.0f))).toDF("vec_id", "embedding")
    val got = Embeddings.dominantDirection(df, dim, rounds = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == dim)
    // exact recompute of the whole integer pipeline
    val Q12 = BigInt(1000000000000L); val Q6 = BigInt(1000000L)
    val qs = rows.map { case (_, v) =>
      val ma = v.map(x => math.abs(x.toDouble)).max
      val scale = if (ma == 0.0) 1.0 else 127.0 / ma
      v.map(x => BigInt(math.floor(x.toDouble * scale + 0.5).toLong))
    }
    val gram = Array.tabulate(dim, dim)((i, j) =>
      qs.map(q => q(i) * q(j)).sum)
    var v = Array.fill(dim)(Q12)
    for (_ <- 1 to 8) {
      val num = Array.tabulate(dim)(i =>
        (0 until dim).foldLeft(BigInt(0))((a, j) => a + gram(i)(j) * v(j)))
      val dn = (num.map(_.abs).max / Q12).max(BigInt(1))
      v = num.map(n => if (n.signum < 0) -(n.abs / dn) else n.abs / dn)
    }
    val w = v.map(x => if (x.signum < 0) -(x.abs / Q6) else x.abs / Q6)
    val den = w.map(x => x * x).sum
    val nm = (for (i <- 0 until dim; j <- 0 until dim)
      yield gram(i)(j) * w(i) * w(j)).sum
    val ray = (Q6 * nm / den).toLong
    assert(got.map(_._2).toSeq == v.map(_.toLong).toSeq)
    assert(got.forall(_._3 == ray))
    // the planted axis dominates and the normalization invariant holds
    val comps = got.map(_._2)
    assert(comps.map(math.abs).max == math.abs(comps(0)))
    assert(comps.map(math.abs).max >= 1000000000000L &&
      comps.map(math.abs).max < 2000000000000L)
    assert(ray > 0L)
    // determinism under repartitioning
    val again = Embeddings.dominantDirection(df.repartition(7), dim, rounds = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == got.toSeq)
    // degenerate: no valid vectors → empty result, correct schema
    val empty = Embeddings.dominantDirection(
      df.filter(col("vec_id") === 98L), dim)
    assert(empty.columns.toSeq ==
      Seq("dim", "component_q12", "rayleigh_q6") && empty.count() == 0L)
  }

  test("containmentJoin equals brute-force directed containment (recall = 1) and is asymmetric") {
    val rng = new scala.util.Random(209)
    def run(n: Int): String =
      (1 to n).map(_ => ('a' + rng.nextInt(8)).toChar).mkString
    val long = run(400)
    val corpus = Seq(
      (0L, long),                                  // superset doc
      (1L, long.substring(50, 170)),               // excerpt: 1 ⊆ 0
      (2L, long.substring(100, 220) + run(10)),    // excerpt + small tail
      (3L, run(300)),                              // unrelated long
      (4L, long),                                  // exact clone of 0
      (5L, run(60)))                               // unrelated short
      .toDF("doc_id", "text")
    def brute(tau: Double): Set[(Long, Long, Int)] = {
      val rows = corpus.select(col("doc_id"),
        Dedup.shingles(col("text"), 12).as("sh")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSet))
      (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia != ib
        inter = (sa & sb).size
        if sa.nonEmpty && inter.toDouble / sa.size >= tau
      } yield (ia, ib, inter)).toSet
    }
    for (tau <- Seq(0.5, 0.8, 0.95)) {
      val got = Dedup.containmentJoin(corpus, tau).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("inter").toInt)).toSet
      assert(got == brute(tau), s"tau=$tau")
    }
    // the defining asymmetry: the excerpt is contained in the superset,
    // the superset is NOT contained in the excerpt
    val dir = Dedup.containmentJoin(corpus, 0.95).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(dir.contains((1L, 0L)))
    assert(!dir.contains((0L, 1L)))
  }

  test("fuzzyDecontaminate flags near-copies of benchmark docs, not unrelated docs") {
    val bench = Seq(
      (1000L, "what is the capital of france the capital of france is paris obviously"),
      (1001L, "list the first ten prime numbers two three five seven eleven thirteen"))
      .toDF("doc_id", "text")
    val train = Seq(
      (0L, "what is the capital of france the capital of france is paris obviously"), // verbatim leak
      (1L, "what is the capital of france the capital of france is paris clearly"),  // near copy
      (2L, "a completely unrelated training document about distributed query engines"),
      (3L, "list the first ten prime numbers two three five seven eleven thirteen!"))
      .toDF("doc_id", "text")
    val out = Dedup.fuzzyDecontaminate(train, bench, numHashes = 32,
        rowsPerBand = 4, k = 5, threshold = 0.3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bench_matches"), r.getAs[Double]("max_est_jaccard"),
         r.getAs[Boolean]("contaminated"))).toMap
    assert(out.size == 4, "one row per training doc")
    assert(out(0L)._3 && out(0L)._2 == 1.0, "verbatim leak: est 1.0")
    assert(out(1L)._3, "near copy flagged")
    assert(out(3L)._3, "punctuation-edit copy flagged")
    assert(!out(2L)._3 && out(2L)._1 == 0L && out(2L)._2 == 0.0,
      "unrelated doc clean with zeroed stats")
    // agreement with the raw candidate machinery it composes
    val pairs = Dedup.minhashCandidatesAgainst(
      Dedup.minhashIndex(bench, 32, 4, 5), train, 32, 4, 5, 0.3)
    assert(pairs.count() == out.values.map(_._1).sum)
  }

  test("setSimJoinCollapsed: Σ n_pairs ≡ the plain exact join's pair count on a cloned corpus") {
    val rng = new scala.util.Random(207)
    def doc(): String =
      (1 to 120).map(_ => ('a' + rng.nextInt(6)).toChar).mkString
    val bases = Seq.fill(6)(doc())
    // clone saturation: base i appears (i+1) times; plus one near-dup
    // of base 0 (base0 with a shared prefix → some cross-set pairs)
    val rows = bases.zipWithIndex.flatMap { case (t, i) =>
      (0 to i).map(j => (i * 100L + j, t))
    } :+ (999L, bases.head.take(110) + "zzzzzzzzzz")
    val docs = rows.toDF("doc_id", "text")
    val plain = Dedup.setSimJoin(docs, tau = 0.8)
    val collapsed = Dedup.setSimJoinCollapsed(docs, tau = 0.8)
      .as[(Long, Long, Long, Double, Long, Long, Long)].collect()
    // the multiset of qualifying pairs is conserved exactly
    assert(collapsed.map(_._7).sum == plain.count())
    // intra rows: one per set with n >= 2, jaccard exactly 1
    val intra = collapsed.filter(r => r._1 == r._2)
    assert(intra.length == 5) // bases 1..5 have n = 2..6
    assert(intra.forall(r => r._4 == 1.0 && r._7 == r._5 * (r._5 - 1) / 2))
    // inter rows join REPRESENTATIVES only (min id per set)
    collapsed.filter(r => r._1 != r._2).foreach { r =>
      assert(r._7 == r._5 * r._6)
    }
  }

  test("dedupThresholdSweep: per-τ pair counts equal running setSimJoin at that τ; monotone; grid-complete") {
    val rng = new scala.util.Random(316)
    def doc(): String =
      (1 to 120).map(_ => ('a' + rng.nextInt(6)).toChar).mkString
    val bases = Seq.fill(6)(doc())
    val rows = bases.zipWithIndex.flatMap { case (t, i) =>
      (0 to i).map(j => (i * 100L + j, t))
    } :+ (999L, bases.head.take(110) + "zzzzzzzzzz")
    val docs = rows.toDF("doc_id", "text")
    val taus = Seq(0.7, 0.8, 0.9, 1.0)
    val got = Dedup.dedupThresholdSweep(docs, taus)
      .orderBy("tau_q6")
      .as[(Long, Long, Long, Long, Option[Long], Long, Option[Long])]
      .collect().toSeq
    assert(got.map(_._1) == taus.map(t => math.round(t * 1e6)).sorted)
    // exact agreement with a fresh pair join at every τ
    for ((t, row) <- taus.sorted.zip(got)) {
      val truth = Dedup.setSimJoin(docs, t).count()
      assert(row._2 == truth, s"n_pairs at tau=$t: ${row._2} vs $truth")
    }
    // biting monotonically less as τ rises; clone pairs survive τ = 1
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
    assert(got.map(_._4) == got.map(_._4).sorted.reverse)
    assert(got.last._2 == (2 to 6).map(n => n * (n - 1) / 2).sum)
    // doc share: the τ-min row touches all but the unique-set docs
    val nd = rows.size
    assert(got.head._5.contains(got.head._4 * 1000000L / nd))
    // token ROI: every doc here is ONE whitespace token, so tokens at
    // stake == docs at stake and the share denominators coincide
    assert(got.map(_._6) == got.map(_._4))
    got.foreach { r => assert(r._7.contains(r._6 * 1000000L / nd)) }
  }

  test("ivfProbePlan: monotone recall/scan in nProbe; full probe = full scan share; agrees with ivfTopKInt8") {
    val base = (0 until 60).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(j =>
        if (j / 4 == cluster) 1.0f + 0.01f * i else 0.01f * ((i + j) % 3))
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" < 4)
    val plan = Similarity.ivfProbePlan(df, qs, k = 3,
        nProbes = Seq(1, 2, 4, 8), nCells = 8, iters = 2)
      .orderBy("n_probe")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(plan.map(_._1) == Seq(1L, 2L, 4L, 8L))
    // more probes never lose recall and never scan less
    assert(plan.map(_._2) == plan.map(_._2).sorted)
    assert(plan.map(_._4) == plan.map(_._4).sorted)
    // probing every cell reads the whole corpus per query (share 10⁶)
    assert(plan.last._5 == 1000000L)
    // the nProbe=4 point reproduces the served-path top-k exactly:
    // recall readout == annRecallAtK over ivfTopKInt8 at that probe
    val truth = Similarity.bruteForceTopK(df, qs, k = 3)
    val approx = Similarity.ivfTopKInt8(df, qs, k = 3,
      nCells = 8, nProbe = 4, iters = 2)
    val macroQ6 = Similarity.annRecallAtK(truth, approx, k = 3)
      .select("macro_recall_q6").as[Long].head()
    assert(plan.find(_._1 == 4L).get._3 == macroQ6)
  }

  test("pqRefinePlan: monotone recall/cost in refine factor; depth >= corpus = exact; agrees with pqRefineTopK") {
    val base = (0 until 60).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16)(j =>
        if (j / 4 == cluster) 1.0f + 0.01f * i else 0.01f * ((i + j) % 3))
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" < 4)
    val rfs = Seq(1, 2, 4, 20) // 20·3 = 60 > 59 = corpus-1: full re-rank
    val plan = Similarity.pqRefinePlan(df, qs, k = 3,
        refineFactors = rfs, m = 4, ksub = 8, iters = 2)
      .orderBy("refine_factor")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(plan.map(_._1) == rfs.map(_.toLong))
    assert(plan.map(_._2) == rfs.map(r => 3L * r))
    // deeper shortlists never lose recall and never re-score less
    assert(plan.map(_._3) == plan.map(_._3).sorted)
    assert(plan.map(_._5) == plan.map(_._5).sorted)
    // exact re-scores = |Q| · min(depth, corpus−1)
    assert(plan.map(_._5) == rfs.map(r => 4L * math.min(3L * r, 59L)))
    // a shortlist covering the whole corpus IS the exact truth
    assert(plan.last._4 == 1000000L)
    // each point reproduces the served refine path: n_hits == overlap
    // of pqRefineTopK's output with the driver-side exact-L2 truth
    val qv = graft.operators.Embeddings.withInt8Quantized(df)
      .select($"vec_id", $"q").as[(Long, Seq[Int])].collect().toMap
    def d2(a: Seq[Int], b: Seq[Int]): Long =
      a.iterator.zip(b.iterator)
        .map { case (x, y) => val t = (x - y).toLong; t * t }.sum
    val truth = (0L until 4L).flatMap { q =>
      (0L until 60L).filter(_ != q).map(n => (n, d2(qv(q), qv(n))))
        .sortBy { case (n, d) => (d, n) }.take(3).map(p => (q, p._1))
    }.toSet
    for (rf <- Seq(1, 2, 4)) {
      val served = Similarity.pqRefineTopK(df, qs, k = 3,
          refineFactor = rf, m = 4, ksub = 8, iters = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(plan.find(_._1 == rf.toLong).get._3 ==
        (truth intersect served).size.toLong, s"rf=$rf n_hits mismatch")
    }
  }

  test("cdcChunks: exact partition, length bounds, shift-robust resync; corpus op finds planted dup") {
    import graft.functions.Hashing
    val rng = new scala.util.Random(206)
    val text = (1 to 2000).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val chunks = Hashing.cdcChunks(text, 16, 128, 6)
    // chunks tile the text exactly
    assert(chunks.head._1 == 0)
    assert(chunks.map(_._2).sum == text.length)
    chunks.sliding(2).foreach { case Array(a, b) =>
      assert(b._1 == a._1 + a._2)
    case _ => ()
    }
    // every non-final chunk obeys [minLen, maxLen]; final ≤ maxLen
    chunks.dropRight(1).foreach { c =>
      assert(c._2 >= 16 && c._2 <= 128, c)
    }
    assert(chunks.last._2 <= 128)
    assert(chunks.length > 5, "mask 6 on 2000 chars must cut")
    // SHIFT ROBUSTNESS (the CDC point): insert one char at pos 500 —
    // chunk digests resynchronize; the suffix far beyond the edit is
    // bit-identical, where fixed windows would all shift
    val edited = text.substring(0, 500) + "X" + text.substring(500)
    val ce = Hashing.cdcChunks(edited, 16, 128, 6)
    val tailA = chunks.map(_._3).reverse
    val tailB = ce.map(_._3).reverse
    val common = tailA.zip(tailB).takeWhile { case (x, y) => x == y }.length
    val resyncAt = chunks.dropRight(common).map(_._2).sum
    assert(common >= 1, "no suffix resync after a single-char insert")
    assert(resyncAt <= 500 + 1 + 256,
      s"resync only at offset $resyncAt for an edit at 500")
    // empty + short texts
    assert(Hashing.cdcChunks("", 16, 128, 6).isEmpty)
    assert(Hashing.cdcChunks("ab", 16, 128, 6).toSeq ==
      Seq((0, 2, Hashing.cdcChunks("ab", 16, 128, 6).head._3)))
    // corpus operator: a chunk-sized string planted in two docs shows
    // up with n_docs = 2
    val shared = (1 to 200).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, (1 to 300).map(_ => ('a' + rng.nextInt(26)).toChar).mkString + shared),
      (2L, shared + (1 to 300).map(_ => ('a' + rng.nextInt(26)).toChar).mkString),
      (3L, (1 to 250).map(_ => ('a' + rng.nextInt(26)).toChar).mkString))
      .toDF("doc_id", "text")
    val dup = Dedup.cdcDuplicateChunks(docs)
      .as[(Long, Long, Long, Long)].collect()
    assert(dup.nonEmpty, "planted 200-char shared run produced no dup chunk")
    assert(dup.forall(_._3 >= 2L))
  }

  test("anisotropyProfile: on-axis vectors near energy 1, orthogonal near 0, exact rational") {
    val dim = 8
    val rows: Seq[(Long, Seq[Float])] =
      (0L until 40L).map { i =>
        val sg = if (i % 2 == 0) 1.0f else -1.0f
        (i, (sg * 1.0f) +: Seq.fill(dim - 1)(0.001f))
      } ++ Seq((90L, 0.001f +: 1.0f +: Seq.fill(dim - 2)(0.001f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Embeddings.anisotropyProfile(df, dim, rounds = 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // the dominant axis is e0: on-axis vectors carry ≥ 99% of their
    // energy on it; the lone e1 vector carries ~none
    (0L until 40L).foreach { i =>
      assert(got(i)._3 > 990000L, s"vec $i energy ${got(i)._3}")
    }
    assert(got(90L)._3 < 10000L, s"orthogonal vec energy ${got(90L)._3}")
    // exact recompute of one vector's energy from the definition
    val w = Embeddings.dominantDirection(df, dim, rounds = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
      .map(r => BigInt(r._2) / BigInt(1000000L))
    val q0 = {
      val v = rows.head._2
      val ma = v.map(x => math.abs(x.toDouble)).max
      val sc = if (ma == 0) 1.0 else 127.0 / ma
      v.map(x => BigInt(math.floor(x.toDouble * sc + 0.5).toLong))
    }
    val dw = q0.zip(w).map { case (a, b) => a * b }.sum
    val ssq = q0.map(x => x * x).sum
    val wss = w.map(x => x * x).sum
    assert(got(0L)._2 == dw.toLong)
    assert(got(0L)._3 == (BigInt(1000000) * dw * dw / (ssq * wss)).toLong)
  }

  test("pointInTimeFeatures: no future leakage, boundary inclusive, null gap before first purchase, one shuffle") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: purchase AFTER the click must not leak into the click
      (1L, 10L, "click", t("2024-03-08 12:00:00"), null.asInstanceOf[java.lang.Double]),
      (1L, 11L, "purchase", t("2024-03-08 12:00:01"), java.lang.Double.valueOf(50.0)),
      // user 2: purchase exactly 7d before the click → INSIDE [t-7d, t]
      (2L, 20L, "purchase", t("2024-03-01 12:00:00"), java.lang.Double.valueOf(10.0)),
      (2L, 21L, "click", t("2024-03-08 12:00:00"), null.asInstanceOf[java.lang.Double]),
      // user 2: a second click 1µs past the window edge → spend drops out
      (2L, 22L, "click", t("2024-03-08 12:00:00.000001"), null.asInstanceOf[java.lang.Double]),
      // user 3: click before any purchase → null gap
      (3L, 30L, "click", t("2024-03-05 00:00:00"), null.asInstanceOf[java.lang.Double]),
      (3L, 31L, "purchase", t("2024-03-06 00:00:00"), java.lang.Double.valueOf(5.0)))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val out = graft.operators.Features.pointInTimeFeatures(ev)
    val got = out.as[(Long, Long, Long, Long, Long, Option[Long])]
      .collect().map(r => r._2 -> r).toMap
    assert(got(10L)._4 == 0L, "future purchase leaked into the click")
    assert(got(10L)._6.isEmpty)
    assert(got(21L)._4 == 100000L, "7d-boundary purchase must be inside")
    assert(got(21L)._6.contains(604800000000L))
    assert(got(22L)._4 == 0L, "1us past the window must be outside")
    assert(got(30L)._4 == 0L && got(30L)._6.isEmpty)
    // single shuffle: both frames share one (user_id, us) sort order
    val exchanges = out.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected one logical shuffle (plus AQE read), saw $exchanges")
  }

  test("codeSwitch: mixed bilingual doc flagged, monolingual not, und lines abstain, ln2 entropy") {
    val en = "the cat and the dog in that house was for it"
    val es = "el gato y la casa es una que por los"
    val docs = Seq(
      (1L, s"$en\n$es"),                    // 1:1 en/es → mixed
      (2L, s"$en\n$en\n$en"),               // monolingual
      (3L, "zzz qqq xxx\n" + en),           // und line abstains
      (4L, s"$en\n$en\n$en\n$en\n$en\n$en\n$en\n$en\n$en\n$es"), // 1/10 < 1/8 → not mixed
      (5L, ""),                             // no voting lines
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.codeSwitch(docs)
      .as[(Long, Long, String, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, "en", 2L, 693147180559L, true)))
    assert(got(2L) == ((2L, 3L, "en", 1L, 0L, false)))
    assert(got(3L)._2 == 1L && got(3L)._3 == "en" && !got(3L)._6)
    assert(got(4L)._4 == 2L && !got(4L)._6, "1/10 minority below the 1/8 bar")
    assert(got(5L) == ((5L, 0L, "und", 0L, 0L, false)))
    assert(got(6L) == ((6L, 0L, "und", 0L, 0L, false)))
    // entropy of a 50/50 two-way split is ln 2 in Q12 (floor): lnQ12(2)
    assert(got(1L)._5 == graft.functions.FixedMath.lnQ12(2L))
  }

  test("mmrTopK: rank-1 is argmax relevance, picks diversify across clusters, ranks dense") {
    val rng = new scala.util.Random(234)
    def jitter(base: Array[Float]): Seq[Float] =
      base.map(x => x + (rng.nextDouble() * 0.02 - 0.01).toFloat).toSeq
    // two tight clusters: A along e0 (ids 10-19), B along e1 (ids 20-29);
    // query (id 0) sits mostly in A's direction
    val a = Array(1.0f, 0.1f, 0f, 0f)
    val b = Array(0.1f, 1.0f, 0f, 0f)
    val rows: Seq[(Long, Seq[Float])] =
      (Seq((0L, Seq(1.0f, 0.4f, 0.0f, 0.0f))) ++
        (10L to 19L).map(i => (i, jitter(a))) ++
        (20L to 29L).map(i => (i, jitter(b))))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(df, df.filter(col("vec_id") === 0L),
        k = 6, poolSize = 20)
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._2)
    assert(got.length == 6 && got.forall(_._1 == 0L))
    assert(got.map(_._2).toSeq == (1L to 6L), "ranks dense 1..k")
    // rank 1 = plain argmax relevance (all relevances in the pool)
    assert(got.head._4 == got.map(_._4).max)
    assert(got.head._5 == 0.5 * got.head._4, "rank-1 mmr = lambda*rel")
    // diversification: plain top-6 by relevance is all cluster A, but
    // MMR must reach cluster B within the first 3 picks
    val firstB = got.indexWhere(r => r._3 >= 20L && r._3 <= 29L)
    assert(firstB >= 0 && firstB < 3,
      s"cluster B first appears at position $firstB; got ${got.map(_._3).toSeq}")
    // mmr_score never exceeds lambda*rel, and scores are the greedy's
    // non-increasing-by-construction only for equal-rel pools; check
    // instead each pick's score is <= the previous pick's score
    assert(got.sliding(2).forall(p => p(1)._5 <= p(0)._5 + 1e-12),
      "greedy picks have non-increasing MMR scores")
  }

  test("zipfProfile: uniform counts give slope 0 exactly; Zipf corpus lands near -1") {
    // every token appears exactly twice → y constant → OLS numerator 0
    val uni = Seq("aa bb cc dd", "aa bb cc dd").toDF("text")
    val u = TextAnalysis.zipfProfile(uni, topK = 10).collect().head
    assert((u.getLong(0), u.getLong(1), u.getLong(2)) == (4L, 4L, 0L))
    // word i repeated ⌊1200/i⌋ times, i = 1..12 → slope ≈ −1
    val zipf = (1 to 12).map(i =>
      Seq.fill(1200 / i)(s"w$i").mkString(" ")).mkString(" ")
    val z = TextAnalysis.zipfProfile(Seq(zipf).toDF("text"), topK = 12)
      .collect().head
    assert(z.getLong(0) == 12L && z.getLong(1) == 12L)
    assert(z.getLong(2) < -900000000L && z.getLong(2) > -1100000000L,
      s"zipf slope_q9 = ${z.getLong(2)}")
    // topK caps the fit set, not the vocabulary readout
    val capped = TextAnalysis.zipfProfile(Seq(zipf).toDF("text"), topK = 5)
      .collect().head
    assert(capped.getLong(0) == 12L && capped.getLong(1) == 5L)
  }

  test("matryoshkaProfile: hand-computed int8 prefix cosines") {
    // v1 = [3,4]: q = [⌊3·31.75+.5⌋, 127] = [95, 127];
    //   S1 = 9025, Sd = 25154 → c2(1) = ⌊9025e9/25154⌋; c2(2) = 1e9
    // v2 = [1,0]: q = [127, 0] → c2 = 1e9 at both prefixes
    val df = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Embeddings
      .matryoshkaProfile(df, prefixes = Seq(1, 2))
      .orderBy("prefix_dim")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    val c2a = 9025L * 1000000000L / 25154L
    assert(got == List(
      (1L, 2L, (c2a + 1000000000L) / 2L, c2a, 1000000000L),
      (2L, 2L, 1000000000L, 1000000000L, 1000000000L)))
  }

  test("kAnonymityAudit: classes under k counted by rows; exact rate") {
    val rows = Seq.fill(12)(("x", "p")) ++ Seq.fill(3)(("x", "q")) ++
      Seq(("y", "p"))
    val r = graft.operators.Validation
      .kAnonymityAudit(rows.toDF("a", "b"), Seq("a", "b"), k = 10)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == (16L, 3L, 1L, 4L, 250000000L))
  }

  test("lDiversityAudit: distinct sensitive per class, violations by rows") {
    // (x,p): sensitive {1,1,2} → l=2, 3 rows; (x,q): {1,2,3} → l=3;
    // (y,p): {7,7} → l=1, 2 rows. l=3 ⇒ violating classes 2, rows 5.
    val rows = Seq(("x", "p", 1L), ("x", "p", 1L), ("x", "p", 2L),
      ("x", "q", 1L), ("x", "q", 2L), ("x", "q", 3L),
      ("y", "p", 7L), ("y", "p", 7L))
    val r = graft.operators.Validation
      .lDiversityAudit(rows.toDF("a", "b", "s"), Seq("a", "b"), "s", l = 3)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) ==
      (8L, 3L, 1L, 2L, 5L, 5L * 1000000000L / 8L))
    // empty input: one row of zero counts, NULL rate — no NPE
    val e = graft.operators.Validation.lDiversityAudit(
      Seq.empty[(String, String, Long)].toDF("a", "b", "s"),
      Seq("a"), "s").collect().head
    assert(e.getLong(0) == 0L && e.isNullAt(5))
  }

  test("heapsGrowth: first-seen cumulative vocabulary at floor checkpoints") {
    // docs in id order: 1 "a b", 2 "b c", 3 "c d a a", 4 "d"
    // first seen: a@1 b@1 c@2 d@3 → vocab(1..4 docs) = 2,3,4,4
    val docs = Seq((1L, "a b"), (2L, "b c"), (3L, "c d a a"), (4L, "d"))
      .toDF("doc_id", "text")
    val b4 = graft.operators.TextAnalysis.heapsGrowth(docs, buckets = 4)
      .orderBy("ckpt").as[(Long, Long, Long)].collect().toList
    assert(b4 == List((1L, 1L, 2L), (2L, 2L, 3L), (3L, 3L, 4L),
      (4L, 4L, 4L)))
    // B=2: n_docs = ⌊i·4/2⌋ = 2, 4
    val b2 = graft.operators.TextAnalysis.heapsGrowth(docs, buckets = 2)
      .orderBy("ckpt").as[(Long, Long, Long)].collect().toList
    assert(b2 == List((1L, 2L, 3L), (2L, 4L, 4L)))
  }

  test("lshPlan: exact Q6 S-curve values, grid shape, monotone in J") {
    val got = graft.operators.Dedup.lshPlan(spark)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // b ∈ {1,2,4,8,16} × r ∈ {2,4,8} minus 16×8 > 64 → 14 × 9 = 126
    assert(got.length == 126)
    // hand case (b=2, r=2, j=0.5): p1 = ⌊0.25e6⌋; pd = 1e6 − ⌊0.75²e6⌋
    val h = got.find(t => t._1 == 2 && t._2 == 2 && t._4 == 500000L).get
    assert(h._5 == 250000L && h._6 == 437500L)
    // one band: detect prob = band prob exactly
    assert(got.filter(_._1 == 1).forall(t => t._6 == t._5))
    // fixing (b, r): detect prob is non-decreasing in J
    got.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      val ps = rows.sortBy(_._4).map(_._6)
      assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    }
  }

  test("kCenterSelect: farthest-point picks with exact int8 radii") {
    // maxabs 127 everywhere → scale 1, codes = values. Round 1: min id.
    // Round 2 argmax d² to p1=(0,127): p2/p4 tie at 32258 → id 2.
    // Round 3 argmax min(d to p1, d to p2): p4 wins at 32258.
    val df = Seq(
      (1L, Seq(0f, 127f)), (2L, Seq(127f, 0f)), (3L, Seq(127f, 127f)),
      (4L, Seq(-127f, 0f)), (5L, Seq(127f, 126f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Embeddings.kCenterSelect(df, k = 3)
      .orderBy("round").as[(Long, Long, Long)].collect().toList
    assert(got == List((1L, 1L, 0L), (2L, 2L, 32258L), (3L, 4L, 32258L)))
    // k larger than the corpus: picks exhaust, no crash, no repeats
    val all = graft.operators.Embeddings.kCenterSelect(df, k = 9)
      .as[(Long, Long, Long)].collect()
    assert(all.map(_._2).distinct.length == all.length && all.length <= 5)
  }

  test("kCenterSelect: storage contract — superseded round states free eagerly (≤ +2 persistent RDDs)") {
    // the loop materializes one corpus-sized state per round; the
    // contract (scaladoc) is that round k−1's blocks are unpersisted as
    // soon as round k's action lands, so a k-round run leaves at most
    // the FINAL state behind — not k blocks
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1L to 64L)
      .map(i => (i, Seq(((i * 37) % 255 - 127).toFloat,
        ((i * 91) % 255 - 127).toFloat)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Embeddings.kCenterSelect(df, k = 6).count()
    assert(got == 6L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"kCenterSelect leaked ${leaked.size} persistent RDDs (want ≤2: " +
        "final state + at most one in-flight unpersist)")
  }

  test("textRankKeywords: hub word wins; equals direct weighted PageRank on the bigram graph") {
    // "x" is adjacent to every other word: x a x b x c -> x is the hub
    val docs = Seq("x a x b x c", "x a x b").toDF("text")
    val got = graft.operators.TextAnalysis.textRankKeywords(docs, topK = 4)
      .as[(String, Long)].collect()
    assert(got.head._1 == "x", s"hub should rank first, got ${got.head}")
    // cross-check the composition against a hand-built edge table fed
    // straight into pageRankIntWeighted (same bigrams, both directions)
    val bigrams = Seq("x a x b x c", "x a x b").flatMap { t =>
      val ws = t.split(" ").toSeq
      ws.zip(ws.tail).filter { case (a, b) => a != b }
    }
    val edges = (bigrams ++ bigrams.map(_.swap))
      .groupBy(identity).map { case ((a, b), g) =>
        (a, b, math.min(g.size.toLong, 100000L)) }.toSeq
      .toDF("src", "dst", "weight")
    val direct = graft.operators.Graphs.pageRankIntWeighted(edges, iters = 3)
      .orderBy(col("score").desc, col("node")).limit(4)
      .as[(String, Long)].collect().toList
    assert(got.toList == direct, "composition == direct weighted PageRank")
    // self-adjacent repeats contribute no edge: single-word repetition
    // yields an empty graph and an empty result
    assert(graft.operators.TextAnalysis.textRankKeywords(
      Seq("the the the").toDF("text")).count() == 0L)
  }

  test("domainTopTerms: hand-computed c-TF-IDF, stopword-ish shared term scores lower") {
    import graft.functions.FixedMath.lnQ12
    // A: "x x y", B: "y z" -> S=2; df: x=1, y=2, z=1
    val docs = Seq(("A", "x x y"), ("B", "y z")).toDF("source", "text")
    val i1 = lnQ12(6L) - lnQ12(3L)  // df=1
    val i2 = lnQ12(6L) - lnQ12(5L)  // df=2 (shared term, much smaller)
    val got = graft.operators.TextAnalysis.domainTopTerms(docs, k = 5)
      .orderBy("source", "rank")
      .as[(String, Long, String, Long, Long)].collect().toList
    assert(got == List(
      ("A", 1L, "x", 2L, (BigInt(2) * i1 / 1000000).toLong),
      ("A", 2L, "y", 1L, i2 / 1000000),
      ("B", 1L, "z", 1L, i1 / 1000000),
      ("B", 2L, "y", 1L, i2 / 1000000)))
    // ln(6/5) vs ln2: the everywhere-term's idf is >3x smaller even at
    // S=2 domains (it → 0 as S grows: ln(2(S+1)) − ln(2S+1) ~ 1/(2S))
    assert(i2 * 3 < i1, "shared-term idf collapses toward 0")
  }

  test("hillTailIndex: hand-computed log sum; flat top-k gives NULL alpha") {
    import graft.functions.FixedMath.lnQ12
    val df = Seq(8L, 4L, 2L, 1L, 1L).toDF("v")
    val got = graft.operators.TextAnalysis.hillTailIndex(df, "v", k = 3)
      .collect().head
    val sum = (lnQ12(8L) - lnQ12(2L)) + (lnQ12(4L) - lnQ12(2L))
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == (3L, 2L, sum))
    assert(got.getLong(3) == (BigInt(2) * BigInt("1000000000000000000") / sum).toLong)
    // flat tail: estimator undefined -> NULL
    val flat = Seq(5L, 5L, 5L, 5L).toDF("v")
    val g2 = graft.operators.TextAnalysis.hillTailIndex(flat, "v", k = 3)
      .collect().head
    assert(g2.getLong(2) == 0L && g2.isNullAt(3))
  }

  test("silhouetteProfile: degenerate all-identical corpus scores 0; invariants hold") {
    // every vector identical: a = b = 0 -> the GREATEST()=0 guard makes
    // s exactly 0 for every vector, regardless of seeding
    val same = (1L to 8L).map(i => (i, Seq.fill(4)(127f)))
      .toDF("vec_id", "embedding")
    val g0 = graft.operators.Embeddings
      .silhouetteProfile(same, nCells = 2, iters = 1)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(g0.map(_._2).sum == 8L)
    assert(g0.forall(r => r._3 == 0L && r._4 == 0L && r._5 == 0L))
    // spread corpus: per-cell counts cover the corpus and every
    // silhouette stat sits in [0, 1e6] with min <= mean <= max
    val mixed = (1L to 40L).map(i =>
      (i, Seq(((i * 37) % 255 - 127).toFloat, ((i * 91) % 255 - 127).toFloat,
        ((i * 13) % 255 - 127).toFloat, 127f)))
      .toDF("vec_id", "embedding")
    val gm = graft.operators.Embeddings
      .silhouetteProfile(mixed, nCells = 4, iters = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(gm.map(_._2).sum == 40L)
    assert(gm.forall(r => r._4 >= 0L && r._5 <= 1000000L &&
      r._4 <= r._3 && r._3 <= r._5))
    // single-cell training: no "other" centroid exists, so silhouette is
    // undefined — every row drops (the oracle's inner-join semantics),
    // not retained with a NULL b polluting n and the mean
    val g1 = graft.operators.Embeddings
      .silhouetteProfile(mixed, nCells = 1, iters = 1)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(g1.isEmpty)
  }

  test("domainVocabOverlap: hand-computed Jaccards; zero-overlap pair completes; empty domain absent") {
    val docs = Seq(
      ("a", "cat dog fish"), ("a", "dog bird"),     // vocab a: cat dog fish bird (4)
      ("b", "dog fish mouse"),                       // vocab b: dog fish mouse (3)
      ("c", "xyzzy plugh"),                          // vocab c: disjoint (2)
      ("d", ""))                                     // no tokens: absent
      .toDF("source", "text")
    val got = graft.operators.TextAnalysis.domainVocabOverlap(docs)
      .orderBy("domain_a", "domain_b")
      .as[(String, String, Long, Long, Long)].collect().toList
    // a-b: common {dog, fish} = 2, union 5, jaccard floor(2e6/5) = 400000
    // a-c: common 0, union 6; b-c: common 0, union 5
    assert(got == List(
      ("a", "b", 2L, 5L, 400000L),
      ("a", "c", 0L, 6L, 0L),
      ("b", "c", 0L, 5L, 0L)))
    // universal-token cap: "dog" and "fish" sit in two domains each;
    // capping at 1 drops them from sizes AND intersections, leaving
    // only each domain's private vocabulary: a {cat bird}, b {mouse},
    // c {xyzzy plugh}
    val capped = graft.operators.TextAnalysis
      .domainVocabOverlap(docs, maxDomainsPerToken = 1)
      .orderBy("domain_a", "domain_b")
      .as[(String, String, Long, Long, Long)].collect().toList
    assert(capped == List(
      ("a", "b", 0L, 3L, 0L),
      ("a", "c", 0L, 4L, 0L),
      ("b", "c", 0L, 3L, 0L)))
  }

  test("domainDivergence: identical distributions = 0; disjoint = ln2; bounds hold") {
    val ln2 = graft.functions.FixedMath.lnQ12(2L)
    val docs = Seq(
      ("a", "x x y"), ("b", "x x y"),    // identical distributions
      ("c", "zq zq pw"))                 // disjoint from both
      .toDF("source", "text")
    val got = graft.operators.TextAnalysis.domainDivergence(docs)
      .orderBy("domain_a", "domain_b")
      .as[(String, String, Long, Long)].collect().toList
    assert(got == List(
      ("a", "b", 2L, 0L),            // p = q everywhere -> exact 0
      ("a", "c", 0L, ln2),           // no shared tokens -> JS max
      ("b", "c", 0L, ln2)))
    // skewed-but-overlapping pair: strictly inside (0, ln2)
    val sk = Seq(("a", "x x x y"), ("b", "x y y y")).toDF("source", "text")
    val js = graft.operators.TextAnalysis.domainDivergence(sk)
      .as[(String, String, Long, Long)].collect().head._4
    assert(js > 0L && js < ln2)
  }

  test("ivfBalanceReport: counts cover the corpus; shares floor-sum; imbalance >= 1e6 and constant") {
    val mixed = (1L to 40L).map(i =>
      (i, Seq(((i * 37) % 255 - 127).toFloat, ((i * 91) % 255 - 127).toFloat,
        ((i * 13) % 255 - 127).toFloat, 127f)))
      .toDF("vec_id", "embedding")
    val rows = graft.operators.Embeddings
      .ivfBalanceReport(mixed, nCells = 4, iters = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._2).sum == 40L)
    val shareSum = rows.map(_._3).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.length)
    assert(rows.map(_._4).distinct.length == 1) // global factor repeated
    assert(rows.head._4 >= 1000000L)            // max/mean >= 1
  }

  test("psiVsBaseline: proportional buckets score exactly 0; a skewed bucket scores > 0 with global k") {
    val prop = Seq((0L, "x"), (0L, "x"), (0L, "y"), (0L, "y"),
      (1L, "x"), (1L, "x"), (1L, "y"), (1L, "y")).toDF("b", "cat")
    val g0 = graft.operators.Analytics
      .psiVsBaseline(prop, col("b"), "cat")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(g0.length == 2 && g0.forall(r => r._5 == 0L && r._4 == 2L))
    // bucket 1 misses category y entirely: its grid row completes at 0
    // (k stays global = 2) and psi is strictly positive
    val skew = Seq((0L, "x"), (0L, "y"), (0L, "y"),
      (1L, "x"), (1L, "x"), (1L, "x")).toDF("b", "cat")
    val g1 = graft.operators.Analytics
      .psiVsBaseline(skew, col("b"), "cat")
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(g1.forall(_._4 == 2L))
    assert(g1(1)._5 > 0L)
  }

  test("dupClusterDomains: intra- vs cross-domain clusters; exact cross-domain copy collapses before clustering") {
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // intra-domain near-dup pair (A): one appended word
      (1L, "A", base + " tailA"),
      (2L, "A", base + " tailB"),
      // cross-domain near-dup pair (A x B): disjoint from the first
      // cluster (fresh vocabulary)
      (3L, "A", (50 until 90).map(i => s"v$i").mkString(" ") + " x"),
      (4L, "B", (50 until 90).map(i => s"v$i").mkString(" ") + " y"),
      // EXACT copy of doc 1's text in domain C: md5-collapses to the
      // min-id rep BEFORE LSH, so domain C never reaches the cluster
      (5L, "C", base + " tailA"),
      // unpaired doc: absent from the histogram
      (6L, "B", (100 until 140).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = graft.operators.Dedup.dupClusterDomains(docs,
        numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.5)
      .orderBy("n_domains")
      .as[(Long, Long, Long, Option[Long])].collect().toList
    assert(got == List(
      (1L, 1L, 2L, Some(500000L)),  // docs 1+2 (domain A only)
      (2L, 1L, 2L, Some(500000L)))) // docs 3+4 (domains A, B)
  }

  test("TokenCountWs native kernel ≡ the split/filter HOF form (property + edges)") {
    val hof = (c: org.apache.spark.sql.Column) =>
      size(filter(split(c, "\\s+"), t => length(t) > 0))
    val edges = Seq("", " ", "  \t\n", "a", " a", "a ",
      " a b\tc\nde\ff\rg ", // all six Java-\s whitespace bytes
      "a b",                 // NBSP is NOT Java \s: one token, not two
      "héllo wörld",              // multi-byte chars must not split
      "x" * 5000, null)
    val rng = new scala.util.Random(321)
    val rand = Seq.fill(300) {
      (0 until rng.nextInt(40)).map { _ =>
        rng.nextInt(6) match {
          case 0 => " "
          case 1 => "\t"
          case 2 => "\r\n"
          case 3 => ('a' + rng.nextInt(26)).toChar.toString
          case 4 => "é"
          case _ => " "
        }
      }.mkString
    }
    val df = (edges ++ rand).toDF("t")
    val bad = df.select(
        graft.operators.TextAnalysis.tokenCountWs($"t").as("nat"),
        hof($"t").as("hof"))
      .filter(!($"nat" <=> $"hof"))
    assert(bad.count() == 0L, bad.collect().take(3).mkString("; "))
  }

  test("tokenBudgetBySource: bytes/tokens/share/fertility are self-consistent") {
    val docs = Seq(
      ("a", "hello world hello"), ("a", "the cat sat"),
      ("b", "abc 123 def"), ("c", null: String))
      .toDF("source", "text")
    val rows = graft.operators.TextAnalysis.tokenBudgetBySource(docs)
      .orderBy("source")
      .as[(String, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toList
    assert(rows.map(_._1) == List("a", "b", "c"))
    val a = rows.head
    assert(a._2 == 2L && a._3 == "hello world hello".length +
      "the cat sat".length)
    assert(a._4 > 0L)
    val tt = rows.map(_._4).sum
    rows.foreach { r =>
      assert(r._5.contains(r._4 * 1000000L / tt))
      if (r._3 > 0) assert(r._6.contains(r._4 * 100000000L / r._3))
      else assert(r._6.isEmpty)
    }
    // null-text domain: 0 bytes, 0 tokens, fertility undefined
    val c = rows.last
    assert(c._3 == 0L && c._4 == 0L && c._6.isEmpty)
  }

  test("epochsPlan: epochs/cap/shortfall arithmetic against the cells; tokenless source reads NULL epochs") {
    val docs = Seq(
      ("a", "hello world hello"), ("a", "the cat sat"),
      ("b", "abc 123 def"), ("c", null: String))
      .toDF("source", "text")
    val cells = graft.operators.TextAnalysis.tokenBudgetCells(docs)
      .orderBy("source")
      .as[(String, Long, Long, Long)].collect().toList
      .map(r => r._1 -> r._4).toMap
    // "zz" is entirely ABSENT from the corpus: its row must still
    // appear (supply 0, NULL epochs, full-demand shortfall) — the
    // infeasible-mix case a silent inner join would hide
    val targets = Seq(("a", 500L), ("b", 300L), ("c", 200L), ("zz", 100L))
    val budget = 100L; val cap = 2000L // 2.0 epochs
    val got = graft.operators.TextAnalysis.epochsPlan(docs, targets,
        budgetTokens = budget, maxEpochsQ3 = cap)
      .orderBy("source")
      .as[(String, Long, Long, Long, Option[Long], Option[Boolean],
        Long, Long)].collect().toList
    assert(got.map(_._1) == List("a", "b", "c", "zz"))
    for (r <- got) {
      val supply = cells.getOrElse(r._1, 0L)
      val needed = budget * r._3 / 1000L
      assert(r._2 == supply && r._4 == needed)
      if (supply > 0) {
        val epochs = (needed * 1000L + supply - 1L) / supply // ceil Q3
        assert(r._5.contains(epochs))
        assert(r._6.contains(epochs > cap))
        val achieved = math.min(needed, supply * cap / 1000L)
        assert(r._7 == achieved && r._8 == needed - achieved)
      } else {
        // tokenless source: epochs/cap undefined (NULL), nothing
        // achievable, the whole demand is shortfall
        assert(r._5.isEmpty && r._6.isEmpty)
        assert(r._7 == 0L && r._8 == needed)
      }
    }
    // the cap actually bit somewhere (budget 100 vs tiny supplies
    // would make every source cap; assert at least one did)
    assert(got.exists(_._6.contains(true)))
  }

  test("contextLengthPlan: hand-computed truncation costs per budget") {
    val docs = Seq(
      ("one two three"),                         // 3 tokens
      ("a b c d e f g h i j"),                   // 10 tokens
      (null: String))                            // 0 tokens
      .toDF("text")
    val got = graft.operators.Packing
      .contextLengthPlan(docs, budgets = Seq(4, 8))
      .orderBy("max_len")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toList
    // 13 tokens total; L=4: doc2 loses 6; L=8: doc2 loses 2
    assert(got == List(
      (4L, 3L, 13L, 1L, 6L, Some(6L * 1000000L / 13L)),
      (8L, 3L, 13L, 1L, 2L, Some(2L * 1000000L / 13L))))
  }

  test("knnHubness: slots conserve |Q|*k; shares floor-sum to ~1e6") {
    val vecs = (0L until 30L).map(i =>
      (i, Seq(((i * 37) % 255 - 127).toFloat, ((i * 91) % 255 - 127).toFloat,
        ((i * 13) % 255 - 127).toFloat)))
      .toDF("vec_id", "embedding")
    val rows = graft.operators.Similarity
      .knnHubness(vecs, nQueries = 10, k = 3)
      .as[(Long, Long, Option[Long])].collect()
    assert(rows.map(r => r._1 * r._2).sum == 10L * 3L)
    val shareSum = rows.flatMap(_._3).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.length)
  }

  test("zipfSlope: ~1/r corpus reads alpha near 1e6; uniform corpus clamps to 0") {
    // token t_r repeated floor(60/r) times, r = 1..6: counts 60 30 20 15 12 10
    val zipfText = (1 to 6).flatMap(r =>
      Seq.fill(60 / r)(s"tok$r")).mkString(" ")
    val z = graft.operators.TextAnalysis
      .zipfSlope(Seq(zipfText).toDF("text"), topN = 6)
      .as[(Long, Long, Option[Long])].collect().head
    assert(z._1 == 6L && z._2 == 60L)
    assert(z._3.exists(a => a > 900000L && a < 1100000L))
    // uniform frequencies: numerator is exactly 0 -> clamped alpha 0
    val u = graft.operators.TextAnalysis
      .zipfSlope(Seq("aa bb cc dd").toDF("text"), topN = 4)
      .as[(Long, Long, Option[Long])].collect().head
    assert(u._3.contains(0L))
  }

  test("zipfSlope: tokenless corpus reads ONE (0, null, null) row — the oracle's ungrouped-aggregate shape") {
    // the q305 oracle's final SELECT aggregates over an empty top-100
    // pool into exactly one row; an empty DataFrame here would be a
    // rows_match divergence on a degenerate corpus (r14 ADVICE)
    for (corpus <- Seq(Seq.empty[String], Seq("", "!!! ---"))) {
      val rows = graft.operators.TextAnalysis
        .zipfSlope(corpus.toDF("text"), topN = 5)
        .as[(Long, Option[Long], Option[Long])].collect().toList
      assert(rows == List((0L, None, None)))
    }
  }

  test("normProfile: zero vectors pin to octave 0; known norm lands in its octave") {
    val vecs = Seq(
      (1L, Seq(0f, 0f, 0f)),        // n2 = 0 -> octave 0
      (2L, Seq(1f, 0f, 0f)),        // quantizes to [127,0,0]: n2 = 16129 -> 14 bits
      (3L, Seq(0.5f, 0.5f, 0f)))    // [127,127,0]: n2 = 32258 -> 15 bits
      .toDF("vec_id", "embedding")
    val got = graft.operators.Embeddings.normProfile(vecs)
      .orderBy("octave")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (0L, 1L, 0L, 0L),
      (14L, 1L, 16129L, 16129L),
      (15L, 1L, 32258L, 32258L)))
  }

  test("mrrAtK: first-relevant rank, miss reads 0, macro repeats") {
    val recs = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L), (2L, 21L, 2L),
      (3L, 30L, 1L)).toDF("q", "item", "rank")
    val truth = Seq(
      (1L, 11L, 2L), (1L, 12L, 1L),   // q1: first relevant at rank 2
      (2L, 99L, 5L))                   // q2: relevant item never surfaced
      .toDF("q", "item", "rel")
    val got = graft.operators.Retrieval.mrrAtK(recs, truth, k = 3)
      .orderBy("q")
      .as[(Long, Option[Long], Long, Boolean, Option[Long])]
      .collect().toList
    // macro = (500000 + 0 + 0) / 3 = 166666
    assert(got == List(
      (1L, Some(2L), 500000L, true, Some(166666L)),
      (2L, None, 0L, false, Some(166666L)),
      (3L, None, 0L, false, Some(166666L))))
  }

  test("crossDomainDups: shared digests count once; containment is of the smaller side") {
    val docs = Seq(
      ("a", "x"), ("a", "y"), ("a", "z"),
      ("b", "x"), ("b", "x"), ("b", "w"),  // duplicate copy collapses
      ("c", "unique"))
      .toDF("source", "text")
    val got = graft.operators.Dedup.crossDomainDups(docs)
      .orderBy("domain_a", "domain_b")
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    // a={x,y,z}, b={x,w}, c={unique}: a∩b={x}, containment 1/2
    assert(got == List(
      ("a", "b", 1L, 3L, 2L, 500000L),
      ("a", "c", 0L, 3L, 1L, 0L),
      ("b", "c", 0L, 2L, 1L, 0L)))
  }

  test("tableDiff: all four statuses classify and share out") {
    val before = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val after = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v")
    val got = graft.operators.Validation
      .tableDiff(before, after, Seq("k"), Seq("v"))
      .orderBy("status")
      .as[(String, Long, Option[Long])].collect().toList
    assert(got == List(
      ("added", 1L, Some(250000L)),
      ("changed", 1L, Some(250000L)),
      ("removed", 1L, Some(250000L)),
      ("unchanged", 1L, Some(250000L))))
    // null-safe equality: NULL == NULL is unchanged, NULL vs value is changed
    val b2 = Seq((1L, null: String), (2L, null: String)).toDF("k", "v")
    val a2 = Seq((1L, null: String), (2L, "x")).toDF("k", "v")
    val g2 = graft.operators.Validation
      .tableDiff(b2, a2, Seq("k"), Seq("v"))
      .orderBy("status")
      .as[(String, Long, Option[Long])].collect().toList
    assert(g2.map(r => (r._1, r._2)) ==
      List(("changed", 1L), ("unchanged", 1L)))
  }

  test("bradleyTerry: dominant winner ranks top; symmetric record ties; mean stays ~1e6") {
    val wins = Seq(
      (1L, 2L, 9L), (2L, 1L, 1L),   // 1 dominates 2
      (2L, 3L, 5L), (3L, 2L, 5L))   // 2 and 3 split evenly
      .toDF("winner", "loser", "n")
    val got = graft.operators.Analytics.bradleyTerryFromWins(wins)
      .orderBy("item")
      .as[(Long, Long)].collect().toList
    val s = got.toMap
    assert(s(1L) > s(2L) && s(1L) > s(3L))
    val mean = got.map(_._2).sum / got.length
    assert(mean > 900000L && mean <= 1000001L)
  }

  test("winRateMatrix: directed folds to unordered; Wilson matches the kernel") {
    val wins = Seq((1L, 2L, 3L), (2L, 1L, 1L), (3L, 1L, 2L))
      .toDF("winner", "loser", "n")
    val got = graft.operators.Analytics.winRateMatrix(wins)
      .orderBy("item_a", "item_b")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)) == List(
      (1L, 2L, 4L, 3L, 750000L),
      (1L, 3L, 2L, 0L, 0L)))
    assert(got.head._6 == graft.functions.FixedMath.wilsonLbQ9(4L, 3L))
    assert(got(1)._6 == graft.functions.FixedMath.wilsonLbQ9(2L, 0L))
    // a pair whose games are all n=0 has no rate (NULL), not a failed job
    val zero = graft.operators.Analytics.winRateMatrix(
        Seq((4L, 5L, 0L), (5L, 4L, 0L)).toDF("winner", "loser", "n"))
      .as[(Long, Long, Long, Long, Option[Long], Long)].collect().toList
    assert(zero == List((4L, 5L, 0L, 0L, None, 0L)))
  }

  test("preferenceCycles: a rock-paper-scissors triple is cyclic; a transitive one is not; ties drop") {
    val rps = Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 1L, 2L))
      .toDF("winner", "loser", "n")
    val c = graft.operators.Analytics.preferenceCycles(rps)
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(c == ((3L, 1L, 1L, Some(1000000L))))
    val trans = Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L))
      .toDF("winner", "loser", "n")
    val t = graft.operators.Analytics.preferenceCycles(trans)
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(t == ((3L, 1L, 0L, Some(0L))))
    // an exactly-tied pair carries no majority edge: triangle vanishes
    val tied = Seq((1L, 2L, 2L), (2L, 1L, 2L), (2L, 3L, 2L),
      (3L, 1L, 2L)).toDF("winner", "loser", "n")
    val d = graft.operators.Analytics.preferenceCycles(tied)
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(d == ((2L, 0L, 0L, None)))
  }

  test("langTokenBudget: language attribution and budget arithmetic agree with langId") {
    val docs = Seq(
      ("the cat and the dog is here"),   // en
      ("der hund und die katze ist da"), // de
      ("zz qq ww"),                      // no markers -> und
      (null: String))                    // null -> und, 0 bytes/tokens
      .toDF("text")
    val rows = graft.operators.TextAnalysis.langTokenBudget(docs)
      .orderBy("lang_pred")
      .as[(String, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toList
    assert(rows.map(r => (r._1, r._2)) ==
      List(("de", 1L), ("en", 1L), ("und", 2L)))
    val tt = rows.map(_._4).sum
    rows.foreach { r =>
      assert(r._5.contains(r._4 * 1000000L / tt))
      if (r._3 > 0) assert(r._6.contains(r._4 * 100000000L / r._3))
    }
  }

  test("dupNgramShare: cloned docs read 1e6; unique docs read 0") {
    val docs = Seq(
      ("a", "abcdefghijklmnop"),  // identical pair across domains
      ("b", "abcdefghijklmnop"),
      ("c", "zz11yy22xx33ww44vv")) // no 12-gram shared with the clones
      .toDF("source", "text")
    val rows = graft.operators.Dedup.dupNgramShare(docs)
      .orderBy("source")
      .as[(String, Long, Long, Option[Long])].collect().toList
    assert(rows.map(_._1) == List("a", "b", "c"))
    assert(rows(0)._4.contains(1000000L) && rows(1)._4.contains(1000000L))
    assert(rows(2)._3 == 0L && rows(2)._4.contains(0L))
    // slots: 16-char doc -> 5 distinct 12-grams each
    assert(rows(0)._2 == 5L)
  }

  test("dupInflation: size histogram with exact Q6 shares; streaming cells share the readout") {
    val docs = Seq(
      (1L, "x"), (2L, "x"), (3L, "x"),  // one size-3 cluster
      (4L, "y"), (5L, "y"),             // one size-2 cluster
      (6L, "z"))                        // one singleton
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.dupInflation(docs)
      .orderBy("cluster_size")
      .as[(Long, Long, Long, Long)].collect().toList
    // 6 docs total: singleton 1/6, the pair 2/6, the triple 3/6
    assert(got == List(
      (1L, 1L, 1L, 166666L),
      (2L, 1L, 2L, 333333L),
      (3L, 1L, 3L, 500000L)))
    // cells → readout composition equals the one-shot path
    val viaCells = graft.operators.Dedup.dupInflationFromCells(
      graft.operators.Dedup.digestCells(docs))
      .orderBy("cluster_size")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(viaCells == got)
  }

  test("domainDupReport: per-source docs/distinct/redundant and exact Q6 dup rate") {
    val docs = Seq(
      ("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"), // a: 4 docs, 2 distinct
      ("b", "p"), ("b", "q"))                          // b: clean
      .toDF("source", "text")
    val got = graft.operators.Dedup.domainDupReport(docs)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long)].collect().toList
    // a: redundant 2, rate floor(2e6/4) = 500000; b: 0
    assert(got == List(
      ("a", 4L, 2L, 2L, 500000L),
      ("b", 2L, 2L, 0L, 0L)))
  }

  test("pinballLoss: hand-computed asymmetric losses; tau=500 is half absolute error") {
    // diffs y - yhat: +10, -10, +30
    val df = Seq((10L, 0L), (0L, 10L), (30L, 0L)).toDF("y", "yhat")
    val got = graft.operators.Analytics.pinballLoss(df, "y", "yhat",
        Seq(100, 500, 900)).orderBy("tau_pm")
      .as[(Long, Long, Long, Long)].collect().toList
    // tau=100: 100*10 + 900*10 + 100*30 = 13000 milli; mean = 13000*1000/3
    // tau=500: 0.5 * sum|d| = 0.5*50 = 25 units = 25000 milli
    // tau=900: 900*10 + 100*10 + 900*30 = 37000 milli
    assert(got == List(
      (100L, 3L, 13000L, 13000L * 1000 / 3),
      (500L, 3L, 25000L, 25000L * 1000 / 3),
      (900L, 3L, 37000L, 37000L * 1000 / 3)))
  }

  test("psiByGroup: per-cohort PSI matches global psiDrift on each cohort; shifted cohort scores higher") {
    def rows(g: String, cat: String, act: Boolean, n: Int) =
      Seq.fill(n)((g, cat, act))
    val df = (
      rows("A", "x", false, 10) ++ rows("A", "y", false, 10) ++
        rows("A", "x", true, 10) ++ rows("A", "y", true, 10) ++ // stable
        rows("B", "x", false, 18) ++ rows("B", "y", false, 2) ++
        rows("B", "x", true, 2) ++ rows("B", "y", true, 18)     // flipped
      ).toDF("g", "cat", "act")
    val got = graft.operators.Analytics.psiByGroup(df, col("g"), "cat",
        col("act"))
      .select("grp", "psi_q").as[(String, Long)].collect().toMap
    assert(got("A") < got("B"))
    // parity: the grouped kernel run on ONE cohort's rows equals the
    // global psiDrift on those rows
    Seq("A", "B").foreach { g =>
      val glob = graft.operators.Analytics.psiDrift(
        df.filter(col("g") === g), "cat", col("act"))
        .select("psi_q").as[Long].collect().head
      assert(got(g) == glob, s"cohort $g")
    }
  }

  test("stationaryFromCells: equals a driver-side integer replay; self-heavy state holds more mass") {
    val cells = Seq(("A", "A", 3L), ("A", "B", 1L),
      ("B", "A", 1L), ("B", "B", 1L)).toDF("src", "dst", "n")
    val got = graft.operators.Analytics.stationaryFromCells(cells,
      rounds = 8).orderBy("state").as[(String, Long)].collect().toList
    // independent replay of the exact floor arithmetic on the driver
    val p = Map(("A", "A") -> 750000000L, ("A", "B") -> 250000000L,
      ("B", "A") -> 500000000L, ("B", "B") -> 500000000L)
    var pi = Map("A" -> 500000000000L, "B" -> 500000000000L)
    for (_ <- 1 to 8)
      pi = Seq("A", "B").map(d => d -> Seq("A", "B").map(s =>
        BigInt(pi(s)) * p((s, d)) / 1000000000L).sum.toLong).toMap
    assert(got == pi.toList.sortBy(_._1))
    assert(got.head._2 > got(1)._2, "self-heavy A should hold more mass")
  }

  test("annRecallAtK: hit counting, per-query and macro recall on a hand fixture") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    // q1 gets 1 of 2 right; q2 gets both (extra non-truth rows ignored)
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val got = graft.operators.Similarity.annRecallAtK(truth, approx, k = 2)
      .orderBy("query_id")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 1L, 500000L, 750000L),
      (2L, 2L, 1000000L, 750000L)))
  }

  test("langMixBySource: crosstab counts and exact Q6 shares per domain") {
    val docs = Seq(
      ("a", "the cat and the dog"),        // en
      ("a", "der hund ist nicht da"),      // de
      ("a", "zzz qqq"),                    // und
      ("b", "the quick fox was here"))     // en
      .toDF("source", "text")
    val got = graft.operators.TextAnalysis.langMixBySource(docs)
      .orderBy("source", "lang_pred")
      .as[(String, String, Long, Long)].collect().toList
    assert(got == List(
      ("a", "de", 1L, 333333L),
      ("a", "en", 1L, 333333L),
      ("a", "und", 1L, 333333L),
      ("b", "en", 1L, 1000000L)))
  }

  test("conformalCoverageByGroup: per-group quantiles; k>n group degrades to NULL q-hat / full coverage") {
    // group g: cal residuals 0,10,20,30 (n=4, k=ceil(5*0.9)=5 > 4 ->
    // NULL q-hat, coverage 1); group h: cal residuals 0..8 (n=9,
    // k=ceil(10*0.9)=9 -> q-hat = 8), test residuals 5 and 50 -> 1/2
    val rows =
      (Seq(0L, 10L, 20L, 30L).map(r => ("g", r, true)) ++
        Seq(("g", 99L, false)) ++
        (0L to 8L).map(r => ("h", r, true)) ++
        Seq(("h", 5L, false), ("h", 50L, false)) ++
        Seq(("i", 7L, true))) // cal-only group: no test rows -> absent
        .map { case (g, r, c) => (g, r, 0L, c) }
        .toDF("grp0", "y", "yhat", "cal")
    val got = graft.operators.Analytics.conformalCoverageByGroup(
      rows, "grp0", "y", "yhat", col("cal"))
      .orderBy("grp")
      .as[(String, Long, Long, Option[Long], Long, Long, Option[Long])]
      .collect().toList
    assert(got == List(
      ("g", 4L, 5L, None, 1L, 1L, Some(1000000000L)),
      ("h", 9L, 9L, Some(8L), 2L, 1L, Some(500000000L))))
  }

  test("joinSkewPreflight: exact pair products, top-k order, skew factor by hand") {
    import graft.operators.Validation
    // left: key 1 x3, key 2 x1, key 3 x2, key 4 x1 (no right match)
    // right: key 1 x4, key 2 x2, key 3 x1, key 9 x5 (no left match)
    // matched cells: 1 -> 3*4=12, 2 -> 1*2=2, 3 -> 2*1=2
    // total = 16, n_keys = 3, max = 12, skew = 12*3*1e6 DIV 16 = 2250000
    // top-k order (pairs DESC, key ASC): 1, 2, 3 (tie 2=2 by key)
    val left = Seq(1L,1L,1L,2L,3L,3L,4L).map(k => (k, "x")).toDF("k", "v")
    val right = Seq(1L,1L,1L,1L,2L,2L,3L,9L,9L,9L,9L,9L)
      .map(k => (k, "y")).toDF("k", "v")
    val got = Validation.joinSkewPreflight(left, right, "k", k = 10)
      .orderBy("rank")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(
      (1L, 1L, 3L, 4L, 12L, 750000L, 16L, 3L, 2250000L),
      (2L, 2L, 1L, 2L, 2L, 125000L, 16L, 3L, 2250000L),
      (3L, 3L, 2L, 1L, 2L, 125000L, 16L, 3L, 2250000L)))
    // k smaller than matched keys: bounded output, same leading order
    val top1 = Validation.joinSkewPreflight(left, right, "k", k = 1)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(top1 == got.take(1))
  }

  test("leakageAudit: straddling clone groups counted against an independent md5 fold replay") {
    import graft.operators.Xval
    // every text cloned once under a shifted id; fold assignment
    // recomputed HERE with java.security MessageDigest (independent of
    // the engine's conv/md5 path) to derive the expected counts
    val n = 40
    val docs = (0L until n).map(i => (i, s"text body $i")) ++
      (0L until n).map(i => (i + 1000L, s"text body $i"))
    val df = docs.toDF("doc_id", "text")
    def fold(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(8), 16) % 4).toInt
    }
    val expectedPairs = (0L until n)
      .map(i => (fold(i) min fold(i + 1000L), fold(i) max fold(i + 1000L)))
      .filter(p => p._1 != p._2)
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val nMulti = expectedPairs.values.sum // 1 clone pair per digest
    val got = Xval.leakageAudit(df, folds = 4)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    val gotPairs = got.map(r => (r._1.toInt, r._2.toInt) -> r._3).toMap
    assert(gotPairs == expectedPairs, s"fold-pair groups: $gotPairs vs $expectedPairs")
    // 2-member groups: cross-fold pair count == group count per fold pair
    got.foreach(r => assert(r._3 == r._4))
    got.foreach { r =>
      assert(r._5 == n) // total digests = distinct texts
      assert(r._6 == nMulti)
      assert(r._7 == nMulti * 1000000L / n)
    }
    // a dedup'd (clone-free) corpus reports NO leakage at all
    val clean = (0L until n).map(i => (i, s"text body $i")).toDF("doc_id", "text")
    assert(Xval.leakageAudit(clean, folds = 4).count() == 0L)
  }

  test("leakageAuditOn: audits the ACTUAL fold column — groupKfold splits are auditable (r16 verdict item)") {
    import graft.operators.Xval
    // clones placed in different GROUPS leak under a group split;
    // the md5Kfold convenience replay would see different counts, so
    // a fold-agnostic audit is the only way to audit this split
    val docs = Seq(
      (1L, "g1", "shared body one"), (2L, "g2", "shared body one"),
      (3L, "g1", "shared body two"), (4L, "g1", "shared body two"),
      (5L, "g2", "only body")).toDF("doc_id", "grp", "text")
    val split = Xval.groupKfold(docs, folds = 8, key = "grp")
    val f = split.select("grp", "fold").distinct()
      .as[(String, Int)].collect().toMap
    val audit = Xval.leakageAuditOn(split)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    if (f("g1") != f("g2")) {
      // exactly one straddling digest ("shared body one"), 1×1 pair
      assert(audit == List((f("g1").toLong min f("g2").toLong,
        f("g1").toLong max f("g2").toLong, 1L, 1L, 3L, 1L, 333333L)))
    } else assert(audit.isEmpty) // same fold: nothing can straddle
    // same clones confined to one group: a group split cannot leak them
    val confined = Seq(
      (1L, "g1", "shared body one"), (2L, "g1", "shared body one"),
      (5L, "g2", "only body")).toDF("doc_id", "grp", "text")
    assert(Xval.leakageAuditOn(
      Xval.groupKfold(confined, folds = 8, key = "grp")).count() == 0L)
    // the overload is exactly the md5Kfold composition
    val base = (0L until 30).map(i => (i, s"body $i")) ++
      (0L until 30).map(i => (i + 500L, s"body $i"))
    val df = base.toDF("doc_id", "text")
    val viaOverload = Xval.leakageAudit(df, folds = 4)
      .orderBy("fold_a", "fold_b").collect().toList
    val viaOn = Xval.leakageAuditOn(Xval.md5Kfold(df, 4, "doc_id"))
      .orderBy("fold_a", "fold_b").collect().toList
    assert(viaOverload == viaOn)
    // missing fold column fails loudly, not with a wrong-but-plausible table
    intercept[IllegalArgumentException] { Xval.leakageAuditOn(df) }
  }

  test("nearDupLeakageAuditOn: cluster straddle with exact-clone expansion; whole-cluster folds read zero") {
    import graft.operators.Xval
    // a long shared body so the edited copy is a certain LSH candidate
    // at τ=0.5 (char-5-shingle Jaccard ≈ 0.95); the deterministic
    // seeded minhash makes the outcome reproducible for fixed text
    val bodyA = ("alpha bravo charlie delta echo foxtrot golf hotel " * 5).trim
    val bodyB = ("november oscar papa quebec romeo sierra tango uniform " * 5).trim
    val docs = Seq(
      (1L, bodyA, 0), // cluster A rep
      (2L, bodyA + " edited tail", 1), // near-dup of A — different fold
      (3L, bodyA + " edited tail", 2), // EXACT clone of 2 — third fold,
      // only countable through the digest→rep expansion
      (4L, bodyB, 0), // cluster B rep
      (5L, bodyB + " changed end", 0) // near-dup of B — SAME fold
    ).toDF("doc_id", "text", "fold")
    val got = Xval.nearDupLeakageAuditOn(docs)
      .orderBy("fold_a", "fold_b")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    // cluster A members by fold: {0:1, 1:1, 2:1} → all three fold pairs
    // leak 1 cluster / 1 member pair; cluster B is whole in fold 0.
    // totals: 2 clusters, 1 straddling → share 500000
    assert(got == List(
      (0L, 1L, 1L, 1L, 2L, 1L, 500000L),
      (0L, 2L, 1L, 1L, 2L, 1L, 500000L),
      (1L, 2L, 1L, 1L, 2L, 1L, 500000L)))
    // fold on the doc id (the dedup-unaware hazard) vs whole-cluster
    // folds: re-fold cluster A into one fold → zero rows
    val aware = Seq(
      (1L, bodyA, 3), (2L, bodyA + " edited tail", 3),
      (3L, bodyA + " edited tail", 3),
      (4L, bodyB, 0), (5L, bodyB + " changed end", 0)
    ).toDF("doc_id", "text", "fold")
    assert(Xval.nearDupLeakageAuditOn(aware).count() == 0L)
    // singleton-only corpus (no candidate pairs): zero rows, no blowup
    val singletons = Seq((1L, bodyA, 0), (4L, bodyB, 1))
      .toDF("doc_id", "text", "fold")
    assert(Xval.nearDupLeakageAuditOn(singletons).count() == 0L)
  }

  test("semanticLeakageAuditOn: SemDeDup clusters straddling explicit folds; co-fold clusters read zero") {
    import graft.operators.Xval
    // one semantic-dup pair (identical vectors 1/2) split across
    // folds; the rest near-orthogonal (cosine < 0.7 threshold)
    val docs = Seq(
      (1L, Array(10f, 1f, 0f, 0f), 0),
      (2L, Array(10f, 1f, 0f, 0f), 1), // exact clone — different fold
      (3L, Array(0f, 10f, 1f, 0f), 0),
      (4L, Array(0f, 0f, 10f, 1f), 2),
      (5L, Array(1f, 0f, 0f, 10f), 3)
    ).toDF("vec_id", "embedding", "fold")
    val got = Xval.semanticLeakageAuditOn(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((0L, 1L, 1L, 1L, 1L, 1L, 1000000L)), s"$got")
    // clone confined to one fold: nothing straddles
    val cofold = Seq(
      (1L, Array(10f, 1f, 0f, 0f), 2),
      (2L, Array(10f, 1f, 0f, 0f), 2),
      (3L, Array(0f, 10f, 1f, 0f), 0)
    ).toDF("vec_id", "embedding", "fold")
    assert(Xval.semanticLeakageAuditOn(cofold).count() == 0L)
    // no semantic dups at all: zero rows, no fake clusters
    val distinctVecs = Seq(
      (1L, Array(10f, 1f, 0f, 0f), 0),
      (3L, Array(0f, 10f, 1f, 0f), 1)
    ).toDF("vec_id", "embedding", "fold")
    assert(Xval.semanticLeakageAuditOn(distinctVecs).count() == 0L)
    intercept[IllegalArgumentException] {
      Xval.semanticLeakageAuditOn(docs.drop("fold"))
    }
  }

  test("dedupAwareKfold: digest folds kill exact leakage; balance stays in the md5Kfold band") {
    import graft.operators.Xval
    val n = 400
    // heavily cloned corpus: every text ×2, some ×3
    val docs = ((0L until n).map(i => (i, s"content body $i")) ++
      (0L until n).map(i => (i + 10000L, s"content body $i")) ++
      (0L until 100L).map(i => (i + 20000L, s"content body $i")))
      .toDF("doc_id", "text")
    val split = Xval.dedupAwareKfold(docs, folds = 4)
    // the audit that flags the md5Kfold(id) split reads ZERO here
    assert(Xval.leakageAudit(docs, folds = 4).count() > 0L,
      "fixture must leak under an id split")
    assert(Xval.leakageAuditOn(split).count() == 0L)
    // clones share the fold by construction
    assert(split.groupBy("text")
      .agg(countDistinct("fold").as("nf"))
      .filter(col("nf") > 1).count() == 0L)
    // balance over distinct digests: each fold within the hash band
    // (uniform expectation 100/fold over 400 digests)
    val sizes = split.select("text", "fold").distinct()
      .groupBy("fold").count().as[(Int, Long)].collect().toMap
    assert(sizes.keySet == Set(0, 1, 2, 3), s"all folds populated: $sizes")
    sizes.values.foreach(c => assert(c >= 50 && c <= 150,
      s"fold sizes outside the md5 band: $sizes"))
  }

  test("nearDupAwareKfold: cluster-representative folds read zero on BOTH audits") {
    import graft.operators.Xval
    val bodies = (0 until 30).map(i =>
      (s"document number $i with a long deterministic body " * 5).trim)
    // base + near-dup mirror of the first 10 + exact clone of 5 mirrors
    val docs = (bodies.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      bodies.take(10).zipWithIndex.map { case (t, i) =>
        (i + 1000L, t + " via mirror feed") } ++
      bodies.take(5).zipWithIndex.map { case (t, i) =>
        (i + 2000L, t + " via mirror feed") })
      .toDF("doc_id", "text")
    val split = Xval.nearDupAwareKfold(docs, folds = 4)
    assert(Xval.nearDupLeakageAuditOn(split).count() == 0L)
    assert(Xval.leakageAuditOn(split).count() == 0L)
    // and the hazard is real: the id split leaks at the near-dup tier
    assert(Xval.nearDupLeakageAudit(docs, folds = 4).count() > 0L,
      "fixture must leak under an id split")
    // every doc got a fold; clones of one text share it
    assert(split.filter(col("fold").isNull).count() == 0L)
    assert(split.groupBy("text").agg(countDistinct("fold").as("nf"))
      .filter(col("nf") > 1).count() == 0L)
  }

  test("mixtureFeasibility: hand-computed demand/epochs/cap arithmetic on two sources") {
    import graft.operators.Sampling
    // toks: small=100, big=10000; isqrt chain: 100→10→3→1, 10000→100→10→3
    val cells = Seq(("small", 100L), ("big", 10000L)).toDF("_g", "toks")
    val got = Sampling.mixtureFeasibilityFromCells(cells,
        budgetTokens = 10000L, maxEpochsQ3 = 4000)
      .orderBy(col("alpha_q3").desc, col("source"))
      .as[(Long, String, Long, Long, Long, Long, Boolean, Long, Long,
        Boolean, Long)].collect().toList
    assert(got == List(
      // α=1: tw=10100 → needed big=10000*10000/10100=9900 (990 epochs),
      // small=10000*100/10100=99 (990 epochs) — both under cap
      (1000L, "big", 10000L, 10000L, 9900L, 990L, false, 9900L, 0L, true, 0L),
      (1000L, "small", 100L, 100L, 99L, 990L, false, 99L, 0L, true, 0L),
      // α=½: tw=110 → big 9090 (909 ep), small 909 → ⌈9090⌉ ep > 4000:
      // CAPPED, achieved=min(909,400)=400, shortfall 509
      (500L, "big", 10000L, 100L, 9090L, 909L, false, 9090L, 0L, false, 509L),
      (500L, "small", 100L, 10L, 909L, 9090L, true, 400L, 509L, false, 509L),
      // α=¼: tw=13 → big 7692 (770 ep), small 2307 → 23070 ep: capped,
      // achieved 400, shortfall 1907
      (250L, "big", 10000L, 10L, 7692L, 770L, false, 7692L, 0L, false, 1907L),
      (250L, "small", 100L, 3L, 2307L, 23070L, true, 400L, 1907L, false, 1907L),
      // α=⅛: tw=4 → big 7500 (750 ep), small 2500 → 25000 ep: capped,
      // shortfall 2100
      (125L, "big", 10000L, 3L, 7500L, 750L, false, 7500L, 0L, false, 2100L),
      (125L, "small", 100L, 1L, 2500L, 25000L, true, 400L, 2100L, false, 2100L)))
    // zero budget: every demand 0, every α trivially feasible
    val zero = Sampling.mixtureFeasibilityFromCells(cells, budgetTokens = 0L)
    assert(zero.filter(!col("alpha_feasible") ||
      col("needed_tokens") =!= 0).count() == 0L)
    // off-grid α rejected loudly (the q326 contract)
    intercept[IllegalArgumentException] {
      Sampling.mixtureFeasibilityFromCells(cells, 100L,
        alphasQ3 = Seq(700L))
    }
  }

  test("shardSkewPreflight: ties to the manifest's shards; flags the ragged tail and heavy shards") {
    import graft.sources.TrainingExport
    // 10 docs, 4 per shard: shards of 4/4/2 rows; one doc carries a
    // huge token count so its shard flags high, the ragged tail low
    val docs = (0L until 10L)
      .map(i => (i, if (i == 3L) 10000L else 100L))
      .toDF("doc_id", "n_chars")
    val pre = TrainingExport.shardSkewPreflight(docs, rowsPerShard = 4,
        seed = 7, tokenCol = "n_chars")
      .orderBy("shard")
      .as[(Long, Long, Long, Long, Boolean, Long, Long)].collect().toList
    // permutation-independent invariants
    assert(pre.map(_._1) == List(0L, 1L, 2L))
    assert(pre.map(_._2) == List(4L, 4L, 2L))
    assert(pre.map(_._3).sum == 10900L)
    assert(pre.forall(r => r._6 == 3L && r._7 == 10900L))
    pre.foreach { r =>
      assert(r._4 == r._3 * 3L * 1000000L / 10900L)
      assert(r._5 == (r._4 > 1100000L || r._4 < 900000L))
    }
    // the 10000-token doc's shard must flag high; the 2-row tail low
    val heavy = pre.find(_._3 >= 10000L).get
    assert(heavy._5, s"heavy shard not flagged: $pre")
    assert(pre.last._5, s"ragged tail not flagged: $pre")
    // n_rows per shard identical to the manifest's (same seed/split)
    val mani = TrainingExport.manifest(docs, rowsPerShard = 4, seed = 7)
      .orderBy("shard").as[(Long, Long, String)].collect().toList
    assert(mani.map(m => (m._1, m._2)) == pre.map(r => (r._1, r._2)))
  }

  test("annealMixturePlan: hand-computed two-phase schedule; cap binds on cross-phase totals") {
    import graft.operators.Sampling
    val cells = Seq(("small", 100L), ("big", 10000L)).toDF("_g", "toks")
    val phases = Seq(("main", 900L, 1000L), ("anneal", 100L, 250L))
    val got = Sampling.annealMixturePlanFromCells(cells, 10000L, phases,
        maxEpochsQ3 = 4000)
      .orderBy("phase", "source")
      .as[(String, Long, Long, String, Long, Long, Long, Long, Long,
        Long, Boolean, Boolean, Long)].collect().toList
    // main: budget 9000 at α=1 (tw=10100) → big 8910, small 89;
    // anneal: budget 1000 at α=¼ (w 10/3, tw=13) → big 769, small 230;
    // totals: big 9679 → 968 milli-epochs, small 319 → 3190 — feasible
    assert(got == List(
      ("anneal", 100L, 250L, "big", 10000L, 10L, 1000L, 769L,
        9679L, 968L, false, true, 0L),
      ("anneal", 100L, 250L, "small", 100L, 3L, 1000L, 230L,
        319L, 3190L, false, true, 0L),
      ("main", 900L, 1000L, "big", 10000L, 10000L, 9000L, 8910L,
        9679L, 968L, false, true, 0L),
      ("main", 900L, 1000L, "small", 100L, 100L, 9000L, 89L,
        319L, 3190L, false, true, 0L)))
    // a tighter epoch cap breaks exactly the small source: its 3190
    // milli-epochs exceed 3000 → achieved 300, shortfall 19, plan
    // infeasible — the cap correctly reads TOTAL cross-phase reuse
    val tight = Sampling.annealMixturePlanFromCells(cells, 10000L,
        phases, maxEpochsQ3 = 3000)
      .orderBy("phase", "source")
      .as[(String, Long, Long, String, Long, Long, Long, Long, Long,
        Long, Boolean, Boolean, Long)].collect().toList
    tight.foreach { r =>
      assert(!r._12 && r._13 == 19L, s"tight cap: $tight")
      assert(r._11 == (r._4 == "small"))
    }
    // malformed phase specs fail loudly
    intercept[IllegalArgumentException] {
      Sampling.annealMixturePlanFromCells(cells, 100L,
        Seq(("a", 500L, 1000L), ("b", 400L, 250L)))
    }
    intercept[IllegalArgumentException] {
      Sampling.annealMixturePlanFromCells(cells, 100L,
        Seq(("a", 500L, 1000L), ("a", 500L, 250L)))
    }
  }

  test("withTokenShards: budget boundaries kill the skew the row-count preflight flags; layout-independent") {
    import graft.sources.TrainingExport
    // skewed sizes: 4 giants (5000) among 60 small docs (100)
    val docs = (0L until 64L)
      .map(i => (i, if (i % 16 == 0) 5000L else 100L))
      .toDF("doc_id", "n_chars")
    // the row-count split ships token-skewed shards — preflight flags
    val pre = TrainingExport.shardSkewPreflight(docs, rowsPerShard = 8,
      seed = 3)
    assert(pre.filter(col("flagged")).count() > 0,
      "skewed fixture must flag under a row-count split")
    // the token split bounds every non-tail shard to budget ± max doc
    val plan = TrainingExport.tokenShardPlan(docs, tokensPerShard = 6000L,
        seed = 3).orderBy("shard")
      .as[(Long, Long, Long, Long, Boolean, Long, Long)].collect().toList
    assert(plan.map(_._3).sum == 26000L)
    plan.dropRight(1).foreach { r =>
      assert(math.abs(r._3 - 6000L) < 5000L,
        s"non-tail shard outside budget ± maxdoc: $plan")
    }
    // uniform docs: every non-tail shard EXACTLY on budget, zero flags
    val uniform = (0L until 50L).map(i => (i, 100L)).toDF("doc_id", "n_chars")
    val uplan = TrainingExport.tokenShardPlan(uniform,
        tokensPerShard = 1000L, seed = 3).orderBy("shard")
      .as[(Long, Long, Long, Long, Boolean, Long, Long)].collect().toList
    uplan.foreach(r => assert(r._3 == 1000L && !r._5, s"uniform: $uplan"))
    // assignment is a pure function of (corpus, seed, budget) — no
    // partitioning dependence (md5 order + two-phase prefix sum)
    val a = TrainingExport.withTokenShards(docs.repartition(1), 6000L,
      seed = 3).select("doc_id", "shard").collect().toSet
    val b = TrainingExport.withTokenShards(docs.repartition(13), 6000L,
      seed = 3).select("doc_id", "shard").collect().toSet
    assert(a == b)
  }

  test("joinSkewPreflight: non-integral join keys fail loudly (r16 ADVICE)") {
    import graft.operators.Validation
    val s = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val d = Seq((1.5, 1L), (2.5, 2L)).toDF("k", "v")
    val i = Seq((1L, 1L), (2L, 2L)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Validation.joinSkewPreflight(s, s, "k")
    }
    intercept[IllegalArgumentException] {
      Validation.joinSkewPreflight(d, d, "k")
    }
    intercept[IllegalArgumentException] {
      Validation.joinSkewPreflight(i, s, "k") // one bad side is enough
    }
    assert(Validation.joinSkewPreflight(i, i, "k").count() == 2L)
  }

  test("saltPlan: fan-outs, replication cost, residual bound by hand") {
    import graft.operators.Validation
    // key1: nl=6, nr=5 -> pairs 30 > 8; ns=5, nb=6; rows/task = 8 DIV 5
    //   = 1 -> S = 6; residual = ceil(6/6)*5 = 5; repl = 5*5 = 25
    // key2: 2*3 = 6 <= 8 -> S=1, residual 6; key3: 1*1 -> S=1
    val left = (Seq.fill(6)(1L) ++ Seq.fill(2)(2L) ++ Seq(3L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val right = (Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong + 100L) }
      .toDF("k", "v")
    val got = Validation.saltPlan(left, right, "k", targetPairs = 8L)
      .orderBy("salt_fanout")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(
      (1L, 2L, 7L, 0L, 6L, 1L, 25L, 6L, 37L, 0L),
      (6L, 1L, 30L, 25L, 5L, 1L, 25L, 6L, 37L, 0L)))
    // executing the plan: split side salted into S buckets, small side
    // replicated S ways -> the salted join is EXACTLY the plain join
    // (row for row) and no (key, salt) task exceeds the residual bound
    val cells = Validation.joinSkewCells(left, right, "k")
      .collect().map { r =>
      val (nl, nr) = (r.getAs[Long]("n_left"), r.getAs[Long]("n_right"))
      val pairs = nl * nr
      val ns = math.min(nl, nr); val nb = math.max(nl, nr)
      val s = if (pairs <= 8L) 1L
        else { val tr = math.max(1L, 8L / ns); (nb + tr - 1) / tr }
      (r.getAs[Long]("key"), s, ((nb + s - 1) / s) * ns)
    }
    val fanouts = cells.map(c => (c._1, c._2)).toMap
    val sOf = udf((k: Long) => fanouts.getOrElse(k, 1L))
    // big side here is left (6 vs 5 on the hot key); salt left rows
    // ROUND-ROBIN within the key (the balanced assignment the residual
    // bound assumes — a random hash salt only approximates it),
    // replicate right rows across all salts of their key
    val lSalted = left.withColumn("_salt",
      pmod(row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("v")).cast("long") - 1, sOf(col("k"))))
    val rSalted = right.withColumn("_salt",
      explode(sequence(lit(0L), sOf(col("k")) - 1)))
    val salted = lSalted.join(rSalted, Seq("k", "_salt"))
    assert(salted.count() == left.join(right, "k").count())
    val worst = salted.groupBy("k", "_salt").count()
      .agg(max("count")).head().getLong(0)
    assert(worst <= cells.map(_._3).max)
  }

  test("saltPlan: n_small > target flags grid keys; one-sided floor kept") {
    import graft.operators.Validation
    // 3x3 key with target 2: ns=3 > 2 -> one-sided salting cannot reach
    // the target; planned at the floor S = nb = 3, residual = ns = 3
    val df = Seq.fill(3)(1L).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val got = Validation.saltPlan(df, df, "k", targetPairs = 2L)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List((3L, 1L, 9L, 6L, 3L, 1L, 6L, 3L, 9L, 1L)))
    intercept[IllegalArgumentException] {
      Validation.saltPlan(df, df, "k", targetPairs = 0L)
    }
  }

  test("tClosenessAudit: exact ordered EMD per class by hand") {
    import graft.operators.Validation
    // bands: A = {1x4}; B = {1x2, 2x1, 3x1}; C = {3x2}; N=10
    // global g = (6,1,3), cumG = (6,7,10), B=3
    // A: cumC (4,4,4): |40-24|+|40-28|+0 = 28 -> 28e9 DIV 80 = 350000000
    // B: cumC (2,3,4): 4+2+0 = 6        -> 6e9 DIV 80  =  75000000
    // C: cumC (0,0,2): 12+14+0 = 26     -> 26e9 DIV 40 = 650000000
    val rows = Seq.fill(4)(("A", 1L)) ++
      Seq(("B", 1L), ("B", 1L), ("B", 2L), ("B", 3L)) ++
      Seq.fill(2)(("C", 3L))
    val got = Validation.tClosenessAudit(rows.toDF("cls", "band"),
      Seq("cls"), "band", tQ9 = 300000000L).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5), got.getLong(6)) ==
      (10L, 3L, 3L, 650000000L, 2L, 6L, 600000000L))
    // per-class attribution: worst classes ordered C, A, B by hand
    val byClass = Validation.tClosenessByClass(
      Validation.tClosenessCells(rows.toDF("cls", "band"), Seq("cls"),
        "band"), Seq("cls"), k = 2)
      .as[(String, Long, Long)].collect().toList
    assert(byClass == List(("C", 2L, 650000000L), ("A", 4L, 350000000L)))
    // class distribution == global -> EMD 0 everywhere
    val unif = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 2L))
    val z = Validation.tClosenessAudit(unif.toDF("cls", "band"),
      Seq("cls"), "band").collect().head
    assert(z.getLong(3) == 0L && z.getLong(4) == 0L)
    // single band: EMD defined 0 (no ordered mass to move)
    val one = Validation.tClosenessAudit(
      Seq(("A", 7L), ("B", 7L)).toDF("cls", "band"),
      Seq("cls"), "band").collect().head
    assert(one.getLong(2) == 1L && one.getLong(3) == 0L)
    // non-integral band fails loudly (the joinSkewCells discipline)
    intercept[IllegalArgumentException] {
      Validation.tClosenessAudit(
        Seq(("A", "hi")).toDF("cls", "band"), Seq("cls"), "band")
    }
  }

  test("kAnonSuppressionLadder: cost curve by hand; remedy re-audit reads zero") {
    import graft.operators.Validation
    // classes: (x,p)=12, (x,q)=3, (y,p)=1 -> total 16
    val rows = Seq.fill(12)(("x", "p")) ++ Seq.fill(3)(("x", "q")) ++
      Seq(("y", "p"))
    val df = rows.toDF("a", "b")
    val got = Validation
      .kAnonSuppressionLadder(df, Seq("a", "b"), Seq(2, 5, 13))
      .orderBy("k")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toList
    assert(got == List(
      (2L, 1L, 1L, 15L, Some(3L), Some(937500L)),
      (5L, 2L, 4L, 12L, Some(12L), Some(750000L)),
      (13L, 3L, 16L, 0L, None, Some(0L))))
    // the remedy loop: suppress at k=5, re-audit at k=5 -> zero
    // violations (min kept class size >= k by construction)
    val kept = Validation.kAnonymityCells(df, Seq("a", "b"))
      .filter(col("_n") >= 5).select("a", "b")
    val released = df.join(kept, Seq("a", "b"), "left_semi")
    val audit = Validation.kAnonymityAudit(released, Seq("a", "b"), k = 5)
      .collect().head
    assert(audit.getLong(3) == 0L && audit.getLong(2) >= 5L)
    // empty release: one all-zero row per k, NULL share
    val empty = Validation.kAnonSuppressionPlan(
      Validation.kAnonymityCells(df.filter(lit(false)), Seq("a", "b")),
      Seq(2, 5)).orderBy("k")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toList
    assert(empty == List((2L, 0L, 0L, 0L, None, None),
      (5L, 0L, 0L, 0L, None, None)))
  }

  test("saltedEquiJoin: multiset-equal to the plain join, both split sides") {
    import graft.operators.Skew
    // key 1: left-big (6x2), key 2: right-big (2x5), key 3: cold (1x1)
    val left = ((1 to 6).map(i => (1L, s"l$i")) ++
      Seq((2L, "la"), (2L, "lb")) :+ (3L, "lc")).toDF("k", "lv")
    val right = (Seq((1L, "ra"), (1L, "rb")) ++
      (1 to 5).map(i => (2L, s"r$i")) :+ (3L, "rc")).toDF("k", "rv")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, String)].collect().toList.sorted
    val plain = sorted(left.join(right, "k"))
    // target 1: everything hot, maximum fan-out — keys 1 and 2 have
    // n_small = 2 > 1, so the executor REFUSES the grid floor unless
    // the caller accepts it explicitly (r17 ADVICE #4)
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(left, right, "k", 1L)
    }
    assert(sorted(Skew.saltedEquiJoin(left, right, "k", 1L,
      allowGridKeys = true)) == plain)
    // target 4: keys 1 and 2 salt, key 3 passes through cold
    assert(sorted(Skew.saltedEquiJoin(left, right, "k", 4L)) == plain)
    // target huge: nothing salts, still the plain join
    assert(sorted(Skew.saltedEquiJoin(left, right, "k", 1000L)) == plain)
    // constant non-key values: the case where the old content-hash
    // salt collapsed every big-side row onto ONE salt (r17 ADVICE #3;
    // position-based round-robin spreads by construction) — gate the
    // join stays exact there
    val constLeft = (1 to 6).map(_ => (1L, "same")).toDF("k", "lv")
    val constRight = Seq((1L, "ra"), (1L, "rb")).toDF("k", "rv")
    assert(sorted(Skew.saltedEquiJoin(constLeft, constRight, "k", 4L))
      == sorted(constLeft.join(constRight, "k")))
    // shared non-key columns fail loudly (self-join misuse)
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(left, left, "k", 8L)
    }
    // reserved working columns fail loudly instead of being
    // overwritten (r17 ADVICE #2)
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(left.withColumn("_salt", lit(1)),
        right, "k", 8L)
    }
    intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(left, right.withColumn("_fan", lit(1)),
        "k", 8L)
    }
  }

  test("foldParityAudit: exact Q6 deviation and TVD by hand") {
    import graft.operators.Xval
    // fold0: x*3, y*1; fold1: x*1, y*3 — N=8, ng=4 each, nf=4 each
    // dev(x,f0)=|3*8-4*4|=8 -> 8e6 DIV 32 = 250000; tvd = 16e6 DIV 64
    val rows = Seq.fill(3)((0, "x")) ++ Seq((0, "y")) ++
      Seq((1, "x")) ++ Seq.fill(3)((1, "y"))
    val got = Xval.foldParityAudit(rows.toDF("fold", "src"), "src")
      .orderBy("fold").as[(Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List((0L, 4L, 2L, 250000L, 250000L),
      (1L, 4L, 2L, 250000L, 250000L)))
    // a group ABSENT from a fold still contributes its corpus share:
    // fold0 all-x, fold1 all-y -> TVD = 0.5 exactly
    val split = Seq((0, "x"), (0, "x"), (1, "y"), (1, "y"))
    val g2 = Xval.foldParityAudit(split.toDF("fold", "src"), "src")
      .orderBy("fold").as[(Long, Long, Long, Long, Long)]
      .collect().toList
    assert(g2 == List((0L, 2L, 2L, 500000L, 500000L),
      (1L, 2L, 2L, 500000L, 500000L)))
    // perfectly proportional folds read zero everywhere
    val prop = Seq((0, "x"), (0, "y"), (1, "x"), (1, "y"))
    assert(Xval.foldParityAudit(prop.toDF("fold", "src"), "src")
      .filter(col("tvd_q6") =!= 0L || col("max_dev_q6") =!= 0L)
      .count() == 0L)
    intercept[IllegalArgumentException] {
      Xval.foldParityAudit(Seq(("x", 1)).toDF("src", "v"), "src")
    }
  }

  test("freshnessAudit: lag and window ratio off minute cells by hand") {
    import graft.operators.Timeseries
    // minutes (w=2): type a at 100,101,103 (fresh: last=103=gmax,
    // lag 0; window (101,103]: 101? no — m>103-2=101 -> 103 only... )
    // a: m=100 n=1, m=101 n=2, m=103 n=1; b: m=99 n=3
    // gmax=103; a: last=103 lag=0, last_w (m>101): 1, prev_w
    // (99<m<=101): 3; ratio=333333; b: last=99 lag=4, last_w 0,
    // prev_w (m=99? 99<=101 and 99>99 false) -> 0, ratio NULL
    val rows = Seq(("a", 100L), ("a", 101L), ("a", 101L), ("a", 103L),
      ("b", 99L), ("b", 99L), ("b", 99L))
      .map { case (t, m) => (t, new java.sql.Timestamp(m * 60000L)) }
    val df = rows.toDF("event_type", "ts")
    val got = Timeseries.freshnessAudit(df, windowMinutes = 2)
      .orderBy("event_type")
      .as[(String, Long, Long, Long, Long, Long, Option[Long])]
      .collect().toList
    assert(got == List(
      ("a", 4L, 103L, 0L, 1L, 3L, Some(333333L)),
      ("b", 3L, 99L, 4L, 0L, 0L, None)))
  }

  test("stratifiedKfold parity: stratifying on the audited attribute floors TVD") {
    import graft.operators.Xval
    // 8 docs per source, 4 sources, folds=4: stratified on source puts
    // exactly 2 of each source in every fold -> TVD = 0 in every fold;
    // the md5 id split on the same data reads nonzero somewhere
    val docs = (0L until 32L).map(i => (i, s"src${i % 4}"))
      .toDF("doc_id", "source")
    val strat = Xval.foldParityAudit(
      Xval.stratifiedKfold(docs, 4, "source", seed = 0,
        keyCol = Some("doc_id")), "source")
    assert(strat.filter(col("tvd_q6") =!= 0L).count() == 0L)
    val id = Xval.foldParityAudit(Xval.md5Kfold(docs, 4, "doc_id"),
      "source")
    assert(id.filter(col("tvd_q6") =!= 0L).count() > 0L)
  }

  test("semanticFoldParity: aligned folds read cosine 1, a drifted fold reads low") {
    import graft.operators.Xval
    // folds 0/1 share a direction; fold 2 is orthogonal.
    // int8: (1,0) -> (127,0); sums: f0=(254,0) f1=(127,0) f2=(0,127),
    // _all=(381,127) -> cos(_all,f0) = 381/sqrt(381^2+127^2)
    val vecs = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(1.0f, 0.0f)),
      (1, Array(1.0f, 0.0f)),
      (2, Array(0.0f, 1.0f)))
    val df = vecs.toDF("fold", "embedding")
    val got = Xval.semanticFoldParity(df).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(got.size == 6) // C(5,2) with '_all' sorted first
    assert(math.abs(got(("f0", "f1")) - 1.0) < 1e-12)
    assert(math.abs(got(("f1", "f2"))) < 1e-12)
    val exp = 381.0 / math.sqrt(381.0 * 381 + 127.0 * 127)
    assert(math.abs(got(("_all", "f0")) - exp) < 1e-12)
    intercept[IllegalArgumentException] {
      Xval.semanticFoldParity(df.select(col("embedding")))
    }
  }

  test("ivfStalenessAudit: clone appendix doubles every cell; empty appendix is flat") {
    import graft.operators.Similarity
    // 40 spread-out 4-dim vectors; the appendix is the SAME vectors
    // under shifted ids -> every appended vector routes to its base
    // cell: n_new == n_base per cell, growth exactly 1e6, and the
    // imbalance factor is unchanged by the appendix
    val base = (0 until 40).map { i =>
      (i.toLong, Array(math.sin(i * 1.7).toFloat,
        math.cos(i * 2.3).toFloat, math.sin(i * 0.9 + 1).toFloat,
        math.cos(i * 1.1 + 2).toFloat))
    }.toDF("vec_id", "embedding")
    val clone = base.select((col("vec_id") + 1000L).as("vec_id"),
      col("embedding"))
    val got = Similarity.ivfStalenessAudit(base, clone, nCells = 4,
      iters = 2).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("n_new") == r.getAs[Long]("n_base"))
      assert(r.getAs[Long]("growth_q6") == 1000000L)
      assert(r.getAs[Long]("imbalance_after_q6") ==
        r.getAs[Long]("imbalance_before_q6"))
    }
    // empty appendix: zero growth, imbalance unchanged
    val none = Similarity.ivfStalenessAudit(base,
      base.filter(lit(false)), nCells = 4, iters = 2).collect()
    none.foreach { r =>
      assert(r.getAs[Long]("n_new") == 0L &&
        r.getAs[Long]("growth_q6") == 0L)
      assert(r.getAs[Long]("imbalance_after_q6") ==
        r.getAs[Long]("imbalance_before_q6"))
    }
  }

  test("kAnonGeneralizationLadder: per-level class stats off one rollup") {
    import graft.operators.Validation
    // classes: (x,p)=12, (x,q)=3, (y,p)=1 -> 16 rows
    // level0: 3 classes, min 1, viol 4; level1 (a): x=15, y=1 -> viol 1;
    // level2 (<all>): 1 class of 16 -> viol 0
    val rows = Seq.fill(12)(("x", "p")) ++ Seq.fill(3)(("x", "q")) ++
      Seq(("y", "p"))
    val got = Validation
      .kAnonGeneralizationLadder(rows.toDF("a", "b"), Seq("a", "b"), k = 10)
      .orderBy("level")
      .as[(Long, String, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(
      (0L, "a,b", 16L, 3L, 1L, 4L, 250000000L),
      (1L, "a", 16L, 2L, 1L, 1L, 62500000L),
      (2L, "<all>", 16L, 1L, 16L, 0L, 0L)))
  }
}
