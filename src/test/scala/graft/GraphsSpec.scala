package graft

import graft.operators.Graphs

/** Co-occurrence edge derivation (skew guard, symmetry) and the
  * integer-fixed-point PageRank arithmetic on a hand-computed star
  * graph — q147 exercises the same path against the DuckDB replay.
  */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  test("coOccurrenceEdges: symmetric distinct pairs, big groups dropped") {
    val df = Seq(
      (1L, 10L), (1L, 11L), (1L, 11L), // dup membership: distinct pairs out
      (2L, 10L), (2L, 12L),
      (3L, 20L), (3L, 21L), (3L, 22L)) // group 3 exceeds maxGroup=3 rows? no
      .toDF("g", "item")
    val got = Graphs.coOccurrenceEdges(df, "g", "item", maxGroup = 3)
      .as[(Long, Long)].collect().toSet
    // group 1: 3 rows (≤ cap) → distinct pair (10,11) both ways; group 2
    // kept; group 3 has exactly 3 rows (≤ cap) → its triangle appears
    assert(got == Set(
      (10L, 11L), (11L, 10L), (10L, 12L), (12L, 10L),
      (20L, 21L), (21L, 20L), (20L, 22L), (22L, 20L),
      (21L, 22L), (22L, 21L)))
    // cap counts RAW membership rows: maxGroup=2 drops groups 1 and 3
    val capped = Graphs.coOccurrenceEdges(df, "g", "item", maxGroup = 2)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((10L, 12L), (12L, 10L)))
  }

  test("pageRankInt: hand-computed star graph, exact floor arithmetic") {
    // star: center 0 — leaves 1,2,3 (symmetric edges). n=4, s0=25e10.
    // base = 15e12/400 = 375e8. After round 1:
    //   center = 375e8 + 3*floor(25e10*85/100)      = 675_000_000_000
    //   leaf   = 375e8 + floor(25e10*85/300)        = 108_333_333_333
    val edges = Seq(0L -> 1L, 1L -> 0L, 0L -> 2L, 2L -> 0L, 0L -> 3L, 3L -> 0L)
      .toDF("src", "dst")
    val got = Graphs.pageRankInt(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got(0L) == 675000000000L)
    assert(got(1L) == 108333333333L && got(2L) == got(1L) && got(3L) == got(1L))
  }

  test("pageRank/PPR broadcast-gate fallback (shuffle-join path) is result-identical") {
    // the broadcast gate only picks a join STRATEGY; forcing the
    // fallback on a small graph must not change one score. Guards the
    // gate against result-affecting refactors (r11 verdict item: the
    // fallback path needs its own pin).
    val edges = (Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 9L) ++
      Seq(1L -> 0L, 2L -> 0L, 3L -> 0L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    def run() =
      (Graphs.pageRankInt(edges, iters = 2).as[(Long, Long)].collect().toMap,
        Graphs.personalizedPageRankInt(edges, seeds, iters = 2)
          .as[(Long, Long)].collect().toMap)
    val viaBroadcast = traced(run())
    assert(viaBroadcast.broadcasts, "a 5-node graph's score tables fit")
    val viaShuffle = withoutBroadcast(traced(run()))
    assert(!viaShuffle.broadcasts && viaShuffle.joins,
      viaShuffle.plans.mkString("\n"))
    val ((prB, pprB), (prF, pprF)) = (viaBroadcast.result, viaShuffle.result)
    assert(prF == prB, "pageRankInt fallback diverged from broadcast path")
    assert(pprF == pprB, "PPR fallback diverged from broadcast path")
  }

  test("personalizedPageRankInt: symmetric fast path ≡ default on a symmetric graph (r18)") {
    // undirected triangle + pendant, both directions present — the
    // coOccurrenceEdges contract the fast path rides on
    val und = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val dflt = Graphs.personalizedPageRankInt(edges, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    val sym = Graphs.personalizedPageRankInt(edges, seeds, iters = 3,
        symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(sym == dflt, "symmetric node-set shortcut changed a score")
  }

  test("pageRankInt: chunked adjacency rows ≡ unchunked; dup edges collapse; sinks keep base mass") {
    // center 0 has 4 neighbours; maxNbrsPerRow=2 splits it into two
    // adjacency rows — scores must not change. Edge (0,1) repeated:
    // collect_set must collapse it (deg stays 4). Node 9 is a pure sink
    // (only ever a dst): it must appear in the output with base mass +
    // its inbound contribution.
    val edges = (Seq(0L -> 1L, 0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 9L) ++
      Seq(1L -> 0L, 2L -> 0L, 3L -> 0L)).toDF("src", "dst")
    val full = Graphs.pageRankInt(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    val chunked = Graphs.pageRankInt(edges, iters = 2, maxNbrsPerRow = 2)
      .as[(Long, Long)].collect().toMap
    assert(full == chunked, "chunking is invisible in the result")
    assert(full.contains(9L) && full(9L) > 0L, "sink node present with mass")
    assert(full.size == 5)
  }

  test("pageRankInt redistributeDangling: matches an unrolled integer oracle; default path untouched") {
    // digraph with a sink: 1→2, 2→3, 1→3; node 3 has out-degree 0.
    // Unrolled oracle replays the exact integer recurrence incl. the
    // sink term floor(sinkMass·damp/(100·n)) added to every node.
    val edges = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L).toDF("src", "dst")
    val scale = 1000000000000L; val damp = 85; val n = 3L
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L))
    def unrolled(iters: Int, redistribute: Boolean): Map[Long, Long] = {
      val base = scale * (100 - damp) / (100L * n)
      var s = Map(1L -> scale / n, 2L -> scale / n, 3L -> scale / n)
      (1 to iters).foreach { _ =>
        val sinkMass = if (redistribute) s(3L) else 0L
        val sinkShare = (sinkMass * damp) / (100L * n)
        val contrib = scala.collection.mutable.Map(
          1L -> 0L, 2L -> 0L, 3L -> 0L)
        adj.foreach { case (src, ds) =>
          val c = s(src) * damp / (ds.length * 100L)
          ds.foreach(d => contrib(d) += c)
        }
        s = s.keys.map(k => k -> (base + sinkShare + contrib(k))).toMap
      }
      s
    }
    Seq(1, 2, 3).foreach { iters =>
      val withRed = Graphs.pageRankInt(edges, iters = iters,
          redistributeDangling = true)
        .as[(Long, Long)].collect().toMap
      assert(withRed == unrolled(iters, redistribute = true), s"iters=$iters")
      val without = Graphs.pageRankInt(edges, iters = iters)
        .as[(Long, Long)].collect().toMap
      assert(without == unrolled(iters, redistribute = false),
        s"iters=$iters default")
      // redistribution conserves more total mass than evaporation
      assert(withRed.values.sum > without.values.sum, s"iters=$iters mass")
    }
  }

  test("personalizedPageRankInt: unrolled oracle; out-of-graph seeds ignored; mass stays near seeds") {
    // path graph 1—2—3—4—5 (symmetric), seed = {1}; seed 99 is not in
    // the graph and must not count toward |seeds|
    val und = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")
    val scale = 1000000000000L; val damp = 85
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 4L),
      4L -> Seq(3L, 5L), 5L -> Seq(4L))
    def unrolled(iters: Int): Map[Long, Long] = {
      val ns = 1L // only seed 1 is in the graph
      val baseSeed = scale * (100 - damp) / (100L * ns)
      var s = adj.keys.map(k =>
        k -> (if (k == 1L) scale / ns else 0L)).toMap
      (1 to iters).foreach { _ =>
        val contrib = scala.collection.mutable.Map(
          adj.keys.map(_ -> 0L).toSeq: _*)
        adj.foreach { case (src, ds) =>
          val c = s(src) * damp / (ds.length * 100L)
          ds.foreach(d => contrib(d) += c)
        }
        s = adj.keys.map(k =>
          k -> ((if (k == 1L) baseSeed else 0L) + contrib(k))).toMap
      }
      s
    }
    Seq(1, 2, 3).foreach { iters =>
      val got = Graphs.personalizedPageRankInt(edges, seeds, iters = iters)
        .as[(Long, Long)].collect().toMap
      assert(got == unrolled(iters), s"iters=$iters")
    }
    // proximity: synchronous rounds make per-node scores OSCILLATE on a
    // path (the mass wave travels one hop per round), so the robust
    // qualitative claim is aggregate: the seed half of the path holds
    // the bulk of the mass, and no score exceeds the seed pool
    val g3 = Graphs.personalizedPageRankInt(edges, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(g3(1L) + g3(2L) > g3(3L) + g3(4L) + g3(5L))
    assert(g3.values.sum <= scale && g3.values.forall(_ >= 0L))
    // no in-graph seed at all → loud failure
    intercept[IllegalArgumentException] {
      Graphs.personalizedPageRankInt(edges, Seq(99L).toDF("node"))
    }
  }

  test("pageRankIntWeighted: uniform weights ≡ unweighted; heavier edge pulls rank") {
    val und = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 2L -> 5L)
    val sym = und ++ und.map(_.swap)
    val uw = sym.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "weight")
    val weighted = Graphs.pageRankIntWeighted(uw, iters = 2)
      .as[(Long, Long)].collect().toMap
    val plain = Graphs.pageRankInt(sym.toDF("src", "dst"), iters = 2,
      symmetric = true).as[(Long, Long)].collect().toMap
    assert(weighted == plain, "w=1 everywhere must reduce to unweighted")
    // star with one dominant edge: 0-1 weight 9, 0-2 and 0-3 weight 1 →
    // node 1 outranks 2 and 3
    val star = Seq((0L, 1L, 9L), (1L, 0L, 9L), (0L, 2L, 1L), (2L, 0L, 1L),
      (0L, 3L, 1L), (3L, 0L, 1L)).toDF("src", "dst", "weight")
    val s = Graphs.pageRankIntWeighted(star, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(s(1L) > s(2L) && s(2L) == s(3L))
    // a node whose out-weights are all zero passes no mass (its weighted
    // degree is 0): 1–2 at weight 0, 2–3 at weight 1, one round from
    // scale/3 each, base = 10¹²·15/300
    val zero = Seq((1L, 2L, 0L), (2L, 1L, 0L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "weight")
    val z = Graphs.pageRankIntWeighted(zero, iters = 1)
      .as[(Long, Option[Long])].collect().toMap
    val (base, s0) = (50000000000L, 1000000000000L / 3)
    assert(z == Map(1L -> Some(base), 2L -> Some(base + s0 * 85 / 100),
      3L -> Some(base + s0 * 85 / 100)))
  }

  test("labelPropagate: two cliques joined by one bridge keep their own communities") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10. After round 1 every
    // clique node takes its clique's min label (neighbour majority);
    // the bridge endpoints see a tie broken toward the smaller label.
    val cl = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L,
      10L -> 11L, 11L -> 12L, 10L -> 12L, 3L -> 10L)
    val edges = (cl ++ cl.map(_.swap)).toDF("src", "dst")
    val got = Graphs.labelPropagate(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    // round1: 1→min(2,3)=2's... neighbour labels of 1 = {2,3}, tie → 2;
    // node 2 → {1,3} tie → 1; node 3 → {1,2,10} tie → 1; node 10 →
    // {3,11,12} tie → 3; 11 → {10,12} → 10; 12 → {10,11} → 10.
    // round2 recomputes from those — just assert the structure: the two
    // cliques end with different communities and each is internally
    // consistent in size ≤ the graph
    assert(got.size == 6)
    assert(got.values.toSet.size >= 2, s"bridge collapsed everything: $got")
    // deterministic: a second run is identical
    val again = Graphs.labelPropagate(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(again == got)
  }

  test("modularity: two triangles + bridge, hand-computed integer numerators") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4 → m=7; with the true
    // communities each side has L_c=3 intra edges and degree sum 7, so
    // q_num = 4·7·3 − 7² = 35 per community and q_den = 4·7² = 196
    // (Q = 70/196 ≈ 0.357)
    val tri = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L,
      4L -> 5L, 5L -> 6L, 4L -> 6L, 3L -> 4L)
    val edges = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val labels = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L,
      4L -> 200L, 5L -> 200L, 6L -> 200L).toDF("node", "community")
    val got = Graphs.modularity(edges, labels).orderBy("community")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (100L, 3L, 3L, 7L, 35L, 196L),
      (200L, 3L, 3L, 7L, 35L, 196L)))
    // everyone in ONE community: Q = L/m − 1 = 0 → q_num = 4m·m − (2m)²
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(_ -> 9L).toDF("node", "community")
    val g1 = Graphs.modularity(edges, one).collect()
      .map(r => r.getLong(4))
    assert(g1.toSeq == Seq(0L))
    // a community with NO intra edges gets l_in = 0, q_num = −D_c²
    val anti = Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L,
      6L -> 6L).toDF("node", "community")
    val ga = Graphs.modularity(edges, anti).orderBy("community").collect()
      .map(r => (r.getLong(2), r.getLong(4)))
    assert(ga.forall(_._1 == 0L))
    assert(ga.map(_._2).toSeq ==
      Seq(-4L, -4L, -9L, -9L, -4L, -4L)) // deg² per singleton
  }

  test("associationRules: hand-computed metrics; distinct membership; basket cap") {
    // baskets: {x,y}, {x,y}, {x,z}, {y} (with a duplicate x row in b1)
    val df = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y")).toDF("b", "i")
    val got = Graphs.associationRules(df, "b", "i", minPairCount = 2)
      .orderBy("item_a", "item_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    // N=4, c_x=3, c_y=3, c_xy=2: support ⌊2000/4⌋=500, conf ⌊2000/3⌋=666,
    // lift ⌊10⁶·2·4/9⌋=888888; x→z (c=1) falls under minPairCount
    assert(got.toSeq == Seq(
      ("x", "y", 3L, 3L, 2L, 4L, 500L, 666L, 888888L),
      ("y", "x", 3L, 3L, 2L, 4L, 500L, 666L, 888888L)))
    // cap on DISTINCT items: maxBasket=1 drops every multi-item basket
    assert(Graphs.associationRules(df, "b", "i", minPairCount = 1,
      maxBasket = 1).count() == 0)
  }

  test("hitsInt: hand-computed one round; pure sources have auth 0, sinks hub 0") {
    // 1→3, 2→3, 3→4. Round 1: a_raw(3)=2e6, a_raw(4)=1e6 → max-norm
    // a(3)=1e6, a(4)=5e5; h_raw(1)=h_raw(2)=1e6, h_raw(3)=5e5 → h
    // unchanged by the norm (max already 1e6).
    val edges = Seq(1L -> 3L, 2L -> 3L, 3L -> 4L).toDF("src", "dst")
    val got = Graphs.hitsInt(edges, rounds = 1).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 1000000L, 0L), (2L, 1000000L, 0L),
      (3L, 500000L, 1000000L), (4L, 0L, 500000L)))
    // determinism + self-loop/duplicate-edge immunity
    val noisy = (Seq(1L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 4L))
      .toDF("src", "dst")
    val again = Graphs.hitsInt(noisy, rounds = 1).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == got.toSeq)
  }

  test("kCorePeel: pendant drops, core survives, cascade empties a path") {
    // triangle {1,2,3} + pendant 4—1: k=2 drops 4, triangle stays deg 2
    val g = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 1L).toDF("src", "dst")
    val core = Graphs.kCorePeel(g, k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // path 1-2-3-4-5, k=2: endpoints peel each round until nothing is left
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L).toDF("src", "dst")
    assert(Graphs.kCorePeel(path, k = 2, rounds = 1).count() == 3)
    assert(Graphs.kCorePeel(path, k = 2, rounds = 2).count() == 0)
  }

  test("triangleCount: K4, path, and duplicate/reversed edges") {
    // K4 = 4 triangles, 6 edges, 4 nodes; dup + reversed edges collapse
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b))
      .toDF("src", "dst")
    val r1 = Graphs.triangleCount(k4)
      .as[(Long, Long, Long)].collect().head
    assert(r1 == ((4L, 6L, 4L)))
    // path 1-2-3-4: no triangles
    val p = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L).toDF("src", "dst")
    val r2 = Graphs.triangleCount(p)
      .as[(Long, Long, Long)].collect().head
    assert(r2 == ((4L, 3L, 0L)))
    // star + one closing edge: exactly one triangle
    val star = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L)
      .toDF("src", "dst")
    assert(Graphs.triangleCount(star)
      .as[(Long, Long, Long)].collect().head == ((4L, 4L, 1L)))
  }

  test("itemSimilarityTopK: hand-computed co-membership cosine ranks") {
    // groups: (1: a,b,c) (2: a,b) (3: a,d) — n(a)=3 n(b)=2 n(c)=1 n(d)=1
    // pair counts: ab=2 ac=1 bc=1 ad=1
    // score(a,b) = floor(4e6/6)=666666; score(a,c)=floor(1e6/3)=333333;
    // score(a,d)=333333 → a's rank: b, then c before d (tie → id asc)
    val df = Seq((1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (3L, "a"), (3L, "d"))
      .toDF("g", "item")
    val got = Graphs.itemSimilarityTopK(df, "g", "item", k = 2)
      .select("item", "nbr", "n_both", "score", "rank")
      .as[(String, String, Long, Long, Int)].collect()
      .map(r => (r._1, r._5) -> ((r._2, r._3, r._4))).toMap
    assert(got(("a", 1)) == (("b", 2L, 666666L)))
    assert(got(("a", 2)) == (("c", 1L, 333333L)))
    assert(got(("b", 1)) == (("a", 2L, 666666L)))
    // c sees a (1²·1e6/(1·3)=333333) ranked before b (1²·1e6/2=500000)?
    // no — 500000 > 333333, so b first
    assert(got(("c", 1)) == (("b", 1L, 500000L)))
    assert(got(("c", 2)) == (("a", 1L, 333333L)))
  }

  test("itemSimilarityTopK: duplicate membership rows collapse; cap drops raw-row-heavy groups") {
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"),
      (2L, "x"), (2L, "y"), (2L, "z"), (2L, "z"))
      .toDF("g", "item")
    // group 2 has 4 RAW rows > maxGroup=3 → dropped whole; group 1's
    // dup (1,a) collapses: n(a)=n(b)=1, ab=1 → score 1e6
    val got = Graphs.itemSimilarityTopK(df, "g", "item", k = 3, maxGroup = 3)
      .select("item", "nbr", "score")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 1000000L), ("b", "a", 1000000L)))
  }

  test("pageRankInt: symmetric fast path ≡ generic path on undirected edges") {
    val und = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 2L -> 5L)
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val generic = Graphs.pageRankInt(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    val fast = Graphs.pageRankInt(edges, iters = 2, symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(generic == fast)
  }

  test("pageRankInt: inner nodes outrank endpoints on a path, symmetric") {
    val und = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graphs.pageRankInt(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got(2L) > got(1L) && got(3L) > got(1L),
      "degree-2 nodes outrank endpoints")
    assert(got(2L) == got(4L) && got(1L) == got(5L), "path symmetry")
    assert(got.values.sum <= 1000000000000L, "floor rounding only loses mass")
  }

  test("bfsHops: exact layers on a path graph; unreachable nodes absent") {
    // path 1-2-3-4-5 (both directions) + disconnected pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val d = Graphs.bfsHops(edges,
        sources = Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // default source = min node id; disconnected pair stays absent
    val dm = Graphs.bfsHops(edges, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dm(5L) == 4L && dm(1L) == 0L && !dm.contains(10L))
    // multi-source: every node takes its NEAREST source's layer
    val multi = Graphs.bfsHops(edges,
        sources = Seq(1L, 5L).toDF("node"), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("recHoldoutEval: hand-computed temporal split, eligibility, ranks, integer MRR") {
    // days span 0..10 → cutoff = 0 + 4·10/5 = 8 (day 8 itself is TEST).
    // Train: c101 baskets {1,2},{2,3}; c102 basket {1,3}; c103 solo {9};
    // c104 solo {1}; c105 solo {3}. Global co-basket counts: each of
    // (1,2),(2,3),(1,3) both ways, weight 1.
    val b = Seq(
      (101L, 1L, 1L, 0L), (101L, 1L, 2L, 0L), (101L, 2L, 2L, 1L),
      (101L, 2L, 3L, 1L), (102L, 3L, 1L, 0L), (102L, 3L, 3L, 0L),
      (103L, 4L, 9L, 2L), (104L, 8L, 1L, 3L), (105L, 9L, 3L, 4L),
      (101L, 5L, 3L, 9L), (101L, 5L, 4L, 9L), (102L, 6L, 2L, 10L),
      (103L, 7L, 1L, 9L), (104L, 10L, 5L, 9L), (105L, 11L, 2L, 9L))
      .toDF("cust", "basket", "item", "day")
    val got = Graphs.recHoldoutEval(b, "cust", "basket", "item", "day",
      topK = 5).collect()
    // c101: every co-occurring item already in its train set → NO recs
    //   → ineligible despite having test items. c103: solo item 9 has no
    //   co-occurrences → no recs → ineligible.
    // c102 (train {1,3}): candidate 2 scores 1+1=2 → rec [2]; test {2}
    //   → hit at rank 1 → ⌊10⁶/1⌋.
    // c104 (train {1}): candidates 2,3 score 1 each → ranks (2→1, 3→2)
    //   by item tiebreak; test {5} → no hit.
    // c105 (train {3}): candidates 1,2 score 1 each → ranks (1→1, 2→2);
    //   test {2} → hit at rank 2 → ⌊10⁶/2⌋.
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 3L, "eligible users = c102, c104, c105")
    assert(r.getLong(1) == 2L, "hits = c102, c105")
    assert(r.getLong(2) == 1500000L, "MRR numerator = 10^6 + 10^6/2")
    // maxNeighbors=1 truncates each item's neighborhood to its single
    // (w DESC, id ASC) best co-item: item 3's neighborhood {1,2} → {1},
    // so c105 (train {3}) now recommends [1] and misses test {2};
    // c102's hit via item 1's kept neighbor 2 survives.
    val t = Graphs.recHoldoutEval(b, "cust", "basket", "item", "day",
      topK = 5, maxNeighbors = 1).collect().head
    assert((t.getLong(0), t.getLong(1), t.getLong(2)) == (3L, 1L, 1000000L))
  }

  test("ssspInt: hand-computed distances; relaxation beats greedy; round bound truncates") {
    // 1 →(10)→ 2 →(1)→ 3 ; 1 →(2)→ 4 →(3)→ 2 (so dist(2) = 5 via 4,
    // found only after round 2 relaxes the earlier dist(2) = 10);
    // 3 →(1)→ 5 is a 3-edge-deep node on the short route;
    // parallel edge 1→2 weight 50 must collapse to the 10
    val edges = Seq(
      (1L, 2L, 10L), (1L, 2L, 50L), (2L, 3L, 1L), (1L, 4L, 2L),
      (4L, 2L, 3L), (3L, 5L, 1L), (6L, 7L, 1L))
      .toDF("src", "dst", "weight")
    val src = Seq(1L).toDF("node")
    val d3 = Graphs.ssspInt(edges, src, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ≤3-edge paths: 2 via 1→4→2 = 5; 3 via 1→4→2→3 = 6; 5 needs 4 edges
    // on the short route but 1→2→3→5 = 12 reaches in 3
    assert(d3 == Map(1L -> 0L, 4L -> 2L, 2L -> 5L, 3L -> 6L, 5L -> 12L))
    val d4 = Graphs.ssspInt(edges, src, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d4(5L) == 7L, "round 4 finds the cheaper 4-edge route")
    assert(!d4.contains(6L) && !d4.contains(7L), "disconnected absent")
    // default source = min src id
    val dm = Graphs.ssspInt(edges, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dm == Map(1L -> 0L, 2L -> 10L, 4L -> 2L))
  }

  test("linkPredict: Adamic-Adar over common neighbors, non-edges only, hub cap") {
    // path 1-2-3: the only common-neighbor pair is (1,3) through z=2
    // (deg 2) → aa = ⌊10¹⁸ / lnQ12(2)⌋, cn = 1
    val path = Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst")
    val got = Graphs.linkPredict(path)
      .as[(Long, Long, Long, Long)].collect().toList
    val w2 = 1000000000000000000L / graft.functions.FixedMath.lnQ12(2L)
    assert(got == List((1L, 3L, 1L, w2)))
    // triangle: every candidate pair is already an edge → empty
    val tri = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L).toDF("src", "dst")
    assert(Graphs.linkPredict(tri).count() == 0L)
    // star 0-{1..5}: center deg 5 > maxDegree=4 excludes it as an
    // INTERMEDIATE → no candidates; at cap 5 all 10 leaf pairs appear
    // with cn=1 and weight 1/ln(5)
    val star = (1L to 5L).map(l => 0L -> l).toDF("src", "dst")
    assert(Graphs.linkPredict(star, maxDegree = 4).count() == 0L)
    val s5 = Graphs.linkPredict(star, maxDegree = 5)
      .as[(Long, Long, Long, Long)].collect()
    val w5 = 1000000000000000000L / graft.functions.FixedMath.lnQ12(5L)
    assert(s5.length == 10 && s5.forall(t => t._3 == 1L && t._4 == w5))
    // topK truncates deterministically (aa DESC, a, b)
    assert(Graphs.linkPredict(star, topK = 3, maxDegree = 5)
      .as[(Long, Long, Long, Long)].collect().map(t => (t._1, t._2))
      .toList == List((1L, 2L), (1L, 3L), (1L, 4L)))
  }
}
