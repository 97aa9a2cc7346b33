package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.Bpe

/** The loadable BPE tokenizer: merge-walk semantics (rank order,
  * all-occurrences-left-to-right), the public merges.txt loader, vocab
  * ids, and the packSequences integration.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val rank = Bpe.rankOf(Bpe.defaultMerges)

  test("merge walk climbs multi-level merges to whole words") {
    assert(Bpe.encodeWord("the", rank) == Vector("the"))
    assert(Bpe.encodeWord("table", rank) == Vector("table"))
    assert(Bpe.encodeWord("scan", rank) == Vector("scan"))
    assert(Bpe.encodeWord("merge", rank) == Vector("merge"))
    assert(Bpe.encodeWord("window", rank) == Vector("w", "ind", "ow"))
    assert(Bpe.encodeWord("fast", rank) == Vector("f", "ast"))
    assert(Bpe.encodeWord("xyz", rank) == Vector("x", "y", "z")) // no merges
    assert(Bpe.encodeWord("a", rank) == Vector("a")) // single symbol
  }

  test("rank order is semantic: the lower-rank merge starves the higher") {
    // (k,e) outranks (e,y): "key" must go k+e -> ke, ke+y -> key,
    // never e+y -> ey
    assert(Bpe.encodeWord("key", rank) == Vector("key"))
    val flipped = Bpe.rankOf(Vector(("e", "y"), ("k", "e"), ("ke", "y")))
    assert(Bpe.encodeWord("key", flipped) == Vector("k", "ey"))
  }

  test("one step merges every non-overlapping occurrence left-to-right") {
    val r = Bpe.rankOf(Vector(("a", "a")))
    // 'aaaa' -> aa, aa (both pairs fuse in the single (a,a) step);
    // 'aaaaa' -> aa, aa, a (odd one out stays)
    assert(Bpe.encodeWord("aaaa", r) == Vector("aa", "aa"))
    assert(Bpe.encodeWord("aaaaa", r) == Vector("aa", "aa", "a"))
  }

  test("pre-tokenizer: letter/digit/punct runs over lowercased text") {
    assert(Bpe.preTokenize("The quick  123 ok?!") ==
      Vector("the", "quick", "123", "ok", "?!"))
    assert(Bpe.preTokenize("") == Vector())
    assert(Bpe.preTokenize("  \n\t ") == Vector()) // whitespace only
    // control chars are excluded from tokens entirely
    assert(Bpe.preTokenize("ab\u001e\u001fcd") == Vector("ab", "cd"))
  }

  test("loadMerges reads the public merges.txt format in rank order") {
    val dir = Files.createTempDirectory("graft_bpe")
    val f = dir.resolve("merges.txt")
    Files.write(f,
      "#version: 0.2\nt h\nth e\ni n\n\nin g\n".getBytes("UTF-8"))
    val merges = Bpe.loadMerges(spark, f.toString)
    assert(merges == Vector(("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")))
    val r = Bpe.rankOf(merges)
    assert(Bpe.encodeWord("thinking", r) == Vector("th", "in", "k", "ing"))
  }

  test("loadMerges parquet sidecar: rank-ordered, format-equivalent to text") {
    val dir = Files.createTempDirectory("graft_bpe_pq")
    val pq = dir.resolve("merges.parquet").toString
    // write deliberately shuffled; the loader must restore rank order
    Bpe.defaultMerges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .sortBy(t => t._2 + t._3) // scramble physical order
      .toDF("rank", "a", "b")
      .coalesce(1).write.parquet(pq)
    assert(Bpe.loadMerges(spark, pq) == Bpe.defaultMerges)
  }

  test("vocab ids map tokens; OOV surfaces as -1, not a silent drop") {
    val dir = Files.createTempDirectory("graft_bpe_vocab")
    val f = dir.resolve("vocab.txt")
    Files.write(f, "the\ntable\nw\nind\now\n".getBytes("UTF-8"))
    val vocab = Bpe.loadVocab(spark, f.toString)
    val out = Seq((0L, "the table window unseen"))
      .toDF("doc_id", "text")
      .select(Bpe.tokenIds($"text", Bpe.defaultMerges, vocab).as("ids"))
      .as[Seq[Int]].head()
    // the=0 table=1 w=2 ind=3 ow=4; "unseen" decomposes to symbols with
    // some merged units absent from this tiny vocab -> -1s
    assert(out.take(5) == Seq(0, 1, 2, 3, 4))
    assert(out.drop(5).contains(-1))
  }

  test("merge-walk invariants across random merge tables (property)") {
    // for ANY merge table: tokens concatenate back to the word, token
    // count never exceeds codepoint count, and extending the merge table
    // never increases the token count of a word it already tokenized
    val rnd = new scala.util.Random(11)
    val alpha = "abcd"
    def randWord() = (0 until 1 + rnd.nextInt(10))
      .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    for (_ <- 1 to 30) {
      val pool = for (a <- alpha.map(_.toString); b <- alpha.map(_.toString)) yield (a, b)
      val merges = rnd.shuffle(pool).take(1 + rnd.nextInt(8)).toVector
      // grow the table with products of earlier merges half the time
      val extended = merges ++ merges.take(2).map { case (a, b) => (a + b, a) }
      val r1 = Bpe.rankOf(merges)
      val r2 = Bpe.rankOf(extended)
      for (_ <- 1 to 10) {
        val w = randWord()
        val t1 = Bpe.encodeWord(w, r1)
        assert(t1.mkString == w, s"concat broke: $w -> $t1 (merges=$merges)")
        assert(t1.length <= w.length)
        val t2 = Bpe.encodeWord(w, r2)
        assert(t2.mkString == w)
        assert(t2.length <= t1.length, // more merges never fragment more
          s"$w: extended table gave ${t2.length} > ${t1.length} tokens")
      }
    }
  }

  test("column functions agree with the driver-side kernel row by row") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val viaCol = docs
      .select($"doc_id", Bpe.tokens($"text").as("toks"),
        Bpe.tokenCount($"text").as("n"))
      .as[(Long, Seq[String], Int)].collect().sortBy(_._1)
    val viaKernel = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
      .map { case (id, t) =>
        val toks = Bpe.preTokenize(t).flatMap(w => Bpe.encodeWord(w, rank))
        (id, toks, toks.length)
      }
    assert(viaCol.map(v => (v._1, v._2.toVector, v._3)).toSeq ==
      viaKernel.map(v => (v._1, v._2, v._3)).toSeq)
    assert(viaCol.exists(_._3 > 0))
  }

  test("byte encoder is the published GPT-2 bijection") {
    // printable non-space bytes map to themselves...
    assert(Bpe.byteEncoder('!') == '!' && Bpe.byteEncoder('~') == '~')
    assert(Bpe.byteEncoder(0xC3) == 'Ã' && Bpe.byteEncoder(0xA9) == '©')
    // ...the 68 others shift to 256+n in byte order: NUL→Ā, \n→Ċ,
    // space→Ġ (the marker all real merges.txt files use), DEL→ġ
    assert(Bpe.byteEncoder(0x00) == 'Ā')
    assert(Bpe.byteEncoder(0x0A) == 'Ċ')
    assert(Bpe.byteEncoder(0x20) == 'Ġ')
    assert(Bpe.byteEncoder(0x7F) == 'ġ')
    assert(Bpe.byteEncoder.distinct.length == 256) // a true bijection
  }

  test("byte-level pre-tokenizer: GPT-2 regex — case, contractions, space binding") {
    // case preserved, a single leading space binds to its word
    assert(Bpe.preTokenizeByteLevel("The quick brown") ==
      Vector("The", " quick", " brown"))
    // contractions split off; punctuation runs keep their leading space
    assert(Bpe.preTokenizeByteLevel("it's done, ok?!") ==
      Vector("it", "'s", " done", ",", " ok", "?!"))
    // of an interior space run, only the LAST space binds forward; a
    // trailing run stays whole (the (?!\S) lookahead)
    assert(Bpe.preTokenizeByteLevel("a  b  ") == Vector("a", " ", " b", "  "))
    // digits split from letters
    assert(Bpe.preTokenizeByteLevel("v2 go") == Vector("v", "2", " go"))
  }

  /** A real-format merges.txt fragment (GPT-2 convention: Ġ = the
    * mapped space byte). Ranks: Ġt=0, he=1, Ġthe=2, is=3, Ġa=4, Ġw=5,
    * or=6, ld=7, orld=8, Ġworld=9.
    */
  private val gpt2Style = Vector(
    ("Ġ", "t"), ("h", "e"), ("Ġt", "he"), ("i", "s"),
    ("Ġ", "a"), ("Ġ", "w"), ("o", "r"), ("l", "d"),
    ("or", "ld"), ("Ġw", "orld"))
  private val gRank = Bpe.rankOf(gpt2Style)

  test("byte-level goldens: hand-computed GPT-2 walks with Ġ climbing") {
    // " the": [Ġ,t,h,e] —(Ġ,t)@0→ [Ġt,h,e] —(h,e)@1→ [Ġt,he]
    //   —(Ġt,he)@2→ [Ġthe]: the classic single-token " the"
    assert(Bpe.encodeWordByteLevel(" the", gRank) == Vector("Ġthe"))
    // "the" (no leading space): [t,h,e] —(h,e)@1→ [t,he]; (t,he) is NOT
    // a merge — sentence-initial and mid-sentence forms differ, the
    // hallmark of the Ġ convention
    assert(Bpe.encodeWordByteLevel("the", gRank) == Vector("t", "he"))
    // " world": [Ġ,w,o,r,l,d] —(Ġ,w)@5→ [Ġw,o,r,l,d] —(o,r)@6→
    //   [Ġw,or,l,d] —(l,d)@7→ [Ġw,or,ld] —(or,ld)@8→ [Ġw,orld]
    //   —(Ġw,orld)@9→ [Ġworld]
    assert(Bpe.encodeWordByteLevel(" world", gRank) == Vector("Ġworld"))
    // document-level: pre-tokenize + walk, concatenated
    val toks = Bpe.preTokenizeByteLevel("the world is")
      .flatMap(w => Bpe.encodeWordByteLevel(w, gRank))
    assert(toks == Vector("t", "he", "Ġworld", "Ġ", "is"))
  }

  test("byte-level fallback: non-ASCII and control bytes stay in-alphabet") {
    // "café": é = UTF-8 C3 A9 — both bytes are identity-mapped symbols;
    // with no applicable merges the word is its mapped byte sequence
    assert(Bpe.encodeWordByteLevel("café", gRank) ==
      Vector("c", "a", "f", "Ã", "©"))
    // a control byte maps into the shifted page, never drops
    assert(Bpe.byteSymbols("\u0001") == Vector("ā"))
    // any string round-trips: mapped symbols concatenate to the mapped
    // bytes, one symbol per UTF-8 byte
    val s = "Ωmega  ok"
    assert(Bpe.byteSymbols(s).length == s.getBytes("UTF-8").length)
    // with a 256-single + products vocab, ids never hit -1 (the byte
    // alphabet IS the fallback)
    val vocab = (0 until 256).map(b => Bpe.byteEncoder(b).toString).zipWithIndex.toMap ++
      gpt2Style.map { case (a, b) => a + b }.zipWithIndex.map { case (t, i) => (t, 256 + i) }
    val ids = spark.createDataset(Seq("café  the world"))
      .toDF("text")
      .select(Bpe.tokenIds(col("text"), gpt2Style, vocab, byteLevel = true).as("ids"))
      .as[Seq[Int]].head()
    assert(ids.nonEmpty && ids.forall(_ >= 0))
  }

  test("byte-level column function agrees with the driver-side kernel") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val viaCol = docs
      .select($"doc_id", Bpe.tokens($"text", gpt2Style, byteLevel = true).as("toks"))
      .as[(Long, Seq[String])].collect().sortBy(_._1)
    val viaKernel = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
      .map { case (id, t) =>
        (id, Bpe.preTokenizeByteLevel(t).flatMap(w => Bpe.encodeWordByteLevel(w, gRank)))
      }
    assert(viaCol.map(v => (v._1, v._2.toVector)).toSeq == viaKernel.toSeq)
    assert(viaCol.exists(_._2.nonEmpty))
  }

  test("train learns the hand-computed merge sequence with weighted counts") {
    // the×3, then×2, he×1 → pairs: (h,e)=6, (t,h)=5, (e,n)=2
    // merge0 (h,e): the→[t,he], then→[t,he,n], he→[he]
    // merge1 (t,he) pc=5; merge2 (the,n) pc=2
    val docs = Seq((0L, "the the the"), (1L, "then then"), (2L, "he"))
      .toDF("doc_id", "text")
    val learned = Bpe.train(docs, nMerges = 3)
    assert(learned == Seq(("h", "e", 6L), ("t", "he", 5L), ("the", "n", 2L)))
    // early stop: after (the,n) every word is one symbol — 3 merges total
    assert(Bpe.train(docs, nMerges = 10).size == 3)
    // minCount gate
    assert(Bpe.train(docs, nMerges = 10, minCount = 3).size == 2)
    // minWordCount prunes the dictionary BEFORE pair statistics: with
    // hapax "he" dropped, (h,e) weighs 5 (not 6) and "he" contributes
    // nothing
    val pruned = Bpe.train(docs, nMerges = 1, minWordCount = 2)
    assert(pruned == Seq(("h", "e", 5L)))
  }

  test("train: driver fast path ≡ distributed merge loop (r18 gate)") {
    val docs = Seq((0L, "the the the"), (1L, "then then"), (2L, "he"),
      (3L, "aaaa abab"), (4L, "zz zz zz the"))
      .toDF("doc_id", "text")
    def train(nMerges: Int) =
      extraJobs(nMerges)(n => Bpe.train(docs, nMerges = n))
    val (viaDriver, driverJobs) = train(5)
    assert(driverJobs == 0, "a 6-word dictionary fits: merges run on the driver")
    val (viaSpark, sparkJobs) = withoutBroadcast(train(5))
    assert(sparkJobs >= 4, "threshold -1 must force the distributed merge loop")
    assert(viaDriver == viaSpark,
      "driver merge loop must equal the distributed loop exactly")
  }

  test("train fuses greedily left-to-right: overlapping pairs take even offsets") {
    // "aaaa"×5: (a,a) appears 3×/word → pc=15; after the fuse each word
    // is [aa,aa] (positions 0-1 and 2-3, never the overlapping 1-2)
    val docs = Seq((0L, "aaaa aaaa aaaa aaaa aaaa")).toDF("doc_id", "text")
    val learned = Bpe.train(docs, nMerges = 2)
    assert(learned == Seq(("a", "a", 15L), ("aa", "aa", 5L)))
  }

  test("train properties on random corpora: valid pairs, descending use, monotone compression") {
    val rnd = new scala.util.Random(1234)
    val alpha = "abcd"
    for (trial <- 0 until 3) {
      val docs = (0 until 40).map { i =>
        val words = Seq.fill(rnd.nextInt(8) + 3)(
          Seq.fill(rnd.nextInt(6) + 1)(alpha(rnd.nextInt(alpha.length))).mkString)
        (i.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
      val learned = Bpe.train(docs, nMerges = 6)
      // ranks are distinct pairs with positive weighted counts
      assert(learned.map(m => (m._1, m._2)).distinct.size == learned.size)
      assert(learned.forall(_._3 > 0))
      // the chosen pair count never increases with rank: a later merge
      // could at most have been created by an earlier one, never beat it
      assert(learned.map(_._3).sliding(2).forall(s => s.length < 2 || s(0) >= s(1)),
        s"trial $trial: counts not non-increasing: ${learned.map(_._3)}")
      // tokenizing with a longer merge prefix never increases the count
      val merges = learned.map(m => (m._1, m._2))
      val counts = (0 to merges.size).map { i =>
        docs.agg(org.apache.spark.sql.functions.sum(
          Bpe.tokenCount($"text", merges.take(i).toVector)))
          .head().getLong(0)
      }
      assert(counts.sliding(2).forall(s => s.length < 2 || s(0) >= s(1)),
        s"trial $trial: token counts not monotone: $counts")
      // with zero merges every token is a single char
      val chars = docs.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.regexp_replace($"text", " ", ""))))
        .head().getLong(0)
      assert(counts.head == chars)
    }
  }

  test("trained merges feed tokens(): the train->tokenize loop closes") {
    val docs = Seq((0L, "scan scan scan the scanner")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, nMerges = 6).map(m => (m._1, m._2))
    val out = docs.select(Bpe.tokens($"text", merges).as("t"))
      .as[Seq[String]].collect().head
    // "scan" must have climbed to a single learned token
    assert(out.contains("scan"))
    assert(out.count(_ == "scan") == 4) // 3 bare + the "scanner" prefix
  }

  test("packSequences packs by the BPE count when given the token column") {
    val docs = Seq((0L, "the table"), (1L, "window fast"), (2L, "key"))
      .toDF("doc_id", "text")
    // BPE counts: 2 (the, table), 5 (w ind ow f ast), 1 (key)
    val packed = graft.operators.Packing.packSequences(docs, budget = 4,
        tokenCount = Some(Bpe.tokenCount($"text")))
      .select("doc_id", "n_tokens", "cum_before", "seq_start")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(packed.map(_._2).toSeq == Seq(2L, 5L, 1L))
    assert(packed.map(_._3).toSeq == Seq(0L, 2L, 7L)) // exclusive prefix sum
    assert(packed.map(_._4).toSeq == Seq(0L, 0L, 1L)) // budget-4 sequences
  }
}
