package graft.functions

import java.util.Locale

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Gates}

/** Loadable byte-pair-encoding tokenizer: the GPT-2-style merge walk
  * over a merges table that ships as a tiny sidecar file (the public
  * `merges.txt` format — optional `#version` header, one "a b" pair per
  * line, rank = line order), same deployment shape as
  * [[graft.operators.TextAnalysis.loadWeights]].
  *
  * The merge walk is the published BPE algorithm (Sennrich et al. 2016;
  * the GPT-2 encoder's loop): start from single-character symbols,
  * repeatedly pick the PRESENT pair with the lowest merge rank and fuse
  * every non-overlapping occurrence left-to-right, until no pair in the
  * table remains. Rank order is semantic: a lower-rank merge starves a
  * higher-rank one that shares a symbol (e.g. with ranks
  * (k,e) < (e,y), "key" → [ke, y] → [key], never [k, ey]).
  *
  * Two modes:
  *
  *  - **simplified** (default, what the q88 oracle replays): no
  *    byte-level fallback (symbols are unicode codepoints, so any
  *    character outside the merge alphabet simply stays a
  *    single-codepoint token) and a simplified pre-tokenizer
  *    (`[a-z]+|[0-9]+|[^a-z0-9\s\x00-\x1f]+` on the lowercased text —
  *    no space-marker Ġ, no lookahead — chosen so the exact same regex
  *    runs in any RE2/PCRE engine, which is what lets the q88 oracle
  *    replay the whole tokenizer in SQL);
  *  - **byteLevel = true**: the real GPT-2 convention (Radford et al.
  *    2019, `encoder.py`) — the GPT-2 pre-tokenizer regex
  *    (case-preserving, contraction splits, a leading space binds to
  *    the following word), each pre-token expanded to its UTF-8 bytes,
  *    each byte mapped through the published 256-entry byte↔unicode
  *    bijection (0x20 → 'Ġ', hence the Ġ-prefixed entries in a real
  *    `merges.txt`), then the same merge walk. Every symbol is one of
  *    the 256 byte characters, so NOTHING is out-of-alphabet — the
  *    byte-level mapping IS the byte fallback, and a table+vocab that
  *    covers the 256 singles can never emit -1.
  *
  * Scale: merges/vocab are driver-loaded (a real GPT-2 table is 50k
  * rows ≈ 0.5 MB) and ride to executors in the task closure (itself a
  * torrent broadcast); tokenization is then a pure map-side scalar
  * kernel — no shuffle anywhere.
  */
object Bpe {

  /** Merge ranks: pair → rank (lower merges first). */
  type Rank = Map[(String, String), Int]

  /** BPE TRAINING (Sennrich et al. 2016, arXiv:1508.07909 §3.2 — the
    * word-dictionary variant): learn `nMerges` merge rules from a
    * corpus. One corpus-sized shuffle builds the word-frequency
    * dictionary; every iteration after that runs on the dictionary
    * (cardinality = vocabulary, orders of magnitude below the corpus):
    * count adjacent symbol pairs weighted by word frequency
    * (partial-aggregated groupBy), pick the most frequent pair with the
    * deterministic tie-break (count DESC, pair ASC — byte order), fuse
    * every non-overlapping occurrence greedily left-to-right (a pure
    * expression fold, map-side), repeat. Stops early when no pair
    * reaches `minCount`.
    *
    * Returns the learned `(lhs, rhs, pairCount)` rules in rank order —
    * `result.map(m => (m._1, m._2))` feeds [[tokens]] directly, closing
    * the train → sidecar → tokenize loop with [[saveMerges]]/
    * [[loadMerges]].
    *
    * Scale: per-iteration cost is one vocab-sized aggregation + a
    * top-1 TakeOrdered collect (bounded), with the rewritten dictionary
    * materialized ([[graft.operators.Dedup.materialize]]) so plans
    * don't nest across iterations. The
    * published 30k–50k-merge trainings prune the dictionary first
    * (drop rare words — `minWordCount`, the standard knob: a 100 TB
    * corpus has a long hapax tail of noise that contributes nothing to
    * merge statistics but dominates dictionary size) and run the
    * in-memory pair-delta algorithm on the pruned table; this operator
    * is the exact published recipe, practical for the `nMerges` a
    * pipeline derives thresholds or demo vocabularies from.
    */
  /** UTF8-binary string ordering (code-point compare) — Spark's
    * `orderBy` on strings compares UTF8 bytes, which is code-point
    * order; Java's String.compareTo is UTF-16 code-unit order and
    * disagrees for supplementary characters.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    a.length - i < b.length - j
  }

  def train(docs: org.apache.spark.sql.DataFrame, nMerges: Int,
      minCount: Long = 1, textCol: String = "text",
      minWordCount: Long = 1): Seq[(String, String, Long)] = {
    require(nMerges > 0, s"nMerges $nMerges must be > 0")
    // An eager word table, then LAZY rounds: each rewrite materializes
    // as a by-product of the NEXT round's pair-count job (one job per
    // merge, not two); a table is released once its successor exists.
    var vocab = Dedup.materialize(docs
      .select(explode(graft.operators.TextAnalysis.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minWordCount)
      .select(split(col("w"), "").as("syms"), col("cnt")), eager = true)
    // Each merge round is one vocab-sized aggregation + a top-1 collect:
    // a full Spark job for microseconds of pair counting once the
    // dictionary is small. While the distinct words fit Gates, the
    // dictionary collects once and the merges run on the driver — same
    // greedy algorithm, same (count DESC, pair ASC by UTF8 order)
    // tie-break, same left-to-right fuse. The published trainings prune
    // to a bounded dictionary first (minWordCount), so this is the
    // common case at any corpus scale.
    if (Gates.fits(vocab, Dedup.rowCount(vocab))) {
      var dict = vocab.collect().map(r =>
        (r.getSeq[String](0).toArray, r.getLong(1)))
      Dedup.releaseStage(vocab)
      val learned =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var stop = false
      while (learned.size < nMerges && !stop) {
        val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        dict.foreach { case (syms, cnt) =>
          var i = 0
          while (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            pc.update(k, pc.getOrElse(k, 0L) + cnt)
            i += 1
          }
        }
        if (pc.isEmpty) stop = true
        else {
          var best: ((String, String), Long) = null
          pc.foreach { case (k, v) =>
            if (best == null || v > best._2 ||
              (v == best._2 && (utf8Lt(k._1, best._1._1) ||
                (k._1 == best._1._1 && utf8Lt(k._2, best._1._2)))))
              best = (k, v)
          }
          if (best._2 < minCount) stop = true
          else {
            val ((l, r), n) = best
            learned += ((l, r, n))
            val lr = l + r
            dict = dict.map { case (syms, cnt) =>
              if (syms.length < 2) (syms, cnt)
              else {
                val out = new scala.collection.mutable.ArrayBuffer[String](
                  syms.length)
                out += syms(0)
                var i = 1
                while (i < syms.length) {
                  if (out.last == l && syms(i) == r) out(out.length - 1) = lr
                  else out += syms(i)
                  i += 1
                }
                (out.toArray, cnt)
              }
            }
          }
        }
      }
      return learned.toSeq
    }
    var prev: Option[org.apache.spark.sql.DataFrame] = None
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var stop = false
    while (learned.size < nMerges && !stop) {
      val best = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      // vocab just materialized; its parent can go
      prev.foreach(Dedup.releaseStage)
      prev = Some(vocab)
      if (best.isEmpty || best(0).getLong(2) < minCount) stop = true
      else {
        val (l, r, pc) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((l, r, pc))
        // greedy left-to-right fuse: fold the tail with init = [head];
        // after a fuse the accumulator tail is "lr" != l (strictly
        // longer), so overlapping matches resolve exactly as the
        // left-to-right scan of the paper
        vocab = Dedup.materialize(vocab.select(
          aggregate(
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            array(element_at(col("syms"), 1)),
            (acc, x) => when(
              element_at(acc, -1) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(x)))).as("syms"),
          col("cnt")))
      }
    }
    // the loop's working tables: the last one read, and its never-read
    // successor when the loop ran out of merges
    (prev.toSeq :+ vocab).foreach(Dedup.releaseStage)
    learned.toSeq
  }

  /** Built-in demo merge table for the driver corpus (multi-level:
    * t+h→th, th+e→the; t+a-b-l-e climbs to the full word "table"; the
    * (k,e)<(e,y) pair pins rank-order semantics). Real deployments load
    * their trained table with [[loadMerges]].
    */
  val defaultMerges: Vector[(String, String)] = Vector(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("r", "t"), ("s", "t"), ("a", "st"), ("l", "e"), ("b", "le"),
    ("a", "ble"), ("t", "able"), ("a", "r"), ("p", "ar"), ("in", "e"),
    ("l", "ine"), ("in", "d"), ("o", "w"), ("h", "a"), ("s", "h"),
    ("v", "a"), ("k", "e"), ("ke", "y"), ("e", "y"), ("g", "g"),
    ("a", "gg"), ("c", "an"), ("s", "can"), ("g", "e"), ("er", "ge"),
    ("m", "erge"))

  /** Built-in demo merge table in the BYTE-LEVEL (Ġ) convention — the
    * real-merges.txt shape, Ġ = the mapped space byte: " the" climbs to
    * a single Ġthe while sentence-initial "the" stays t+he apart, " row"
    * stops at [Ġ, row] (no Ġrow merge), and scan/key/table/value climb
    * multi-level. Symbols are Ġ + alphanumerics only, which is what
    * lets the q108 oracle replay the walk in SQL with no LIKE/quote
    * escaping. Real deployments load a trained table with [[loadMerges]].
    */
  val gpt2DemoMerges: Vector[(String, String)] = Vector(
    ("Ġ", "t"), ("h", "e"), ("Ġt", "he"), ("a", "n"), ("Ġ", "s"),
    ("Ġs", "c"), ("Ġsc", "an"), ("e", "y"), ("k", "ey"), ("Ġ", "k"),
    ("Ġk", "ey"), ("a", "b"), ("l", "e"), ("ab", "le"), ("Ġt", "able"),
    ("r", "o"), ("ro", "w"), ("a", "l"), ("v", "al"), ("u", "e"),
    ("val", "ue"), ("Ġ", "a"))

  def rankOf(merges: Seq[(String, String)]): Rank =
    merges.zipWithIndex.toMap

  /** Load a merges sidecar (same two formats as
    * [[graft.operators.TextAnalysis.loadWeights]]):
    *
    *  - plain text, the public `merges.txt` format: optional `#...`
    *    header lines, then one "left right" pair per line, rank = order;
    *  - parquet (path contains ".parquet"): rows of
    *    (rank INT, a STRING, b STRING), returned in rank order.
    *
    * Reads on the driver (Hadoop FS / any Spark-reachable scheme) — the
    * table is KBs-to-half-a-MB, and must arrive in rank order.
    */
  def loadMerges(spark: SparkSession, path: String): Vector[(String, String)] = {
    if (path.contains(".parquet")) {
      spark.read.parquet(path)
        .select(col("rank").cast("int"), col("a").cast("string"),
          col("b").cast("string"))
        .collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2)))
        .toVector
    } else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#"))
          .map { l =>
            val sp = l.split(" ", 2)
            require(sp.length == 2, s"malformed merges line: '$l'")
            (sp(0), sp(1))
          }
          .toVector
      } finally in.close()
    }
  }

  /** Write a merges sidecar in the public `merges.txt` format (with the
    * conventional `#version` header) — what [[train]] produces and
    * [[loadMerges]] reads back, closing the train → sidecar → tokenize
    * loop. Driver-side write through Hadoop FS, same reach as the
    * loader.
    */
  def saveMerges(spark: SparkSession, merges: Seq[(String, String)],
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      out.write("#version: 0.2\n".getBytes("UTF-8"))
      merges.foreach { case (a, b) =>
        out.write(s"$a $b\n".getBytes("UTF-8"))
      }
    } finally out.close()
  }

  /** Load a vocab sidecar: one token per line, id = line number. */
  def loadVocab(spark: SparkSession, path: String): Map[String, Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .zipWithIndex.map { case (t, i) => (t, i) }.toMap
    } finally in.close()
  }

  private val preTokenPattern =
    java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9\\s\\x00-\\x1f]+")

  /** The GPT-2 byte↔unicode bijection (`bytes_to_unicode` in the
    * published encoder): printable non-space bytes — `!`..`~`, `¡`..`¬`,
    * `®`..`ÿ` — map to themselves; the remaining 68 bytes map to
    * 256+n in byte order, which lands 0x20 (space) on U+0120 'Ġ' — the
    * space marker seen throughout a real `merges.txt`/vocab.
    */
  val byteEncoder: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val enc = new Array[Char](256)
    var n = 0
    (0 until 256).foreach { b =>
      if (keep(b)) enc(b) = b.toChar
      else { enc(b) = (256 + n).toChar; n += 1 }
    }
    enc
  }

  /** The GPT-2 pre-tokenizer regex, verbatim (contractions, ` ?`-bound
    * words/numbers/punctuation runs, trailing-space lookahead) with
    * unicode classes on, case preserved.
    */
  private val gpt2Pattern = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** GPT-2 pre-tokenization: raw (case-preserved) text split by
    * [[gpt2Pattern]]; a single leading space rides with its word.
    */
  def preTokenizeByteLevel(text: String): Vector[String] = {
    val m = gpt2Pattern.matcher(text)
    val out = Vector.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** A pre-token as byte-level symbols: UTF-8 bytes, each mapped through
    * [[byteEncoder]] to a one-char string (" the" → Ġ,t,h,e).
    */
  def byteSymbols(word: String): Vector[String] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < bytes.length) { b += byteEncoder(bytes(i) & 0xff).toString; i += 1 }
    b.result()
  }

  /** Simplified pre-tokenizer (see object doc): runs of letters, runs of
    * digits, runs of other printable non-space characters, over the
    * lowercased text.
    */
  def preTokenize(text: String): Vector[String] = {
    val m = preTokenPattern.matcher(text.toLowerCase(Locale.ROOT))
    val out = Vector.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** The BPE merge walk on one pre-token. Symbols start as unicode
    * codepoints; each step fuses every non-overlapping occurrence
    * (left-to-right) of the present pair with the lowest rank.
    */
  def encodeWord(word: String, rank: Rank): Vector[String] = {
    val syms = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    mergeWalk(syms, rank)
  }

  /** The merge walk over byte-level symbols ([[byteSymbols]]) — real
    * GPT-2 encoding of one pre-token.
    */
  def encodeWordByteLevel(word: String, rank: Rank): Vector[String] =
    mergeWalk(byteSymbols(word), rank)

  /** The shared merge loop: fuse every non-overlapping occurrence
    * (left-to-right) of the present lowest-rank pair until none remains.
    */
  private def mergeWalk(start: Vector[String], rank: Rank): Vector[String] = {
    var syms = start
    var continue = syms.length >= 2
    while (continue) {
      var best: (String, String) = null
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (best == null) continue = false
      else {
        val (a, b) = best
        val nb = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            nb += (a + b); j += 2
          } else { nb += syms(j); j += 1 }
        }
        syms = nb.result()
        continue = syms.length >= 2
      }
    }
    syms
  }

  /** Full-document token sequence (pre-tokenize, then merge-walk each
    * pre-token, concatenated in order). NULL text → NULL. `byteLevel`
    * switches to the real GPT-2 convention (see object doc).
    */
  def tokens(text: Column, merges: Seq[(String, String)] = defaultMerges,
      byteLevel: Boolean = false): Column = {
    val r = rankOf(merges)
    val u =
      if (byteLevel) udf { (t: String) =>
        if (t == null) null
        else preTokenizeByteLevel(t).flatMap(w => encodeWordByteLevel(w, r))
      }
      else udf { (t: String) =>
        if (t == null) null
        else preTokenize(t).flatMap(w => encodeWord(w, r))
      }
    u(text)
  }

  /** Token count under the loaded BPE table — drop-in for the token
    * column of [[graft.operators.Packing.packSequences]].
    */
  def tokenCount(text: Column, merges: Seq[(String, String)] = defaultMerges,
      byteLevel: Boolean = false): Column =
    size(tokens(text, merges, byteLevel))

  /** Token ids via a vocab table; out-of-vocabulary → -1 (byte-level
    * walks with a 256-single-byte vocab never emit -1 — the byte
    * alphabet is the fallback; in simplified mode -1 marks a mismatched
    * merges/vocab pair loudly rather than silently).
    */
  def tokenIds(text: Column, merges: Seq[(String, String)],
      vocab: Map[String, Int], byteLevel: Boolean = false): Column = {
    val r = rankOf(merges)
    val u =
      if (byteLevel) udf { (t: String) =>
        if (t == null) null
        else preTokenizeByteLevel(t).flatMap(w => encodeWordByteLevel(w, r))
          .map(vocab.getOrElse(_, -1))
      }
      else udf { (t: String) =>
        if (t == null) null
        else preTokenize(t).flatMap(w => encodeWord(w, r)).map(vocab.getOrElse(_, -1))
      }
    u(text)
  }
}
