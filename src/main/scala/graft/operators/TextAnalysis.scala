package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a `documents`
  * table (driver contract, BASELINE.json north_star): language ID, quality
  * scoring, token counting, fingerprinting. Catalyst expressions, no UDF
  * and no shuffle: map-side, per row. The hot per-row statistics are
  * native codegen'd kernels ([[graft.plans]]); the higher-order-function
  * forms (`filter`, `aggregate`, `transform` over a split) are
  * `CodegenFallback` and evaluate interpreted, once per reference.
  */
object TextAnalysis {

  /** Whitespace token count (q79 convention). Since r15 the native
    * codegen'd byte-run kernel ([[graft.plans.TokenCountWs]]) — value-
    * identical to the original
    * `size(filter(split(text, "\\s+"), t => length(t) > 0))` HOF form
    * (property-tested against it), which is CodegenFallback and paid
    * regex + array + lambda per row in every token-budget/packing
    * path.
    */
  def tokenCountWs(text: Column): Column =
    graft.plans.GraftExtensions.tokenCountWsNative(text)

  /** BPE-ish subword token estimate: word-ish chunks + punctuation runs,
    * long words contributing ceil(len/4) subtokens (a public rule-of-thumb
    * approximation of byte-pair tokenizers; deterministic, no model).
    */
  def tokenCountBpe(text: Column): Column = {
    val pieces = filter(split(text, "(?<=\\W)|(?=\\W)"), t => length(trim(t)) > 0)
    aggregate(pieces, lit(0L), (acc, t) =>
      acc + when(length(t) <= 4, 1L).otherwise(ceil(length(t) / 4.0).cast("long")))
  }

  /** Word list, lowercased, punctuation-stripped. */
  def words(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9']+"), w => length(w) > 0)

  // marker table lives in functions.LangMarkers (single source of
  // truth shared with the native mask expression and its oracles)
  private val markersByLang: Map[String, Seq[String]] =
    graft.functions.LangMarkers.markersByLang

  /** Heuristic language ID: the language whose stopword-marker list hits
    * the most tokens; ties break alphabetically; no hits → "und"
    * (undetermined). N-gram/stopword heuristics are the standard public
    * approach (langid.py-style) shrunk to an expression.
    *
    * Hot-path shape (r14): each token is scored by ONE native hash
    * probe ([[graft.plans.GraftExtensions.langMarkerMaskNative]] →
    * per-language bitmask) and the per-language hit counts are bit
    * tests over the small int array — the previous form ran six
    * 10-literal `IN` scans per token, which the 100× sweep measured
    * as 353 s of the q314 corpus pass (now scan-speed). Same hits,
    * same tiebreak, same answers — all langId oracles unchanged.
    */
  def langId(text: Column): Column =
    // null text → null words array → null-propagating native expr;
    // the contract (and every oracle's LEFT JOIN) reads null as "und"
    coalesce(graft.plans.GraftExtensions.langIdNative(words(text)),
      lit("und"))

  /** Quality features: lengths, ratios used by public corpus filters
    * (C4/Gopher-style rules): word count, mean word length, stopword
    * ratio, punctuation ratio, uppercase ratio, digit ratio. Fields:
    *  - `n_chars`: `length(text)`; `n_words`: `size(words(text))`;
    *  - `mean_word_len`, `stopword_ratio`: the words' total length and
    *    their hits on `TextKernels.enStops` (with multiplicity), over
    *    max(1, n_words);
    *  - `punct_ratio`, `upper_ratio`, `digit_ratio`: ASCII punctuation
    *    (Java's `\p{Punct}`), `[A-Z]` and `[0-9]` characters over
    *    max(1, n_chars).
    *
    * One native UTF-8 pass per row ([[graft.plans.QualityFeatures]]);
    * this is a projection of its struct, so a filter on two fields
    * calls the kernel once per field and never splits the text. Null
    * text gives a struct of null fields.
    */
  def qualityFeatures(text: Column): Column = {
    val k = graft.plans.GraftExtensions.qualityFeaturesNative(text)
    struct(graft.plans.QualityFeatures.schema.fieldNames.toSeq
      .map(f => k.getField(f).as(f)): _*)
  }

  /** Gopher-style keep/drop quality score in [0,1]: fraction of passed
    * rules (word count in range, mean word length sane, enough stopwords,
    * not mostly punctuation/digits).
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromFeatures(qualityFeatures(text))

  /** [[qualityScore]] over an already-computed features struct. */
  def qualityScoreFromFeatures(f: Column): Column = {
    val rules = Seq(
      f.getField("n_words").between(5, 100000),
      f.getField("mean_word_len").between(2.0, 12.0),
      f.getField("stopword_ratio") >= 0.01,
      f.getField("punct_ratio") <= 0.3,
      f.getField("digit_ratio") <= 0.3)
    rules.map(r => when(r, 1.0).otherwise(0.0)).reduce(_ + _) / rules.length
  }

  /** Rolling-hash document fingerprint: min of xxhash64 over word
    * 8-grams — a winnowing-style content fingerprint; identical prose
    * reordered lightly still collides on shared runs.
    */
  def fingerprint(text: Column, ngram: Int = 8): Column =
    fingerprintFromWords(words(text), ngram)

  /** [[fingerprint]] over an already-tokenized array (see
    * [[wordNgramsFromWords]]). */
  def fingerprintFromWords(ws: Column, ngram: Int = 8): Column =
    array_min(transform(wordNgramsFromWords(ws, ngram), g => xxhash64(g)))

  /** Word n-grams as strings (building block for Jaccard / counting).
    * Full n-grams only; fewer than n words → empty array.
    */
  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsFromWords(words(text), n)

  /** [[wordNgrams]] over an already-tokenized array — pass a
    * MATERIALIZED `_ws` column when possible: inline, the two internal
    * references of `words(text)` (count + slice source) re-run the
    * corpus regex split, and HOFs sit outside codegen subexpression
    * elimination (the r14 langId lesson).
    */
  def wordNgramsFromWords(ws: Column, n: Int): Column = {
    val cnt = size(ws) - (n - 1)
    when(cnt >= 1,
      transform(sequence(lit(1), cnt), i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** PII patterns (email, dotted-quad IPv4, NANP-style phone). Kept to
    * the regex subset with identical semantics in Java (`java.util.regex`,
    * Spark's `regexp_replace`) and RE2 (DuckDB): character classes,
    * bounded repetition, and ASCII word boundaries — no backreferences or
    * lookaround, so left-to-right non-overlapping matching picks the same
    * spans in both engines.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII redaction (corpus-curation scrub stage): masks emails, IPv4
    * addresses, and phone numbers, in that fixed order (the order is part
    * of the contract — digit-bearing spans like `user99@h5.example.com`
    * must be consumed by the email pass before the numeric passes scan).
    * Pure codegen'd `regexp_replace` chain — runs at scan speed map-side,
    * the shape a 100 TB scrub pass needs.
    */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, emailPattern, "<EMAIL>")
    val i = regexp_replace(e, ipv4Pattern, "<IP>")
    regexp_replace(i, phonePattern, "<PHONE>")
  }

  /** Per-kind PII hit counts over the *original* text (audit metric to
    * pair with [[redactPii]]). Counts are independent per pattern — a
    * span matching two patterns counts once in each.
    */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(emailPattern)).cast("long").as("n_email"),
    regexp_count(text, lit(ipv4Pattern)).cast("long").as("n_ip"),
    regexp_count(text, lit(phonePattern)).cast("long").as("n_phone"))

  /** Repetition ratio (Gopher-style duplicate n-gram fraction): the share
    * of word n-grams that are repeats of an earlier one —
    * `(total − distinct) / total` — a standard published signal for
    * boilerplate/spam. 0 for texts with fewer than n words.
    */
  def repetitionRatio(text: Column, n: Int = 3): Column =
    repetitionRatioFromNgrams(wordNgrams(text, n))

  /** [[repetitionRatio]] over an already-built n-gram array — pass a
    * MATERIALIZED column: the ratio references the array twice, and an
    * inline build costs two tokenizations plus the gram-string
    * allocation PER REFERENCE (see [[wordNgramsFromWords]]).
    */
  def repetitionRatioFromNgrams(ng: Column): Column = {
    val total = size(ng)
    (total - size(array_distinct(ng))).cast("double") / greatest(total, lit(1))
  }

  /** Corpus-wide top-`k` word n-grams by occurrence count (vocabulary /
    * boilerplate mining). Ties break on the gram so the result is total-
    * ordered. Scale shape: map-side partial counts shrink the shuffle to
    * ~|vocab| rows, and the `orderBy.limit` compiles to
    * `TakeOrderedAndProject` — a per-partition top-k plus a single
    * k-row reduce, never a global sort of the vocabulary.
    */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 100,
      textCol: String = "text"): DataFrame =
    docs.withColumn("_tn_ws", words(col(textCol))) // one tokenize
      .select(explode(wordNgramsFromWords(col("_tn_ws"), n)).as("gram"))
      .groupBy("gram").agg(count("*").as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)

  /** Hashing-trick term-frequency vector (`dim` buckets): the standard
    * feature-hashing vectorization for text at scale — no vocabulary
    * build, no shuffle, fixed-width output. One pass per document.
    * Tokens are ASCII [a-z0-9] runs with apostrophe continuation
    * ([[graft.functions.Hashing.isTokenChar]] — ASCII by definition, so
    * the q67 oracle regex is the same tokenizer, not an approximation).
    */
  def hashingTf(text: Column, dim: Int = 1024): Column = {
    val u = udf((t: String) => {
      val counts = new Array[Double](dim)
      if (t != null) {
        val lower = t.toLowerCase
        var i = 0
        val len = lower.length
        while (i < len) {
          while (i < len && !graft.functions.Hashing.isTokenChar(lower.charAt(i))) i += 1
          if (i < len) {
            var h = 0xcbf29ce484222325L
            while (i < len && (graft.functions.Hashing.isTokenChar(lower.charAt(i)) ||
                lower.charAt(i) == '\'')) {
              h ^= lower.charAt(i); h *= 0x100000001b3L; i += 1
            }
            val b = ((h % dim) + dim) % dim
            counts(b.toInt) += 1.0
          }
        }
      }
      counts.toSeq
    })
    u(text)
  }

  /** TF-IDF over hashing-trick vectors: document frequency per bucket is
    * one aggregate over the corpus (partial+final, no per-term shuffle),
    * idf = ln((N+1)/(df+1))+1 (smoothed, the standard sklearn-published
    * formula), broadcast back as a literal vector.
    */
  def tfidf(docs: DataFrame, textCol: String = "text",
      dim: Int = 1024): DataFrame = {
    val withTf = docs.withColumn("_tf", hashingTf(col(textCol), dim))
    val n = docs.count()
    val dfRow = withTf
      .select(posexplode(col("_tf")).as(Seq("b", "v")))
      .filter(col("v") > 0)
      .groupBy("b").agg(count(lit(1)).as("df"))
      .collect()
    val dfCounts = new Array[Double](dim)
    dfRow.foreach(r => dfCounts(r.getAs[Int]("b")) = r.getAs[Long]("df").toDouble)
    val idf = dfCounts.map(d => math.log((n + 1.0) / (d + 1.0)) + 1.0)
    val idfCol = array(idf.map(lit): _*)
    withTf
      .withColumn("tfidf", zip_with(col("_tf"), idfCol, (t, i) => t * i))
      .drop("_tf")
  }

  /** Model-based quality filtering (the fasttext-style classifier pass of
    * public LLM-data pipelines, e.g. the CCNet/GPT-3 quality filters):
    * score = Σ_tokens w(bucket(token)) with the weight vector broadcast
    * to executors and applied in one map-side text pass — at 100 TB this
    * runs at scan speed with zero shuffle. Buckets reuse the
    * [[hashingTf]] tokenizer/hash; weights are integral so the raw score
    * is exact on any engine.
    *
    * The default weights are a DETERMINISTIC STAND-IN
    * ([[graft.functions.Hashing.qualityWeights]] — splitmix64 of the
    * bucket id; no trained model ships in this offline build). Pass real
    * trained coefficients via `weights` — the scoring path is identical.
    *
    * Output: (idCol, score_raw, n_toks, score = raw/max(n,1), keep).
    */
  def scoreLinear(docs: DataFrame, dim: Int = 1024, seed: Long = 42L,
      weights: Option[Array[Long]] = None, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = weights.getOrElse(graft.functions.Hashing.qualityWeights(dim, seed))
    require(w.length == dim, s"weight vector length ${w.length} != dim $dim")
    val u = udf((t: String) => graft.functions.Hashing.linearScore(t, w))
    docs
      .select(col(idCol), u(col(textCol)).as("_s"))
      .select(col(idCol),
        col("_s._1").as("score_raw"), col("_s._2").as("n_toks"))
      .withColumn("score",
        col("score_raw").cast("double") / greatest(col("n_toks"), lit(1L)))
      .withColumn("keep", col("score") >= 0.0)
  }

  /** C4-style line-level cleaning: inside each document, keep only lines
    * with ≥ `minWords` whitespace words that end in terminal punctuation
    * (. ! ?) — the published C4 rule that strips navigation stubs,
    * headings, and boilerplate fragments BEFORE document-level scoring.
    * Pure codegen'd expressions (split → filter(lambda) → array_join):
    * runs at scan speed map-side, and replays exactly in SQL (the q87
    * oracle) — trim/split/regex semantics agree across engines.
    *
    * Lines split on `\r?\n`, so CRLF corpora behave like LF ones: the
    * stray `\r` would otherwise defeat the `[.!?]$` anchor (Spark's trim
    * strips only spaces) and survive into the joined output. Output is
    * LF-normalized.
    */
  def cleanLines(text: Column, minWords: Int = 3,
      requireTerminal: Boolean = true): Column =
    array_join(filter(split(text, "\r?\n"),
      cleanLinePred(_, minWords, requireTerminal)), "\n")

  /** Count of lines [[cleanLines]] keeps (same predicate). */
  def cleanLineCount(text: Column, minWords: Int = 3,
      requireTerminal: Boolean = true): Column =
    size(filter(split(text, "\r?\n"), cleanLinePred(_, minWords, requireTerminal)))

  /** The C4 line predicate: ≥ minWords words, and (optionally — corpora
    * of prose want it, token-stream corpora don't) terminal punctuation.
    */
  private def cleanLinePred(l: Column, minWords: Int,
      requireTerminal: Boolean): Column = {
    val words = size(split(trim(l), "\\s+")) >= minWords
    if (requireTerminal) words && trim(l).rlike("[.!?]$") else words
  }

  /** Load a [[scoreLinear]] weight vector from a file — the production
    * shape: a trained classifier's coefficients ship as a tiny sidecar
    * next to the pipeline, not as code. Two formats:
    *
    *  - parquet (path contains ".parquet" or points at a directory of
    *    part files): rows of (bucket INT, weight LONG); missing buckets
    *    default to 0;
    *  - plain text: one integer weight per line, bucket = line number.
    *
    * Reads through the Hadoop FS API on the driver (any Spark-reachable
    * scheme), because the vector is dim entries (~8 KB at dim=1024) and
    * must arrive in index order — the scoring path then broadcasts it to
    * executors exactly like the in-memory variant.
    */
  def loadWeights(spark: org.apache.spark.sql.SparkSession, path: String,
      dim: Int = 1024): Array[Long] = {
    val w = new Array[Long](dim)
    if (path.contains(".parquet")) {
      spark.read.parquet(path).select(col("bucket").cast("int"),
          col("weight").cast("long"))
        .collect().foreach { r =>
          val b = r.getInt(0)
          require(b >= 0 && b < dim, s"weight bucket $b outside [0, $dim)")
          w(b) = r.getLong(1)
        }
    } else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try {
        val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toArray
        require(lines.length == dim,
          s"weight file has ${lines.length} lines, expected dim=$dim")
        var i = 0
        while (i < dim) { w(i) = lines(i).toLong; i += 1 }
      } finally in.close()
    }
    w
  }

  /** CCNet-style n-gram LM perplexity scoring: per document, sum the
    * (fixed-point integer) log-probabilities of its word bigrams under a
    * language model and average — the published recipe buckets a corpus
    * by this score and samples the mixture by bucket. Pure higher-order
    * expressions (words → bigram array → `aggregate` fold): map-side,
    * codegen'd, zero shuffle — a full-corpus scoring pass touches each
    * document once at scan speed.
    *
    * The default "model" is hash-derived: lp(a,b) = −500 −
    * (md5₃₂("lm#a#b") mod 4500), in millibels-ish fixed point — the
    * q90-oracle-replayable stand-in (exactly the q80 seed-weights
    * discipline: it gates the scoring machinery; linguistics ship as a
    * sidecar). [[scoreBigramLm]] takes a loaded table for real models
    * (same deployment shape as [[loadWeights]]/`Bpe.loadMerges`).
    */
  def bigramLogProb(a: Column, b: Column): Column =
    -(lit(500L) + conv(substring(md5(concat_ws("#", lit("lm"), a, b)), 1, 8),
      16, 10).cast("long") % 4500L)

  /** Shared bigram-fold plumbing of the LM scorers: (idCol, n_bigrams,
    * outCol = Σ score(wᵢ, wᵢ₊₁)). Documents with < 2 words fold to
    * (0, 0). NB: the bigram sequence is guarded by `when(size >= 2)` — a
    * bare sequence(1, size-1) would run DESCENDING for 1-word docs
    * (Spark's sequence(1, 0) is [1, 0]) and fabricate a bogus bigram.
    */
  private def bigramFold(docs: DataFrame, idCol: String, textCol: String,
      outCol: String, score: (Column, Column) => Column): DataFrame =
    docs
      .select(col(idCol), coalesce(words(col(textCol)), array()).as("_ws"))
      .withColumn("_bg", when(size(col("_ws")) >= 2,
        transform(sequence(lit(1), size(col("_ws")) - 1),
          i => struct(element_at(col("_ws"), i).as("a"),
            element_at(col("_ws"), i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>")))
      .select(col(idCol),
        size(col("_bg")).cast("long").as("n_bigrams"),
        coalesce(aggregate(col("_bg"), lit(0L),
          (acc, g) => acc + score(g("a"), g("b"))), lit(0L))
          .as(outCol))

  /** Per-document bigram-LM score projection: (idCol, n_bigrams, lp_sum,
    * mean_lp). mean_lp divides via the positive domain (lp is always
    * negative; truncating division on the negated sum is engine-portable
    * by construction). Documents with < 2 words score (0, 0, 0).
    */
  def perplexityScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bigramFold(docs, idCol, textCol, "lp_sum", bigramLogProb)
      .withColumn("mean_lp",
        when(col("n_bigrams") > 0,
          -expr("(-lp_sum) DIV n_bigrams")).otherwise(lit(0L)))

  /** DSIR-style importance weight contribution of one bigram (Xie et al.
    * 2023, arXiv 2302.03169): log p_target − log p_background under two
    * hashed n-gram bigram LMs. Both sides are the [[bigramLogProb]]
    * fixed-point hash-derived stand-ins (salts `dsir_t` / `dsir_b` — the
    * q80/q90 seed-model discipline: gates the machinery; real target and
    * background LMs ship as sidecars via [[scoreBigramLm]]-shaped tables).
    */
  def dsirLogRatio(a: Column, b: Column): Column = {
    def lp(salt: String): Column =
      -(lit(500L) + conv(substring(
        md5(concat_ws("#", lit(salt), a, b)), 1, 8), 16, 10)
        .cast("long") % 4500L)
    lp("dsir_t") - lp("dsir_b")
  }

  /** Per-document DSIR importance weight: (idCol, n_bigrams, weight =
    * Σ log p_target/p_background over word bigrams). Pure map-side fold
    * — a full-corpus scoring pass touches each document once.
    */
  def dsirWeights(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bigramFold(docs, idCol, textCol, "weight", dsirLogRatio)

  /** DSIR data selection: the `n` highest-importance documents
    * (deterministic tie-break by id). The published recipe samples
    * ∝ importance with Gumbel top-k; the deterministic top-n is the
    * engine-portable form (integer weights, total order). Scale shape:
    * map-side scoring + `orderBy().limit(n)` — Catalyst plans a
    * TakeOrderedAndProject (per-partition bounded heaps, one tiny final
    * merge on the driver), never a global sort shuffle.
    */
  def dsirSelect(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    dsirWeights(docs, idCol, textCol)
      .orderBy(col("weight").desc, col(idCol))
      .limit(n)

  /** [[perplexityScore]] with a LOADED bigram table (pairs absent from
    * the table score `unkLp`) — the production path for a real trained
    * LM shipped as a sidecar; the table (≤ a few M entries) rides to
    * executors in the task closure.
    */
  def scoreBigramLm(docs: DataFrame, lm: Map[(String, String), Long],
      unkLp: Long, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val u = udf { (t: String) =>
      if (t == null) (0L, 0L)
      else {
        val ws = t.toLowerCase(java.util.Locale.ROOT)
          .split("[^a-z0-9']+").filter(_.nonEmpty)
        var s = 0L; var i = 0
        while (i < ws.length - 1) { s += lm.getOrElse((ws(i), ws(i + 1)), unkLp); i += 1 }
        (math.max(ws.length - 1, 0).toLong, s)
      }
    }
    docs.select(col(idCol), u(col(textCol)).as("_s"))
      .select(col(idCol), col("_s._1").as("n_bigrams"), col("_s._2").as("lp_sum"))
      .withColumn("mean_lp",
        when(col("n_bigrams") > 0,
          -expr("(-lp_sum) DIV n_bigrams")).otherwise(lit(0L)))
  }

  /** Corpus bigram counts, highest-frequency first — the TRAINING half
    * of the bigram-LM loop: count word bigrams over a reference corpus,
    * persist as a sidecar, derive log-probs offline, and score with
    * [[scoreBigramLm]]. Output: (a, b, n) for the `topN` most frequent
    * bigrams (ties: smaller (a, b) first).
    *
    * Scale shape: the count is partial-aggregated map-side on (a, b)
    * word pairs and the top-n is `orderBy().limit(n)` —
    * TakeOrderedAndProject, bounded per-partition heaps, no global
    * sort. Vocabulary-squared cardinality never materializes anywhere
    * but the (already tiny) aggregate state.
    */
  def bigramCounts(docs: DataFrame, topN: Int,
      textCol: String = "text"): DataFrame =
    docs
      .select(coalesce(words(col(textCol)), array()).as("_ws"))
      .filter(size(col("_ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("_ws")) - 1),
        i => struct(element_at(col("_ws"), i).as("a"),
          element_at(col("_ws"), i + 1).as("b")))).as("_g"))
      .groupBy(col("_g.a").as("a"), col("_g.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(topN)

  /** Exact CCNet tercile thresholds from the corpus itself — the
    * derivation step [[ccnetSample]]'s contract defers to ("compute them
    * once offline"): rank every document by (mean_lp, id) with the
    * two-phase exact global row number ([[graft.operators.Ranking
    * .withGlobalRowNumber]] — range-bucketed, NO global window) and read
    * off the scores at descending positions ⌈N/3⌉ and ⌈2N/3⌉. Feeding
    * the result into `ccnetSample(headLp, tailLp)` reproduces CCNet's
    * head/middle/tail split exactly, at any corpus size.
    *
    * Output: one row (n_docs, head_lp, tail_lp); `mean_lp ≥ head_lp` ⇒
    * head (≥ N/3 docs, ties included), `≥ tail_lp` ⇒ middle.
    */
  def pplTerciles(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ranked = graft.operators.Ranking.withGlobalRowNumber(
      perplexityScore(docs, idCol, textCol), Seq("mean_lp", idCol))
    val headRank = col("gn") - expr("(gn + 2) DIV 3") + 1
    val tailRank = col("gn") - expr("(2 * gn + 2) DIV 3") + 1
    ranked.filter(col("grank") === headRank || col("grank") === tailRank)
      .groupBy()
      .agg(max(col("gn")).as("n_docs"),
        max(when(col("grank") === headRank, col("mean_lp"))).as("head_lp"),
        max(when(col("grank") === tailRank, col("mean_lp"))).as("tail_lp"))
  }

  /** The full CCNet curation composition: perplexity-score the corpus
    * ([[perplexityScore]]), bucket head/middle/tail by mean log-prob
    * thresholds (CCNet buckets by LM-perplexity terciles; thresholds are
    * explicit here so the split is a deterministic function of the score,
    * not a second quantile pass — compute them once offline or with
    * `approxQuantile`), and keep a per-bucket fraction via the map-side
    * seeded sampler ([[Dedup.weightedSample]]). End to end this is one
    * scan: score, bucket, and sample are all row-local expressions.
    */
  def ccnetSample(docs: DataFrame, headLp: Long, tailLp: Long,
      fractions: Map[String, Double], seed: Long = 0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(headLp >= tailLp, s"headLp $headLp must be >= tailLp $tailLp")
    val bucketed = perplexityScore(docs, idCol, textCol)
      .withColumn("ppl_bucket",
        when(col("mean_lp") >= headLp, "head")
          .when(col("mean_lp") >= tailLp, "middle")
          .otherwise("tail"))
    Dedup.weightedSample(bucketed, "ppl_bucket", fractions,
      default = 1.0, seed = seed, idCol = idCol)
  }

  /** Gopher-rules document quality filter (Rae et al. 2021, arXiv
    * 2112.11446 appendix A1.1 — the published MassiveWeb heuristics).
    * Every rule is an INTEGER-ratio comparison (`10·bullets ≤ 9·lines`
    * instead of `bullets/lines ≤ 0.9`), so there is no float anywhere
    * and the DuckDB oracle replays each flag exactly.
    *
    * Rules (flag true = passes):
    *  - `r_word_count`: 50 ≤ words ≤ 100 000
    *  - `r_word_len`:   mean word length in [3, 10] chars
    *  - `r_symbol`:     hash signs ≤ 0.1 × words, and non-overlapping
    *    "..." ≤ 0.1 × words (Rae et al. bound each symbol separately)
    *  - `r_bullet`:     ≤ 90% of lines start with a bullet (`- ` / `* `)
    *  - `r_ellipsis`:   ≤ 30% of lines end with "..."
    *  - `r_alpha`:      ≥ 80% of words contain an alphabetic character
    *  - `r_stop`:       ≥ 2 distinct Gopher stopwords
    *    (`TextKernels.gopherStops`) present
    *  - `pass`:         all of the above
    *
    * Output: (idCol, carry…, n_words, n_word_chars, n_lines, the seven
    * flags, pass); the counts are longs.
    *
    * One native UTF-8 pass per row ([[graft.plans.GopherRules]]) reads
    * the counts and computes every flag and `pass`, so
    * `filter(col("pass"))` pushed below this projection calls the kernel
    * once per row. Words are the shared [[words]] tokenizer's (oracle
    * agreement by construction); lines split on `\r?\n` (the q87 CRLF
    * discipline); null text reads as "".
    */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", carry: Seq[String] = Nil): DataFrame = {
    val k = graft.plans.GraftExtensions.gopherRulesNative(
      coalesce(col(textCol), lit("")))
    docs.select(col(idCol) +: carry.map(col) ++:
      graft.plans.GopherRules.schema.fieldNames.toSeq.map(f => k.getField(f).as(f)): _*)
  }

  /** Intra-document line deduplication (RefinedWeb-style boilerplate
    * removal): keep each document's FIRST occurrence of every exact
    * line, preserving order — repeated nav/footer/boilerplate lines
    * collapse to one. Map-side only, NO shuffle, two per-row paths with
    * identical output:
    *
    *  - docs at or under `spark.graft.lineDedup.maxExprLines` lines
    *    (default 10 000) run a pure expression fold over the line array
    *    (seen-set = the kept prefix itself) — codegen'd scan speed, but
    *    O(lines²) membership checks;
    *  - longer docs route through a hash-set kernel UDF (insertion-
    *    ordered set, O(lines)) — the per-row analog of the bucket-size
    *    skew caps elsewhere: one pathological many-line document must
    *    not own a task for hours. `when()` picks the branch per row, so
    *    the quadratic fold never executes for routed rows.
    *
    * The q101 oracle cross-validates against an independent relational
    * formulation (min-position per line + ordered re-aggregation); a
    * property spec pins path agreement on seeded corpora.
    *
    * Output: (idCol, clean_text LF-joined, n_lines_in, n_lines_kept).
    * Lines split on `\r?\n` (the q87 CRLF discipline).
    */
  def dedupLinesWithinDoc(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val maxExprLines = docs.sparkSession.conf
      .get("spark.graft.lineDedup.maxExprLines", "10000").toInt
    val keptKernel = udf { (ls: Seq[String]) =>
      val seen = new java.util.LinkedHashSet[String]
      ls.foreach(seen.add)
      val out = Seq.newBuilder[String]
      seen.forEach(l => out += l)
      out.result()
    }
    docs
      .select(col(idCol),
        split(coalesce(col(textCol), lit("")), "\r?\n").as("_ls"))
      .withColumn("_kept",
        when(size(col("_ls")) <= maxExprLines,
          aggregate(col("_ls"),
            array().cast("array<string>"),
            (acc, l) => when(array_contains(acc, l), acc)
              .otherwise(concat(acc, array(l)))))
        .otherwise(keptKernel(col("_ls"))))
      .select(col(idCol),
        array_join(col("_kept"), "\n").as("clean_text"),
        size(col("_ls")).cast("long").as("n_lines_in"),
        size(col("_kept")).cast("long").as("n_lines_kept"))
  }

  /** Corpus-level boilerplate-line removal (the CCNet paragraph-dedup /
    * RefinedWeb line-correction step): a line occurring in at least
    * `minDocs` DISTINCT documents is boilerplate (nav bars, footers,
    * cookie banners) and is removed from EVERY document — including its
    * first occurrence, which is what distinguishes this from the
    * first-copy-wins segment dedup ([[graft.operators.Dedup]]). A line
    * repeated many times WITHIN one document is NOT boilerplate here
    * (the count is distinct-docs); [[dedupLinesWithinDoc]] handles that
    * axis.
    *
    * Scale shape: lines travel as 16-byte md5 digests for the
    * distinct-doc count (full text never shuffles into the count). The
    * rebuild has two paths with identical output:
    *
    *  - the hot LEXICON is usually tiny even when hot HITS are huge
    *    (one footer shared by 10⁹ docs is one digest), so when it fits
    *    [[Gates]] (checked with a bounded count) the digest set
    *    broadcasts and each doc drops its hot lines row-locally — the
    *    corpus is NEVER shuffled;
    *  - past the cap, hot hits regroup per doc (rows ∝ hits) and the
    *    corpus joins them on the id — one corpus hash-partition, the
    *    unavoidable exact fallback for a boilerplate lexicon too big
    *    to broadcast.
    *
    * Output: (idCol, clean_text LF-joined, n_lines_in, n_lines_kept);
    * `\r?\n` splits (the q87 CRLF discipline).
    */
  def removeBoilerplateLines(docs: DataFrame, minDocs: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs $minDocs must be >= 2 (1 would empty the corpus)")
    val lines = docs.select(col(idCol),
        explode(split(coalesce(col(textCol), lit("")), "\r?\n")).as("_line"))
      .select(col(idCol), md5(col("_line")).as("_ld"))
    val hot = lines.groupBy("_ld")
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select("_ld")
    val splitCol = split(coalesce(col(textCol), lit("")), "\r?\n")
    val broadcastMax = Gates.maxRows(hot)
    val hotCount = hot.limit(broadcastMax + 1).count()
    val withKept =
      if (hotCount <= broadcastMax) {
        // broadcast path: hot digests ride a broadcast, the filter is a
        // row-local kernel — zero shuffle touches the corpus
        val bc = docs.sparkSession.sparkContext
          .broadcast(hot.as(org.apache.spark.sql.Encoders.STRING).collect().toSet)
        val keepU = udf { (ls: Seq[String]) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          ls.filterNot { l =>
            md.reset()
            val hex = md.digest(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map("%02x".format(_)).mkString
            bc.value.contains(hex)
          }
        }
        docs.withColumn("_ls", splitCol).withColumn("_kept", keepU(col("_ls")))
      } else {
        val hits = lines.join(hot, Seq("_ld"), "semi")
          .groupBy(idCol).agg(collect_set(col("_ld")).as("_hot"))
        docs.join(hits, Seq(idCol), "left")
          .withColumn("_ls", splitCol)
          .withColumn("_kept", when(col("_hot").isNull, col("_ls"))
            .otherwise(filter(col("_ls"),
              l => !array_contains(col("_hot"), md5(l)))))
      }
    withKept.select(col(idCol),
      array_join(col("_kept"), "\n").as("clean_text"),
      size(col("_ls")).cast("long").as("n_lines_in"),
      size(col("_kept")).cast("long").as("n_lines_kept"))
  }

  /** Canonical URL normalization for URL-level dedup (the C4 /
    * RefinedWeb first-pass dedup key) — pure expressions, map-side:
    *
    *  1. strip the scheme (`http://`, `HTTPS://`, any `x+y-z://`);
    *  2. strip the `#fragment`;
    *  3. split base / query at the FIRST `?`;
    *  4. lowercase the HOST (path case is preserved) and strip a
    *     leading `www.`;
    *  5. strip trailing `/` runs from the path;
    *  6. drop tracking params (`utm_*`, `fbclid`), sort the remainder
    *     byte-lexicographically, rejoin with `&`.
    *
    * ASCII URLs normalize identically in Spark and DuckDB (the q111
    * oracle replays every step); a query value containing a literal
    * `?` keeps everything after the first one in the query part.
    */
  def urlNormalize(url: Column): Column = {
    val noScheme = regexp_replace(url, "(?i)^[a-z][a-z0-9+.-]*://", "")
    val noFrag = regexp_replace(noScheme, "#.*$", "")
    val qpos = locate("?", noFrag)
    val base = when(qpos > 0, noFrag.substr(lit(1), qpos - 1)).otherwise(noFrag)
    val query = when(qpos > 0, noFrag.substr(qpos + 1, length(noFrag))).otherwise(lit(""))
    val spos = locate("/", base)
    val host0 = when(spos > 0, base.substr(lit(1), spos - 1)).otherwise(base)
    val path0 = when(spos > 0, base.substr(spos, length(base))).otherwise(lit(""))
    val host = regexp_replace(lower(host0), "^www\\.", "")
    val path = regexp_replace(path0, "/+$", "")
    val params = array_sort(filter(split(query, "&"),
      p => !p.rlike("^(utm_|fbclid(=|$))") && p =!= ""))
    concat(host, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
  }

  /** Registered-domain heuristic for domain-level curation (RefinedWeb's
    * blocklist filter / per-domain cap key): scheme strip → host = up to
    * the first `/` → lowercase → strip leading `www.` → last two
    * dot-labels (`news.example.test` → `example.test`; a single-label
    * host is returned whole). Pure expressions, map-side. A real
    * pipeline substitutes a public-suffix list for the last-two-labels
    * heuristic (`co.uk` etc.); the heuristic is documented and
    * oracle-replayed — the plumbing, not the suffix table, is the
    * operator.
    */
  def urlDomain(url: Column): Column = {
    val noScheme = regexp_replace(url, "(?i)^[a-z][a-z0-9+.-]*://", "")
    val noQuery = regexp_replace(noScheme, "[#?].*$", "")
    val spos = locate("/", noQuery)
    val host0 = when(spos > 0, noQuery.substr(lit(1), spos - 1)).otherwise(noQuery)
    val host = regexp_replace(lower(host0), "^www\\.", "")
    regexp_extract(host, "([^.]+\\.)?[^.]+$", 0)
  }

  /** One-scan corpus health report, grouped by a corpus label (source /
    * domain / shard): doc count, word and word-char totals, and how many
    * docs clear the full Gopher gate. The projection is [[gopherRules]]
    * (codegen'd, map-side) and the aggregate is partial-aggregated on
    * the label — cardinality = number of distinct labels, so the result
    * is dashboard-sized however big the corpus is.
    */
  /** Stupid-backoff trigram LM held-out scoring (Brants et al. 2007 —
    * the web-scale LM that dropped normalization so counts alone
    * suffice): score documents against n-gram counts from a TRAINING
    * split, with the published backoff chain per scored token w₃ after
    * context (w₁, w₂):
    *   tier 3: c(w₁w₂w₃) > 0 → S = c(w₁w₂w₃)/c(w₁w₂)
    *   tier 2: c(w₂w₃)   > 0 → S = 0.4·c(w₂w₃)/c(w₂)
    *   tier 1: c(w₃)     > 0 → S = 0.4²·c(w₃)/N
    *   else out-of-vocabulary: token skipped, counted in n_oov.
    * Log-scores in the shared Q12 integer kernel: each tier is a sum/
    * difference of lnQ12 values (0.4 = lnQ12(2) − lnQ12(5)) — an exact
    * BIGINT per token, summed per document. No libm, no floats; the
    * oracle replays counts + the recursive log CTE verbatim (q220).
    * Output per scored doc: (idCol, n_scored, n_oov, score_q12).
    *
    * Scale shape: count tables are one partial-agg'd groupBy each; the
    * scored token stream joins them on n-gram string keys (plain hash
    * joins — n-gram tables can exceed broadcast range); one broadcast
    * 1-row N; one per-doc aggregation.
    */
  def stupidBackoffScore(train: DataFrame, score: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    def withWords(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+ words(coalesce(col(textCol), lit(""))).as("_ws"): _*)
    val tr = Dedup.materialize(withWords(train, Nil))
    val ttok = tr.select(explode(col("_ws")).as("_w"))
    val uni = ttok.groupBy("_w").agg(count(lit(1)).as("_c1"))
    val nTot = ttok.agg(count(lit(1)).as("_n"))
    val nm1 = greatest(size(col("_ws")) - 1, lit(0))
    val big = tr.select(explode(zip_with(
        slice(col("_ws"), lit(1), nm1), slice(col("_ws"), lit(2), nm1),
        (a, b) => struct(a.as("wa"), b.as("wb")))).as("_p"))
      .groupBy(col("_p.wa").as("_wa"), col("_p.wb").as("_wb"))
      .agg(count(lit(1)).as("_c2"))
    val triExpr = "CASE WHEN size(_ws) >= 3 THEN " +
      "transform(sequence(0, size(_ws)-3), i -> struct(" +
      "element_at(_ws, i+1) AS w1, element_at(_ws, i+2) AS w2, " +
      "element_at(_ws, i+3) AS w3)) ELSE " +
      "CAST(array() AS array<struct<w1:string,w2:string,w3:string>>) END"
    val tri = tr.select(explode(expr(triExpr)).as("_t"))
      .groupBy(col("_t.w1").as("_w1"), col("_t.w2").as("_w2"),
        col("_t.w3").as("_w3"))
      .agg(count(lit(1)).as("_c3"))
    val sc = withWords(score, Seq(col(idCol).cast("long").as("_id")))
    val stream = sc.select(col("_id"), explode(expr(triExpr)).as("_t"))
      .select(col("_id"), col("_t.w1").as("w1"), col("_t.w2").as("w2"),
        col("_t.w3").as("w3"))
    val l04 = lnQ12Native(lit(2L)) - lnQ12Native(lit(5L))
    val scored = stream
      .join(tri, col("w1") === col("_w1") && col("w2") === col("_w2") &&
        col("w3") === col("_w3"), "left").drop("_w1", "_w2", "_w3")
      .join(big.select(col("_wa"), col("_wb"), col("_c2").as("_c2s")),
        col("w1") === col("_wa") && col("w2") === col("_wb"), "left")
      .drop("_wa", "_wb")
      .join(big.select(col("_wa"), col("_wb"), col("_c2").as("_c2n")),
        col("w2") === col("_wa") && col("w3") === col("_wb"), "left")
      .drop("_wa", "_wb")
      .join(uni.select(col("_w"), col("_c1").as("_c1p")),
        col("w2") === col("_w"), "left").drop("_w")
      .join(uni.select(col("_w"), col("_c1").as("_c1w")),
        col("w3") === col("_w"), "left").drop("_w")
      .crossJoin(nTot)
      .withColumn("_t_q12",
        when(col("_c3").isNotNull,
          lnQ12Native(col("_c3")) - lnQ12Native(col("_c2s")))
        .when(col("_c2n").isNotNull,
          l04 + lnQ12Native(col("_c2n")) - lnQ12Native(col("_c1p")))
        .when(col("_c1w").isNotNull,
          lit(2L) * l04 + lnQ12Native(col("_c1w")) - lnQ12Native(col("_n"))))
      .groupBy(col("_id"))
      .agg(count(col("_t_q12")).as("n_scored"),
        sum(when(col("_t_q12").isNull, 1L).otherwise(0L)).as("n_oov"),
        coalesce(sum("_t_q12"), lit(0L)).as("score_q12"))
    sc.select(col("_id"))
      .join(scored, Seq("_id"), "left")
      .na.fill(0L, Seq("n_scored", "n_oov", "score_q12"))
      .select(col("_id").as(idCol), col("n_scored"), col("n_oov"),
        col("score_q12"))
  }

  /** Vocabulary coverage curve — the tokenizer-planning readout "what
    * share of corpus tokens does a top-K vocabulary cover": word
    * counts from the shared [[words]] kernel, vocabulary ranked
    * (count DESC, word ASC) by the TWO-PHASE global row number (never
    * a partition-less window over the vocab), cumulative coverage at
    * each requested K as exact integers and a floor-division permille.
    * Output: one row per K — (k, n_covered, total_tokens, vocab_size,
    * coverage_permille).
    *
    * Scale shape: one explode + one partial-agg'd groupBy(word), then
    * [[Ranking.withGlobalRowNumber]]'s range-bucketed rank (driver
    * sees ≤ numBuckets offset rows) and ONE global aggregate.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(100, 1000, 10000),
      textCol: String = "text"): DataFrame = {
    val wcnt = docs
      .select(explode(words(coalesce(col(textCol), lit("")))).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_c"))
      .withColumn("_nc", -col("_c"))
    val ranked = Ranking.withGlobalRowNumber(wcnt, Seq("_nc", "_w"))
    val covs = ks.map(k =>
      coalesce(sum(when(col("grank") <= k, col("_c"))), lit(0L))
        .as(s"_cov$k"))
    val one = ranked.agg(sum("_c").as("_tot"), (max("gn").as("_vocab") +: covs): _*)
    val stackArgs = ks.map(k => s"${k}L, _cov$k").mkString(", ")
    one.selectExpr(
        s"stack(${ks.size}, $stackArgs) as (k, n_covered)",
        "_tot as total_tokens", "_vocab as vocab_size")
      .withColumn("coverage_permille",
        expr("(1000 * n_covered) div total_tokens"))
      .orderBy("k")
  }

  /** Pointwise-mutual-information collocations — the corpus-scale
    * "which word pairs belong together" miner (phrase detection for
    * tokenizer vocab planning, NER gazetteer seeding). For adjacent
    * word pairs with pair count ≥ `minCount`:
    *   PMI = ln( (c_ab/B) / ((c_a/N)·(c_b/N)) ) = ln(c_ab·N² / (c_a·c_b·B))
    * computed as lnQ12(c_ab·N²) − lnQ12(c_a·c_b·B) over the shared
    * integer log kernel ([[graft.functions.FixedMath.lnQ12]]) — an
    * exact BIGINT at 10⁻¹², no libm, replayed verbatim by the oracle's
    * recursive CTE (the q199/q202 discipline). Long-range bound:
    * c_ab·N² must fit int64 — holds to N ≈ 2·10⁶ tokens; beyond that
    * pre-scale the counts (divide all four by a common factor) before
    * the kernel.
    *
    * Scale shape: one token explode + two partial-agg'd groupBys
    * (unigrams, bigrams), two vocabulary-keyed joins, a broadcast
    * 1-row scalar, and TakeOrderedAndProject for the top-N — never a
    * global sort.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, topN: Int = 20,
      textCol: String = "text"): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    val ws = words(coalesce(col(textCol), lit("")))
    val base = Dedup.materialize(docs.select(ws.as("_ws")))
    val uni = base.select(explode(col("_ws")).as("_w"))
    val ucnt = uni.groupBy("_w").agg(count(lit(1)).as("_c"))
    val nm1 = greatest(size(col("_ws")) - 1, lit(0))
    val bi = base.select(explode(zip_with(
        slice(col("_ws"), lit(1), nm1), slice(col("_ws"), lit(2), nm1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    val bcnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val scal = uni.agg(count(lit(1)).as("_n"))
      .crossJoin(bi.agg(count(lit(1)).as("_bt")))
    bcnt
      .join(ucnt.select(col("_w").as("w1"), col("_c").as("n_w1")), "w1")
      .join(ucnt.select(col("_w").as("w2"), col("_c").as("n_w2")), "w2")
      .crossJoin(scal)
      .withColumn("pmi_q12",
        lnQ12Native(col("n_pair") * col("_n") * col("_n")) -
          lnQ12Native(col("n_w1") * col("n_w2") * col("_bt")))
      .select("w1", "w2", "n_pair", "n_w1", "n_w2", "pmi_q12")
      .orderBy(col("pmi_q12").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Flesch–Kincaid grade level per document, on the integer-exact
    * discipline: word count from the shared [[words]] kernel, sentence
    * count = word-bearing `[.!?]+` segments, syllables = `[aeiouy]+`
    * runs per word (min 1) — all exact integers — and the grade
    *   0.39·W/S + 11.8·Y/W − 15.59
    * emitted as ONE IEEE division of exact integers:
    * (39·W² + 1180·Y·S − 1559·S·W) / (100·S·W), identical on any
    * engine (the q136/q157 scaled-integer-quotient rule). Wordless
    * docs get a NULL grade (W > 0 implies S ≥ 1 and Y ≥ W, so no other
    * guard is needed). One scan, map-side, zero shuffle.
    */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    // _ws materialized (HOFs are outside codegen CSE — inline, nW and
    // nY would each re-tokenize); syllables via the native byte-wise
    // vowel-run kernel — the HOF regexp_extract_all form paid a regex
    // Matcher + match-array allocation PER WORD, the worst hot path
    // an r14 100× sweep found (>20 min for the 5M-doc corpus)
    val nS = size(filter(split(lower(t), "[.!?]+"),
      s => s.rlike("[a-z0-9]"))).cast("long")
    docs
      .withColumn("_rd_ws", words(t))
      .select(col(idCol), size(col("_rd_ws")).cast("long").as("n_words"),
        nS.as("n_sentences"),
        graft.plans.GraftExtensions.syllableSumNative(col("_rd_ws"))
          .as("n_syllables"))
      .withColumn("fk_grade",
        when(col("n_words") === 0L, lit(null).cast("double"))
          .otherwise(
            (lit(39L) * col("n_words") * col("n_words") +
              lit(1180L) * col("n_syllables") * col("n_sentences") -
              lit(1559L) * col("n_sentences") * col("n_words"))
              .cast("double") /
            (lit(100L) * col("n_sentences") * col("n_words"))))
  }

  def corpusReport(docs: DataFrame, keyCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    gopherRules(docs, idCol, textCol, carry = Seq(keyCol))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_word_chars").as("n_word_chars"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_gopher_pass"))

  /** Context-window chunking: split each document's word sequence into
    * windows of `win` words advancing by `stride` (overlap = win −
    * stride) — the standard training-example prep ahead of
    * [[graft.operators.Packing]]. Chunk starts are 0, stride, 2·stride,
    * … while < |words|, so every word is covered and trailing chunks may
    * be short; empty documents emit no rows.
    *
    * Scale shape: one generator (`posexplode` of the start sequence) per
    * document, row-local slicing — map-side only, output rows ≈
    * |corpus|·(mean words/stride), no shuffle. Output: (idCol, chunk_id,
    * chunk_start, n_chunk_words, chunk_text), chunk_id = chunk_start /
    * stride.
    */
  def chunkByWords(docs: DataFrame, win: Int = 50, stride: Int = 40,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(win > 0 && stride > 0, s"win $win / stride $stride must be > 0")
    docs
      .select(col(idCol), coalesce(words(col(textCol)), array()).as("_ws"))
      .filter(size(col("_ws")) > 0)
      .select(col(idCol), col("_ws"),
        posexplode(sequence(lit(0), size(col("_ws")) - 1, lit(stride)))
          .as(Seq("_pos", "chunk_start")))
      .withColumn("_chunk", slice(col("_ws"), col("chunk_start") + 1, lit(win)))
      .select(col(idCol),
        expr(s"chunk_start DIV $stride").cast("long").as("chunk_id"),
        col("chunk_start").cast("long").as("chunk_start"),
        size(col("_chunk")).cast("long").as("n_chunk_words"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  /** Full document-analysis projection over a documents table. The
    * words array (read by the language ID and the fingerprint) and the
    * features struct (read by the score too) are columns of their own:
    * a non-cheap alias referenced twice survives CollapseProject, so
    * each evaluates once per row.
    */
  def analyze(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("_an_ws", words(col(textCol)))
      .withColumn("_an_q", qualityFeatures(col(textCol)))
      .select(
        col(idCol),
        coalesce(graft.plans.GraftExtensions.langIdNative(col("_an_ws")),
          lit("und")).as("lang_pred"),
        tokenCountWs(col(textCol)).cast("long").as("n_tokens_ws"),
        tokenCountBpe(col(textCol)).cast("long").as("n_tokens_bpe"),
        col("_an_q").as("quality"),
        qualityScoreFromFeatures(col("_an_q")).as("quality_score"),
        fingerprintFromWords(col("_an_ws")).as("fingerprint"))

  /** N-gram novelty score against a reference corpus: per document,
    * how many of its DISTINCT word-`n`-grams do NOT occur anywhere in
    * the reference — the additive complement of decontamination
    * ([[graft.operators.Dedup.decontaminate]] asks "does it overlap a
    * benchmark at all"; this asks "how much of it is new next to what
    * we already have" — the memorization/novelty signal behind
    * dedup-aware data valuation). Returns (idCol, n_grams, n_novel,
    * novelty_permille) with the permille an exact integer
    * ⌊1000·n_novel/n_grams⌋; gram-less docs score NULL.
    *
    * Scale shape: unlike the benchmark-decontamination case the
    * reference here is CORPUS-sized (a prior snapshot, the rest of the
    * corpus), so its distinct-gram table is NOT broadcast — both sides
    * shuffle on the 8-byte `xxhash64(gram)` key (`hashGrams=true`) and
    * the join is a plain shuffle hash/merge join; the per-doc count is
    * partial-aggregated on doc ids. The oracle-checked query uses
    * `hashGrams=false` so DuckDB replays the join on raw strings.
    */
  def ngramNovelty(docs: DataFrame, reference: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      hashGrams: Boolean = true): DataFrame = {
    def grams(df: DataFrame, keep: Seq[String]): DataFrame = df
      .withColumn("_nn_ws", words(col(textCol))) // one tokenize
      .select(keep.map(col) :+
        explode(array_distinct(wordNgramsFromWords(col("_nn_ws"), n)))
          .as("_g"): _*)
      .select(keep.map(col) :+
        (if (hashGrams) xxhash64(col("_g")) else col("_g")).as("_gram"): _*)
    val ref = grams(reference, Nil).distinct()
      .withColumn("_hit", lit(1))
    val perDoc = grams(docs, Seq(idCol))
      .join(ref, Seq("_gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("n_novel"))
    docs.select(idCol).join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_novel"))
      .withColumn("novelty_permille",
        when(col("n_grams") === 0L, lit(null).cast("long"))
          .otherwise(expr("1000 * n_novel DIV n_grams")))
  }

  /** Spelling-variant mining: pairs of VOCABULARY words within edit
    * distance `maxDist` of each other, with their corpus frequencies —
    * the dictionary pass behind OCR-noise cleanup and typo-normalization
    * maps (fold low-frequency variants into their high-frequency
    * neighbor).
    *
    * Scale shape: the fuzzy self-join runs on the DISTINCT word
    * vocabulary, never the corpus — vocabulary grows ~Heaps-law
    * sublinearly while the corpus grows linearly, so the quadratic
    * kernel stays bounded. Blocking = (first character, length band
    * |Δlen| ≤ maxDist): equi-join on the first char, the length band as
    * a join residual — a true edit-distance-≤-d pair can never differ
    * in length by more than d, so blocking loses only first-character
    * edits (the standard prefix-blocking trade-off; widen `prefixLen`
    * to 0 to disable). Frequencies ride along from the vocab agg; no
    * second corpus pass.
    */
  def spellingVariantPairs(docs: DataFrame, textCol: String = "text",
      maxDist: Int = 2, minWordLen: Int = 4): DataFrame = {
    require(maxDist >= 1, s"maxDist $maxDist must be >= 1")
    val vocab = docs
      .select(explode(words(coalesce(col(textCol), lit("")))).as("wd"))
      .filter(length(col("wd")) >= minWordLen)
      .groupBy("wd").agg(count(lit(1)).as("n"))
    val a = vocab.select(col("wd").as("word_a"), col("n").as("n_a"),
      substring(col("wd"), 1, 1).as("_blk"))
    val b = vocab.select(col("wd").as("word_b"), col("n").as("n_b"),
      substring(col("wd"), 1, 1).as("_blk"))
    a.join(b, Seq("_blk"))
      .filter(col("word_a") < col("word_b") &&
        abs(length(col("word_a")) - length(col("word_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("word_a"), col("word_b")))
      .filter(col("dist").between(1, maxDist))
      .select(col("word_a"), col("word_b"), col("dist"),
        col("n_a"), col("n_b"))
  }

  /** Code-switching / mixed-language detection: [[langId]] votes per
    * LINE, then per document the majority language, the count of
    * distinct detected languages, the vote-distribution entropy, and a
    * `mixed` flag — doc-level langid (q23) averages the signal away;
    * line-level voting is how real crawls surface half-translated
    * pages, bilingual forums, and template wrappers worth routing to
    * per-language pipelines.
    *
    * Integer discipline: entropy_q12 = ⌊Σ cᵢ·(L(n) − L(cᵢ)) / n⌋ with
    * L = [[graft.functions.FixedMath.lnQ12]] (the q199 entropy form —
    * codegen'd, engine-exact); `mixed` = (≥ 2 languages AND the
    * runner-up holds ≥ ⅛ of voting lines), an integer cross-multiply.
    * Lines that vote "und" (no marker hits) are abstentions. Majority
    * ties break alphabetically.
    *
    * Scale shape: explode-to-lines is a map-side generator; votes
    * aggregate per (doc, lang) — ≤ 7 rows per doc — and every later
    * step joins doc-bounded tables; no window over the corpus.
    */
  def codeSwitch(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol), explode(split(col(textCol), "\n")).as("_l"))
      .filter(trim(col("_l")) =!= "")
    // materialized: four readouts (totals, entropy, majority, runner-
    // up) branch off this table — un-materialized, each branch re-runs
    // the line-explode + langId corpus scan; the cells are ≤|docs|·6
    // rows, doc-scale
    val votes = Dedup.materialize(lines
      .select(col(idCol), langId(col("_l")).as("_lang"))
      .filter(col("_lang") =!= "und")
      .groupBy(col(idCol), col("_lang"))
      .agg(count(lit(1)).as("_c")))
    val tot = votes.groupBy(idCol)
      .agg(sum("_c").as("_n"), count(lit(1)).as("n_langs"))
    def ln(c: Column) = graft.plans.GraftExtensions.lnQ12Native(c)
    val ent = votes.join(tot, Seq(idCol))
      .withColumn("_term", col("_c") * (ln(col("_n")) - ln(col("_c"))))
      .groupBy(idCol)
      .agg(sum("_term").as("_num"))
    val maj = votes
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("_c").desc, col("_lang"))))
      .filter(col("_r") === 1)
      .select(col(idCol), col("_lang").as("majority_lang"))
    val sec = votes.join(maj, Seq(idCol))
      .filter(col("_lang") =!= col("majority_lang"))
      .groupBy(idCol)
      .agg(max("_c").as("_sec"))
    docs.select(col(idCol))
      .join(tot, Seq(idCol), "left")
      .join(maj, Seq(idCol), "left")
      .join(ent, Seq(idCol), "left")
      .join(sec, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_voting_lines"),
        coalesce(col("majority_lang"), lit("und")).as("majority_lang"),
        coalesce(col("n_langs"), lit(0L)).as("n_langs"),
        coalesce(expr("_num DIV _n"), lit(0L)).as("entropy_q12"),
        coalesce(col("n_langs") >= 2 && lit(8L) * col("_sec") >= col("_n"),
          lit(false)).as("mixed"))
  }

  /** Zipf profile of the corpus token distribution: OLS slope of
    * ln(count) against ln(rank) over the top-`topK` tokens (the
    * standard head fit; natural corpora land near −1). Logs are the
    * shared integer [[graft.functions.FixedMath.lnQ12]] kernel scaled
    * to Q6, all OLS moments exact DECIMAL(38,0) sums, and the slope
    * one SIGNED truncating division to Q9 (the DuckDB-`//` contract) —
    * no libm anywhere. The corpus-health readout: a slope far from −1
    * means boilerplate (too flat) or templated spam (too steep).
    *
    * Scale shape: token counts collapse in one groupBy; the head is
    * `orderBy(...).limit(topK)` — Spark's distributed
    * TakeOrderedAndProject, never a global sort materialization — and
    * every window after it runs on ≤ topK rows BY CONSTRUCTION.
    */
  def zipfProfile(docs: DataFrame, textCol: String = "text",
      topK: Int = 1000): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    val counts = Dedup.materialize(docs
      .select(explode(words(col(textCol))).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_c")))
    val vocab = counts.agg(count(lit(1)).as("vocab_size"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_c").desc, col("_w"))
    val xy = counts.orderBy(col("_c").desc, col("_w")).limit(topK)
      .withColumn("_r", row_number().over(w).cast("long"))
      .withColumn("_lx", lnQ12Native(col("_r")))
      .withColumn("_ly", lnQ12Native(col("_c")))
      .select(expr("_lx DIV 1000000").as("_x"),
        expr("_ly DIV 1000000").as("_y"))
    xy.agg(count(lit(1)).as("n_fit"),
        sum(col("_x").cast("decimal(38,0)")).as("_sx"),
        sum(col("_y").cast("decimal(38,0)")).as("_sy"),
        sum((col("_x").cast("decimal(19,0)") *
          col("_y").cast("decimal(19,0)")).cast("decimal(38,0)")).as("_sxy"),
        sum((col("_x").cast("decimal(19,0)") *
          col("_x").cast("decimal(19,0)")).cast("decimal(38,0)")).as("_sxx"))
      .crossJoin(vocab)
      .withColumn("_num",
        expr("(n_fit * _sxy - _sx * _sy) * 1000000000"))
      .withColumn("_den", expr("n_fit * _sxx - _sx * _sx"))
      .withColumn("slope_q9", when(col("_den") =!= 0,
        expr("CAST((_num - (_num % _den)) / _den AS BIGINT)")))
      .select(col("vocab_size"), col("n_fit"), col("slope_q9"))
  }

  /** Heaps'-law vocabulary-growth curve — [[zipfProfile]]'s companion
    * corpus-health readout: distinct-token count after each ⌊i·N/B⌋-doc
    * prefix of the corpus in doc_id order (Heaps: V(n) ≈ K·n^β; a curve
    * that keeps climbing linearly means heavy unique-token noise —
    * OCR garbage, serial numbers; one that flattens early means
    * boilerplate). Exact integers: a token's first-seen doc ORDINAL is
    * min(row_number by doc_id); checkpoint i counts tokens first seen
    * at ordinal ≤ ⌊i·N/B⌋. Output B rows: (ckpt, n_docs, vocab).
    *
    * Scale shape: one explode+distinct to (token, doc) pairs, one
    * groupBy token for first-seen, one ≤B-row broadcast range-join on
    * the |vocab|-bounded first-seen histogram. Doc ordinals come from
    * the two-phase [[Ranking.withGlobalRowNumber]] (range-bucket +
    * per-bucket row_number + broadcast offsets) — the doc table is
    * corpus-sized, so a partition-less global window here would be a
    * one-executor sort at 100 TB; tokens never enter a global window.
    */
  def heapsGrowth(docs: DataFrame, buckets: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets > 0, "heapsGrowth needs buckets > 0")
    val spark = docs.sparkSession
    import spark.implicits._
    // total N rides out of the ordinal build's driver-side bucket-count
    // collect — no second corpus pass for the checkpoint grid
    val (ordsN, n) = Ranking.withGlobalRowNumberN(
        docs.select(col(idCol).as("_id")), Seq("_id"),
        outCol = "_ord", nCol = "_n")
    val ords = ordsN.select(col("_id"), col("_ord").cast("long").as("_ord"))
    val firstSeen = docs
      .select(col(idCol).as("_id"),
        explode(array_distinct(words(col(textCol)))).as("_w"))
      .join(ords, Seq("_id"))
      .groupBy("_w").agg(min("_ord").as("_fs"))
      .groupBy("_fs").agg(count(lit(1)).as("_nw"))
    val ckpts = (1 to buckets)
      .map(i => (i.toLong, i.toLong * n / buckets)).toDF("ckpt", "n_docs")
    ckpts.join(firstSeen, col("_fs") <= col("n_docs"), "left")
      .groupBy("ckpt", "n_docs")
      .agg(coalesce(sum("_nw"), lit(0L)).as("vocab"))
  }

  /** Per-domain characteristic terms (class-level TF-IDF, the
    * BERTopic/c-TF-IDF readout): tf over (domain, word), df = number
    * of DOMAINS containing the word, idf via the q123 libm-free
    * Robertson form lnQ12(2(S+1)) − lnQ12(2·df+1) (S = domain count)
    * so corpus-wide stopwords score ≈ 0 without a stopword list.
    * score_q6 = ⌊tf·idf_q12 / 10⁶⌋ in DECIMAL(38,0); top-`k` terms per
    * domain by (score DESC, word). "What makes this source different"
    * — the first question a mixture curator asks of q265's table.
    *
    * Scale shape: one (domain, word) partial agg, one word-keyed df
    * agg, a 1-number driver scalar (domain count — the centroid
    * convention), one per-domain ≤vocab window. Nothing per-row after
    * the first aggregate.
    */
  def domainTopTerms(docs: DataFrame, k: Int = 5,
      domainCol: String = "source", textCol: String = "text"): DataFrame = {
    val tw = docs.select(col(domainCol).as("_g"),
      explode(words(col(textCol))).as("_w"))
    val tf = Dedup.materialize(
      tw.groupBy("_g", "_w").agg(count(lit(1)).as("tf")))
    val dfw = tf.groupBy("_w").agg(count(lit(1)).as("_df"))
    val s = tf.select("_g").distinct().count()
    val lnN = graft.functions.FixedMath.lnQ12(2L * (s + 1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_g").orderBy(col("score_q6").desc, col("_w"))
    tf.join(dfw, Seq("_w"))
      .withColumn("_ln",
        graft.plans.GraftExtensions.lnQ12Native(col("_df") * 2 + lit(1L)))
      .withColumn("score_q6", expr(
        s"CAST((CAST(tf AS DECIMAL(38,0)) * ($lnN - _ln) -" +
          s" (CAST(tf AS DECIMAL(38,0)) * ($lnN - _ln)) % 1000000)" +
          " / 1000000 AS BIGINT)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_g").as(domainCol), col("rank"), col("_w").as("term"),
        col("tf"), col("score_q6"))
  }

  /** Hill tail-index estimate of a positive integer size column (doc
    * lengths, file sizes, degree sequences): over the `k` largest
    * values, α̂ = (k−1) / Σ ln(xᵢ/x₍k₎) — the standard answer to "how
    * heavy is this corpus' length tail" (α ≤ 2 ⇒ infinite variance:
    * expect stragglers, cap or chunk upstream). Integer-exact: logs
    * through the shared lnQ12 kernel, Σ of non-negative Q12 diffs, ONE
    * terminal floor division to α Q6. Output one row:
    * (k_eff, x_k, sum_ln_q12, alpha_q6 — NULL when the top-k ties flat,
    * where the estimator is undefined).
    *
    * Scale shape: top-k by value is TakeOrderedAndProject (no global
    * sort); ties among equal values are interchangeable (equal logs),
    * so no id tiebreak is needed for determinism; everything after is
    * a k-row aggregate.
    */
  def hillTailIndex(df: DataFrame, valCol: String,
      k: Int = 100): DataFrame = {
    require(k >= 2, "hillTailIndex needs k >= 2")
    val vals = df.select(col(valCol).cast("long").as("_x"))
      .filter(col("_x") > 0)
      .orderBy(col("_x").desc).limit(k)
    val xk = vals.agg(min("_x").as("_xk"), count(lit(1)).as("k_eff"))
    vals.crossJoin(xk)
      .withColumn("_t",
        graft.plans.GraftExtensions.lnQ12Native(col("_x")) -
          graft.plans.GraftExtensions.lnQ12Native(col("_xk")))
      .groupBy(col("k_eff"), col("_xk").as("x_k"))
      .agg(sum("_t").as("sum_ln_q12"))
      .withColumn("alpha_q6", when(col("sum_ln_q12") > 0, expr(
        "CAST((CAST(k_eff - 1 AS DECIMAL(38,0)) * 1000000000000000000 -" +
          " (CAST(k_eff - 1 AS DECIMAL(38,0)) * 1000000000000000000)" +
          " % sum_ln_q12) / sum_ln_q12 AS BIGINT)")))
      .select(col("k_eff"), col("x_k"), col("sum_ln_q12"), col("alpha_q6"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, window 2):
    * weighted integer PageRank over the adjacent-word co-occurrence
    * graph — words that co-occur next to many well-connected words
    * rank highest, the unsupervised keyword baseline. Default 3
    * rounds: synchronous PageRank OSCILLATES on a star-ish word graph
    * (even rounds park the hub's mass in its neighbors), so keyword
    * readouts use an odd round count. Self-pairs
    * ("the the") are dropped; co-occurrence counts cap at 10⁵ (the
    * [[graft.operators.Graphs.pageRankIntWeighted]] long-range bound,
    * mirrored in the oracle). Output top-`topK` (score DESC, word).
    *
    * Scale shape: bigram explode is map-side per doc; the edge build
    * is one groupBy on the (src, dst) pair; the rank loop is
    * pageRankIntWeighted's bounded-rounds contract on a vocabulary-
    * sized graph (NOT corpus-sized — the whole point of the collapse).
    */
  def textRankKeywords(docs: DataFrame, iters: Int = 3, topK: Int = 20,
      textCol: String = "text"): DataFrame = {
    // spread before the tokenize+explode so the bigram kernel runs wide
    // on low-split inputs (r18, Dedup.spread's scale-adaptive no-op)
    val ws = graft.operators.Dedup.spread(docs.select(col(textCol)))
      .select(words(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) >= 2)
    // BOTH orientations emitted by the one map-side explode (r18): the
    // previous unionByName of the bigram subtree with its own swap
    // planned as TWO corpus scans + two explodes — same multiset,
    // twice the pass count. flatten(transform(...)) keeps the blow-up
    // row-at-a-time under whole-stage codegen.
    val bi = ws.select(explode(expr(
      "flatten(transform(sequence(0, size(_ws) - 2)," +
        " i -> array(struct(_ws[i] AS a, _ws[i+1] AS b)," +
        " struct(_ws[i+1] AS a, _ws[i] AS b))))")).as("p"))
      .select(col("p.a"), col("p.b"))
      .filter(col("a") =!= col("b"))
    val edges = graft.operators.Dedup.materialize(
      bi.select(col("a").as("src"), col("b").as("dst"))
        .groupBy("src", "dst")
        .agg(least(count(lit(1)), lit(100000L)).as("weight")))
    // a corpus with no non-self bigram (or no text at all) has no graph
    // — return an empty keyword table instead of tripping PageRank's
    // empty-graph require
    if (edges.head(1).isEmpty) {
      val spark = docs.sparkSession
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("word", "score")
    } else
      Graphs.pageRankIntWeighted(edges, iters = iters)
        .orderBy(col("score").desc, col("node"))
        .limit(topK)
        .select(col("node").as("word"), col("score"))
  }

  /** Exact domain-vocabulary overlap matrix: for every unordered
    * domain pair (a < b), the EXACT Jaccard of their distinct-token
    * vocabularies in Q6 — "which sources duplicate each other's
    * language," the pairwise companion to [[domainTopTerms]] (what
    * makes a source different) and the signal a mixture curator reads
    * before merging/deduping sources (two near-identical vocabularies
    * ⇒ the domains are the same corpus wearing two names). One row per
    * pair: (domain_a, domain_b, n_common, n_union, jaccard_q6);
    * domains with no tokens never enter (Jaccard undefined on ∅).
    *
    * Scale shape: one explode+distinct collapses the corpus to the
    * ≤|domains|·|vocab| (domain, token) table; the self-join is
    * token-keyed, so each token contributes ≤|domains|² pair rows
    * (NEVER a doc-pair blow-up); the matrix completes from the
    * broadcast |domains|-row size table — output ≤ C(|domains|, 2).
    *
    * 100 TB posture — `maxDomainsPerToken`: at a 10⁵-domain web
    * corpus the universal tokens ("the", "http") each fan out to
    * |domains|²/2 pair rows and dominate the self-join while carrying
    * no Jaccard signal (a token in EVERY domain shifts all pairs'
    * intersection and union by the same +1). Setting the cap drops
    * tokens whose domain-frequency exceeds it from BOTH the sizes and
    * the intersection (the Jaccard is then over the capped vocabulary,
    * consistently — the q267 hub-cap discipline). Default ∞ keeps the
    * exact matrix; the gated query runs at the default (≤20 domains).
    */
  def domainVocabOverlap(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text",
      maxDomainsPerToken: Int = Int.MaxValue): DataFrame = {
    require(maxDomainsPerToken >= 1,
      "domainVocabOverlap needs maxDomainsPerToken >= 1")
    val dtAll = Dedup.materialize(docs
      .select(col(domainCol).as("_g"),
        explode(array_distinct(words(col(textCol)))).as("_w"))
      .distinct())
    val dt =
      if (maxDomainsPerToken == Int.MaxValue) dtAll
      else {
        // token df over the COLLAPSED table (≤|domains| rows/token),
        // then a token-keyed semi-join drop of the universal tokens
        val keep = dtAll.groupBy("_w")
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= maxDomainsPerToken)
          .select("_w")
        dtAll.join(keep, Seq("_w"), "left_semi")
      }
    val sizes = dt.groupBy("_g").agg(count(lit(1)).as("_n"))
    val inter = dt
      .join(dt.select(col("_g").as("_g2"), col("_w")), Seq("_w"))
      .filter(col("_g") < col("_g2"))
      .groupBy("_g", "_g2").agg(count(lit(1)).as("_i"))
    broadcast(sizes)
      .join(broadcast(sizes.select(col("_g").as("_g2"),
        col("_n").as("_n2"))), col("_g") < col("_g2"))
      .join(inter, Seq("_g", "_g2"), "left")
      .na.fill(0L, Seq("_i"))
      .withColumn("n_union", col("_n") + col("_n2") - col("_i"))
      .withColumn("jaccard_q6", expr(
        "CAST((CAST(_i AS DECIMAL(38,0)) * 1000000) DIV n_union" +
          " AS BIGINT)"))
      .select(col("_g").as("domain_a"), col("_g2").as("domain_b"),
        col("_i").as("n_common"), col("n_union"), col("jaccard_q6"))
  }

  /** Per-domain language mix: the [[langId]] marker heuristic
    * crosstabbed by source — (source, lang_pred, n, share_q6), the
    * table a multilingual-mixture curator reads next to
    * [[graft.operators.Sampling.domainMixturePlan]] (a "web" domain
    * that is 40% undetermined is an OCR/boilerplate flag, and language
    * targets can't be planned from domain targets alone). Exact
    * integers; the share is one widened Q6 floor division per cell.
    *
    * Scale shape: one scan scoring langId map-side, one partial-agg'd
    * groupBy to ≤|domains|·|langs+1| cells, per-domain totals joined
    * back from the broadcast |domains|-row collapse.
    */
  def langMixBySource(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val cells = docs
      .select(col(domainCol).as("source"),
        langId(col(textCol)).as("lang_pred"))
      .groupBy("source", "lang_pred").agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("source").agg(sum("n").as("_t"))
    cells.join(broadcast(tot), Seq("source"))
      .withColumn("share_q6", expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * 1000000) DIV _t AS BIGINT)"))
      .select(col("source"), col("lang_pred"), col("n"), col("share_q6"))
  }

  /** Exact pairwise Jensen–Shannon divergence between the domains'
    * unigram DISTRIBUTIONS in Q12 nats — the distributional companion
    * to [[domainVocabOverlap]]'s set Jaccard (two domains can share a
    * vocabulary yet use it at wildly different rates; JS sees that,
    * Jaccard can't). Per unordered pair (a < b), with p = a_w/T_a and
    * q = b_w/T_b over the UNION vocabulary:
    * 2·JS = Σ_w p·ln(2p/(p+q)) + q·ln(2q/(p+q)). Tokens private to one
    * domain contribute exactly (their probability mass)·ln2, so only
    * the INTERSECTION is ever joined — the disjoint tail folds in from
    * the per-pair intersection mass and the domain totals:
    * 2·JS·T_a = Σ_inter a·(lnQ12(2aT_b) − lnQ12(aT_b + bT_a))
    *            + (T_a − Σ_inter a)·lnQ12(2)   [term 1; term 2 mirrors]
    * all integers (per-term products in DECIMAL(38,0); the two
    * mathematically-nonnegative KL halves clamp at 0 against ≤1-ulp
    * per-term lnQ12 floor noise, mirrored in the oracle). Output one
    * row per pair: (domain_a, domain_b, n_common, js_q12) where
    * js_q12 ∈ [0, ln2·10¹²] and zero-overlap pairs read exactly
    * lnQ12(2) (the JS maximum).
    *
    * Scale shape: one corpus pass collapses to the (domain, token,
    * count) cell table; the self-join is token-keyed (≤|domains|² pair
    * rows per token, never doc pairs — the q282 shape); totals fold in
    * by broadcast; the matrix completes from the |domains|-row totals.
    * The lnQ12 arguments (count·total products, ≲10¹⁴ at 100× sf0.1)
    * are computed in DECIMAL(38,0) and guard-downcast to BIGINT: past
    * the Long ceiling (count·total·2 > 2⁶³−1, e.g. a 10⁹-count token
    * against a ≥4.6·10⁹-token domain) the query FAILS LOUDLY — exactly
    * what the oracle's BIGINT arithmetic does in DuckDB — instead of
    * wrapping into garbage js_q12. Corpora past that ceiling need
    * per-domain sharding or count pre-scaling before this readout.
    */
  def domainDivergence(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text"): DataFrame = {
    import graft.plans.GraftExtensions.lnQ12Native
    val ln2 = graft.functions.FixedMath.lnQ12(2L)
    val cells = Dedup.materialize(docs
      .select(col(domainCol).as("_g"),
        explode(words(col(textCol))).as("_w"))
      .groupBy("_g", "_w").agg(count(lit(1)).as("_c")))
    val tot = cells.groupBy("_g").agg(sum("_c").as("_t"))
    val totA = tot.select(col("_g").as("_ga"), col("_t").as("_ta"))
    val totB = tot.select(col("_g").as("_gb"), col("_t").as("_tb"))
    // lnQ12 arguments multiply in DECIMAL(38,0) and downcast guarded:
    // past the BIGINT ceiling this raises (the oracle's DuckDB BIGINT
    // products raise out-of-range at the same point) — never wraps.
    val maxLongD = lit(Long.MaxValue).cast("decimal(38,0)")
    def asLongChecked(c: Column): Column =
      when(c.isNotNull && c <= maxLongD, c.cast("long"))
        .otherwise(raise_error(concat(
          lit("domainDivergence: count*total product "),
          coalesce(c.cast("string"), lit("(decimal overflow)")),
          lit(" exceeds BIGINT range; shard per domain or pre-scale" +
            " counts before the divergence readout"))))
    val inter = cells.select(col("_g").as("_ga"), col("_w"),
        col("_c").as("_a"))
      .join(cells.select(col("_g").as("_gb"), col("_w"),
        col("_c").as("_b")), Seq("_w"))
      .filter(col("_ga") < col("_gb"))
      .join(broadcast(totA), Seq("_ga"))
      .join(broadcast(totB), Seq("_gb"))
      .withColumn("_x1", asLongChecked(
        col("_a").cast("decimal(38,0)") * col("_tb") * 2))
      .withColumn("_x2", asLongChecked(
        col("_b").cast("decimal(38,0)") * col("_ta") * 2))
      .withColumn("_m", asLongChecked(
        col("_a").cast("decimal(38,0)") * col("_tb") +
          col("_b").cast("decimal(38,0)") * col("_ta")))
      .withColumn("_t1", (col("_a").cast("decimal(38,0)") *
        (lnQ12Native(col("_x1")) -
          lnQ12Native(col("_m"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)"))
      .withColumn("_t2", (col("_b").cast("decimal(38,0)") *
        (lnQ12Native(col("_x2")) -
          lnQ12Native(col("_m"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)"))
      .groupBy("_ga", "_gb")
      .agg(sum("_t1").as("_s1"), sum("_t2").as("_s2"),
        sum("_a").as("_ia"), sum("_b").as("_ib"),
        count(lit(1)).as("n_common"))
    broadcast(totA).join(broadcast(totB), col("_ga") < col("_gb"))
      .join(inter, Seq("_ga", "_gb"), "left")
      .na.fill(0L, Seq("_ia", "_ib", "n_common"))
      .na.fill(0, Seq("_s1", "_s2"))
      .withColumn("js_q12", expr(
        "CAST((GREATEST(CAST(0 AS DECIMAL(38,0)), " +
          s"(_s1 + (_ta - _ia) * CAST($ln2 AS DECIMAL(38,0)))) DIV _ta" +
          " + GREATEST(CAST(0 AS DECIMAL(38,0)), " +
          s"(_s2 + (_tb - _ib) * CAST($ln2 AS DECIMAL(38,0)))) DIV _tb)" +
          " DIV 2 AS BIGINT)"))
      .select(col("_ga").as("domain_a"), col("_gb").as("domain_b"),
        col("n_common"), col("js_q12"))
  }

  /** Per-domain token-budget report — the table a pretraining run is
    * PLANNED from (how many BPE tokens does each source actually
    * contribute, and at what byte cost): per domain its doc count,
    * byte count, exact BPE token count (the q88 merge walk via
    * [[graft.functions.Bpe.tokenCount]]), Q6 share of the corpus
    * token budget, and Q6 fertility (tokens per 100 bytes — OCR
    * garbage and non-Latin scripts run hot, boilerplate runs cold).
    * Feeds [[graft.operators.Sampling.domainMixturePlan]] /
    * temperature weights with real token counts instead of doc-count
    * proxies.
    *
    * Scale shape: ONE corpus scan (token counting is per-row,
    * map-side), one partial-agg'd groupBy(domain) to ≤|domains| rows,
    * a broadcast 1-row total.
    */
  def tokenBudgetBySource(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text"): DataFrame =
    tokenBudgetFromCells(tokenBudgetCells(docs, domainCol, textCol))

  /** The per-domain (docs, bytes, tokens) cell builder behind
    * [[tokenBudgetBySource]] — a plain Complete-mode aggregation, split
    * out so the streaming twin maintains the SAME cells through the
    * state store and gates through the same oracle (the q272/q280/q285
    * discipline). Token counting is per-row map-side work in both
    * engines.
    */
  def tokenBudgetCells(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text"): DataFrame = {
    import graft.functions.Bpe
    docs
      .select(col(domainCol).as("source"),
        coalesce(octet_length(col(textCol)), lit(0)).cast("long")
          .as("_bytes"),
        coalesce(Bpe.tokenCount(col(textCol)).cast("long"), lit(0L))
          .as("_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("_bytes").as("n_bytes"),
        sum("_toks").as("n_tokens"))
  }

  /** Zipf rank-frequency slope of the corpus vocabulary — the
    * third corpus-health power law next to [[heapsGrowth]] (vocab
    * growth) and [[hillTailIndex]] (document-length tail): over the
    * topN tokens the exact least-squares slope of ln(freq) on
    * ln(rank), reported as α = −slope in Q6 (natural text sits near
    * α ≈ 1; α ≪ 1 flags boilerplate-flattened frequencies, α ≫ 1 a
    * template-dominated head). Integer-exact: x = lnQ12(rank),
    * y = lnQ12(freq), α_q6 = ⌊(Σx·Σy − n·Σxy)·10⁶ / (n·Σx² − (Σx)²)⌋
    * clamped at 0 (the numerator is positive for any decreasing
    * rank-frequency curve; the clamp absorbs degenerate uniform
    * corpora), every lnQ12 the shared [[graft.functions.FixedMath]]
    * kernel the oracle CTE-replays. Output one row:
    * (n_terms, top_freq, alpha_q6).
    *
    * Scale shape: one corpus pass to (token, count) cells, a bounded
    * native top-k (never a global sort), and the regression runs on
    * the ≤topN collected rows — driver-side BigInt arithmetic on a
    * bounded readout, the kCenter/ranking-offsets discipline.
    */
  def zipfSlope(docs: DataFrame, topN: Int = 100,
      textCol: String = "text"): DataFrame = {
    require(topN >= 2, "zipfSlope needs topN >= 2")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.FixedMath
    // bounded top-k by (count desc, token asc) — TakeOrderedAndProject
    // (per-partition heads + merge, never a global sort), with ties
    // breaking exactly like the oracle's ROW_NUMBER(ORDER BY c DESC, w)
    // (both engines compare the [a-z0-9'] tokens bytewise)
    val freq = docs.select(explode(words(col(textCol))).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_c"))
    val pool = freq.orderBy(col("_c").desc, col("_w")).limit(topN)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, c) => (-c, w) } // collect() order is not a contract
    // a tokenless corpus still yields ONE row — the oracle's ungrouped
    // aggregate returns (n_terms=0, NULL, NULL), never zero rows
    if (pool.isEmpty)
      return Seq((0L, Option.empty[Long], Option.empty[Long]))
        .toDF("n_terms", "top_freq", "alpha_q6")
    val xy = pool.zipWithIndex.map { case ((_, c), i) =>
      (BigInt(FixedMath.lnQ12(i + 1L)), BigInt(FixedMath.lnQ12(c)))
    }
    val n = BigInt(xy.length)
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map { case (x, y) => x * y }.sum
    val sxx = xy.map { case (x, _) => x * x }.sum
    val den = n * sxx - sx * sx
    val alpha: Option[Long] =
      if (den > 0) Some(((sx * sy - n * sxy).max(BigInt(0)) *
        BigInt(1000000) / den).toLong)
      else None
    Seq((xy.length.toLong, pool.head._2, alpha))
      .toDF("n_terms", "top_freq", "alpha_q6")
  }

  /** Per-LANGUAGE token budget — [[tokenBudgetBySource]]'s question
    * crosstabbed by the [[langId]] heuristic instead of the domain
    * column (a multilingual mixture is planned in language space;
    * domains mix languages, q288's finding): per predicted language
    * its doc count, byte count, whitespace token count (the q79
    * convention — fertility ACROSS languages is exactly where a
    * byte-level tokenizer's cost varies, so bytes-per-token here is
    * the signal a tokenizer budget is planned from), Q6 token share
    * and Q6 tokens-per-100-bytes fertility.
    *
    * Scale shape: one scan scoring langId + counts map-side, one
    * partial-agg'd groupBy to ≤|langs|+1 rows, broadcast 1-row total.
    */
  def langTokenBudget(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val cells = docs
      .select(langId(col(textCol)).as("lang_pred"),
        coalesce(octet_length(col(textCol)), lit(0)).cast("long")
          .as("_bytes"),
        greatest(lit(0L), coalesce(tokenCountWs(col(textCol))
          .cast("long"), lit(0L))).as("_toks"))
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"), sum("_bytes").as("n_bytes"),
        sum("_toks").as("n_tokens"))
    val tot = cells.agg(sum("n_tokens").as("_tt"))
    cells.crossJoin(tot)
      .withColumn("token_share_q6", expr(
        "CAST(CASE WHEN _tt > 0 THEN (CAST(n_tokens AS DECIMAL(38,0))" +
          " * 1000000) DIV _tt END AS BIGINT)"))
      .withColumn("fertility_q6", expr(
        "CAST(CASE WHEN n_bytes > 0 THEN (CAST(n_tokens AS" +
          " DECIMAL(38,0)) * 100000000) DIV n_bytes END AS BIGINT)"))
      .select(col("lang_pred"), col("n_docs"), col("n_bytes"),
        col("n_tokens"), col("token_share_q6"), col("fertility_q6"))
  }

  /** Mixture-epochs planner — the repetition audit a data-constrained
    * pretraining run is sized with (Muennighoff et al. 2023: repeating
    * a source past ~4 epochs stops buying loss): given a target
    * mixture (permille per source), a total token budget, and each
    * source's ACTUAL exact-BPE token supply
    * ([[tokenBudgetCells]] — the q299 cells, one builder), report per
    * source the tokens the mix demands, the epochs that demand implies
    * (Q3, ceil — 1250 = 1.25 passes over the source), whether it
    * exceeds the repetition cap, and the achieved/shortfall token
    * counts under the cap. The sources flagged `capped` are exactly
    * where the planned mix is infeasible without new data or a lower
    * budget — the first question after q265's rate plan.
    *
    * Scale shape: ONE corpus scan (the shared cell build; token
    * counting map-side), then arithmetic on ≤|sources| rows joined to
    * a broadcast target list. Nothing else touches the corpus.
    */
  def epochsPlan(docs: DataFrame, targetsPermille: Seq[(String, Long)],
      budgetTokens: Long, maxEpochsQ3: Long = 4000,
      domainCol: String = "source", textCol: String = "text")
      : DataFrame = {
    require(targetsPermille.nonEmpty, "epochsPlan needs targets")
    require(budgetTokens >= 0, "epochsPlan needs budgetTokens >= 0")
    require(maxEpochsQ3 >= 1, "epochsPlan needs maxEpochsQ3 >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val tgt = targetsPermille.toDF("source", "target_pm")
    val dec = "DECIMAL(38,0)"
    // LEFT from the targets (r15 self-review finding): a target source
    // entirely ABSENT from the corpus is the worst infeasibility —
    // dropping its row would silently under-account the budget. It
    // reads supply 0 → NULL epochs, achieved 0, full-demand shortfall,
    // the same loud shape as a present-but-tokenless source.
    tgt.join(tokenBudgetCells(docs, domainCol, textCol), Seq("source"),
        "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("needed_tokens", expr(
        s"CAST((CAST($budgetTokens AS $dec) * target_pm) DIV 1000" +
          " AS BIGINT)"))
      // ceil(needed / supply) in Q3 milli-epochs; NULL when the source
      // has no tokens at all (infinite epochs — unplannable, loud)
      .withColumn("epochs_q3", expr(
        s"CAST(CASE WHEN n_tokens > 0 THEN (CAST(needed_tokens AS $dec)" +
          " * 1000 + n_tokens - 1) DIV n_tokens END AS BIGINT)"))
      .withColumn("capped", col("epochs_q3") > maxEpochsQ3)
      .withColumn("achieved_tokens", least(col("needed_tokens"), expr(
        s"CAST((CAST(n_tokens AS $dec) * $maxEpochsQ3) DIV 1000" +
          " AS BIGINT)")))
      .withColumn("shortfall_tokens",
        col("needed_tokens") - col("achieved_tokens"))
      .select(col("source"), col("n_tokens"), col("target_pm"),
        col("needed_tokens"), col("epochs_q3"), col("capped"),
        col("achieved_tokens"), col("shortfall_tokens"))
  }

  /** [[tokenBudgetBySource]]'s readout over prebuilt cells. */
  def tokenBudgetFromCells(cells: DataFrame): DataFrame = {
    val tot = cells.agg(sum("n_tokens").as("_tt"))
    cells.crossJoin(tot)
      .withColumn("token_share_q6", expr(
        "CAST(CASE WHEN _tt > 0 THEN (CAST(n_tokens AS DECIMAL(38,0))" +
          " * 1000000) DIV _tt END AS BIGINT)"))
      .withColumn("fertility_q6", expr(
        "CAST(CASE WHEN n_bytes > 0 THEN (CAST(n_tokens AS" +
          " DECIMAL(38,0)) * 100000000) DIV n_bytes END AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("n_bytes"),
        col("n_tokens"), col("token_share_q6"), col("fertility_q6"))
  }
}
