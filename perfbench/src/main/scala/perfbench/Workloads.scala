package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.core.DabDataset
import graft.functions._
import graft.operators.{Dedup, Features, TextAnalysis, Xval}
import graft.sources.{FolderSource, TrainingExport}

/** What a pass needs: the session, the tracer (a no-op when tracing is off),
  * where the inputs are and where outputs go, and the operation counters.
  */
final class Ctx(val spark: SparkSession, var tr: Tracer, val input: String,
    val out: String, val seed: Long) {
  val getMs = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  /** One operation: counted as attempted; a failure is counted and rethrown. */
  def op[T](what: String)(body: => T): T = {
    attempted += 1
    try body
    catch { case e: Exception => failed += 1; errors += s"$what: ${e.getMessage}"; throw e }
  }

  /** One point read in the closed loop: its latency is recorded; a failure
    * or a wrong row count is counted and the loop goes on.
    */
  def timedRead(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try body catch { case e: Exception => errors += s"$what: ${e.getMessage}"; false }
    getMs += (System.nanoTime() - t0) / 1e6
    if (!ok) failed += 1
  }
}

trait Workload {
  /** Input sizes and parameters, for the record. */
  def describe: Map[String, Any]

  /** Input registration, before the warm pass. */
  def setup(c: Ctx): Unit

  /** Runs the fixed work once and returns its wall seconds. With `dump`,
    * then writes the outputs the checks read, outside the timed region.
    */
  def pass(c: Ctx, dump: Boolean): Double

  /** Traced runs only, after the traced pass and outside its wall: counts
    * that need extra work to observe.
    */
  def probes(c: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  /** Point reads in a timed pass: random `get(i)`, every fourth a
    * `getRange` of 8.
    */
  val ReadsPerPass = 8
  /** Point reads of the latency probe in a traced run, after the traced
    * pass: with the pass's own, 10 samples beyond the 95th percentile.
    */
  val ProbeReads = 200
  val RangeLen = 8

  def apply(name: String, input: String): Workload = name match {
    case "audio_features" => new AudioFeatures(input)
    case "corpus_curation" => new CorpusCuration(input)
    case "iterative_queries" => new IterativeQueries(input)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The closed-loop access phase, one client: each read starts when the
    * previous one returned. The read sequence is the same in every pass.
    */
  def readBack(c: Ctx, ds: DabDataset, rows: Long, reads: Int): Unit = c.tr.span("core.get") {
    val rng = new scala.util.Random(c.seed)
    for (k <- 0 until reads) {
      if (k % 4 == 3) {
        val a = (rng.nextDouble() * (rows - RangeLen)).toLong
        c.timedRead("getRange")(ds.getRange(a, a + RangeLen).length == RangeLen)
      } else {
        val i = (rng.nextDouble() * rows).toLong
        c.timedRead("get")(ds.get(i).getAs[Long](DabDataset.IdxCol) == i)
      }
    }
  }

  def readMeta(dir: String): Map[String, Any] = {
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(dir, "meta.json")), "UTF-8"))
      .extract[Map[String, Any]]
  }

  def num(m: Map[String, Any], k: String): Int = m(k).toString.toInt

  def writeString(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))
}

/** dabstract's own flow: a folder of wav clips → decode → fixed-length
  * chunks → fitted feature chain written as parquet → group k-fold →
  * random point reads of the written features.
  */
final class AudioFeatures(input: String) extends Workload {
  import Workload._

  private val meta = readMeta(input)
  private val fs = num(meta, "fs")
  private val splitS = num(meta, "split_s")
  private val rows = num(meta, "files_per_subdb").toLong * 2 * num(meta, "chunks_per_file")

  /** Framing (32 ms, 16 ms hop) → power FFT → 40 mel bands → dB → mean and
    * std over frames, added lazily to the split table as a data column;
    * `prepareFeat` then fits one standard normalizer over all rows and
    * writes the result. Two engine limits shape this: `Chain.fit` runs the
    * prefix with an empty info struct, and Framing needs the sample rate
    * from it, so the normalizer cannot follow Framing in one fitted chain;
    * and the chain's info output grows exponentially with the number of
    * steps (each step rebuilds the struct from several references to the
    * previous one), so planning `addMap`'s info column for five steps takes
    * minutes. Only the data output of the chain is used.
    */
  val stateless: Chain = Chain(Seq(
    Framing(0.032, 0.016, "hamming"), FFTProcessor("power", "nextpow2"),
    Filterbank(40, "mel", fs, 512), Logarithm("base10", depth = 2),
    AggregationProcessor(Seq("mean", "std"))))
  val fitted: Chain = Chain(Seq(Normalizer("standard")))

  private val mel = stateless(col("data"), col("info"))._1

  def describe: Map[String, Any] = meta + ("rows" -> rows)

  def setup(c: Ctx): Unit = ()

  def pass(c: Ctx, dump: Boolean): Double = {
    val (spark, tr) = (c.spark, c.tr)
    val featPath = s"${c.out}/feat"
    val foldsPath = s"${c.out}/folds"
    val t0 = System.nanoTime()
    val split = tr.span("pass") {
      val split = c.op("scan-decode-split") {
        val scanned = tr.span("sources.scan")(tr.force(FolderSource.scan(spark, s"$input/audio")))
        val decoded = tr.span("sources.decode")(tr.force(FolderSource.withDecodedAudio(scanned)))
        tr.span("core.split")(tr.force(decoded.splitSeconds(Seq("data"), splitS)))
      }
      val feats = c.op("prepare_feat") {
        tr.span("sources.prepare_feat") {
          Features.prepareFeat(split.add("mel", mel), "mel", None,
            fitted, "feat", featPath, overwrite = true)
        }
      }
      c.op("xval") {
        tr.span("operators.xval") {
          Xval.saveFolds(Xval.groupKfold(feats.df, 4, "example", seed = c.seed), DabDataset.IdxCol, foldsPath)
        }
      }
      readBack(c, DabDataset.fromExisting(spark.read.parquet(featPath)), rows, ReadsPerPass)
      split
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (dump) {
      val first = split.getRange(0, 1).head
      val data = first.getAs[scala.collection.Seq[Double]]("data")
      val buf = ByteBuffer.allocate(8 * data.length).order(ByteOrder.LITTLE_ENDIAN)
      data.foreach(buf.putDouble)
      Files.write(Paths.get(c.out, "first_chunk.f64"), buf.array())
      writeString(s"${c.out}/first_chunk.txt", first.getAs[String]("example"))
    }
    tr.release()
    wall
  }

  /** The chain's kernels alone, over a cached split table: inside the pass
    * they run fused with the fit and the parquet write. Then enough point
    * reads of the written features for read-latency percentiles.
    */
  override def probes(c: Ctx): Map[String, Double] = {
    val split = FolderSource.withDecodedAudio(FolderSource.scan(c.spark, s"$input/audio"))
      .splitSeconds(Seq("data"), splitS).loadMemory()
    c.tr.span("functions.chain") {
      split.df.agg(sum(size(mel))).head()
    }
    split.df.unpersist(blocking = true)
    readBack(c, DabDataset.fromExisting(c.spark.read.parquet(s"${c.out}/feat")), rows, ProbeReads)
    Map.empty
  }
}

/** The LLM-data flow: quality gates → exact dedup → near-dup dedup →
  * near-dup-aware k-fold → training-shard export.
  */
final class CorpusCuration(input: String) extends Workload {
  import Workload._

  private val truth = readMeta(input)
  val NumHashes = 64
  val RowsPerBand = 8
  val ShingleK = 5
  val Threshold: Double = truth("threshold").toString.toDouble
  val RowsPerShard = 512
  private var docs: DataFrame = _

  def describe: Map[String, Any] = Map("docs" -> truth("n_docs"),
    "input_bytes" -> truth("input_bytes"), "threshold" -> Threshold,
    "num_hashes" -> NumHashes, "rows_per_band" -> RowsPerBand,
    "rows_per_shard" -> RowsPerShard)

  def setup(c: Ctx): Unit = { docs = c.spark.read.parquet(s"$input/docs.parquet") }

  private def gates(d: DataFrame): DataFrame = {
    val q = d.withColumn("q", TextAnalysis.qualityFeatures(col("text")))
      .filter(col("q.n_words") >= 40 && col("q.digit_ratio") < 0.2).drop("q")
    q.join(TextAnalysis.gopherRules(q).filter(col("pass")).select("doc_id"), Seq("doc_id"), "left_semi")
  }

  def pass(c: Ctx, dump: Boolean): Double = Dedup.withPipeline {
    val (spark, tr) = (c.spark, c.tr)
    val shardsDir = s"${c.out}/shards"
    val t0 = System.nanoTime()
    val (gated, exact, kept, folded, manifest) = tr.span("pass") {
      val gated = c.op("gates")(tr.span("operators.gates")(tr.touch(Dedup.materialize(gates(docs)))))
      val exact = c.op("exact_dedup")(tr.span("operators.exact_dedup")(
        tr.touch(Dedup.materialize(Dedup.exactKeep(gated)))))
      val kept = c.op("neardup")(tr.span("operators.neardup")(tr.touch(Dedup.materialize(
        Dedup.nearDupKeep(exact, NumHashes, RowsPerBand, ShingleK, Threshold)))))
      val folded = c.op("xval")(tr.span("operators.xval")(tr.touch(Dedup.materialize(
        Xval.nearDupAwareKfold(kept, 4, "doc_id", "text", NumHashes, RowsPerBand, ShingleK, Threshold)))))
      val manifest = c.op("export")(tr.span("operators.export")(
        TrainingExport.writeShards(folded, shardsDir, RowsPerShard, c.seed).collect()))
      (gated, exact, kept, folded, manifest)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (dump) {
      def ids(d: DataFrame, name: String): Unit =
        d.select("doc_id").coalesce(1).write.mode("overwrite").parquet(s"${c.out}/$name")
      ids(gated, "gated")
      ids(exact, "exact_kept")
      ids(kept, "near_kept")
      folded.select("doc_id", "fold").coalesce(1).write.mode("overwrite").parquet(s"${c.out}/folds")
      val leaks = Map(
        "exact" -> Xval.leakageAuditOn(folded).count(),
        "near" -> Xval.nearDupLeakageAuditOn(folded, "doc_id", "text", NumHashes,
          RowsPerBand, ShingleK, Threshold).count())
      writeString(s"${c.out}/outputs.json", Json.write(Map(
        "leak_rows" -> leaks, "manifest_rows" -> manifest.map(_.getAs[Long]("n_rows")).sum,
        "shards" -> manifest.length)))
    }
    tr.release()
    wall
  }

  override def probes(c: Ctx): Map[String, Double] = Dedup.withPipeline {
    val exact = Dedup.materialize(Dedup.exactKeep(gates(docs)))
    val candidates = Dedup.minhashCandidates(exact, NumHashes, RowsPerBand, ShingleK,
      Threshold, collapseExact = false).count()
    val removed = exact.count() -
      Dedup.nearDupKeep(exact, NumHashes, RowsPerBand, ShingleK, Threshold).count()
    Map("operators.neardup_candidates" -> candidates.toDouble,
      "operators.neardup_removed" -> removed.toDouble,
      "operators.lsh_useful_frac" -> (if (candidates == 0) 0.0 else removed.toDouble / candidates))
  }
}

/** One pass over job-bound SparkEntry headline queries on the fixed
  * seed-42 sf 0.01 test tables they read, each result collected.
  */
final class IterativeQueries(input: String) extends Workload {
  import Workload._

  import IterativeQueries.Queries

  private val meta = readMeta(input)
  private val dir = meta("tables_dir").toString
  private var order: Seq[String] = Queries

  def describe: Map[String, Any] = meta + ("queries" -> Queries)

  def setup(c: Ctx): Unit = {
    // the tables are fixed; the seed only permutes the query order
    order = new scala.util.Random(c.seed).shuffle(Queries)
    meta("tables").asInstanceOf[Seq[String]].foreach(t => Tables.load(c.spark, dir, t).schema)
  }

  def pass(c: Ctx, dump: Boolean): Double = {
    val tr = c.tr
    val results = ArrayBuffer.empty[(String, Array[Row], org.apache.spark.sql.types.StructType)]
    val t0 = System.nanoTime()
    tr.span("pass") {
      for (q <- order) {
        val id = q.takeWhile(_ != '_')
        try c.op(q) {
          tr.span(s"SparkEntry.$id") {
            val df = tr.span(s"SparkEntry.$id.plan")(SparkEntry.queries(q)(c.spark, dir))
            results += ((q, df.collect(), df.schema))
          }
        } catch { case _: Exception => () } // counted as failed; the pass goes on
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (dump) {
      for ((q, rows, schema) <- results)
        c.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${c.out}/results/$q")
      writeString(s"${c.out}/oracle_sql.json",
        Json.write(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    }
    wall
  }
}

object IterativeQueries {
  /** Job-bound headline queries, the engine roadmap's targets: job count
    * (q154), shuffle volume (q316) and the PageRank checkpoint lifecycle
    * (q203).
    */
  val Queries: Seq[String] = Seq(
    "q154_components_distributed", "q203_ppr_related", "q316_dedup_threshold_sweep")
}
