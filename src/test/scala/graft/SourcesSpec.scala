package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

import graft.core.DabDataset
import graft.functions.{Chain, Scaler}
import graft.operators.Features
import graft.sources.{FolderSource, WavCodec}
import graft.streaming.EventStreams

/** Custom processor fixture for the `!class` chain-config path (the
  * reference's dynamically imported custom_processor,
  * examples/introduction/.../Readme_1_dp_config_custom.yaml).
  */
class CustomDoubler extends graft.functions.Processor {
  def name = "CustomDoubler"
  def apply(data: org.apache.spark.sql.Column, info: org.apache.spark.sql.Column) =
    (org.apache.spark.sql.functions.transform(data, x => x * 2), info)
}

/** End-to-end source/sink flows: folder scan → wav decode → feature
  * materialization (the reference's FolderDictSeqAbstract + prepare_feat
  * paths), and the streaming surface over a bounded source.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wavRoot: String = {
    val root = Files.createTempDirectory("graft_wavs")
    for (subdb <- Seq("normal", "abnormal"); k <- 0 until 3) {
      val dir = root.resolve(subdb)
      Files.createDirectories(dir)
      val fs = 8000
      val samples = Array.tabulate(fs)(i =>
        0.4 * math.sin(2 * math.Pi * (if (subdb == "normal") 440 else 880) * i / fs))
      Files.write(dir.resolve(f"$k%03d.wav"), WavCodec.encodePcm16(samples, fs))
    }
    root.toString
  }

  test("folder scan: sorted rows, path columns, dense _idx (helpers.py:187-290)") {
    val ds = FolderSource.scan(spark, wavRoot)
    assert(ds.len == 6)
    val rows = ds.df.orderBy("_idx")
      .select("subdb", "filename").as[(String, String)].collect()
    // sorted by full path → abnormal/000..002 then normal/000..002
    assert(rows.take(3).forall(_._1 == "abnormal"))
    assert(rows.drop(3).forall(_._1 == "normal"))
    assert(rows.map(_._2).toSeq == Seq("000.wav", "001.wav", "002.wav",
      "000.wav", "001.wav", "002.wav"))
  }

  test("wav decode populates data + info struct (fs, time_step, shape)") {
    val ds = FolderSource.withDecodedAudio(FolderSource.scan(spark, wavRoot))
    val r = ds.df.orderBy("_idx")
      .select(size(col("data")), col("info.fs"), col("info.time_step"))
      .as[(Int, Int, Double)].head()
    assert(r == ((8000, 8000, 1.0 / 8000)))
  }

  test("joinMeta aligns a metadata table by filename (DCASE2020Task1B.py:63-70)") {
    val ds = FolderSource.scan(spark, wavRoot)
    val meta = Seq(("000.wav", "scene_a"), ("001.wav", "scene_b"))
      .toDF("filename", "scene")
    val joined = FolderSource.joinMeta(ds, meta)
    assert(joined.len == 6) // left join keeps all files
    val scenes = joined.df.filter(col("scene").isNotNull).count()
    assert(scenes == 4) // 2 matching filenames × 2 subdbs
  }

  test("file-info sidecar: written once, reused (helpers.py:377-393)") {
    val ds = FolderSource.scan(spark, wavRoot)
    val sidecar = Files.createTempDirectory("graft_sidecar").toString + "/file_info"
    val info1 = FolderSource.fileInfoSidecar(ds, sidecar)
    assert(info1.count() == 6)
    val info2 = FolderSource.fileInfoSidecar(ds, sidecar) // second call reads cache
    assert(info2.count() == 6)
  }

  test("prepareFeat: chain → parquet → joined back lazily; idempotent (dataset.py:703-928)") {
    val ds = FolderSource.withDecodedAudio(FolderSource.scan(spark, wavRoot))
    val featPath = Files.createTempDirectory("graft_feat").toString + "/feat"
    val chain = Chain(Seq(Scaler("wav_2_01")))
    val out = Features.prepareFeat(ds, "data", Some("info"), chain, "feat", featPath)
    assert(out.keys.contains("feat"))
    assert(out.len == 6)
    // round-trip equality: feat[0] == chain(data[0]) (test_dataset.py:401-415)
    val (data0, feat0) = out.df.orderBy("_idx")
      .select(col("data"), col("feat")).as[(Seq[Double], Seq[Double])].head()
    data0.zip(feat0).take(100).foreach { case (d, f) =>
      assert(math.abs((d + 1) / 2 - f) < 1e-12)
    }
    // idempotence: second call reuses the parquet (no recompute)
    val again = Features.prepareFeat(ds, "data", Some("info"), chain, "feat", featPath)
    assert(again.len == 6)
  }

  test("config-driven construction: concat-intersect + select + xval (helpers.py:14-93)") {
    val cfg =
      """{"datasets": [
        |   {"table": "documents", "name": "en_docs", "select": "lang = 'en'"},
        |   {"table": "documents", "name": "de_docs", "select": "lang = 'de'"}],
        | "select": "n_chars > 50",
        | "xval": {"strategy": "hash", "folds": 4, "key": "doc_id"}}""".stripMargin
    val ds = graft.sources.ConfigSource.fromJson(spark, sf(), cfg)
    val docs = Tables.documents(spark, sf())
    val expected = docs.filter("lang IN ('en','de') AND n_chars > 50").count()
    assert(ds.len == expected)
    assert(ds.keys.contains("dataset_id") && ds.keys.contains("fold"))
    assert(ds.keys.exists(_.startsWith("xval_train_fold_")))
    // dataset_id distinguishes the two config entries
    val ids = ds.df.select("dataset_id").distinct().as[Int].collect().toSet
    assert(ids == Set(0, 1))
    // folds deterministic across rebuilds
    val ds2 = graft.sources.ConfigSource.fromJson(spark, sf(), cfg)
    assert(ds2.df.select("doc_id", "fold").as[(Long, Int)].collect().toMap ==
      ds.df.select("doc_id", "fold").as[(Long, Int)].collect().toMap)
  }

  test("config split step chunks array columns") {
    val cfg =
      """{"datasets": [{"table": "embeddings", "name": "vecs"}],
        | "split": {"keys": ["embedding"], "win": 16}}""".stripMargin
    val ds = graft.sources.ConfigSource.fromJson(spark, sf(), cfg)
    assert(ds.len == Tables.embeddings(spark, sf()).count() * 4) // 64/16
  }

  test("yaml: !class step resolves a custom processor by JVM class path") {
    // mirrors Readme_1_dp_config_custom.yaml's final chain step
    val yaml =
      """chain:
        |  - name: Scaler
        |    parameters:
        |      type: wav_2_01
        |  - name: !class [graft.CustomDoubler]
        |""".stripMargin
    val chain = graft.sources.ConfigSource.chainFromYaml(yaml)
    assert(chain.steps.map(_.name) == Seq("Scaler", "CustomDoubler"))
    val df = Seq(Tuple1(Seq(1.0, 3.0))).toDF("data")
    val (out, _) = chain(col("data"), graft.functions.Processor.emptyInfo)
    // (x+1)/2 then ×2 → x+1
    assert(df.select(out).as[Seq[Double]].head() == Seq(2.0, 4.0))
  }

  test("config: seconds-mode split + select list (reference helpers.py:84-91 shapes)") {
    val mk: graft.sources.ConfigSource.Loader = (s, _) => {
      import s.implicits._
      (0 until 6).map(i => (i.toLong, (0 until 80).map(_.toDouble)))
        .toDF("id", "data")
        .select(col("id"), col("data"),
          struct(lit(100).as("fs"), lit(0.01).as("time_step")).as("info"))
    }
    val yaml =
      """datasets:
        |  - table: clips
        |split:
        |  keys: [data]
        |  seconds: 0.2
        |select:
        |  - "id < 4"
        |  - name: subsample_by_str
        |    parameters:
        |      key: id
        |      keep: [0, 1, 2]
        |""".stripMargin
    val ds = graft.sources.ConfigSource.fromYaml(spark, sf(), yaml,
      registry = Map("clips" -> mk))
    // 0.2 s at time_step 0.01 → win 20 → 80/20 = 4 chunks/row; selects keep 3 ids
    assert(ds.len == 3L * 4)
    assert(ds.df.select(size(col("data"))).as[Int].collect().forall(_ == 20))
    val idx = ds.df.select("_idx").as[Long].collect().sorted
    assert(idx.toSeq == (0L until 12L).toSeq) // renumbered dense after selects
  }

  test("streaming: tumbling counts over bounded parquet == batch result") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = EventStreams.tumblingCounts(
      Tables.events(spark, sf()), "1 minute")
    val streamed = EventStreams.runOnceOnParquet(spark, s"${sf()}/events.parquet",
      df => EventStreams.tumblingCounts(Tables.normalizeTs(df), "1 minute"),
      "test_tumbling_sink")
    assert(streamed.count() == batch.count())
    val b = batch.orderBy("w_start", "event_type").collect().toSeq
    val s = streamed.orderBy("w_start", "event_type").collect().toSeq
    assert(b == s)
  }

  test("streaming: runningTotals accumulates per-user state") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = Tables.events(spark, sf())
    val totals = EventStreams.runningTotals(spark, ev)
    val expected = ev.groupBy("user_id").agg(count(lit(1)), sum("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = totals.collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toMap
    assert(got == expected)
  }

  test("streaming: watermark drops late data (append-mode window finalization)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_sink")
      .outputMode("append").start()
    def t(min: Int, sec: Int = 0) =
      Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")
    try {
      input.addData((t(0), "a"), (t(0, 30), "a")) // window [10:00,10:01)
      q.processAllAvailable()
      input.addData((t(5), "a")) // advances watermark to 10:04 → 10:00 window finalizes
      q.processAllAvailable()
      input.addData((t(0, 45), "a")) // LATE: behind watermark → must be dropped
      q.processAllAvailable()
      input.addData((t(10), "a")) // close out the 10:05 window too
      q.processAllAvailable()
      val rows = spark.table("wm_sink")
        .select(col("window.start").cast("string"), col("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows("2024-01-01 10:00:00") == 2L,
        s"late event leaked into finalized window: $rows")
    } finally q.stop()
  }

  test("stream-stream interval join: matches within horizon, state bounded by watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Timestamp)]
    val joined = graft.streaming.EventStreams.clickPurchaseJoin(
      input.toDF().toDF("event_id", "user_id", "event_type", "ts"),
      watermark = "10 minutes", horizon = "2 hours")
    val q = joined.writeStream.format("memory").queryName("ssj_sink")
      .outputMode("append").start()
    def t(h: Int, min: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    try {
      input.addData(
        (1L, 7L, "purchase", t(10, 0)),
        (2L, 7L, "click", t(9, 59)),    // before the purchase → no match
        (3L, 7L, "click", t(10, 30)),   // within 2 h → match
        (4L, 7L, "click", t(12, 30)),   // 2.5 h later → outside horizon
        (5L, 8L, "click", t(10, 30)))   // other user → no match
      q.processAllAvailable()
      input.addData((6L, 7L, "click", t(12, 0))) // exactly at the boundary → match
      q.processAllAvailable()
      val rows = spark.table("ssj_sink")
        .select("user_id", "click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((7L, 3L, 1L), (7L, 6L, 1L)), rows.toString)
    } finally q.stop()
  }

  test("range decode reads bytes proportional to the chunk, not the clip") {
    val dir = Files.createTempDirectory("graft_bigwav")
    val fs = 8000
    // 120 s clip → ~1.9 MB on disk
    val big = Array.tabulate(fs * 120)(i => 0.3 * math.sin(2 * math.Pi * 220 * i / fs))
    val f = dir.resolve("big.wav")
    Files.write(f, WavCodec.encodePcm16(big, fs))
    val fileLen = Files.size(f)

    // golden: the pushed-down range equals the in-memory slice
    val w = WavCodec.decodeRange(f.toString, 1000, 1100)
    assert(w.samples.length == 100 && w.fs == fs)
    big.slice(1000, 1100).zip(w.samples).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-4)
    }

    // bytes-read proportionality via Hadoop's per-scheme statistics:
    // a 200-byte frame range must not pull the whole clip
    import scala.jdk.CollectionConverters._
    def fileBytesRead: Long = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    val before = fileBytesRead
    WavCodec.decodeRange(f.toString, 1000, 1100)
    val delta = fileBytesRead - before
    assert(delta < fileLen / 10, s"read $delta of $fileLen bytes for a 100-frame range")
  }

  test("scanPaths + withRangeDecodedAudio: distributed sub-file reads") {
    val ds = FolderSource.withRangeDecodedAudio(
      FolderSource.scanPaths(spark, wavRoot), startFrame = 100, stopFrame = 200)
    assert(ds.len == 6)
    val r = ds.df.orderBy("_idx")
      .select(size(col("data")), col("info.fs")).as[(Int, Int)].collect()
    assert(r.forall(_ == ((100, 8000))))
    // matches the full-decode slice
    val full = FolderSource.withDecodedAudio(FolderSource.scan(spark, wavRoot))
      .df.orderBy("_idx").select("data").as[Seq[Double]].head()
    val ranged = ds.df.orderBy("_idx").select("data").as[Seq[Double]].head()
    assert(ranged == full.slice(100, 200))
  }

  test("graft-wav DataSource V2: schema, values, column pruning, range pushdown") {
    import scala.jdk.CollectionConverters._
    def fileBytesRead: Long = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

    val df = spark.read.format("graft-wav").load(wavRoot)
    assert(df.columns.toSeq == Seq("filepath", "filename", "subdb", "fs",
      "channels", "total_frames", "data"))

    // full read matches the UDF decode path
    val viaDs = df.orderBy("filepath")
      .select("subdb", "filename", "fs", "data")
      .as[(String, String, Int, Seq[Double])].collect()
    val viaUdf = FolderSource.withDecodedAudio(FolderSource.scan(spark, wavRoot))
      .df.orderBy("_idx").select("subdb", "filename", "info.fs", "data")
      .as[(String, String, Int, Seq[Double])].collect()
    assert(viaDs.length == 6 && viaDs.toSeq == viaUdf.toSeq)

    // column pruning: a metadata-only query must not read audio bodies.
    // Files must dwarf the FS read-buffer granularity (~16 KB/open) for
    // the byte accounting to discriminate, so probe on 480 KB clips.
    val bigRoot = Files.createTempDirectory("graft_wav_big")
    for (k <- 0 until 2) {
      val samples = Array.tabulate(8000 * 30)(i => 0.3 * math.sin(0.17 * i))
      Files.write(bigRoot.resolve(f"clip$k%d.wav"), WavCodec.encodePcm16(samples, 8000))
    }
    val bigTotal = 2L * (8000 * 30 * 2 + 44)
    val before = fileBytesRead
    val meta = spark.read.format("graft-wav").load(bigRoot.toString)
      .select("filepath", "fs", "total_frames")
      .as[(String, Int, Long)].collect()
    val delta = fileBytesRead - before
    assert(meta.forall { case (_, fs, tf) => fs == 8000 && tf == 8000L * 30 })
    assert(delta < bigTotal / 5,
      s"metadata scan read $delta bytes of $bigTotal — pruning not pushed down")
    // the pruned plan's scan schema carries no data column
    val scanDesc = spark.read.format("graft-wav").load(wavRoot)
      .select("filepath").queryExecution.executedPlan.toString
    assert(!scanDesc.contains("data"), scanDesc)

    // frame-range pushdown: option-driven, matches the slice
    val ranged = spark.read.format("graft-wav")
      .option("frameStart", "100").option("frameStop", "200").load(wavRoot)
      .orderBy("filepath").select("data").as[Seq[Double]].head()
    assert(ranged == viaDs.head._4.slice(100, 200))
  }

  test("corrupt wav headers fail cleanly on both decode paths") {
    import java.nio.{ByteBuffer, ByteOrder}
    val good = WavCodec.encodePcm16(
      Array.tabulate(100)(i => 0.3 * math.sin(0.1 * i)), 8000)
    // encodePcm16 layout: fmt-chunk size at 16, channels at 22, bits at 34
    def mutated(patch: ByteBuffer => Unit): Array[Byte] = {
      val b = good.clone()
      patch(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN))
      b
    }
    val cases: Seq[(String, Array[Byte])] = Seq(
      "negative chunk size" -> mutated(_.putInt(16, -8)),
      // would overflow an Int chunk walk to a negative offset
      "huge chunk size" -> mutated(_.putInt(16, 0x7FFFFF00)),
      "zero bits" -> mutated(_.putShort(34, 0)),
      "zero channels" -> mutated(_.putShort(22, 0)),
      "truncated fmt chunk" -> mutated(_.putInt(16, 8)))
    val dir = Files.createTempDirectory("graft_badwav")
    cases.foreach { case (label, bytes) =>
      // in-memory path (decode → decodeRaw)
      val e1 = intercept[IllegalArgumentException](WavCodec.decode(bytes))
      assert(e1.getMessage.contains("wav"), s"$label via decode: ${e1.getMessage}")
      // positioned-read path (decodeRange → decodeRangeInfo)
      val f = dir.resolve(label.replace(' ', '_') + ".wav")
      Files.write(f, bytes)
      val e2 = intercept[IllegalArgumentException](
        WavCodec.decodeRange(f.toString, 0, 10))
      assert(e2.getMessage.contains("wav"), s"$label via decodeRange: ${e2.getMessage}")
    }
  }

  test("filepath is a shared join key across FolderSource and graft-wav DSv2") {
    // pins the scheme normalization (WavDataSource strips "file:" like
    // FolderSource does) — a revert would silently empty this join
    val viaFolder = FolderSource.scan(spark, wavRoot).df
      .select("filepath").as[String].collect().toSet
    val viaDsv2 = spark.read.format("graft-wav").load(wavRoot)
      .select("filepath").as[String].collect().toSet
    assert(viaFolder.size == 6 && viaFolder == viaDsv2)
    val joined = FolderSource.scan(spark, wavRoot).df
      .join(spark.read.format("graft-wav").load(wavRoot)
        .select(col("filepath"), col("total_frames")), Seq("filepath"))
    assert(joined.count() == 6)
  }

  test("streaming near-dup: stateful LSH equals batch candidates; cross-batch pairs found") {
    import graft.streaming.StreamingDedup
    import graft.operators.Dedup
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "the quick brown fox jumps over the lazy dog!", // near-dup of 0
      2L -> "completely different content about spark engines",
      3L -> "completely different content about spark engines!!", // near-dup of 2
      4L -> "unrelated third topic with its own words entirely")
    val docs = texts.toDF("doc_id", "text")

    // batch-mode equivalence: same within-bucket candidate semantics as
    // the batch LSH operator (no exact-collapse so ids line up)
    val stream = StreamingDedup.nearDupCandidates(spark, docs,
        numHashes = 32, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    val batch = Dedup.minhashCandidates(docs, numHashes = 32, rowsPerBand = 4,
        threshold = 0.5, collapseExact = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(stream == batch, s"stream=$stream batch=$batch")
    assert(stream.contains((0L, 1L)) && stream.contains((2L, 3L)))

    // maxPerBucket eviction: with capacity 1 per bucket, doc 0's
    // signature is evicted by doc 2's arrival (id order), so the (0,1)
    // pair can only surface if 0 survived — with the near-dup corpus all
    // in distinct buckets except the dup pairs, capacity 1 still finds
    // pairs whose partners arrive consecutively but drops none here
    // beyond bucket history; assert the op stays consistent (subset)
    val capped = StreamingDedup.nearDupCandidates(spark, docs,
        numHashes = 32, rowsPerBand = 4, threshold = 0.5, maxPerBucket = 1)
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(stream))

    // true streaming: the match arrives in a LATER batch than its partner
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = StreamingDedup.nearDupCandidates(spark,
      input.toDF().toDF("doc_id", "text"), numHashes = 32, rowsPerBand = 4,
      threshold = 0.5)
    val q = out.writeStream.format("memory").queryName("neardup_sink")
      .outputMode("append").start()
    try {
      input.addData(0L -> texts(0)._2, 2L -> texts(2)._2)
      q.processAllAvailable()
      assert(spark.table("neardup_sink").count() == 0) // nothing similar yet
      input.addData(1L -> texts(1)._2, 4L -> texts(4)._2)
      q.processAllAvailable()
      val pairs = spark.table("neardup_sink")
        .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
      assert(pairs == Set((0L, 1L))) // cross-batch pair vs stored state
    } finally q.stop()
  }

  test("streaming decontamination: cross-batch arrivals match the static index; final counts ≡ batch operator") {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val benchTxt = "what is the capital of france the capital of france is paris"
    val bench = Seq(1000L -> benchTxt).toDF("doc_id", "text")
    val train = Seq(
      0L -> benchTxt,                                   // verbatim leak
      1L -> (benchTxt + " indeed"),                     // near copy
      2L -> "unrelated training document about query engines")
    val idx = graft.operators.Dedup.minhashIndex(bench, 32, 4, 5)
    val input = MemoryStream[(Long, String)]
    val out = StreamingDedup.decontaminateStream(spark,
      input.toDF().toDF("doc_id", "text"), idx,
      numHashes = 32, rowsPerBand = 4, k = 5, threshold = 0.3)
    val q = out.writeStream.format("memory").queryName("decon_sink")
      .outputMode("complete").start()
    try {
      input.addData(train(2)) // batch 1: clean doc only
      q.processAllAvailable()
      assert(spark.table("decon_sink").count() == 0)
      input.addData(train(0), train(1)) // batch 2: the leaks arrive
      q.processAllAvailable()
      val got = spark.table("decon_sink")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.keySet == Set(0L, 1L))
      assert(got(0L) == ((1L, 1.0)))
      // batch operator over the union of all batches agrees
      val batch = graft.operators.Dedup.fuzzyDecontaminate(train.toDF("doc_id", "text"),
          bench, 32, 4, 5, 0.3)
        .filter(col("contaminated"))
        .select("doc_id", "n_bench_matches", "max_est_jaccard")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming near-dup TTL: expired bucket entries stop matching; fresh ones still do") {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = "the quick brown fox jumps over the lazy dog"
    val aDup = "the quick brown fox jumps over the lazy dog!"
    val b = "completely different content about spark engines"
    val bDup = "completely different content about spark engines!!"
    val input = MemoryStream[(Long, String)]
    val ttlMs = 5000L
    val out = StreamingDedup.nearDupCandidates(spark,
      input.toDF().toDF("doc_id", "text"), numHashes = 32, rowsPerBand = 4,
      threshold = 0.5, stateTtlMs = ttlMs)
    // NOTE: processAllAvailable would hang here — with ProcessingTimeTimeout
    // the engine keeps constructing timeout-check batches, so the no-new-data
    // signal never fires. Synchronize on reported source progress instead.
    val q = out.writeStream.format("memory").queryName("neardup_ttl_sink")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def awaitInputRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.map(_.numInputRows).sum < n) {
        assert(System.currentTimeMillis() < deadline, s"timed out waiting for $n input rows")
        assert(q.exception.isEmpty, s"query failed: ${q.exception}")
        Thread.sleep(50)
      }
    }
    try {
      input.addData(0L -> a)
      awaitInputRows(1)
      Thread.sleep(ttlMs + 1500) // > TTL: doc 0's state entries expire
      input.addData(1L -> aDup, 2L -> b)
      awaitInputRows(3)
      // doc 0 aged out → its near-dup arriving after the TTL finds nothing
      assert(spark.table("neardup_ttl_sink").count() == 0,
        "expired entry must not match")
      input.addData(3L -> bDup) // within TTL of doc 2's arrival
      awaitInputRows(4)
      val pairs = spark.table("neardup_ttl_sink")
        .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
      assert(pairs == Set((2L, 3L)), s"fresh entries must still match: $pairs")
    } finally q.stop()
  }

  test("curation scorers are batch/stream unified (stateless projections)") {
    // quality + perplexity scoring are row-local expressions, so the same
    // code runs under readStream unchanged — the incremental-ingest shape
    // of a curation pipeline (score each arriving shard, no state)
    import graft.operators.TextAnalysis
    val dir = Files.createTempDirectory("graft_stream_docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001") + "/documents.parquet"),
      dir.resolve("part-0.parquet"))
    val schema = spark.read.parquet(dir.toString).schema
    def stream() = spark.readStream.schema(schema).parquet(dir.toString)
    def drain(df: org.apache.spark.sql.DataFrame, sink: String): Unit = {
      val q = df.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    drain(TextAnalysis.perplexityScore(stream()), "ppl_stream")
    assert(spark.table("ppl_stream").as[(Long, Long, Long, Long)].collect().toSet ==
      TextAnalysis.perplexityScore(spark.read.parquet(dir.toString))
        .as[(Long, Long, Long, Long)].collect().toSet)
    drain(TextAnalysis.scoreLinear(stream(), dim = 1024, seed = 42L)
      .select($"doc_id", $"score"), "lin_stream")
    assert(spark.table("lin_stream").as[(Long, Double)].collect().toSet ==
      TextAnalysis.scoreLinear(spark.read.parquet(dir.toString), dim = 1024, seed = 42L)
        .select($"doc_id", $"score").as[(Long, Double)].collect().toSet)
    assert(spark.table("ppl_stream").count() > 0)
    // round-7 scorers are equally row-local: Gopher rules, DSIR weights,
    // and context chunking all run under readStream unchanged
    drain(TextAnalysis.gopherRules(stream()), "gopher_stream")
    assert(spark.table("gopher_stream").collect().map(_.toSeq).toSet ==
      TextAnalysis.gopherRules(spark.read.parquet(dir.toString))
        .collect().map(_.toSeq).toSet)
    drain(TextAnalysis.dsirWeights(stream()), "dsir_stream")
    assert(spark.table("dsir_stream").as[(Long, Long, Long)].collect().toSet ==
      TextAnalysis.dsirWeights(spark.read.parquet(dir.toString))
        .as[(Long, Long, Long)].collect().toSet)
    drain(TextAnalysis.chunkByWords(stream(), win = 20, stride = 15), "chunk_stream")
    assert(spark.table("chunk_stream").collect().map(_.toSeq).toSet ==
      TextAnalysis.chunkByWords(spark.read.parquet(dir.toString),
        win = 20, stride = 15).collect().map(_.toSeq).toSet)
    assert(spark.table("gopher_stream").count() > 0 &&
      spark.table("chunk_stream").count() > 0)
  }

  test("incremental exact dedup runs under readStream (stream-static anti-join)") {
    // the continuous form of the q102 shape: a static digest index from
    // the accumulated corpus, arriving shards anti-join it and dedup
    // within the stream by digest — same operators, stream input
    import graft.operators.Dedup
    val idx = Dedup.exactIndex(
      Seq((0L, "body A"), (1L, "body B")).toDF("doc_id", "text"))
    val dir = Files.createTempDirectory("graft_stream_shard")
    Seq((10L, "body A"), (11L, "body C"), (12L, "body C"), (13L, "body D"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val novel = spark.readStream.schema(schema).parquet(dir.toString)
      .withColumn("_digest", md5(col("text")))
      .join(idx.select(col("digest").as("_digest")), Seq("_digest"), "left_anti")
      .dropDuplicates("_digest")
    val q = novel.writeStream.format("memory").queryName("exact_inc_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val kept = spark.table("exact_inc_stream")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size == 2)                     // one C survivor + D
    assert(kept.contains(13L))                 // the unique new doc
    assert(kept.contains(11L) || kept.contains(12L)) // one of the C pair
    assert(!kept.contains(10L))                // indexed body dropped
  }

  test("DocumentSource reads jsonl/csv corpora into (doc_id, text, ...)") {
    import graft.sources.DocumentSource
    val dir = Files.createTempDirectory("graft_docs")
    val jsonl = dir.resolve("corpus.jsonl")
    Files.write(jsonl, Seq(
      """{"id": 10, "text": "first document", "lang": "en"}""",
      """{"id": 11, "text": "second document", "lang": "de"}""")
      .mkString("\n").getBytes("UTF-8"))
    val viaId = DocumentSource.read(spark, jsonl.toString, idField = Some("id"))
    assert(viaId.columns.contains("doc_id") && viaId.columns.contains("text"))
    assert(viaId.select("doc_id", "text").as[(Long, String)].collect().toSet ==
      Set((10L, "first document"), (11L, "second document")))
    // no id column → synthesized doc_id is stable across reads
    val synth1 = DocumentSource.read(spark, jsonl.toString)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val synth2 = DocumentSource.read(spark, jsonl.toString)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(synth1 == synth2 && synth1.map(_._1).size == 2)
    // csv with a custom text field name
    val csv = dir.resolve("corpus.csv")
    Files.write(csv, "content,source\nhello world,web\n".getBytes("UTF-8"))
    val viaCsv = DocumentSource.read(spark, csv.toString, textField = "content")
    assert(viaCsv.select("text").as[String].collect().toSeq == Seq("hello world"))
    // missing text column fails with a clear message
    val e = intercept[IllegalArgumentException](
      DocumentSource.read(spark, csv.toString, textField = "body"))
    assert(e.getMessage.contains("body"))
  }

  test("DocumentSource split-ordinal ids: one giant file, many splits, no shuffle") {
    import graft.sources.DocumentSource
    val dir = Files.createTempDirectory("graft_monolith")
    val jsonl = dir.resolve("monolith.jsonl")
    val n = 2000
    Files.write(jsonl, (0 until n).map(i =>
      s"""{"text": "document number $i with some padding words to take space"}""")
      .mkString("\n").getBytes("UTF-8"))
    // force Spark to split the single file into many partitions — the
    // monolithic-ingest case the file-ordinal strategy funnels
    withConf("spark.sql.files.maxPartitionBytes", "8192") {
      val df = DocumentSource.read(spark, jsonl.toString,
        idStrategy = "split-ordinal")
      assert(df.rdd.getNumPartitions > 4,
        s"file should have split (got ${df.rdd.getNumPartitions} partitions)")
      // fully map-side: no Exchange (shuffle) and no Window in the plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Window"),
        s"split-ordinal id must be map-side, got:\n$plan")
      // ids unique across all splits; count intact
      val ids = df.select("doc_id").as[Long].collect()
      assert(ids.length == n && ids.toSet.size == n)
      // the default strategy still yields unique ids here (documented
      // funnel aside) and stays layout-stable
      val fileOrd = DocumentSource.read(spark, jsonl.toString)
        .select("doc_id").as[Long].collect()
      assert(fileOrd.length == n && fileOrd.toSet.size == n)
    }
  }

  test("scoreLinear weights load from text and parquet sidecars identically") {
    import graft.operators.TextAnalysis
    val dim = 64
    val w = graft.functions.Hashing.qualityWeights(dim, seed = 42L)
    val docs = Seq((0L, "spark streams fast"), (1L, "don't stop me now"))
      .toDF("doc_id", "text")
    val expect = TextAnalysis.scoreLinear(docs, dim = dim, seed = 42L)
      .select("doc_id", "score_raw").as[(Long, Long)].collect().toMap

    val dir = Files.createTempDirectory("graft_weights")
    // text: one weight per line, bucket = line number
    val txt = dir.resolve("weights.txt")
    Files.write(txt, w.mkString("\n").getBytes("UTF-8"))
    val fromTxt = TextAnalysis.loadWeights(spark, txt.toString, dim)
    assert(fromTxt.toSeq == w.toSeq)
    // parquet: (bucket, weight) rows in any order
    val pq = dir.resolve("weights.parquet").toString
    w.zipWithIndex.map { case (v, b) => (b, v) }.toSeq.toDF("bucket", "weight")
      .write.parquet(pq)
    val fromPq = TextAnalysis.loadWeights(spark, pq, dim)
    assert(fromPq.toSeq == w.toSeq)
    // the scoring path is identical with file-loaded weights
    val got = TextAnalysis.scoreLinear(docs, dim = dim,
        weights = Some(fromTxt))
      .select("doc_id", "score_raw").as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  test("folder scan with resample-on-read: info reflects the requested rate") {
    val ds = FolderSource.withDecodedAudio(FolderSource.scan(spark, wavRoot),
      targetFs = Some(4000), resample = true)
    val r = ds.df.orderBy("_idx")
      .select(size(col("data")), col("info.fs"), col("info.time_step"))
      .as[(Int, Int, Double)].head()
    assert(r == ((4000, 4000, 1.0 / 4000))) // 1 s of 8 kHz audio → 4000 frames
  }

  test("yaml: reference dirs config — anchors, multi-line !pathjoin/!usjoin/!kwarg (utils.py:13-146)") {
    // mirrors examples/introduction/configs/dirs/local.yaml
    val yaml =
      """# base
        |base_data: &base_data data
        |base_results: &base_results results
        |
        |base_datasets:
        |    EXAMPLE:
        |      data: !pathjoin [*base_data, example, data]
        |      meta: !pathjoin [*base_data, example, data]
        |
        |features: features
        |expname: &results_name !pathjoin [!kwarg [dataset],
        |                                  !usjoin [!kwarg [features],
        |                                           !kwarg [proc_chain_data]]]
        |results: !pathjoin [*base_results, *results_name]
        |missing: !kwarg [not, there]
        |""".stripMargin
    val cfg = graft.sources.Yaml.parse(yaml, Map(
      "dataset" -> "EXAMPLE", "features" -> "mel40", "proc_chain_data" -> "fft"))
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    assert((cfg \ "base_datasets" \ "EXAMPLE" \ "data").extract[String] == "data/example/data")
    assert((cfg \ "expname").extract[String] == "EXAMPLE/mel40_fft")
    assert((cfg \ "results").extract[String] == "results/EXAMPLE/mel40_fft")
    // reference fallback: unresolved !kwarg yields the dotted lookup path
    assert((cfg \ "missing").extract[String] == ".not.there")
  }

  test("yaml: anchor on a block value binds the indented map, not an empty scalar") {
    // the common defaults pattern: `key: &a` + indented block; the parser
    // must parse the block AND make it available through the alias
    val yaml =
      """common: &proc
        |  name: FFT
        |  params:
        |    nfft: 512
        |    format: magnitude
        |chain1: *proc
        |inline_anchor: &num 42
        |inline_alias: *num
        |""".stripMargin
    val cfg = graft.sources.Yaml.parse(yaml)
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    assert((cfg \ "common" \ "params" \ "nfft").extract[Int] == 512)
    assert((cfg \ "chain1" \ "name").extract[String] == "FFT")
    assert((cfg \ "chain1" \ "params" \ "format").extract[String] == "magnitude")
    assert((cfg \ "inline_alias").extract[Int] == 42)
  }

  test("yaml: dirs→db kwargs injection resolves cross-config paths (DCASE2020Task1A.yaml)") {
    // verbatim examples/DCASE2020Task1/configs/dirs/local.yaml (EXAMPLE rows)
    val dirsYaml =
      """base_data: &base_data data
        |base_datasets:
        |    DCASE2020Task1B:
        |      data: !pathjoin [*base_data, DCASE2020,datasets,TAU-urban-acoustic-scenes-2020-3class-development,audio]
        |      meta: !pathjoin [*base_data, DCASE2020,datasets,TAU-urban-acoustic-scenes-2020-3class-development]
        |      feat: !pathjoin [*base_data, DCASE2020,features]
        |    DCASE2020Task1A:
        |      data: !pathjoin [*base_data, DCASE2020,datasets,TAU-urban-acoustic-scenes-2020-mobile-development,audio]
        |      meta: !pathjoin [*base_data, DCASE2020,datasets,TAU-urban-acoustic-scenes-2020-mobile-development]
        |      feat: !pathjoin [*base_data, DCASE2020,features]
        |""".stripMargin
    // verbatim examples/DCASE2020Task1/configs/db/DCASE2020Task1A.yaml
    val dbYaml =
      """datasets:
        |  - name: DCASE2020Task1A
        |    parameters:
        |      paths:
        |        data: !kwarg [base_datasets,DCASE2020Task1A,data]
        |        meta: !kwarg [base_datasets,DCASE2020Task1A,meta]
        |        feat: !kwarg [base_datasets,DCASE2020Task1B,feat]
        |""".stripMargin
    val dirs = graft.sources.Yaml.toPlain(graft.sources.Yaml.parse(dirsYaml))
      .asInstanceOf[Map[String, Any]]
    val db = graft.sources.Yaml.parse(dbYaml, dirs)
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val paths = (db \ "datasets")(0) \ "parameters" \ "paths"
    assert((paths \ "data").extract[String] ==
      "data/DCASE2020/datasets/TAU-urban-acoustic-scenes-2020-mobile-development/audio")
    assert((paths \ "meta").extract[String] ==
      "data/DCASE2020/datasets/TAU-urban-acoustic-scenes-2020-mobile-development")
    // feat deliberately borrows Task1B's feature dir in the reference config
    assert((paths \ "feat").extract[String] == "data/DCASE2020/features")
  }

  test("yaml: reference dp-chain config builds the processor chain (DCASE2020Task1_avg.yaml)") {
    val yaml =
      """chain:
        |  - name: Framing
        |    parameters:
        |      windowsize: 0.040
        |      stepsize: 0.020
        |      axis: -1
        |  - name: FFT
        |    parameters:
        |      format: magnitude
        |  - name: Filterbank
        |    parameters:
        |      scale: mel
        |      n_bands: 40
        |  - name: Logarithm
        |  - name: Aggregation
        |    parameters:
        |      methods: [mean,std]
        |      combine: concatenate
        |      axis: 0
        |""".stripMargin
    val chain = graft.sources.ConfigSource.chainFromYaml(yaml)
    assert(chain.steps.map(_.name) ==
      Seq("Framing", "FFT", "Filterbank", "Logarithm", "Aggregation"))
  }

  test("yaml config pipeline: ported EXAMPLE_anomaly_subsample shape end-to-end") {
    val dir = sf()
    // the reference config's structure (two filtered instances of one db,
    // the second test-only, then a dataset-wide random subsample) ported
    // onto the driver documents table
    val yaml =
      s"""base: &base $dir
        |datasets:
        |  - name: documents
        |    parameters:
        |      paths:
        |        data: *base
        |      select:
        |        name: subsample_by_str
        |        parameters:
        |          key: lang
        |          keep: en
        |      test_only: 0
        |  - name: documents
        |    parameters:
        |      paths:
        |        data: *base
        |      select:
        |        name: subsample_by_str
        |        parameters:
        |          key: lang
        |          keep: [de]
        |      test_only: 1
        |select:
        |  name: random_subsample
        |  parameters:
        |    ratio: 0.5
        |    seed: 5
        |""".stripMargin
    val ds = graft.sources.ConfigSource.fromYaml(spark, dir, yaml)
    val docs = Tables.load(spark, dir, "documents")
    val en = docs.filter($"lang" === "en").count()
    val de = docs.filter($"lang" === "de").count()
    assert(en > 0 && de > 0)
    val n = ds.len
    assert(n > 0 && n < en + de) // subsample actually dropped rows
    // test_only flags follow their source dataset (dataset_id 0 = en, 1 = de)
    val flags = ds.df.select("dataset_id", "test_only").distinct()
      .as[(Int, Double)].collect().toSet
    assert(flags.subsetOf(Set((0, 0.0), (1, 1.0))) && flags.nonEmpty)
    // _idx renumbered dense after the subsample
    val idx = ds.df.select("_idx").as[Long].collect().sorted
    assert(idx.toSeq == (0L until n).toSeq)
  }

  test("streaming: watermarked dedup keeps one row per event_id") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = Tables.events(spark, sf())
    val dup = Files.createTempDirectory("graft_dup").toString + "/doubled"
    ev.union(ev).write.parquet(dup) // duplicated source
    val deduped = EventStreams.runOnceOnParquet(spark, dup,
      df => EventStreams.dedupStream(df), "test_dedup_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(deduped.count() == ev.count())
  }

  test("streaming curation: Gopher flags + quality + chunking on a stream == batch") {
    // the stateless curation projections (pure expressions / generators,
    // no window, no state) must drop onto readStream unchanged — the
    // shape a streaming ingest gate runs them in
    import graft.operators.TextAnalysis
    val docsPath = s"${sf()}/documents.parquet"
    def curate(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.gopherRules(df, carry = Seq("source"))
        .select($"doc_id", $"source", $"n_words", $"pass")
    val batch = curate(Tables.documents(spark, sf()))
      .orderBy("doc_id").collect().toSeq
    val streamed = EventStreams.runOnceOnParquet(spark, docsPath,
      curate, "test_curation_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    // chunking (a generator) is equally stream-safe
    val chunksBatch = TextAnalysis.chunkByWords(
      Tables.documents(spark, sf()), win = 20, stride = 15)
      .orderBy("doc_id", "chunk_id").collect().toSeq
    val chunksStream = EventStreams.runOnceOnParquet(spark, docsPath,
      df => TextAnalysis.chunkByWords(df, win = 20, stride = 15),
      "test_chunk_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("doc_id", "chunk_id").collect().toSeq
    assert(chunksStream == chunksBatch)
  }

  test("writeShards: bounded shards, manifest matches read-back, deterministic") {
    import graft.sources.TrainingExport
    val docs = (0L until 100L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val out = Files.createTempDirectory("graft_shards").toString + "/export"
    val man = TrainingExport.writeShards(docs, out, rowsPerShard = 16, seed = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    // 100 rows / 16 → shards 0..6, sizes 16×6 + 4
    assert(man.map(_._1).toSeq == (0L to 6L))
    assert(man.map(_._2).toSeq == Seq(16L, 16L, 16L, 16L, 16L, 16L, 4L))
    // read-back: each shard dir holds exactly its manifest rows, and the
    // recomputed digest matches (any reader can audit a shard alone)
    // partition-column inference reads `shard` back as INT — normalize
    val back = spark.read.parquet(out).withColumn("shard", $"shard".cast("long"))
    val backMan = back.groupBy("shard")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.array_join(
            org.apache.spark.sql.functions.transform(
              org.apache.spark.sql.functions.sort_array(
                org.apache.spark.sql.functions.collect_list($"doc_id")),
              x => x.cast("string")), ",")).as("id_digest"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(backMan.toSeq == man.toSeq)
    // shard_pos is a dense 0..n-1 order inside each shard
    val pos = back.filter($"shard" === 0L)
      .select($"shard_pos").as[Long].collect().sorted
    assert(pos.toSeq == (0L until 16L))
    // determinism: a rerun shards identically; a different seed does not
    val again = TrainingExport.manifest(docs, rowsPerShard = 16, seed = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(again.toSeq == man.toSeq)
    val other = TrainingExport.manifest(docs, rowsPerShard = 16, seed = 6)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(other.toMap != man.map(t => (t._1, t._3)).toMap)
  }
}
