package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.core.DabDataset
import graft.functions._
import graft.operators.Features

/** The heavy DSP processors run as the native [[graft.plans.DspKernel]]
  * expression. These specs pin: bit-identity against a driver-side fold
  * of the same [[Dsp]] functions, Spark-`round` parity of the frame
  * geometry, one rule for degenerate input, the info column's linear
  * growth, and chain fitting on the caller's info.
  */
class DspKernelSpec extends SparkSpec {
  import spark.implicits._

  /** info struct from an `fs` column, like the sources build it. */
  private def infoOf(fs: Column): Column = struct(
    fs.as("fs"), (lit(1.0) / fs).as("time_step"),
    lit(null).cast("array<int>").as("output_shape"), lit(null).cast("int").as("nfft"))

  private val Fs = 16000
  private def melChain: Seq[Processor] = Seq(
    Framing(0.032, 0.016, "hamming"), FFTProcessor("power", "nextpow2"),
    Filterbank(40, "mel", Fs, 512), Logarithm("base10", depth = 2),
    AggregationProcessor(Seq("mean", "std")))

  test("native mel chain == driver-side fold of the same Dsp functions, bit for bit") {
    val rnd = new scala.util.Random(20261017)
    val sigs = Seq.fill(6)(Array.fill(1500 + rnd.nextInt(6000))(rnd.nextGaussian() * 0.3))
    val df = sigs.map(s => Tuple1(s.toSeq)).toDF("data")
    val (feat, _) = Chain(melChain)(col("data"), Processor.initInfo(Fs))
    val native = df.select(feat).as[Seq[Double]].collect().toSeq

    val fb = Dsp.filterbank(40, 512, Fs, "mel")
    val fs = 1.0 / (1.0 / Fs) // Framing reads the rate back from info.time_step
    def driver(x: Array[Double]): Seq[Double] = {
      val frames = Dsp.frames(x, Dsp.roundHalfUp(0.016 * fs),
        Dsp.window("hamming", Dsp.roundHalfUp(0.032 * fs)))
      val db = frames.map { f =>
        val (re, im) = Dsp.rfft(f, Dsp.nextPow2(f.length))
        val power = Array.tabulate(re.length)(i => re(i) * re(i) + im(i) * im(i))
        Dsp.applyFilterbank(power, fb).map(v => 20 * StrictMath.log10(v)) // Spark's log10
      }
      val cols = db.transpose
      (cols.map(Dsp.mean) ++ cols.map(Dsp.std)).toSeq
    }
    assert(native.map(_.length) == sigs.map(s => 80))
    native.zip(sigs).foreach { case (got, x) => assert(got == driver(x)) }
  }

  test("Framing's frame length and step round HALF_UP exactly like Spark's round") {
    val rates = Seq(100, 200, 1000, 8000, 16000, 22050, 44100)
    val df = rates.map(r => (Seq.fill(4000)(1.0), r)).toDF("data", "fs")
    // ties at fs 100/200: 0.025·100, 0.015·100, 0.045·100, 0.0125·200, 0.0375·200
    for (ws <- Seq(0.0125, 0.015, 0.025, 0.0375, 0.032, 0.0225, 0.045)) {
      val (frames, _) = Framing(ws, ws, "none")(col("data"), infoOf(col("fs")))
      val rate = lit(1.0) / (lit(1.0) / col("fs"))
      val sparkLen = round(lit(ws) * rate).cast("int")
      val got = df.select(size(element_at(frames, 1)), size(frames), sparkLen)
        .as[(Int, Int, Int)].collect()
      got.zip(rates).foreach { case ((len, n, want), r) =>
        assert(len == want, s"ws=$ws fs=$r")
        assert(n == (4000 - want) / want + 1, s"ws=$ws fs=$r")
      }
    }
  }

  test("degenerate input: null in → null out, too short → zero frames, zero frames → empty") {
    val cases = Seq[(String, Option[Seq[Double]], Option[Int])](
      ("null cell", None, Some(100)),
      ("empty", Some(Nil), Some(100)),
      ("short", Some(Seq.fill(10)(1.0)), Some(100)),
      ("one frame", Some(Seq.tabulate(25)(i => 1.0 + i)), Some(100)),
      ("null fs", Some(Seq.fill(50)(1.0)), None))
    val df = cases.toDF("case", "data", "fs")
    val info = infoOf(col("fs"))
    val chain = Chain(Seq(Framing(0.25, 0.25, "hann"), WindowingProcessor("hamming", depth = 2),
      FFTProcessor("magnitude", "nextpow2"), Filterbank(4, "mel", 100, 32),
      Logarithm("base10", depth = 2), AggregationProcessor(Seq("mean", "std", "kurtosis"))))
    val (framed, _) = Framing(0.25, 0.25, "hann")(col("data"), info)
    val (feat, featInfo) = chain(col("data"), info)
    val rows = df.select(col("case"), framed.as("frames"), feat.as("feat"),
      featInfo.as("info")).collect()
      .map(r => r.getString(0) -> r).toMap
    type S[T] = scala.collection.Seq[T]
    def frames(c: String) = Option(rows(c).getAs[S[S[Double]]]("frames"))
    def feats(c: String) = Option(rows(c).getAs[S[Double]]("feat"))
    assert(frames("null cell").isEmpty && feats("null cell").isEmpty)
    assert(frames("null fs").isEmpty && feats("null fs").isEmpty)
    for (c <- Seq("empty", "short")) {
      assert(frames(c).contains(Nil), c)
      assert(feats(c).contains(Nil), c)
      assert(rows(c).getAs[Row]("info").getAs[S[Int]]("output_shape") == Seq(0), c)
    }
    assert(frames("one frame").map(_.map(_.length)).contains(Seq(25)))
    val one = feats("one frame").get
    assert(one.length == 12 && one.slice(4, 8).forall(_ == 0.0)) // std of one frame
    assert(rows("one frame").getAs[Row]("info").getAs[Double]("time_step") == 0.0)

    // every kernel processor, alone on a null cell, yields null
    val nullCell = Seq(Tuple1(Option.empty[Seq[Double]])).toDF("data")
    val nullFrames = Seq(Tuple1(Option.empty[Seq[Seq[Double]]])).toDF("data")
    val oneD: Seq[Processor] = Seq(Framing(0.25, 0.25), WindowingProcessor(),
      FFTProcessor(depth = 1), Filterbank(4, "mel", 100, 32, depth = 1),
      FIRFilter("lowpass", 10, taps = 5, fs = 100), Resample(50, 100))
    val twoD: Seq[Processor] = Seq(WindowingProcessor(depth = 2), FFTProcessor(),
      Filterbank(4, "mel", 100, 32), AggregationProcessor(Seq("mean")))
    for ((ps, in) <- Seq(oneD -> nullCell, twoD -> nullFrames); p <- ps) {
      val (out, _) = p(col("data"), Processor.initInfo(100))
      assert(in.select(out.isNull).as[Boolean].head(), p.name)
    }
    // empty 1-D signals stay empty through the vector → vector kernels
    val empty = Seq(Tuple1(Seq.empty[Double])).toDF("data")
    for (p <- Seq(WindowingProcessor(), FIRFilter("lowpass", 10, taps = 5, fs = 100),
        Resample(50, 100))) {
      val (out, _) = p(col("data"), Processor.initInfo(100))
      assert(empty.select(size(out)).as[Int].head() == 0, p.name)
    }
  }

  test("a 10-step chain's info analyzes and collects in seconds; 3-step info unchanged") {
    val df = Seq(Tuple1((0 until 64).map(i => math.sin(0.3 * i)))).toDF("data")
    val three = Chain(Seq(Framing(0.25, 0.25, "none"), FFTProcessor("magnitude", "nextpow2"),
      AggregationProcessor(Seq("mean", "std"))))
    val (_, info3) = three(col("data"), Processor.initInfo(64))
    // fs 64, flen 16 → nfft 16 → 9 bins × 2 stats; Aggregation sets time_step 0
    assert(df.select(info3).head().getStruct(0) == Row(64, 0.0, Seq(18), 16))

    val ten = Chain(Seq(Framing(0.25, 0.125, "hann"), WindowingProcessor("hamming", depth = 2),
      FFTProcessor("power", "nextpow2"), Filterbank(4, "mel", 64, 16),
      Logarithm("base10", depth = 2), Scaler("wav_2_01", depth = 2),
      AggregationProcessor(Seq("mean", "std")), Resample(32, 64), DummyProcessor(),
      ExpandDims()))
    val t0 = System.nanoTime()
    val (_, info10) = ten(col("data"), Processor.initInfo(64))
    val r = df.select(info10).head().getStruct(0)
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    // 7 frames → 4 bands × 2 stats = 8 → resampled to 4 → expanded to 4 × 1
    assert(r == Row(32, 1.0 / 32, Seq(4, 1), 16))
  }

  test("Chain.fit runs on the caller's info: Framing … Normalizer through prepareFeat") {
    val rnd = new scala.util.Random(7)
    val df = (0 until 8).map(i => (i.toLong, Seq.fill(3000)(rnd.nextGaussian()), 8000))
      .toDF(DabDataset.IdxCol, "data", "fs")
      .withColumn("info", infoOf(col("fs")))
    val chain = Chain(Seq(Framing(0.032, 0.016, "hamming"), FFTProcessor("power", "nextpow2"),
      Filterbank(20, "mel", 8000, 256), Logarithm("base10", depth = 2),
      AggregationProcessor(Seq("mean", "std")), Normalizer("standard")))
    val featPath = Files.createTempDirectory("graft_fit_info").toString + "/feat"
    val out = Features.prepareFeat(DabDataset.fromExisting(df), "data", Some("info"),
      chain, "feat", featPath)
    val vals = out.df.select(explode(col("feat"))).as[Double].collect()
    assert(vals.length == 8 * 40)
    assert(math.abs(Dsp.mean(vals)) < 1e-9)
    assert(math.abs(Dsp.std(vals) - 1.0) < 1e-9)
  }
}
