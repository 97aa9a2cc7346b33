package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import graft.plans.DspKernel

/** The built-in processor library: Spark-native re-expressions of the 14
  * reference processors (dabstract/dataprocessor/processors/processors.py).
  *
  * Cheap elementwise ops (Scaler, Logarithm, Normalizer, ExpandDims) are
  * Spark expressions mapped with `transform`; Logarithm keeps Spark's
  * `log10` (StrictMath), which a `Math.log10` kernel does not match bit
  * for bit. The heavy
  * DSP processors (Framing, Windowing, FFT, Filterbank, Aggregation, FIR,
  * Resample) each run one [[Dsp]] kernel per cell inside the native
  * [[DspKernel]] expression, on primitive `double[]` with no boxing.
  * Everything stays distributed (no collect, no driver loop).
  */

/** Helpers shared by array processors. */
object ArrayOps {
  /** Apply a scalar expression at nesting `depth` of an array column:
    * depth 0 = scalar column, 1 = array<double>, 2 = array<array<double>>.
    */
  def mapAtDepth(c: Column, depth: Int, f: Column => Column): Column =
    if (depth <= 0) f(c) else transform(c, x => mapAtDepth(x, depth - 1, f))

  /** Run a [[Dsp]] kernel over `data` (nested `depth` levels) as one
    * native [[DspKernel]] expression; `scalar` is an optional per-row
    * `double` handed to the kernel.
    */
  def kernel(name: String, data: Column, depth: Int, scalar: Option[Column] = None)(
      fn: DspKernel.Fn): Column =
    ColumnShim.column(DspKernel(
      (data +: scalar.toSeq).map(ColumnShim.expression), depth, fn, name))
}

/** Fixed-point rescale (reference Scaler, processors.py:168-195):
  * uint16 → /2^16, int16 → /(2^15-1), wav_2_01 → (x+1)/2. Invertible.
  */
final case class Scaler(scaleType: String, depth: Int = 1) extends Processor {
  def name = "Scaler"
  override def outputDepth = depth
  override def params = Map("type" -> scaleType, "depth" -> depth.toString)
  private def fwd(x: Column): Column = scaleType match {
    case "uint16"   => x / math.pow(2, 16)
    case "int16"    => x / (math.pow(2, 15) - 1)
    case "wav_2_01" => (x + 1) / 2
    case t => throw new IllegalArgumentException(s"Scaler type $t")
  }
  private def bwd(x: Column): Column = scaleType match {
    case "uint16"   => x * math.pow(2, 16)
    case "int16"    => x * (math.pow(2, 15) - 1)
    case "wav_2_01" => x * 2 - 1
    case t => throw new IllegalArgumentException(s"Scaler type $t")
  }
  def apply(data: Column, info: Column) = (ArrayOps.mapAtDepth(data, depth, fwd), info)
  override def isInvertible = true
  override def invert(data: Column, info: Column) = (ArrayOps.mapAtDepth(data, depth, bwd), info)
}

/** dB / natural log (reference Logarithm, processors.py:464-480). */
final case class Logarithm(logType: String = "base10", depth: Int = 1) extends Processor {
  def name = "Logarithm"
  override def outputDepth = depth
  override def params = Map("type" -> logType, "depth" -> depth.toString)
  private def fwd(x: Column): Column = logType match {
    case "base10"  => lit(20) * log10(x)
    case "natural" => log(x)
  }
  private def bwd(x: Column): Column = logType match {
    case "base10"  => pow(lit(10), x) / 20 // reference inverse, processors.py:475-479
    case "natural" => exp(x)
  }
  def apply(data: Column, info: Column) = (ArrayOps.mapAtDepth(data, depth, fwd), info)
  override def isInvertible = true
  override def invert(data: Column, info: Column) = (ArrayOps.mapAtDepth(data, depth, bwd), info)
}

/** Wrap one more array level (reference ExpandDims, processors.py:603-611,
  * axis=-1: each scalar becomes a 1-element array).
  */
final case class ExpandDims(depth: Int = 1) extends Processor {
  def name = "ExpandDims"
  override def outputDepth = depth + 1
  override def params = Map("depth" -> depth.toString)
  def apply(data: Column, info: Column) =
    (ArrayOps.mapAtDepth(data, depth, x => array(x)), info)
}

/** Identity (reference Dummy, processors.py:613-614). */
final case class DummyProcessor() extends Processor {
  def name = "Dummy"
  def apply(data: Column, info: Column) = (data, info)
  override def isInvertible = true
  override def invert(data: Column, info: Column) = (data, info)
}

/** Overlapping frames + window function, 1-D → 2-D (reference Framing,
  * processors.py:198-261). The frame length and step derive from the
  * per-row sample rate (1 / info.time_step, else info.fs), so rows at
  * different rates frame correctly.
  *
  * frame_length = round(windowsize*fs); step = round(stepsize*fs), both
  * rounded HALF_UP on the decimal form like Spark's `round`;
  * num_frames = floor((len - flen)/step) + 1; each frame multiplied by a
  * periodic window ([[Dsp.window]], the reference's Windowing with
  * fftbins=True). A signal shorter than one frame yields zero frames (the
  * reference asserts num_frames > 0, processors.py:242); a null signal or
  * sample rate yields null.
  */
final case class Framing(windowSize: Double, stepSize: Double,
    windowFunc: String = "hamming") extends Processor {
  def name = "Framing"
  override def outputDepth = 2
  override def params = Map("windowsize" -> windowSize.toString,
    "stepsize" -> stepSize.toString, "window_func" -> windowFunc)

  private def frames(x: Array[Double], fs: Double): Array[Array[Double]] = {
    val flen = Dsp.roundHalfUp(windowSize * fs)
    val step = Dsp.roundHalfUp(stepSize * fs)
    require(flen > 0 && step > 0,
      s"Framing at fs=$fs gives frame length $flen and step $step; both must be positive")
    Dsp.frames(x, step, Dsp.window(windowFunc, flen))
  }

  def apply(data: Column, info: Column): (Column, Column) = {
    Dsp.window(windowFunc, 0) // an unknown window name fails here, not in a task
    val fs = coalesce(lit(1.0) / info.getField("time_step"),
      info.getField("fs").cast("double"))
    val out = ArrayOps.kernel(name, data, 1, Some(fs))(DspKernel.VecToRows(frames))
    (out, Processor.withInfo(info, timeStep = Some(lit(stepSize))))
  }
}

/** Multiply an array by a window vector (reference Windowing,
  * processors.py:264-293) — applied along the innermost axis.
  */
final case class WindowingProcessor(windowFunc: String = "hamming",
    depth: Int = 1) extends Processor {
  def name = "Windowing"
  override def params = Map("window_func" -> windowFunc, "depth" -> depth.toString)
  def apply(data: Column, info: Column): (Column, Column) = {
    Dsp.window(windowFunc, 0) // an unknown window name fails here, not in a task
    (ArrayOps.kernel(name, data, math.max(depth, 1))(DspKernel.VecToVec(x =>
      Dsp.applyWindow(x, Dsp.window(windowFunc, x.length)))), info)
  }
}

/** FFT over the innermost axis (reference FFT, processors.py:296-351).
  * Hand-rolled Cooley–Tukey/Bluestein kernel ([[Dsp.fft]]) per vector;
  * nfft = nextpow2 (zero-pad) or original; output = magnitude | power |
  * split (re‖im) of the rfft bins. Sets info.nfft like the reference's
  * info dict.
  */
final case class FFTProcessor(format: String = "magnitude",
    nfftMode: String = "nextpow2", dcReset: Boolean = false,
    depth: Int = 2) extends Processor {
  def name = "FFT"
  override def outputDepth = depth
  override def params = Map("format" -> format, "nfft" -> nfftMode,
    "dc_reset" -> dcReset.toString, "depth" -> depth.toString)

  private def spectrum(x: Array[Double]): Array[Double] = {
    val nfft = if (nfftMode == "nextpow2") Dsp.nextPow2(x.length) else x.length
    val (re, im) = Dsp.rfft(x, nfft)
    val out: Array[Double] = format match {
      case "magnitude" => Array.tabulate(re.length)(i => math.hypot(re(i), im(i)))
      case "power"     => Array.tabulate(re.length)(i => re(i) * re(i) + im(i) * im(i))
      case "split"     => re ++ im
      case f => throw new IllegalArgumentException(s"FFT format $f")
    }
    if (dcReset) out(0) = 0.0
    out
  }

  def apply(data: Column, info: Column): (Column, Column) = {
    val out = ArrayOps.kernel(name, data, math.max(depth, 1))(DspKernel.VecToVec(spectrum))
    // nfft of the innermost axis; for depth=2 use the first frame's length
    // (none for zero frames: nextpow2 then reports 1, like Dsp.nextPow2(0))
    val innerLen = if (depth <= 1) size(data) else size(try_element_at(data, lit(1)))
    // The 1e-9 backoff keeps the metadata consistent with the kernel's
    // integer Dsp.nextPow2: at exact powers of two the double-precision
    // ln-ratio can land a hair above the integer (log2(2^29) =
    // 29.000000000000004), which would double the reported nfft.
    val nfft = if (nfftMode == "nextpow2")
      greatest(lit(1),
        pow(lit(2.0), ceil(log(2.0, innerLen.cast("double")) - lit(1e-9))).cast("int"))
    else innerLen
    (out, Processor.withInfo(info, nfft = Some(nfft)))
  }
}

/** Mel/linear triangular filterbank (reference Filterbank,
  * processors.py:354-461). The matrix is built once on the driver
  * ([[Dsp.filterbank]]) and closed over by the kernel — i.e. shipped with
  * the task closure; the per-vector work is one mat-vec.
  */
final case class Filterbank(nBands: Int, scale: String = "mel",
    fs: Int = 16000, nfft: Int = 512, fmin: Double = 0.0,
    fmax: Double = Double.PositiveInfinity, norm: Option[String] = None,
    depth: Int = 2) extends Processor {
  def name = "Filterbank"
  override def outputDepth = depth
  override def params = Map("n_bands" -> nBands.toString, "scale" -> scale,
    "fs" -> fs.toString, "nfft" -> nfft.toString, "fmin" -> fmin.toString,
    "fmax" -> fmax.toString, "depth" -> depth.toString) ++
    norm.map("norm" -> _)
  private val fbank = Dsp.filterbank(nBands, nfft, fs, scale, fmin, fmax, norm)
  private val support = Some(Dsp.bandSupport(fbank))
  def apply(data: Column, info: Column): (Column, Column) =
    (ArrayOps.kernel(name, data, math.max(depth, 1))(
      DspKernel.VecToVec(Dsp.applyFilterbank(_, fbank, support))), info)
}

/** Per-cell aggregation over the frame axis (reference Aggregation,
  * processors.py:483-520): mean/std/kurtosis of each column across frames,
  * stats concatenated (combine="concatenate"). Zero frames aggregate to
  * an empty array.
  */
final case class AggregationProcessor(methods: Seq[String]) extends Processor {
  def name = "Aggregation"
  override def outputDepth = 1
  override def params = Map("methods" -> methods.mkString(","))
  private val stats: Seq[Array[Double] => Double] = methods.map {
    case "mean"     => Dsp.mean _
    case "std"      => Dsp.std _
    case "kurtosis" => Dsp.kurtosis _
    case m => throw new IllegalArgumentException(s"Aggregation method $m")
  }
  private def aggregate(frames: Array[Array[Double]]): Array[Double] =
    if (frames.isEmpty) Array.empty[Double]
    else {
      val cols = Array.tabulate(frames.head.length)(j => frames.map(_(j)))
      stats.flatMap(f => cols.map(f)).toArray
    }
  def apply(data: Column, info: Column): (Column, Column) =
    (ArrayOps.kernel(name, data, 2)(DspKernel.RowsToVec(aggregate)),
      Processor.withInfo(info, timeStep = Some(lit(0.0))))
}

/** Fitted normalizer (reference Normalizer, processors.py:93-165).
  * `fit` is a full-column aggregate (Spark partial+final agg → collect of
  * a handful of doubles → constants folded into the transform expression —
  * the scalable two-phase pattern, SURVEY §2.4). Supports 1-D cells
  * (scalar stats over all elements, like sklearn on reshape(-1,1)).
  */
final case class Normalizer(normType: String = "standard",
    featureRange: (Double, Double) = (0.0, 1.0),
    stats: Option[(Double, Double)] = None, depth: Int = 1) extends Processor {
  def name = "Normalizer"
  override def outputDepth = depth
  override def params = Map("type" -> normType,
    "feature_range" -> s"${featureRange._1},${featureRange._2}",
    "depth" -> depth.toString) ++
    stats.map { case (a, b) => "stats" -> s"$a,$b" }
  override def needsFit = true

  override def fit(df: DataFrame, dataCol: String): Normalizer = {
    val flat = (1 to depth).foldLeft(df.select(col(dataCol).as("v"))) {
      (d, _) => d.select(explode(col("v")).as("v"))
    }
    val fitted = normType match {
      case "minmax" =>
        val r = flat.agg(min("v"), max("v")).head()
        (r.getDouble(0), r.getDouble(1))
      case "standard" =>
        val r = flat.agg(avg("v"), stddev_pop("v")).head()
        (r.getDouble(0), r.getDouble(1))
      case t => throw new IllegalArgumentException(s"Normalizer type $t")
    }
    copy(stats = Some(fitted))
  }

  private def fwd(x: Column): Column = {
    val (a, b) = stats.getOrElse(throw new IllegalStateException("Normalizer not fitted"))
    normType match {
      case "minmax" =>
        val (lo, hi) = featureRange
        (x - a) / (b - a) * (hi - lo) + lo
      case "standard" => (x - a) / b
    }
  }
  private def bwd(x: Column): Column = {
    val (a, b) = stats.getOrElse(throw new IllegalStateException("Normalizer not fitted"))
    normType match {
      case "minmax" =>
        val (lo, hi) = featureRange
        (x - lo) / (hi - lo) * (b - a) + a
      case "standard" => x * b + a
    }
  }
  def apply(data: Column, info: Column) = (ArrayOps.mapAtDepth(data, depth, fwd), info)
  override def isInvertible = true
  override def invert(data: Column, info: Column) = (ArrayOps.mapAtDepth(data, depth, bwd), info)
}

/** Windowed-sinc FIR filter (reference FIRFilter, processors.py:523-575):
  * design on the driver ([[Dsp.firwin]]), causal convolution per cell.
  */
final case class FIRFilter(filterType: String, f: Double, taps: Int = 101,
    fs: Double = 16000, window: String = "hamming", f2: Double = Double.NaN)
    extends Processor {
  def name = "FIRFilter"
  override def params = Map("type" -> filterType, "f" -> f.toString,
    "taps" -> taps.toString, "fs" -> fs.toString, "window" -> window,
    "f2" -> f2.toString)
  private val coeffs: Array[Double] = filterType match {
    case "lowpass"  => Dsp.firwin(taps, Array(f), fs, passZero = true, window)
    case "highpass" => Dsp.firwin(taps, Array(f), fs, passZero = false, window)
    case "bandpass" => Dsp.firwin(taps, Array(f, f2), fs, passZero = false, window)
    case "bandstop" => Dsp.firwin(taps, Array(f, f2), fs, passZero = true, window)
    case t => throw new IllegalArgumentException(s"FIRFilter type $t")
  }
  def apply(data: Column, info: Column) =
    (ArrayOps.kernel(name, data, 1)(DspKernel.VecToVec(Dsp.lfilter(coeffs, _))), info)
}

/** FFT-domain resample (reference Resample, processors.py:578-600):
  * new length = round(target_fs/fs * len); updates info.fs/time_step.
  */
final case class Resample(targetFs: Int, srcFs: Int = 16000) extends Processor {
  def name = "Resample"
  override def params = Map("target_fs" -> targetFs.toString, "src_fs" -> srcFs.toString)
  private def resample(x: Array[Double]): Array[Double] =
    Dsp.resample(x, math.round(targetFs.toDouble / srcFs * x.length).toInt)
  def apply(data: Column, info: Column) =
    (ArrayOps.kernel(name, data, 1)(DspKernel.VecToVec(resample)), Processor.withInfo(info,
      fs = Some(lit(targetFs)), timeStep = Some(lit(1.0 / targetFs))))
}
