package graft.functions

/** Pure-Scala DSP kernels (FFT, filterbank, FIR design, resample, window
  * functions). Hand-rolled because the build is offline (SURVEY §7.1) —
  * these re-implement the *published formulas* the reference delegates to
  * numpy/scipy (reference: dabstract/dataprocessor/processors/processors.py:296-600).
  *
  * All kernels are per-row (per-cell) and allocation-conscious: the DSP
  * processors run them inside executor tasks through the native
  * [[graft.plans.DspKernel]] expression, on primitive arrays, so the
  * engine's distribution story is Spark's — these only need to be fast on
  * one array at a time.
  */
object Dsp {

  // ---------- FFT ----------

  /** In-place iterative radix-2 Cooley–Tukey. n must be a power of 2. */
  def fftPow2(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require((n & (n - 1)) == 0, s"fftPow2 needs power-of-2 length, got $n")
    // bit-reversal permutation
    var i = 1
    var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wRe = math.cos(ang)
      val wIm = math.sin(ang)
      var k = 0
      while (k < n) {
        var curRe = 1.0
        var curIm = 0.0
        var l = 0
        while (l < len / 2) {
          val uRe = re(k + l); val uIm = im(k + l)
          val vRe = re(k + l + len / 2) * curRe - im(k + l + len / 2) * curIm
          val vIm = re(k + l + len / 2) * curIm + im(k + l + len / 2) * curRe
          re(k + l) = uRe + vRe; im(k + l) = uIm + vIm
          re(k + l + len / 2) = uRe - vRe; im(k + l + len / 2) = uIm - vIm
          val nRe = curRe * wRe - curIm * wIm
          curIm = curRe * wIm + curIm * wRe
          curRe = nRe
          l += 1
        }
        k += len
      }
      len <<= 1
    }
  }

  def ifftPow2(re: Array[Double], im: Array[Double]): Unit = {
    var i = 0
    while (i < im.length) { im(i) = -im(i); i += 1 }
    fftPow2(re, im)
    val n = re.length
    i = 0
    while (i < n) { re(i) /= n; im(i) = -im(i) / n; i += 1 }
  }

  /** Complex DFT of arbitrary length via Bluestein's algorithm (chirp-z),
    * so `nfft = "original"` works for non-power-of-2 lengths like numpy's
    * `np.fft.fft` (reference processors.py:316-321).
    */
  def fft(re: Array[Double], im: Array[Double]): (Array[Double], Array[Double]) = {
    val n = re.length
    if ((n & (n - 1)) == 0) {
      val r = re.clone(); val i = im.clone()
      fftPow2(r, i)
      (r, i)
    } else {
      // Bluestein: x_k * chirp -> convolve with conj chirp -> * chirp
      val m = Integer.highestOneBit(2 * n - 1) * 2
      val cosT = new Array[Double](n)
      val sinT = new Array[Double](n)
      var k = 0
      while (k < n) {
        val j = (k.toLong * k) % (2L * n)
        val ang = math.Pi * j / n
        cosT(k) = math.cos(ang); sinT(k) = math.sin(ang)
        k += 1
      }
      val aRe = new Array[Double](m); val aIm = new Array[Double](m)
      k = 0
      while (k < n) {
        aRe(k) = re(k) * cosT(k) + im(k) * sinT(k)
        aIm(k) = -re(k) * sinT(k) + im(k) * cosT(k)
        k += 1
      }
      val bRe = new Array[Double](m); val bIm = new Array[Double](m)
      bRe(0) = cosT(0); bIm(0) = sinT(0)
      k = 1
      while (k < n) {
        bRe(k) = cosT(k); bIm(k) = sinT(k)
        bRe(m - k) = cosT(k); bIm(m - k) = sinT(k)
        k += 1
      }
      fftPow2(aRe, aIm); fftPow2(bRe, bIm)
      k = 0
      while (k < m) {
        val tr = aRe(k) * bRe(k) - aIm(k) * bIm(k)
        aIm(k) = aRe(k) * bIm(k) + aIm(k) * bRe(k)
        aRe(k) = tr
        k += 1
      }
      ifftPow2(aRe, aIm)
      val outRe = new Array[Double](n); val outIm = new Array[Double](n)
      k = 0
      while (k < n) {
        outRe(k) = aRe(k) * cosT(k) + aIm(k) * sinT(k)
        outIm(k) = -aRe(k) * sinT(k) + aIm(k) * cosT(k)
        k += 1
      }
      (outRe, outIm)
    }
  }

  /** Real FFT: first nfft/2+1 bins of the complex FFT of the (zero-padded
    * or truncated) input — matches `np.fft.rfft(data, n=nfft)`.
    */
  def rfft(x: Array[Double], nfft: Int): (Array[Double], Array[Double]) = {
    val re = new Array[Double](nfft)
    val n = math.min(x.length, nfft)
    System.arraycopy(x, 0, re, 0, n)
    val im = new Array[Double](nfft)
    val (fr, fi) = fft(re, im)
    val bins = nfft / 2 + 1
    (fr.take(bins), fi.take(bins))
  }

  def nextPow2(n: Int): Int = { var p = 1; while (p < n) p <<= 1; p }

  // ---------- window functions ----------

  /** scipy.signal.get_window(name, n, fftbins=true) — periodic windows
    * (reference Windowing, processors.py:264-293).
    */
  def window(name: String, n: Int, periodic: Boolean = true): Array[Double] = {
    val den = if (periodic) n else n - 1
    name match {
      case "hamming" => Array.tabulate(n)(i => 0.54 - 0.46 * math.cos(2 * math.Pi * i / den))
      case "hann" | "hanning" => Array.tabulate(n)(i => 0.5 - 0.5 * math.cos(2 * math.Pi * i / den))
      case "blackman" => Array.tabulate(n)(i =>
        0.42 - 0.5 * math.cos(2 * math.Pi * i / den) + 0.08 * math.cos(4 * math.Pi * i / den))
      case "boxcar" | "rectangular" | "none" | "None" => Array.fill(n)(1.0)
      case other => throw new IllegalArgumentException(s"unsupported window: $other")
    }
  }

  /** `x * win`, elementwise over equal lengths. */
  def applyWindow(x: Array[Double], win: Array[Double]): Array[Double] = {
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) { out(i) = x(i) * win(i); i += 1 }
    out
  }

  /** Overlapping windowed frames: frame `f` is `x[f*step, f*step+len)`
    * times `win` (length `len`); `floor((x.length - len)/step) + 1`
    * frames, none when the signal is shorter than one frame.
    */
  def frames(x: Array[Double], step: Int, win: Array[Double]): Array[Array[Double]] = {
    val len = win.length
    val n = if (x.length < len) 0 else (x.length - len) / step + 1
    Array.tabulate(n) { f =>
      val out = new Array[Double](len)
      val off = f * step
      var k = 0
      while (k < len) { out(k) = x(off + k) * win(k); k += 1 }
      out
    }
  }

  /** Spark's `round(x)` then `cast int`: HALF_UP on the shortest decimal
    * form of `x` (`BigDecimal.valueOf`), so 2.5 → 3 and 2.4999… → 2
    * exactly as the SQL engine rounds.
    */
  def roundHalfUp(x: Double): Int =
    java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toInt

  // ---------- filterbank (reference processors.py:354-461) ----------

  /** Triangular mel/linear filterbank matrix `n_bands × (nfft/2+1)` — a
    * direct port of the reference's published construction
    * (processors.py:400-444), incl. the slaney area-norm option.
    */
  def filterbank(nBands: Int, nfft: Int, fs: Double, scale: String,
      fmin: Double = 0.0, fmaxIn: Double = Double.PositiveInfinity,
      norm: Option[String] = None): Array[Array[Double]] = {
    val fmax = math.min(fs / 2, fmaxIn)
    val (startHz, stopHz): (Array[Double], Array[Double]) = scale match {
      case "mel" =>
        val loMel = 2595.0 * math.log10(1 + fmin / 700.0)
        val hiMel = 2595.0 * math.log10(1 + fmax / 700.0)
        val start = Array.tabulate(nBands)(i =>
          700.0 * (math.pow(10, (loMel + i.toDouble / (nBands + 1) * (hiMel - loMel)) / 2595.0) - 1))
        val stop = Array.tabulate(nBands)(i =>
          700.0 * (math.pow(10, (loMel + (i + 2).toDouble / (nBands + 1) * (hiMel - loMel)) / 2595.0) - 1))
        (start, stop)
      case "linear" =>
        val pts = Array.tabulate(nBands + 2)(i => fmin + i * (fmax - fmin) / (nBands + 1))
        (pts.take(nBands), pts.drop(2))
      case other => throw new IllegalArgumentException(s"unsupported scale: $other")
    }
    val startBin = startHz.map(f => math.round(nfft / fs * f).toDouble)
    val stopBin = stopHz.map(f => math.round(nfft / fs * f).toDouble)
    val middleBin = Array.tabulate(nBands)(i =>
      if (i < nBands - 1) startBin(i + 1) else stopBin(nBands - 2))
    val nBins = nfft / 2 + 1
    val fbank = Array.fill(nBands, nBins)(0.0)
    var m = 0
    while (m < nBands) {
      val totLen = stopBin(m) - startBin(m) + 1
      val lowLen = middleBin(m) - startBin(m) + 1
      val highLen = totLen - lowLen + 1
      var k = 0
      while (k < lowLen.toInt) {
        val bin = (startBin(m) + k).toInt
        if (bin >= 0 && bin < nBins) fbank(m)(bin) = (k + 1) / lowLen
        k += 1
      }
      k = 0
      while (k < highLen.toInt) {
        val bin = (middleBin(m) + k).toInt
        if (bin >= 0 && bin < nBins) fbank(m)(bin) = (highLen - k) / highLen
        k += 1
      }
      if (norm.contains("slaney")) {
        val enorm = 2.0 / (stopHz(m) - startHz(m))
        var b = 0
        while (b < nBins) { fbank(m)(b) *= enorm; b += 1 }
      }
      m += 1
    }
    fbank
  }

  /** Per band, the index range `[from, until)` of its nonzero weights. */
  def bandSupport(fbank: Array[Array[Double]]): Array[(Int, Int)] = fbank.map { row =>
    val from = row.indexWhere(_ != 0.0)
    if (from < 0) (0, 0) else (from, row.lastIndexWhere(_ != 0.0) + 1)
  }

  /** `data(frames × bins) · fbankᵀ`, zero-floored at eps like the
    * reference (processors.py:458-461). With `support` ([[bandSupport]])
    * each band sums only its nonzero weights. For a finite frame that is
    * exact: a skipped term is ±0.0, and adding ±0.0 to a sum that starts at
    * +0.0 never changes it. A frame holding Inf or NaN sums every weight,
    * so 0·Inf = NaN as in the reference's matrix product.
    */
  def applyFilterbank(frame: Array[Double], fbank: Array[Array[Double]],
      support: Option[Array[(Int, Int)]] = None): Array[Double] = {
    var sparse = support.isDefined
    var i = 0
    while (sparse && i < frame.length) { sparse = java.lang.Double.isFinite(frame(i)); i += 1 }
    val out = new Array[Double](fbank.length)
    var m = 0
    while (m < fbank.length) {
      var s = 0.0
      val row = fbank(m)
      val n = math.min(frame.length, row.length)
      var k = if (sparse) support.get(m)._1 else 0
      val until = if (sparse) math.min(support.get(m)._2, n) else n
      while (k < until) { s += frame(k) * row(k); k += 1 }
      out(m) = if (s == 0.0) java.lang.Double.MIN_NORMAL else s
      m += 1
    }
    out
  }

  // ---------- FIR design + filtering (reference processors.py:523-575) ----------

  /** Windowed-sinc FIR design — the published `scipy.signal.firwin`
    * algorithm: sinc bandpass bricks, windowed, scaled to unity gain at
    * the reference frequency. `cutoffs` in Hz, `fs` sampling rate.
    * passZero=true → lowpass/bandstop; false → highpass/bandpass.
    */
  def firwin(taps: Int, cutoffs: Array[Double], fs: Double,
      passZero: Boolean, windowName: String = "hamming"): Array[Double] = {
    val n = taps | 1 // odd, like the reference (processors.py:531)
    val nyq = fs / 2
    val norm = cutoffs.map(_ / nyq)
    // passband edge list: pass_zero prepends DC; odd count appends Nyquist
    // (lowpass [0,c]; highpass [c,1]; bandpass [c1,c2]; bandstop [0,c1,c2,1])
    val bands = scala.collection.mutable.ArrayBuffer[Double]()
    if (passZero) bands += 0.0
    bands ++= norm
    if ((bands.length % 2) != 0) bands += 1.0
    val m = Array.tabulate(n)(i => i - (n - 1) / 2.0)
    val h = new Array[Double](n)
    var b = 0
    while (b < bands.length) {
      val left = bands(b); val right = bands(b + 1)
      var i = 0
      while (i < n) {
        h(i) += right * sinc(right * m(i)) - left * sinc(left * m(i))
        i += 1
      }
      b += 2
    }
    val win = window(windowName, n, periodic = false)
    var i = 0
    while (i < n) { h(i) *= win(i); i += 1 }
    // scale for unity gain at the center of the first passband
    val freq = {
      val l = bands(0); val r = bands(1)
      if (l == 0.0) 0.0 else if (r == 1.0) 1.0 else (l + r) / 2
    }
    var gain = 0.0
    i = 0
    while (i < n) { gain += h(i) * math.cos(math.Pi * m(i) * freq); i += 1 }
    i = 0
    while (i < n) { h(i) /= gain; i += 1 }
    h
  }

  private def sinc(x: Double): Double =
    if (x == 0.0) 1.0 else math.sin(math.Pi * x) / (math.Pi * x)

  /** Causal direct-form FIR, `scipy.signal.lfilter(b, 1, x)`: output
    * length == input length (reference processors.py:572-575).
    */
  def lfilter(b: Array[Double], x: Array[Double]): Array[Double] = {
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      var s = 0.0
      val kMax = math.min(i, b.length - 1)
      var k = 0
      while (k <= kMax) { s += b(k) * x(i - k); k += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  // ---------- resample (reference processors.py:578-600) ----------

  /** FFT-domain resample to `num` samples — the published
    * `scipy.signal.resample` method: forward FFT, spectrum truncation /
    * zero-padding (Nyquist bin split), inverse FFT, amplitude rescale.
    */
  def resample(x: Array[Double], num: Int): Array[Double] = {
    val n = x.length
    if (num == n) return x.clone()
    val (fr, fi) = fft(x, new Array[Double](n))
    val kept = math.min(n, num)
    val oRe = new Array[Double](num); val oIm = new Array[Double](num)
    // positive frequencies below Nyquist
    var k = 0
    while (k <= (kept - 1) / 2) { oRe(k) = fr(k); oIm(k) = fi(k); k += 1 }
    // negative frequencies below Nyquist
    k = 1
    while (k <= (kept - 1) / 2) {
      oRe(num - k) = fr(n - k); oIm(num - k) = fi(n - k); k += 1
    }
    if (kept % 2 == 0) {
      val ny = kept / 2
      if (num < n) {
        // fold both old bins onto the new (real-valued) Nyquist bin
        oRe(ny) = fr(ny) + fr(n - ny); oIm(ny) = 0.0
      } else {
        // split old Nyquist energy across the two new conjugate bins
        oRe(ny) = fr(ny) / 2; oIm(ny) = fi(ny) / 2
        oRe(num - ny) = fr(ny) / 2; oIm(num - ny) = -fi(ny) / 2
      }
    }
    val (tr, _) = ifft(oRe, oIm)
    val scale = num.toDouble / n
    val out = new Array[Double](num)
    k = 0
    while (k < num) { out(k) = tr(k) * scale; k += 1 }
    out
  }

  def ifft(re: Array[Double], im: Array[Double]): (Array[Double], Array[Double]) = {
    val negIm = im.map(-_)
    val (fr, fi) = fft(re, negIm)
    val n = re.length
    (fr.map(_ / n), fi.map(v => -v / n))
  }

  // ---------- stats (reference Aggregation, processors.py:483-520) ----------

  def mean(x: Array[Double]): Double = { var s = 0.0; var i = 0; while (i < x.length) { s += x(i); i += 1 }; s / x.length }

  /** Population std (np.std ddof=0). */
  def std(x: Array[Double]): Double = {
    val m = mean(x); var s = 0.0; var i = 0
    while (i < x.length) { val d = x(i) - m; s += d * d; i += 1 }
    math.sqrt(s / x.length)
  }

  /** Fisher kurtosis (scipy.stats.kurtosis default: excess, biased). */
  def kurtosis(x: Array[Double]): Double = {
    val m = mean(x); var m2 = 0.0; var m4 = 0.0; var i = 0
    while (i < x.length) {
      val d = x(i) - m; val d2 = d * d
      m2 += d2; m4 += d2 * d2; i += 1
    }
    m2 /= x.length; m4 /= x.length
    if (m2 == 0.0) -3.0 else m4 / (m2 * m2) - 3.0
  }
}
