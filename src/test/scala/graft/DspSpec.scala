package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Dsp

/** Kernel goldens: FFT vs a naive O(n²) DFT, window/stat formulas vs
  * hand-computed values, FIR/resample invariants. These are the
  * implementation-independent numeric contracts of the reference's
  * numpy/scipy calls (reference processors.py:296-600).
  */
class DspSpec extends AnyFunSuite {
  private def naiveDft(x: Array[Double]): (Array[Double], Array[Double]) = {
    val n = x.length
    val re = new Array[Double](n); val im = new Array[Double](n)
    for (k <- 0 until n; t <- 0 until n) {
      val ang = -2.0 * math.Pi * k * t / n
      re(k) += x(t) * math.cos(ang)
      im(k) += x(t) * math.sin(ang)
    }
    (re, im)
  }

  test("fftPow2 matches naive DFT on power-of-2 length") {
    val x = Array.tabulate(16)(i => math.sin(0.3 * i) + 0.5 * math.cos(1.1 * i))
    val (er, ei) = naiveDft(x)
    val re = x.clone(); val im = new Array[Double](16)
    Dsp.fftPow2(re, im)
    for (k <- 0 until 16) {
      assert(math.abs(re(k) - er(k)) < 1e-9, s"re[$k]")
      assert(math.abs(im(k) - ei(k)) < 1e-9, s"im[$k]")
    }
  }

  test("Bluestein fft matches naive DFT on non-power-of-2 length") {
    val x = Array.tabulate(12)(i => math.cos(0.7 * i) - 0.2 * i)
    val (er, ei) = naiveDft(x)
    val (re, im) = Dsp.fft(x, new Array[Double](12))
    for (k <- 0 until 12) {
      assert(math.abs(re(k) - er(k)) < 1e-8, s"re[$k]: ${re(k)} vs ${er(k)}")
      assert(math.abs(im(k) - ei(k)) < 1e-8, s"im[$k]")
    }
  }

  test("rfft of a pure tone peaks at the tone bin") {
    val n = 64
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 8 * i / n))
    val (re, im) = Dsp.rfft(x, n)
    val mags = Array.tabulate(n / 2 + 1)(k => math.hypot(re(k), im(k)))
    assert(mags.indexOf(mags.max) == 8)
    assert(math.abs(mags(8) - n / 2.0) < 1e-9) // sine amplitude n/2
  }

  test("ifft inverts fft") {
    val x = Array.tabulate(20)(i => i * 0.1 - 1.0)
    val (fr, fi) = Dsp.fft(x, new Array[Double](20))
    val (br, _) = Dsp.ifft(fr, fi)
    for (i <- 0 until 20) assert(math.abs(br(i) - x(i)) < 1e-9)
  }

  test("hamming window endpoints and symmetry (periodic)") {
    val w = Dsp.window("hamming", 8)
    assert(math.abs(w(0) - 0.08) < 1e-12)
    for (i <- 1 until 8) assert(math.abs(w(i) - w(8 - i)) < 1e-12)
  }

  test("filterbank rows sum positive, correct shape") {
    val fb = Dsp.filterbank(nBands = 10, nfft = 256, fs = 16000, scale = "mel")
    assert(fb.length == 10 && fb.head.length == 129)
    fb.foreach(row => assert(row.sum > 0))
  }

  test("linear filterbank triangles peak at 1") {
    val fb = Dsp.filterbank(nBands = 5, nfft = 128, fs = 1000, scale = "linear")
    fb.foreach(row => assert(math.abs(row.max - 1.0) < 1e-12))
  }

  test("filterbank over band support == dense product, bit for bit, incl. non-finite frames") {
    val fb = Dsp.filterbank(nBands = 12, nfft = 256, fs = 8000, scale = "mel", norm = Some("slaney"))
    val support = Some(Dsp.bandSupport(fb))
    val rnd = new scala.util.Random(5)
    val frames = Seq.fill(50)(Array.fill(129)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(9) - 4))) ++
      Seq(Array.fill(129)(-0.0), Array.fill(100)(1.0),
        Array.tabulate(129)(i => if (i == 128) Double.PositiveInfinity else 1.0),
        Array.tabulate(129)(i => if (i == 0) Double.NaN else 0.0))
    def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    for (f <- frames)
      assert(bits(Dsp.applyFilterbank(f, fb, support)) == bits(Dsp.applyFilterbank(f, fb)))
    // an Inf outside a band's support still turns that band NaN, as 0·Inf does
    val out = Dsp.applyFilterbank(frames(52), fb, support)
    val outside = fb.indices.filter(m => fb(m)(128) == 0.0)
    assert(outside.nonEmpty && outside.forall(m => out(m).isNaN))
  }

  test("lowpass firwin has unity DC gain, highpass unity Nyquist gain") {
    val lp = Dsp.firwin(31, Array(100.0), fs = 1000, passZero = true)
    assert(math.abs(lp.sum - 1.0) < 1e-9)
    val hp = Dsp.firwin(31, Array(100.0), fs = 1000, passZero = false)
    // scaled to unity at Nyquist; DC leakage is small but nonzero
    // (windowed-sinc sidelobes — scipy.firwin behaves the same)
    val m = Array.tabulate(31)(i => i - 15.0)
    val nyqGain = hp.zip(m).map { case (h, mi) => h * math.cos(math.Pi * mi) }.sum
    assert(math.abs(nyqGain - 1.0) < 1e-9)
    assert(math.abs(hp.sum) < 0.01)
  }

  test("lowpass attenuates a high tone, passes a low tone") {
    val fs = 1000.0
    val lp = Dsp.firwin(101, Array(100.0), fs, passZero = true)
    val n = 500
    val lo = Array.tabulate(n)(i => math.sin(2 * math.Pi * 20 * i / fs))
    val hi = Array.tabulate(n)(i => math.sin(2 * math.Pi * 300 * i / fs))
    def rms(a: Array[Double]) = math.sqrt(a.drop(120).map(v => v * v).sum / (n - 120))
    assert(rms(Dsp.lfilter(lp, lo)) > 0.6)
    assert(rms(Dsp.lfilter(lp, hi)) < 0.05)
  }

  test("resample preserves a tone's frequency content") {
    val n = 128
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 4 * i / n))
    val y = Dsp.resample(x, 64) // 2x downsample: tone at bin 4 stays bin 4
    val (re, im) = Dsp.rfft(y, 64)
    val mags = Array.tabulate(33)(k => math.hypot(re(k), im(k)))
    assert(mags.indexOf(mags.max) == 4)
    assert(y.length == 64)
  }

  test("resample identity when target == source") {
    val x = Array(1.0, 2.0, 3.0)
    assert(Dsp.resample(x, 3).toSeq == x.toSeq)
  }

  test("rfft zero-pads when nfft exceeds signal length") {
    val x = Array(1.0, 2.0, 3.0)
    val (re, im) = Dsp.rfft(x, 8)
    assert(re.length == 5 && im.length == 5)
    assert(math.abs(re(0) - 6.0) < 1e-12) // DC = sum of samples
  }

  test("window: boxcar all-ones; blackman endpoints near zero") {
    assert(Dsp.window("boxcar", 5).forall(_ == 1.0))
    val b = Dsp.window("blackman", 16)
    assert(math.abs(b(0)) < 1e-12)
    assert(b.max <= 1.0 + 1e-12)
  }

  test("bandpass passes in-band, rejects out-of-band") {
    val fs = 1000.0
    val bp = Dsp.firwin(101, Array(100.0, 200.0), fs, passZero = false)
    val n = 600
    def tone(f: Double) = Array.tabulate(n)(i => math.sin(2 * math.Pi * f * i / fs))
    def rms(a: Array[Double]) = math.sqrt(a.drop(150).map(v => v * v).sum / (n - 150))
    assert(rms(Dsp.lfilter(bp, tone(150))) > 0.55) // in band
    assert(rms(Dsp.lfilter(bp, tone(30))) < 0.05)  // below band
    assert(rms(Dsp.lfilter(bp, tone(350))) < 0.05) // above band
  }

  test("stats: mean/std/kurtosis") {
    val x = Array(1.0, 2.0, 3.0, 4.0)
    assert(Dsp.mean(x) == 2.5)
    assert(math.abs(Dsp.std(x) - math.sqrt(1.25)) < 1e-12) // ddof=0
    // uniform-ish: excess kurtosis of {1,2,3,4} = -1.36
    assert(math.abs(Dsp.kurtosis(x) - (-1.36)) < 1e-10)
  }
}
