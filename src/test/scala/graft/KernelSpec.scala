package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernel.{Cc, Fft, Filter, Signal}

/** Kernel gates per FIXTURES.md F6: numpy-derived cross-correlation fixtures
  * at rtol 1e-9 plus analytic identities (autocorrelation peak, shift
  * theorem, Parseval, zero-phase filtfilt).
  */
class KernelSpec extends AnyFunSuite {

  val x16 = Array(0.496714, -0.138264, 0.647689, 1.52303, -0.234153, -0.234137, 1.579213, 0.767435, -0.469474, 0.54256, -0.463418, -0.46573, 0.241962, -1.91328, -1.724918, -0.562288)
  val y16 = Array(-1.91328, -1.724918, -0.562288, 0.496714, -0.138264, 0.647689, 1.52303, -0.234153, -0.234137, 1.579213, 0.767435, -0.469474, 0.54256, -0.463418, -0.46573, 0.241962)
  val cc16norm = Array(0.008490934887132477, -0.01870691985485491, -0.0006412318543075442, 0.028290304322034946, -0.09709472648591021, 0.010181662352528795, 0.12718364166292262, -0.07919302209968178, 0.06272006315039315, 0.270141701734452, -0.10023979132899294, 0.04276421934421947, 0.5088421448474494, -0.009673617074736119, -0.12181151544994981, 0.30390422200698236, -0.05638532674467965, -0.3272896892801627, -0.10892483530677419, -0.2807033026465852, -0.47966434270039426, -0.26259466067707926, -0.2367497088240044, -0.26680358703533597, -0.11061445500794038, 0.03376252027253045, 0.05443277318357563, 0.2492412876632982, 0.4911578551525506, 0.3016791240822538, 0.07600449730453256)
  val cc16raw = Array(0.12018591286800077, -0.2647892451880008, -0.009076389913999602, 0.400438361082001, -1.374338455364, 0.14411750892199865, 1.8002354603260005, -1.120946724989001, 0.8877783359629998, 3.8237517373820005, -1.4188556368310001, 0.6053110532929987, 7.202464569229001, -0.13692632369899943, -1.7241950829670007, 4.301647207506001, -0.7981125820949989, -4.632659489360999, -1.5417890891119996, -3.9732471302740007, -6.789464018272, -3.7169262781140007, -3.3511009393520004, -3.77650200956, -1.5657050051899994, 0.477895470124, 0.7704749385039994, 3.5279144264320004, 6.952150260068, 4.270151803424, 1.0758143846400006)
  val lag16d05 = Array(-7.5, -7.0, -6.5, -6.0, -5.5, -5.0, -4.5, -4.0, -3.5, -3.0, -2.5, -2.0, -1.5, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0, 5.5, 6.0, 6.5, 7.0, 7.5)
  val z31 = Array(-1.012831, 0.314247, -0.908024, -1.412304, 1.465649, -0.225776, 0.067528, -1.424748, -0.544383, 0.110923, -1.150994, 0.375698, -0.600639, -0.291694, -0.601707, 1.852278, -0.013497, -1.057711, 0.822545, -1.220844, 0.208864, -1.95967, -1.328186, 0.196861, 0.738467, 0.171368, -0.115648, -0.301104, -1.478522, -0.719844, -0.460639)
  val z31fftRe = Array(-10.504337, -2.417370473285069, 0.9037281603416489, -6.554516633244256, 1.587408151461995, 2.367867566174259, 3.224019080597391, -0.0999047153278001, 4.888085340519462, -3.3184481450070598, -2.7331726392159768, -3.298870814568863, -1.5580029150457548, -8.651300417183014, 5.3390510476704955, -0.1252845938874598, -0.1252845938874598, 5.3390510476704955, -8.651300417183014, -1.5580029150457548, -3.298870814568863, -2.7331726392159768, -3.3184481450070598, 4.888085340519462, -0.0999047153278001, 3.224019080597391, 2.367867566174259, 1.587408151461995, -6.554516633244256, 0.9037281603416489, -2.417370473285069)
  val z31fftIm = Array(0.0, -0.7703737513553918, 0.5462683086408493, -3.387829235871873, -3.2508017073309956, 2.8441119860293433, 5.2021151989126295, -3.7793639253965123, -1.3257040438070842, -2.839072788726419, 2.343122259134021, -6.062889871573012, 0.6780273726077988, 0.2756599949275973, 2.5015275291216597, 1.0726816560362953, -1.0726816560362953, -2.5015275291216597, -0.2756599949275973, -0.6780273726077988, 6.062889871573012, -2.343122259134021, 2.839072788726419, 1.3257040438070842, 3.7793639253965123, -5.2021151989126295, -2.8441119860293433, 3.2508017073309956, 3.387829235871873, -0.5462683086408493, 0.7703737513553918)

  def assertClose(got: Array[Double], want: Array[Double], rtol: Double = 1e-9, atol: Double = 1e-12): Unit = {
    assert(got.length == want.length, s"length ${got.length} != ${want.length}")
    got.indices.foreach { i =>
      val tol = atol + rtol * math.abs(want(i))
      assert(math.abs(got(i) - want(i)) <= tol, s"idx $i: ${got(i)} != ${want(i)}")
    }
  }

  test("Bluestein FFT matches numpy at odd length n=31") {
    val re = z31.clone(); val im = new Array[Double](31)
    Fft.fft(re, im)
    assertClose(re, z31fftRe)
    assertClose(im, z31fftIm, atol = 1e-9)
  }

  test("cc matches numpy fixture (normalized), rtol 1e-9") {
    assertClose(Cc.cc(x16, y16, normalize = true), cc16norm)
  }

  test("cc matches numpy fixture (raw), rtol 1e-9") {
    assertClose(Cc.cc(x16, y16, normalize = false), cc16raw)
  }

  test("lag axis matches numpy fftshift(fftfreq) for n=16, delta=0.5") {
    assertClose(Cc.lagAxis(16, 0.5), lag16d05)
  }

  test("cc shift extraction: y=roll(x,3) peaks at shift -3") {
    val (shift, max) = Cc.extractShiftAndMax(Cc.cc(x16, y16), 1.0)
    assert(shift == -3.0)
    assert(math.abs(max - 0.5088421448474494) < 1e-9)
  }

  test("autocorrelation: normalized peak is 1 at lag 0") {
    val x = Array.tabulate(50)(i => math.sin(0.3 * i) + 0.1 * i % 3)
    val r = Cc.cc(x, x, normalize = true)
    val zero = r.length / 2
    assert(math.abs(r(zero) - 1.0) < 1e-12)
    r.foreach(v => assert(v <= 1.0 + 1e-12))
  }

  test("cc symmetry: CC(x,y)(k) == CC(y,x)(-k)") {
    val rxy = Cc.cc(x16, y16, normalize = false)
    val ryx = Cc.cc(y16, x16, normalize = false)
    val n = rxy.length
    (0 until n).foreach(i => assert(math.abs(rxy(i) - ryx(n - 1 - i)) < 1e-9))
  }

  test("unbias weights: symmetric, center 1, edges N (cc.py:111-141 documented semantics)") {
    val w = Cc.weight(16)
    assert(w.length == 31)
    assert(w(15) == 1.0)
    assert(w(0) == 16.0 && w(30) == 16.0)
    (0 until 31).foreach(i => assert(w(i) == w(30 - i)))
  }

  test("Parseval: sum|x|^2 == (1/n) sum|X|^2 for odd n") {
    val re = z31.clone(); val im = new Array[Double](31)
    Fft.fft(re, im)
    val t = z31.map(v => v * v).sum
    val f = re.indices.map(i => re(i) * re(i) + im(i) * im(i)).sum / 31
    assert(math.abs(t - f) < 1e-9 * math.abs(t))
  }

  test("ifft inverts fft at both pow2 and odd lengths") {
    for (n <- Seq(16, 31, 33, 100)) {
      val rng = new java.util.Random(7 + n)
      val x = Array.fill(n)(rng.nextGaussian())
      val re = x.clone(); val im = new Array[Double](n)
      Fft.fft(re, im)
      Fft.ifft(re, im)
      assertClose(re, x, rtol = 1e-10, atol = 1e-10)
      im.foreach(v => assert(math.abs(v) < 1e-9))
    }
  }

  test("rfft/irfft round-trip") {
    val rng = new java.util.Random(11)
    val x = Array.fill(64)(rng.nextGaussian())
    val (re, im) = Fft.rfft(x)
    assert(re.length == 33)
    assertClose(Fft.irfft(re, im, 64), x, rtol = 1e-10, atol = 1e-10)
  }

  test("timeshift: integer-sample delay equals array rotation (periodic part)") {
    // periodic signal so circular phase shift == sample rotation
    val n = 64
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 3 * i / n) + 0.5 * math.cos(2 * math.Pi * 5 * i / n))
    val delta = 0.25
    val shifted = Signal.timeshift(x, delay = 2 * delta, delta = delta)
    val expected = Array.tabulate(n)(i => x(((i - 2) % n + n) % n))
    assertClose(shifted, expected, rtol = 1e-9, atol = 1e-9)
  }

  test("hilbert envelope of a pure tone is its amplitude") {
    val n = 256
    val a = 1.7
    val x = Array.tabulate(n)(i => a * math.cos(2 * math.Pi * 16 * i / n))
    val env = Signal.envelope(x)
    env.foreach(v => assert(math.abs(v - a) < 1e-9))
  }

  test("filtfilt is zero-phase: symmetric input stays symmetric") {
    val n = 200
    val x = Array.tabulate(n)(i => math.exp(-0.002 * (i - (n - 1) / 2.0) * (i - (n - 1) / 2.0)))
    val sos = Filter.butter(2, Array(0.2), "lowpass")
    val y = Filter.sosfiltfilt(sos, x)
    (0 until n / 2).foreach { i =>
      assert(math.abs(y(i) - y(n - 1 - i)) < 1e-9, s"asymmetry at $i")
    }
  }

  test("butterworth lowpass: DC gain 1, strong stopband attenuation") {
    val sos = Filter.butter(4, Array(0.2), "lowpass")
    // DC gain = prod section dc gains
    val dc = sos.map(s => (s.b0 + s.b1 + s.b2) / (1 + s.a1 + s.a2)).product
    assert(math.abs(dc - 1.0) < 1e-9)
    // response at high freq via filtering a tone
    val n = 4096
    val tone = Array.tabulate(n)(i => math.sin(math.Pi * 0.8 * i)) // 0.8 Nyquist
    val y = Filter.sosfiltfilt(sos, tone)
    val amp = y.slice(n / 4, 3 * n / 4).map(math.abs).max
    assert(amp < 1e-3, s"stopband leak $amp")
  }

  test("butterworth highpass: zero DC, passband gain ~1") {
    val sos = Filter.butter(2, Array(3.0 / 25.0), "highpass") // 3 Hz @ fs=50 (reference postprocess)
    val n = 2048
    val const = Array.fill(n)(5.0)
    val yc = Filter.sosfiltfilt(sos, const)
    assert(yc.slice(n / 4, 3 * n / 4).map(math.abs).max < 1e-6)
    val tone = Array.tabulate(n)(i => math.sin(2 * math.Pi * 20 * i / 50.0)) // 20 Hz passband
    val yt = Filter.sosfiltfilt(sos, tone)
    val amp = yt.slice(n / 4, 3 * n / 4).map(math.abs).max
    // compare to the input's sampled amplitude (a 20 Hz tone at fs=50 has
    // period 2.5 samples and never hits ±1 on the grid)
    val inAmp = tone.slice(n / 4, 3 * n / 4).map(math.abs).max
    assert(math.abs(amp - inAmp) < 0.001, s"passband amp $amp vs input $inAmp")
  }

  test("demean and linear detrend remove the fitted component") {
    val dm = Signal.demean(Array(1.0, 2.0, 3.0))
    assert(dm.sameElements(Array(-1.0, 0.0, 1.0)))
  }

  test("taper: interior untouched, edges attenuated, first sample ~0") {
    val x = Array.fill(100)(1.0)
    val y = Signal.taper(x, maxPercentage = 0.1)
    assert(y(0) == 0.0 || y(0) < 1e-12)
    assert(y(50) == 1.0)
    assert(y(99) == y(0))
  }

  test("window families: scipy-parity identities and symmetry") {
    import Signal.window
    // tukey(1) == hann, tukey(0) == boxcar, kaiser(0) == boxcar
    window("tukey", 65, 1.0).zip(Signal.hann(65)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    assert(window("tukey", 65, 0.0).forall(_ == 1.0))
    window("kaiser", 33, 0.0).foreach(v => assert(math.abs(v - 1.0) < 1e-12))
    // hamming: ends 0.08, center 1 (odd m)
    val ham = window("hamming", 11)
    assert(math.abs(ham(0) - 0.08) < 1e-12 && math.abs(ham(5) - 1.0) < 1e-12)
    // blackman: zero ends, unit center
    val bk = window("blackman", 11)
    assert(math.abs(bk(0)) < 1e-12 && math.abs(bk(5) - 1.0) < 1e-12)
    // bartlett: zero ends (triang: nonzero ends)
    val bart = window("bartlett", 9)
    assert(bart(0) == 0.0 && bart(4) == 1.0 && bart(8) == 0.0)
    assert(window("triang", 9)(0) > 0.0)
    // all families symmetric
    for (n <- Seq("hamming", "blackman", "blackmanharris", "nuttall", "bartlett",
        "triang", "cosine", "kaiser", "tukey", "boxcar")) {
      val w = window(n, 32, 2.5)
      w.indices.foreach(i => assert(math.abs(w(i) - w(31 - i)) < 1e-12, s"$n not symmetric at $i"))
    }
    intercept[IllegalArgumentException](window("nope", 8))
  }

  test("lanczos resample: identity at ratio 1; sine survives 2x decimation") {
    val n = 400
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * i / 50.0))
    val id = Signal.lanczosResample(x, ratio = 1.0, offsetSamples = 0.0, nOut = n)
    x.indices.foreach(i => assert(math.abs(id(i) - x(i)) < 1e-9))
    val half = Signal.lanczosResample(x, ratio = 2.0, offsetSamples = 0.0, nOut = n / 2)
    (10 until n / 2 - 10).foreach { j =>
      val want = math.sin(2 * math.Pi * (2 * j) / 50.0)
      assert(math.abs(half(j) - want) < 2e-3, s"j=$j: ${half(j)} vs $want")
    }
    // fractional offset: shifted read stays on the analytic curve
    val sh = Signal.lanczosResample(x, ratio = 1.0, offsetSamples = 0.5, nOut = n - 1)
    (10 until n - 11).foreach { j =>
      val want = math.sin(2 * math.Pi * (j + 0.5) / 50.0)
      assert(math.abs(sh(j) - want) < 2e-3)
    }
  }

  test("spectrogram: tone energy lands in the right bin") {
    val fs = 50.0
    val n = 1024
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 10 * i / fs))
    val (psd, freq) = Signal.spectrogram(x, fs, nperseg = 128, hop = 64)
    val avg = freq.indices.map(k => psd.map(_(k)).sum / psd.length).toArray
    val peak = avg.indexOf(avg.max)
    assert(math.abs(freq(peak) - 10.0) < fs / 128 + 1e-9, s"peak at ${freq(peak)}")
  }
}
