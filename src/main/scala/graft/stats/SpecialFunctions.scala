package graft.stats

/** High-precision scalar special functions for the edgeR-style kernels
  * (quantile-adjusted CML needs normal and gamma CDFs and quantiles —
  * reference delegates these to R via `estimateDisp`/`exactTest`,
  * differential.py:146-149; we reimplement from public formulas:
  * regularized incomplete gamma/beta via series + Lentz continued
  * fractions, Acklam's inverse-normal initializer with Newton polish).
  *
  * All functions are pure and allocation-free — they run inside
  * per-gene map-side kernels on the distributed genes axis.
  */
object SpecialFunctions {

  private val Sqrt2 = math.sqrt(2.0)
  private val Eps = 1e-15
  private val MaxIter = 500

  /** Regularized lower incomplete gamma P(a,x) by its power series
    * (converges fast for x < a+1). */
  private def gser(a: Double, x: Double): Double = {
    if (x <= 0.0) return 0.0
    var ap = a
    var sum = 1.0 / a
    var del = sum
    var i = 0
    while (i < MaxIter && math.abs(del) >= math.abs(sum) * Eps) {
      ap += 1.0
      del *= x / ap
      sum += del
      i += 1
    }
    sum * math.exp(-x + a * math.log(x) - Gamma.lgamma(a))
  }

  /** Regularized upper incomplete gamma Q(a,x) by Lentz's continued
    * fraction (converges fast for x >= a+1). */
  private def gcf(a: Double, x: Double): Double = {
    val fpmin = 1e-300
    var b = x + 1.0 - a
    var c = 1.0 / fpmin
    var d = 1.0 / b
    var h = d
    var i = 1
    var done = false
    while (i <= MaxIter && !done) {
      val an = -i * (i - a)
      b += 2.0
      d = an * d + b
      if (math.abs(d) < fpmin) d = fpmin
      c = b + an / c
      if (math.abs(c) < fpmin) c = fpmin
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < Eps) done = true
      i += 1
    }
    math.exp(-x + a * math.log(x) - Gamma.lgamma(a)) * h
  }

  /** Regularized lower incomplete gamma P(a,x). */
  def regGammaP(a: Double, x: Double): Double =
    if (x <= 0.0) 0.0
    else if (x < a + 1.0) gser(a, x)
    else 1.0 - gcf(a, x)

  /** Regularized upper incomplete gamma Q(a,x). */
  def regGammaQ(a: Double, x: Double): Double =
    if (x <= 0.0) 1.0
    else if (x < a + 1.0) 1.0 - gser(a, x)
    else gcf(a, x)

  /** erfc to near machine precision via the incomplete gamma identity
    * erfc(x) = Q(1/2, x²) for x ≥ 0. */
  def erfc(x: Double): Double =
    if (x < 0) 2.0 - erfc(-x) else regGammaQ(0.5, x * x)

  /** Normal CDF with mean/sd, selectable tail (R pnorm). */
  def pnorm(x: Double, mean: Double, sd: Double, lowerTail: Boolean): Double = {
    val z = (x - mean) / sd
    if (lowerTail) 0.5 * erfc(-z / Sqrt2) else 0.5 * erfc(z / Sqrt2)
  }

  /** Inverse standard-normal CDF: Acklam's rational approximation
    * (|rel err| < 1.15e-9) polished by one Halley step against the
    * high-precision erfc — effectively machine precision. */
  def qnormStd(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"qnorm p=$p out of (0,1)")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    val plow = 0.02425
    val x0 =
      if (p < plow) {
        val q = math.sqrt(-2.0 * math.log(p))
        (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
      } else if (p <= 1.0 - plow) {
        val q = p - 0.5
        val r = q * q
        (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
          (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
      } else {
        val q = math.sqrt(-2.0 * math.log(1.0 - p))
        -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
      }
    // Halley refinement on f(x) = Phi(x) - p
    val e = 0.5 * erfc(-x0 / Sqrt2) - p
    val u = e * math.sqrt(2.0 * math.Pi) * math.exp(x0 * x0 / 2.0)
    x0 - u / (1.0 + x0 * u / 2.0)
  }

  /** Normal quantile with mean/sd and tail (R qnorm). */
  def qnorm(p: Double, mean: Double, sd: Double, lowerTail: Boolean): Double = {
    val pp = if (lowerTail) p else 1.0 - p
    if (pp <= 0.0) Double.NegativeInfinity
    else if (pp >= 1.0) Double.PositiveInfinity
    else mean + sd * qnormStd(pp)
  }

  /** Gamma CDF with shape/scale and tail (R pgamma). */
  def pgamma(x: Double, shape: Double, scale: Double, lowerTail: Boolean): Double = {
    val t = x / scale
    if (lowerTail) regGammaP(shape, t) else regGammaQ(shape, t)
  }

  /** Gamma quantile (R qgamma): Wilson–Hilferty initial guess + safeguarded
    * Newton on the regularized incomplete gamma. */
  def qgamma(p: Double, shape: Double, scale: Double, lowerTail: Boolean): Double = {
    val pp = if (lowerTail) p else 1.0 - p
    if (pp <= 0.0) return 0.0
    if (pp >= 1.0) return Double.PositiveInfinity
    // Wilson–Hilferty: x ≈ a(1 - 1/(9a) + z√(1/(9a)))³
    val a = shape
    val z = qnormStd(pp)
    val wh = a * math.pow(math.max(1.0 - 1.0 / (9.0 * a) + z * math.sqrt(1.0 / (9.0 * a)), 1e-8), 3)
    var x = math.max(wh, 1e-300)
    if (a < 0.5 && x < 1e-8) x = math.exp((math.log(pp) + Gamma.lgamma(a + 1.0)) / a)
    var lo = 0.0
    var hi = Double.PositiveInfinity
    var i = 0
    while (i < 100) {
      val f = regGammaP(a, x) - pp
      if (f > 0) hi = x else lo = x
      // derivative: x^(a-1) e^-x / Gamma(a)
      val lpdf = (a - 1.0) * math.log(x) - x - Gamma.lgamma(a)
      val step = f / math.exp(lpdf)
      var xn = x - step
      if (!(xn > lo && (hi.isInfinity || xn < hi)) || xn.isNaN)
        xn = if (hi.isInfinity) x * 2.0 else 0.5 * (lo + hi)
      if (math.abs(xn - x) < 1e-12 * (x + 1e-12)) { x = xn; i = 100 }
      else { x = xn; i += 1 }
    }
    x * scale
  }

  /** log NB density with size/mu parameterization (R dnbinom); x need not
    * be integral (edgeR evaluates it on rounded pseudo-count sums). */
  def dnbinomLog(x: Double, size: Double, mu: Double): Double = {
    if (mu <= 0.0) return if (x == 0.0) 0.0 else Double.NegativeInfinity
    Gamma.lgamma(x + size) - Gamma.lgamma(size) - Gamma.lgamma(x + 1.0) +
      size * math.log(size / (size + mu)) + x * math.log(mu / (size + mu))
  }

  def dnbinom(x: Double, size: Double, mu: Double): Double =
    math.exp(dnbinomLog(x, size, mu))

  /** Regularized incomplete beta I_x(a,b) via Lentz's continued fraction. */
  def regBeta(x: Double, a: Double, b: Double): Double = {
    if (x <= 0.0) return 0.0
    if (x >= 1.0) return 1.0
    val lbeta = Gamma.lgamma(a) + Gamma.lgamma(b) - Gamma.lgamma(a + b)
    val front = math.exp(a * math.log(x) + b * math.log(1.0 - x) - lbeta)
    if (x < (a + 1.0) / (a + b + 2.0)) front * betacf(x, a, b) / a
    else 1.0 - math.exp(b * math.log(1.0 - x) + a * math.log(x) - lbeta) * betacf(1.0 - x, b, a) / b
  }

  private def betacf(x: Double, a: Double, b: Double): Double = {
    val fpmin = 1e-300
    val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
    var c = 1.0
    var d = 1.0 - qab * x / qap
    if (math.abs(d) < fpmin) d = fpmin
    d = 1.0 / d
    var h = d
    var m = 1
    var done = false
    while (m <= MaxIter && !done) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1.0 + aa * d
      if (math.abs(d) < fpmin) d = fpmin
      c = 1.0 + aa / c
      if (math.abs(c) < fpmin) c = fpmin
      d = 1.0 / d
      h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1.0 + aa * d
      if (math.abs(d) < fpmin) d = fpmin
      c = 1.0 + aa / c
      if (math.abs(c) < fpmin) c = fpmin
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < Eps) done = true
      m += 1
    }
    h
  }
}
