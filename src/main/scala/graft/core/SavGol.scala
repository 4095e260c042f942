package graft.core

/** Savitzky-Golay filter coefficient computation (pure driver-side math).
  *
  * A Savitzky-Golay filter of window `w = 2*half+1` and polynomial degree
  * `deg` estimates the `deriv`-th derivative of a signal at each point by
  * least-squares-fitting a degree-`deg` polynomial to the surrounding window.
  * That makes the filter a fixed-width convolution: the smoothed value is a
  * dot product of the window samples with precomputed weights, evaluated
  * once per record by [[filter]] (see [[graft.functions.SgFilter]]).
  *
  * Edge handling follows the "interp" convention (the default of the
  * reference's scipy backend, tabata instants.py:76): the first/last `half`
  * points are evaluated from a polynomial fitted to the first/last `w`
  * samples.
  */
object SavGol {

  /** Least-squares weights u such that f^(deriv)(evalAt) ≈ u · y for samples
    * y at abscissae xs, fitting a polynomial of degree deg.
    *
    * u = d^T (AᵀA)⁻¹ Aᵀ with A(j)(p) = (xs(j)-c)^p and
    * d(p) = p!/(p-deriv)! (evalAt-c)^(p-deriv); centering c improves
    * conditioning.
    */
  def polyWeights(xs: Array[Double], deg: Int, deriv: Int, evalAt: Double): Array[Double] = {
    require(deg >= deriv, s"deg ($deg) must be >= deriv ($deriv)")
    require(xs.length > deg, s"need more than deg+1 samples (${xs.length} <= $deg)")
    val n = xs.length
    val c = xs.sum / n
    val m = deg + 1
    // A(j)(p) = (xs(j)-c)^p
    val a = Array.tabulate(n, m)((j, p) => math.pow(xs(j) - c, p))
    // G = AᵀA (m x m), solve G * W = Aᵀ  column by column → Pinv = G⁻¹Aᵀ (m x n)
    val g = Array.tabulate(m, m)((p, q) => (0 until n).map(j => a(j)(p) * a(j)(q)).sum)
    val at = Array.tabulate(m, n)((p, j) => a(j)(p))
    val pinv = solveMany(g, at)
    // d(p) = p!/(p-deriv)! * (evalAt-c)^(p-deriv) for p >= deriv else 0
    val e = evalAt - c
    val d = Array.tabulate(m) { p =>
      if (p < deriv) 0.0
      else fallingFactorial(p, deriv) * math.pow(e, p - deriv)
    }
    Array.tabulate(n)(j => (0 until m).map(p => d(p) * pinv(p)(j)).sum)
  }

  private def fallingFactorial(p: Int, d: Int): Double =
    (0 until d).map(k => (p - k).toDouble).product

  /** Solve G X = B for square symmetric G via Gaussian elimination with
    * partial pivoting. G is (m x m), B is (m x n); returns X (m x n).
    */
  private def solveMany(gIn: Array[Array[Double]], bIn: Array[Array[Double]]): Array[Array[Double]] = {
    val m = gIn.length
    val n = bIn(0).length
    val g = gIn.map(_.clone())
    val b = bIn.map(_.clone())
    for (col <- 0 until m) {
      var piv = col
      for (r <- col + 1 until m) if (math.abs(g(r)(col)) > math.abs(g(piv)(col))) piv = r
      if (piv != col) { val t = g(col); g(col) = g(piv); g(piv) = t
                        val u = b(col); b(col) = b(piv); b(piv) = u }
      val diag = g(col)(col)
      require(math.abs(diag) > 1e-300, "singular normal equations in SavGol.polyWeights")
      for (r <- 0 until m if r != col) {
        val f = g(r)(col) / diag
        if (f != 0.0) {
          for (q <- col until m) g(r)(q) -= f * g(col)(q)
          for (q <- 0 until n) b(r)(q) -= f * b(col)(q)
        }
      }
    }
    Array.tabulate(m, n)((r, q) => b(r)(q) / g(r)(r))
  }

  /** Central (interior) convolution weights: index 0 is the weight of the
    * sample at offset -half, index w-1 at offset +half.
    */
  def centralWeights(w: Int, deg: Int, deriv: Int): Array[Double] = {
    require(w % 2 == 1 && w > deg, s"window $w must be odd and > deg $deg")
    val half = w / 2
    polyWeights(Array.tabulate(w)(j => (j - half).toDouble), deg, deriv, 0.0)
  }

  /** Left-edge weight rows ("interp" mode): row i (0 <= i < half) gives
    * weights over the FIRST w samples evaluating the derivative at position i.
    * The right edge is the mirror: f^(d)(n-1-i) = (-1)^d * edge(i) · reverse(last w samples).
    */
  def edgeWeights(w: Int, deg: Int, deriv: Int): Array[Array[Double]] = {
    require(w % 2 == 1 && w > deg, s"window $w must be odd and > deg $deg")
    val half = w / 2
    val xs = Array.tabulate(w)(_.toDouble)
    Array.tabulate(half)(i => polyWeights(xs, deg, deriv, i.toDouble))
  }

  /** One SG pass over a record's t-sorted samples `x`, at least `w` of
    * them, with null mask `xn`; returns the filtered values and their null mask.
    * Each output is a left fold over the w taps: interior rows over the
    * centred stencil (null if a sample under it is null), the first `half`
    * rows over the first w samples, the last `half` over the last w
    * reversed with the edge weights sign-flipped for odd `deriv`. A null
    * among the first or last w samples raises: a shifted edge fit would be
    * silently wrong. The loop behind [[graft.functions.SgFilter]] and
    * [[graft.functions.SgResidualStddev]].
    */
  def filter(x: Array[Double], xn: Array[Boolean], w: Int, deriv: Int,
             cw: Array[Double], ew: Array[Array[Double]], name: String)
      : (Array[Double], Array[Boolean]) = {
    val n = x.length
    var j = 0
    while (j < w) {
      if (xn(j) || xn(n - 1 - j)) throw new IllegalStateException(
        s"$name: null sample in an SG edge window — a shifted edge " +
          "fit would be silently wrong; clean the signal first")
      j += 1
    }
    val sgn = if (deriv % 2 == 0) 1.0 else -1.0
    val half = w / 2
    val out = new Array[Double](n)
    val on = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (i < half) {
        val e = ew(i)
        var acc = x(0) * e(0)
        var k = 1
        while (k < w) { acc += x(k) * e(k); k += 1 }
        out(i) = acc
      } else if (i >= n - half) {
        val e = ew(n - 1 - i)
        var acc = x(n - 1) * (sgn * e(0))
        var k = 1
        while (k < w) { acc += x(n - 1 - k) * (sgn * e(k)); k += 1 }
        out(i) = acc
      } else {
        val base = i - half
        var isNull = xn(base)
        var acc = if (isNull) 0.0 else x(base) * cw(0)
        var k = 1
        while (k < w && !isNull) {
          if (xn(base + k)) isNull = true else acc += x(base + k) * cw(k)
          k += 1
        }
        if (isNull) on(i) = true else out(i) = acc
      }
      i += 1
    }
    (out, on)
  }
}
