package graft.serving

/** One-step-ahead forecaster with exogenous regressors — the serving
  * layer's capability slot (reference: airflow/dags/Serving_layer/
  * prediction.py:11-20,64-76, a pickled pmdarima SARIMAX). No statsmodels
  * offline, so the default implementation is a ridge-regularized linear
  * AR(p)-with-exogenous model solved by normal equations in pure Scala.
  * Driver-side by design: the input is the O(days) collected series, never
  * a distributed dataset (SURVEY.md §3.3 — the reference collects the
  * same way via toPandas()).
  */
trait Forecaster {
  /** @param y    target series, time-ordered
    * @param exog exogenous rows aligned with y (may be empty)
    * @return one-step-ahead prediction for t = y.length
    */
  def predictNext(y: Array[Double], exog: Array[Array[Double]]): Double
}

/** Shared deterministic linear-algebra kernel for the forecasters. */
private[serving] object LinAlg {

  /** In-place Gaussian elimination with partial pivoting. */
  def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = a.map(_.clone())
    val v = b.clone()
    for (col <- 0 until n) {
      var piv = col
      for (r <- col + 1 until n) if (math.abs(m(r)(col)) > math.abs(m(piv)(col))) piv = r
      val tmp = m(col); m(col) = m(piv); m(piv) = tmp
      val tv = v(col); v(col) = v(piv); v(piv) = tv
      val d = m(col)(col)
      require(math.abs(d) > 1e-300, "singular system")
      for (r <- col + 1 until n) {
        val f = m(r)(col) / d
        if (f != 0.0) {
          for (c <- col until n) m(r)(c) -= f * m(col)(c)
          v(r) -= f * v(col)
        }
      }
    }
    val x = new Array[Double](n)
    for (r <- (n - 1) to 0 by -1) {
      var s = v(r)
      for (c <- r + 1 until n) s -= m(r)(c) * x(c)
      x(r) = s / m(r)(r)
    }
    x
  }

  /** Ridge-regularized least squares over (feature row, target) pairs. */
  def ridgeFit(rows: Seq[(Array[Double], Double)], dim: Int, ridge: Double): Array[Double] = {
    val xtx = Array.fill(dim, dim)(0.0)
    val xty = new Array[Double](dim)
    for ((x, yt) <- rows; i <- 0 until dim) {
      xty(i) += x(i) * yt
      for (j <- 0 until dim) xtx(i)(j) += x(i) * x(j)
    }
    for (i <- 0 until dim) xtx(i)(i) += ridge
    solve(xtx, xty)
  }
}

/** Linear AR(p) + exogenous regression, ridge-regularized, fit by
  * Gaussian elimination on the normal equations. Deterministic: the
  * SARIMAX-shaped model with no differencing, MA or seasonal terms.
  */
class ArxForecaster(p: Int = 2, ridge: Double = 1e-6)
    extends SarimaxLiteForecaster(p = p, ridge = ridge)

/** SARIMAX-shaped forecaster (reference: airflow/dags/Serving_layer/
  * prediction.py:64-73, a pmdarima SARIMAX): `d`-order differencing,
  * non-seasonal AR lags `p`, MA lags `q`, seasonal AR lags at multiples
  * of the season length `s` up to order `bigP`, plus exogenous
  * regressors — fit on the differenced series and integrated back for
  * the one-step forecast.
  *
  * MA terms are fit by the iterated Hannan–Rissanen procedure (a
  * fixed-iteration conditional-sum-of-squares scheme, so it stays
  * deterministic — no line search, no RNG):
  *   1. a long ridge AR regression estimates the innovation series;
  *   2. z_t is ridge-regressed on [1, AR lags, seasonal lags, lagged
  *      innovations, exog];
  *   3. the fitted model's residuals replace the innovation estimates
  *      and step 2 repeats (`cssIters` times, default 3).
  * Each pass minimizes the conditional sum of squared innovations given
  * the previous pass's innovation estimates; with q = 0 the innovation
  * columns vanish and the fit collapses to the single-pass AR form.
  * Exact MLE (what pmdarima ultimately runs) would need a nonlinear
  * optimizer; the CSS fixed point is the standard deterministic
  * approximation and ForecasterSpec pins it on a synthetic ARMA(1,1)
  * with known coefficients.
  */
class SarimaxLiteForecaster(p: Int = 2, d: Int = 0, q: Int = 0, bigP: Int = 0,
                            s: Int = 7, ridge: Double = 1e-6, cssIters: Int = 3)
    extends Forecaster {
  require(d >= 0 && p >= 0 && q >= 0 && bigP >= 0 && (bigP == 0 || s >= 1) &&
    cssIters >= 1, "invalid SARIMAX orders")

  private def arLag = math.max(p, bigP * s)
  // long-AR order for the innovation bootstrap (Hannan–Rissanen step 1)
  private def longLag = if (q == 0) arLag else math.max(arLag + q, q + 2)

  /** Fit on the differenced series. Returns (beta, innovations), where
    * beta is laid out [intercept, z-lags 1..p, seasonal lags 1..bigP,
    * innovation lags 1..q, exog] and innovations(t) estimates e_t
    * (zero where no estimate exists, t < longLag).
    */
  private def fitDifferenced(z: Array[Double], exogZ: Array[Array[Double]],
                             nExog: Int): (Array[Double], Array[Double]) = {
    val n = z.length
    val dim = 1 + p + bigP + q + nExog
    var e = new Array[Double](n) // innovation estimates, 0.0 = unknown
    if (q > 0) {
      // step 1: long AR for initial innovations
      val lDim = 1 + longLag
      val lRows = (longLag until n).map { t =>
        val x = new Array[Double](lDim)
        x(0) = 1.0
        for (j <- 1 to longLag) x(j) = z(t - j)
        (x, z(t))
      }
      val lBeta = LinAlg.ridgeFit(lRows, lDim, ridge)
      for (t <- longLag until n)
        e(t) = z(t) - lBeta(0) - (1 to longLag).map(j => lBeta(j) * z(t - j)).sum
    }
    // first regression row: standard HR starts step-2/3 rows where
    // step-1 innovation ESTIMATES exist (t >= longLag), not merely where
    // the lag indices are in range — rows in [max(arLag,q), longLag)
    // would feed 0.0 placeholder innovations into the fit and bias the
    // MA coefficients. Lagged innovations before longLag (the first q
    // rows' features) stay 0.0 — the standard CSS zero-initial-
    // innovations convention, refreshed after the first pass.
    val start = if (q == 0) arLag else math.max(arLag, longLag)
    def features(t: Int, inno: Array[Double]): Array[Double] = {
      val x = new Array[Double](dim)
      x(0) = 1.0
      for (j <- 1 to p) x(j) = z(t - j)
      for (j <- 1 to bigP) x(p + j) = z(t - j * s)
      for (j <- 1 to q) x(p + bigP + j) = inno(t - j)
      for (j <- 0 until nExog) x(1 + p + bigP + q + j) = exogZ(t)(j)
      x
    }
    var beta: Array[Double] = null
    val iters = if (q == 0) 1 else cssIters
    for (_ <- 1 to iters) {
      val rows = (start until n).map(t => (features(t, e), z(t)))
      beta = LinAlg.ridgeFit(rows, dim, ridge)
      if (q > 0) {
        // refresh innovations from the fitted model's one-step residuals
        val e2 = new Array[Double](n)
        for (t <- start until n) {
          val x = features(t, e)
          e2(t) = z(t) - (0 until dim).map(i => beta(i) * x(i)).sum
        }
        e = e2
      }
    }
    (beta, e)
  }

  /** (AR coefficients 1..p, MA coefficients 1..q) of the fitted model on
    * the (already differenced, exog-free) series — exposed so tests can
    * pin the CSS estimates against known ARMA coefficients.
    */
  def arMaEstimates(z: Array[Double]): (Array[Double], Array[Double]) = {
    val (beta, _) = fitDifferenced(z, Array.empty, 0)
    ((1 to p).map(beta(_)).toArray, (1 to q).map(j => beta(p + bigP + j)).toArray)
  }

  override def predictNext(y: Array[Double], exog: Array[Array[Double]]): Double = {
    require(y.length > d, s"need more than $d observations to difference, got ${y.length}")
    // d-order differencing: levels(k) = k-th difference of y
    val levels = Iterator.iterate(y)(prev => prev.indices.tail.map(i => prev(i) - prev(i - 1)).toArray)
      .take(d + 1).toArray
    val z = levels(d)
    val n = z.length
    // at least one regression row: n > max lag used by any fit stage
    val minLag = if (q == 0) arLag else math.max(longLag, math.max(arLag, q))
    require(n > minLag, s"need more than ${minLag + d} observations, got ${y.length}")
    val nExog = if (exog.nonEmpty) exog(0).length else 0
    // z index i corresponds to original time i + d (exog is aligned to y)
    val exogZ: Array[Array[Double]] =
      if (nExog == 0) Array.fill(n)(Array.emptyDoubleArray)
      else Array.tabulate(n)(i => exog(i + d))
    val (beta, e) = fitDifferenced(z, exogZ, nExog)
    val dim = 1 + p + bigP + q + nExog
    val xNext = new Array[Double](dim)
    xNext(0) = 1.0
    for (j <- 1 to p) xNext(j) = z(n - j)
    for (j <- 1 to bigP) xNext(p + j) = z(n - j * s)
    for (j <- 1 to q) xNext(p + bigP + j) = e(n - j)
    for (j <- 0 until nExog) xNext(1 + p + bigP + q + j) = exog.last(j)
    val zNext = (0 until dim).map(i => beta(i) * xNext(i)).sum
    // integrate the differencing back: y_next = zNext + sum of the last
    // value at each lower difference level
    (d - 1 to 0 by -1).foldLeft(zNext)((acc, k) => acc + levels(k).last)
  }
}
