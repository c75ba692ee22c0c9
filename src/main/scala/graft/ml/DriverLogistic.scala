package graft.ml

import org.apache.spark.sql.Row

/** Binomial logistic regression over a collected training set, in
  * driver memory with plain arrays: the objective spark.ml's
  * `LogisticRegression` minimizes for [[MatchClassifier.Logistic]]
  * (mean log-loss with an intercept, no regularization), with none of
  * its per-iteration Spark jobs.
  *
  * Solver: Newton's method (IRLS) on the (k+1)×(k+1) system, k = the
  * non-constant features, with step halving so that every step lowers
  * the loss. Newton's iterates are affine-invariant, so spark.ml's
  * internal standardization does not change the optimum; the features
  * are standardized here only for conditioning. It stops after
  * `maxIter` steps, when a step lowers the loss by at most
  * `tol` × the starting loss (the relative function-value test of
  * spark.ml's L-BFGS, which also puts a separable set's stopping point
  * at the same loss scale), or when the system has no descent step.
  *
  * spark.ml's edge cases hold: a constant feature gets coefficient 0,
  * a constant-label set gets zero coefficients and an infinite
  * intercept, and a null or NaN feature throws.
  */
private[ml] object DriverLogistic {

  final case class Fit(coefficients: Array[Double], intercept: Double,
                       numClasses: Int, iterations: Int)

  /** Fit rows whose columns are `featureCols` followed by the label
    * (0 or 1). The rows are first sorted by their values, so the fit
    * depends on the training rows, not on the order a plan delivered
    * them in: its floating-point sums are then summed in one order. */
  def fit(input: Array[Row], featureCols: Seq[String], maxIter: Int,
          tol: Double): Fit = {
    import scala.math.Ordering.Implicits.seqOrdering
    implicit val byValue: Ordering[Double] = Ordering.Double.TotalOrdering
    val rows = input.sortBy(r => r.toSeq.map {
      case v: Number => v.doubleValue
      case _ => Double.NaN
    })
    val n = rows.length
    val d = featureCols.length
    require(n > 0, "cannot fit a classifier on an empty training set")
    // column-major features: x(j)(i) is feature j of row i
    val x = Array.ofDim[Double](d, n)
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      var j = 0
      while (j < d) {
        x(j)(i) = r.get(j) match {
          case v: Number if !v.doubleValue.isNaN => v.doubleValue
          case v => throw new IllegalArgumentException(
            s"feature ${featureCols(j)} is $v in training row $i")
        }
        j += 1
      }
      y(i) = r.get(d) match {
        case v: Number if v.doubleValue == 0.0 || v.doubleValue == 1.0 =>
          v.doubleValue
        case v => throw new IllegalArgumentException(
          s"label $v in training row $i is not 0 or 1")
      }
      i += 1
    }
    val pos = y.sum
    if (pos == 0 || pos == n)
      return Fit(new Array[Double](d),
        if (pos == n) Double.PositiveInfinity else Double.NegativeInfinity,
        numClasses = if (pos == n) 2 else 1, iterations = 0)

    val active = (0 until d).filter(j => x(j).exists(_ != x(j)(0))).toArray
    val k = active.length
    val mean = active.map(j => x(j).sum / n)
    val std = active.indices.map { a =>
      math.sqrt(x(active(a)).map(v => (v - mean(a)) * (v - mean(a))).sum / n)
    }.toArray
    // z(a)(i): standardized active feature a; the intercept is w(k)
    val z = Array.tabulate(k)(a => x(active(a)).map(v => (v - mean(a)) / std(a)))
    def margin(w: Array[Double], i: Int): Double = {
      var m = w(k)
      var a = 0
      while (a < k) { m += w(a) * z(a)(i); a += 1 }
      m
    }
    def loss(w: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        val m = margin(w, i)
        // log(1 + e^m) - y·m, without overflow
        s += (if (m > 0) m + math.log1p(math.exp(-m)) else math.log1p(math.exp(m))) -
          y(i) * m
        i += 1
      }
      s / n
    }

    // spark.ml's starting point: zero coefficients, log-odds intercept
    var w = new Array[Double](k + 1)
    w(k) = math.log(pos / (n - pos))
    var f = loss(w)
    val f0 = f
    var iterations = 0
    var done = false
    while (!done && iterations < maxIter) {
      val g = new Array[Double](k + 1)
      val h = Array.ofDim[Double](k + 1, k + 1)
      val v = new Array[Double](k + 1)
      v(k) = 1.0
      var i = 0
      while (i < n) {
        var a = 0
        while (a < k) { v(a) = z(a)(i); a += 1 }
        val m = margin(w, i)
        val p = if (m >= 0) 1 / (1 + math.exp(-m)) else {
          val e = math.exp(m); e / (1 + e)
        }
        val s = p * (1 - p)
        a = 0
        while (a <= k) {
          g(a) += (p - y(i)) * v(a)
          var b = 0
          while (b <= a) { h(a)(b) += s * v(a) * v(b); b += 1 }
          a += 1
        }
        i += 1
      }
      newtonStep(h, g) match {
        case None => done = true
        case Some(step) =>
          def along(t: Double) = Array.tabulate(k + 1)(a => w(a) - t * step(a))
          var t = 1.0
          var next = along(t)
          var fNext = loss(next)
          while (!(fNext <= f) && t > 1e-10) {
            t /= 2
            next = along(t)
            fNext = loss(next)
          }
          if (!(fNext <= f)) done = true
          else {
            iterations += 1
            done = f - fNext <= tol * f0
            w = next
            f = fNext
          }
      }
    }

    // back to the raw feature scale
    val coefficients = new Array[Double](d)
    var intercept = w(k)
    active.indices.foreach { a =>
      coefficients(active(a)) = w(a) / std(a)
      intercept -= w(a) * mean(a) / std(a)
    }
    Fit(coefficients, intercept, numClasses = 2, iterations)
  }

  /** Solve H·step = g, H the lower triangle of a symmetric positive
    * semi-definite matrix (sums, not yet means: the scale cancels), by
    * Cholesky. A direction whose pivot vanishes relative to its
    * diagonal (a feature collinear with earlier ones) gets step 0, so
    * the step is Newton's on the remaining directions. None when no
    * direction is left or the factorization is not finite. */
  private def newtonStep(h: Array[Array[Double]],
                         g: Array[Double]): Option[Array[Double]] = {
    val k = g.length
    val l = Array.ofDim[Double](k, k)
    val live = new Array[Boolean](k)
    for (j <- 0 until k) {
      var s = h(j)(j)
      for (m <- 0 until j) s -= l(j)(m) * l(j)(m)
      live(j) = s > 1e-12 * h(j)(j)
      if (live(j)) {
        l(j)(j) = math.sqrt(s)
        for (r <- j + 1 until k) {
          var t = h(r)(j)
          for (m <- 0 until j) t -= l(r)(m) * l(j)(m)
          l(r)(j) = t / l(j)(j)
        }
      }
    }
    val u = new Array[Double](k)
    for (j <- 0 until k if live(j)) {
      var s = g(j)
      for (m <- 0 until j) s -= l(j)(m) * u(m)
      u(j) = s / l(j)(j)
    }
    val step = new Array[Double](k)
    for (j <- k - 1 to 0 by -1 if live(j)) {
      var s = u(j)
      for (m <- j + 1 until k) s -= l(m)(j) * step(m)
      step(j) = s / l(j)(j)
    }
    if (live.exists(identity) && step.forall(v => !v.isNaN && !v.isInfinite))
      Some(step)
    else None
  }
}
