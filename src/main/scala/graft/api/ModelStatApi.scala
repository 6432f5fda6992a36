package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CosineSim, Portable, Text}
/** model-statistic family: exact Gram matrix, Jacobi PCA fit/project, table profiling, drift — members of [[GraftOps]], split out of the former single
  * 6,600-line object (round 19) purely for maintainability: the trait
  * mixes back into `object GraftOps`, so every callsite, registry op,
  * and scaladoc link is untouched. The self-type makes members of the
  * other family traits visible exactly as before the split. */
private[api] trait ModelStatApi { self: GraftOps.type =>

  // --------------------------------------------------------- PCA family

  /** Exact integer Gram/second-moment matrix of an embedding column —
    * the sufficient statistic PCA, whitening, and covariance analysis
    * start from, computed so that it HASH-GATES even though it
    * summarizes float data: each component quantizes to floor-micros
    * (the q21/q48 exact-decimal convention) and cell (i, j) is the
    * exact Long sum of quantized products. ONE
    * [[graft.functions.GramAgg]] pass — a typed Aggregator with
    * O(dim²) state per task and element-wise merge, so map-side
    * combine applies and NOTHING row-scale ever shuffles (the
    * explode-then-regroup form would ship dim²× rows); the single
    * packed row then unpivots to (i, j, g) upper-triangle rows
    * (i ≤ j) via baked index literals. Exactness contract in the
    * aggregator scaladoc (unit-scale embeddings: exact to ~9M rows
    * per aggregate; shard-and-fold in decimal beyond — the summary is
    * mergeable by construction). */
  def gramMatrix(df: DataFrame, vec: Column, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1,512]; got $dim")
    val gramLen = dim * (dim + 1) / 2
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
    val ga = udaf(new graft.functions.GramAgg(dim), enc)
    val pairs = for { i <- 0 until dim; j <- i until dim } yield (i, j)
    val iArr = typedLit(pairs.map(_._1))
    val jArr = typedLit(pairs.map(_._2))
    df.select(ga(vec).as("__s"))
      .select(posexplode(slice(col("__s"), dim + 2, gramLen))
        .as(Seq("__p", "g")))
      .select(element_at(iArr, col("__p") + 1).as("i"),
        element_at(jArr, col("__p") + 1).as("j"), col("g"))
      .orderBy("i", "j")
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic by construction (fixed sweep order, fixed
    * convergence threshold, eigenpairs sorted by (eigenvalue desc,
    * original index asc), each eigenvector sign-pinned so its
    * largest-|component| entry — first on ties — is positive). Runs on
    * the DRIVER over a model-sized dim×dim matrix (the
    * codebook/centroid collect posture); the corpus never sees it. */
  private def jacobiEigen(aIn: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = aIn.length
    val a = Array.tabulate(n, n)((i, j) => aIn(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-22) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - sn * aqi
              a(q)(i) = sn * api + c * aqi
              i += 1
            }
            i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { ci =>
      val colv = Array.tabulate(n)(r => v(r)(ci))
      val m = colv.indices.maxBy(i => (math.abs(colv(i)), -i))
      if (colv(m) < 0.0) colv.map(x => -x) else colv
    }.toArray
    (vals, vecs)
  }

  /** PCA fit — top-`k` principal components of an embedding column
    * from ONE [[graft.functions.GramAgg]] corpus pass: the exact
    * integer (count, sums, Gram) summary collects as a single
    * model-sized row, the covariance C = G/N − μμᵀ derives from it in
    * doubles, and a deterministic driver-side Jacobi solve (see
    * [[jacobiEigen]] — fixed sweep order, sign-pinned eigenvectors)
    * yields the components. Returns a MODEL table that flows by port
    * like the codebook/centroid models (q50/q66): one row per
    * (component, dim) with the loading `weight` and the component's
    * `eigenvalue`, plus component = −1 rows carrying the column means
    * μ (the centering the projection needs). The model is rows-only
    * territory by design — eigenvectors are iterative float output no
    * SQL engine restates — so its laws are spec-pinned instead:
    * orthonormality, the eigen residual ‖Cv − λv‖, descending
    * eigenvalues, planted-direction recovery, and run-to-run
    * determinism. The CORPUS-side statistic it consumes is exactly
    * [[gramMatrix]], which IS hash-gated (q154). */
  def pcaFit(df: DataFrame, vec: Column, dim: Int, k: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1,512]; got $dim")
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim; got k=$k dim=$dim")
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
    val ga = udaf(new graft.functions.GramAgg(dim), enc)
    // one row, 1 + dim + dim(dim+1)/2 longs — the model-sized collect
    val s = df.select(ga(vec).as("__s")).head().getSeq[Long](0)
    pcaFromPacked(df.sparkSession, s, dim, k)
  }

  /** The FULL [[graft.functions.GramAgg]] packed summary as rows —
    * (idx, v) over the [count, dim quantized sums, upper-triangle
    * products] layout, the mergeable model statistic behind both
    * [[gramMatrix]] (which keeps only the triangle) and [[pcaFit]]
    * (which needs all three blocks). Everything is an exact Long SUM,
    * so two summaries merge by idx-wise addition — the property the
    * S31 streaming face ([[graft.streaming.StreamingOps.gramAppendSink]]
    * / gramState) is built on. Same one-pass plan as gramMatrix: one
    * typed-Aggregator hash agg with map-side combine, one model-sized
    * row exploded to 1 + dim + dim(dim+1)/2 output rows. */
  def gramSummaryRows(df: DataFrame, vec: Column, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1,512]; got $dim")
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
    val ga = udaf(new graft.functions.GramAgg(dim), enc)
    df.select(ga(vec).as("__s"))
      .select(posexplode(col("__s")).as(Seq("idx", "v")))
  }

  /** [[pcaFit]] from an ALREADY-AGGREGATED [[gramSummaryRows]] summary
    * (batch rows or the S31 streaming state) — the corpus pass is paid
    * elsewhere; this is only the model-sized collect + the driver-side
    * Jacobi, so a continuously-maintained Gram log yields a fresh PCA
    * model without ever re-scanning history. Fails loudly on a summary
    * whose row count doesn't match `dim`'s packed layout (a truncated
    * or wrong-dim log would otherwise fit a silently wrong model). */
  def pcaFitFromSummary(summary: DataFrame, dim: Int, k: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1,512]; got $dim")
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim; got k=$k dim=$dim")
    val len = 1 + dim + dim * (dim + 1) / 2
    val rows = summary
      .select(col("idx").cast("int"), col("v").cast("long")).collect()
    require(rows.length == len,
      s"pcaFitFromSummary: ${rows.length} summary rows != expected $len " +
        s"for dim=$dim — wrong dim or a truncated summary")
    val s = new Array[Long](len)
    rows.foreach(r => s(r.getInt(0)) = r.getLong(1))
    pcaFromPacked(summary.sparkSession, s.toSeq, dim, k)
  }

  /** Shared driver-side tail of [[pcaFit]]/[[pcaFitFromSummary]]:
    * packed GramAgg summary → covariance → Jacobi → model rows. */
  private def pcaFromPacked(session: org.apache.spark.sql.SparkSession,
      s: Seq[Long], dim: Int, k: Int): DataFrame = {
    val n = s.head.toDouble
    require(n >= 2.0, s"pcaFit needs >= 2 rows; got ${s.head}")
    val mu = Array.tabulate(dim)(i => s(1 + i) * 1e-6 / n)
    val cov = Array.ofDim[Double](dim, dim)
    var p = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = s(p) * 1e-12 / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        p += 1; j += 1
      }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    import session.implicits._
    val rows =
      (0 until dim).map(d => (-1, d, mu(d), 0.0)) ++
        (for { c <- 0 until k; d <- 0 until dim }
          yield (c, d, vecs(c)(d), vals(c)))
    rows.toDF("component", "dim", "weight", "eigenvalue")
  }

  /** PCA projection — scores = V·(x − μ) for a [[pcaFit]] model: the
    * k×dim loading matrix and mean collect driver-side (model-sized,
    * the codebook posture), the matrix product is ONE codegen'd
    * [[graft.functions.PlaneDots]] pass (the q61 machinery — the HOF
    * form re-walks the embedding once per component, interpreted), and
    * centering folds into the affine constant V·μ subtracted from the
    * k-length output (never an elementwise x − μ walk per row). Adds
    * `proj` (array<double>, length k). Pure narrow map — zero shuffle,
    * scan speed at any scale; wrong-length vectors fail loudly (the
    * randomProject guard — a silent prefix fold would project degraded
    * geometry with no signal). */
  def pcaProject(df: DataFrame, vec: Column, model: DataFrame,
      dim: Int): DataFrame = {
    val rows = model.select(col("component"), col("dim"), col("weight"))
      .collect()
    val muRows = rows.filter(_.getInt(0) == -1)
    // a model without mean rows would silently project UNCENTERED —
    // different scores with no signal; fail loudly instead
    require(muRows.nonEmpty,
      "pcaProject: model has no component = -1 mean rows (not a pcaFit model?)")
    val mu = new Array[Double](dim)
    muRows.foreach(r => mu(r.getInt(1)) = r.getDouble(2))
    val comps = rows.filter(_.getInt(0) >= 0)
    require(comps.nonEmpty, "pcaProject: model has no component rows")
    val k = comps.map(_.getInt(0)).max + 1
    val mat = Array.ofDim[Double](k, dim)
    comps.foreach(r => mat(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val planes = IndexedSeq.tabulate(k, dim)((c, d) => mat(c)(d))
    val offset = planes.map(rowv =>
      rowv.iterator.zip(mu.iterator).map { case (w, m) => w * m }.sum)
    val vecSize = coalesce(size(vec), lit(-1))
    val checked = when(vecSize === dim || vecSize === -1, vec)
      .otherwise(raise_error(concat(
        lit(s"pcaProject: expected $dim-component vectors, got "),
        vecSize.cast("string"))))
    df.withColumn("proj",
      zip_with(graft.functions.PlaneDots(checked, planes),
        typedLit(offset), (a, b) => a - b))
  }

  /** Ridge-regression fit over an embedding column — the quality-scorer
    * trainer of the CCNet/fastText filtering workflow ("fit a linear
    * scorer on labeled documents, apply it at corpus scale"): solves
    * the CENTERED normal equations (Cxx + λI)β = Cxy with intercept
    * b = ȳ − β·x̄, where every sufficient statistic comes from ONE
    * [[graft.functions.GramAgg]] pass over the target-AUGMENTED vector
    * (x ++ [y] at dim+1 — the augmented Gram contains XᵀX, Xᵀy and yᵀy
    * at once, so fitting costs exactly the q154 summary pass and
    * NOTHING row-scale ever shuffles). The solve is a deterministic
    * driver-side Cholesky on the model-sized (dim×dim) system (fixed
    * elimination order — bit-reproducible run to run); λ arrives as
    * ppm (λ = 0 is ordinary least squares and fails LOUDLY on a
    * non-positive pivot instead of returning a garbage model).
    *
    * Returns a model table in the pcaFit convention: one (dim, weight)
    * row per input dimension plus a dim = −1 intercept row — flows by
    * port into [[ridgeApply]]. Rows-only territory by design (the
    * solve is float output no SQL engine restates); its laws are
    * spec-pinned instead: exact planted-relation recovery, shrinkage
    * monotonicity in λ, bit-equal determinism, and bit-equality with
    * [[ridgeFitFromSummary]] over the same augmented summary. NULL vec
    * OR target rows drop up front (the [[calibrationReport]] NULL-drop
    * convention — a NULL target inside the augmented array would
    * otherwise die in the encoder with an unhelpful error). */
  def ridgeFit(df: DataFrame, vec: Column, target: Column, dim: Int,
      lambdaPpm: Long): DataFrame = {
    require(dim >= 1 && dim <= 511, s"dim must be in [1,511]; got $dim")
    require(lambdaPpm >= 0, s"lambdaPpm must be >= 0; got $lambdaPpm")
    // drop NULL vec/target rows UP FRONT (the calibrationReport/aucReport
    // NULL-drop convention): a non-NULL vec with a NULL target would
    // otherwise concat to an array with a NULL element, which the
    // Seq[Float] encoder rejects with an opaque null-decode error that
    // GramAgg's dim/finite guards never get to see
    val aug = concat(vec, array(target.cast("float")))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
    val ga = udaf(new graft.functions.GramAgg(dim + 1), enc)
    val s = df.filter(vec.isNotNull && target.isNotNull)
      .select(ga(aug).as("__s")).head().getSeq[Long](0)
    ridgeFromPacked(df.sparkSession, s, dim, lambdaPpm)
  }

  /** [[ridgeFit]] from an ALREADY-AGGREGATED augmented summary — the
    * [[pcaFitFromSummary]] pattern: feed it
    * `gramSummaryRows(df, concat(vec, array(y)), dim + 1)` batch rows
    * or the S31 [[graft.streaming.StreamingOps.gramState]] read of a
    * log appended with the augmented vector, and the quality model
    * refreshes with no history re-scan. Fails loudly on a summary
    * whose row count doesn't match the dim+1 packed layout. */
  def ridgeFitFromSummary(summary: DataFrame, dim: Int,
      lambdaPpm: Long): DataFrame = {
    require(dim >= 1 && dim <= 511, s"dim must be in [1,511]; got $dim")
    require(lambdaPpm >= 0, s"lambdaPpm must be >= 0; got $lambdaPpm")
    val d1 = dim + 1
    val len = 1 + d1 + d1 * (d1 + 1) / 2
    val rows = summary
      .select(col("idx").cast("int"), col("v").cast("long")).collect()
    require(rows.length == len,
      s"ridgeFitFromSummary: ${rows.length} summary rows != expected $len " +
        s"for dim=$dim (augmented dim+1 layout) — wrong dim or truncated")
    val s = new Array[Long](len)
    rows.foreach(r => s(r.getInt(0)) = r.getLong(1))
    ridgeFromPacked(summary.sparkSession, s.toSeq, dim, lambdaPpm)
  }

  /** Shared deterministic driver-side Cholesky solve of A θ = rhs —
    * the ONE factorization both model fitters use (fixed elimination
    * order, bit-reproducible run to run), with the RELATIVE pivot
    * floor: an exactly-collinear design yields a pivot at rounding
    * scale (±1e-16·diag), which must fail LOUDLY under the caller's
    * name — never a sqrt of rounding noise feeding a garbage model.
    * Extracting it keeps the pivot guard, elimination order, and
    * determinism contract in one place instead of two copies that
    * could silently diverge. */
  private def choleskySolve(a: Array[Array[Double]], rhs: Array[Double],
      who: String): Array[Double] = {
    val m = a.length
    val l = Array.ofDim[Double](m, m)
    var r = 0
    while (r < m) {
      var c = 0
      while (c <= r) {
        var sum = a(r)(c)
        var k2 = 0
        while (k2 < c) { sum -= l(r)(k2) * l(c)(k2); k2 += 1 }
        if (r == c) {
          require(sum > 1e-12 * math.max(1.0, math.abs(a(r)(r))),
            s"$who: non-positive pivot $sum at dim $r — the design is " +
              "rank-deficient at lambda=0; raise lambdaPpm")
          l(r)(r) = math.sqrt(sum)
        } else l(r)(c) = sum / l(c)(c)
        c += 1
      }
      r += 1
    }
    val y = new Array[Double](m)
    var i = 0
    while (i < m) {
      var sum = rhs(i)
      var k2 = 0
      while (k2 < i) { sum -= l(i)(k2) * y(k2); k2 += 1 }
      y(i) = sum / l(i)(i)
      i += 1
    }
    val theta = new Array[Double](m)
    i = m - 1
    while (i >= 0) {
      var sum = y(i)
      var k2 = i + 1
      while (k2 < m) { sum -= l(k2)(i) * theta(k2); k2 += 1 }
      theta(i) = sum / l(i)(i)
      i -= 1
    }
    theta
  }

  /** Shared driver-side tail of [[ridgeFit]]/[[ridgeFitFromSummary]]:
    * augmented packed summary → centered covariance → Cholesky solve. */
  private def ridgeFromPacked(session: org.apache.spark.sql.SparkSession,
      s: Seq[Long], dim: Int, lambdaPpm: Long): DataFrame = {
    val d1 = dim + 1
    val n = s.head.toDouble
    require(n >= 2.0, s"ridgeFit needs >= 2 rows; got ${s.head}")
    val mu = Array.tabulate(d1)(i => s(1 + i) * 1e-6 / n)
    val cov = Array.ofDim[Double](d1, d1)
    var p = 1 + d1
    var i = 0
    while (i < d1) {
      var j = i
      while (j < d1) {
        val c = s(p) * 1e-12 / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        p += 1; j += 1
      }
      i += 1
    }
    val lam = lambdaPpm.toDouble / 1e6
    // Cholesky of A = Cxx + λI (shared deterministic solver)
    val a = Array.tabulate(dim, dim)((r, c) =>
      cov(r)(c) + (if (r == c) lam else 0.0))
    val beta = choleskySolve(a,
      Array.tabulate(dim)(i2 => cov(i2)(dim)), "ridgeFit")
    val intercept = mu(dim) -
      (0 until dim).iterator.map(d => beta(d) * mu(d)).sum
    import session.implicits._
    ((0 until dim).map(d => (d, beta(d))) :+ (-1, intercept))
      .toDF("dim", "weight")
  }

  /** Logistic-regression quality scorer — the model class the
    * CCNet/fastText filter actually is (ridge q159 is its linear
    * sibling): fixed-iteration IRLS (Newton) where EVERY iteration
    * costs exactly ONE [[graft.functions.GramAgg]] pass over the
    * labeled set plus a driver-side Cholesky on the model-sized
    * system. Per iteration, with p = σ(β·x + b) and w = p(1−p), the
    * Newton update solves (X′ᵀWX′ + λI)θ = X′ᵀWz for the working
    * response z = η + (y−p)/w over the intercept-augmented design
    * X′ = [x, 1]; both sides of that system arrive in ONE unweighted
    * Gram pass over the scaled augmented vector
    * a = [√w·x, √w, (√w·η + (y−p)/√w)/64] at dim+2 — the √w folds the
    * weight into the raw second moments (a aᵀ's top-left block is
    * X′ᵀWX′, its last column ×64 is X′ᵀWz), and the /64 keeps the
    * working-response component UNIT-SCALE so GramAgg's exact-Long
    * bound holds at the same ~9M-rows-per-aggregate posture as q154.
    * η clips to ±ln(999) (p pinned to [10⁻³, 1−10⁻³]) — the standard
    * saturation guard, which also floors w and bounds every component:
    * |√w·η| ≤ 3.46, |(y−p)/√w| ≤ 31.6, /64 → ≤ 0.55. Deterministic by
    * construction (integer Gram sums are order-independent; fixed
    * driver elimination order), spec-pinned: planted-model recovery,
    * loss decrease, λ-shrinkage, bit-equal determinism, NULL-drop.
    *
    * λ (ppm) penalizes the non-intercept coefficients only (standard);
    * λ = 0 is plain MLE and fails LOUDLY on a rank-deficient design
    * (the ridge pivot guard). SCALE NOTE (r20 ADVICE): λ here adds to
    * the RAW (sum-loss) weighted moments, while [[ridgeFit]] adds λ to
    * the n-NORMALIZED covariance — the same lambdaPpm therefore
    * regularizes this fit ~n× more weakly, and a fit comparable to
    * ridge's needs lambdaPpm ≈ n × the ridge value. Documented rather
    * than changed: the sum-loss scale is the textbook penalized-IRLS
    * form, and rescaling would silently alter every existing fit. `iters` is FIXED (no data-dependent
    * stopping — determinism and a bounded pass count at any scale);
    * 4–8 reaches working precision on well-scaled features. Unlike
    * [[ridgeFit]] there is deliberately NO fit-from-summary face: the
    * IRLS weights depend on the CURRENT β, so a static summary log
    * cannot honestly maintain the fit — each refresh re-scans the
    * labeled set (which is model-training-set-sized, not corpus-sized,
    * by the workflow's nature). Returns the [[ridgeFit]] model shape —
    * (dim, weight) rows + dim = −1 intercept — so the model flows by
    * port into [[logisticApply]]. NULL vec/target rows drop up front. */
  def logisticFit(df: DataFrame, vec: Column, target: Column, dim: Int,
      iters: Int, lambdaPpm: Long): DataFrame = {
    require(dim >= 1 && dim <= 510, s"dim must be in [1,510]; got $dim")
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50]; got $iters")
    require(lambdaPpm >= 0, s"lambdaPpm must be >= 0; got $lambdaPpm")
    val etaClip = math.log(999.0) // p in [1e-3, 1-1e-3]; floors w too
    // The labeled projection is scanned once per Newton step; checkpoint
    // it (training-set-sized by the workflow's nature — the scaladoc's
    // honesty note) so the iterations re-read materialized rows instead
    // of re-running the source scan + NULL-drop `iters` times (r20
    // verdict polish note; r21). The returned model is driver-built, so
    // the scope frees the checkpoint when the fit returns (r21 ADVICE:
    // many fits in one long session would otherwise accumulate storage
    // memory). Deterministic init: β = 0, intercept = clipped logit of
    // the base rate, observed on the checkpoint job (the first
    // iteration's η is then constant).
    Checkpoints.scoped { cp =>
    val (kept, base) = cp(df.filter(vec.isNotNull && target.isNotNull)
      .select(vec.as("__v"), target.cast("boolean").cast("double").as("__y")),
      count(lit(1)), sum(col("__y")))
    val n0 = base.getLong(0)
    require(n0 >= 2, s"logisticFit needs >= 2 labeled rows; got $n0")
    val pBar = math.min(1.0 - 1e-3,
      math.max(1e-3, base.getDouble(1) / n0.toDouble))
    var beta = new Array[Double](dim)
    var b = math.log(pBar / (1.0 - pBar))
    val d2 = dim + 2
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
    val ga = udaf(new graft.functions.GramAgg(d2), enc)
    val vecSize = coalesce(size(col("__v")), lit(-1))
    var it = 0
    while (it < iters) {
      val checked = when(vecSize === dim, col("__v"))
        .otherwise(raise_error(concat(
          lit(s"logisticFit: expected $dim-component vectors, got "),
          vecSize.cast("string"))))
      val etaRaw = element_at(
        graft.functions.PlaneDots(checked, IndexedSeq(beta.toIndexedSeq)), 1) +
        lit(b)
      // η, p, √w staged as columns so each is computed ONCE per row
      // (inlining them into the dim-element transform would re-walk
      // the PlaneDots dot per component)
      val staged = kept
        .withColumn("__eta", least(greatest(etaRaw, lit(-etaClip)),
          lit(etaClip)))
        .withColumn("__p", lit(1.0) / (lit(1.0) + exp(-col("__eta"))))
        .withColumn("__sw", sqrt(col("__p") * (lit(1.0) - col("__p"))))
      // a = [√w·x, √w, (√w·η + (y−p)/√w)/64] — dim+2 components, all
      // unit-scale (see scaladoc); one unweighted exact Gram pass
      val aug = concat(
        transform(col("__v"), x => (x * col("__sw")).cast("float")),
        array(col("__sw").cast("float")),
        array(((col("__sw") * col("__eta") +
          (col("__y") - col("__p")) / col("__sw")) / lit(64.0))
          .cast("float")))
      val s = staged.select(ga(aug).as("__s")).head().getSeq[Long](0)
      val upd = logisticSolve(s, dim, lambdaPpm)
      beta = upd._1; b = upd._2
      it += 1
    }
    import df.sparkSession.implicits._
    ((0 until dim).map(d => (d, beta(d))) :+ (-1, b))
      .toDF("dim", "weight")
    }
  }

  /** Driver-side Newton step of [[logisticFit]]: the packed dim+2
    * Gram summary of the scaled augmented vectors → raw moment blocks
    * (X′ᵀWX′, X′ᵀWz·1/64) → ridge-regularized Cholesky solve (fixed
    * elimination order, the ridgeFromPacked pivot guard; λ skips the
    * intercept row). Returns (β, intercept). */
  private def logisticSolve(s: Seq[Long], dim: Int,
      lambdaPpm: Long): (Array[Double], Double) = {
    val d2 = dim + 2
    // defensive at THIS layer too (r20 ADVICE): logisticFit's caller
    // guard already rejects n < 2, but a future caller must not reach
    // the Cholesky with a degenerate summary
    require(s.head >= 2, s"logisticSolve needs >= 2 summarized rows; got ${s.head}")
    val d1 = dim + 1 // the [x, 1] design incl. intercept column
    // raw second moments from the packed triangle (quantized ×1e-12)
    val m = Array.ofDim[Double](d2, d2)
    var p = 1 + d2
    var i = 0
    while (i < d2) {
      var j = i
      while (j < d2) {
        val c = s(p) * 1e-12
        m(i)(j) = c; m(j)(i) = c
        p += 1; j += 1
      }
      i += 1
    }
    val lam = lambdaPpm.toDouble / 1e6
    val a = Array.tabulate(d1, d1)((r, c) =>
      m(r)(c) + (if (r == c && r < dim) lam else 0.0))
    val rhs = Array.tabulate(d1)(r => m(r)(d2 - 1) * 64.0)
    val theta = choleskySolve(a, rhs, "logisticFit")
    (theta.take(dim), theta(dim))
  }

  /** Apply a [[logisticFit]] model: adds `score` = σ(β·x + b) ∈ (0, 1)
    * — the normalized quality probability [[calibrationReport]] and
    * the mixture ops consume directly. Same plan as [[ridgeApply]]
    * (whose model shape it shares): one codegen'd PlaneDots dot with
    * the intercept folded in, plus one scalar sigmoid — pure narrow
    * map, zero shuffle, scan speed at any scale; wrong-length vectors
    * fail loudly. */
  def logisticApply(df: DataFrame, vec: Column, model: DataFrame,
      dim: Int): DataFrame =
    ridgeApply(df, vec, model, dim)
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-col("score"))))

  /** Apply a [[ridgeFit]] model: adds `score` = β·x + b. The weights
    * collect driver-side (model-sized), the dot product is ONE
    * codegen'd [[graft.functions.PlaneDots]] pass with the intercept
    * folded into the affine constant — pure narrow map, zero shuffle,
    * scan speed at any scale; wrong-length vectors fail loudly (the
    * pcaProject guard). */
  def ridgeApply(df: DataFrame, vec: Column, model: DataFrame,
      dim: Int): DataFrame = {
    val rows = model.select(col("dim"), col("weight")).collect()
    val bRow = rows.filter(_.getInt(0) == -1)
    require(bRow.nonEmpty,
      "ridgeApply: model has no dim = -1 intercept row (not a ridgeFit model?)")
    val w = new Array[Double](dim)
    rows.filter(_.getInt(0) >= 0).foreach(r => w(r.getInt(0)) = r.getDouble(1))
    val b = bRow.head.getDouble(1)
    val vecSize = coalesce(size(vec), lit(-1))
    val checked = when(vecSize === dim || vecSize === -1, vec)
      .otherwise(raise_error(concat(
        lit(s"ridgeApply: expected $dim-component vectors, got "),
        vecSize.cast("string"))))
    df.withColumn("score",
      element_at(graft.functions.PlaneDots(checked,
        IndexedSeq(w.toIndexedSeq)), 1) + lit(b))
  }

  /** L2 (unit-norm) embedding normalization — the preprocessing step the
    * dot-scored routing family ASSUMES (see [[ivfTopK]]/[[kmeansFit]]:
    * cell assignment ranks raw dot products, which biases toward
    * long-norm vectors unless inputs are ~unit-norm; this op closes that
    * documented caveat). Adds `unit` (array<double>). Pure narrow HOF
    * map, zero shuffle, scan speed at any scale: ONE codegen'd
    * [[graft.functions.L2Unit]] pass per row (sequential zero-seeded
    * sum-of-squares fold — bit-identical to the oracle's first-element-
    * seeded `list_reduce` since squares are non-negative — then one
    * divide per component; the HOF `aggregate`+`transform` form ran
    * interpreted and ~5× slower, measured). Zero-norm vectors yield NULL
    * components — 0/0 would be an engine-dependent NaN/Inf; NULL
    * *vectors* null-propagate to a NULL array (the family convention). */
  def l2Normalize(df: DataFrame, vec: Column): DataFrame = {
    require(!df.columns.contains("unit"),
      "l2Normalize adds a `unit` column; the input already has one — rename it first")
    df.withColumn("unit", graft.functions.L2Unit(vec))
  }

  /** Table profile — the dataset-card primitive every ingestion runs
    * before anything else: one row per column with the exact-safe
    * counts that are portable for ANY column type — rows, non-null
    * count, null count, exact distinct count. (Min/max/mean are
    * deliberately absent: their string/float renderings are
    * engine-dependent across types; the declarative validation op
    * (q57) checks typed bounds where they matter.) Column order is the
    * schema's, surfaced as an explicit ordinal so the report is
    * totally ordered. All integers (hash-gates, q147).
    *
    * Plan, exact tier: ONE aggregate computes every column's count +
    * exact count-distinct in a single corpus pass (Spark plans
    * multi-distinct via one expand — m distinct aggregates cost one
    * m-way ROW MULTIPLICATION of the corpus through one exchange),
    * then a 1-row → m-row literal unpivot. No per-column scans, no
    * window. At 100 TB that Expand is exactly the wrong default for
    * the one op that by definition scans the whole corpus — so
    * `approx = true` swaps each countDistinct for an HLL++
    * `approx_count_distinct` (the q15b/q29b sketch-tier precedent):
    * same report schema, ONE map-side-combined pass with NO row
    * expansion, n_distinct becomes an estimate (default rsd 5%;
    * rows-only gate q147b — sketches don't hash-match DuckDB, the
    * relative-error bound vs the exact tier is spec-pinned). */
  def profileTable(df: DataFrame, cols: Seq[String] = Nil,
      approx: Boolean = false): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    require(names.nonEmpty, "profileTable needs at least one column")
    val missing = names.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(", ")}")
    def nd(c: String): Column =
      if (approx) approx_count_distinct(col(c)) else countDistinct(col(c))
    val aggs = count(lit(1)).as("__rows") +:
      names.zipWithIndex.flatMap { case (c, i) =>
        Seq(count(col(c)).as(s"__nn$i"), nd(c).as(s"__nd$i"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(posexplode(array(names.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column"), col("__rows").as("n_rows"),
          col(s"__nn$i").as("n_nonnull"),
          (col("__rows") - col(s"__nn$i")).as("n_null"),
          col(s"__nd$i").as("n_distinct"))
      }: _*)))
      .select((col("pos") + 1).cast("long").as("ordinal"),
        col("col.column").as("column"),
        col("col.n_rows").as("n_rows"), col("col.n_nonnull").as("n_nonnull"),
        col("col.n_null").as("n_null"), col("col.n_distinct").as("n_distinct"))
  }

  /** Dataset-card DRIFT report — [[profileTable]] of two snapshots of
    * the "same" table FULL-OUTER joined by column name: per column,
    * both row counts, exact integer null-ppm on both sides with the
    * delta, and both exact distinct counts with the delta — the
    * regression check every scheduled ingest runs against its previous
    * card before publishing (a null-rate jump or a cardinality collapse
    * is a broken upstream, caught at the card, not by a consumer).
    * SCHEMA drift is first-class, not an error: a column present on
    * only one side still reports, its missing side NULL and `status`
    * saying added/removed/common — the full-outer complement of q107's
    * value-distribution drift (one column, deep) at the whole-schema
    * grain (every column, shallow). Deltas on added/removed columns are
    * NULL (there is no honest number). Cost = the two profile passes
    * (the q147 single-aggregate shape each; `approx = true` routes both
    * through the HLL tier — the 100 TB default) plus a column-count-
    * sized join. Total order: current-side ordinal (base ordinal for
    * removed columns), then column name. */
  def profileDrift(base: DataFrame, cur: DataFrame,
      cols: Seq[String] = Nil, approx: Boolean = false): DataFrame = {
    val b = profileTable(base, cols, approx)
      .select(col("ordinal").as("__ob"), col("column"),
        col("n_rows").as("rows_base"), col("n_null").as("__nb"),
        col("n_distinct").as("distinct_base"))
    val c = profileTable(cur, cols, approx)
      .select(col("ordinal").as("__oc"), col("column"),
        col("n_rows").as("rows_cur"), col("n_null").as("__nc"),
        col("n_distinct").as("distinct_cur"))
    b.join(c, Seq("column"), "full_outer")
      .withColumn("status",
        when(col("__ob").isNull, lit("added"))
          .when(col("__oc").isNull, lit("removed"))
          .otherwise(lit("common")))
      .withColumn("null_ppm_base",
        expr("(__nb * 1000000) div greatest(rows_base, 1)"))
      .withColumn("null_ppm_cur",
        expr("(__nc * 1000000) div greatest(rows_cur, 1)"))
      .withColumn("null_ppm_delta",
        col("null_ppm_cur") - col("null_ppm_base"))
      .withColumn("distinct_delta",
        col("distinct_cur") - col("distinct_base"))
      .orderBy(coalesce(col("__oc"), col("__ob")), col("column"))
      .select(col("column"), col("status"), col("rows_base"),
        col("rows_cur"), col("null_ppm_base"), col("null_ppm_cur"),
        col("null_ppm_delta"), col("distinct_base"), col("distinct_cur"),
        col("distinct_delta"))
  }

  /** Key-skew audit — the measurement that DECIDES [[saltedJoin]]'s
    * `salts` (or an AQE skew threshold, or a broadcast) before a 100 TB
    * shuffle pays for the wrong choice: the top-`topN` hottest keys by
    * exact count, each row carrying its integer-ppm share of all rows
    * plus the global totals (n_rows, n_keys), ordered by the
    * (count desc, key asc NULLS LAST) total order — the NULL position
    * is pinned explicitly because Spark and DuckDB disagree on the
    * ascending default. NULL keys are REAL skew — every
    * NULL row hash-partitions together — so NULL is reported as a key
    * like any other (its key string is NULL; stated). Keys surface CAST
    * TO STRING so one report type serves any key type (hash-portable).
    * All integers exact (q145).
    *
    * Plan: one map-side-combined key agg, one 1-row totals broadcast
    * (the q35/q70 shape), one TakeOrderedAndProject — never a sort of
    * the key table. */
  def keySkewReport(df: DataFrame, key: Column, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1; got $topN")
    val counts = df.select(key.cast("string").as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("__rows"),
      count(lit(1)).as("__keys"))
    counts.crossJoin(broadcast(totals))
      .withColumn("ppm", expr("(n * 1000000) div __rows"))
      // NULLS LAST pinned explicitly: Spark's default asc puts NULL
      // FIRST while DuckDB defaults NULLS LAST, so a count tie between
      // the NULL key and a non-null key would flip topN membership
      // across engines (r17 ADVICE) — the report's total order is
      // (count desc, key asc NULLS LAST) on both.
      .orderBy(desc("n"), col("key").asc_nulls_last)
      .limit(topN)
      .select(col("key"), col("n"), col("ppm"),
        col("__rows").as("n_rows"), col("__keys").as("n_keys"))
  }

  /** Join-cardinality estimator — EXACT |A ⋈ B| without executing the
    * join: Σ over matching keys of n_a·n_b, computed from the two
    * key-count tables (key-cardinality scale, never row scale). The
    * pre-flight audit that catches the accidental many-to-many before
    * it materializes (a fanout of 10⁴×10⁴ on one hot key is 10⁸ rows
    * the plan never warned about): reports the top-`topN` contributing
    * keys (n_left, n_right, exact pair count) with the global exact
    * join_rows and matched-key count on every row. NULL keys never
    * match (equi-join semantics) and are excluded. Keys as strings,
    * all counts exact integers (q146).
    *
    * Plan: two map-side-combined key aggs, one key-table equi-join
    * (AQE broadcasts the smaller), one 1-row totals broadcast, one
    * TakeOrderedAndProject. Cost is O(distinct keys) — the audit stays
    * cheap precisely when the join it predicts would not be. */
  def joinCardinalityReport(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1; got $topN")
    val la = left.select(leftKey.cast("string").as("key"))
      .filter(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("n_left"))
    val ra = right.select(rightKey.cast("string").as("key"))
      .filter(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("n_right"))
    val m = la.join(ra, Seq("key"))
      .withColumn("pairs", col("n_left") * col("n_right"))
    val totals = m.agg(sum(col("pairs")).as("__jr"),
      count(lit(1)).as("__mk"))
    m.crossJoin(broadcast(totals))
      .orderBy(desc("pairs"), col("key"))
      .limit(topN)
      .select(col("key"), col("n_left"), col("n_right"), col("pairs"),
        col("__jr").as("join_rows"), col("__mk").as("n_keys_matched"))
  }

  /** Skew-safe equi-join: the big side's hot keys are spread over `salts`
    * sub-partitions and the small side is replicated once per salt. Result
    * identical to `big.join(small, key, joinType)`; only the shuffle
    * layout changes. The salt source is per-row and content-independent
    * (`monotonically_increasing_id`) — hashing row CONTENT would send
    * fully-duplicate hot rows (exactly the skew case) to one salt, and
    * fails analysis on map-typed columns. (Salt ids themselves are NOT
    * deterministic across repartitions — output rows are.) Use when a
    * key's row count dwarfs the rest and AQE's skew split can't apply
    * (e.g. aggregation-free pipelines on a pinned partitioner).
    *
    * `joinType` may be `inner` (default) or `left_outer`/`left`: a big
    * row carries exactly ONE salt, so an unmatched big-side key
    * null-extends exactly once — same rows as the unsalted left join
    * (spec-asserted under planted skew). Right/full outer are rejected:
    * the small side is REPLICATED per salt, so its unmatched keys would
    * null-extend `salts` times — that shape needs the plain join. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "left").contains(joinType),
      s"saltedJoin supports inner and left_outer (small side replicates " +
        s"per salt — right/full would null-extend its misses $salts times); " +
        s"got '$joinType'")
    val bigS = big.withColumn("__salt",
      pmod(Portable.fastHash(col(key), monotonically_increasing_id()), lit(salts)).cast("int"))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, Seq(key, "__salt"), joinType).drop("__salt")
  }

}
