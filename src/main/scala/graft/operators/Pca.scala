package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed PCA over an embedding column — the dimensionality-
  * reduction member of the vector family ([[Similarity.prefixRerankTopK]]
  * slices dimensions a Matryoshka-trained model already ordered; PCA
  * ORDERS them for models that didn't): one corpus pass accumulates the
  * fixed-size second-moment state
  * ([[graft.functions.CovarianceAggregator]]), the dim×dim covariance is
  * assembled and eigensolved ON THE DRIVER (the matrix is O(dim²) —
  * 32 KB at dim 64 — the k-row-centroid driver-traffic discipline, and
  * exactly how production distributed PCA works: moments distributed,
  * eigen local), and the resulting components broadcast back for an
  * in-row projection. Nothing corpus-sized shuffles at any step.
  *
  * Determinism: the eigensolver is CYCLIC JACOBI with a fixed sweep
  * order and threshold — no randomness, no iteration-order freedom — and
  * each component's sign is canonicalized (largest-|coordinate| entry
  * positive, lowest index on ties), so the same data yields the same
  * components on any run. Cross-partitioning float-Σ association in the
  * moment sums is the one freedom (~1e-12 relative) — consumers round,
  * exactly the q142 centroid discipline.
  */
object Pca {

  /** Population covariance matrix of the first `dim` components of
    * vector column `e` (rows `(i, j, n, mean_i, mean_j, cov)`, upper
    * triangle i ≤ j — the matrix is symmetric): ONE pass via the
    * fixed-state aggregator, centered at finish
    * (`cov = Σxy/n − μx·μy`). The long form IS the gate surface — every
    * moment the eigensolver consumes, hash-compared (q170). */
  def covarianceMatrix(vectors: DataFrame, dim: Int): DataFrame = {
    val spark = vectors.sparkSession
    val buf = momentState(vectors, dim)
    val n = buf(0)
    val rows = for {
      i <- 0 until dim
      j <- i until dim
    } yield {
      val mi = buf(1 + i) / n
      val mj = buf(1 + j) / n
      val cov = buf(graft.functions.CovarianceAggregator.triIndex(i, j, dim)) / n - mi * mj
      Row(i.toLong, j.toLong, n.toLong, mi, mj, cov)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.toList.asJava,
      StructType(Seq(
        StructField("i", LongType, nullable = false),
        StructField("j", LongType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("mean_i", DoubleType, nullable = false),
        StructField("mean_j", DoubleType, nullable = false),
        StructField("cov", DoubleType, nullable = false))))
  }

  /** ORDER-EXACT covariance matrix — the GATE-grade sibling of
    * [[covarianceMatrix]] (same output shape, same semantics on
    * grid-snapped input). Motivation: r17's one driver-red row was
    * q170's hash flipping under load — the float64 moment sums are
    * merge-order-dependent (~1e-13 relative jitter), and a covariance
    * sitting on a `round(·, 6)` boundary flips the rounded value with
    * the task completion order. The q179/q183 discipline fixes the
    * class: snap each dimension to an integer grid (`round(x·scale)` as
    * long — the snap is the portable integer-scale rounding both
    * engines agree on, see [[graft.functions.Rounding]]), accumulate
    * EXACT long moments `(n, Σx, Σxy)` — addition of longs commutes, so
    * the sums are identical under ANY partitioning or merge order — and
    * divide once at the end in a fixed double dag. The emitted doubles
    * are then a pure function of the data, bit-identical across runs,
    * partition counts and engines.
    *
    * Shuffle shape: ONE group-less aggregate with fixed state
    * (1 + dim + dim·(dim+1)/2 long sums — 1.2 KB at dim 16), map-side
    * combined; the triangle unfolds from the single result row via an
    * in-row explode. Nothing corpus-sized moves.
    *
    * Overflow contract (ANSI mode throws loudly): Σxy terms are
    * ≤ (max|x|·scale)² per row; at unit-normalized embeddings and
    * scale 1e6 that is ≤ 1e12/row, so the long sum holds ~9·10⁶ rows
    * per full corpus at worst-case magnitude — far beyond any gate
    * fixture. The float [[covarianceMatrix]] stays the 100 TB
    * production path; THIS is the determinism-critical form (gates,
    * cross-run artifact diffs). */
  def covarianceMatrixExact(vectors: DataFrame, dim: Int,
      scale: Long = 1000000L): DataFrame = {
    val sD = lit(scale.toDouble)
    covarianceMomentsExact(vectors, dim, scale)
      .select(col("i"), col("j"), col("n"),
        (col("sx").cast("double") / (col("n") * sD)).as("mean_i"),
        (col("sy").cast("double") / (col("n") * sD)).as("mean_j"),
        (col("sxy").cast("double") / (col("n") * sD * sD) -
          (col("sx").cast("double") / (col("n") * sD)) *
          (col("sy").cast("double") / (col("n") * sD))).as("cov"))
  }

  /** The RAW integer moments under [[covarianceMatrixExact]] — rows
    * `(i, j, n, sx, sy, sxy)`, ALL BIGINT: per upper-triangle cell the
    * row count and the exact long sums `Σx`, `Σy`, `Σxy` of the
    * grid-snapped dimensions. This IS the q170 gate surface (r19): the
    * r18 gate still divided these longs into doubles and hashed
    * `round(·,6)` of the quotients, and `round(DOUBLE, k)` is
    * implementation-defined across oracle engines/versions
    * (scaled-double vs decimal-correct — they disagree inside a ~1e-9
    * window the gate's 2.4e-9 min margin sat in, the second consecutive
    * driver-red). Integers have ONE canonical encoding in every engine,
    * so emitting the moments themselves removes float formatting AND
    * rounding semantics from the hash path entirely. Consumers wanting
    * means/covariances divide downstream ([[covarianceMatrixExact]]) —
    * division is presentation, not state. */
  def covarianceMomentsExact(vectors: DataFrame, dim: Int,
      scale: Long = 1000000L): DataFrame = {
    require(dim >= 1, s"need dim >= 1, got $dim")
    require(scale >= 1, s"need scale >= 1, got $scale")
    // the snap stays a PLAN expression (round at integer scale — the
    // portable rounding both engines share); the exact moments accumulate
    // in ONE aggregator expression (long state) — the unrolled
    // 1+dim+dim(dim+1)/2 sum() columns planned fine at dim 16 but are
    // the q158 plan-size failure class at dim 64, and the per-query
    // planning cost showed up as a bench drift flag at dim 16 already
    val snapped = vectors
      .select(slice(col("e").cast("array<double>"), 1, dim).as("v"))
      .filter(col("v").isNotNull && size(col("v")) >= dim)
      .select(transform(col("v"),
        x => round(x * lit(scale.toDouble)).cast("long")).as("xs"))
    val agg = udaf(new graft.functions.CovarianceLongAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val st = snapped.agg(agg(col("xs")).as("state"))
    // The triangle unfolds in-row through loops over i and j, so the
    // expression is the same size at any dim: an array(struct(...))
    // literal of dim·(dim+1)/2 cells grew the generated code with dim and
    // ran Janino out of heap at dim 64.
    def cell(pos: Column): Column = element_at(col("state"), pos) // 1-based
    val triangle = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct(i.cast("long").as("i"), j.cast("long").as("j"),
          cell(i + 2).as("sx"), cell(j + 2).as("sy"),
          // CovarianceAggregator.triIndex(i, j, dim) + 1; i·(i−1) is even
          cell(lit(2 + dim) + i * dim - (i * (i - 1) / 2).cast("int") + (j - i))
            .as("sxy")))))
    st.select(cell(lit(1)).as("n"), explode(triangle).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("n"),
        col("t.sx").as("sx"), col("t.sy").as("sy"), col("t.sxy").as("sxy"))
  }

  /** Top-`k` principal components: (eigenvalue DESC, orthonormal rows).
    * Returns (mean, components, eigenvalues) — mean for centering at
    * projection time, components as k rows of length dim. */
  def pcaComponents(vectors: DataFrame, dim: Int, k: Int)
      : (Array[Double], Array[Array[Double]], Array[Double]) =
    pcaComponentsFromState(momentState(vectors, dim), dim, k)

  /** Project vectors onto precomputed components: centered dot products,
    * all in-row against array literals (k·dim doubles — tiny). The
    * projection of a corpus is a map-only stage. Expressed as
    * higher-order-function LOOPS (`zip_with`/`aggregate`), not unrolled
    * scalar arithmetic: the first draft inlined k·dim (element_at −
    * mean)·w terms, and at 64×64 the 4096-node expression blew janino's
    * method-size limit — Spark fell back to interpreted for the whole
    * stage (the q158 plan-size failure class, caught by running the
    * opq_ab soak). The HOF form is a handful of loop nodes regardless
    * of dim. Returns (vec_id, proj: array<double> of length k). */
  def pcaProject(vectors: DataFrame, mean: Array[Double],
      components: Array[Array[Double]]): DataFrame = {
    // zip_with pads the shorter side with NULL, so a NULL or undersized
    // vector would silently project to NULL rows (ADVICE r16) — while
    // the aggregator path (momentState) REQUIRES length >= dim and
    // slices longer vectors to the first dim. Mirror that contract
    // loudly and exactly: a malformed corpus row fails the job with its
    // vec_id (never a NULL projection); an oversized one is sliced the
    // way the moments were.
    val dim = mean.length
    val guarded = vectors.select(col("vec_id"),
      when(col("e").isNull || size(col("e")) < dim,
        raise_error(concat(lit(s"pcaProject: NULL or shorter-than-dim=$dim "
          + "embedding (vec_id="), col("vec_id"), lit(")")))
          .cast("array<double>"))
        .otherwise(slice(col("e").cast("array<double>"), 1, dim)).as("e"))
    val centered = guarded.select(col("vec_id"),
      zip_with(col("e"), typedlit(mean.toSeq), (x, m) => x - m).as("__c"))
    val proj = array(components.map { comp =>
      aggregate(
        zip_with(col("__c"), typedlit(comp.toSeq), (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v)
    }.toIndexedSeq: _*)
    centered.select(col("vec_id"), proj.as("proj"))
  }

  /** INCREMENTAL moment maintenance — the q152/q75 daily-batch economics
    * applied to PCA: the moment state is raw sums, so yesterday's
    * persisted state plus TODAY'S BATCH's state (computed without
    * re-reading the indexed corpus) is elementwise addition — exactly
    * the aggregator's own `merge`, exposed for cross-run use. A nightly
    * PCA recenter is: load state, add the day's batch state, re-run the
    * driver-side eigen — no corpus re-read, ever. Float-Σ association
    * differs from a full recompute by ~1e-12 relative (the PcaSpec pin);
    * the counts inside are exact. */
  def mergeMoments(a: Array[Double], b: Array[Double]): Array[Double] = {
    require(a.length == b.length,
      s"moment states disagree on dim: ${a.length} vs ${b.length}")
    Array.tabulate(a.length)(i => a(i) + b(i))
  }

  /** The moment state of a vector set — public so callers can persist it
    * as the tiny index artifact [[mergeMoments]] consumes
    * (1 + dim + dim·(dim+1)/2 doubles). */
  def momentStateOf(vectors: DataFrame, dim: Int): Array[Double] =
    momentState(vectors, dim)

  /** [[pcaComponents]] from a precomputed/merged moment state — the
    * incremental-recenter entry point. */
  def pcaComponentsFromState(state: Array[Double], dim: Int, k: Int)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim, got k=$k dim=$dim")
    require(state.length == 1 + dim + dim * (dim + 1) / 2,
      s"state length ${state.length} does not match dim $dim")
    val n = state(0)
    require(n >= 2, s"PCA needs >= 2 rows, got ${n.toLong}")
    val mean = Array.tabulate(dim)(i => state(1 + i) / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      state(graft.functions.CovarianceAggregator.triIndex(a, b, dim)) / n -
        mean(i) * mean(j)
    }
    val (values, vecs) = jacobiEigen(cov)
    val order = values.zipWithIndex.sortBy { case (v, i) => (-v, i) }.map(_._2)
    val top = order.take(k).map { c =>
      val comp = Array.tabulate(dim)(r => vecs(r)(c))
      val pivot = comp.zipWithIndex.maxBy { case (x, i) => (math.abs(x), -i) }._1
      if (pivot < 0) comp.map(x => -x) else comp
    }
    (mean, top, order.take(k).map(values))
  }

  /** The one corpus pass: fixed-size moment state to the driver. */
  private def momentState(vectors: DataFrame, dim: Int): Array[Double] = {
    val agg = udaf(new graft.functions.CovarianceAggregator(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
    vectors
      .select(slice(col("e").cast("array<double>"), 1, dim).as("v"))
      .filter(col("v").isNotNull && size(col("v")) >= dim)
      .agg(agg(col("v")).as("state"))
      .head().getSeq[Double](0).toArray
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: sweeps the fixed
    * (p < q) order rotating each off-diagonal element to zero until the
    * off-diagonal Frobenius mass drops below 1e-24 (eigenvalue error is
    * bounded by the off-norm, so the tight threshold buys ~1e-12
    * eigenvalues; quadratic convergence makes the last sweep nearly
    * free — a 64×64 covariance converges in ~10 sweeps, capped at 64).
    * Returns (eigenvalues, eigenvector COLUMNS). Textbook Golub & Van
    * Loan 8.4; O(dim³) per sweep, driver-side only, deterministic by
    * construction. */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    def off(): Double = {
      var s = 0.0
      for (p <- 0 until n; q <- p + 1 until n) s += a(p)(q) * a(p)(q)
      s
    }
    while (off() > 1e-24 && sweep < 64) {
      for (p <- 0 until n; q <- p + 1 until n if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta) match {
          case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        }
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (i <- 0 until n) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (i <- 0 until n) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
        }
        for (i <- 0 until n) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }
}
