package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PCA / whitening for embedding columns — the dimensionality-reduction
  * step an embedding pipeline runs before ANN indexing or clustering
  * (decorrelated, variance-normalized coordinates make metric thresholds
  * meaningful and shrink the candidate-generation space for q35/q36/q43).
  *
  * Scale posture (100 TB): ONE distributed pass accumulates count, sum and
  * the upper-triangular Gram matrix per partition (a d(d+3)/2+1-double
  * array — 33 KB at d=64) and tree-reduces it; the O(d³) eigen solve runs
  * on the driver (64³ is microseconds — a cluster would never help); the
  * k×d projection matrix broadcasts back and projection is a pure map —
  * no shuffle anywhere in the whole operator.
  *
  * The eigen solver is the classic cyclic Jacobi rotation method for
  * symmetric matrices (textbook algorithm). Eigenvector SIGN is
  * canonicalized (largest-|component| positive) so results are
  * deterministic across partitionings and runs.
  */
object Pca {

  final case class PcaModel(
      mean: Array[Double],           // d
      components: Array[Array[Double]], // k rows × d (orthonormal)
      eigenvalues: Array[Double])    // k, descending

  /** Symmetric eigen-decomposition by cyclic Jacobi sweeps. Input is
    * destroyed-copied; returns (eigenvalues, eigenvectors as COLUMNS
    * matrix), unsorted.
    */
  private[ops] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    // RELATIVE convergence: roundoff floors the off-norm near (eps·‖A‖)²,
    // so an absolute threshold would force all 64 O(d³) sweeps on any
    // large-magnitude covariance. Also stop on a no-progress sweep.
    var fro2 = 0.0
    var fi = 0
    while (fi < n) {
      var fj = 0
      while (fj < n) { fro2 += a(fi)(fj) * a(fi)(fj); fj += 1 }
      fi += 1
    }
    val tol = 1e-28 * fro2
    var off = offNorm()
    var sweep = 0
    while (sweep < 64 && off > tol) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = app - t * apq
            a(q)(q) = aqq + t * apq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var i = 0
            while (i < n) {
              if (i != p && i != q) {
                val aip = a(i)(p); val aiq = a(i)(q)
                a(i)(p) = c * aip - s * aiq; a(p)(i) = a(i)(p)
                a(i)(q) = s * aip + c * aiq; a(q)(i) = a(i)(q)
              }
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
      val next = offNorm()
      if (next >= off) sweep = 64 // roundoff floor reached
      off = next
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Fit mean/components/eigenvalues from an `embedding: array<float>`
    * column in one distributed pass. The embedding dimension comes from a
    * single-row bounded driver action (like q43's documented fit step),
    * never a corpus count.
    */
  def fit(embs: DataFrame, k: Int): PcaModel = {
    val s = embs.sparkSession
    import s.implicits._
    // NULL embeddings are excluded up front (like percentile excludes NULL
    // values) — an unguarded NULL row would otherwise surface as an opaque
    // executor-side NullPointerException inside treeAggregate
    val vecs = embs.select(col("embedding"))
      .filter(col("embedding").isNotNull).as[Array[Float]]
    val first = vecs.take(1)
    require(first.nonEmpty, "Pca.fit: no non-NULL embeddings to fit")
    val d = first(0).length
    require(k >= 1 && k <= d, s"k=$k out of range for d=$d")
    // packed accumulator: [n, sum(d), upper-tri gram(d(d+1)/2)]
    val triLen = d * (d + 1) / 2
    val acc = vecs.rdd.treeAggregate(new Array[Double](1 + d + triLen))(
      seqOp = (buf, e) => { accumulate(buf, e, d); buf },
      combOp = (x, y) => {
        var i = 0
        while (i < x.length) { x(i) += y(i); i += 1 }
        x
      })
    modelFromMoments(acc, d, k)
  }

  /** fold one vector into the packed moment accumulator
    * `[n, sum(d), upper-tri gram]` — THE accumulation shared by [[fit]]'s
    * distributed seqOp and [[fitSampled]]'s sequential driver fold, so
    * the two fits cannot diverge arithmetically. */
  private def accumulate(buf: Array[Double], e: Array[Float], d: Int): Unit = {
    require(e.length == d, s"embedding dim ${e.length} != $d")
    buf(0) += 1
    var i = 0
    var t = 1 + d
    while (i < d) {
      buf(1 + i) += e(i)
      var j = i
      while (j < d) { buf(t) += e(i).toDouble * e(j); t += 1; j += 1 }
      i += 1
    }
  }

  /** moments → model: covariance assembly, eigen solve, (value desc)
    * ordering, canonical sign — the ONE post-processing path shared by
    * both fits. */
  private def modelFromMoments(acc: Array[Double], d: Int, k: Int): PcaModel = {
    val n = acc(0)
    require(n >= 2, s"need >= 2 vectors to fit, got $n")
    val mean = Array.tabulate(d)(i => acc(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var t = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = (acc(t) - n * mean(i) * mean(j)) / (n - 1)
        cov(i)(j) = c; cov(j)(i) = c
        t += 1; j += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(ix => -evals(ix)).take(k)
    val comps = order.map { ix =>
      val cvec = Array.tabulate(d)(r => evecs(r)(ix))
      // canonical sign: the largest-magnitude component is positive
      val m = cvec.indices.maxBy(r => math.abs(cvec(r)))
      if (cvec(m) < 0) cvec.map(-_) else cvec
    }.toArray
    PcaModel(mean, comps, order.map(evals).toArray)
  }

  /** [[fit]]'s DETERMINISTIC bounded-sample form (the q43/q87 fit class):
    * moments come from a sequential driver fold over the `cap` (4096) live rows
    * with the smallest (xxhash64(vec_id), vec_id) — a distributed top-k
    * (TakeOrderedAndProject), never a full sort — so the model is
    * bit-reproducible across partitionings, which is what lets q60 carry
    * a fixture oracle. [[fit]] keeps every row in the covariance but its
    * tree-reduced double sums depend on partition boundaries; prefer
    * this form wherever reproducibility matters more than the sampling
    * error of a `cap`-row moment estimate.
    */
  def fitSampled(embs: DataFrame, k: Int): PcaModel = {
    val cap = 4096
    val s = embs.sparkSession
    import s.implicits._
    val rows = embs.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(cap)
      .as[(Long, Array[Float])]
      .collect()
    require(rows.nonEmpty, "Pca.fitSampled: no non-NULL embeddings to fit")
    // re-sort on the driver: the top-k preserves order today, but the
    // fold order is the CONTRACT — pin it rather than inherit it
    val sample = rows.sortBy { case (id, _) =>
      (org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L), id)
    }.map(_._2)
    val d = sample(0).length
    require(k >= 1 && k <= d, s"k=$k out of range for d=$d")
    val acc = new Array[Double](1 + d + d * (d + 1) / 2)
    sample.foreach(accumulate(acc, _, d))
    modelFromMoments(acc, d, k)
  }

  /** Project (and optionally whiten) every embedding onto the model's
    * components: pure map over a broadcast k×d matrix.
    */
  def project(embs: DataFrame, model: PcaModel, whiten: Boolean): DataFrame = {
    val s = embs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(model)
    val eps = 1e-12
    // same NULL contract as fit(): a NULL embedding has no projection —
    // the row is excluded rather than NPE-ing on an executor
    embs.select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val m = bc.value
        val k = m.components.length
        val d = m.mean.length
        it.map { case (id, e) =>
          val out = new Array[Double](k)
          var c = 0
          while (c < k) {
            val comp = m.components(c)
            var acc = 0.0
            var i = 0
            while (i < d) { acc += (e(i) - m.mean(i)) * comp(i); i += 1 }
            // clamp at 0: one-pass Gram subtraction can leave tiny NEGATIVE
            // eigenvalues on rank-deficient input, and sqrt of those would
            // silently poison every projection with NaN
            out(c) =
              if (whiten) acc / math.sqrt(math.max(m.eigenvalues(c), 0.0) + eps)
              else acc
            c += 1
          }
          (id, out)
        }
      }
      .toDF("vec_id", "pc")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Whitened top-8 PCA coordinates for every embedding. The fit is
    // [[fitSampled]] — deterministic hash-ordered bounded sample — so the
    // whole output is bit-reproducible across partitionings and carries a
    // fixture oracle ([[graft.oracle.FixtureOracles.deriveQ60]]; rounds
    // 1-9 used the full-corpus [[fit]], whose tree-reduced double sums
    // are reduction-order-dependent and kept this the one rows-only
    // query). Projection is shuffle-free. The projection is FLATTENED to
    // scalar pc_0..pc_7 columns (rounded 6 dp): the external verify
    // harness sorts/hashes cell values and cannot handle an
    // array<double> cell (round-6 advice).
    "q60_pca_whiten" -> ((s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val k = 8
      val proj = project(embs, fitSampled(embs, k), whiten = true)
      proj.select(col("vec_id") +:
        (0 until k).map(i => round(col("pc")(i), 6).as(s"pc_$i")): _*)
    }))

  def oracles: Map[String, String] = Map()
}
