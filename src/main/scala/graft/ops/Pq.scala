package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (q77) — the vector-compression layer an ANN
  * system needs once the corpus outgrows RAM: split each d-dim embedding
  * into `m` subvectors, k-means each subspace, store only the `m`
  * centroid indices. Here m=8 × k=16 over 64-dim floats packs a 256-byte
  * vector into ONE LONG (4 bits/subspace) — 32× smaller, and asymmetric
  * distance (ADC) search scans codes with a per-query lookup table
  * instead of touching floats.
  *
  * Scale posture: codebook fitting is driver-side on a BOUNDED unbiased
  * sample (smallest-xxhash64 rows — the q43 fit contract; codebooks are
  * ~4 KB); encoding is a broadcast-codebook mapPartitions pass — zero
  * shuffles, the corpus is read once; ADC search is per-partition top-k
  * heaps + a tiny final merge (the q35 shape). Nothing in the plan holds
  * state proportional to corpus size.
  *
  * PQ needs L2 geometry per-subspace (subvectors are not normalized, so
  * the cosine KMeansLite is the wrong metric) — [[KMeansL2]] below is the
  * deterministic L2 twin of KMeansLite's farthest-point + Lloyd loop.
  */
object Pq {

  /** [m][k][subDim] codebooks + the packing geometry. */
  final case class Model(m: Int, k: Int, subDim: Int,
      codebooks: Array[Array[Array[Float]]]) {
    // fit() guards k>1 but Model is public: k=1 would give bits=0/mask=0
    // and silently pack every subspace index into bit 0
    require(k > 1, s"need k>1 centroids per subspace, got k=$k")
    val bits: Int = 32 - Integer.numberOfLeadingZeros(k - 1) // ceil(log2 k)
    require(m * bits <= 64, s"codes must pack into one long: m=$m k=$k")
  }

  private val SampleCap = 16384

  /** Fit m×k codebooks on a bounded deterministic unbiased sample. */
  def fit(e: DataFrame, m: Int = 8, k: Int = 16): Model = {
    require(m > 0 && k > 1, s"need m>0 subspaces and k>1 centroids, got m=$m k=$k")
    val sample = e.select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(SampleCap)
      .select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "Pq.fit: no non-null embeddings to sample")
    val d = sample(0).length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val subDim = d / m
    val codebooks = Array.tabulate(m) { s =>
      val slices = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      KMeansL2.fit(slices, k, iters = 8)
    }
    Model(m, k, subDim, codebooks)
  }

  /** Encode every vector: (vec_id, pq_code, recon_mse). Map-side only —
    * the codebooks ride one broadcast, codes pack little-end-first
    * (subspace 0 in the lowest bits).
    */
  def encode(s: SparkSession, e: DataFrame, model: Model): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(model)
    e.select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mod = bc.value
        it.map { case (id, v) =>
          // fit() validates only its sample; a stray wrong-width vector
          // must fail with its id, not an opaque executor AIOOBE (or a
          // silently wrong mse for over-length vectors)
          require(v.length == mod.m * mod.subDim,
            s"Pq.encode: vec $id has dim ${v.length}, model expects ${mod.m * mod.subDim}")
          var code = 0L
          var errSum = 0.0
          var sub = 0
          while (sub < mod.m) {
            val cb = mod.codebooks(sub)
            var best = 0; var bestDist = Double.MaxValue
            var ci = 0
            while (ci < cb.length) {
              val dist = KMeansL2.sqDist(v, sub * mod.subDim, cb(ci))
              if (dist < bestDist) { bestDist = dist; best = ci }
              ci += 1
            }
            code |= best.toLong << (sub * mod.bits)
            errSum += bestDist
            sub += 1
          }
          (id, code, errSum / v.length)
        }
      }.toDF("vec_id", "pq_code", "recon_mse")
  }

  /** ADC top-k: for each query, one m×k table of partial squared
    * distances, then a code scan with table lookups — per-partition heaps,
    * tiny final merge (the q35 shape). Returns (query_id, vec_id, rank,
    * adc_dist).
    */
  def adcTopK(s: SparkSession, codes: DataFrame, model: Model,
      queries: Array[(Long, Array[Float])], topK: Int = 10): DataFrame = {
    import s.implicits._
    require(topK > 0, s"topK must be positive, got $topK")
    val bc = s.sparkContext.broadcast(model)
    val bq = s.sparkContext.broadcast(queries)
    val mask = (1L << bc.value.bits) - 1
    val candidates = codes.select(col("vec_id"), col("pq_code"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val mod = bc.value
        val qs = bq.value
        // per-query LUT: lut(q)(sub*k + ci) = ||q_sub - c_ci||²
        val luts = qs.map { case (_, qv) =>
          val lut = new Array[Double](mod.m * mod.k)
          var sub = 0
          while (sub < mod.m) {
            val cb = mod.codebooks(sub)
            var ci = 0
            while (ci < cb.length) {
              lut(sub * mod.k + ci) = KMeansL2.sqDist(qv, sub * mod.subDim, cb(ci))
              ci += 1
            }
            sub += 1
          }
          lut
        }
        // per-partition top-k heaps (the q35 shape): only
        // |queries| × topK candidates leave each partition, so the final
        // per-query rank window runs over |partitions| × topK rows — never
        // the corpus
        // natural (dist, id) max-heap: head = worst kept candidate —
        // largest distance, then largest id (rank tiebreak is id ASC)
        val heapOrd = Ordering.Tuple2(
          Ordering.Double.TotalOrdering, Ordering.Long)
        val heaps = qs.map(_ =>
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](heapOrd))
        it.foreach { case (id, code) =>
          var qi = 0
          while (qi < qs.length) {
            val lut = luts(qi)
            var dist = 0.0
            var sub = 0
            while (sub < mod.m) {
              val ci = ((code >>> (sub * mod.bits)) & mask).toInt
              dist += lut(sub * mod.k + ci)
              sub += 1
            }
            val h = heaps(qi)
            if (h.size < topK) h.enqueue((dist, id))
            else {
              // primitive compare on the common reject path — building a
              // tuple per candidate×query just to test it would dominate
              // allocation in this loop
              val (hd, hid) = h.head
              if (dist < hd || (dist == hd && id < hid)) {
                h.dequeue(); h.enqueue((dist, id))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (d, id) => (qs(qi)._1, id, d) }
        }
      }.toDF("query_id", "vec_id", "adc_dist")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"),
        round(col("adc_dist"), 6).as("adc_dist"))
  }

  /** IVF-PQ composed ANN (q84) — the production index shape (faiss
    * IVFPQ): the IVF coarse quantizer (q43's fit/assign) prunes the
    * candidate set to `nprobe` clusters, PQ codes + a per-query ADC
    * lookup table rank ONLY those candidates. The corpus is touched once
    * to encode (bucket + one-long code per vector); at query time the
    * scan reads codes, not floats, and the cluster filter prunes before
    * any distance math.
    *
    * Returns (query_id, vec_id, rank, adc_dist) for the q43-style query
    * set (first [[Similarity.QueryK]] vectors).
    */
  def ivfPqTopK(s: SparkSession, e: DataFrame, nlist: Int, nprobe: Int = 2,
      topK: Int = 10): DataFrame = {
    import s.implicits._
    val cents = Similarity.fitCentroids(e, nlist)
    val bcCents = s.sparkContext.broadcast(cents)
    val model = fit(e)
    val assigned = Similarity.assignClusters(s, e, bcCents)
    // the index relation: (vec_id, bucket, pq_code) — what a production
    // deployment persists once and queries forever
    val codes = assigned.select(col("vec_id"), col("bucket"))
      .join(encode(s, e, model).select(col("vec_id"), col("pq_code")), "vec_id")
    val queries = e.filter(col("vec_id") < Similarity.QueryK)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    val probes = math.max(1, math.min(nprobe, cents.length))
    // tiny (query, probed-bucket) relation, broadcast by AQE
    val probed = queries.flatMap { case (qid, qv) =>
      cents.indices.map(i => (KMeansLite.cos(cents(i), qv), i))
        .sortBy { case (c, i) => (-c, i) }.take(probes)
        .map { case (_, b) => (qid, b.toLong) }
    }.toSeq.toDF("query_id", "bucket")
    val candidates = codes.join(broadcast(probed), "bucket")
      .select(col("query_id"), col("vec_id"), col("pq_code"))
    adcRank(s, candidates, model, queries, topK)
  }

  /** ADC-rank pre-paired (query_id, vec_id, pq_code) candidates. */
  private def adcRank(s: SparkSession, candidates: DataFrame, model: Model,
      queries: Array[(Long, Array[Float])], topK: Int): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(model)
    val bq = s.sparkContext.broadcast(queries)
    val mask = (1L << model.bits) - 1
    val scored = candidates.as[(Long, Long, Long)]
      .mapPartitions { it =>
        val mod = bc.value
        val luts = bq.value.map { case (qid, qv) =>
          val lut = new Array[Double](mod.m * mod.k)
          var sub = 0
          while (sub < mod.m) {
            val cb = mod.codebooks(sub)
            var ci = 0
            while (ci < cb.length) {
              lut(sub * mod.k + ci) = KMeansL2.sqDist(qv, sub * mod.subDim, cb(ci))
              ci += 1
            }
            sub += 1
          }
          qid -> lut
        }.toMap
        it.map { case (qid, id, code) =>
          val lut = luts(qid)
          var dist = 0.0
          var sub = 0
          while (sub < mod.m) {
            val ci = ((code >>> (sub * mod.bits)) & mask).toInt
            dist += lut(sub * mod.k + ci)
            sub += 1
          }
          (qid, id, dist)
        }
      }.toDF("query_id", "vec_id", "adc_dist")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"),
        round(col("adc_dist"), 6).as("adc_dist"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IVF-PQ composed search over the embeddings table (nlist from the
    // q43 stats heuristic). Data-dependent (two k-means fits) →
    // rows-only; PqSpec pins recall vs exact search and the pruning.
    "q84_ivfpq" -> ((s, dir) => {
      val e = graft.Tables.embeddings(s, dir)
      val n = Similarity.estimatedRowCount(e, Similarity.EmbeddingRowBytes)
      ivfPqTopK(s, e, nlist = Similarity.nlistFor(n))
    }),

    // Per-vector PQ codes + reconstruction error over the embeddings
    // table. Data-dependent (k-means) → rows-only; PqSpec pins the
    // semantics (exact reconstruction on grid data, determinism, packing,
    // ADC recall vs exact search).
    "q77_pq" -> ((s, dir) => {
      val e = graft.Tables.embeddings(s, dir)
      val model = fit(e, m = 8, k = 16)
      encode(s, e, model)
        .select(col("vec_id"), col("pq_code"),
          round(col("recon_mse"), 6).as("recon_mse"))
    }))

  def oracles: Map[String, String] = Map.empty
}

/** Deterministic L2 k-means: farthest-point seeding (max min squared
  * distance) + Lloyd with mean updates; empty clusters keep their
  * previous centroid. The cosine twin lives in [[KMeansLite]].
  */
private[ops] object KMeansL2 {

  /** ||v[off..off+len) - c||² where len = c.length. */
  def sqDist(v: Array[Float], off: Int, c: Array[Float]): Double = {
    var sum = 0.0
    var i = 0
    while (i < c.length) {
      val d = v(off + i).toDouble - c(i).toDouble
      sum += d * d
      i += 1
    }
    sum
  }

  def fit(points: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    require(points.nonEmpty, "KMeansL2.fit: empty input")
    val k2 = math.max(1, math.min(k, points.length))
    val dims = points(0).length

    val seeds = scala.collection.mutable.ArrayBuffer(points(0))
    while (seeds.length < k2) {
      var best = points(0); var bestScore = -1.0
      var i = 0
      while (i < points.length) {
        val p = points(i)
        var minDist = Double.MaxValue
        var j = 0
        while (j < seeds.length) {
          val d = sqDist(p, 0, seeds(j)); if (d < minDist) minDist = d; j += 1
        }
        if (minDist > bestScore) { bestScore = minDist; best = p }
        i += 1
      }
      seeds += best
    }
    var cents = seeds.toArray.map(_.clone())

    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dims))
      val counts = new Array[Int](cents.length)
      var i = 0
      while (i < points.length) {
        val p = points(i)
        var best = 0; var bestDist = Double.MaxValue
        var j = 0
        while (j < cents.length) {
          val d = sqDist(p, 0, cents(j))
          if (d < bestDist) { bestDist = d; best = j }
          j += 1
        }
        var x = 0
        while (x < dims) { sums(best)(x) += p(x); x += 1 }
        counts(best) += 1
        i += 1
      }
      cents = cents.zipWithIndex.map { case (old, ci) =>
        if (counts(ci) == 0) old
        else {
          val c = new Array[Float](dims)
          var x = 0
          while (x < dims) { c(x) = (sums(ci)(x) / counts(ci)).toFloat; x += 1 }
          c
        }
      }
    }
    cents
  }
}
