package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`), pure Column expressions (zip_with/aggregate fold —
  * no UDF, stays in codegen).
  *
  * Scale design (100 TB): [[bruteForceTopK]] broadcasts the (small)
  * query set against the full corpus — one scan, no shuffle of the
  * corpus, per-partition top-k via the rank window only after the
  * similarity filter. [[bucketedTopK]] is the IVF-style scale path:
  * vectors are pre-assigned a coarse bucket (centroid / cluster id);
  * the probe joins queries to their own bucket only, cutting the scan
  * to corpus/num_buckets per query. Both compute in DOUBLE with a
  * left-to-right fold so results are engine-reproducible.
  */
object SimilaritySearch {

  /** Left-fold dot product in DOUBLE (codegen'd custom expression; the
    * fold order matches the SQL oracle's list_reduce exactly). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpr.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, 0.0).otherwise(dot(a, b) / denom)
  }

  /** Cosine from a pair dot product and per-ROW precomputed norms —
    * norms are map-stage work; only one dot product runs per pair.
    * Zero-norm convention: similarity 0.0 (not null/NaN). Shared
    * across every cosine site in the engine (SemDedup, quantizedTopK,
    * VectorOps) so the convention cannot drift per-file. */
  private[graft] def cosinePrepped(d: Column, normA: Column, normB: Column): Column =
    when(normA * normB === 0.0, 0.0).otherwise(d / (normA * normB))

  /** Exact top-k neighbors for each query vector (query ids drawn from
    * the corpus itself). Ranks on the rounded similarity with id
    * tiebreak so ordering is reproducible across engines. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val q = corpus
      .where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        l2Norm(col(vecCol)).as("q_norm"))
    // Engine.spread: per-candidate work is |queries| dot products; the
    // probe side must not inherit a single-split scan's parallelism
    val scored = graft.Engine.spread(corpus
      .select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"),
        l2Norm(col(vecCol)).as("c_norm")))
      .crossJoin(broadcast(q))
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosinePrepped(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  // ---------------------------------------------------------------
  // Real IVF: coarse quantizer trained with MLlib KMeans; queries probe
  // the nProbe nearest centroids only. Index build is one KMeans fit +
  // one map-stage assignment; search scans corpus/nLists * nProbe
  // vectors per query instead of the full corpus.
  // ---------------------------------------------------------------

  case class IvfIndex(assigned: DataFrame, centroids: Array[(Int, Array[Double])])

  // Seq[Double] + an explicit transform-cast at the call site, NOT
  // Seq[Float]: a Float-typed UDF pins the PARQUET element type — an
  // array<double> embeddings table (within TableContractSpec latitude)
  // would fail analysis with CANNOT_UP_CAST_DATATYPE
  // (EmbeddingEncodingSpec pins both element widths).
  private val toVec = udf((a: Seq[Double]) =>
    org.apache.spark.ml.linalg.Vectors.dense(a.toArray))

  /** Train the coarse quantizer and assign every vector to a list. The
    * assignment (with precomputed norms) is PERSISTED — it is the
    * index; without caching every search would re-run KMeans transform
    * over the whole corpus. Production form: write it out bucketed by
    * list instead. */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, seed: Long = 42L): IvfIndex = {
    // spread: the toVec/transform UDF kernels over a single-file
    // corpus scan would otherwise fill the index on one core (SCALE.md).
    // Null vectors are dropped like every other entry point (ivfAssign,
    // pqEncode, ivfSearch): one dirty row must not NPE a whole index
    // build inside KMeans featurization.
    val feats = graft.Engine.spread(corpus)
      .where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("features", toVec(transform(col("vec"), x => x.cast("double"))))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nLists).setSeed(seed).setMaxIter(20).fit(feats)
    val assigned = model.transform(feats)
      .select(col("id"), col("vec"), l2Norm(col("vec")).as("norm"),
        col("prediction").as("bucket"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    IvfIndex(assigned, centroids)
  }

  /** Assign every vector to its nearest centroid from a GIVEN centroid
    * table (squared L2 summed low-index-first, strict-< argmin so the
    * lowest centroid id wins ties) — the deterministic counterpart of
    * [[ivfIndex]]'s KMeans training. With fixture centroids the whole
    * probe+search path ([[ivfSearch]]) is exact double arithmetic,
    * replayable by the q98 DuckDB oracle; KMeans-trained indexes stay
    * spec-gated (AnnSpec). Centroids must be sorted by id. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Double])]): IvfIndex = {
    val cents = centroids // ships in the closure
    val dim0 = centroids.headOption.map(_._2.length).getOrElse(0)
    val assignU = udf((v: Seq[Double]) => {
      // fail fast on a dimension mismatch: a prefix distance would
      // assign a confidently-wrong bucket (silent recall loss at scale)
      if (v.length != dim0)
        throw new IllegalArgumentException(
          s"ivfAssign: vector dim ${v.length} != centroid dim $dim0 — " +
            "mixed-dimension embeddings cannot share one index")
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < cents.length) {
        val c = cents(j)._2
        var d = 0.0; var i = 0
        while (i < dim0) {
          val t = v(i) - c(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = cents(j)._1 }
        j += 1
      }
      best
    })
    require(centroids.map(_._1).sameElements(centroids.map(_._1).sorted),
      "centroids must be sorted by id: the strict-< argmin breaks " +
        "equal-distance ties to the EARLIEST array entry, which is the " +
        "lowest id only under that order (the q98 oracle's ORDER BY d, c)")
    // spread before the assignment UDF — same single-core-fill trap
    // as [[ivfIndex]]. Null vectors are dropped: they cannot be
    // assigned to a list (the Scala argmin would NPE where the
    // expression paths propagate null) — same policy as AsOfJoin's
    // null ordinals.
    val assigned = graft.Engine.spread(corpus)
      .where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        col(vecCol).as("vec"), l2Norm(col(vecCol)).as("norm"),
        assignU(transform(col(vecCol), x => x.cast("double"))).as("bucket"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    IvfIndex(assigned, centroids)
  }

  /** Probe the nProbe nearest lists per query, exact cosine inside. */
  def ivfSearch(index: IvfIndex, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val cents = index.centroids // tiny; ships in the closure
    // Seq[Double] + call-site cast for element-width latitude — see toVec
    val dim0 = cents.headOption.map(_._2.length).getOrElse(0)
    val probeBuckets = udf((q: Seq[Double]) => {
      if (q.length != dim0)
        throw new IllegalArgumentException(
          s"ivfSearch: query dim ${q.length} != centroid dim $dim0 — " +
            "a prefix distance would probe the wrong lists")
      val qd = q.toArray
      cents.map { case (b, c) =>
        var d = 0.0; var i = 0
        while (i < dim0) { val t = qd(i) - c(i); d += t * t; i += 1 }
        (b, d)
      }.sortBy(_._2).take(nProbe).map(_._1)
    })
    // null query vectors cannot probe (UDF would NPE) — drop like the
    // index side does at build
    val q = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        l2Norm(col(vecCol)).as("q_norm"))
      .withColumn("bucket",
        explode(probeBuckets(transform(col("q_vec"), x => x.cast("double")))))
    // the index is spread at build time (ivfIndex/ivfAssign), so the
    // cached assignment already carries full parallelism — no re-spread
    val cand = index.assigned.select(col("id").as("cand_id"),
      col("vec").as("c_vec"), col("norm").as("c_norm"),
      col("bucket"))
    val scored = cand.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosinePrepped(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  // ---------------------------------------------------------------
  // Product quantization (PQ): split each vector into m subvectors and
  // train a k-centroid codebook per subspace; a vector stores only its
  // m nearest-centroid codes (m*log2(k) bits — 32x compression at
  // m=8,k=16 over 64-dim float32). Search is ADC: one [m][k] lookup
  // table of squared subdistances per query (built driver-side from
  // the tiny query set), then every candidate costs m table lookups
  // instead of a dim-length fold. Codebooks are KMeans-trained, so
  // like the IVF index this is spec-gated (not DuckDB-replayable).
  // ---------------------------------------------------------------

  /** @param codes     (id, codes: array<int> of length m)
    * @param codebooks  [subspace][centroid][dsub] */
  case class PqIndex(codes: DataFrame, codebooks: Array[Array[Array[Double]]])

  /** Train per-subspace codebooks and encode the corpus. Index build is
    * m KMeans fits + one encode pass (train on a sample at real scale);
    * the encoded corpus is persisted — it IS the index, 32x smaller
    * than the float vectors. */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, seed: Long = 42L): PqIndex = {
    // null vectors dropped before the dim probe and the subspace fits —
    // same policy as ivfIndex/ivfAssign/pqEncode
    val base = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")).persist()
    // the training cache is released on every exit, a failed require
    // included — only the encoded codes outlive this call
    val codebooks = try {
      val first = base.select(size(col("v"))).take(1)
      require(first.nonEmpty, "pqIndex: no non-null vectors to train on")
      val dim = first(0).getInt(0)
      require(dim % m == 0, s"pqIndex: dim $dim must split evenly into $m subspaces")
      val dsub = dim / m
      val subVec = udf((v: Seq[Double], s: Int) =>
        org.apache.spark.ml.linalg.Vectors.dense(
          v.slice(s * dsub, (s + 1) * dsub).toArray))
      (0 until m).map { s =>
        val feats = base.select(subVec(col("v"), lit(s)).as("features"))
        new org.apache.spark.ml.clustering.KMeans()
          .setK(k).setSeed(seed + s).setMaxIter(20).fit(feats)
          .clusterCenters.map(_.toArray)
      }.toArray
    } finally base.unpersist()
    pqEncode(corpus, idCol, vecCol, codebooks)
  }

  /** Encode `corpus` against GIVEN codebooks (nearest centroid per
    * subspace, squared L2 summed low-index-first, strict-< argmin so
    * the lowest centroid id wins ties). Split out of [[pqIndex]] so a
    * deterministic fixture codebook can drive the whole ADC path —
    * with fixed codebooks every arithmetic step here and in
    * [[pqSearch]] is an exact left-to-right double fold, replayable by
    * the q96 DuckDB oracle (KMeans-trained codebooks are not). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): PqIndex = {
    val cb = codebooks // ships in the encode closure
    val m = cb.length
    val dsub = cb(0)(0).length
    val encode = udf((v: Seq[Double]) => {
      // named error instead of a bare IndexOutOfBounds: the codebook
      // pins the dimensionality, a shorter/longer vector cannot encode
      if (v.length != m * dsub)
        throw new IllegalArgumentException(
          s"pqEncode: vector dim ${v.length} != codebook dim ${m * dsub} " +
            s"($m subspaces x $dsub)")
      (0 until m).map { s =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb(s).length) {
          var d = 0.0; var i = 0
          while (i < dsub) {
            val t = v(s * dsub + i) - cb(s)(c)(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c } // strict < : lowest id wins ties
          c += 1
        }
        best
      }
    })
    // spread before the encode UDF — the per-row argmin kernel over a
    // single-file corpus scan would otherwise fill on one core. Null
    // vectors cannot be encoded (argmin would NPE): dropped, as in
    // [[ivfAssign]]. The pin is LAZY (ivfIndex/ivfAssign convention):
    // a single-search caller encodes inline with its one scan instead
    // of paying a separate fill job plus a cache read.
    val codes = graft.Engine.spread(corpus)
      .where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        encode(transform(col(vecCol), x => x.cast("double"))).as("codes"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    PqIndex(codes, codebooks)
  }

  /** ADC top-k: approximate squared-L2 neighbors for query ids drawn
    * from the corpus. The [m][k] distance tables for the (small) query
    * set are computed driver-side and ship in the scorer's closure; the
    * corpus is scanned once, never shuffled, each candidate scored by m
    * array lookups. Ties rank by candidate id for determinism. */
  def pqSearch(index: PqIndex, corpus: DataFrame, idCol: String,
      vecCol: String, queryIds: Seq[Long], topK: Int): DataFrame = {
    val cb = index.codebooks
    val m = cb.length
    val dsub = cb(0)(0).length
    // a query id with a null vector cannot build a distance table —
    // dropped, same policy as the index side
    val qVecs = corpus.where(col(idCol).isin(queryIds: _*) && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), transform(col(vecCol), x => x.cast("double")))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // per query: table(s*k + c) = ||q_sub(s) - centroid(s)(c)||^2
    val tables: Array[(Long, Array[Double])] = qVecs.map { case (qid, qv) =>
      val t = new Array[Double](m * cb(0).length)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < cb(s).length) {
          var d = 0.0; var i = 0
          while (i < dsub) { val x = qv(s * dsub + i) - cb(s)(c)(i); d += x * x; i += 1 }
          t(s * cb(s).length + c) = d
          c += 1
        }
        s += 1
      }
      qid -> t
    }
    val kk = cb(0).length
    val scoreAll = udf((codes: Seq[Int]) =>
      tables.map { case (qid, t) =>
        var d = 0.0; var s = 0
        while (s < m) { d += t(s * kk + codes(s)); s += 1 }
        (qid, d)
      }.toSeq)
    val scored = graft.Engine.spread(index.codes)
      .select(col("id").as("cand_id"), explode(scoreAll(col("codes"))).as("qd"))
      .select(col("cand_id"), col("qd._1").as("query_id"), col("qd._2").as("approx_d2"))
      .where(col("query_id") =!= col("cand_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("cand_id"), col("approx_d2"), col("rank"))
  }

  // ---------------------------------------------------------------
  // Vector compression: per-vector symmetric int8 scalar quantization.
  // 4x storage cut (float32 -> byte-range codes) with NO dequantization
  // needed at search time: cosine over codes cancels the scales, so the
  // scan is an integer dot product + two square roots. This is the
  // deterministic compression leg next to the (KMeans-trained, hence
  // non-replayable) IVF index above.
  // ---------------------------------------------------------------

  /** Exact integer dot product as a long fold — identical left-to-right
    * order to the SQL oracle's list_reduce, and exact (integer adds are
    * associative anyway, unlike the double fold in [[dot]]). */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Quantize `vecCol` to per-vector symmetric int8: scale = max|v|/127,
    * code_i = floor(v_i/scale + 0.5) which lands in [-127, 127] by
    * construction (|v_i| <= 127*scale). Zero vectors quantize to all-zero
    * codes with scale 0. Codes are byte-range; they are carried as INT so
    * the oracle replays the arithmetic without width-promotion
    * differences — a production sink would store them as bytes.
    *
    * Map-stage only. The staged selects are deliberate: higher-order
    * lambdas do not share subexpressions, so an inlined `scale` would
    * recompute max|v| once per element. */
  def quantizeInt8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .select(col("id"), col("__v"),
        (array_max(transform(col("__v"), x => abs(x))) / 127.0).as("scale"))
      .select(col("id"), col("scale"),
        when(col("scale") === 0.0, transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"),
            x => floor(x / col("scale") + 0.5).cast("int"))).as("codes"))

  /** Top-k cosine search over int8-quantized vectors (query ids drawn
    * from the quantized corpus): integer dot over codes, scales cancel.
    * Same broadcast-the-queries / never-shuffle-the-corpus shape as
    * [[bruteForceTopK]]. */
  def quantizedTopK(quantized: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val withNorm = quantized.select(col("id"), col("codes"),
      sqrt(intDot(col("codes"), col("codes")).cast("double")).as("__nrm"))
    val q = withNorm
      .where(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("codes").as("q_codes"),
        col("__nrm").as("q_norm"))
    // Engine.spread: the probe side must not inherit a single-split
    // scan's parallelism (per-candidate work is |queries| integer dots)
    val scored = graft.Engine.spread(withNorm
      .select(col("id").as("cand_id"), col("codes").as("c_codes"),
        col("__nrm").as("c_norm")))
      .crossJoin(broadcast(q))
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosinePrepped(intDot(col("q_codes"), col("c_codes")).cast("double"),
          col("q_norm"), col("c_norm")), 6).as("qcos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** IVF-style bucketed ANN: candidates restricted to the query's own
    * coarse bucket (`bucketCol`, e.g. a cluster/centroid id). */
  def bucketedTopK(corpus: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    val q = corpus
      .where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        l2Norm(col(vecCol)).as("q_norm"), col(bucketCol).as("q_bucket"))
    val scored = graft.Engine.spread(corpus
      .select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"),
        l2Norm(col(vecCol)).as("c_norm"), col(bucketCol).cast("long").as("bucket")))
      .join(broadcast(q), col("bucket") === col("q_bucket").cast("long"))
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("bucket"), col("cand_id"),
        round(cosinePrepped(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }
}
