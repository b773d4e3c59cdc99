package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

class AnnSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("IVF search approximates brute-force top-5 with decent recall") {
    val corpus = graft.Engine.table(spark, sfDir, "embeddings")
    val queryIds = (0L until 10L).toSeq
    val queries = corpus.where(org.apache.spark.sql.functions.col("vec_id")
      .isin(queryIds: _*))

    val exact = SimilaritySearch
      .bruteForceTopK(corpus, "vec_id", "embedding", queryIds, 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet

    val index = SimilaritySearch.ivfIndex(corpus, "vec_id", "embedding",
      nLists = 8, seed = 42L)
    val approx = SimilaritySearch
      .ivfSearch(index, queries, "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet

    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
    assert(approx.size == exact.size) // k results per query
  }

  test("PQ codes compress 32x and ADC search recalls exact L2 neighbors") {
    import org.apache.spark.sql.functions.col
    val corpus = graft.Engine.table(spark, sfDir, "embeddings")
    val queryIds = (0L until 10L).toSeq
    // exact squared-L2 top-5 per query, computed directly on the driver
    // (500 x 64 floats) — the ground truth the index must approximate
    val vecs = corpus.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val exact = queryIds.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, d2(vecs(q), v)) }
        .sortBy { case (id, d) => (d, id) }.take(5)
        .map { case (id, _) => (q, id) }
    }.toSet

    val index = SimilaritySearch.pqIndex(corpus, "vec_id", "embedding",
      m = 8, k = 16, seed = 42L)
    // m=8 codes of k=16 centroids = 8 x 4 bits vs 64 float32s: 32x
    val firstCodes = index.codes.orderBy("id").first().getSeq[Int](1)
    assert(firstCodes.length == 8 && firstCodes.forall(c => c >= 0 && c < 16))
    assert(index.codebooks.length == 8 &&
      index.codebooks.forall(cb => cb.length == 16 && cb.forall(_.length == 8)))

    val approx = SimilaritySearch.pqSearch(index, corpus, "vec_id", "embedding",
      queryIds, topK = 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(approx.size == 200) // 20 per query
    val recall = (exact intersect approx).size.toDouble / exact.size
    // near-random embeddings (top-5 d2 barely under the all-pairs
    // median) are ANN's worst case; measured 0.56 with this seed
    assert(recall >= 0.35, s"exact-top5-in-PQ-top20 recall $recall too low")
  }

  test("PQ search is near-exact on clustered data") {
    import spark.implicits._
    // 20 well-separated clusters x 25 points in 16-dim: the regime PQ
    // is built for — quantization error << inter-cluster distance, so
    // ADC's top-5 must come from the query's own cluster
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextDouble() * 20.0))
    val pts = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val index = SimilaritySearch.pqIndex(df, "vec_id", "embedding", m = 4, k = 32)
    val out = SimilaritySearch.pqSearch(index, df, "vec_id", "embedding",
      Seq(0L, 1L, 2L, 3L, 4L), topK = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")))
    assert(out.length == 25)
    val sameCluster = out.count { case (q, c) => c % 20 == q % 20 }
    assert(sameCluster >= 24, s"only $sameCluster/25 neighbors from the query's cluster")
  }

  test("as-of join with tolerance nulls out stale matches; forward finds next") {
    import spark.implicits._
    val left = Seq((1L, 100L, "p1"), (1L, 5000L, "p2")).toDF("k", "ts", "name")
    val right = Seq((1L, 90L, "c1"), (1L, 4000L, "c2")).toDF("k", "rts", "payload")

    val tol = AsOfJoin.backward(left, right, "k", "ts", "rts",
      Seq("payload"), toleranceOpt = Some(100L))
      .orderBy("ts").collect()
    assert(tol(0).getAs[String]("payload") == "c1") // gap 10 <= 100
    // p2's latest prior is c2 at gap 1000 > tolerance -> nulled
    assert(tol(1).isNullAt(tol(1).fieldIndex("payload")))

    val fwd = AsOfJoin.forward(left, right, "k", "ts", "rts", Seq("payload"))
      .orderBy("ts").collect()
    // p1 at 100 -> next right at 4000 (c2); p2 at 5000 -> none after
    assert(fwd(0).getAs[String]("payload") == "c2")
    assert(fwd(1).isNullAt(fwd(1).fieldIndex("payload")))
  }

  test("pqIndex on an empty or all-null corpus fails by name and releases its cache") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    def cachedCount: Int = spark.sparkContext.getPersistentRDDs.size
    val baseline = cachedCount
    val empty = Seq[(Long, Seq[Float])]((1L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding").where(lit(false))
    val allNull = Seq[(Long, Seq[Float])]((1L, null), (2L, null))
      .toDF("vec_id", "embedding")
    Seq(empty, allNull).foreach { corpus =>
      val err = intercept[IllegalArgumentException] {
        SimilaritySearch.pqIndex(corpus, "vec_id", "embedding", m = 1, k = 2)
      }
      assert(err.getMessage.contains("pqIndex"), err.getMessage)
      assert(cachedCount == baseline, "the training cache must not outlive the failure")
    }
  }

  test("null embeddings are dropped by every index entry point; dim mismatch dies named") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq[(Long, Seq[Float])](
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, null))
      .toDF("vec_id", "embedding")
    // ivfIndex: one dirty row must not NPE the KMeans featurization
    val idx = SimilaritySearch.ivfIndex(corpus, "vec_id", "embedding", nLists = 2)
    assert(idx.assigned.count() == 2)
    // pqIndex: dim probe + subspace fits skip the null row
    val pq = SimilaritySearch.pqIndex(corpus, "vec_id", "embedding", m = 1, k = 2)
    assert(pq.codes.count() == 2)
    // pqSearch: a null-vector query id is dropped, not an NPE
    val hits = SimilaritySearch.pqSearch(pq, corpus, "vec_id", "embedding",
      Seq(1L, 3L), topK = 1)
    assert(hits.where(col("query_id") === 3L).count() == 0)
    assert(hits.where(col("query_id") === 1L).count() == 1)
    // a mixed-dimension corpus fails BY NAME, never via a silent
    // prefix distance (confidently-wrong bucket = silent recall loss)
    val mixed = Seq[(Long, Seq[Float])]((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.5f)))
      .toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      SimilaritySearch.ivfAssign(mixed, "vec_id", "embedding",
        Array((0, Array(1.0, 0.0)))).assigned.collect()
    }
    val msg = String.valueOf(err.getMessage) + String.valueOf(err.getCause)
    assert(msg.contains("vector dim"), s"expected a named dim error, got: $msg")
  }
}
