package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

class OperatorsSpec extends AnyFunSuite {
  import spark.implicits._

  test("AsOfJoin.backward picks latest right row at or before left ord") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "ts", "name")
    val right = Seq((1L, 8L, "c-early"), (1L, 15L, "c-mid"), (2L, 9L, "c-late"))
      .toDF("k", "rts", "payload")
    val out = AsOfJoin.backward(left, right, "k", "ts", "rts", Seq("payload", "rts"))
      .orderBy("k", "ts").collect()
    assert(out(0).getAs[String]("payload") == "c-early") // ts=10 -> rts=8
    assert(out(1).getAs[String]("payload") == "c-mid") // ts=20 -> rts=15
    assert(out(2).isNullAt(out(2).fieldIndex("payload"))) // ts=5 has no prior
  }

  test("AsOfJoin tie at equal ord: right row visible to left row") {
    val left = Seq((1L, 10L, "p")).toDF("k", "ts", "name")
    val right = Seq((1L, 10L, "same-ts")).toDF("k", "rts", "payload")
    val out = AsOfJoin.backward(left, right, "k", "ts", "rts", Seq("payload"))
    assert(out.first().getAs[String]("payload") == "same-ts")
  }

  test("AsOfJoin null keys never match (SQL ASOF / pandas equi-key semantics)") {
    // Window.partitionBy would group null keys into one partition; a
    // null-keyed purchase must NOT inherit a null-keyed click's payload
    val left = Seq((Option.empty[Long], 10L, "null-key"), (Some(1L), 10L, "keyed"))
      .toDF("k", "ts", "name")
    val right = Seq((Option.empty[Long], 5L, "null-click"), (Some(1L), 5L, "real-click"))
      .toDF("k", "rts", "payload")
    val out = AsOfJoin.backward(left, right, "k", "ts", "rts", Seq("payload"))
      .orderBy(asc_nulls_first("k")).collect()
    assert(out.length == 2, "null-keyed left rows stay in the output")
    assert(out(0).isNullAt(out(0).fieldIndex("payload")), "null key must not match")
    assert(out(1).getAs[String]("payload") == "real-click")
  }

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L && out(0).getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH finds identical and near-identical docs, skips distinct") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy cat today"),
      (4L, "completely different content about spark dataframes and shuffles"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 4, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs equal, unrelated docs differ") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val sh = Dedup.simhash(docs, "doc_id", "text", 32)
      .orderBy("id").select("simhash").as[Long].collect()
    assert(sh(0) == sh(1))
    assert(sh(0) != sh(2))
  }

  test("ngram jaccard pairs within block") {
    val docs = Seq(
      (1L, "spark shuffles data across the cluster during wide transformations"),
      (2L, "spark shuffles data across the cluster during wide operations"),
      (3L, "spark is entirely different and unrelated text corpus material"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", lit("b"), 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("incremental LSH pairs match new docs against the corpus only") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different corpus content about engines"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota")) // near-dup of 1
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of corpus 1
      (11L, "alpha beta gamma delta epsilon zeta eta kappa"), // near-dup of 1/3/10
      (12L, "unrelated fresh material nothing shared here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalLshPairs(batch, corpus, "doc_id", "text", 16, 4, 0.6)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    // new x corpus hits only: no (10,11) within-batch pair, no (1,3)
    // corpus-internal pair, nothing for 12
    assert(pairs.contains((10L, 1L)))
    assert(pairs.forall { case (a, b) => a >= 10L && b < 10L })
    assert(!pairs.exists(_._1 == 12L))
  }

  test("brute-force cosine topk returns self-similar neighbors first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = SimilaritySearch.bruteForceTopK(vecs, "vec_id", "embedding", Seq(0L), 2)
      .orderBy("rank").select("cand_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("int8 quantization bounds codes, cancels scales, survives zero vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-2.5f, 1.25f, 0.625f)),
      (4L, Array(0.0f, 0.0f, 0.0f))) // zero vector
      .toDF("vec_id", "embedding")
    val q = SimilaritySearch.quantizeInt8(vecs, "vec_id", "embedding")
    val rows = q.orderBy("id").collect()
    // codes stay in int8 range; max-|v| dimension quantizes to ±127
    rows.foreach { r =>
      val codes = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(codes.forall(c => c >= -127 && c <= 127), s"codes out of range: $codes")
    }
    assert(rows(3).getAs[scala.collection.Seq[Int]]("codes").toSeq == Seq(-127, 64, 32)) // exact halves round up
    assert(rows(4).getAs[scala.collection.Seq[Int]]("codes").toSeq == Seq(0, 0, 0))
    assert(rows(4).getAs[Double]("scale") == 0.0)
    // quantized ranking matches exact ranking on well-separated vectors
    val top = SimilaritySearch.quantizedTopK(q, Seq(0L), 2)
      .orderBy("rank").select("cand_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("chunkDocuments covers every token with the declared overlap") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, ""), // no tokens -> no chunks
      (4L, (1 to 9).map(i => s"u$i").mkString(" "))) // exactly 3 strides
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 4, 1)
      .orderBy("id", "chunk_idx").collect()
    val doc1 = chunks.filter(_.getLong(0) == 1L)
    // stride 3: starts 0,3,6 — the start-6 chunk reaches token 10
    assert(doc1.map(_.getAs[Long]("start_token")).toSeq == Seq(0L, 3L, 6L))
    assert(doc1.map(_.getAs[Long]("n_tokens")).toSeq == Seq(4L, 4L, 4L))
    assert(doc1.head.getAs[String]("chunk_text") == "t1 t2 t3 t4")
    assert(doc1(1).getAs[String]("chunk_text") == "t4 t5 t6 t7") // 1-token overlap
    // every token appears; consecutive chunks share exactly `overlap` tokens
    val covered = doc1.flatMap(_.getAs[String]("chunk_text").split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    assert(chunks.count(_.getLong(0) == 2L) == 1) // short doc -> one chunk
    assert(!chunks.exists(_.getLong(0) == 3L)) // empty doc -> none
    assert(chunks.filter(_.getLong(0) == 4L).map(_.getAs[Long]("n_tokens")).toSeq
      == Seq(4L, 4L, 3L)) // n=9: starts 0,3,6; no empty trailing chunk
  }

  test("pageRank: hand-computed hub ranks, mass conserved, lazy build") {
    // a<->b, a<->c: after one iteration r(a) = 0.05 + 0.85*(1/3 + 1/3),
    // r(b) = r(c) = 0.05 + 0.85*(1/3)/2
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val one = Graph.pageRank(edges, 1, 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(one("a") - (0.05 + 0.85 * 2.0 / 3.0)) < 1e-12)
    assert(math.abs(one("b") - (0.05 + 0.85 / 6.0)) < 1e-12)
    assert(one("b") == one("c"))
    // symmetric graph, no dangling nodes: total mass stays 1 at any depth
    val three = Graph.pageRank(edges, 3, 0.85).collect().map(_.getDouble(1))
    assert(math.abs(three.sum - 1.0) < 1e-9, s"mass ${three.sum}")
    // plan construction must run zero jobs (the node count is lazy)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Graph.pageRank(edges, 3, 0.85).queryExecution.executedPlan
      Thread.sleep(300)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(n.get() == 0, s"plan-only pageRank ran ${n.get()} jobs")
  }

  test("pageRank and mergeClusters persist reused intermediates; clearCache releases them") {
    // Both operators persist the frames every iteration/branch re-reads;
    // the session-wide release is Bench.resetSession's clearCache, and
    // a released plan stays valid — it recomputes the same answer.
    def cachedCount: Int = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    val baseline = cachedCount
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iters = 3, damping = 0.85)
    val ranks = pr.collect().toSet
    assert(ranks.size == 3)
    val afterPr = cachedCount
    assert(afterPr > baseline, "pageRank should have filled its persisted caches")
    val prior = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val merged = Dedup.mergeClusters(prior, Seq((2L, 3L)).toDF("id_a", "id_b"))
    val clusters = merged.collect().toSet
    assert(clusters.size == 3)
    assert(cachedCount > afterPr, "mergeClusters should have filled its persisted pair batch")
    spark.catalog.clearCache()
    assert(cachedCount == baseline, "clearCache must release every persisted intermediate")
    assert(pr.collect().toSet == ranks)
    assert(merged.collect().toSet == clusters)
    spark.catalog.clearCache()
  }

  test("language id picks the marker-dominant language") {
    val df = Seq(
      "the cat and the dog is in the house of the king",
      "le chat et la maison et les gens le jour",
      "der hund und die katze ist der beste",
      "xyzzy plugh").toDF("text")
    val got = df.select(TextAnalysis.langId($"text")).as[String].collect()
    assert(got.toSeq == Seq("en", "fr", "de", "und"))
  }

  test("stageCounted's footer count is exact, including multi-file and empty stages") {
    // the scale guards' cross-product short-circuit input (round-16):
    // the count comes from the written parquet footers driver-side,
    // so it must equal the staged row count exactly — across multiple
    // part files, and 0 on an empty stage (zero-row inputs must flow)
    val df = spark.range(1000).repartition(4).toDF("id")
    val (staged, n) = Scratch.stageCounted(df, "graft-test-sc")
    assert(n == 1000L)
    assert(staged.count() == 1000L)
    val (stagedEmpty, n0) = Scratch.stageCounted(
      df.where($"id" < 0), "graft-test-sc0")
    assert(n0 == 0L)
    assert(stagedEmpty.count() == 0L)
  }

  test("footerCount is exact on a partitioned layout") {
    // the count walks the read-back's own file index, which recurses
    // into partition dirs — a partitioned layout (the lake stages)
    // counts every leaf, never undercounting the scale guards' bound
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-test-nested-${java.util.UUID.randomUUID()}")
    try {
      spark.range(100).toDF("id").withColumn("p", $"id" % 2)
        .write.partitionBy("p").parquet(dir.toString)
      assert(Scratch.footerCount(spark.read.parquet(dir.toString)) == 100L)
    } finally rm(dir)
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  private def jobsDuring(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("a Scratch staging runs exactly one Spark job: the write") {
    // the read-back carries the written schema, so no schema-inference
    // job follows the write; stageCounted's count is footer metadata
    val df = spark.range(100).toDF("id")
    assert(jobsDuring { Scratch.stage(df, "graft-test-one-job") } == 1)
    assert(jobsDuring { Scratch.stageCounted(df, "graft-test-one-job") } == 1)
  }

  // every parquet shape the schema-carrying read must agree with
  // inference on: nested array/struct/map, decimal, both timestamp
  // kinds, binary, and a non-nullable column (range's id)
  private def richFrame = spark.range(3).select(
    $"id",
    array($"id", $"id" + 1).as("arr"),
    struct($"id".as("a"), array(struct($"id".as("b"))).as("nested")).as("st"),
    map($"id".cast("string"), array($"id")).as("mp"),
    ($"id" / 7).cast("decimal(12,4)").as("dec"),
    timestamp_seconds($"id").as("ts"),
    timestamp_seconds($"id").cast("timestamp_ntz").as("ts_ntz"),
    $"id".cast("string").cast("binary").as("bin"),
    when($"id" % 2 === 0, "even").otherwise("odd").as("source"),
    lit(1.5).as("tail"))

  test("a Scratch read-back has the schema an inferred read would give") {
    val df = richFrame
    assert(df.schema("id").nullable == false, "fixture needs a non-nullable column")
    val back = Scratch.stage(df, "graft-test-schema")
    val dir = new org.apache.hadoop.fs.Path(new java.net.URI(back.inputFiles.head))
      .getParent.toString
    assert(back.schema == spark.read.parquet(dir).schema)
    assert(back.collect().toSet == spark.read.parquet(dir).collect().toSet)
  }

  test("a partitioned read-back matches the inferred read, partition column last") {
    // the lake-stage shape (JobPipeline's materialized checkpoint):
    // write, schema-carrying read-back and footer count run one job
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-test-lake-${java.util.UUID.randomUUID()}")
    try {
      var back: org.apache.spark.sql.DataFrame = null
      var rows = -1L
      val jobs = jobsDuring {
        back = Scratch.writeBack(richFrame, dir.toString)(_.partitionBy("source"))
        rows = Scratch.footerCount(back)
      }
      assert(jobs == 1)
      assert(rows == 3L)
      val inferred = spark.read.parquet(dir.toString)
      assert(back.schema == inferred.schema)
      assert(back.columns.last == "source")
      assert(back.collect().toSet == inferred.collect().toSet)
    } finally rm(dir)
  }
}
