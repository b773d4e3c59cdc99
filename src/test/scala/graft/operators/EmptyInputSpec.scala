package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

/** Zero-row inputs through every operator that keeps driver-side state
  * (bloom sizing, CC rounds, scratch staging, rank iterations, index
  * builds). At 100 TB empty inputs are ROUTINE — an empty ingest
  * batch, a filter that matches nothing, a partition with no late
  * events — and the failure mode is ugly: a driver-side collect or a
  * schema-inferring scratch read-back that throws instead of flowing
  * an empty result. Every case here asserts the operator RETURNS (no
  * throw) with the right (usually empty) answer, not that some guard
  * rejects the input.
  *
  * Deliberately NOT covered: ivfIndex/pqIndex (KMeans TRAINING on an
  * empty corpus is a genuine caller error — there is nothing to fit;
  * the deterministic ivfAssign path below is the empty-safe form, and
  * pqIndex on an empty corpus fails BY NAME, pinned in AnnSpec) and
  * the streaming operators (no-data micro-batches are exercised by
  * their own AvailableNow specs).
  */
class EmptyInputSpec extends AnyFunSuite {
  import spark.implicits._

  // .where(lit(false)): empty but with real schemas and ≥1 partition,
  // the shape a filter-matches-nothing pipeline actually produces
  private def emptyDocs: DataFrame =
    Seq((1L, "a b c")).toDF("doc_id", "text").where(lit(false))
  private def emptyPairs: DataFrame =
    Seq((1L, 2L)).toDF("id_a", "id_b").where(lit(false))
  private def emptyEdges: DataFrame =
    Seq(("a", "b")).toDF("src", "dst").where(lit(false))

  test("minhash LSH pair generation: empty corpus, both encodings") {
    Seq(LshEncoding.MergeWalk, LshEncoding.Auto).foreach { enc =>
      assert(Dedup.minhashLshPairs(emptyDocs, "doc_id", "text", 16, 4, 0.4, enc)
        .count() == 0, s"encoding $enc")
    }
  }

  test("nearDedup and connectedComponents: empty input, no CC rounds spin") {
    assert(Dedup.nearDedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.connectedComponents(emptyPairs).count() == 0)
  }

  test("mergeClusters: empty batch preserves the prior assignment exactly") {
    val prior = Seq((10L, 1L), (11L, 1L), (20L, 20L)).toDF("id", "cluster_id")
    val out = Dedup.mergeClusters(prior, emptyPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.sameElements(Array((10L, 1L), (11L, 1L), (20L, 20L))))
  }

  test("mergeClusters: empty prior clusters the batch pairs from scratch") {
    val emptyPrior = Seq((1L, 1L)).toDF("id", "cluster_id").where(lit(false))
    val pairs = Seq((5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.mergeClusters(emptyPrior, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.sameElements(Array((5L, 5L), (6L, 5L))))
  }

  test("bloom filter built over zero keys prunes everything, joins stay exact") {
    val keys = Seq(1L).toDF("k").where(lit(false))
    val filter = BloomJoin.buildBits(keys, "k", BloomJoin.sizedBits(0), 4)
    val probe = Seq(1L, 2L, 3L).toDF("k")
    assert(BloomJoin.pruned(probe, "k", filter).count() == 0)
    // pruned-then-join ≡ plain join (both empty against a zero-key build)
    assert(probe.join(keys, "k").count() == 0)
  }

  test("pageRank on an empty edge list returns no ranks (no 0-division)") {
    assert(Graph.pageRank(emptyEdges, iters = 3, damping = 0.85).count() == 0)
  }

  test("triangleCounts on an empty edge list") {
    assert(Graph.triangleCounts(
      emptyEdges.select(col("src").as("a"), col("dst").as("b"))).count() == 0)
  }

  test("matching: empty sides stage and score to empty, no scratch read-back throw") {
    val offers = Seq(("J1", "L1", "S1", Seq("C1"), 100L, "Senior"))
      .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
        "salaire_max", "niveau_experience")
    val cvs = Seq(("CV1", "L1", "S1", Seq("C1"), 90.0, 3L))
      .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
        "competences_ids", "salaire_souhaite", "annees_experience")
    assert(graft.matching.Matching.score(
      offers.where(lit(false)), cvs.where(lit(false))).count() == 0)
    assert(graft.matching.Matching.score(offers.where(lit(false)), cvs).count() == 0)
    assert(graft.matching.Matching.score(offers, cvs.where(lit(false))).count() == 0)
  }

  test("SCD2: empty event stream, empty batch merge, empty prior merge") {
    val events = Seq((1L, 10L, 100L, "A")).toDF("ent", "ts", "tie", "attr")
    val none = events.where(lit(false))
    assert(Scd2.history(none, "ent", "ts", "tie", "attr").count() == 0)
    val prior = Scd2.historyKeepTie(events, "ent", "ts", "tie", "attr")
    // empty batch: prior history unchanged (values, not just count)
    val merged = Scd2.mergeHistoryKeepTie(prior, none, "ent", "ts", "tie", "attr")
    assert(merged.drop("__tie").collect().toSet ==
      prior.drop("__tie").collect().toSet)
    // empty prior: merge ≡ building from the batch alone
    val emptyPrior = prior.where(lit(false))
    val fromBatch = Scd2.mergeHistoryKeepTie(emptyPrior, events, "ent", "ts", "tie", "attr")
    assert(fromBatch.drop("__tie").collect().toSet ==
      prior.drop("__tie").collect().toSet)
  }

  test("decontamination against an empty benchmark flags nothing") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = TextAnalysis.contaminationStats(
      docs, "doc_id", "text", emptyDocs, "text", 5)
    val rows = out.collect()
    assert(rows.length == 1 && rows.forall(_.getAs[Long]("contaminated") == 0L))
  }

  test("ANN paths: empty corpus searches return empty, not errors") {
    val emptyVecs = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .where(lit(false))
    assert(SimilaritySearch.bruteForceTopK(
      emptyVecs, "vec_id", "embedding", Seq(1L), 5).count() == 0)
    val centroids = Array((0, Array(0.0, 0.0)), (1, Array(1.0, 1.0)))
    val idx = SimilaritySearch.ivfAssign(emptyVecs, "vec_id", "embedding", centroids)
    assert(SimilaritySearch.ivfSearch(idx, emptyVecs, "vec_id", "embedding",
      k = 5, nProbe = 2).count() == 0)
    assert(SimilaritySearch.quantizedTopK(
      SimilaritySearch.quantizeInt8(emptyVecs, "vec_id", "embedding"),
      Seq(1L), 5).count() == 0)
  }
}
