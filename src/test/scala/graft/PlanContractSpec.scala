package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.ExplainMode

import graft.TestSpark.spark

/** Plan-quality contracts — the properties that make these plans
  * survive a 100 TB scale-up, pinned so a refactor can't silently
  * regress them: filter/column pushdown into the parquet scan,
  * broadcast (not cartesian/shuffle) dimension joins, map-side partial
  * aggregation. Asserted on the pre-AQE physical plan text. */
class PlanContractSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02 pushes filters and prunes columns at the scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan"), "range predicates must reach parquet")
    assert(p.contains("ReadSchema"), p)
    // l_partkey/l_returnflag exist in the fixture but are untouched by
    // q02 — they must not appear anywhere in the plan (pruned ReadSchema)
    assert(!p.contains("l_partkey") && !p.contains("l_returnflag"),
      "untouched columns must be pruned from the scan")
  }

  test("q03 star joins broadcast the dimensions and never go cartesian") {
    val p = plan("q03_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q01 aggregates with a map-side partial before the exchange") {
    val p = plan("q01_agg")
    // formatted explain prints each node twice (tree + details), so a
    // partial+final PAIR shows up 4 times; a lone final agg only twice
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "expected partial+final HashAggregate pair")
    assert(p.contains("hashpartitioning"))
  }

  test("q18 LSH candidate generation is an equi-join, not a cartesian") {
    val p = plan("q18_minhash_lsh_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("partitioned lake scan uses dynamic partition pruning for a selective dim join") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    // fact partitioned by region-ish key; dim filtered to one value —
    // at 100 TB this is the date-partitioned warehouse star join, where
    // DPP turns a full-fact scan into reading one partition's files
    Engine.table(spark, dir, "orders")
      .withColumn("bucket", col("o_orderkey") % 10)
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$tmp/fact")
    val fact = spark.read.parquet(s"$tmp/fact")
    val dim = spark.range(10).select(col("id").as("bucket"),
      concat(lit("n"), col("id")).as("name"))
    val joined = fact.join(dim.where(col("name") === "n3"), "bucket")
    val p = joined.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(p.contains("dynamicpruning"),
      s"selective dim join over a partitioned fact must plan DPP:\n$p")
  }

  test("q47 computes all five window functions in one window exchange") {
    val p = plan("q47_window_ranks")
    assert("hashpartitioning\\(o_orderpriority".r.findAllIn(p).size <= 1,
      "the five window functions must share one shuffle on the partition key")
  }

  test("q54 probes the benchmark gram set via broadcast, never a shuffle join") {
    val p = plan("q54_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the benchmark probe must not shuffle the corpus gram stream")
  }

  test("q50 blocked candidates are duplicate-free: no pair-id shuffle or aggregate") {
    val p = plan("q50_matching_scores")
    // the location join excludes pairs the sector join already emits,
    // so no pair-id dedup may come back: no exchange partitions on both
    // ids and no aggregate keys on both (either order)
    def bothIds(s: String) = s.contains("job_id") && s.contains("candidate_id")
    val pairExchanges = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).filter(bothIds).toSeq
    assert(pairExchanges.isEmpty, s"pair-id exchange is back: $pairExchanges\n$p")
    val pairAggs = "Keys \\[\\d+\\]: \\[[^\\]]*\\]".r.findAllIn(p).filter(bothIds).toSeq
    assert(pairAggs.isEmpty, s"pair-id aggregate is back: $pairAggs\n$p")
    // the rank<=5 filter still pushes a group limit below the top-k window
    assert("Window \\(\\d+\\)\\s+\\+- WindowGroupLimit".r.findFirstIn(p).nonEmpty,
      "top-k must push a group limit below the rank window:\n" + p)
  }

  test("q63 broadcasts quantized queries and group-limits the top-k window") {
    val p = plan("q63_quantized_topk")
    // query side broadcast against an un-shuffled corpus scan; the
    // rank<=k filter must run as a WindowGroupLimit (partial top-k
    // before the window sort), not a full window + filter
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"),
      "top-k must push a group limit below the rank window")
  }

  test("q64 chunking runs without any hash shuffle") {
    val p = plan("q64_chunk_documents")
    assert(!p.contains("hashpartitioning"),
      "chunk generation must stay map-side (sort for output order only)")
    assert(p.contains("Generate"), p)
  }

  test("q65 segment dedup shuffles the digest, not the segment text") {
    val p = plan("q65_segment_dedup")
    assert(p.contains("md5"), "winner window must key on the md5 digest")
    assert(!p.contains("hashpartitioning(seg_text"),
      "the window exchange must not carry raw segment text as its key")
    assert(!p.contains("CartesianProduct"))
  }

  test("q66 vocab cut is TakeOrdered and the probe is a broadcast join") {
    val p = plan("q66_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "top-V must never be a global sort")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q56 incremental band join is an equi-join and builds with zero jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // pre-load the table so parquet schema inference (one setup job,
    // common to every file-backed query) is out of the measurement —
    // the contract is about the OPERATOR's plan construction
    val docs = Engine.table(spark, dir, "documents")
    docs.schema
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    import org.apache.spark.sql.functions.col
    val p = try {
      val df = graft.operators.Dedup.incrementalLshPairs(
        docs.where(col("doc_id") % 10 === 7), docs.where(col("doc_id") % 10 =!= 7),
        "doc_id", "text", 16, 4, 0.4)
      df.queryExecution.executedPlan
      val s = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Thread.sleep(300); s
    } finally spark.sparkContext.removeSparkListener(l)
    assert(n.get() == 0, s"plan-only construction ran ${n.get()} jobs")
    assert(!p.contains("CartesianProduct"), "band join must stay equi")
  }

  test("q70 BM25 broadcasts corpus stats and term df; top-k is TakeOrdered") {
    val p = plan("q70_bm25_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "df/stats joins must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q71 bloom probe is a codegen'd scan filter, no UDF, no extra shuffle") {
    val p = plan("q71_bloom_join")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLAppendedUDF"),
      "membership test must be pure Column ops")
    // the pruned lineitem side must still push its IsNotNull to parquet
    assert(p.contains("PushedFilters"), p)
  }

  test("q72 triangle counting is all equi-joins (no OR-condition nested loop)") {
    val p = plan("q72_triangle_count")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "wedge closing must canonicalize to an equi-join")
  }

  test("q73 SCD2 shuffles once on the entity key, no global sort before windows") {
    val p = plan("q73_scd2_history")
    // both lag and lead windows partition by o_custkey → one exchange
    // (reused), plus the final presentation sort
    assert("hashpartitioning\\(o_custkey".r.findAllIn(p).nonEmpty, p)
  }

  test("q76 histogram bounds come from a broadcast one-row agg") {
    val p = plan("q76_histogram")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    // the condition-less bounds join must plan as a broadcast nested
    // loop (one-row build side), never an unbroadcast cartesian
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q77 SemDeDup pair scan joins on the cluster key, centroids broadcast back") {
    val p = plan("q77_semantic_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "centroid join-back must broadcast")
  }

  test("q78/q79 index builds aggregate with map-side partials, PMI joins stay equi") {
    val p78 = plan("q78_inverted_index")
    assert("HashAggregate".r.findAllIn(p78).size >= 4, "partial+final pair expected")
    val p79 = plan("q79_token_pmi")
    assert(!p79.contains("CartesianProduct"))
    assert(p79.contains("TakeOrderedAndProject"), "vocab cap must be TakeOrdered")
  }

  test("q84 grouped top-k runs as ObjectHashAggregate, not a window sort") {
    val p = plan("q84_topk_agg")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), "the aggregate form must not fall back to a window")
  }

  test("q87 sketch rollup re-aggregates day sketches, raw scan appears once per leg") {
    val p = plan("q87_sketch_rollup")
    assert(p.contains("hll_union_agg") || p.contains("HllUnionAgg"), p)
  }

  test("q89 fuzzy join blocks on the prefix key — equi-join, no cartesian") {
    val p = plan("q89_fuzzy_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q27 event-time normalization keeps the scan pruned to touched columns") {
    // Engine.events rewrites ts via withColumn (epochNs); column pruning
    // must still push THROUGH that projection to the parquet scan — a
    // normalization that widened every event scan to all 6 columns
    // would tax all event-time queries at 100 TB. event_id/user_id/
    // props are untouched by q27 and must not reach the scan.
    val p = plan("q27_time_bucket_agg")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("event_id") && !p.contains("user_id") && !p.contains("props"),
      "untouched event columns must be pruned from the scan")
  }

  test("q60 extracts every page field with ONE kernel UDF invocation") {
    // pageUdf batches the seven cascades so the page string is decoded
    // once per row; if a refactor re-inlines it per field (or goes back
    // to per-field UDFs) the same page re-parses seven times. The
    // struct must stay in its own projection — count the UDF's
    // occurrences in the formatted plan. ("formatted" mode prints the
    // operator TREE without expressions and then each node's details
    // once, so a single projection invoking the UDF yields exactly one
    // "UDF(" occurrence; a second occurrence means a second evaluation
    // site, not a print artifact.)
    val p = plan("q60_html_extract")
    val n = "UDF\\(".r.findAllIn(p).size
    assert(n == 1, s"expected exactly one kernel UDF invocation in the " +
      s"plan text, found $n:\n$p")
  }

  test("q61 stages the lowered doc and marker flag below the explode") {
    // lower(t2) and the four marker scans must compute once per
    // DOCUMENT (below the Generate), not once per exploded skill row.
    // The staging projection prints `lower(t2#N) AS ctx#M` exactly once
    // in the formatted details; a collapse that re-inlined it into the
    // post-explode confidence expression would print it again there.
    // (extractSkillsNlp's own lowering prints as lower(coalesce(t2...,
    // so the needle below doesn't match it.)
    val p = plan("q61_nlp_skills")
    assert(p.contains("Generate"), p)
    val stagings = "lower\\(t2#".r.findAllIn(p).size
    assert(stagings == 1,
      s"lower(t2) must appear exactly once (the pre-explode staging), found $stagings:\n$p")
  }

  test("q95 capped matching takes the one-window plan, not the pay-per-use split") {
    // Matching's sector/location blocks engage the cap on ~all rows,
    // so capBlocks(mostBlocksOver = true) must NOT plan the two-phase
    // anti/semi split (measured +39% there — SCALE.md round-8). A
    // dial flip back to the default would reintroduce the regression
    // silently. The needle is SCOPED to capBlocks' own subtree — a
    // LeftAnti join ON the reserved __cb_key working column (simple
    // mode prints join keys and type on one operator line) — so a
    // future q95 component with a legitimate unrelated anti join
    // can't false-trip the pin (round-9 ADVICE).
    val p = SparkEntry.queries("q95_matching_capped")(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    val split = p.linesIterator.exists(l =>
      l.contains("LeftAnti") && l.contains("__cb_key"))
    assert(!split,
      "capped matching must not plan the pay-per-use anti/semi split:\n" + p)
    assert(p.contains("Window"), p)
  }

  test("q101 hashed capped matching plans no window and no per-block sort") {
    // the sort-free profile's contract at the query level: sub-block
    // assignment is hash arithmetic, so no rank window may appear —
    // and the whole reason the profile exists is that the rank
    // window's per-block sort serializes a giant block onto one task.
    // (The final presentation top-k window over candidate_id remains;
    // the needle is the __cb_key rank window.)
    val p = SparkEntry.queries("q101_matching_capped_hash")(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    val blockWindow = p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("__cb_key"))
    assert(!blockWindow,
      "hashed capped matching must not rank-window the blocks:\n" + p)
  }

  test("q104 composite stages the dedup boundary to scratch parquet") {
    // The five-stage chain's one shuffling stage (Deduplicate) consumes
    // its prepared frame ~6 ways (pair self-join both sides, flag
    // join-back, keep-best rank) — SCALE.md mandates the scratch-parquet
    // staging exactly there, so the upstream parse/skills/salary UDF
    // cascade runs once, not six times. The staged read must appear in
    // the final plan as a parquet scan of the graft-dedup-prep dir.
    val p = plan("q104_pipeline_composite")
    assert(p.contains("graft-dedup-prep"),
      "q104's plan must read the dedup stage's scratch-staged parquet:\n" +
        p.linesIterator.take(40).mkString("\n"))
    // and the blob synthesis/UDF cascade must NOT survive into the
    // final plan (it ran once, into the staging write)
    assert(!p.contains("json_tuple") && !p.contains("html_content"),
      "the parse cascade must be cut off by the dedup staging boundary")
  }

  test("capped LSH auto-selects one-window on the all-hot driver corpus") {
    // The cap is one rank window; no anti/semi split may appear. On
    // the gate corpus (30-word vocabulary — nearly every band bucket
    // is over any production cap) a split measured 2x slower for q103
    // (SCALE.md round-14).
    val docs = graft.Engine.table(spark, dir, "documents")
    val auto = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", k = 16, bandsOf = 4, threshold = 0.7,
        maxBucketSize = Some(8))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!auto.contains("LeftAnti") && auto.contains("Window"),
      "auto must select the one-window profile on the all-hot corpus:\n" + auto)
  }
}
