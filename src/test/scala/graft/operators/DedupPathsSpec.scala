package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.spark
import graft.functions.TextFunctions._

/** Equivalence of minhashLshPairs' three adaptive verification paths
  * (single-word bitmask <= 64 vocab, array bitmap <= 4096, sorted
  * merge-walk beyond) against an independent Scala replay of the
  * banding + exact-Jaccard contract. Path choice is corpus-driven, so
  * each corpus is sized to land in one tier; the driver corpus (31
  * tokens) only ever exercises the first. */
class DedupPathsSpec extends AnyFunSuite {
  import spark.implicits._

  private val K = 16
  private val BandRows = 4
  private val Threshold = 0.4

  /** Deterministic alpha-only token (tokenSet keeps lowercase alpha runs). */
  private def tok(i: Int): String = {
    var n = i; val sb = new StringBuilder("tok")
    do { sb.append(('a' + n % 26).toChar); n /= 26 } while (n > 0)
    sb.toString
  }

  /** Corpus of `perTemplate` docs per template; doc j of a template
    * drops j tokens and adds j fresh ones, giving a jaccard ladder. */
  private def corpus(nTemplates: Int, tokensPer: Int, perTemplate: Int,
      universeOffset: Int): Seq[(Long, String)] = {
    var fresh = 1000000
    (0 until nTemplates).flatMap { t =>
      val base = (0 until tokensPer).map(i => tok(universeOffset + t * tokensPer + i))
      (0 until perTemplate).map { j =>
        fresh += j
        val body = base.drop(j) ++ (0 until j).map(i => tok(fresh + i))
        (t.toLong * perTemplate + j, body.mkString(" "))
      }
    }
  }

  /** Independent replay: evaluate token sets + signatures through the
    * public builders, then do banding and exact Jaccard in plain Scala.
    * `banded = false` skips the shared-band test: every verified pair. */
  private def referencePairs(docs: org.apache.spark.sql.DataFrame,
      banded: Boolean = true): Map[(Long, Long), Double] = {
    val toks = docs.select(col("doc_id"),
        sort_array(array_distinct(
          transform(tokenSet(col("text")), t => tokenHashMod(t)))).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", K)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val ids = toks.keys.toSeq.sorted
    (for {
      a <- ids; b <- ids if a < b
      shareBand = !banded || (0 until K / BandRows).exists(band =>
        sigs(a).slice(band * BandRows, (band + 1) * BandRows) ==
          sigs(b).slice(band * BandRows, (band + 1) * BandRows))
      if shareBand
      inter = (toks(a) & toks(b)).size
      union = (toks(a) | toks(b)).size
      j = if (union == 0) 0.0 else inter.toDouble / union
      if math.floor((j + 1e-9) * 1e6 + 0.5) / 1e6 >= Threshold
    } yield (a, b) -> j).toMap
  }

  private def check(rows: Seq[(Long, String)], wantVocabIn: (Int, Int)): Unit = {
    val docs = rows.toDF("doc_id", "text")
    val vocab = docs.select(explode(
        transform(tokenSet(col("text")), t => tokenHashMod(t))).as("h"))
      .distinct().count().toInt
    assert(vocab >= wantVocabIn._1 && vocab <= wantVocabIn._2,
      s"corpus landed outside the intended tier: vocab=$vocab not in $wantVocabIn")
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
        LshEncoding.Auto)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = referencePairs(docs)
    assert(got.keySet == want.keySet,
      s"pair sets differ: missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    got.foreach { case (k, j) =>
      assert(math.abs(j - want(k)) < 1e-5, s"jaccard mismatch at $k: $j vs ${want(k)}")
    }
    assert(got.nonEmpty, "tier corpus must produce pairs for the test to mean anything")
  }

  test("single-word bitmask tier (vocab <= 64) matches the replay") {
    check(corpus(nTemplates = 4, tokensPer = 12, perTemplate = 3, universeOffset = 0),
      (1, 64))
  }

  test("array-bitmap tier (64 < vocab <= 4096) matches the replay") {
    check(corpus(nTemplates = 8, tokensPer = 25, perTemplate = 4, universeOffset = 100),
      (65, 4096))
  }

  test("merge-walk tier (vocab > 4096) matches the replay") {
    check(corpus(nTemplates = 20, tokensPer = 300, perTemplate = 3, universeOffset = 1000),
      (4097, Int.MaxValue))
  }

  test("default MergeWalk encoding equals Auto on a bitmap-tier corpus") {
    val docs = corpus(nTemplates = 4, tokensPer = 12, perTemplate = 3,
      universeOffset = 0).toDF("doc_id", "text")
    def pairs(e: LshEncoding) =
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold, e)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(LshEncoding.MergeWalk) == pairs(LshEncoding.Auto))
  }

  test("cap above every bucket: staged capped output equals lazy output") {
    // the capped path is the one that stages the tokenize/minhash
    // cascade to scratch (SCALE.md round-8); with a cap above every
    // bucket's size it must emit exactly the uncapped (lazy) pairs
    val docs = corpus(nTemplates = 8, tokensPer = 25, perTemplate = 4,
      universeOffset = 100).toDF("doc_id", "text")
    def pairs(cap: Option[Int]) =
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
          LshEncoding.MergeWalk, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lazyPairs = pairs(None)
    assert(lazyPairs.nonEmpty, "fixture must produce pairs to pin anything")
    assert(pairs(Some(docs.count().toInt + 1)) == lazyPairs)
  }

  test("capped minhashLshPairs construction runs only its scratch-staging jobs") {
    // the cap is one lazy rank window: building the capped plan may run
    // the cascade's staging (its write plus the read-back's footer
    // job) and nothing else — no bucket-size measurement action
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val docs = corpus(nTemplates = 8, tokensPer = 25, perTemplate = 4,
      universeOffset = 100).toDF("doc_id", "text")
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // the SQL execution id of every job started during `f` ("null"
    // for jobs outside any SQL execution)
    def jobExecsDuring(f: => Unit): Seq[String] = {
      val ids = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          ids.add(String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case x: SparkListenerSQLExecutionStart =>
            plans.put(x.executionId.toString, x.physicalPlanDescription)
          case _ =>
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
      ids.toArray.map(_.toString).toSeq
    }
    val capped = jobExecsDuring {
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
        maxBucketSize = Some(2)).queryExecution.executedPlan
    }
    val execs = capped.filter(_ != "null").distinct
    assert(execs.length == 1, s"construction ran ${execs.length} SQL executions")
    val staging = Option(plans.get(execs.head)).getOrElse("")
    assert(staging.contains("InsertIntoHadoopFsRelationCommand") &&
      staging.contains("graft-lsh-sigs"),
      s"the one construction execution must be the cascade staging write:\n$staging")
    // outside SQL executions: exactly what a bare staging's read-back costs
    val reference = jobExecsDuring { Scratch.stage(docs, "graft-spec-ref") }
    assert(capped.count(_ == "null") == reference.count(_ == "null"),
      s"capped construction jobs $capped vs bare staging $reference")
  }

  test("incrementalLshPairs == whole-corpus LSH restricted to cross pairs") {
    // split a ladder corpus into batch (every 3rd doc) and corpus; the
    // incremental operator must produce exactly the cross-set subset of
    // the self-join operator's pairs, with identical jaccard values
    val rows = corpus(nTemplates = 6, tokensPer = 20, perTemplate = 4, universeOffset = 500)
    val all = rows.toDF("doc_id", "text")
    val batch = all.where($"doc_id" % 3 === 0)
    val standing = all.where($"doc_id" % 3 =!= 0)
    val incremental = Dedup.incrementalLshPairs(batch, standing,
        "doc_id", "text", K, BandRows, Threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val whole = Dedup.minhashLshPairs(all, "doc_id", "text", K, BandRows, Threshold)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter { case ((a, b), _) => (a % 3 == 0) != (b % 3 == 0) }
      .map { case ((a, b), j) => // orient as (new, corpus)
        (if (a % 3 == 0) (a, b) else (b, a)) -> j
      }.toMap
    assert(incremental.keySet == whole.keySet,
      s"missing=${whole.keySet -- incremental.keySet} extra=${incremental.keySet -- whole.keySet}")
    incremental.foreach { case (k, j) => assert(j == whole(k), s"jaccard differs at $k") }
    assert(incremental.nonEmpty, "fixture must produce cross pairs")
  }

  test("maxBucketSize cap emits a strict, duplicate-free subset of exact pairs") {
    // template-heavy corpus: 12 near-identical docs per template band
    // into the same hot buckets; a cap of 4 splits each bucket into
    // id-ranked sub-buckets that only pair among themselves. The dial's
    // contract: never adds, never duplicates, never alters a jaccard —
    // only misses cross-sub-bucket pairs (the recall cost).
    val docs = corpus(nTemplates = 3, tokensPer = 40, perTemplate = 12,
      universeOffset = 3000).toDF("doc_id", "text")
    def run(cap: Option[Int]): Array[((Long, Long), Double)] =
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
          LshEncoding.MergeWalk, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    val exactRows = run(None)
    val cappedRows = run(Some(4))
    assert(cappedRows.length == cappedRows.map(_._1).distinct.length,
      "capped output must not duplicate pairs")
    val exact = exactRows.toMap
    val capped = cappedRows.toMap
    assert(capped.keySet.subsetOf(exact.keySet),
      s"capped must be a subset of exact; extra=${capped.keySet -- exact.keySet}")
    capped.foreach { case (k, j) =>
      assert(j == exact(k), s"jaccard differs under capping at $k")
    }
    assert(capped.nonEmpty, "fixture must keep some within-sub-bucket pairs")
    assert(capped.size < exact.size,
      "fixture must actually exercise the cap (some pairs dropped)")
    info(f"cap=4 recall: ${capped.size}/${exact.size} = " +
      f"${capped.size.toDouble / exact.size}%.3f")
  }

  test("capped pairs are the distinct union of the per-band capped joins") {
    // A pair the cap splits apart at its first shared band but keeps
    // together at a later one must be emitted at that later band: the
    // first-band-wins rule compares CAPPED keys, not raw signature
    // slices. Model: each band's capped join rebuilt from Skew.capBlocks
    // keys over the same band keys, unioned, distinct, then the exact
    // jaccard filter (the MatchingSpec candidate-set case's shape).
    val cap = 3
    val docs = corpus(nTemplates = 2, tokensPer = 40, perTemplate = 8,
      universeOffset = 3000).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
        LshEncoding.MergeWalk, maxBucketSize = Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length,
      s"capped output repeats pairs: ${got.diff(got.distinct)}")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", K)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val nBands = K / BandRows
    // band b's (raw key, capped key) per id, capped by capBlocks itself
    val keys: Seq[Map[Long, (String, String)]] = (0 until nBands).map { b =>
      val banded = sigs.toSeq.map { case (id, s) =>
        (id, s.slice(b * BandRows, (b + 1) * BandRows).mkString("_"))
      }.toDF("id", "band_key")
      Skew.capBlocks(banded, col("band_key"), col("id"), cap)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    }
    val verified = referencePairs(docs, banded = false)
    val model = (for {
      band <- keys
      (a, (_, ca)) <- band.toSeq; (b, (_, cb)) <- band.toSeq
      if a < b && ca == cb && verified.contains((a, b))
    } yield (a, b)).toSet
    assert(got.toSet == model,
      s"missing=${model -- got.toSet} extra=${got.toSet -- model}")
    // the fixture reaches the case: an emitted pair that shares its raw
    // band-0 key, is split by the cap at band 0, and pairs at a later band
    val splitThenPaired = got.filter { case (a, b) =>
      val (ra, ca) = keys(0)(a); val (rb, cb) = keys(0)(b)
      ra == rb && ca != cb
    }
    assert(splitThenPaired.nonEmpty, "fixture must split a pair at band 0 and pair it later")
  }

  test("k and bandsOf must be positive, checked by name") {
    val docs = corpus(nTemplates = 1, tokensPer = 5, perTemplate = 2,
      universeOffset = 0).toDF("doc_id", "text")
    Seq((16, 0), (0, 4), (-4, 4)).foreach { case (k, bandsOf) =>
      val self = intercept[IllegalArgumentException](
        Dedup.minhashLshPairs(docs, "doc_id", "text", k, bandsOf, Threshold))
      assert(self.getMessage.contains("k and bandsOf must be positive"), self.getMessage)
      val incr = intercept[IllegalArgumentException](
        Dedup.incrementalLshPairs(docs, docs, "doc_id", "text", k, bandsOf, Threshold))
      assert(incr.getMessage.contains("k and bandsOf must be positive"), incr.getMessage)
    }
  }

  test("bandBucketSizes checks k and bandsOf by name, like the pair operators") {
    // the histogram bands the same signatures both pair operators band,
    // so it refuses the same k / bandsOf: no "/ by zero" death, and no
    // silent histogram of a banding no pair operator would run
    val docs = corpus(nTemplates = 1, tokensPer = 5, perTemplate = 2,
      universeOffset = 0).toDF("doc_id", "text")
    Seq((16, 0), (0, 4), (-4, 4)).foreach { case (k, bandsOf) =>
      val err = intercept[IllegalArgumentException](
        Dedup.bandBucketSizes(docs, "doc_id", "text", k, bandsOf))
      assert(err.getMessage.contains("k and bandsOf must be positive"), err.getMessage)
    }
    val uneven = intercept[IllegalArgumentException](
      Dedup.bandBucketSizes(docs, "doc_id", "text", 16, 5))
    assert(uneven.getMessage.contains("k must divide into bands evenly"), uneven.getMessage)
    val pairs = intercept[IllegalArgumentException](
      Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 5, Threshold))
    assert(pairs.getMessage.contains("k must divide into bands evenly"), pairs.getMessage)
    // a valid banding still histograms: 2 docs x 4 bands
    assert(Dedup.bandBucketSizes(docs, "doc_id", "text", 16, 4)
      .agg(sum(col("size"))).first().getLong(0) == 8L)
  }

  test("plan-only laziness requires candidateBudget=None; the default guards eagerly") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = corpus(nTemplates = 4, tokensPer = 12, perTemplate = 3,
      universeOffset = 0).toDF("doc_id", "text")
    def jobsDuring(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    // force full analysis + physical planning, no action. Since round
    // 15 the DEFAULT path runs the scale guard's bucket-count job at
    // construction; zero-job planning is the explicit opt-out.
    val cold = jobsDuring {
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
        candidateBudget = None).queryExecution.executedPlan
    }
    assert(cold == 0, s"plan-only call (budget off) ran $cold jobs")
    // positive controls: the same measurement sees the default guard's
    // count job and Auto's probe jobs, so the zero above is a real
    // zero, not a broken listener
    val guarded = jobsDuring {
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold)
        .queryExecution.executedPlan
    }
    assert(guarded > 0, "the default candidateBudget should measure at plan time")
    val probed = jobsDuring {
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
        LshEncoding.Auto, candidateBudget = None).queryExecution.executedPlan
    }
    assert(probed > 0, "Auto should run its stats probe at plan time")
  }

  test("candidateBudget scale guard fails by name on hot uncapped banding") {
    // forty byte-identical docs: every band bucket holds all 40 rows,
    // so candidate volume = 4 bands x C(40,2) = 3120 — past a 100-pair
    // budget the call must fail BY NAME with the dial in the message,
    // before any pair join is built
    val docs = (1 to 40).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val err = intercept[ScaleGuardException](
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
        candidateBudget = Some(100L)))
    assert(err.getMessage.contains("maxBucketSize") &&
      err.getMessage.contains("candidateBudget") &&
      err.getMessage.contains("3120"), err.getMessage)
    // round-16 verdict item 7: the error names the hot buckets — here
    // every band holds all 40 docs, so the top offenders read ~780
    // (= C(40,2)) pairs each
    assert(err.getMessage.contains("band") &&
      err.getMessage.contains("~780 pairs"), err.getMessage)
    // a capped call never measures: the same tiny budget is ignored
    // because the cap already bounds the volume
    assert(Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
      maxBucketSize = Some(8), candidateBudget = Some(1L)).count() >= 0)
    // explicit opt-out runs the exact uncapped plan
    assert(Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
      candidateBudget = None).count() == 40L * 39 / 2)
    // the default budget clears gate-scale corpora untouched
    assert(Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold)
      .count() == 40L * 39 / 2)
    // nearDedup passes the budget through to its LSH stage
    val err2 = intercept[ScaleGuardException](
      Dedup.nearDedup(docs, "doc_id", "text", K, BandRows, Threshold,
        candidateBudget = Some(100L)))
    assert(err2.getMessage.contains("maxBucketSize"))
  }

  test("one candidate budget: sf1 clears, q62 sfg3 trips, wall is quoted") {
    // one budget for every encoding (the guard runs before Auto
    // resolves): ten minutes of merge-walk wall at the verifier's
    // measured rate. sf1's measured 1.1e9 candidates (≈385 s) still
    // clear it; q62's sfg3 half-corpus leg (2.9e9, the 1010 s run a
    // 5e9 count budget waved through — r16 verdict item 2) trips it
    assert(Dedup.DefaultCandidateBudget == 1714285714L)
    assert(Dedup.DefaultCandidateBudget == (600e9 / Dedup.CandidateWallNanos).toLong)
    assert(Dedup.DefaultCandidateBudget > 1100000000L,
      s"sf1's 1.1e9 must still clear: ${Dedup.DefaultCandidateBudget}")
    assert(Dedup.DefaultCandidateBudget < 2900000000L,
      s"q62's sfg3 2.9e9 must trip: ${Dedup.DefaultCandidateBudget}")
    // the guard's failure message quotes the estimated wall alongside
    // the count, plus the rate it used
    val docs = (1 to 40).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val err = intercept[ScaleGuardException](
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
        candidateBudget = Some(100L)))
    assert(err.getMessage.contains("estimated") &&
      err.getMessage.contains("wall") &&
      err.getMessage.contains("ns/candidate"), err.getMessage)
    // Matching's guard quotes the same wall form at its own scorer rate
    val offers = Seq((1L, 1L, 1L, Seq(1L), 50000.0, "senior"))
      .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
        "salaire_max", "niveau_experience")
    val cvs = (1 to 40).map(i => (i.toLong, 1L, 1L, Seq(1L), 40000.0, 5))
      .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
        "competences_ids", "salaire_souhaite", "annees_experience")
    val err3 = intercept[ScaleGuardException](
      graft.matching.Matching.score(offers, cvs, pairBudget = Some(10L)))
    assert(err3.getMessage.contains("estimated") &&
      err3.getMessage.contains("ns/pair"), err3.getMessage)
  }

  test("cross-product bound short-circuits the guard's histogram job") {
    // round-16 verdict item 3: nBands*C(n,2) from one column-pruned
    // count bounds the banded volume; when it clears the budget the
    // cascade-deriving histogram must not run. 40 identical docs,
    // nBands = 4: bound = 4*780 = 3120.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = (1 to 40).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    def jobsDuring(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    // bound 3120 <= budget 3120 -> skip: construction runs only the
    // guard's bare count, never the tokenize/minhash histogram — pin
    // it as "exactly the jobs a plain df.count() costs"
    val countJobs = jobsDuring { docs.count() }
    val skipJobs = jobsDuring {
      Dedup.minhashLshPairs(docs, "doc_id", "text", K, BandRows, Threshold,
        candidateBudget = Some(3120L)).queryExecution.executedPlan
    }
    assert(skipJobs == countJobs,
      s"bound-cleared construction ran $skipJobs jobs vs $countJobs for a bare count")
    // two 20-doc groups: measured = 4 bands * 2 * C(20,2) = 1520, but the
    // bound 4*C(40,2) = 3120 does NOT clear a 2000 budget -> the
    // histogram still runs (more jobs) and the call proceeds quietly
    val docs2 = (1 to 40).map(i => (i.toLong,
      if (i <= 20) "alpha beta gamma delta epsilon" else "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val measureJobs = jobsDuring {
      Dedup.minhashLshPairs(docs2, "doc_id", "text", K, BandRows, Threshold,
        candidateBudget = Some(2000L)).queryExecution.executedPlan
    }
    assert(measureJobs > skipJobs,
      s"bound-exceeded construction ran $measureJobs jobs — the histogram should have run")
    // and the same call's output is the exact uncapped pair set
    assert(Dedup.minhashLshPairs(docs2, "doc_id", "text", K, BandRows, Threshold,
      candidateBudget = Some(2000L)).count() == 2L * (20L * 19 / 2))
  }
}
