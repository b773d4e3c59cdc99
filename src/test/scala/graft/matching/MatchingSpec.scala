package graft.matching

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

/** FIXTURES §4 oracle cases for the spec-derived matching score. */
class MatchingSpec extends AnyFunSuite {
  import spark.implicits._

  private def offers = Seq(
    // offre_id, loc, sect, competences_ids, salaire_max, niveau
    ("JOB_PERFECT", "LOC_ABIDJAN", "SECT_TECH",
      Seq("COMP_python", "COMP_sql", "COMP_docker"), 800000L, "Senior"),
    ("JOB_SKILLS_ONLY", "LOC_BOUAKE", "SECT_TECH",
      Seq("COMP_python", "COMP_sql", "COMP_docker"), 100000L, "Débutant"),
    ("JOB_NO_OVERLAP", "LOC_DALOA", "SECT_AGRO",
      Seq("COMP_cacao"), 100000L, "Débutant"))
    .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
      "salaire_max", "niveau_experience")

  private def cvs = Seq(
    ("CV_1", "LOC_ABIDJAN", "SECT_TECH",
      Seq("COMP_python", "COMP_sql", "COMP_docker"), 700000.0, 6L))
    .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
      "competences_ids", "salaire_souhaite", "annees_experience")

  test("perfect match scores 1.0; partial and zero-overlap ranked below") {
    val scores = Matching.score(offers, cvs,
      Some(java.sql.Timestamp.valueOf("2025-12-04 03:00:00")))
    val byJob = scores.collect().map(r =>
      r.getAs[String]("job_id") -> r.getAs[Double]("match_score")).toMap
    assert(byJob("JOB_PERFECT") == 1.0)
    // skills 1.0*0.4 + loc 0 + salary (100000/700000)*0.2 + exp(Débutant,6y:
    // dist 4 -> 0.2)*0.2
    assert(math.abs(byJob("JOB_SKILLS_ONLY") -
      (0.4 + 0.2 * 100000.0 / 700000.0 + 0.2 * 0.2)) < 1e-6)
    // JOB_NO_OVERLAP shares no block key with CV_1 -> not even a candidate
    assert(!byJob.contains("JOB_NO_OVERLAP"))
  }

  test("r17 scorer hoist edges: duplicate skills, null skills, null years") {
    // pins the staged-side hoisting (array_distinct per CV, o_lo/o_hi
    // per offer): duplicates must not deflate/inflate the ratio, null
    // CV skills score 0, 'Non spécifié' matches null years at 1.0
    // while a real level docks them to 0 — the exact clause order the
    // per-pair form had
    val o = Seq(
      ("O1", "L1", "S1", Seq("X", "X", "Y"), 100000L, "Non spécifié"),
      ("O2", "L2", "S1", Seq("X"), 100000L, "Senior"))
      .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
        "salaire_max", "niveau_experience")
    val c = Seq(
      ("C1", "L1", "S1", Option(Seq("X", "X")), 100000.0, Option.empty[Long]),
      ("C2", "L9", "S1", Option.empty[Seq[String]], 100000.0, Option.empty[Long]))
      .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
        "competences_ids", "salaire_souhaite", "annees_experience")
    val byPair = Matching.score(o, c, None).collect()
      .map(r => (r.getAs[String]("job_id"), r.getAs[String]("candidate_id")) ->
        r.getAs[Double]("match_score")).toMap
    // O1xC1: skill |{X,Y}∩{X}|/|{X}|=1 -> .4; loc 1 -> .2; sal 1 -> .2;
    // exp 'Non spécifié' beats null years -> .2 => 1.0
    assert(byPair(("O1", "C1")) == 1.0)
    // O2xC1: skill 1 -> .4; loc 0; sal 1 -> .2; exp Senior + null years -> 0
    assert(math.abs(byPair(("O2", "C1")) - 0.6) < 1e-9)
    // O1xC2: null CV skills -> 0; loc 0; sal 1 -> .2; exp 1.0 -> .2
    assert(math.abs(byPair(("O1", "C2")) - 0.4) < 1e-9)
    // O2xC2: null skills 0; loc 0; sal .2; exp 0
    assert(math.abs(byPair(("O2", "C2")) - 0.2) < 1e-9)
  }

  test("top-k per candidate ranks by score") {
    val scores = Matching.score(offers, cvs, None)
    val top = Matching.topKPerCandidate(scores, 1).collect()
    assert(top.length == 1 && top.head.getAs[String]("job_id") == "JOB_PERFECT")
  }

  test("maxBlockSize caps the degenerate-block pair explosion") {
    // the dirty-data shape: 50% of offers unclassified (one sector
    // block), 50% of CVs unplaced -> uncapped, that block alone is
    // |offers| x |cvs| = 40*40 pairs; location keys all distinct so the
    // union's second leg contributes nothing
    def offersN = (1 to 80).map(i => (s"J$i", s"LOC_O$i",
        if (i <= 40) "SECT_INCONNU" else s"SECT_$i",
        Seq("COMP_x"), 100000L, "Débutant"))
      .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
        "salaire_max", "niveau_experience")
    def cvsN = (1 to 80).map(i => (s"C$i", s"LOC_C$i",
        if (i <= 40) "SECT_INCONNU" else s"SECT_CV$i",
        Seq("COMP_x"), 100000.0, 2L))
      .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
        "competences_ids", "salaire_souhaite", "annees_experience")
    val uncapped = Matching.score(offersN, cvsN, None).count()
    assert(uncapped == 40L * 40L)
    // cap 10: 4 sub-blocks per side, same-index pairing -> 4 * 10*10
    val capped = Matching.score(offersN, cvsN, None, maxBlockSize = Some(10)).count()
    assert(capped == 4L * 10L * 10L)
    // every capped pair is a real pair (cap only DROPS, never invents)
    val cappedPairs = Matching.score(offersN, cvsN, None, maxBlockSize = Some(10))
      .select("job_id", "candidate_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val allPairs = Matching.score(offersN, cvsN, None)
      .select("job_id", "candidate_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cappedPairs.subsetOf(allPairs))
  }

  test("pairBudget scale guard fails by name on an uncapped pair explosion") {
    // the degenerate-block shape again: 40x40 SECT_INCONNU = 1600
    // estimated pairs — a 1000-pair budget must fail BY NAME with the
    // measured volume and the dial in the message, at construction,
    // before any quadratic join runs
    def offersN = (1 to 80).map(i => (s"J$i", s"LOC_O$i",
        if (i <= 40) "SECT_INCONNU" else s"SECT_$i",
        Seq("COMP_x"), 100000L, "Débutant"))
      .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
        "salaire_max", "niveau_experience")
    def cvsN = (1 to 80).map(i => (s"C$i", s"LOC_C$i",
        if (i <= 40) "SECT_INCONNU" else s"SECT_CV$i",
        Seq("COMP_x"), 100000.0, 2L))
      .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
        "competences_ids", "salaire_souhaite", "annees_experience")
    val err = intercept[graft.operators.ScaleGuardException](
      Matching.score(offersN, cvsN, None, pairBudget = Some(1000L)))
    assert(err.getMessage.contains("maxBlockSize") &&
      err.getMessage.contains("pairBudget") &&
      err.getMessage.contains("1600"), err.getMessage)
    // the error names the exploding block (round-16 verdict item 7):
    // "which key melted" is the first question the message must answer
    assert(err.getMessage.contains("SECT_INCONNU"), err.getMessage)
    // a capped call never measures: the cap bounds the volume
    assert(Matching.score(offersN, cvsN, None, maxBlockSize = Some(10),
      pairBudget = Some(1L)).count() == 4L * 10L * 10L)
    // explicit opt-out runs the exact plan; the default budget clears
    // gate-scale corpora untouched
    assert(Matching.score(offersN, cvsN, None, pairBudget = None).count() == 1600L)
    assert(Matching.score(offersN, cvsN, None).count() == 1600L)
  }

  test("cross-product bound short-circuits the guard's measurement job") {
    // round-16 verdict item 3: 2*N_o*N_c from the staged parquet
    // footers bounds the blocked volume; when it clears the budget the
    // per-block aggregate must not run — construction is exactly the
    // two staging writes. When the bound does NOT clear, the aggregate
    // still runs (and a measured volume under budget proceeds).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def offersN = (1 to 80).map(i => (s"J$i", s"LOC_O$i",
        if (i <= 40) "SECT_INCONNU" else s"SECT_$i",
        Seq("COMP_x"), 100000L, "Débutant"))
      .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
        "salaire_max", "niveau_experience")
    def cvsN = (1 to 80).map(i => (s"C$i", s"LOC_C$i",
        if (i <= 40) "SECT_INCONNU" else s"SECT_CV$i",
        Seq("COMP_x"), 100000.0, 2L))
      .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
        "competences_ids", "salaire_souhaite", "annees_experience")
    def jobsDuring(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    // bound = 2*80*80 = 12800 <= default 1e8 -> skip: construction
    // runs exactly as many jobs as a guard-disabled call (the staging
    // writes) — the footer counts are driver-side metadata reads, so a
    // bound-cleared guard adds ZERO jobs
    val noneJobs = jobsDuring { Matching.score(offersN, cvsN, None, pairBudget = None) }
    val skipJobs = jobsDuring { Matching.score(offersN, cvsN, None) }
    assert(skipJobs == noneJobs,
      s"bound-cleared construction ran $skipJobs jobs vs $noneJobs guard-disabled")
    // bound 12800 > budget 5000 -> the aggregate runs (more jobs than
    // staging alone) and the measured 1600 <= 5000 proceeds quietly
    var scored: org.apache.spark.sql.DataFrame = null
    val measureJobs = jobsDuring {
      scored = Matching.score(offersN, cvsN, None, pairBudget = Some(5000L))
    }
    assert(measureJobs > skipJobs,
      s"bound-exceeded construction ran $measureJobs jobs — the aggregate should have run")
    assert(scored.count() == 1600L)
  }

  test("cap never invents null-block pairs the exact path excludes") {
    // a NULL sector on both sides: the uncapped equi-join drops them,
    // so the capped path must too — capBlocks gives nulls their own
    // capped block (right for dedup), but a match equi-join must not
    // pair null with null (capped ⊆ exact stays the invariant)
    def offersN = Seq(("J1", "L1", null: String, Seq("COMP_x"), 100000L, "Débutant"),
        ("J2", "L2", "S1", Seq("COMP_x"), 100000L, "Débutant"))
      .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
        "salaire_max", "niveau_experience")
    def cvsN = Seq(("C1", "L9", null: String, Seq("COMP_x"), 100000.0, 2L),
        ("C2", "L8", "S1", Seq("COMP_x"), 100000.0, 2L))
      .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
        "competences_ids", "salaire_souhaite", "annees_experience")
    val exact = Matching.score(offersN, cvsN, None)
      .select("job_id", "candidate_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val capped = Matching.score(offersN, cvsN, None, maxBlockSize = Some(10))
      .select("job_id", "candidate_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(exact == Set(("J2", "C2")))
    assert(capped == exact, s"capped path invented pairs: ${capped -- exact}")
  }

  test("blocked candidates are duplicate-free and equal the distinct union of both block joins") {
    // overlapping sector and location blocks, null sectors and null
    // locations on both sides, and pairs whose sectors are both null
    // but whose locations match — only the location join may emit
    // those. Long ids so the hashed sub-block mode applies.
    val offersN = (1L to 12L).map(i => (i,
        if (i % 7 == 0) null else s"L${i % 3}", if (i % 5 == 0) null else s"S${i % 2}",
        Seq("COMP_x"), 100000L, "Débutant"))
      .toDF("offre_id", "localisation_id", "secteur_id", "competences_ids",
        "salaire_max", "niveau_experience")
    val cvsN = (101L to 114L).map(i => (i,
        if (i % 6 == 0) null else s"L${i % 3}", if (i % 4 == 0) null else s"S${i % 2}",
        Seq("COMP_x"), 100000.0, 2L))
      .toDF("cv_id", "localisation_souhaitee_id", "secteur_souhaite_id",
        "competences_ids", "salaire_souhaite", "annees_experience")
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the q50/q95/q101 oracles' `cand` CTE: each block join on its
    // (sub-)block key over non-null keys, unioned, distinct
    def blockPairs(cap: Option[Int], hashed: Boolean): (Set[(Long, Long)], Set[(Long, Long)]) = {
      def keyed(side: org.apache.spark.sql.DataFrame, key: String, id: String) = {
        val nonNull = side.where(col(key).isNotNull)
        (cap match {
          case None => nonNull.withColumn("__capped_block", col(key))
          case Some(m) if hashed =>
            graft.operators.Skew.capBlocksHashed(nonNull, col(key), col(id), m)
          case Some(m) => graft.operators.Skew.capBlocks(nonNull, col(key), col(id), m)
        }).select(col(id), col("__capped_block"))
      }
      def blockJoin(oKey: String, cKey: String) = pairs(
        keyed(offersN, oKey, "offre_id")
          .join(keyed(cvsN, cKey, "cv_id").withColumnRenamed("__capped_block", "__cb_c"),
            col("__capped_block") === col("__cb_c"))
          .select("offre_id", "cv_id"))
      (blockJoin("secteur_id", "secteur_souhaite_id").toSet,
        blockJoin("localisation_id", "localisation_souhaitee_id").toSet)
    }
    // the fixture reaches the cases it is for: offer 5 and CV 104 have
    // null sectors and share L2; sector and location pairs overlap
    val (sector, location) = blockPairs(None, hashed = false)
    assert(location.contains((5L, 104L)) && !sector.contains((5L, 104L)))
    assert((sector intersect location).nonEmpty)
    Seq((None, false), (Some(2), false), (Some(2), true)).foreach { case (cap, hashed) =>
      val got = pairs(Matching.score(offersN, cvsN, None, maxBlockSize = cap,
        hashedSubBlocks = hashed).select("job_id", "candidate_id"))
      assert(got.size == got.distinct.size,
        s"cap=$cap hashed=$hashed emitted duplicate pairs: ${got.diff(got.distinct)}")
      val want = { val (s, l) = blockPairs(cap, hashed); s ++ l }
      assert(got.toSet == want, s"cap=$cap hashed=$hashed: missing " +
        s"${want -- got.toSet}, extra ${got.toSet -- want}")
    }
  }

  test("component functions handle nulls") {
    val df = Seq((null: Seq[String], Seq("COMP_x"), null: java.lang.Long,
      null: java.lang.Double)).toDF("os", "cs", "omax", "want")
    val r = df.select(
      Matching.skillMatchPct($"os", $"cs"),
      Matching.salaryMatchPct($"omax", $"want")).first()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
  }

  test("salary clamps at 0 for dirty offers; 'Non spécifié' matches unparsed CVs") {
    val df = Seq((-100.0, 50000.0)).toDF("omax", "want")
    assert(df.select(Matching.salaryMatchPct($"omax", $"want")).first().getDouble(0) == 0.0)
    // an offer that doesn't care about experience must score 1.0 even
    // when the CV's years never parsed (CvIngest emits null there)
    val exp = Seq(("Non spécifié", null: java.lang.Long), (null: String, null: java.lang.Long),
        ("Senior", null: java.lang.Long))
      .toDF("level", "years")
      .select(Matching.experienceMatchPct($"level", $"years")).collect().map(_.getDouble(0))
    assert(exp.toSeq == Seq(1.0, 1.0, 0.0))
  }
}
