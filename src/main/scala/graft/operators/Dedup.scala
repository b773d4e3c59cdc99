package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus deduplication operators for large-scale training-data
  * pipelines: exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB): every operator is blocking-based — no global
  * O(n^2). Exact dedup is one hash shuffle on the digest. MinHash-LSH
  * shuffles once on (band index, band key) so only same-bucket rows
  * meet ([[Blocking]]); candidate verification reads the token sets
  * (or their bitmaps) carried through that join, with no join-back.
  * SimHash is an explode + map-side-combined sum per (doc, bit). Skewed
  * buckets (e.g. boilerplate-heavy corpora) split under AQE skew-join
  * handling; pathological buckets can additionally be capped: an id
  * rank window per band key splits each bucket into sub-buckets of at
  * most `maxBucketSize` rows ([[Skew.capBlocks]]).
  */
/** Physical token-set encoding for [[Dedup.minhashLshPairs]]'
  * candidate-verification stage. The choice is purely physical — all
  * encodings produce identical pairs. */
sealed trait LshEncoding {

  /** Measured end-to-end WALL nanoseconds per verified candidate pair
    * on the 32-core reference box — the translation the scale guard
    * uses to convert a candidate COUNT into estimated wall (round-16
    * verdict item 2: a pure pair-count budget admitted ~300x wall
    * variance across encoding tiers). Amortized over the whole
    * operator (banding shuffle included), so small runs underfill it;
    * at guard-relevant volumes (1e9+) the verification term dominates
    * and the rate is stable: the bitmap tier measured ~36 ns/candidate
    * (sf1: 1.1e9 candidates → 40 s), the merge-walk tier ~350 ns wall
    * (~8 µs CPU — q62's sfg3 half-corpus leg: 2.9e9 → 1010 s wall /
    * 23,467 CPU-s; SCALE.md round 16). */
  def nanosPerCandidate: Long
}
object LshEncoding {

  /** Sorted-token-array merge-walk verification: no corpus statistics
    * needed, so plan construction runs ZERO Spark jobs (schema-only and
    * explain callers pay nothing). The right default at scale — a
    * 100 TB corpus is never small-vocabulary, and probing it to learn
    * that would cost a full stats pass. */
  case object MergeWalk extends LshEncoding {
    val nanosPerCandidate: Long = 350L
  }

  /** Probe corpus statistics at plan-construction time (one
    * approx_count_distinct partial-agg pass, plus an exact distinct
    * collect only when the sketch says the universe is tiny) and pick
    * the bitmap encoding when it fits. Opt-in because the probe runs
    * 1-2 eager Spark jobs when the plan is BUILT: right for small and
    * medium corpora driven straight into an action, wrong for
    * plan-only callers and for corpora known to be open-vocabulary. */
  case object Auto extends LshEncoding {
    /** Conservative: the scale guard runs BEFORE the stats probe
      * resolves Auto, so it must assume the slow tier — a guard that
      * assumed the bitmap rate would wave through a merge-walk
      * resolution ~10x over its wall budget. */
    val nanosPerCandidate: Long = MergeWalk.nanosPerCandidate
  }

  /** Dictionary-encode token sets against a known vocabulary of
    * mod-P token hashes (sorted ascending). Contract: `vocab` must
    * cover every token in the corpus — unknown tokens would silently
    * drop out of the bitmaps. What [[Auto]] resolves to. */
  private[operators] final case class Bitmap(vocab: Array[Long]) extends LshEncoding {
    val nanosPerCandidate: Long = 36L
  }
}

object Dedup {

  /** Exact dedup: group identical `textCol` bodies by md5 digest and
    * keep the smallest id as survivor. One shuffle on the digest. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull) // md5(NULL)=NULL would fuse all null docs
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-document MinHash signature (k permutations over the distinct
    * lowercase-alpha token set). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol),
        transform(tokenSet(col(textCol)), t => tokenHashMod(t)).as("__h"))
      .select(col(idCol), minhashFromHashes(col("__h"), k).as("sig"))

  // ---- shared LSH banding machinery: the self-join
  // ([[minhashLshPairs]]) and incremental ([[incrementalLshPairs]])
  // paths must emit IDENTICAL candidate sets, so the token prep, band
  // keys and parameter checks are defined exactly once here, and the
  // first-band-wins pairing once in [[Blocking]] ----

  /** The band count k / bandsOf, after the preconditions both pair
    * operators share. */
  private def bandCount(k: Int, bandsOf: Int, threshold: Double): Int = {
    require(k > 0 && bandsOf > 0, s"k and bandsOf must be positive, got k=$k, bandsOf=$bandsOf")
    require(k % bandsOf == 0, "k must divide into bands evenly")
    // the degenerate-doc prune in lshToks is output-neutral only for a
    // positive threshold (empty-vs-empty token sets score 0.0, which a
    // t = 0.0 caller would have kept) — enforce the precondition
    require(threshold > 0, "threshold must be > 0 (no-token docs are pruned before banding)")
    k / bandsOf
  }

  /** id + sorted distinct mod-P token hashes. Hash each distinct token
    * ONCE; signatures and the verification Jaccard both work over the
    * int64 hashes, re-distincted AFTER hashing (the 31-bit ring can
    * collide within a document, and sortedJaccard requires set
    * semantics — matching the oracle's list_distinct). Kept sorted for
    * the codegen'd merge-walk Jaccard. */
  private def lshToks(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Engine.spread(
      df.select(col(idCol).as("id"), col(textCol).as("__text"))
        // No-token docs (null/empty/whitespace text) can never clear a
        // POSITIVE jaccard threshold (null text -> NULL jaccard, and
        // empty-vs-empty scores 0.0, so both fail `>= t` for t > 0 —
        // which is why the pair generators require threshold > 0), but
        // their all-null minhash sig bands to concat_ws("") — so EVERY
        // degenerate doc in the corpus lands in ONE bucket and the
        // candidate join goes O(D^2) on them before the verify filter
        // drops each pair. At crawl scale null/boilerplate-stripped-empty
        // docs are a few percent of the corpus: prune them BEFORE banding
        // (outputs unchanged given t > 0 — they only ever produced doomed
        // candidates). The predicate is the cheap equivalent of
        // size(toks) > 0: tokens = length>0 pieces of split(lower(text),
        // "[^a-z]+"), so the token set is nonempty iff lower(text)
        // contains an [a-z] char (hash/distinct/sort preserve
        // nonemptiness; rlike NULL -> NULL -> dropped). The size(toks)
        // form re-inlined the WHOLE tokenize+hash cascade into the scan
        // filter via predicate pushdown — one extra cascade evaluation
        // per row per consumer (r18 plan capture).
        .where(lower(col("__text")).rlike("[a-z]")))
      // Spread the RAW rows BEFORE the cascade projection, not after:
      // repartition of the projected stream executes the projection
      // below the exchange, i.e. at the SCAN's parallelism — on a
      // single-file corpus the whole tokenize+minhash cascade ran in
      // ONE task per consumer (r18 stage capture: 4 sequential ~0.5 s
      // single-task stages at sf0.1 = most of q18's cost). Spreading
      // (id, text) first puts every consumer's cascade in the
      // post-exchange stage at full parallelism; the exchange carries
      // the raw text once per consumer, the same size class the old
      // post-cascade spread shuffled anyway.
      .select(col("id"), sort_array(array_distinct(
        transform(tokenSet(col("__text")), t => tokenHashMod(t)))).as("toks"))

  /** The nBands band-key strings of a k-long `sig` column. */
  private def bandKeys(sig: Column, nBands: Int, bandsOf: Int): Seq[Column] =
    (0 until nBands).map { b =>
      concat_ws("_", (0 until bandsOf).map(r =>
        element_at(sig, b * bandsOf + r + 1).cast("string")): _*)
    }

  /** Band-sharing candidate pairs of two (id, sig, `carried`…) frames,
    * one [[Blocking]] construction over their nBands band keys: each
    * pair once, at its first band whose (capped) keys match. Columns
    * come back suffixed `_a` / `_b`; the caller orients or excludes
    * self-pairs. */
  private def bandPairs(a: DataFrame, b: DataFrame, nBands: Int, bandsOf: Int,
      carried: Seq[String], maxBucketSize: Option[Int]): DataFrame = {
    def side(df: DataFrame, s: String) =
      df.select((Seq("id", "sig") ++ carried).map(c => col(c).as(s"${c}_$s")): _*)
    Blocking.pairs(
      side(a, "a"), "id_a", bandKeys(col("sig_a"), nBands, bandsOf),
      side(b, "b"), "id_b", bandKeys(col("sig_b"), nBands, bandsOf),
      maxBucketSize)
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * bandsOf rows per band; docs sharing any full band become candidate
    * pairs; candidates are verified with exact token-set Jaccard >=
    * threshold. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * `encoding` picks the physical verification representation (see
    * [[LshEncoding]]); results are identical across encodings. The
    * default ([[LshEncoding.MergeWalk]]) builds the plan without
    * running any Spark job.
    *
    * `maxBucketSize` is the recall/cost dial for boilerplate-heavy
    * corpora: the degenerate-doc prune (see [[lshToks]]) removes the
    * no-token bucket bomb, but REAL template docs band together with
    * perfectly valid signatures, and one hot (band, key) bucket costs
    * O(bucket^2) comparisons. With a cap, each bucket is split by
    * deterministic id rank into sub-buckets of at most that size
    * ([[Skew.capBlocks]]) that only pair among themselves, bounding the
    * worst bucket at cap^2 comparisons. The output is the distinct
    * union of the capped band joins, a SUBSET of the exact output: a
    * pair is missed only when every band it shares splits it across
    * sub-buckets; nothing is added or duplicated, because a pair is
    * emitted at its first band whose CAPPED keys match ([[Blocking]]).
    * Default None = exact. The cap is one rank window per band over
    * every bucket; on the gate corpus (q103) most banded rows sit in
    * over-cap buckets (72.9 % at sf0.01, 88.7 % at sf0.1).
    *
    * `candidateBudget` is the SCALE GUARD on the UNCAPPED path
    * (round-15 verdict item 1): on boilerplate vocabularies band
    * buckets grow linearly with the corpus and in-bucket candidate
    * pairs super-linearly (q18 measured exponent 1.23, sf1 = 40 s /
    * ~1.1e9 candidates; the capped q103 form runs 6.7 s at exponent
    * 0.52). When no `maxBucketSize` is passed, the guard first bounds
    * the volume for FREE-ish (round-16 verdict item 3): buckets
    * partition the banded rows within each band, so the candidate
    * volume is at most nBands·C(n,2) for n input rows — one
    * column-pruned count() (the tokenize/minhash cascade prunes away)
    * settles it; when that bound clears the budget the histogram
    * measurement is skipped entirely (the pre-r16 always-on histogram
    * re-derived the cascade and roughly doubled q18's gate cost —
    * r15 ADVICE). Only past the bound does one count job over the band
    * histogram ([[bandBucketSizes]]) measure the exact
    * sum(C(bucket, 2)); past the budget the call fails BY NAME
    * ([[ScaleGuardException]]) quoting the volume, the ESTIMATED WALL
    * it implies at this encoding tier's measured per-candidate rate,
    * the top-3 offending (band, key) buckets, and the dial. The
    * default (5e9) passes sf1 with 4.5x margin and trips at sf3 on
    * this vocabulary (measured 1.15e10 — r16 sweep).
    *
    * `wallBudgetSeconds` closes the count budget's 300x per-encoding
    * wall latitude (round-16 verdict item 2): what a pair count admits
    * in WALL terms depends on the verification tier — ~36 ns/candidate
    * bitmap (sf1's 1.1e9 → 40 s) vs ~350 ns wall (~8 µs CPU) merge-walk
    * (q62's sfg3 half-corpus leg ran 1010 s LEGITIMATELY under the 5e9
    * count default — [[LshEncoding.nanosPerCandidate]]). The effective
    * guard bound is the tighter of the two budgets, each translated to
    * pairs via the encoding's rate ([[effectivePairBudget]]): the
    * default 600 s caps merge-walk shapes at ~1.7e9 pairs (sf1's 1.1e9
    * ≈ 385 s still clears) while leaving the bitmap tier count-bound
    * (600 s ≈ 1.7e10 > 5e9). [[LshEncoding.Auto]] is budgeted at the
    * merge-walk rate — the guard runs before the stats probe resolves
    * it, and assuming the fast tier would wave a merge-walk resolution
    * ~10x over its wall budget. `Some(moreSeconds)` raises it, `None`
    * removes the wall dimension; `candidateBudget = None` disables the
    * guard ENTIRELY (both dimensions — the deliberate exact-run
    * opt-out, e.g. tools/Sf3Sweep). A capped call
    * never measures. The
    * guard's histogram re-derives the cascade from `df` rather than
    * forcing the staged plan onto un-capped callers (staging is
    * measured a loss or neutral on short-text corpora, SCALE.md
    * round-8).
    *
    * EAGERNESS: with a cap this call runs Spark
    * jobs at CONSTRUCTION time, not first action — the tokenize/
    * minhash cascade is staged to scratch parquet immediately (the
    * plan consumes it several ways and ReuseExchange can't dedupe
    * the differently-pruned branches — see the inline note), and that
    * staging is all the capped path runs at construction (the cap
    * itself is a lazy rank window). Since round 15 the DEFAULT path
    * is eager too: the scale guard's count job
    * (plus, past the cross-product bound, its histogram job) runs at
    * construction whenever `candidateBudget` is set and no
    * cap is passed. Callers timing or caching this operator must treat
    * construction as part of its cost (Bench does: the timed window
    * opens before the query function is invoked). Plan-only laziness
    * requires `candidateBudget = None` (with no cap and a non-Auto
    * encoding).
    */
  val DefaultCandidateBudget: Long = 5000000000L

  /** Default wall budget for the scale guard (see `wallBudgetSeconds`
    * on [[minhashLshPairs]]): 10 minutes of estimated single-box wall
    * at the encoding's measured rate. Generous for an interactive
    * caller, far under the 20-30 min runs the bare count budget
    * admitted on merge-walk shapes (r16 sweep). */
  val DefaultWallBudgetSeconds: Double = 600.0

  /** The guard's effective pair bound: the tighter of the count budget
    * and the wall budget translated to pairs at the encoding's
    * measured per-candidate rate. `candidateBudget = None` disables
    * the guard entirely (exact-run opt-out); a wall-only `None` leaves
    * the count dimension. */
  private[operators] def effectivePairBudget(candidateBudget: Option[Long],
      wallBudgetSeconds: Option[Double], nanosPerCandidate: Long): Option[Long] =
    candidateBudget.map { b =>
      wallBudgetSeconds.fold(b) { w =>
        math.min(b, math.max(1L, (w * 1e9 / nanosPerCandidate).toLong))
      }
    }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, bandsOf: Int, threshold: Double,
      encoding: LshEncoding = LshEncoding.MergeWalk,
      maxBucketSize: Option[Int] = None,
      candidateBudget: Option[Long] = Some(DefaultCandidateBudget),
      wallBudgetSeconds: Option[Double] = Some(DefaultWallBudgetSeconds)): DataFrame = {
    val nBands = bandCount(k, bandsOf, threshold)
    // SCALE GUARD (uncapped path only). Cross-product short-circuit
    // first (round-16 verdict item 3): within one band the buckets
    // PARTITION the <=n banded rows, so Σ C(bucket,2) <= C(n,2) per
    // band and nBands·C(n,2) overall — one column-pruned count() of
    // the input (Catalyst prunes the tokenize/minhash cascade away)
    // bounds the banded volume from above. When even that bound clears
    // the budget, melt is impossible and the full cascade-deriving
    // histogram job is skipped — the pre-r16 always-on measurement
    // roughly doubled q18's gate cost (+55%, r15 ADVICE) and taxed
    // every nearDedup caller. Past the bound, the band histogram
    // measures the true volume; past the budget, fail by name quoting
    // the top offending buckets.
    if (maxBucketSize.isEmpty) effectivePairBudget(candidateBudget,
        wallBudgetSeconds, encoding.nanosPerCandidate).foreach { budget =>
      val n = BigInt(df.count())
      ScaleGuard.enforce(budget, BigInt(nBands) * n * (n - 1) / 2,
        bandBucketSizes(df, idCol, textCol, k, bandsOf)
          .select(col("band_idx"), col("band_key"),
            expr("size * (size - 1) div 2").as("__pairs")),
        "graft-lsh-guard", r => s"band ${r.getInt(0)} key ${r.getString(1)}") {
        (measured, top) =>
          s"Dedup.minhashLshPairs: uncapped banding would generate ~$measured " +
            s"candidate pairs, estimated " +
            s"${ScaleGuard.estimatedWall(measured, encoding.nanosPerCandidate)} wall at " +
            s"this encoding tier's measured ~${encoding.nanosPerCandidate} " +
            s"ns/candidate (effective budget $budget pairs = min of " +
            s"candidateBudget ${candidateBudget.mkString} and wallBudgetSeconds " +
            s"${wallBudgetSeconds.fold("none")(_.toString)} at that rate). " +
            s"Top band buckets by " +
            s"pair volume: $top. Hot band buckets grow " +
            "with the corpus on boilerplate vocabularies and in-bucket pairs " +
            "quadratically (sf1 measured exponent 1.23 uncapped vs 0.52 capped " +
            "— SCALE.md round 14). Pass maxBucketSize (the oracle-gated " +
            "recall/cost dial, q103), raise candidateBudget/wallBudgetSeconds, " +
            "or pass candidateBudget=None for a deliberate exact run."
      }
    }
    val toksRaw = lshToks(df, idCol, textCol)
    val sigsRaw = toksRaw.select(col("id"), col("toks"),
      minhashFromHashes(col("toks"), k).as("sig"))
    // Staging the tokenize/minhash cascade to scratch ONCE at call time
    // turns every consumer (both band-join sides, Auto's probe) into a
    // cheap parquet scan; SCALE.md round-8 measured it when two verify
    // join-backs were consumers too, whose differently-pruned
    // projections ReuseExchange could not dedupe. Done under a cap only; the
    // uncapped path stays lazy because staging lost on the short-text
    // gate corpus (q49 4.27 -> 5.38 s, q53 noise; SCALE.md round 8),
    // though heavy text inverted the trade (BucketCapProbe's long
    // documents).
    val staged = maxBucketSize.isDefined
    val sigs =
      if (staged) graft.Engine.spread(Scratch.stage(sigsRaw, "graft-lsh-sigs"))
      else sigsRaw
    val toks = if (staged) sigs.select(col("id"), col("toks")) else toksRaw

    // Candidate generation ([[bandPairs]]): one shuffle on (band
    // index, band key), each pair emitted only at its first band whose
    // (capped) keys match, so no quadratic-size distinct shuffle is
    // needed (on dense, template-heavy corpora candidates approach
    // all-pairs and that distinct dominated the whole operator).
    // Probe-side parallelism comes from
    // the spread inside lshToks (unstaged) or after the scratch read
    // (staged); a second spread here would re-shuffle the much wider
    // cascade output for nothing.
    //
    // Verification encoding is chosen from corpus statistics (the
    // adaptive-engine move: one cheap partial-agg pass decides the
    // physical set representation). A small distinct-token universe
    // dictionary-encodes each token SET into a few machine words
    // carried INLINE through the band join (per-candidate Jaccard = two
    // popcounts); open-vocabulary corpora carry the sorted token arrays
    // inline the same way for the merge-walk Jaccard — on the short-doc
    // gate corpus that read no slower than joining them back by id
    // (q56/q62/q103, SCALE.md round 22).
    def candidates(pre: DataFrame, carried: Seq[String]): DataFrame =
      bandPairs(pre, pre, nBands, bandsOf, carried, maxBucketSize)
        .where(col("id_a") < col("id_b"))
    def scored(cand: DataFrame, jaccard: Column): DataFrame =
      cand.select(col("id_a"), col("id_b"),
          graft.queries.roundSafe(jaccard, 6).as("jaccard"))
        .where(col("jaccard") >= threshold)

    def bitmap(vocab: Array[Long]): DataFrame =
      if (vocab.length <= 64) {
        // One machine word per set: Jaccard is entirely built-in bit
        // ops (bit_count of AND / OR), no array access on the hot path.
        val sigs1 = sigs
          .withColumn("__pos", positionsOf(col("toks"), vocab))
          .withColumn("mask", maskWord(col("__pos"), 0))
          .drop("__pos")
        val uni = bit_count(col("mask_a").bitwiseOR(col("mask_b")))
        val jac = when(uni === 0, 0.0).otherwise(
          bit_count(col("mask_a").bitwiseAND(col("mask_b"))).cast("double") /
            uni.cast("double"))
        scored(candidates(sigs1, Seq("mask")), jac)
      } else {
        // positions bound as a real column: CollapseProject keeps a
        // non-cheap expression referenced by every mask word from being
        // inlined w times (one dictionary scan per token, not per word)
        val w = (vocab.length + 63) / 64
        val sigsW = sigs
          .withColumn("__pos", positionsOf(col("toks"), vocab))
          .withColumn("mask", array((0 until w).map(j => maskWord(col("__pos"), j)): _*))
          .drop("__pos")
        scored(candidates(sigsW, Seq("mask")),
          graft.functions.ArrayOps.bitmapJaccard(col("mask_a"), col("mask_b")))
      }
    def mergeWalk: DataFrame =
      scored(candidates(sigs, Seq("toks")),
        graft.functions.ArrayOps.sortedJaccard(col("toks_a"), col("toks_b")))

    encoding match {
      case LshEncoding.MergeWalk => mergeWalk
      case LshEncoding.Bitmap(vocab) => bitmap(vocab)
      case LshEncoding.Auto => smallUniverse(toks) match {
        case Some(vocab) => bitmap(vocab)
        case None => mergeWalk
      }
    }
  }

  /** Diagnostic histogram of the banding stage of [[minhashLshPairs]]:
    * (band_idx, band_key, size) for every bucket. The input for sizing
    * a production `maxBucketSize` cap — candidate-join volume is
    * sum(C(size, 2)) over this table, so the recall/cost curve at any
    * cap is computable from it without re-running the operator
    * (BucketCapProbe, SCALE.md round-7). */
  private[graft] def bandBucketSizes(df: DataFrame, idCol: String,
      textCol: String, k: Int, bandsOf: Int): DataFrame = {
    // parallelism comes from lshToks' internal spread (the CLAUDE.md
    // single-split rule; ADVICE round-7) — the cascade, explode and
    // partial agg all run in the post-exchange stage
    lshToks(df, idCol, textCol)
      .select(col("id"), minhashFromHashes(col("toks"), k).as("sig"))
      .select(posexplode(array(bandKeys(col("sig"), k / bandsOf, bandsOf): _*))
        .as(Seq("band_idx", "band_key")))
      .groupBy("band_idx", "band_key").agg(count(lit(1)).as("size"))
  }

  /** Max dictionary size for the bitmap verification path: 4096 tokens
    * = 64-word (512 B) masks, comfortably under the merge-walk row
    * width for any corpus dense enough for bitmaps to win. */
  private val BitmapMaxVocab = 4096

  /** The corpus' distinct hashed-token universe, when small enough to
    * dictionary-encode. Gated by approx_count_distinct (one map-side
    * partial agg — the 100 TB-safe stats probe) so the exact
    * distinct-collect only runs when it is known to be tiny; 2x margin
    * covers the sketch's rsd. Runs 1-2 eager Spark jobs — which is why
    * it only executes under the opt-in [[LshEncoding.Auto]], never for
    * the default plan-only path. TWO jobs is BY DESIGN — do not fold
    * the approx gate and the exact collect into one pass, and do not
    * promote this eager probe into the default path: the sketch job is
    * what keeps the exact distinct-collect from ever running (and
    * OOMing the driver) on a large-vocabulary corpus. */
  private def smallUniverse(toks: DataFrame): Option[Array[Long]] = {
    val approx = toks.select(explode(col("toks")).as("h"))
      .agg(approx_count_distinct(col("h")).as("v"))
      .first().getLong(0)
    if (approx > 2L * BitmapMaxVocab) None
    else {
      val vs = toks.select(explode(col("toks")).as("h")).distinct()
        .collect().map(_.getLong(0)).sorted
      if (vs.length <= BitmapMaxVocab) Some(vs) else None
    }
  }

  /** 0-based dictionary positions of a token-hash set (sorted
    * dictionary; every token in `toksCol` MUST appear — both are
    * derived from the same rows). Bind this as a real column before
    * deriving mask words from it. */
  private def positionsOf(toksCol: Column, vocab: Array[Long]): Column =
    transform(toksCol, t => array_position(typedLit(vocab.toSeq), t) - 1)

  /** Word `j` of the dictionary bitmap, from bound positions. Pure
    * Column expressions, so the mask build stays in whole-stage
    * codegen. */
  private def maskWord(posCol: Column, j: Int): Column =
    aggregate(
      filter(posCol, p => p >= j * 64L && p < (j + 1) * 64L),
      lit(0L),
      (acc, p) => acc.bitwiseOR(
        call_function("shiftleft", lit(1L), (p - lit(j * 64L)).cast("int"))))

  /** Connected components over a near-duplicate pair graph — the step
    * that turns pairwise matches into dedup CLUSTERS (survivor = the
    * cluster's minimum id, the deterministic keep-one rule).
    *
    * Algorithm: Boruvka-style star contraction with pointer jumping.
    * Round 0 hooks every vertex onto min(self, min neighbor) — one
    * aggregation pass over the full edge set, no join — then each
    * round contracts the label graph and repeats hook + jump (label :=
    * label(label)) on it. The jump is what makes chain-shaped graphs
    * shrink geometrically instead of by one vertex per round. As soon
    * as the contracted graph fits under `driverFinishMaxEdges` it is
    * collected and closed exactly with a driver-side union-find — the
    * standard big-graph CC shape: a few distributed passes to shrink,
    * a single-node finish for the residual. There is no convergence
    * check; the loop exits on the size threshold (or maxIter as a
    * safety valve, after which the residual is collected regardless —
    * jumping makes that bound generous: 25 rounds cover 2^25-vertex
    * chains). An INPUT edge set already under the threshold skips the
    * distributed machinery entirely and is closed on the driver in one
    * pass (the daily-ingest root-graph and medium-corpus shape).
    *
    * Iteration state (label map + contracted edges) is staged through
    * [[Scratch]] each round (contracted-edge sizes from the staged
    * footers) — the standard checkpoint pattern for
    * iterative graph algorithms. Neither cache() nor localCheckpoint
    * works here: cache keeps the logical plan, whose self-joining tree
    * doubles per round (OOMs the driver just printing it), and
    * localCheckpoint inherits the pre-checkpoint SIZE ESTIMATE, which
    * join-stat products compound to astronomically-digited BigInts
    * across rounds (BigInteger math then dwarfs the actual work).
    * Parquet round-trips give clean leaves with real statistics; the
    * tables are vertex- and contracted-edge-sized.
    *
    * @param pairs edge list with columns (id_a, id_b); ids must be an
    *              integral type (cast up front, failing fast — a string
    *              id would otherwise ClassCastException mid-job in the
    *              residual collect). Hash string ids to longs (e.g.
    *              xxhash64) before clustering.
    * @return (id, cluster_id) for every vertex appearing in any pair
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      driverFinishMaxEdges: Long = DriverUnionFindMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    Seq("id_a", "id_b").foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents needs integral id columns; '$c' is ${dt.simpleString}. " +
          "Hash or cast ids to long before clustering.")
    }
    // The upstream pair generation (LSH) must run exactly ONCE: the
    // edge list is consumed by round-0 hook (twice, once per vertex
    // role) and round-0 contract, so leaving `pairs` lazy executes the
    // pair join once per consumer, and persisting still computes it to
    // fill the cache. Materializing the pairs to scratch parquet runs
    // the join once; every consumer then reads the (tiny,
    // stats-bearing) parquet — no cache to size, spill, or release.
    //
    // CANONICAL orientation (src <= dst) at the staging write, r18: the
    // old shape symmetrized (unioned both orientations of) the edge
    // list and ran hook + contract over 2|E| rows. Hooking each vertex
    // to min(self, min neighbor) only ever lowers a label via a SMALLER
    // neighbor, and canonical edges present every smaller neighbor on
    // the src side of exactly one row — so hook over (dst, src) plus a
    // null-padded (src, NULL) branch reads the same 2|E| rows the union
    // did, while contract and every later round run over |E| canonical
    // rows, half the old stream (guide §2.3 shuffle fewer bytes). The
    // when/otherwise form (not least/greatest, which SKIP nulls)
    // preserves null ids in place so out-of-contract null edges surface
    // exactly as before (collectPackedEdges fails by name).
    val cA = col("id_a").cast("long")
    val cB = col("id_b").cast("long")
    val flip = cB < cA
    val (pairs0, nInput) = Scratch.stageCounted(
      pairs.select(when(flip, cB).otherwise(cA).as("src"),
        when(flip, cA).otherwise(cB).as("dst")),
      "graft-cc-pairs0")

    // Small-graph fast path: the driver union-find finish exists for
    // residual graphs under `driverFinishMaxEdges` — when the INPUT
    // edge set is already under that cap (daily-ingest root graphs,
    // post-contraction re-clustering, medium corpora) the distributed
    // hook/jump/contract machinery is pure overhead: two cache fills,
    // a count and 4+ shuffling jobs to shrink a graph that fits in one
    // driver pass. Close it exactly on the driver now. The count is
    // metadata-only on the freshly staged parquet; the collect is the
    // same <=32 MB size class the residual finish already accepts.
    if (nInput <= driverFinishMaxEdges) {
      val uf = new UnionFind(collectPackedEdges(pairs0))
      return uf.labelFrame(spark)
    }

    // hook over CANONICAL edges: label(v) = min(v, min neighbor). All
    // out-neighbors of v are >= v (src <= dst), so only in-neighbors
    // (the src side of rows with dst = v) can lower the label —
    // min({v} ∪ in ∪ out) = min({v} ∪ in). The null-padded src branch
    // keeps every vertex in the output (vertices with no smaller
    // neighbor label themselves; min/least skip nulls), so the same
    // 2|E| rows the old symmetrized union aggregated flow through ONE
    // aggregation — but the expensive consumers below (contract, the
    // loop, the residual collect) see |E| canonical rows, not 2|E|.
    def hook(e: DataFrame): DataFrame = e
      .select(col("dst").as("id"), col("src").as("m"))
      .unionByName(e.select(col("src").as("id"), lit(null).cast("long").as("m")))
      .groupBy(col("id"))
      .agg(least(min(col("m")), col("id")).as("cluster_id"))
    // pointer jump: labels are vertex ids, so label-of-label composes
    // within the same table; chains halve per application
    def jump(lbl: DataFrame): DataFrame = lbl
      .join(lbl.select(col("id").as("cluster_id"), col("cluster_id").as("g")),
        Seq("cluster_id"), "left")
      .select(col("id"), coalesce(col("g"), col("cluster_id")).as("cluster_id"))
    // contract re-canonicalizes (least/greatest are safe here: labels
    // of joined vertices are never null), so every round's rep carries
    // each quotient edge exactly once
    def contract(e: DataFrame, lbl: DataFrame): DataFrame = e
      .join(lbl.select(col("id").as("src"), col("cluster_id").as("ls")), "src")
      .join(lbl.select(col("id").as("dst"), col("cluster_id").as("ld")), "dst")
      .select(least(col("ls"), col("ld")).as("src"),
        greatest(col("ls"), col("ld")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

    // Round 0 is parquet-materialized like the loop rounds (r18; the
    // old round-0 cache() pair planned its joins against UNFILLED
    // InMemoryRelations whose size estimates inherit the 2|E|-row
    // child, so the label-map joins planned as SortMergeJoin and AQE's
    // runtime downgrade still wrote a full shuffle of the edge stream
    // before reading it "locally"). Parquet leaves carry REAL stats:
    // a vertex-sized label table statically broadcast-joins (no edge
    // exchange at all), and a label table too big to broadcast at
    // cluster scale correctly plans as a shuffle join. Staging hook's
    // output also runs the 2|E|-row aggregation ONCE — the old
    // jump(hook(...)) self-join re-derived it per join side.
    val h0 = Scratch.stage(hook(pairs0), "graft-cc-h0")
    val map0 = Scratch.stage(jump(h0), "graft-cc-map0") // vertex -> label
    var mapping = map0
    // rep sizes come from the staged footers, not a count() job
    var (rep, repSize) = Scratch.stageCounted(contract(pairs0, map0), "graft-cc-rep0")
    var iter = 0
    while (repSize > driverFinishMaxEdges && iter < maxIter) {
      val h = Scratch.stage(hook(rep), s"graft-cc-h${iter + 1}")
      val b = Scratch.stage(jump(h), s"graft-cc-b${iter + 1}")
      mapping = Scratch.stage(mapping
        .join(b.select(col("id").as("cluster_id"), col("cluster_id").as("nl")),
          Seq("cluster_id"), "left")
        .select(col("id"), coalesce(col("nl"), col("cluster_id")).as("cluster_id")),
        s"graft-cc-map${iter + 1}")
      val (r, n) = Scratch.stageCounted(contract(rep, b), s"graft-cc-rep${iter + 1}")
      rep = r
      repSize = n
      iter += 1
    }
    // close the residual graph exactly on the driver. rep is CANONICAL
    // (each logical edge once), so the collect ships exactly the edges
    // union-find needs — the loop's cap counts logical edges, the same
    // 16-bytes-per-edge size class the input fast path above bounds
    // (2M edges = 32 MB packed).
    val residual = collectPackedEdges(rep)
    // only vertices whose label CHANGES go into the relabel map —
    // identity labels fall through the binary-search miss. The relabel
    // is a broadcast-VARIABLE lookup inside a projection, not a
    // broadcast JOIN: no hash-relation build over millions of boxed
    // rows, no exchange — two packed long arrays and a map-side UDF.
    val (keys, roots) = new UnionFind(residual).remappedPacked
    if (keys.isEmpty) mapping.select(col("id"), col("cluster_id"))
    else {
      val keysB = spark.sparkContext.broadcast(keys)
      val rootsB = spark.sparkContext.broadcast(roots)
      val relabel = udf((c: Long) => {
        val i = java.util.Arrays.binarySearch(keysB.value, c)
        if (i >= 0) rootsB.value(i) else c
      })
      mapping.select(col("id"), relabel(col("cluster_id")).as("cluster_id"))
    }
  }

  /** Pull an (src, dst) edge frame onto the driver as one packed long
    * array `[s0,d0,s1,d1,...]`. Rows become primitive chunks
    * EXECUTOR-side (parallel, nothing boxed crosses the collect), so
    * the driver's share is an array concat. This is the wall the old
    * `collect()` finish hit: single-threaded InternalRow->Row
    * deserialization measured costlier than the distributed
    * contraction rounds it replaced once past ~2M edges (round-6
    * probe) — packed chunks move that cost onto the executors and
    * raise the economical driver-finish cap (SCALE.md round-7). */
  private def collectPackedEdges(df: DataFrame): Array[Long] = {
    val chunks = df.select(col("src"), col("dst"))
      .queryExecution.toRdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        while (it.hasNext) {
          val r = it.next()
          // InternalRow.getLong reads null as 0 — which would union a
          // phantom vertex 0 into a real component. The old
          // Row-collect finish threw on nulls; keep failing fast.
          require(!r.isNullAt(0) && !r.isNullAt(1),
            "connectedComponents: null edge id (drop or impute nulls before clustering)")
          b += r.getLong(0); b += r.getLong(1)
        }
        Iterator.single(b.result())
      }.collect()
    // sum as Long: past ~1.07G packed longs an Int sum wraps negative
    // and the alloc throws NegativeArraySizeException instead of naming
    // the real problem (unreachable at the 2M default cap, reachable
    // through the env override)
    val out = new Array[Long](packedTotalLongs(chunks.iterator.map(_.length)))
    var off = 0
    chunks.foreach { c => System.arraycopy(c, 0, out, off, c.length); off += c.length }
    out
  }

  /** Total packed-array length with the overflow guards the alloc
    * needs (seam for ConnectedComponentsSpec — the real failure needs
    * >16 GB of edges): the lengths are summed as LONG (past ~1.07G
    * packed longs an Int sum wraps negative and the alloc throws
    * NegativeArraySizeException instead of naming the real problem —
    * unreachable at the 2M default cap, reachable through the env
    * override), and the bound is Int.MaxValue - 8, not Int.MaxValue:
    * HotSpot's actual array-length ceiling sits a few header words
    * below 2^31-1, so an allocation in the gap dies as
    * OutOfMemoryError("Requested array size exceeds VM limit") instead
    * of this named error. */
  private[graft] def packedTotalLongs(chunkLengths: Iterator[Int]): Int = {
    val total = chunkLengths.foldLeft(0L)((acc, len) => acc + len)
    require(total <= Int.MaxValue - 8,
      s"connectedComponents: packed edge collect of $total longs exceeds " +
        "the JVM array limit — lower GRAFT_CC_DRIVER_MAX_EDGES")
    total.toInt
  }

  /** Edge cap for [[connectedComponents]]'s driver-side union-find
    * finish (both the input fast path and the post-contraction
    * residual): 2M edges = 32 MB packed. Round 7 rebuilt both finish
    * walls — executor-side packed-long chunks in
    * ([[collectPackedEdges]]) and broadcast-array emission out
    * ([[UnionFind.labelFrame]]) — then re-measured the crossover both
    * ways (SCALE.md round-7 table). The answer is SHAPE-dependent, so
    * the cap stays where the real workload wins: LSH near-dup graphs
    * are DENSE (sf0.1: 6.17M edges over tens of thousands of docs) and
    * round-0 contraction collapses them inside a few bounded shuffles
    * while the one-pass finish ships every edge to one driver thread —
    * measured q49 3.96 vs 5.05 s, q53 4.22 vs 5.95 s (cap 2M vs 8M).
    * On SPARSE chain graphs (verts ~ edges) the driver pass wins to
    * 12M+ edges (CcProbe: 3.4 s vs 11.4 s at 6M) because the
    * distributed rounds' fixed job/materialization overhead dominates —
    * but sparse mid-size graphs are not the LSH shape, and an
    * edge-count gate cannot see density up front without paying a
    * distinct-count shuffle. At 100 TB the cap's real job is bounding
    * driver transfer; an over-cap graph takes the distributed path
    * unchanged. GRAFT_CC_DRIVER_MAX_EDGES overrides for A/B probes. */
  private val DriverUnionFindMaxEdges: Long =
    sys.env.get("GRAFT_CC_DRIVER_MAX_EDGES").map(parseEdgeCapOverride)
      .getOrElse(2000000L)

  /** Parse the GRAFT_CC_DRIVER_MAX_EDGES override (seam for
    * ConnectedComponentsSpec — sys.env is process-fixed under test).
    * A bare .toLong would surface a malformed override ('8m') as
    * ExceptionInInitializerError on ANY Dedup use, hiding the actual
    * cause (ADVICE round-7) — name the variable and the bad value. */
  private[graft] def parseEdgeCapOverride(v: String): Long =
    try v.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"GRAFT_CC_DRIVER_MAX_EDGES must be a plain long edge count, got '$v'")
    }

  /** Driver-side union-find over a PACKED edge array
    * (`[s0,d0,s1,d1,...]` — see [[collectPackedEdges]]) — the exact
    * finish for both the small-graph fast path and the
    * post-contraction residual in [[connectedComponents]]. Vertex ids
    * are dense-indexed through a sorted array (binary search per
    * endpoint) so the parent structure is a primitive int array, not a
    * boxed Long map — at the 2M-edge cap the boxed-map variant spent
    * seconds in hashing/boxing alone, and the packed input keeps the
    * whole finish allocation-free past the two work arrays. The sorted
    * index order equals id order, so min-INDEX-root union yields
    * min-ID component labels (the deterministic survivor rule).
    * Iterative find with path compression: chain residuals can be
    * deeper than the stack. */
  private final class UnionFind(packed: Array[Long]) {
    private val verts: Array[Long] = {
      val a = java.util.Arrays.copyOf(packed, packed.length)
      java.util.Arrays.sort(a)
      var n = 0; var j = 0
      while (j < a.length) {
        if (n == 0 || a(n - 1) != a(j)) { a(n) = a(j); n += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(a, n)
    }
    private val parent: Array[Int] = Array.tabulate(verts.length)(identity)
    private def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    locally {
      var i = 0
      while (i < packed.length) {
        val ra = find(java.util.Arrays.binarySearch(verts, packed(i)))
        val rb = find(java.util.Arrays.binarySearch(verts, packed(i + 1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        i += 2
      }
    }
    /** (id, cluster_id) for every vertex, emitted EXECUTOR-side: the
      * packed vertex/root arrays ship once as broadcast variables and
      * `spark.range` projects through them in parallel. The old
      * `labels.toSeq.toDF` LocalRelation serialized millions of boxed
      * rows on one driver thread — at the raised cap it was the next
      * wall after collect(). Broadcast lifecycle: the returned plan
      * references the broadcasts, so they cannot be destroyed here;
      * ContextCleaner releases them once the plan is garbage and a GC
      * runs (Bench.resetSession forces one per query — a long-lived
      * session that never GCs pins ≤32 MB per CC call until it does). */
    def labelFrame(spark: SparkSession): DataFrame = {
      val vertsB = spark.sparkContext.broadcast(verts)
      val rootB = spark.sparkContext.broadcast(Array.tabulate(verts.length)(find))
      val vid = udf((i: Long) => vertsB.value(i.toInt))
      val lbl = udf((i: Long) => vertsB.value(rootB.value(i.toInt)))
      spark.range(verts.length.toLong)
        .select(vid(col("id")).as("id"), lbl(col("id")).as("cluster_id"))
    }
    /** Only the vertices whose label differs from the vertex itself,
      * as parallel sorted arrays (keys ascending — binary-searchable
      * in the relabel UDF). */
    def remappedPacked: (Array[Long], Array[Long]) = {
      val kb = new scala.collection.mutable.ArrayBuilder.ofLong
      val lb = new scala.collection.mutable.ArrayBuilder.ofLong
      var i = 0
      while (i < verts.length) {
        val root = verts(find(i))
        if (root != verts(i)) { kb += verts(i); lb += root }
        i += 1
      }
      (kb.result(), lb.result())
    }
  }

  /** End-to-end near-dedup: MinHash-LSH pairs -> connected components
    * -> keep one survivor (min id) per duplicate cluster. Returns the
    * deduplicated corpus (original columns), i.e. all rows except
    * non-survivor cluster members. The exact-dedup fast path
    * ([[exact]]) composes BEFORE this when byte-identical copies are
    * common — fewer rows reach the LSH shuffle. */
  def nearDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bandsOf: Int = 4, threshold: Double = 0.8,
      encoding: LshEncoding = LshEncoding.Auto,
      candidateBudget: Option[Long] = Some(DefaultCandidateBudget),
      wallBudgetSeconds: Option[Double] = Some(DefaultWallBudgetSeconds)): DataFrame = {
    // encoding defaults to Auto here (unlike minhashLshPairs): the CC
    // step below runs eager jobs at call time anyway, so plan-only
    // callers don't exist and the adaptive probe costs nothing extra.
    // candidateBudget passes through: the scale guard protects the
    // composed pipeline exactly like the bare pair operator.
    val clusters = connectedComponents(
      minhashLshPairs(df, idCol, textCol, k, bandsOf, threshold, encoding,
        candidateBudget = candidateBudget,
        wallBudgetSeconds = wallBudgetSeconds))
    val losers = clusters.where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental near-dedup: MinHash-LSH candidate pairs between an
    * incoming batch and an existing corpus (new x corpus only;
    * within-batch pairs compose via [[minhashLshPairs]] on the batch).
    * The corpus never pairs with itself, so deduplicating a daily
    * ingest against a 100 TB corpus costs one band shuffle of
    * O(batch + corpus) rows and a bucket join whose work is
    * batch-driven — not O(corpus^2). Pair de-duplication is the same
    * FIRST-BAND-WINS condition as the self-join form; verification is
    * the open-vocabulary merge-walk (an accumulated corpus is never
    * small-vocabulary, so no stats probe — plan-only, zero jobs).
    *
    * @return (new_id, corpus_id, jaccard) with jaccard >= threshold
    */
  def incrementalLshPairs(newDf: DataFrame, corpusDf: DataFrame,
      idCol: String, textCol: String,
      k: Int, bandsOf: Int, threshold: Double): DataFrame = {
    val nBands = bandCount(k, bandsOf, threshold)
    // parallelism comes from lshToks' internal spread: the cascade,
    // signature build and banding explode all run post-exchange. The
    // token arrays ride through the band join to the verify, so each
    // side's cascade has one consumer and stays unstaged.
    def sigsOf(df: DataFrame): DataFrame =
      lshToks(df, idCol, textCol)
        .select(col("id"), col("toks"), minhashFromHashes(col("toks"), k).as("sig"))

    bandPairs(sigsOf(newDf), sigsOf(corpusDf), nBands, bandsOf, Seq("toks"), None)
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"),
        graft.queries.roundSafe(
          graft.functions.ArrayOps.sortedJaccard(col("toks_a"), col("toks_b")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Fold a new batch's near-dup pairs into an EXISTING cluster
    * assignment without re-clustering the corpus — the companion to
    * [[incrementalLshPairs]] for daily ingest against standing dedup
    * state.
    *
    * Only clusters actually touched by new pairs do any graph work:
    * each new edge is first contracted onto the prior cluster ROOTS
    * (two hash joins against the prior mapping), then
    * [[connectedComponents]] runs on that root graph — whose size is
    * driven by the BATCH, not the corpus. The resulting root relabel
    * map broadcasts back over the prior mapping (min-id labels are
    * preserved: a prior root is its component's min, so the merged
    * component's min is the min over root-graph nodes, which is what
    * CC computes).
    *
    * @param prior    existing assignment (id, cluster_id), long ids
    * @param newPairs new edges (id_a, id_b) — cross batch-corpus and
    *                 batch-internal pairs
    * @return updated (id, cluster_id) covering prior ids plus every id
    *         appearing in newPairs
    */
  def mergeClusters(prior: DataFrame, newPairs: DataFrame): DataFrame = {
    val pr = prior.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"))
    // newPairs is typically an LSH pair-generation plan, and it feeds
    // BOTH the root-graph contraction and the new-id discovery union —
    // three lineage evaluations without a cache. persist() is lazy (no
    // job here); the fill happens inside connectedComponents' eager
    // pairs materialization below, and the cache stays part of the
    // returned plan's working set (newIds reads it on every action).
    val np = newPairs
      .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rooted(side: String): Column = coalesce(col(s"r_$side"), col(s"id_$side"))
    val rootPairs = np
      .join(pr.select(col("id").as("id_a"), col("cluster_id").as("r_a")), Seq("id_a"), "left")
      .join(pr.select(col("id").as("id_b"), col("cluster_id").as("r_b")), Seq("id_b"), "left")
      .select(rooted("a").as("id_a"), rooted("b").as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    // CC over the batch-sized root graph; relabel = (old root/new id ->
    // merged min). Untouched clusters never appear and keep their label.
    val relabel = connectedComponents(rootPairs)
      .select(col("id").as("old_label"), col("cluster_id").as("new_label"))
    val updatedPrior = pr
      .join(broadcast(relabel), pr("cluster_id") === col("old_label"), "left")
      .select(col("id"), coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    // ids seen only in the new pairs (not yet in the prior mapping)
    val newIds = np.select(col("id_a").as("id"))
      .unionByName(np.select(col("id_b").as("id")))
      .distinct()
      .join(pr.select(col("id")), Seq("id"), "left_anti")
    val newAssigned = newIds
      .join(broadcast(relabel), newIds("id") === col("old_label"), "left")
      .select(col("id"), coalesce(col("new_label"), col("id")).as("cluster_id"))
    updatedPrior.unionByName(newAssigned)
  }

  /** SimHash signature (`bits`-bit, bit j from the j-th bit of the
    * portable 60-bit token hash; bit set iff more tokens vote 1 than 0,
    * i.e. 2*ones > n). Entirely per-row — token hashes are bound once
    * as a column, each bit is a filter-count over that array; zero
    * shuffles, pipelines into the scan. (An explode + partial-agg
    * variant would only win for documents too wide for one row.) */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits <= 60, "token hash provides 60 usable bits")
    df.select(col(idCol).as("id"),
        transform(tokenSet(col(textCol)), t => tokenHash(t)).as("h"))
      .where(size(col("h")) > 0)
      .select(col("id"),
        graft.functions.SimHashExpr.simhashFromHashes(col("h"), bits).as("simhash"))
  }

  /** Word n-gram Jaccard near-dup pairs inside a caller-chosen blocking
    * key (same-block pairs only — the idiomatic replacement for the
    * reference's collect_list-then-O(n^2)-UDF dedup, deduplicate.py:236-270). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockKey: Column, n: Int, threshold: Double): DataFrame = {
    // threshold > 0 makes the empty-shingle prune below output-neutral
    // (an empty side scores 0.0, below any positive threshold) — the
    // same contract minhashLshPairs/incrementalLshPairs require
    require(threshold > 0.0,
      s"ngramJaccardPairs needs threshold > 0 (got $threshold): 0 would " +
        "emit every same-block pair, including all-degenerate ones")
    // staged projections bind each intermediate as a column: the token
    // array is computed once per row, NOT re-evaluated by every
    // element_at inside the shingle lambda (higher-order lambdas do not
    // share subexpressions); shingles are md5-hashed to int64 and kept
    // sorted so the per-pair Jaccard is the codegen'd merge walk
    // Engine.spread: same-block pair work is quadratic per block; the
    // probe side must not inherit a single-split scan's parallelism.
    val prepped = graft.Engine.spread(df
      .select(col(idCol).as("id"), blockKey.as("block"),
        tokens(col(textCol)).as("toks"))
      // fewer-than-n-token docs carry zero shingles and can only score
      // 0.0 — prune BEFORE the self-join or a block of short docs
      // (plausible under a source/domain blockKey) generates quadratic
      // doomed candidates, the LSH bomb NullTextProbeSpec pins. The
      // prune sits on the TOKS stage (the lshToks pattern): pushdown
      // inlines the filter's expression below the projection, so a
      // filter on the full shingle/hash/sort chain would compute that
      // chain TWICE per row (measured: q20 1.3s -> 17s); size(toks)
      // re-inlines only the tokenizer. size(NULL) is NULL -> dropped.
      .where(size(col("toks")) >= n)
      .select(col("id"), col("block"), shingles(col("toks"), n).as("shs"))
      .select(col("id"), col("block"),
        sort_array(array_distinct(transform(col("shs"), s => tokenHash(s)))).as("sh")))
    def side(s: String) = prepped.select(
      Seq("block", "id", "sh").map(c => col(c).as(s"${c}_$s")): _*)
    Blocking.pairs(side("a"), "id_a", Seq(col("block_a")), side("b"), "id_b", Seq(col("block_b")))
      .where(col("id_a") < col("id_b"))
      .select(col("block_a").as("block"), col("id_a"), col("id_b"),
        graft.queries.roundSafe(
          graft.functions.ArrayOps.sortedJaccard(col("sh_a"), col("sh_b")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }
}
