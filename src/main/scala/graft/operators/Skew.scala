package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot keys — the manual fallback for
  * cases AQE's runtime skew-join splitting can't reach (single-key
  * aggregation hot spots, pair-generating self-joins over one giant
  * block).
  *
  * Pattern: salt the key into `saltBuckets` sub-keys, aggregate
  * partially per sub-key (spreads one reducer's load across the
  * cluster), then merge the partials in a second, tiny aggregation.
  */
object Skew {

  /** Two-phase salted count/sum aggregation over a possibly-skewed key.
    * Deterministic salting (hash of a row-identifying column, not
    * rand()) keeps reruns and retries stable.
    *
    * Honest scope note: for PLAIN count/sum Spark's hash aggregate
    * already partial-aggregates map-side (a hot key reaches its
    * reducer as one row per upstream task), so this helper adds a
    * shuffle for nothing there. The two-phase shape earns its keep
    * when the partial-aggregation escape hatch is absent: aggregation
    * buffers that grow with the group (collect_list/set, exact
    * distinct) or downstream per-key processing after the first phase
    * — it is the documented TEMPLATE for those, kept deliberately
    * minimal. */
  def saltedAgg(df: DataFrame, key: Column, saltSource: Column,
      valueCol: Column, saltBuckets: Int): DataFrame = {
    val salted = df.groupBy(key.as("key"),
        pmod(xxhash64(saltSource), lit(saltBuckets)).as("salt"))
      .agg(count(lit(1)).as("pc"), sum(valueCol).as("ps"))
    salted.groupBy(col("key"))
      .agg(sum(col("pc")).as("cnt"), sum(col("ps")).as("total"))
  }

  /** Cap pair explosion inside a blocking key: rows beyond `maxPerBlock`
    * per block (by deterministic rank on `orderCol`) move to overflow
    * blocks that only pair among themselves. Bounds the worst block at
    * maxPerBlock^2 comparisons at the cost of missing cross-overflow
    * pairs — the standard recall/cost dial for 100 TB dedup.
    *
    * Pay-per-use (round 8): the original one-phase plan ranked EVERY
    * block through a full window shuffle — BucketCapProbe measured that
    * at ~45% operator overhead even when no bucket exceeded the cap
    * (SCALE.md round-7 table). Two-phased and fully LAZY now: a
    * map-side-combined count finds the blocks that exceed the cap (one
    * row per distinct block, tiny output), and that key set splits the
    * input with broadcast left-anti/left-semi joins — under-cap rows
    * pass straight through with sub-bucket 0 (no shuffle, no sort) and
    * only rows in over-cap blocks reach the rank window. Output is
    * row-identical to the one-phase plan. The three consumers of `df`
    * (size count, anti branch, semi branch) share one computation of
    * any exchange in `df`'s plan via ReuseExchange — every production
    * caller feeds a spread (repartitioned) or scratch-staged scan, so
    * the upstream runs once per action; callers adding a capBlocks over
    * expensive exchange-free lineage should stage it first (the
    * Matching.score idiom). The over-cap key set is broadcast: its size
    * is bounded by distinct-blocks-over-cap (≤ rows/cap), vanishingly
    * small for a production cap set above the p99 legitimate block.
    *
    * `mostBlocksOver` is the ENGAGEMENT-PROFILE dial — `None` (the
    * default since round 15) AUTO-SELECTS from the phase-1 measurement
    * (see [[oneWindowWins]]); `Some(_)` pins a profile explicitly.
    * Both shapes measured (SCALE.md round-8): when the cap is a
    * safety valve that rarely fires (the LSH hot-bucket guard — the
    * default), pay-per-use wins because under-cap rows skip the rank
    * shuffle entirely. When the caller KNOWS most rows
    * sit in over-cap blocks — low-cardinality blocking keys split
    * intentionally, Matching's sector/location blocks — the split is
    * pure overhead (the window ranks nearly everything anyway, and the
    * count + anti/semi passes re-scan the input three times): q95
    * measured the two-phase plan at +39% over the one-phase window
    * (3.15 → 4.38 s back-to-back). `mostBlocksOver = true` takes the
    * single window pass over all blocks. Output is row-identical
    * either way (SkewSpec pins it). A third profile — giant blocks
    * where even ONE block's sort won't fit a task — is
    * [[capBlocksHashed]], which trades the exact per-sub-block bound
    * for a sort-free plan.
    *
    * DETERMINISM PRECONDITION (pay-per-use mode): `df`'s lineage is
    * evaluated up to three times (the phase-1 count action, the anti
    * branch, the semi branch) and the phases are only consistent when
    * every evaluation yields the same rows. A nondeterministic lineage
    * (rand()/uuid() columns, non-reproducible sampling, a re-read of
    * mutating input) can route a row down BOTH or NEITHER branch.
    * Production callers stage `df` to scratch parquet first (the
    * Stages.apply idiom), which also makes the re-scans cheap.
    *
    * The phase-1 count is an EAGER action at call time (one job over
    * the map-side-combined per-block counts — tiny output; one extra
    * scan of `df`'s staged lineage). It buys two scale guards:
    *   - zero over-cap blocks (the designed-for common case of the
    *     safety-valve profile) short-circuits to a pure projection —
    *     no anti/semi joins at all, where the previous always-built
    *     split cost ~11.6% idle overhead (SCALE.md round-8);
    *   - the over-cap key set is only broadcast-hinted when its
    *     measured count is ≤ `broadcastKeyLimit`. Above the limit
    *     (a small cap over a dense corpus: up to rows/cap distinct
    *     keys — millions on a 100 TB run, past the driver/broadcast
    *     ceiling) the hint is dropped and the planner falls back to
    *     shuffled anti/semi joins: slower, but it completes instead
    *     of dying in broadcast collect (round-9 ADVICE). The default
    *     limit (1M keys ≈ tens of MB of block-key strings) keeps the
    *     broadcast well under torrent-fanout pain at 1000 executors.
    */
  val DefaultBroadcastKeyLimit: Long = 1000000L

  /** AUTO profile selection (round-15 verdict item 6): with
    * `mostBlocksOver = None` the eager phase-1 pass — which both
    * non-one-window modes already pay — also measures what FRACTION of
    * rows sits in over-cap blocks, and the one-window profile engages
    * when at least half do. Rationale: the pay-per-use split's win is
    * the under-cap rows that skip the rank shuffle entirely; once most
    * rows go through the window anyway, the split's three scans + union
    * are pure overhead (q95 measured it at +39% on Matching's all-over
    * blocks; q103 measured one-window 2x faster on the all-buckets-hot
    * LSH corpus — SCALE.md rounds 8/14). 0.5 splits those regimes with
    * margin on both sides: the safety-valve corpora that want the
    * split sit near 0, the intentionally-split ones near 1. Explicit
    * `Some(true)`/`Some(false)` keeps the old behavior exactly (and
    * `Some(true)` stays count-free — the caller asserting the profile
    * shouldn't pay a measurement). SkewSpec pins the rule and that all
    * three selections are row-identical. */
  private[graft] val AutoOneWindowFraction = 0.5
  private[graft] def oneWindowWins(totalRows: Long, overRows: Long): Boolean =
    totalRows > 0 && overRows.toDouble / totalRows >= AutoOneWindowFraction

  /** Phase-1 stats in one action: (total rows, rows in over-cap blocks,
    * over-cap block count) from the map-side-combined per-block counts. */
  private def capStats(keyed: DataFrame, maxPerBlock: Int): (Long, Long, Long) = {
    val r = keyed.groupBy(col("__cb_key")).agg(count(lit(1)).as("__cb_n"))
      .agg(sum(col("__cb_n")).as("t"),
        sum(when(col("__cb_n") > maxPerBlock, col("__cb_n")).otherwise(0L)).as("o"),
        count(when(col("__cb_n") > maxPerBlock, lit(1))).as("k"))
      .first()
    if (r.isNullAt(0)) (0L, 0L, 0L) else (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def capBlocks(df: DataFrame, blockCol: Column, orderCol: Column,
      maxPerBlock: Int, mostBlocksOver: Option[Boolean] = None,
      broadcastKeyLimit: Long = DefaultBroadcastKeyLimit): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerBlock > 0, s"maxPerBlock must be positive, got $maxPerBlock")
    require(broadcastKeyLimit > 0,
      s"broadcastKeyLimit must be positive, got $broadcastKeyLimit")
    val keyed = cbKeyed(df, blockCol)
    def subBlock(rnCol: Column): Column =
      concat(col("__cb_key"), lit("#"),
        (((rnCol - 1) / maxPerBlock).cast("int")).cast("string"))
    // ASC default = NULLS FIRST: a null id ranks at the head of its
    // block. DuckDB's window default is NULLS LAST, so the q95 oracle
    // pins ORDER BY ... NULLS FIRST explicitly — keep them in lockstep
    val w = Window.partitionBy(col("__cb_key")).orderBy(orderCol)
    def oneWindow: DataFrame =
      // one window pass over every block — cheapest when the split
      // would route nearly all rows through the rank window anyway
      keyed.withColumn("__rn", row_number().over(w))
        .withColumn("__capped_block", subBlock(col("__rn")))
        .drop("__rn", "__cb_key")
    if (mostBlocksOver.contains(true)) oneWindow
    else {
      // phase 1: which blocks exceed the cap (partial-aggregated count —
      // a hot block reaches its reducer as one row per upstream task);
      // in auto mode the same single action also measures the over-cap
      // ROW fraction that picks the engagement profile
      val (totalRows, overRows, nOver) = capStats(keyed, maxPerBlock)
      if (nOver == 0L) {
        // cap never fires: every row is rank-1-equivalent — sub-bucket
        // 0 with no joins, no shuffle, no sort
        keyed.withColumn("__capped_block", subBlock(lit(1))).drop("__cb_key")
      } else if (mostBlocksOver.isEmpty && oneWindowWins(totalRows, overRows)) {
        oneWindow
      } else {
        val overKeys = keyed
          .groupBy(col("__cb_key")).agg(count(lit(1)).as("__cb_n"))
          .where(col("__cb_n") > maxPerBlock).select(col("__cb_key"))
        val build =
          if (nOver <= broadcastKeyLimit) broadcast(overKeys) else overKeys
        // phase 2: under-cap rows pass through (rank 1 ⇒ sub-bucket 0 —
        // what the one-phase window assigned every row of an in-cap
        // block); over-cap rows pay the rank shuffle, and only them
        val under = keyed.join(build, Seq("__cb_key"), "left_anti")
          .withColumn("__capped_block", subBlock(lit(1)))
        val over = keyed.join(build, Seq("__cb_key"), "left_semi")
          .withColumn("__rn", row_number().over(w))
          .withColumn("__capped_block", subBlock(col("__rn"))).drop("__rn")
        under.unionByName(over).drop("__cb_key")
      }
    }
  }

  /** Sort-free sub-blocking for GIANT blocks: same contract as
    * [[capBlocks]] (pay-per-use mode) except over-cap rows are
    * assigned to one of ceil(n/cap) sub-blocks by a deterministic HASH
    * of `orderCol` instead of by rank — no window, no sort, so a block
    * of any size spreads across the cluster instead of serializing
    * its whole sort onto one task (the rank window's ceiling: one
    * over-cap block = one task's memory and one task's time).
    *
    * The trade: sub-block sizes are ~cap in EXPECTATION (multinomial
    * spread around n/ceil(n/cap)), not exactly bounded — the right
    * dial when the cap is a quadratic-blowup guard rather than a hard
    * memory bound. Same determinism precondition and eager phase-1
    * count as [[capBlocks]]; same `broadcastKeyLimit` fallback — here
    * the build side carries (key, count) so the assignment knows each
    * block's sub-block fan-out.
    *
    * `mostBlocksOver` (round 11) is the same engagement-profile dial
    * [[capBlocks]] has, reshaped for the hash plan: instead of the
    * anti/semi split (three scans of `df`'s lineage plus a union), the
    * per-block counts of ALL blocks join onto every row and the hash
    * assignment runs unconditionally — an under-cap block has
    * ceil(n/cap) = 1 sub-block, so its every row scales to index 0 and
    * the output stays row-identical to the split plan (SkewSpec pins
    * it). Two scans, no eager phase-1 action, no union; the right
    * shape when the caller KNOWS most rows sit in over-cap blocks
    * (Matching's low-cardinality sector/location blocks — q95 measured
    * the split at +39% there for the rank mode, SCALE.md round-8). The
    * counts side is one row per distinct block and deliberately
    * UN-hinted: AQE broadcasts it while it is small and falls back to
    * a shuffled join past the threshold — the same ceiling-safety the
    * explicit `broadcastKeyLimit` guard gives the split mode.
    *
    * The hash is a PORTABLE Fibonacci-style mix, not xxhash64:
    * `(((id mod 2^31) * 2654435761) mod 2^32) * nSub div 2^32` —
    * multiply by the 32-bit golden-ratio constant, keep the
    * well-mixed low 32 bits, fixed-point-scale into [0, nSub). Plain
    * 64-bit integer arithmetic that never exceeds 2^63 while
    * ceil(n/cap) stays ≤ 2^31 — a per-row guard raises BY NAME on the
    * absurd block past that bound (n > cap·2^31) instead of letting
    * `__cb_h * nSub` wrap and silently mis-hash away from the DuckDB
    * replay (round-10 ADVICE). Exact replay on the oracle side — q101;
    * xxhash64 has no cross-engine twin — codegen-friendly, and — unlike
    * `hash mod nSub` — immune to stride-id collapse: driver ids come
    * in arithmetic progressions (p_partkey % 8 == 0), and a plain
    * multiplicative mod maps a stride to ONE residue whenever
    * gcd(stride·K, nSub) ≠ 1, un-splitting the very block the cap
    * targets. Scaling by the HIGH bits has no such failure mode.
    *
    * `orderCol` must resolve to an integral type (the id column every
    * caller orders by); anything else fails loudly — a silent
    * cast-to-null would collapse all rows into sub-block 0. NULL ids
    * fold to id 0 (`coalesce` before the mix — concat is
    * null-intolerant, so an unfolded null id would null the whole
    * `__capped_block` and silently drop the row from non-null-safe
    * consumers; rank mode keeps null-id rows, so hashed mode must
    * too). NEGATIVE ids are folded non-negative by `pmod`, and the
    * portable replay must do the same — DuckDB's `%` truncates, so
    * the oracle twin of `pmod(id, m)` is `((id % m) + m) % m` (q101's
    * hashedSide; identical to plain `%` for the non-negative case).
    * Both matter for pre-hashed ids: the xxhash64 fallback this
    * operator's own error message recommends is negative for half of
    * all inputs. */
  def capBlocksHashed(df: DataFrame, blockCol: Column, orderCol: Column,
      maxPerBlock: Int, mostBlocksOver: Option[Boolean] = None,
      broadcastKeyLimit: Long = DefaultBroadcastKeyLimit): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(maxPerBlock > 0, s"maxPerBlock must be positive, got $maxPerBlock")
    require(broadcastKeyLimit > 0,
      s"broadcastKeyLimit must be positive, got $broadcastKeyLimit")
    val idType = df.select(orderCol).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"capBlocksHashed hashes orderCol and needs an integral id column, " +
        s"got $idType — pre-hash non-numeric ids (e.g. xxhash64) at the call site")
    val keyed = cbKeyed(df, blockCol)
    // mixed low-32 bits of the id, then fixed-point scale by the
    // block's sub-block count ceil(n/cap) — all exact 64-bit integer
    // ops (`div` truncates like DuckDB's `//`; operands non-negative).
    // The scale product needs nSub = ceil(n/cap) ≤ 2^31 to stay inside
    // a long; past that (n > cap·2^31) the row fails BY NAME instead
    // of wrapping into an assignment the oracle replay would never
    // reproduce. The guard is a per-row branch on an already-joined
    // column — free under codegen, and the raise_error arm never
    // evaluates on sane data.
    def hashedSub(rows: DataFrame): DataFrame = rows
      .withColumn("__cb_h",
        pmod(pmod(coalesce(orderCol.cast("long"), lit(0L)), lit(2147483648L)) *
          lit(2654435761L), lit(4294967296L)))
      .withColumn("__capped_block", concat(col("__cb_key"), lit("#"),
        expr(s"""if(__cb_n > ${maxPerBlock.toLong * 2147483648L}L,
            raise_error(concat('capBlocksHashed: block ', __cb_key, ' has ',
              cast(__cb_n as string),
              ' rows — ceil(n/$maxPerBlock) sub-blocks exceeds 2^31 and the',
              ' hash-scale arithmetic would wrap')),
            (__cb_h * (((__cb_n - 1) div $maxPerBlock) + 1)) div 4294967296)""")
          .cast("string")))
      .drop("__cb_h", "__cb_n")
    def allBlocksJoin: DataFrame = {
      // all-blocks counts joined onto every row; an under-cap block
      // scales to "#0" by arithmetic (nSub = 1), so no split is needed
      val counts = keyed.groupBy(col("__cb_key")).agg(count(lit(1)).as("__cb_n"))
      hashedSub(keyed.join(counts, Seq("__cb_key"))).drop("__cb_key")
    }
    if (mostBlocksOver.contains(true)) allBlocksJoin
    else {
      // auto (None) pays the same eager phase-1 action the split mode
      // already runs, and picks the all-blocks join past the 0.5
      // over-cap row fraction — same rule as capBlocks (Some(true)
      // stays count-free/lazy: the caller asserted the profile)
      val (totalRows, overRows, nOver) = capStats(keyed, maxPerBlock)
      if (nOver == 0L) {
        keyed.withColumn("__capped_block", concat(col("__cb_key"), lit("#0")))
          .drop("__cb_key")
      } else if (mostBlocksOver.isEmpty && oneWindowWins(totalRows, overRows)) {
        allBlocksJoin
      } else {
        val counts = keyed.groupBy(col("__cb_key")).agg(count(lit(1)).as("__cb_n"))
          .where(col("__cb_n") > maxPerBlock)
        val build = if (nOver <= broadcastKeyLimit) broadcast(counts) else counts
        val under = keyed.join(build.select(col("__cb_key")), Seq("__cb_key"), "left_anti")
          .withColumn("__capped_block", concat(col("__cb_key"), lit("#0")))
        val over = hashedSub(keyed.join(build, Seq("__cb_key")))
        under.unionByName(over).drop("__cb_key")
      }
    }
  }

  /** Shared prologue: reserved-column guard + null-safe string block
    * key. Coalescing the null block matters — concat is
    * null-intolerant, so a NULL block key would null __capped_block
    * for its whole block, and the dirty-data hot key is exactly the
    * block a skew cap most needs to cap. The string key also makes
    * the anti/semi joins null-safe for free. */
  private def cbKeyed(df: DataFrame, blockCol: Column): DataFrame = {
    Seq("__rn", "__cb_key", "__cb_n", "__cb_h", "__capped_block").foreach { c =>
      require(!df.columns.contains(c), s"capBlocks: input already has a '$c' column")
    }
    df.withColumn("__cb_key",
      coalesce(blockCol.cast("string"), lit("__null_block__")))
  }
}
