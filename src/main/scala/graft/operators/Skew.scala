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
    * One lazy plan: a single `row_number` window over every block,
    * with the rank's `(rn - 1) / maxPerBlock` naming the sub-block. No
    * Spark job runs at construction. Every registered caller sets the
    * cap so that most rows sit in over-cap blocks (Matching's
    * sector/location blocks, q103's hot LSH buckets), where the window
    * ranks nearly every row anyway. A cap set above every block still
    * pays the window for rows that need no split (SCALE.md round 20
    * measures that regime).
    *
    * A block whose sort does not fit one task is
    * [[capBlocksHashed]]'s case: it trades the exact per-sub-block
    * bound for a sort-free plan. */
  def capBlocks(df: DataFrame, blockCol: Column, orderCol: Column,
      maxPerBlock: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerBlock > 0, s"maxPerBlock must be positive, got $maxPerBlock")
    // ASC default = NULLS FIRST: a null id ranks at the head of its
    // block. DuckDB's window default is NULLS LAST, so the q95 oracle
    // pins ORDER BY ... NULLS FIRST explicitly — keep them in lockstep
    val w = Window.partitionBy(col("__cb_key")).orderBy(orderCol)
    cbKeyed(df, blockCol)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__capped_block", concat(col("__cb_key"), lit("#"),
        (((col("__rn") - 1) / maxPerBlock).cast("int")).cast("string")))
      .drop("__rn", "__cb_key")
  }

  /** Sort-free sub-blocking for GIANT blocks: same contract as
    * [[capBlocks]] except rows are assigned to one of ceil(n/cap)
    * sub-blocks by a deterministic HASH of `orderCol` instead of by
    * rank — no window, no sort, so a block of any size spreads across
    * the cluster instead of serializing its whole sort onto one task
    * (the rank window's ceiling: one over-cap block = one task's
    * memory and one task's time).
    *
    * The trade: sub-block sizes are ~cap in EXPECTATION (multinomial
    * spread around n/ceil(n/cap)), not exactly bounded — the right
    * dial when the cap is a quadratic-blowup guard rather than a hard
    * memory bound.
    *
    * One lazy plan: the per-block counts of all blocks join onto every
    * row and the hash assignment runs unconditionally — an under-cap
    * block has ceil(n/cap) = 1 sub-block, so its every row scales to
    * index 0. No Spark job runs at construction. The counts side is
    * one row per distinct block and deliberately un-hinted: AQE
    * broadcasts it while it is small and falls back to a shuffled join
    * past the threshold.
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
      maxPerBlock: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(maxPerBlock > 0, s"maxPerBlock must be positive, got $maxPerBlock")
    val idType = df.select(orderCol).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"capBlocksHashed hashes orderCol and needs an integral id column, " +
        s"got $idType — pre-hash non-numeric ids (e.g. xxhash64) at the call site")
    val keyed = cbKeyed(df, blockCol)
    val counts = keyed.groupBy(col("__cb_key")).agg(count(lit(1)).as("__cb_n"))
    // mixed low-32 bits of the id, then fixed-point scale by the
    // block's sub-block count ceil(n/cap) — all exact 64-bit integer
    // ops (`div` truncates like DuckDB's `//`; operands non-negative).
    // The scale product needs nSub = ceil(n/cap) ≤ 2^31 to stay inside
    // a long; past that (n > cap·2^31) the row fails BY NAME instead
    // of wrapping into an assignment the oracle replay would never
    // reproduce. The guard is a per-row branch on an already-joined
    // column — free under codegen, and the raise_error arm never
    // evaluates on sane data.
    keyed.join(counts, Seq("__cb_key"))
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
      .drop("__cb_h", "__cb_n", "__cb_key")
  }

  /** Shared prologue: reserved-column guard + null-safe string block
    * key. Coalescing the null block matters — concat is
    * null-intolerant, so a NULL block key would null __capped_block
    * for its whole block, and the dirty-data hot key is exactly the
    * block a skew cap most needs to cap. The string key also makes
    * the hashed mode's counts join null-safe for free. */
  private def cbKeyed(df: DataFrame, blockCol: Column): DataFrame = {
    Seq("__rn", "__cb_key", "__cb_n", "__cb_h", "__capped_block").foreach { c =>
      require(!df.columns.contains(c), s"capBlocks: input already has a '$c' column")
    }
    df.withColumn("__cb_key",
      coalesce(blockCol.cast("string"), lit("__null_block__")))
  }
}
