package graft.operators

/** Raised BY NAME when an uncapped quadratic operator measures its own
  * candidate-pair volume past the caller's budget at construction time
  * (round-15 verdict item 1). The sf0.1→sf1 load test proved the two
  * guarded forms are the operators a user can point at a big corpus
  * and melt — `Matching.score(maxBlockSize = None)` blocks on
  * fixed-cardinality keys (exponent 1.63 over the decade, 245.6 s at
  * sf1 vs ≤18.1 s capped), and `Dedup.minhashLshPairs(maxBucketSize =
  * None)` grows super-linearly on boilerplate vocabularies (exponent
  * 1.23) — while the capped paths are oracle-gated (q95/q101/q103)
  * and measured at exponent ≤0.57. The guard converts the silent melt
  * into an error that names the measured volume and the dial; the
  * message always carries the cap parameter to pass and the budget
  * override for callers who genuinely want the exact quadratic run.
  *
  * Deliberately an ERROR, not an auto-engaged cap: a cap is a RECALL
  * trade (sub-blocked pairs are dropped), and silently changing the
  * answer because the input grew would be worse than failing loudly —
  * the same contract torn parquet files get (TornFileException). */
final class ScaleGuardException(message: String)
  extends RuntimeException(message)

/** The measure-and-fail body both uncapped guards share
  * (`Matching.score`'s `pairBudget`, `Dedup.minhashLshPairs`'
  * `candidateBudget`). */
private[graft] object ScaleGuard {
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions._

  /** Human-readable wall estimate for `pairs` candidates at `nanos`
    * ns/candidate — quoted by both failure messages so the count's
    * operational meaning is visible without rate arithmetic. */
  def estimatedWall(pairs: Long, nanos: Long): String = {
    val sec = pairs.toDouble * nanos / 1e9
    if (sec >= 120) f"~${sec / 60}%.0f min" else f"~$sec%.0f s"
  }

  /** Fail BY NAME when the candidate volume exceeds `budget`.
    *
    * `crossBound` is the caller's free upper bound on the volume; when
    * it clears the budget, melt is impossible and nothing runs.
    * Otherwise `perKey` — key columns then a `__pairs` column, one row
    * per block — is staged to scratch under `stagePrefix` so its plan
    * executes ONCE: the sum (every measured call) and the failure
    * path's top-3 offenders both read the staged rows (round-16
    * ADVICE — the old orderBy/limit re-ran the measurement right
    * before throwing). Past the budget the top-3 blocks by volume
    * (ties broken by the key columns in order), each rendered as
    * `label(row) ~N pairs`, are handed to `message(measured, top)`,
    * which builds the [[ScaleGuardException]] text. */
  def enforce(budget: Long, crossBound: BigInt, perKey: => DataFrame,
      stagePrefix: String, label: Row => String)(
      message: (Long, String) => String): Unit =
    if (crossBound > BigInt(budget)) {
      val staged = Scratch.stage(perKey, stagePrefix)
      val measured = staged.agg(coalesce(sum(col("__pairs")), lit(0L)))
        .first().getLong(0)
      if (measured > budget) {
        val keys = staged.columns.filter(_ != "__pairs").map(col).toSeq
        val top = staged.orderBy(col("__pairs").desc +: keys: _*).limit(3)
          .collect().map(r => s"${label(r)} ~${r.getAs[Long]("__pairs")} pairs")
          .mkString("; ")
        throw new ScaleGuardException(message(measured, top))
      }
    }
}
