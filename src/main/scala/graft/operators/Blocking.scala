package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked candidate pairs: the one construction behind offer <-> CV
  * matching (`Matching.score`, K = 2 keys: sector, location), both
  * MinHash-LSH pair operators (`Dedup.minhashLshPairs` and
  * `Dedup.incrementalLshPairs`, K = nBands band keys) and
  * `Dedup.ngramJaccardPairs` (K = 1, the caller's block key).
  *
  * Two rows pair when they share a block under ANY of their K keys, and
  * each pair is emitted ONCE, at the first key index where both sides'
  * capped keys are equal and non-null. The candidate set is therefore
  * the distinct union of the K per-key (capped) equi-joins, built
  * without a pair-id dedup shuffle — prune locally, then merge once
  * (REPOSE, ICDE 2021).
  *
  * Steps, per side:
  *  1. under a cap, each key in turn is split into sub-blocks on the
  *     un-exploded rows by [[Skew.capBlocks]] (rank) or
  *     [[Skew.capBlocksHashed]] (hash), so a key's sub-block is decided
  *     among exactly the rows sharing that key; a null key stays null
  *     (capBlocks' own null block would invent null×null pairs an
  *     uncapped equi-join excludes);
  *  2. the K (capped) keys are gathered into one array, carried through
  *     the join for the first-key filter, and posexploded once.
  * Then one equi-join on (key index, key) and the first-key filter, a
  * fixed boolean tree over `element_at`.
  *
  * Keys are compared as strings: a capped key is "<key>#<sub-block>",
  * and the uncapped key casts the same way, so key types may differ
  * across indices. The output carries every column of both sides (the
  * column names of `a` and `b` must not overlap); columns the caller
  * does not select are pruned below the join by the optimizer.
  * Precondition under a cap: the id columns order (rank) or hash
  * (integral ids) each side's rows, as the `Skew` operators require. */
object Blocking {

  private[graft] def pairs(a: DataFrame, aId: String, aKeys: Seq[Column],
      b: DataFrame, bId: String, bKeys: Seq[Column],
      maxBlockSize: Option[Int] = None, hashed: Boolean = false): DataFrame = {
    require(aKeys.nonEmpty && aKeys.length == bKeys.length,
      s"Blocking.pairs needs the same positive number of keys per side, " +
        s"got ${aKeys.length} and ${bKeys.length}")
    val shared = a.columns.toSet intersect b.columns.toSet
    require(shared.isEmpty, s"Blocking.pairs sides share column names: ${shared.mkString(", ")}")
    val nKeys = aKeys.length
    val ka = col("__bkeys_a")
    val kb = col("__bkeys_b")

    def exploded(side: DataFrame, id: String, keys: Seq[Column], arr: String): DataFrame = {
      val raw = keys.indices.map(i => s"__bk$i")
      val keyed = side.select(col("*") +:
        keys.zip(raw).map { case (k, n) => k.cast("string").as(n) }: _*)
      val capped = maxBlockSize.fold(keyed) { m =>
        raw.foldLeft(keyed) { (df, n) =>
          val split =
            if (hashed) Skew.capBlocksHashed(df, col(n), col(id), m)
            else Skew.capBlocks(df, col(n), col(id), m)
          split.withColumn(n, when(col(n).isNotNull, col("__capped_block")))
            .drop("__capped_block")
        }
      }
      // explode_outer + null filter: the inner form would let
      // InferFiltersFromGenerate re-derive the key array below the
      // projection that builds it (the SCALE.md explode rule)
      capped.withColumn(arr, array(raw.map(col): _*)).drop(raw: _*)
        .select(col("*"), posexplode_outer(col(arr)).as(Seq("__bi", "__bk")))
        .where(col("__bk").isNotNull)
    }

    // keep the pair only where no earlier index already pairs it:
    // AND over j of (index <= j OR the j-th capped keys differ or are null)
    val firstEqualKey = (0 until nKeys - 1).map { j =>
      col("__bi") <= j ||
        !coalesce(element_at(ka, j + 1) === element_at(kb, j + 1), lit(false))
    }.reduceOption(_ && _).getOrElse(lit(true))

    exploded(a, aId, aKeys, "__bkeys_a")
      .join(exploded(b, bId, bKeys, "__bkeys_b"), Seq("__bi", "__bk"))
      .where(firstEqualKey)
      .drop("__bi", "__bk", "__bkeys_a", "__bkeys_b")
  }
}
