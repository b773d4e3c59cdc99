package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark

class SkewSpec extends AnyFunSuite {
  import spark.implicits._

  test("salted aggregation equals direct aggregation") {
    val df = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i.toLong, i.toDouble))
      .toDF("key", "id", "v")
    val direct = df.groupBy("key")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("total"))
      .orderBy("key").collect()
    val salted = Skew.saltedAgg(df, $"key", $"id", $"v", saltBuckets = 8)
      .orderBy("key").collect()
    assert(direct.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      salted.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("capBlocks bounds rows per block and is deterministic") {
    val df = (1 to 100).map(i => ("giant", i.toLong)).toDF("block", "id")
    val capped = Skew.capBlocks(df, $"block", $"id", maxPerBlock = 30)
    val sizes = capped.groupBy("__capped_block").count()
      .orderBy("__capped_block").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(sizes.toSeq == Seq(("giant#0", 30L), ("giant#1", 30L),
      ("giant#2", 30L), ("giant#3", 10L)))
  }

  test("capBlocks caps a NULL block key instead of nulling it uncapped") {
    // the dirty-data hot key is exactly the block the cap exists for
    val df = (1 to 70).map(i => (None: Option[String], i.toLong)) :+ ((Some("b"), 99L))
    val capped = Skew.capBlocks(df.toDF("block", "id"), $"block", $"id", maxPerBlock = 30)
    val sizes = capped.groupBy("__capped_block").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sizes.keys.forall(_ != null))
    assert(sizes("__null_block__#0") == 30L && sizes("__null_block__#2") == 10L)
    assert(sizes("b#0") == 1L)
  }

  /** Mixed profile: one over-cap block, one exactly-at-cap, one tiny,
    * and a null block of two rows — every edge the cap has. */
  private def mixed(hotId: Int => Long, edgeBase: Long, tail: Long) =
    ((1 to 75).map(i => (Some("hot"), hotId(i))) ++
      (1 to 30).map(i => (Some("edge"), edgeBase + i)) ++
      Seq((Some("tiny"), tail), (None: Option[String], tail + 1), (None, tail + 2)))
      .toDF("block", "id")

  private def subBlockSizes(capped: org.apache.spark.sql.DataFrame): Map[String, Long] =
    capped.groupBy("__capped_block").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap

  test("capBlocks assigns rank sub-blocks on the mixed fixture") {
    // hot 75 -> 30/30/15; exactly-at-cap stays one sub-block; the two
    // null-block rows get their own non-null key
    val capped = Skew.capBlocks(mixed(_.toLong, 100L, 200L), $"block", $"id",
      maxPerBlock = 30)
    assert(subBlockSizes(capped) == Map("hot#0" -> 30L, "hot#1" -> 30L,
      "hot#2" -> 15L, "edge#0" -> 30L, "tiny#0" -> 1L, "__null_block__#0" -> 2L))
    // rank order is by id: the sub-block boundary falls at id 30/31
    val hot = capped.where($"block" === "hot").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("__capped_block"))).toMap
    assert(hot(30L) == "hot#0" && hot(31L) == "hot#1" && hot(61L) == "hot#2")
  }

  test("capBlocks and capBlocksHashed run no Spark job at construction") {
    // one lazy plan each: neither an all-hot nor a mostly-cold corpus
    // may trigger a measurement action while the plan is built
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def jobsDuring(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    val hot = (1 to 100).map(i => ("giant", i.toLong)).toDF("block", "id")
    val cold = ((1 to 100).map(i => (s"b${i % 50}", i.toLong)) ++
      (1 to 40).map(i => ("hot", (1000 + i).toLong))).toDF("block", "id")
    for ((name, df) <- Seq("all-hot" -> hot, "mostly-cold" -> cold)) {
      val rank = jobsDuring {
        Skew.capBlocks(df, $"block", $"id", maxPerBlock = 30).queryExecution.executedPlan
      }
      assert(rank == 0, s"capBlocks on the $name corpus ran $rank jobs at construction")
      val hashed = jobsDuring {
        Skew.capBlocksHashed(df, $"block", $"id", maxPerBlock = 30).queryExecution.executedPlan
      }
      assert(hashed == 0, s"capBlocksHashed on the $name corpus ran $hashed jobs at construction")
    }
    // positive control: the same listener sees an action's job
    assert(jobsDuring(hot.count()) > 0)
  }

  test("capBlocks rejects reserved columns and non-positive caps") {
    val df = Seq(("g", 1L)).toDF("block", "__rn")
    intercept[IllegalArgumentException] {
      Skew.capBlocks(df, $"block", $"__rn", maxPerBlock = 10)
    }
    intercept[IllegalArgumentException] {
      Skew.capBlocks(Seq(("g", 1L)).toDF("block", "id"), $"block", $"id", 0)
    }
  }

  test("capBlocks with zero over-cap blocks plans no joins at all") {
    // a cap above every block (the safety-valve setting): the rank
    // window still runs, every row lands in sub-block 0 and none is
    // lost — and the plan stays join-free
    val df = (1 to 50).map(i => (s"b${i % 10}", i.toLong)).toDF("block", "id")
    val capped = Skew.capBlocks(df, $"block", $"id", maxPerBlock = 30)
    val planned = capped.queryExecution.sparkPlan.toString
    assert(!planned.contains("Join"), s"capBlocks must be join-free:\n$planned")
    val sizes = subBlockSizes(capped)
    assert(sizes.keys.forall(_.endsWith("#0")) && sizes.values.sum == 50L)
  }

  test("capBlocksHashed bounds expected sub-block fan-out and keeps every row") {
    // one giant block (200 rows, cap 30 -> ceil = 7 sub-blocks), one
    // under-cap block: fan-out must be exactly ceil(n/cap) POSSIBLE
    // sub-blocks with every assignment in range, rows preserved, and
    // the hash spread must actually use >1 sub-block (the stride-id
    // collapse this mix exists to avoid: ids below are stride-8)
    val rows = (1 to 200).map(i => ("giant", i.toLong * 8)) ++
      (1 to 10).map(i => ("small", (10000 + i).toLong))
    val df = rows.toDF("block", "id")
    val capped = Skew.capBlocksHashed(df, $"block", $"id", maxPerBlock = 30)
    val out = capped.select("block", "id", "__capped_block").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.length == 210 && out.map(t => (t._1, t._2)).toSet == rows.toSet)
    val giantSubs = out.filter(_._1 == "giant").map(_._3).distinct
    assert(giantSubs.forall { s =>
      val i = s.stripPrefix("giant#").toInt; i >= 0 && i < 7
    }, s"sub-block index out of [0,7): ${giantSubs.mkString(",")}")
    assert(giantSubs.length >= 5,
      s"stride-8 ids collapsed to ${giantSubs.length} of 7 sub-blocks — hash mix degenerated")
    assert(out.filter(_._1 == "small").map(_._3).distinct.toSeq == Seq("small#0"))
    // deterministic: a second plan assigns identically
    val again = Skew.capBlocksHashed(df, $"block", $"id", maxPerBlock = 30)
      .select("block", "id", "__capped_block").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(again.sortBy(t => (t._1, t._2)).toSeq == out.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("capBlocksHashed plans no sort and no window") {
    // the profile's whole point: an over-cap block must not serialize
    // a rank-window sort onto one task
    val df = (1 to 100).map(i => ("giant", i.toLong)).toDF("block", "id")
    val planned = Skew.capBlocksHashed(df, $"block", $"id", maxPerBlock = 30)
      .queryExecution.sparkPlan.toString
    assert(!planned.contains("Window") && !planned.contains("Sort"),
      s"hashed sub-blocking must be sort-free:\n$planned")
  }

  test("capBlocksHashed caps a NULL block and rejects non-integral order columns") {
    val withNull = ((1 to 70).map(i => (None: Option[String], i.toLong)) :+
      ((Some("b"), 99L))).toDF("block", "id")
    val sizes = Skew.capBlocksHashed(withNull, $"block", $"id", maxPerBlock = 30)
      .groupBy("__capped_block").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(sizes.forall(_._1 != null))
    assert(sizes.filter(_._1.startsWith("__null_block__#")).map(_._2).sum == 70L)
    val strings = Seq(("g", "x")).toDF("block", "id")
    val err = intercept[IllegalArgumentException] {
      Skew.capBlocksHashed(strings, $"block", $"id", maxPerBlock = 10)
    }
    assert(err.getMessage.contains("integral"))
  }

  test("capBlocksHashed assigns hashed sub-blocks on the mixed fixture") {
    // hot 75 -> ceil(75/30) = 3 hashed sub-blocks (sizes from the
    // portable replay of stride-8 ids); blocks at or under the cap
    // scale to "#0" by arithmetic (nSub = 1)
    val capped = Skew.capBlocksHashed(mixed(_.toLong * 8, 1000L, 2000L), $"block", $"id",
      maxPerBlock = 30)
    assert(subBlockSizes(capped) == Map("hot#0" -> 24L, "hot#1" -> 24L,
      "hot#2" -> 27L, "edge#0" -> 30L, "tiny#0" -> 1L, "__null_block__#0" -> 2L))
  }

  test("capBlocksHashed plans one join and no union/sort/window") {
    // per-block counts joined onto every row: no split, no union, and
    // — unlike the rank window — no sort
    val df = (1 to 100).map(i => ("giant", i.toLong)).toDF("block", "id")
    val planned = Skew.capBlocksHashed(df, $"block", $"id", maxPerBlock = 30)
      .queryExecution.sparkPlan.toString
    assert(!planned.contains("Union") && !planned.contains("Window") &&
      !planned.contains("Sort"),
      s"hashed plan must be split-free and sort-free:\n$planned")
    assert(planned.contains("Join"), s"counts must join onto the rows:\n$planned")
  }

  test("capBlocksHashed keeps null-id rows and folds negative ids like the oracle") {
    // null ids: concat is null-intolerant — an unfolded null id would
    // null __capped_block and silently drop the row from every
    // non-null-safe consumer downstream (rank mode keeps null-id rows,
    // so hashed mode must too; they fold to id 0). Negative ids: the
    // operator folds via pmod and the portable replay is the sign-safe
    // ((x % m) + m) % m on both engines — pinned here against a local
    // replay of the documented formula, because the xxhash64 pre-hash
    // the operator's own error message recommends is negative for half
    // of all inputs.
    val rows = (1 to 60).map(i => ("giant", Some((i - 30).toLong * 7919))) ++
      Seq(("giant", None), ("giant", None))
    val df = rows.toDF("block", "id")
    val out = Skew.capBlocksHashed(df, $"block", $"id", maxPerBlock = 20)
      .select("id", "__capped_block").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
    assert(out.length == 62 && out.forall(_._2 != null),
      "null/negative ids must keep rows with non-null capped blocks")
    val nSub = (62 - 1) / 20 + 1
    def replay(id: Long): Long = {
      val m = 2147483648L
      val folded = ((id % m) + m) % m
      (((folded * 2654435761L) % 4294967296L) * nSub) / 4294967296L
    }
    out.foreach { case (id, cb) =>
      val want = s"giant#${replay(id.getOrElse(0L))}"
      assert(cb == want, s"id=$id assigned $cb, portable replay says $want")
    }
  }
}
