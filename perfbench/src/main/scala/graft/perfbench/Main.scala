package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{Bench, Engine, SparkEntry}
import graft.analytics.Analytics
import graft.matching.Matching
import graft.operators.{Dedup, LshEncoding}
import graft.pipeline.JobPipeline
import graft.streaming.CvIngest

/** Benchmark process: one workload in one `local[N]` session.
  *
  *   prepare OUT_JSON WORK
  *       dump the DuckDB oracle SQL the output checks replay, plus the
  *       q104 corpus constants the input generator needs; then start a
  *       session and run a small parquet round trip, so a
  *       class-data-sharing archive dumped at this JVM's exit holds the
  *       classes every run loads at start-up
  *   run --workload W --inputs DIR --work DIR --seconds S --trace 0|1
  *       --fork-ms T --cores N [--min-iters N] [--warmups N]
  *       in a `local[cores]` session, warm up (N iterations), then
  *       measure iterations for S seconds; write
  *       DIR/result.json (timings, witnesses, fingerprints, and the
  *       trace when --trace 1) and the last iteration's check outputs
  *
  * Input generation, output checks and metric reduction live in
  * `perfbench/run.py` and its modules; this process only measures.
  */
object Main {

  private val Clock = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  final case class Conf(workload: String, inputs: String, work: String,
      seconds: Double, trace: Boolean, forkMs: Long, minIters: Int, warmups: Int,
      cores: String)

  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: out :: work :: Nil => prepare(out, work)
    case "run" :: rest => run(parse(rest))
    case _ =>
      System.err.println("usage: Main prepare OUT WORK | Main run --workload W --inputs D --work D " +
        "--seconds S --trace 0|1 --fork-ms T --cores N [--min-iters N] [--warmups N]")
      sys.exit(2)
  }

  private def parse(args: List[String]): Conf = {
    val m = args.grouped(2).collect { case List(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("fork-ms").toLong,
      m.getOrElse("min-iters", "1").toInt, m.getOrElse("warmups", "1").toInt,
      m("cores"))
  }

  private val OracleQueries = Seq("q104_pipeline_composite", "q50_matching_scores",
    "q53_neardedup_survivors", "q105_cv_ingest_stream")

  private def prepare(out: String, work: String): Unit = {
    val sql = SparkEntry.oracleSql
    val json = JObject(
      "oracles" -> JObject(OracleQueries.map(q => q -> JString(sql(q))): _*),
      "constants" -> JObject(graft.queries.PerfbenchCatalog.constants
        .map { case (k, vs) => k -> JArray(vs.map(JString(_)).toList) }: _*))
    Files.writeString(Paths.get(out), compact(render(json)), UTF_8)
    val spark = Engine.session("perfbench", "4")
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(s"$work/t")
    spark.read.parquet(s"$work/t").groupBy("k").count().collect()
    spark.stop()
  }

  // ---------------------------------------------------------------- run

  /** One measured iteration's timings: named phases in seconds, and the
    * iteration's samples of what a user waits for, in seconds. */
  final case class Timed(phases: Seq[(String, Double)], latency: Seq[Double])

  /** A workload: a timed iteration over pre-generated inputs, plus the
    * untimed pieces (fingerprint of the outputs, check outputs). */
  trait Workload {
    def items: Long
    /** One iteration; `measured` is false for the warm-up. */
    def iteration(dir: String, measured: Boolean): Timed
    /** Order-independent digest of the iteration's outputs. */
    def fingerprint(dir: String): String
    /** Write what the output check reads (last iteration only). */
    def writeCheck(dir: String, checkDir: String): Unit
    /** Extra layer figures, gathered once outside the timed spans. */
    def extras(dir: String): Seq[(String, Double)] = Nil
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** count + sum of a 64-bit row hash: equal for equal row multisets. */
  private def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)), coalesce(sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)")), lit(0))).first()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def run(c: Conf): Unit = {
    val marks = mutable.ArrayBuffer("main" -> System.currentTimeMillis())
    val spark = Engine.session("perfbench", c.cores)
    marks += "session" -> System.currentTimeMillis()
    spark.sparkContext.setCheckpointDir(s"${c.work}/scratch")
    val tr = new Trace(spark)
    val heap = new HeapWatch
    val wl: Workload = c.workload match {
      case "daily_batch" => new DailyBatch(spark, c.inputs, tr)
      case "pairs" => new Pairs(spark, c.inputs, tr)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    marks += "workload" -> System.currentTimeMillis()
    val checkDir = s"${c.work}/check"
    val iters = mutable.ArrayBuffer.empty[JValue]
    var iterNo = 0

    // `compare`: whether this iteration's outputs must be digested, i.e.
    // whether there is another measured iteration to compare them with
    def oneIteration(traced: Boolean, last: Boolean, measured: Boolean,
        compare: Boolean): Unit = {
      iterNo += 1
      val dir = s"${c.work}/iter-$iterNo"
      if (traced) tr.attach() else tr.detach()
      tr.setIteration(iterNo)
      val probe0 = Bench.cpuProbeMs()
      val steal0 = Bench.procStatStealUsec
      val w0 = System.nanoTime()
      val (timed, err) =
        try (Some(wl.iteration(dir, measured)), "")
        catch { case e: Throwable => (None, s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = secs(w0)
      val steal1 = Bench.procStatStealUsec
      val probe1 = Bench.cpuProbeMs()
      if (traced) tr.detach()
      val fp = if (timed.isEmpty || !compare) "" else
        try wl.fingerprint(dir) catch { case e: Throwable => s"error: ${e.getMessage}" }
      if (timed.nonEmpty && last) wl.writeCheck(dir, checkDir)
      val extras = if (timed.nonEmpty && traced) wl.extras(dir) else Nil
      Bench.resetSession(spark)
      deleteRecursively(new File(dir))
      if (measured) iters += JObject(
        "iter" -> JLong(iterNo), "traced" -> JBool(traced), "items" -> JLong(wl.items),
        "wall_s" -> JDouble(wall), "ok" -> JBool(timed.nonEmpty), "error" -> JString(err),
        "phases" -> JObject(timed.toList.flatMap(_.phases).map { case (k, v) => k -> JDouble(v) }),
        "latency_s" -> JArray(timed.toList.flatMap(_.latency).map(JDouble(_))),
        "probe_ms" -> JArray(List(probe0, probe1).map(p => JDouble(p.getOrElse(-1.0)))),
        "steal_s" -> JDouble(steal0.zip(steal1).map { case (a, b) => (b - a) / 1e6 }.getOrElse(-1.0)),
        "fingerprint" -> JString(fp),
        "extras" -> JObject(extras.toList.map { case (k, v) => k -> JDouble(v) }))
    }

    // warm-up: full iterations, untimed and untraced
    var warmWall = 0.0
    for (_ <- 1 to c.warmups) {
      val warm0 = System.nanoTime()
      oneIteration(traced = false, last = false, measured = false, compare = false)
      warmWall = secs(warm0)
      marks += "warmup" -> System.currentTimeMillis()
    }
    val setupEndMs = System.currentTimeMillis()
    heap.reset()

    // measured window. A trace run alternates untraced and traced
    // iterations, starting and ending untraced, so its tracing overhead
    // is measured in-process and no side carries the first iteration.
    val t0 = System.nanoTime()
    val minIters = if (c.trace) 3 else c.minIters
    var n = 0
    var lastWall = warmWall
    var done = false
    while (!done) {
      n += 1
      val traced = c.trace && n % 2 == 0
      // decide "last" before running, so the check output comes from a
      // measured iteration and the window ends near `seconds`
      val last = n >= minIters && secs(t0) + lastWall >= c.seconds && !traced
      val w0 = System.nanoTime()
      oneIteration(traced, last, measured = true, compare = !(last && n == 1))
      lastWall = secs(w0)
      done = last || n >= 200
    }

    val result = JObject(
      "workload" -> JString(c.workload),
      "fork_ms" -> JLong(c.forkMs),
      "setup_end_ms" -> JLong(setupEndMs),
      "marks" -> JArray(marks.toList.map { case (k, t) => JObject(k -> JLong(t)) }),
      "peak_heap_mb" -> JDouble(heap.peakAfterGcMb),
      "iters" -> JArray(iters.toList),
      "trace" -> (if (c.trace) tr.toJson else JNull))
    Files.writeString(Paths.get(s"${c.work}/result.json"), compact(render(result)), UTF_8)
    heap.close()
    spark.stop()
  }

  // ------------------------------------------------------- daily_batch

  /** Timed dashboard refreshes per measured daily_batch iteration (one
    * in a warm-up), after one untimed refresh: the first read of freshly
    * loaded offers takes about twice as long as the ones after it. Each
    * timed refresh is one latency sample; a run measures one iteration. */
  private val Refreshes = 5

  /** The day's ingest, then its dashboards. The landed CV backlog is
    * drained through `CvIngest.ingestFiles` (AvailableNow), and the raw
    * offer blobs go through `JobPipeline.enrich(materialize = true)` →
    * `loadWarehouse`. Then the five dashboard aggregates are read over
    * the loaded offers, once untimed and then [[Refreshes]] times. The
    * ingest phase times both legs; each timed refresh is a latency
    * sample. */
  final class DailyBatch(spark: SparkSession, inputs: String, tr: Trace) extends Workload {
    private val backlog = s"$inputs/cv_backlog"
    private val offers: Long = spark.read.parquet(s"$inputs/blobs.parquet").count()
    private val cvs: Long = spark.read.text(backlog).count()
    /** Records ingested per iteration: offers and CVs. */
    val items: Long = offers + cvs
    private var dashboards = ""

    def iteration(dir: String, measured: Boolean): Timed = {
      val t0 = System.nanoTime()
      tr.span("streaming.drain")(CvIngest.ingestFiles(spark, backlog, s"$dir/cvs",
        s"$dir/cvs_chk", Some(Clock)))
      val blobs = tr.span("engine.table")(Engine.table(spark, inputs, "blobs"))
      val pipe = new JobPipeline(spark, s"$dir/lake", Some(Clock))
      val enriched = tr.span("stages")(pipe.enrich(blobs, materialize = true))
      tr.span("sources.warehouse")(pipe.loadWarehouse(enriched, s"$dir/warehouse"))
      val ingest = secs(t0)
      val refreshes = (0 to (if (measured) Refreshes else 1)).map { _ =>
        val t1 = System.nanoTime()
        val boards = tr.span("analytics.dashboard")(Seq(
          Analytics.offersPerDay(enriched), Analytics.topSkills(enriched),
          Analytics.salaryBySectorExperience(enriched), Analytics.contractMix(enriched),
          Analytics.skillsBySector(enriched)).map(_.collect()))
        dashboards = boards.map(_.map(_.toString).sorted.mkString("|")).mkString("#")
        secs(t1)
      }
      Timed(Seq("ingest_s" -> ingest), refreshes.tail)
    }

    private def enriched(dir: String) = spark.read.parquet(s"$dir/lake/jobs_enriched_sectors")

    private def drained(dir: String) = q105Shape(spark.read.parquet(s"$dir/cvs"))

    def fingerprint(dir: String): String =
      s"${digest(q104Shape(enriched(dir)))}:${digest(drained(dir))}:boards=${dashboards.hashCode}"

    /** The q104 projection, the warehouse fact row count (one fact row
      * per surviving offer) and q105's projection of the drained CVs. */
    def writeCheck(dir: String, checkDir: String): Unit = {
      q104Shape(enriched(dir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/daily_batch")
      val facts = spark.read.parquet(s"$dir/warehouse/Fact_OffresEmploi").count()
      Files.writeString(Paths.get(s"$checkDir/warehouse_facts.txt"), facts.toString)
      drained(dir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/cv_stream")
    }

    /** q104's output projection of the enriched offers. */
    private def q104Shape(e: DataFrame): DataFrame = {
      import graft.queries.roundSafe
      e.select(
        col("job_id"), col("source"), col("title"), col("company"), col("location"),
        col("contract_type"),
        concat_ws(",", array_sort(col("skills"))).as("skills_sorted"),
        size(col("skills")).cast("long").as("n_skills"),
        roundSafe(col("completeness_score"), 4).as("completeness"),
        col("salary_min_fcfa").cast("long").as("salary_min_fcfa"),
        col("salary_max_fcfa").cast("long").as("salary_max_fcfa"),
        roundSafe(col("salary_avg_fcfa").cast("double"), 2).as("salary_avg_fcfa"),
        col("salary_currency_original").as("currency_original"),
        col("salary_period").as("period_normalized"),
        roundSafe(col("salary_confidence").cast("double"), 6).as("salary_confidence"),
        col("salary_source"),
        col("secteur_id"), col("secteur_nom"), col("categorie_parent"),
        roundSafe(col("sector_confidence").cast("double"), 6).as("sector_confidence"))
    }
  }

  // -------------------------------------------------------------- match

  /** Offer and CV fact rows → `Matching.score` (defaults) →
    * `topKPerCandidate(5)` → `agg_matching_scores` parquet. */
  final class MatchWl(spark: SparkSession, inputs: String, tr: Trace) extends Workload {
    val items: Long = spark.read.parquet(s"$inputs/cvs.parquet").count()

    private def out(dir: String) = s"$dir/agg_matching_scores"

    def iteration(dir: String, measured: Boolean): Timed = {
      val t0 = System.nanoTime()
      val offers = tr.span("engine.table")(Engine.table(spark, inputs, "offers"))
      val cvs = tr.span("engine.table")(Engine.table(spark, inputs, "cvs"))
      val scores = tr.span("matching.score")(Matching.score(offers, cvs))
      tr.span("matching.pairs")(
        Matching.topKPerCandidate(scores, 5).write.parquet(out(dir)))
      Timed(Seq("match_s" -> secs(t0)), Nil)
    }

    private def delivered(dir: String) =
      spark.read.parquet(out(dir)).drop("calculated_at")

    def fingerprint(dir: String): String = digest(delivered(dir))

    def writeCheck(dir: String, checkDir: String): Unit =
      delivered(dir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/match")

    override def extras(dir: String): Seq[(String, Double)] = {
      val pairs = Matching.score(Engine.table(spark, inputs, "offers"),
        Engine.table(spark, inputs, "cvs")).count()
      val rows = spark.read.parquet(out(dir)).count()
      Seq("matching.pairs_scored" -> pairs.toDouble,
        "matching.topk_yield" -> (if (pairs > 0) rows.toDouble / pairs else 0.0))
    }
  }

  // ------------------------------------------------------------ neardup

  private val LshK = 16
  private val LshBandRows = 4
  private val LshThreshold = 0.4

  /** The documents corpus → `Dedup.nearDedup` (Auto encoding) →
    * survivors parquet. The call runs the LSH pair stage and the
    * connected components eagerly (span "dedup", split between
    * dedup.lsh and dedup.cc by the reducer); the survivors' anti-join
    * runs in the write. */
  final class NearDup(spark: SparkSession, inputs: String, tr: Trace) extends Workload {
    val items: Long = spark.read.parquet(s"$inputs/documents.parquet").count()

    private def out(dir: String) = s"$dir/survivors"

    def iteration(dir: String, measured: Boolean): Timed = {
      val t0 = System.nanoTime()
      val docs = tr.span("engine.table")(Engine.table(spark, inputs, "documents"))
      val survivors = tr.span("dedup")(
        Dedup.nearDedup(docs, "doc_id", "text", LshK, LshBandRows, LshThreshold))
      tr.span("dedup.survivors")(survivors.write.parquet(out(dir)))
      Timed(Seq("dedup_s" -> secs(t0)), Nil)
    }

    def fingerprint(dir: String): String = digest(spark.read.parquet(out(dir)))

    def writeCheck(dir: String, checkDir: String): Unit =
      spark.read.parquet(out(dir)).select("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$checkDir/neardup")

    override def extras(dir: String): Seq[(String, Double)] = {
      val docs = Engine.table(spark, inputs, "documents")
      val candidates = Dedup.bandBucketSizes(docs, "doc_id", "text", LshK, LshBandRows)
        .agg(coalesce(sum(expr("size * (size - 1) div 2")), lit(0L))).first().getLong(0)
      val pairsDf = Dedup.minhashLshPairs(docs, "doc_id", "text",
        LshK, LshBandRows, LshThreshold, LshEncoding.Auto)
      val plan = pairsDf.queryExecution.analyzed.toString
      val bitmap = plan.contains("bit_count") || plan.contains("BitmapJaccard")
      val kept = pairsDf.count()
      // rounds of the distributed contraction: one `h<N>` stage per round
      // in the connected-components scratch dir (0 = driver union-find)
      val scratch = spark.sparkContext.getCheckpointDir.map(p => new File(new java.net.URI(p)))
      val rounds = scratch.flatMap(d => Option(d.listFiles)).toSeq.flatten
        .filter(_.getName.startsWith("graft-cc-"))
        .map(d => Option(d.list).toSeq.flatten.count(_.matches("h\\d+"))).maxOption
        .getOrElse(0)
      Seq("dedup.lsh.candidates" -> candidates.toDouble,
        "dedup.lsh.verify_yield" -> (if (candidates > 0) kept.toDouble / candidates else 0.0),
        "dedup.lsh.bitmap" -> (if (bitmap) 1.0 else 0.0),
        "dedup.cc.rounds" -> rounds.toDouble)
    }
  }

  // -------------------------------------------------------------- pairs

  /** The two pair-generating operators, one after the other: offer×CV
    * matching, then document near-dedup. Neither uses the textkit
    * kernels; the per-layer trace splits them. The iteration's latency
    * sample is the whole round: every CV's top-5 delivered and the
    * corpus deduplicated. (The near-dedup alone reads about 2.1 s in
    * some benchmark processes and 2.8 s in others, on the same inputs,
    * so a latency of its own would spread by more than its bound.) */
  final class Pairs(spark: SparkSession, inputs: String, tr: Trace) extends Workload {
    private val matching = new MatchWl(spark, inputs, tr)
    private val parts = Seq(matching, new NearDup(spark, inputs, tr))
    /** The throughput counts matched CVs; near-dedup is timed as latency. */
    val items: Long = matching.items
    private def sub(dir: String, i: Int) = s"$dir/part-$i"
    def iteration(dir: String, measured: Boolean): Timed = {
      val t0 = System.nanoTime()
      val timed = parts.zipWithIndex.map { case (p, i) => p.iteration(sub(dir, i), measured) }
      Timed(timed.flatMap(_.phases), Seq(secs(t0)))
    }
    def fingerprint(dir: String): String =
      parts.zipWithIndex.map { case (p, i) => p.fingerprint(sub(dir, i)) }.mkString("|")
    def writeCheck(dir: String, checkDir: String): Unit =
      parts.zipWithIndex.foreach { case (p, i) => p.writeCheck(sub(dir, i), checkDir) }
    override def extras(dir: String): Seq[(String, Double)] =
      parts.zipWithIndex.flatMap { case (p, i) => p.extras(sub(dir, i)) }
  }

  // ------------------------------------------------------------ q105

  /** q105's output projection of the Fact_CVs sink. */
  private def q105Shape(d: DataFrame): DataFrame = d.select(
    col("cv_id"),
    col("annees_experience").cast("long").as("annees_experience"),
    col("niveau_etudes"),
    col("localisation_souhaitee_id"),
    col("secteur_souhaite_id"),
    col("salaire_souhaite").cast("double").as("salaire_souhaite"),
    col("type_contrat_souhaite"),
    col("teletravail_souhaite"),
    concat_ws(",", array_sort(col("competences"))).as("competences_sorted"),
    concat_ws(",", array_sort(col("competences_ids"))).as("competence_ids_sorted"),
    concat_ws(",", col("certifications")).as("certifications_joined"),
    concat_ws(",", transform(col("langues"), l => l.getField("langue"))).as("langues_joined"),
    col("source_site"), col("url_cv"), col("domaine_etudes"), col("statut"),
    col("disponibilite"),
    col("scraped_at").isNotNull.as("scraped_ok"),
    col("scraped_date").cast("string").as("scraped_date_str"))

  // ------------------------------------------------------------- heap

  /** Peak live heap: the largest heap occupancy left after any GC
    * (young or full) since the last [[reset]]. */
  final class HeapWatch {
    import java.lang.management.ManagementFactory
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    import scala.jdk.CollectionConverters._

    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        if (used > peak) peak = used
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def reset(): Unit = peak = 0L
    def peakAfterGcMb: Double = peak / 1048576.0
    def close(): Unit = emitters.foreach(e =>
      try e.removeNotificationListener(listener) catch { case _: Throwable => () })
  }
}
