package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: one JSON line with per-query wall times.
  *
  * A warmup pass at sf0.001 (disable with SPARK_GRAFT_WARMUP=0) runs
  * every query once so JIT + whole-stage-codegen compilation doesn't
  * land in the measured numbers — first-run skew was up to 10x on the
  * codegen-heavy operators. Warm per-query timings of a few queries:
  * SPARK_GRAFT_ONLY=q50_…,q18_… with SPARK_GRAFT_ITERS.
  *
  * Queries are executed through the `noop` sink, not `count()`: a
  * count() over a projection-only plan prunes every expression (and on
  * parquet collapses to a metadata count), which would "measure" the
  * string/date/hash kernels as free. The noop write evaluates every
  * output column and discards rows executor-side.
  *
  * The artifact is built to be self-evidencing against machine
  * contention (the round-5 driver run started at load-average 5.2 and
  * reported q50 at 98 s against a 5.2 s isolated cost — indistinguishable
  * from a regression using the old median-only line):
  *   - every iteration of every query is recorded, with the 1-minute
  *     load average sampled at each query's start, in a JSON detail
  *     file (SPARK_GRAFT_DETAIL, default BENCH_DETAIL.json in-repo);
  *   - the stdout line carries a compact `spread` map (max/min
  *     WARM-iteration ratio per query, emitted only where the spread
  *     is material: ratio > 1.5 AND absolute range > 0.5 s) and a
  *     top-level `contended` flag (pre-suite 1-minute load average
  *     > 3.0 — the sbt launch itself leaves ~2 on this box — or any
  *     query with spread ratio > 2 AND absolute range > 1 s);
  *   - after the suite, every query flagged with a material spread —
  *     plus, on a contended run, the 5 heaviest queries regardless of
  *     spread (steady external load inflates every iteration uniformly
  *     and leaves no spread to flag) — is
  *     re-run (the machine is presumably quieter by then): two
  *     executions, the SECOND reported — the first re-pays whatever
  *     page-cache/JIT warm-up the intervening ~90 queries evicted,
  *     which is exactly the iteration-1 shape the spread logic
  *     excludes, so reporting it would bias reruns toward falsely
  *     confirming slowdowns. The warm time lands as `rerun` in the
  *     detail entry (with `rerun_load`, the 1-minute load average
  *     sampled at rerun start — a loaded rerun window must not read
  *     as a confirmed regression) and in a compact stdout map: a
  *     rerun near the query's min resolves the flag as contention
  *     in-artifact; a rerun near the max on a quiet rerun window says
  *     the slowdown is real — where "quiet" is judged by hypervisor
  *     STEAL over the rerun window, not loadavg (see
  *     [[procStatStealUsec]] / [[confirmOutcome]]): a tripwire
  *     candidate whose confirming rerun ran storm-grade is retried
  *     once and then discarded, never `regressed`; and (round 17) a
  *     Confirmed candidate whose own in-suite windows were
  *     storm-peak-degraded under a suite-attributed external regime
  *     lands in `regressed_unverifiable_regime` instead of
  *     `regressed` — the episode-spans-suite-and-rerun case the
  *     per-window grading cannot see (see [[unverifiableRegime]]);
  *   - the consumer keeps only the LAST ~2000 chars of stdout, so the
  *     queries map is ordered by ascending median — the expensive
  *     (interesting) queries and the contention evidence land in the
  *     preserved tail even when the front of the line is truncated;
  *   - (round 10) container-scoped CPU accounting alongside the
  *     host-wide load average: per-query cgroup and own-JVM CPU-time
  *     deltas in the detail file, and a suite-level
  *     `contention_source` ("container" / "host" / "unknown" /
  *     "none") that attributes a contended run — /proc/loadavg on
  *     this box is host-wide, so both the r8 and r9 driver artifacts
  *     could say only "load was high" without naming whose load
  *     (see [[cgroupCpuUsec]] / [[contentionSource]]).
  */
object Bench {

  def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Release everything the finished query left behind: operator
    * caches (pageRank/mergeClusters/ANN indexes pin their plans'
    * working sets) and scratch-parquet dirs (CC rounds, matching
    * staging). Without this a 94-query session accumulates dozens of
    * MEMORY_AND_DISK caches whose eviction churn inflated later
    * queries 5-20x in the round-3 driver bench — the medians were
    * measuring cache pressure, not the engine. Clearing BETWEEN
    * queries keeps iterations 2..n of each query warm (that is the
    * measurement) while making query order irrelevant. */
  def resetSession(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.operators.Scratch.releaseAll()
    // footer-fact + BSS-restage memos: releaseAll just deleted any
    // staged dirs, and a rehearsal/spec that rewrites a table path
    // between queries must not inherit pre-rewrite facts (the caches'
    // immutability contract is per harness query, not per JVM)
    graft.Engine.invalidateFooterFacts()
    // Terminated streaming queries leave their state-store PROVIDERS
    // loaded (in-memory version maps per partition per operator) until
    // the maintenance task's next tick notices they're inactive — in a
    // local[N] bench the executors share the driver JVM, so a few
    // session-window/join runs pin hundreds of MB and later heavy
    // queries measure heap pressure, not plan cost (q50 in-suite read
    // 2.5x its isolated median until this). Streaming runs here use
    // transient checkpoints — nothing resumes — so dropping every
    // provider at the query boundary is pure release.
    org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess
      .unloadAllStateStores()
    // ContextCleaner is weak-reference-driven: shuffle files, broadcast
    // blocks and accumulators from finished queries are deleted only
    // after a GC notices the dead references — and a 100-query bench on
    // a large, mostly-idle heap may never trigger one, so executor-disk
    // and block-manager state from EVERY prior query piles into later
    // measurements (SPARK_GRAFT_GC=0 disables for A/B probes).
    if (sys.env.getOrElse("SPARK_GRAFT_GC", "1") != "0") System.gc()
  }

  /** Per-query measurement: every iteration time, the load average
    * sampled when the query started, and the failure bit.
    * (package-visible so BenchEvidenceSpec can pin the spread
    * semantics the artifact's contended flag rests on) */
  private[graft] case class Measured(times: Seq[Double], loadAtStart: Double,
                                     failed: Boolean) {
    def median: Double =
      if (failed || times.isEmpty) -1.0
      else times.sorted.apply(times.length / 2) // upper median, no interpolation
    def min: Double = if (times.isEmpty) -1.0 else times.min
    /** Iterations 2..n: the first run at the measured SF pays
      * size-specific JIT tiers and page-cache warming (2-5x on the
      * heavy queries in EVERY idle-machine run), which is warm-up, not
      * contention — spread evidence must not count it. */
    private def warm: Seq[Double] =
      if (times.length >= 3) times.drop(1) else times
    /** max/min WARM-iteration ratio — ~1.0 on a quiet machine; a
      * transient external load spike hits some iterations and not
      * others, so a big ratio is direct in-artifact evidence of
      * contention. */
    def spreadRatio: Double =
      if (failed || warm.isEmpty || warm.min <= 0) 1.0
      else warm.max / warm.min
    /** absolute warm-iteration range — a sub-second query jitters past
      * 2x ratio on any machine, so ratio alone over-flags; evidence
      * must also be material in wall-clock terms. */
    def spreadAbs: Double =
      if (failed || warm.isEmpty) 0.0 else warm.max - warm.min
    def material: Boolean = spreadRatio > 1.5 && spreadAbs > 0.5
  }

  /** Queries that earn a post-suite rerun: material spread evidence on
    * a query that completed (a failed query's -1 median is already its
    * own signal — re-timing it proves nothing about contention), plus —
    * when the RUN-level contended flag is set — the `contendedTopN`
    * heaviest completed queries regardless of spread. Sustained
    * external load inflates every iteration uniformly (the driver's r7
    * run read q53 ~20% slow at spread 1.04 under load 8–11), a shape
    * the per-query spike-oriented spread flag is blind to; the heavy
    * queries are where uniform inflation costs the most wall-clock, so
    * they carry rerun evidence whenever the run as a whole was loaded. */
  private[graft] def rerunTargets(results: Seq[(String, Measured)],
      contended: Boolean, contendedTopN: Int = 5): Seq[String] = {
    val flagged = results.collect { case (k, m) if m.material && !m.failed => k }
    val heavy =
      if (!contended) Seq.empty
      else results.filter(!_._2.failed)
        .sortBy { case (k, m) => (-m.median, k) }.take(contendedTopN).map(_._1)
    (flagged ++ heavy).distinct
  }

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000
  private def r2(v: Double): Double = math.rint(v * 100) / 100

  /** Cumulative STEAL time from /proc/stat's aggregate cpu line, in
    * microseconds (USER_HZ=100 ticks → ×10,000). On this box /proc is
    * VM-scoped — user+system+softirq matches the container cgroup's
    * usage_usec to four significant digits — so the documented load
    * storms are the hypervisor STARVING this VM, and they surface as
    * steal. Steal accrues only while our own tasks are
    * runnable-but-denied, which makes stealΔ/wall the one external-
    * contention measure the bench's own 32-thread load cannot
    * contaminate: the 1-minute load average at rerun time reads 5-12
    * even on the cleanest committed control (BENCH_CONTROL_r12's
    * rerun_load spans 5.8-11.5 at 0.09 co-tenant cores), so a loadavg
    * threshold would brand EVERY rerun storm-grade. Calibration on a
    * quiet window: ~0.35 stolen cores idle, 0.67 under a full 32-core
    * spin — hence the default storm bar at 2.0 (SPARK_GRAFT_STORM_STEAL
    * overrides). Absent /proc/stat (non-Linux) → None and the confirm
    * leg degrades to always-quiet, i.e. pre-round-13 behavior. */
  private[graft] def procStatStealUsec: Option[Long] = procStatField(7)

  /** Cumulative IOWAIT, same units/source — recorded as EVIDENCE
    * alongside steal (per-query `iowait`, per-rerun `rerun_iowait`)
    * but NEVER an input to storm grading: iowait is OUR tasks waiting
    * on IO, so a genuine regression that adds spill IO would read as
    * an "iowait storm" and wrongly discard its own confirmation. The
    * field exists to let a reviewer tell a shared-storage disruption
    * (iowait-shaped) from a hypervisor storm (steal-shaped) from a
    * heap episode (own_cpu-shaped, like the r13 control-hunt's q18 at
    * [17.3, 52.6, 8.9] with 705 s own CPU and 0.48 steal). */
  private[graft] def procStatIowaitUsec: Option[Long] = procStatField(4)

  /** /proc/stat aggregate-cpu field at `idx` (0=user … 4=iowait,
    * 7=steal), USER_HZ(=100) ticks → microseconds. */
  private def procStatField(idx: Int): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().collectFirst {
        // cpu user nice system idle IOWAIT irq softirq STEAL ...
        case l if l.startsWith("cpu ") =>
          l.trim.split("\\s+").drop(1).lift(idx).map(_.toLong * 10000L)
      }.flatten finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Storm-grade external starvation over a measured window: at least
    * `bar` hypervisor-stolen cores on average. */
  private[graft] def stormGrade(stealCores: Option[Double], bar: Double): Boolean =
    stealCores.exists(_ >= bar)

  /** Fixed-work CPU probe ("CPI probe"): burns [[SpinIters]] xorshift64
    * steps on the calling thread and reports the thread-CPU
    * MILLISECONDS that fixed work cost. Thread-CPU for constant work
    * is the one witness of a DEGRADED-CPU window: hypervisor SMT/cache
    * co-tenancy inflates cycles-per-instruction, so the same
    * instructions burn more on-CPU seconds — while steal stays ~0 (the
    * vCPU IS running), loadavg stays clean, the cgroup delta blames
    * nobody, and GC logs show nothing. The round-14 control hunt
    * measured exactly that shape: q19_simhash at [5.9, 4.3, 8.2] s and
    * 120 s own CPU isolated at HEAD, then [1.43, 1.01, 1.00] s and
    * 27.7 s own CPU eleven minutes later at the SAME commit — steal
    * 0.00-0.03, /proc/cpuinfo MHz pinned at 2700, 445 ms total GC
    * pause — a 4.3x CPU-seconds inflation nothing in the r13 evidence
    * set could name (it landed two FALSE `regressed` entries, q19/q24,
    * whose confirm reruns ran inside the episode; SCALE.md round 14).
    * Wall time of the spin would conflate descheduling (steal's job)
    * with slow cycles; thread-CPU isolates the latter. No allocation
    * inside the loop, so GC cannot perturb it. ~40 ms per call on this
    * box clean — sized so a PER-ITERATION sample (the q18 x10 probe
    * run's 11.7 s blip iteration sat between 2.1 s neighbors and a
    * single end-of-query sample read ratio 1.0 — the episode was gone
    * by then) stays ~2% of suite wall, all of it in the untimed
    * hygiene window. None when the JVM cannot meter thread CPU. */
  private[graft] val SpinIters = 20000000L
  private[graft] def cpuProbeMs(): Option[Double] =
    try {
      val tm = java.lang.management.ManagementFactory.getThreadMXBean
      if (!tm.isCurrentThreadCpuTimeSupported) None
      else {
        var x = 0x9E3779B97F4A7C15L
        val c0 = tm.getCurrentThreadCpuTime
        var i = 0L
        while (i < SpinIters) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          i += 1
        }
        val c1 = tm.getCurrentThreadCpuTime
        // data dependency on x so the loop cannot be dead-code-eliminated
        if (x == 0L) System.err.print("")
        Some((c1 - c0) / 1e6)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** CPI-degradation grade of one probe reading against the run's
    * fastest reading (`floorMs`): ratio >= bar means the window's CPU
    * was materially degraded. Bar default 1.5, calibrated from one
    * night of episodes (SCALE.md round 14): every clean-window reading
    * measured ≤1.09x its run floor while every degraded window read
    * ≥1.55x (background hum 1.7-1.9x, storm peaks 2-18x) — and the one
    * false `regressed` the 2.0 draft bar admitted (q77, confirm rerun
    * on a 1.84x window) sat exactly in that hum band. 1.5 clears the
    * clean tail by 40% and undercuts every observed degradation
    * (SPARK_GRAFT_CPI_BAR overrides). The floor is self-calibrating
    * within the run; a run degraded END TO END cannot tell (documented
    * limit — the cross-run committed control catches that case
    * instead). Absent readings → false: evidence, not a gate. */
  private[graft] def cpuSlowGrade(probeMs: Option[Double],
      floorMs: Option[Double], bar: Double): Boolean =
    (for (p <- probeMs; f <- floorMs if f > 0) yield p / f >= bar)
      .getOrElse(false)

  /** Control-scrub window grading: sample <= bar x floor. Two absence
    * semantics, deliberately asymmetric (round-16 ADVICE): a missing
    * SAMPLE with a live floor is an ungraded window → dirty (keep
    * scrubbing); a missing FLOOR means the dimension never metered on
    * this JVM at all — grading every window dirty would doom all
    * SPARK_GRAFT_SCRUB_ATTEMPTS x N_queries attempts before the control
    * completes, so the dimension passes VACUOUSLY and the run records
    * the degradation (`scrub_unmetered` in the detail file). */
  private[graft] def scrubWindowClean(sampleMs: Option[Double],
      floorMs: Option[Double], bar: Double): Boolean =
    floorMs match {
      case Some(f) if f > 0 => sampleMs.exists(_ / f <= bar)
      case _                => true
    }

  /** Fixed-work MEMORY probe: [[MemChaseSteps]] dependent loads walked
    * along a Sattolo single-cycle permutation over a 256 MiB int array,
    * reported as thread-CPU milliseconds for the fixed work. Exists
    * because the xorshift spin above is REGISTER-ONLY and provably
    * blind to the memory dimension (round-15 "regime finding":
    * probe-clean readings ran 1.25x aggregate — 1.5-2x on untouched
    * q69/q91/q08 — vs the r12 clean-era control while the spin floor
    * stayed byte-identical at ~41 ms; the host was busy in a dimension
    * the spin cannot see). A dependent-load chase is the sensitive
    * instrument for that dimension: every step is a ~full memory
    * latency, and co-tenant bandwidth pressure or LLC thrash inflates
    * observed latency directly. Memory stalls are charged to
    * thread-CPU (the thread is running, stalled), so like the spin it
    * cannot be contaminated by descheduling — steal stays the separate
    * witness.
    *
    * Sizing: this box's L3 is 105 MiB (measured, `lscpu`), so the
    * 64-128 MB buffer the round-15 verdict sketched would be mostly
    * LLC-RESIDENT here — 256 MiB keeps the steady-state walk
    * DRAM-dominated (<=41% could ever sit in L3). One probe call
    * touches `MemChaseSteps` distinct lines (~32 MiB of traffic); the
    * walk CONTINUES from the previous call's cursor, so back-to-back
    * calls traverse fresh segments of the 67M-slot cycle instead of
    * re-reading a just-warmed path (a restarted walk fits in L3 and
    * would read warm on exactly the quiet calibration windows that set
    * the floor). The work per call is identical regardless of cursor.
    * 2^19 steps ≈ 93-105 ms clean on this box (~190 ns/load) — 2x the
    * spin, all of it in untimed hygiene windows. Permutation built
    * once, lazily, from a fixed seed (deterministic); ~7 s and 256 MiB
    * of heap the first call pays, inside a 32 g bench JVM. Not
    * thread-safe (the cursor); all callers run on the main thread.
    * None when the JVM cannot meter thread CPU. */
  private[graft] val MemChaseSteps = 1 << 19
  private val MemChaseSlots = (256 << 20) / 4
  private lazy val memChase: Array[Int] = {
    val n = MemChaseSlots
    val a = new Array[Int](n)
    var i = 0
    while (i < n) { a(i) = i; i += 1 }
    // Sattolo's algorithm: swap each j with a strictly-lower random
    // slot — yields one n-cycle, so the chase visits distinct slots
    var x = 0x9E3779B97F4A7C15L
    var j = n - 1
    while (j > 0) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      val r = (((x * 0x2545F4914F6CDD1DL) >>> 33) % j).toInt
      val t = a(j); a(j) = a(r); a(r) = t
      j -= 1
    }
    a
  }
  private var memChaseCursor = 0
  private[graft] def memProbeMs(): Option[Double] =
    try {
      val tm = java.lang.management.ManagementFactory.getThreadMXBean
      if (!tm.isCurrentThreadCpuTimeSupported) None
      else {
        val a = memChase // force init OUTSIDE the timed window
        var p = memChaseCursor
        // UNTIMED pre-walk: re-warm the array's TLB entries before
        // timing. With THP the 256 MiB buffer is ~128 2M pages, all
        // TLB-resident after any walk — but a query run between two
        // probe calls evicts them, and a TLB-cold walk reads ~1.4x the
        // back-to-back floor on a PERFECTLY QUIET machine (measured:
        // 131 ms after q50 vs a 93 ms floor at sf0.001). The quarter-
        // length pre-walk touches every page (random slots over ~128
        // pages), so the timed walk runs TLB-warm but L3-cold (it
        // continues into FRESH cycle slots) — the reading then moves
        // with external memory pressure, not with what this JVM ran a
        // moment earlier.
        var i = 0
        while (i < MemChaseSteps / 4) { p = a(p); i += 1 }
        val c0 = tm.getCurrentThreadCpuTime
        i = 0
        while (i < MemChaseSteps) { p = a(p); i += 1 }
        val c1 = tm.getCurrentThreadCpuTime
        memChaseCursor = p // also a data dependency: no dead-code elim
        Some((c1 - c0) / 1e6)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The memory-probe degraded bar (SPARK_GRAFT_MEM_BAR): a quiet
    * window whose chase reading is >= bar x the run's memory floor is
    * graded memory-degraded. Calibrated on this box (tools/MemProbe,
    * SCALE.md round 16): 90 quiet readings across three windows spread
    * 1.00-1.32x their floor (DRAM latency jitters more than the
    * register spin's 1.09 tail — refresh, TLB, ambient traffic); under
    * 16 in-JVM streaming-write threads (full-saturation proxy for
    * co-tenant bandwidth pressure) readings run 1.40-3.07x, under 8
    * threads 1.24-4.73x — the MILD-pressure band OVERLAPS the quiet
    * tail, so readings in 1.3-1.5 are ambiguous by construction.
    * 1.5 clears the quiet tail by ~14% and witnesses moderate-to-heavy
    * pressure reliably; mild co-tenancy below it stays sub-detectable
    * (documented limit, SCALE.md round 16). While calibrating, the
    * register spin sat flat at 1.0-1.35x under the same hogs — the
    * blindness this probe closes, demonstrated. */
  private[graft] def parseMemBar(env: Option[String]): Double =
    env.map { s =>
      require(s.matches("[0-9]+(\\.[0-9]+)?"),
        s"SPARK_GRAFT_MEM_BAR must be a plain non-negative number, got '$s'")
      s.toDouble
    }.getOrElse(1.5)

  /** SPARK_GRAFT_REGIME_BAR (default 5.0): how degraded a candidate's
    * own IN-SUITE windows must have been (worst probe or mem chase vs
    * floor) before a Confirmed verdict under a suite-wide external
    * regime is graded unverifiable — see [[unverifiableRegime]]. 5x is
    * far past every calibrated degradation band (CPI episodes read
    * 1.55-6.4x, mem saturation 1.62-8.7x at the storm peaks) so only
    * storm-peak windows qualify; same fail-fast parse contract as the
    * other bars. */
  private[graft] def parseRegimeBar(env: Option[String]): Double =
    env.map { s =>
      require(s.matches("[0-9]+(\\.[0-9]+)?"),
        s"SPARK_GRAFT_REGIME_BAR must be a plain non-negative number, got '$s'")
      s.toDouble
    }.getOrElse(5.0)

  /** Round-16 verdict item 5: the confirm rerun guards its OWN window
    * (storm-grade steal / degraded probes there → Stormy), but an
    * episode that spans the suite AND the rerun defeats it — r16's q97
    * ran its in-suite windows at probe 5-6x floor under a
    * suite-attributed hypervisor episode, then its rerun window read
    * probe-CLEAN with sub-storm steal at 7.77 s (the documented
    * instrument limit: the regime inflates wall beyond what either
    * probe fully witnesses) and a false `regressed` landed in the
    * driver artifact. When the suite-level attribution names an
    * external regime (hypervisor / cpu_slow / mem_slow) AND the
    * candidate's own in-suite windows were probe-degraded past
    * `regimeBar` x floor, a Confirmed verdict is UNVERIFIABLE on this
    * run: bucketed `regressed_unverifiable_regime` in the artifact —
    * honest about the candidate without landing the tripwire. Both
    * conditions are load-bearing: suite attribution alone would mute
    * the tripwire for every query of a flagged run (dulling it), and
    * per-query degradation alone is already handled by the rerun's own
    * window grading. */
  private[graft] def unverifiableRegime(source: String,
      qProbeMs: Option[Double], probeFloorMs: Option[Double],
      qMemProbeMs: Option[Double], memFloorMs: Option[Double],
      regimeBar: Double): Boolean =
    Set("hypervisor", "cpu_slow", "mem_slow").contains(source) &&
      (cpuSlowGrade(qProbeMs, probeFloorMs, regimeBar) ||
        cpuSlowGrade(qMemProbeMs, memFloorMs, regimeBar))

  /** Runs `body` with a low-duty in-band CPI sampler: a daemon thread
    * takes a fixed-work probe reading every ~500 ms while the body
    * executes (~8% of one core — noise-level against the 2x confirm
    * bar on a 32-thread query). Exists because a single post-window
    * sample misses an episode that ENDS inside a multi-second window:
    * the round-14 attempt-6 control's q62 confirm rerun ran 7.2 s (vs
    * its 3.4 s baseline) and landed a false `regressed` with a clean
    * 44 ms probe sampled AFTER the leg — the degradation had passed by
    * then. Returns (body result, post-body sample, worst IN-BAND
    * sample) — kept SEPARATE because they calibrate differently: the
    * post sample runs on a quiet window (clean tail ≤1.09x floor),
    * while an in-band sample contends with the query's own 32 threads
    * and reads 1.24-1.26x floor on heavy legs from self-load alone
    * (round-15 ADVICE: folding them under the one 1.5 bar would grade
    * a genuinely-regressed heavy query Stormy and silently discard it).
    * The sampler is JOINED (bounded by ~one spin) before the reading
    * is taken: an in-flight probe — ~40 ms of uninterruptible spin
    * that may hold the episode's worst reading — must finish and
    * publish before the fold, not race it. None / -1-absent when the
    * JVM cannot meter thread CPU. */
  private[graft] def probeDuring[A](body: => A): (A, Option[Double], Option[Double]) = {
    @volatile var stop = false
    @volatile var inBandMax = -1.0
    val sampler = new Thread(() => {
      while (!stop) {
        cpuProbeMs().foreach(p => if (p > inBandMax) inBandMax = p)
        try Thread.sleep(500) catch { case _: InterruptedException => () }
      }
    }, "graft-cpi-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val r = try body finally {
      stop = true; sampler.interrupt()
      // bounded: one spin (~40 ms clean, a few hundred degraded) plus
      // margin; a stuck sampler only costs the wait, never a hang
      try sampler.join(2000) catch { case _: InterruptedException => () }
    }
    val post = cpuProbeMs()
    (r, post, if (inBandMax > 0) Some(inBandMax) else None)
  }

  /** The CPI bar from SPARK_GRAFT_CPI_BAR, validated EAGERLY at main()
    * start (same fail-fast contract as the storm bar). */
  private[graft] def parseCpiBar(env: Option[String]): Double =
    env.map { s =>
      require(s.matches("[0-9]+(\\.[0-9]+)?"),
        s"SPARK_GRAFT_CPI_BAR must be a plain non-negative number, got '$s'")
      s.toDouble
    }.getOrElse(1.5)

  /** The IN-BAND CPI bar (SPARK_GRAFT_CPI_BAR_INBAND): the storm grade
    * for the worst probe reading sampled WHILE a rerun leg executes.
    * Default 1.9, calibrated separately from the quiet-window 1.5 bar
    * because self-load inflates in-band readings: on probe-clean
    * windows the heavy 32-thread legs read 1.24-1.26x floor (q53/q95,
    * r14 detail; one mildly-degraded control leg read 1.43), while
    * quiet-window degraded readings start at 1.55x and in-band
    * episode readings stack on top of self-load. 1.9 clears the
    * measured clean in-band tail by ~50% and still catches the
    * episode band — under the shared 1.5 bar a clean heavy leg
    * drifting past 1.5x from self-load would grade Stormy twice and
    * DISCARD a true regression (round-15 ADVICE, medium). */
  private[graft] def parseCpiBarInband(env: Option[String]): Double =
    env.map { s =>
      require(s.matches("[0-9]+(\\.[0-9]+)?"),
        s"SPARK_GRAFT_CPI_BAR_INBAND must be a plain non-negative number, got '$s'")
      s.toDouble
    }.getOrElse(1.9)

  /** The storm bar from SPARK_GRAFT_STORM_STEAL, validated EAGERLY —
    * main() calls this at start, alongside the controlRound check: the
    * value is consumed only after the full suite has run, and a bare
    * .toDouble on a malformed value ('2,0') would throw post-suite and
    * lose the entire run's artifacts (round-13 ADVICE). */
  private[graft] def parseStormBar(env: Option[String]): Double =
    env.map { s =>
      require(s.matches("[0-9]+(\\.[0-9]+)?"),
        s"SPARK_GRAFT_STORM_STEAL must be a plain non-negative number, got '$s'")
      s.toDouble
    }.getOrElse(2.0)

  /** What a tripwire candidate's rerun evidence actually proves.
    * Round 12's driver run showed the exposure this closes: q50's
    * confirm rerun read 21.4 s under a load storm vs its 4.5 s
    * control — had q50 been a true candidate, the storm would have
    * CONFIRMED a false regression into the driver artifact. */
  private[graft] sealed trait Confirm
  private[graft] object Confirm {
    /** Warm rerun back under the bar. Valid on ANY window: external
      * load only ever slows a run, so a fast rerun exonerates even
      * mid-storm. */
    case object Exonerated extends Confirm
    /** Warm rerun still past the bar on a quiet window: regressed. */
    case object Confirmed extends Confirm
    /** Warm rerun past the bar but the window was storm-grade — either
      * steal-shaped (hypervisor starving the vCPU) or CPI-shaped (the
      * warm leg's fixed-work probe read >= cpiBar x the run's floor —
      * degraded cycles with zero steal, the round-14 episode that
      * landed false q19/q24 `regressed` entries). Slowness on such a
      * window indicts the machine, not the code. The caller retries
      * once; a still-stormy confirm is DISCARDED (per-query
      * `rerun_stormy` in the detail file carries the evidence), never
      * `regressed`. */
    case object Stormy extends Confirm
    /** The rerun itself crashed — confirms nothing (round-7 ADVICE:
      * the old -1 encoding read as an exonerating fast rerun). */
    case object Unresolved extends Confirm
  }

  private[graft] def confirmOutcome(rerunWarm: Option[Double], control: Double,
      stealCores: Option[Double], stormBar: Double,
      probeMs: Option[Double] = None, probeFloorMs: Option[Double] = None,
      cpiBar: Double = 1.5, probeInbandMs: Option[Double] = None,
      cpiBarInband: Double = 1.9, memProbeMs: Option[Double] = None,
      memFloorMs: Option[Double] = None, memBar: Double = 1.5): Confirm =
    rerunWarm match {
      case None                                  => Confirm.Unresolved
      case Some(t) if !regressedVs(t, control)   => Confirm.Exonerated
      case _ if stormGrade(stealCores, stormBar) ||
                cpuSlowGrade(probeMs, probeFloorMs, cpiBar) ||
                cpuSlowGrade(probeInbandMs, probeFloorMs, cpiBarInband) ||
                // memory-degraded confirm window (round-16 item 1):
                // same ratio construction, the chase vs ITS OWN floor
                cpuSlowGrade(memProbeMs, memFloorMs, memBar) => Confirm.Stormy
      case _                                     => Confirm.Confirmed
    }

  /** Clean-reading adjudication (control captures): a Confirmed
    * tripwire verdict is overturned to Exonerated when the query's
    * bracketed verified-clean execution (control scrub) runs back
    * under the regression bar — the clean reading is a strictly
    * better witness than a confirm rerun whose window the quiet
    * probes couldn't grade. Only Confirmed is ever adjudicated, and
    * only downward: a clean reading that still regresses confirms. */
  private[graft] def adjudicateWithClean(o: Confirm, clean: Option[Double],
      control: Double): Confirm = o match {
    case Confirm.Confirmed if clean.exists(c => !regressedVs(c, control)) =>
      Confirm.Exonerated
    case other => other
  }

  /** One candidate/flag rerun: the warm second execution (None when
    * either execution crashed), the 1-minute load at window start, the
    * stolen-cores rate over the WARM leg's execution window (the one
    * that produced the reported time — round-13 ADVICE), and how many
    * pair attempts were made (2 = the first attempt was a storm-hit
    * confirm and earned a retry). `probeMs` is the post-leg
    * quiet-window sample (graded against the 1.5 bar); `probeInbandMs`
    * the worst in-band sample (graded against the separate 1.9 bar —
    * self-load inflates it, see [[parseCpiBarInband]]). */
  private[graft] case class Rerun(warm: Option[Double], load: Double,
      stealCores: Option[Double], attempts: Int,
      iowaitCores: Option[Double] = None,
      probeMs: Option[Double] = None,
      probeInbandMs: Option[Double] = None,
      memProbeMs: Option[Double] = None)

  /** A committed clean-window control (BENCH_CONTROL_rNN.json, same
    * format as the detail file) plus the context that decides whether
    * comparing against it means anything. */
  private[graft] case class Control(path: String, commit: Option[String],
      sf: String, cpus: String, maxMemMb: Option[Long],
      medians: Map[String, Double])

  /** Round number embedded in a control file's path, where present. */
  private[graft] def controlRoundOf(path: String): Option[Int] =
    "BENCH_CONTROL_r([0-9]+)\\.json".r.findFirstMatchIn(path).map(_.group(1).toInt)

  /** Every BENCH_CONTROL_rNN.json in `dir`, parsed, NEWEST ROUND
    * FIRST — the caller takes the first COMPARABLE one, so a newer
    * control at a different sf/cpus/heap (a one-off probe someone
    * committed) degrades to the older matching control instead of
    * turning the tripwire off. Controls live under their own filename
    * because the driver overwrites BENCH_DETAIL.json every round —
    * the round-11 clean control survived only in git history
    * (round-11 verdict item 2). Best-effort: unreadable/absent →
    * empty, the tripwire just stays off. */
  private[graft] def controls(dir: String): Seq[Control] =
    try {
      val rx = "BENCH_CONTROL_r([0-9]+)\\.json".r
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
        .flatMap(f => f.getName match {
          case rx(n) => Some((n.toInt, f))
          case _     => None
        })
        .sortBy(-_._1).toSeq.flatMap { case (_, f) => parseControl(f) }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** The per-query baseline a control contributes to the tripwire. A
    * control run can itself be storm-hit on individual queries — the
    * committed r12 control carries four spread-flagged queries whose
    * MEDIANS are 1.5-2.6x their own exonerating reruns (q34 1.04 s vs
    * rerun 0.67 s, q100 1.20 s vs 0.46 s), and a median-only read
    * dulls the tripwire on exactly those queries (round-12 ADVICE).
    * Preference: the rerun value where the control recorded one
    * (reruns exist only for queries the control run itself flagged;
    * min() guards a rerun that landed in a SECOND storm — control
    * evidence may only ever tighten), else the fastest iteration when
    * the control's own spread evidence says the median is suspect,
    * else the median. */
  private[graft] def controlBaseline(median: Double, rerun: Option[Double],
      minIter: Option[Double], spread: Option[Double]): Double =
    rerun match {
      case Some(r)                        => math.min(median, r)
      case None if spread.exists(_ > 1.5) => minIter.fold(median)(math.min(median, _))
      case None                           => median
    }

  /** Canonical JSON rendering of a scalar literal. Both sides of the
    * control comparability check must route through ONE renderer:
    * parseControl renders the control's sf/cpus via jackson, while the
    * current run's FALLBACK forms (an sfDir without "sfN" in its name,
    * a non-numeric SPARK_GRAFT_CPUS) came from the hand-rolled
    * jstr/jnum — and the two escape control characters differently
    * (backslash-u000a vs backslash-n), so a pathological sfDir silently disabled the
    * tripwire on an otherwise-comparable control (round-12 ADVICE).
    * Unparseable input returns itself; already-canonical bare numbers
    * and plain quoted strings pass through unchanged. */
  private[graft] def canonJson(s: String): String =
    try org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      org.json4s.jackson.JsonMethods.parse(s)))
    catch { case scala.util.control.NonFatal(_) => s }

  private[graft] def parseControl(f: java.io.File): Option[Control] =
    try {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(f)
      def num(v: JValue): Option[Double] = v match {
        case JDouble(d)  => Some(d)
        case JInt(i)     => Some(i.toDouble)
        case JLong(l)    => Some(l.toDouble)
        case JDecimal(d) => Some(d.toDouble)
        case _           => None
      }
      // sf/cpus kept as their RENDERED JSON forms: comparability below
      // is exact-form equality against this run's own rendering
      def rendered(v: JValue): String =
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(v))
      val medians = (j \ "queries") match {
        case JObject(fields) => fields.flatMap { case (k, v) =>
          num(v \ "median").filter(_ > 0).map { m =>
            // a scrubbed clean-window reading (round-15 control
            // capture) folds into the SAME min as the inferred
            // rerun/min/spread baseline — clean may only ever TIGHTEN
            // the control, never loosen it (round-15 ADVICE: with
            // rerun < clean < median, preferring clean outright gave a
            // LOOSER baseline than the r14 semantics)
            val inferred = controlBaseline(m,
              num(v \ "rerun").filter(_ > 0), num(v \ "min").filter(_ > 0),
              num(v \ "spread"))
            k -> num(v \ "clean").filter(_ > 0)
              .map(c => math.min(inferred, c)).getOrElse(inferred)
          }
        }.toMap
        case _ => Map.empty[String, Double]
      }
      if (medians.isEmpty) None
      else Some(Control(f.getPath,
        (j \ "commit") match { case JString(c) => Some(c); case _ => None },
        rendered(j \ "sf"), rendered(j \ "cpus"),
        num(j \ "driver_max_mem_mb").map(_.toLong), medians))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Whether `commit` (a control's stamp; `-dirty` suffix stripped —
    * the dirty tree was based on that hash) is an ancestor of this
    * repo's HEAD. None = indeterminate (no git, timeout, unknown
    * hash); the tripwire treats only a POSITIVE "foreign lineage" as
    * disqualifying — best-effort evidence, not a gate. */
  private[graft] def isAncestorOfHead(commit: String): Option[Boolean] =
    try {
      val p = new ProcessBuilder("git", "merge-base", "--is-ancestor",
          commit.stripSuffix("-dirty"), "HEAD")
        .directory(new java.io.File(System.getProperty("user.dir")))
        .redirectErrorStream(true).start()
      if (!p.waitFor(2, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly(); None
      } else p.exitValue match {
        case 0 => Some(true)
        case 1 => Some(false)
        case _ => None // not a repo / unknown hash — indeterminate
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Regression-tripwire candidates: queries whose CURRENT median runs
    * past 2x the control's AND at least 1 s slower absolute (the
    * sub-second tail jitters past any ratio; same materiality shape as
    * the spread evidence). Candidates earn a rerun; only a rerun that
    * CONFIRMS (same 2x + 1 s test on the warm rerun time) lands in the
    * artifact's `regressed` list — round 10's q20 16.9 s catch was
    * manual diffing against a committed control, this makes the catch
    * structural (round-11 verdict item 3). */
  private[graft] def regressionCandidates(results: Map[String, Measured],
      control: Map[String, Double]): Map[String, Double] =
    results.collect {
      case (k, m) if m.median >= 0 && control.get(k).exists(ctl =>
          regressedVs(m.median, ctl)) =>
        k -> control(k)
    }

  private[graft] def regressedVs(current: Double, control: Double): Boolean =
    control > 0 && current > 2 * control && current - control > 1.0

  /** Short git HEAD of the repo this binary runs IN — stamped into
    * every artifact so a bench/verify number is attributable to the
    * code that produced it (round-10 ADVICE: BENCH_DETAIL versions
    * only implicitly, via whichever commit later includes it). Three
    * deliberate properties:
    *   - resolves from the process working directory, not a hardcoded
    *     checkout path — a foreign checkout must stamp ITS repo or
    *     nothing, never /root/repo's unrelated HEAD;
    *   - a dirty working tree stamps `<hash>-dirty`: pre-commit A/B
    *     probes are the NORM here (commit-per-milestone), and a clean
    *     hash on uncommitted code sends the next reader to reproduce
    *     the wrong source — EXCEPT edits confined to driver-rewritten
    *     measurement artifacts (see [[dirtyPaths]]): those are never
    *     build inputs, and counting them forced every control run to
    *     be preceded by a manual `git checkout BENCH_DETAIL.json` or
    *     read `-dirty` from the PREVIOUS run's artifact (round-12
    *     verdict item 2 — the footgun is deleted, not documented);
    *   - bounded: a hung git (stale index.lock) must not stall the
    *     artifact write that happens right after — 2 s then give up.
    * Best-effort: no repo / no git / timeout → None, field omitted. */
  private[graft] def gitHead: Option[String] =
    try {
      def git(args: String*): Option[String] = {
        // output drained through a temp file, never the pipe: `status
        // --porcelain` on a 1000+-modified-file tree exceeds the ~64 KB
        // pipe buffer, blocking the child until EOF that never comes —
        // the 2 s timeout then fires and the stamp is silently omitted
        // (the old `describe --dirty` had bounded output; round-13
        // ADVICE). A file sink never back-pressures the child.
        val sink = java.nio.file.Files.createTempFile("graft-git", ".out")
        try {
          val p = new ProcessBuilder(("git" +: args): _*)
            .directory(new java.io.File(System.getProperty("user.dir")))
            .redirectErrorStream(true)
            .redirectOutput(sink.toFile).start()
          if (!p.waitFor(2, java.util.concurrent.TimeUnit.SECONDS)) {
            p.destroyForcibly(); None
          } else if (p.exitValue == 0)
            Some(new String(java.nio.file.Files.readAllBytes(sink), "UTF-8"))
          else None
        } finally java.nio.file.Files.deleteIfExists(sink)
      }
      for {
        head <- git("rev-parse", "--short=12", "HEAD").map(_.trim)
          if head.matches("[0-9a-f]{6,40}")
        // -uno: untracked files never counted dirty, matching the old
        // `describe --dirty` semantics this replaces
        status <- git("status", "--porcelain", "-uno")
      } yield
        if (dirtyPaths(status.split("\n").toSeq).nonEmpty) s"$head-dirty" else head
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Repo-root files the DRIVER rewrites every round (bench/verify
    * artifacts, judge output) — or that a control/bench run itself
    * writes. None is ever a build input, so edits confined to them
    * must not flip the stamp to `-dirty`. Deliberately a closed list
    * of exact names: a pattern like "*.json" would swallow a real
    * source/config file, and wrongly-clean is the dangerous direction. */
  private[graft] val driverArtifactRx =
    ("BENCH_DETAIL\\.json|BENCH_r[0-9]+\\.json|BENCH_CONTROL_r[0-9]+\\.json|" +
     "CORRECTNESS_r[0-9]+\\.json|LEAKCHECK\\.json|COPYCHECK\\.json|" +
     "VERDICT\\.md|ADVICE\\.md|PROGRESS\\.jsonl").r

  /** `git status --porcelain -uno` lines that make the tree dirty for
    * attribution purposes: everything except the driver artifacts
    * above. A rename line (`XY old -> new`) counts clean only when
    * BOTH sides are artifacts; a git-quoted path (specials in the
    * name) never matches an artifact name and so counts dirty —
    * conservative in the safe direction. */
  private[graft] def dirtyPaths(statusLines: Seq[String]): Seq[String] =
    statusLines.filter(_.length > 3).filterNot { line =>
      // ' -> ' is a path separator only on rename/copy lines (status
      // code R or C); splitting unconditionally would count CLEAN a
      // modified tracked file literally named `A -> B` with artifact
      // names on both sides — v1 porcelain doesn't quote spaces, and
      // wrongly-clean is the dangerous direction (round-13 ADVICE)
      val isRenameOrCopy = line.take(2).exists(c => c == 'R' || c == 'C')
      val body = line.drop(3)
      val parts = if (isRenameOrCopy) body.split(" -> ", 2).toSeq else Seq(body)
      parts.forall(p => driverArtifactRx.pattern.matcher(p).matches())
    }.map(_.drop(3))

  /** The one-line stdout artifact. Field order is load-bearing both
    * ways because the consumer keeps only the LAST ~2000 chars of
    * stdout (head-truncating the line for a 100-query suite, plus an
    * sbt epilogue after it — both r9 and r10 driver artifacts were
    * `parsed: null` head-cut lines):
    *   - the headline summary (value, min_total, contended,
    *     contention_source, other_busy_cores, commit) leads the line,
    *     so any front-window or full-line consumer reads it first;
    *   - the queries map stays ascending-median with the slowest LAST,
    *     so the kept tail shows the queries a reviewer inspects;
    *   - the line ENDS with a compact `summary` object duplicating the
    *     headline — a complete, brace-balanced JSON object inside the
    *     tail window, so even a head-truncated artifact carries a
    *     machine-extractable summary (regex `\{[^{}]*\}\}$`). The
    *     duplication is deliberate; keys never repeat at one nesting
    *     level. BenchEvidenceSpec pins all three properties. */
  /** JSON string literal (quotes included): escapes backslash, quote
    * and control characters. The line is hand-assembled, so every
    * UNVALIDATED string field must route here — detailPath comes
    * straight from SPARK_GRAFT_DETAIL, and one quote in it would
    * invalidate the whole artifact the tail-summary design exists to
    * protect (round-11 ADVICE). commit/source skip it by proof: both
    * are regex/enum-constrained at their producers. */
  private[graft] def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'            => sb ++= "\\\""
      case '\\'           => sb ++= "\\\\"
      case c if c < ' '   => sb ++= f"\\u${c.toInt}%04x"
      case c              => sb += c
    }
    (sb += '"').toString
  }

  /** `cpus` (an env string, normally an integer) as a JSON value: a
    * non-numeric SPARK_GRAFT_CPUS degrades to a quoted string — wrong
    * is visible, invalid JSON is not. */
  private[graft] def jnum(s: String): String =
    if (s.matches("-?[0-9]+(\\.[0-9]+)?")) s else jstr(s)

  private[graft] def renderLine(total: Double, minTotal: Double,
      contended: Boolean, source: String, otherBusyCores: Option[Double],
      commit: Option[String], qs: String, sf: String, iters: Int,
      spreads: String, rerunJson: String, loadAvgStart: Double,
      loadAvgEnd: Double, maxMemMb: Long, cpus: String,
      detailPath: String, regressed: Seq[String] = Nil,
      regressedUnverifiable: Seq[String] = Nil): String = {
    val busy = otherBusyCores.map(b => s""""other_busy_cores":${r2(b)},""").getOrElse("")
    val cm = commit.map(c => s""""commit":"$c",""").getOrElse("")
    val rg =
      (if (regressed.isEmpty) ""
       else regressed.map(jstr).mkString(""""regressed":[""", ",", "],")) +
        (if (regressedUnverifiable.isEmpty) ""
         else regressedUnverifiable.map(jstr)
           .mkString(""""regressed_unverifiable_regime":[""", ",", "],"))
    val head = s""""value":$total,"min_total":$minTotal,"contended":$contended,""" +
      s""""contention_source":"$source",""" + busy + rg + cm
    val summary = s""""summary":{${head.stripSuffix(",")}""" +
      s""","load_avg_start":$loadAvgStart,"load_avg_end":$loadAvgEnd}"""
    s"""{"metric":"total",$head"queries":$qs,"sf":$sf,"unit":"sec",""" +
      s""""iters":$iters,"spread":$spreads,"rerun":$rerunJson,""" +
      s""""load_avg_start":$loadAvgStart,"load_avg_end":$loadAvgEnd,""" +
      s""""driver_max_mem_mb":$maxMemMb,"cpus":${jnum(cpus)},""" +
      s""""detail":${jstr(detailPath)},""" +
      summary + "}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // validated up front: a typo'd round number must fail before the
    // suite spends an hour, not after it when the control write fires
    val controlRound = sys.env.get("SPARK_GRAFT_CONTROL_ROUND")
    controlRound.foreach(r => require(r.matches("[0-9]+"),
      s"SPARK_GRAFT_CONTROL_ROUND must be a round number, got '$r'"))
    // same fail-fast contract as controlRound (round-13 ADVICE)
    val stormBar = parseStormBar(sys.env.get("SPARK_GRAFT_STORM_STEAL"))
    val cpiBar = parseCpiBar(sys.env.get("SPARK_GRAFT_CPI_BAR"))
    val cpiBarInband = parseCpiBarInband(sys.env.get("SPARK_GRAFT_CPI_BAR_INBAND"))
    val memBar = parseMemBar(sys.env.get("SPARK_GRAFT_MEM_BAR"))
    val regimeBar = parseRegimeBar(sys.env.get("SPARK_GRAFT_REGIME_BAR"))
    // optional comma-separated query subset — measurement experiments
    // (isolated-vs-in-suite bisects) without a code edit
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // every requested name must exist — a typo that silently drops one
    // query turns an A/B bisect into a measurement of the wrong set
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val queries = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    val spark = Engine.session("graft-bench", cpus)
    val loadAvgStart = loadAvg

    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      var warmOk = 0
      queries.foreach { case (_, fn) =>
        try { exec(fn(spark, "/root/testdata/sf0.001")); warmOk += 1 }
        catch { case scala.util.control.NonFatal(_) => }
        // same between-query hygiene as the measured loop — warmup
        // accumulating 100 queries of caches/scratch defeats itself
        resetSession(spark)
      }
      // a silently absent sf0.001 dir (every warmup query throws
      // instantly) would leave up-to-10x first-run codegen skew in the
      // measured numbers with no visible signal
      if (warmOk == 0) System.err.println(
        "[bench] WARNING: warmup made zero successful runs — measured " +
          "numbers include first-run JIT/codegen skew")
    }

    // median of three warm runs (the first at the measured SF still
    // pays size-specific JIT tiers and page-cache warming; the median
    // is robust to one-off machine-load spikes in either direction,
    // where a single cold pass made noise and regression
    // indistinguishable — round-2 verdict). A query with ANY failed
    // iteration reports -1 — an intermittent crash must not masquerade
    // as a (often fast, cache-light) valid median, and every failure
    // is logged so the JSON's -1 is diagnosable without a re-run.
    // Fatal errors (OOM etc.) propagate: "measuring" the remaining
    // queries in a heap-thrashing JVM produces garbage that looks real.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt.max(1)
    // CPI reference: a handful of fixed-work spins before the measured
    // loop; the FIRST pays JIT tiers, so it is dropped when a later
    // sample exists. The run's working floor below also folds in every
    // per-query reading — the reference only seeds it.
    val probeSamples = (1 to 4).flatMap(_ => cpuProbeMs())
    val probeRef = (if (probeSamples.size > 1) probeSamples.tail
                    else probeSamples).minOption
    // memory-chase reference (round-16 item 1): the FIRST sample pays
    // the 256 MiB permutation init and page faults — always dropped
    // when a later sample exists, same shape as the spin reference
    val memSamples = (1 to 4).flatMap(_ => memProbeMs())
    val memProbeRef = (if (memSamples.size > 1) memSamples.tail
                       else memSamples).minOption
    val suiteWallT0 = System.nanoTime()
    val cgStart = cgroupCpuUsec
    val ownStart = processCpuUsec
    val stealStart = procStatStealUsec
    // per-query CPU attribution: (cgroup delta, own-JVM delta) seconds
    // across the query's measured iterations — in the detail file a
    // slow wall time with a flat cgroup delta reads as starvation
    // (host contention / IO), a slow wall with a fat cgroup-minus-own
    // delta reads as in-container co-tenancy
    val qCpu = scala.collection.mutable.Map.empty[String, (Double, Double)]
    // per-query hypervisor-steal rate (cores) over the measured window:
    // the storm evidence loadavg cannot give (see procStatStealUsec)
    val qSteal = scala.collection.mutable.Map.empty[String, Double]
    val qIowait = scala.collection.mutable.Map.empty[String, Double]
    // per-query CPI probe: fixed-work thread-CPU ms sampled after EACH
    // iteration (inside the query's window, before that iteration's
    // hygiene — the q18 x10 run proved one end-of-query sample misses a
    // mid-sequence episode). The per-query value kept is the WORST
    // (max) sample — the evidence reading; the run floor tracks the
    // best sample seen anywhere.
    val qProbe = scala.collection.mutable.Map.empty[String, Double]
    var probeMinSeen = Double.MaxValue
    // per-query memory probe, same shape: worst (max) per-iteration
    // chase reading is the evidence; the best seen anywhere feeds the
    // run's memory floor
    val qMemProbe = scala.collection.mutable.Map.empty[String, Double]
    var memProbeMinSeen = Double.MaxValue
    val results: Map[String, Measured] = queries.map { case (name, fn) =>
      val loadAtStart = loadAvg
      val qCg = cgroupCpuUsec
      val qOwn = processCpuUsec
      val qSt = procStatStealUsec
      val qIo = procStatIowaitUsec
      val qW0 = System.nanoTime()
      var failed = false
      val times = (1 to iters).flatMap { i =>
        val t0 = System.nanoTime()
        val t = try { exec(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case scala.util.control.NonFatal(e) =>
          failed = true
          System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
        // CPI sample for THIS iteration's window (untimed, pre-hygiene)
        cpuProbeMs().foreach { p =>
          qProbe(name) = math.max(qProbe.getOrElse(name, 0.0), p)
          probeMinSeen = math.min(probeMinSeen, p)
        }
        // UNTIMED between-iteration hygiene: each iteration builds its
        // plan fresh, so the previous iteration's scratch staging is
        // dead — delete it now and drain the dirty-page backlog with a
        // sync. Without this, a scratch-heavy query's own iteration-1
        // writeback bleeds into iterations 2..n (and the next query):
        // the round-6 bisect measured q95 at [5.3, 8.6, 4.5] right
        // after q50 vs [4.6, 4.0, 3.3] after a light query, and a dd
        // probe showed a 2 GB write+sync at 12.7 s vs 3.8 s depending
        // only on the preceding write volume. Run it on the LAST
        // iteration too (harmless — resetSession repeats releaseAll):
        // the memory sample below needs the writeback drained first.
        graft.operators.Scratch.releaseAll(); syncDisk()
        // memory sample AFTER the hygiene, unlike the spin: the chase
        // reads our own post-query tail otherwise (pre-hygiene samples
        // measured 1.3-1.5x floor after write-heavy queries at
        // sf0.001, where external pressure is implausible)
        memProbeMs().foreach { p =>
          qMemProbe(name) = math.max(qMemProbe.getOrElse(name, 0.0), p)
          memProbeMinSeen = math.min(memProbeMinSeen, p)
        }
        t
      }
      // sampled BEFORE resetSession: the between-query System.gc is
      // hygiene, not this query's cost
      for (a <- qCg; b <- cgroupCpuUsec; c <- qOwn; d <- processCpuUsec)
        qCpu(name) = ((b - a) / 1e6, (d - c) / 1e6)
      for (a <- qSt; b <- procStatStealUsec)
        qSteal(name) = math.max(0.0, (b - a) / 1e6) / ((System.nanoTime() - qW0) / 1e9)
      for (a <- qIo; b <- procStatIowaitUsec)
        qIowait(name) = math.max(0.0, (b - a) / 1e6) / ((System.nanoTime() - qW0) / 1e9)
      resetSession(spark)
      syncDisk()
      name -> Measured(times, loadAtStart, failed)
    }

    // ascending-median order: the consumer's tail window keeps the END
    // of the line, so the slowest queries — the ones a perf reviewer
    // actually inspects — must serialize last to survive truncation
    val ordered = results.toSeq.sortBy { case (n, m) => (m.median, n) }

    // contended when the machine was demonstrably busy before the suite
    // started (>3.0 one-minute load — the sbt launch itself leaves ~2
    // on this box) or any query shows a material iteration spread
    // (>2x AND >1 s). Sustained external load is caught by the former,
    // transient spikes by the latter; a decaying pre-run load average
    // with clean spreads (visible via load_avg_min in the detail file)
    // triggers neither. Computed BEFORE the rerun pass: a contended run
    // widens the rerun set to the heaviest queries (see rerunTargets).
    // single derivation shared with contentionSource below — the flag
    // and its attribution must never disagree after a threshold tweak
    val loadHigh = loadAvgStart > 3.0
    val spreadFlag = results.values.exists(m => m.spreadRatio > 2.0 && m.spreadAbs > 1.0)
    val contended = loadHigh || spreadFlag

    // numeric sf parsed from the dir name (".../sf0.1" -> 0.1); a dir
    // that doesn't embed one falls back to the quoted path so the line
    // stays valid JSON either way
    val sf = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse(jstr(sfDir))

    // Regression tripwire: compare per-query medians against the
    // latest COMMITTED clean-window control, where one exists and is
    // comparable — same sf, same cpus, same driver heap (an 8 g JVM
    // runs the suite ~17 s slower than the driver's 32 g via GC alone
    // — measured round 12 — which would flag every heavy query), and
    // not from a foreign lineage (an indeterminate ancestry check
    // still compares: evidence, not a gate). Candidates are added to
    // the rerun set below; only a confirming rerun lands in
    // `regressed`.
    val maxMemMb = Runtime.getRuntime.maxMemory / (1 << 20)
    // a CONTROL capture compares only against EARLIER rounds: the
    // capture's own (possibly half-good) previous attempt at the same
    // round number must not become its tripwire baseline — the r15
    // recapture graded itself against the first r15 attempt's
    // episode-hit values and landed a confusing in-artifact `regressed`
    val allControls = controls(System.getProperty("user.dir"))
      .filter(c => controlRound.forall(r =>
        controlRoundOf(c.path).forall(_ < r.toInt)))
    // rendered-to-rendered: the control side came through jackson, so
    // this run's (possibly jstr-fallback) forms are canonicalized
    // through the same renderer before comparing (round-12 ADVICE)
    val control = allControls.find { c =>
      canonJson(c.sf) == canonJson(sf) && canonJson(c.cpus) == canonJson(jnum(cpus)) &&
        c.maxMemMb.forall(_ == maxMemMb) &&
        c.commit.forall(cm => !isAncestorOfHead(cm).contains(false))
    }
    if (control.isEmpty && allControls.nonEmpty) System.err.println(
      s"[bench] no committed control comparable to this run " +
        s"(sf=$sf, cpus=${jnum(cpus)}, mem=$maxMemMb; candidates: " +
        allControls.map(c => s"${c.path} sf=${c.sf}/cpus=${c.cpus}/" +
          s"mem=${c.maxMemMb.getOrElse(-1L)}").mkString(", ") + ") — tripwire off")
    val candidates = control.map(c => regressionCandidates(results, c.medians))
      .getOrElse(Map.empty[String, Double])

    // In-artifact resolution of flagged queries: with the suite done
    // (and the transient load that caused the flag presumably gone),
    // re-run each target under the same hygiene. Two executions, the
    // warm SECOND reported (see the object scaladoc); load sampled at
    // rerun start so a loaded rerun window is visible in the artifact.
    // Zero extra work on a clean run — this turns "compare the flag
    // against a committed control by hand" into evidence that ships
    // inside the artifact itself. A rerun whose EITHER execution throws
    // reports None (rerun_failed in the detail file), never a number:
    // the old -1.0 encoding sat below every min, so a crashed rerun
    // read as an exonerating fast rerun (ADVICE round-7).
    // the run's CPI floor: fastest fixed-work reading observed anywhere
    // in it — reference spins plus every per-iteration sample. Computed
    // BEFORE the reruns so their storm grading can use it.
    val probeFloorMs =
      (probeRef.toSeq ++ (if (probeMinSeen < Double.MaxValue) Seq(probeMinSeen)
                          else Seq.empty)).minOption
    val memProbeFloorMs =
      (memProbeRef.toSeq ++ (if (memProbeMinSeen < Double.MaxValue)
                               Seq(memProbeMinSeen)
                             else Seq.empty)).minOption
    val reruns: Map[String, Rerun] =
      (rerunTargets(ordered, contended) ++ candidates.keys.toSeq.sorted).distinct.map { k =>
        def pair(attempts: Int): Rerun = {
          val loadAtRerun = loadAvg
          var rerunFailed = false
          // steal/iowait sampled PER LEG, around the execution only:
          // storm grading must reflect the window that produced the
          // CONFIRMING (warm) time. Averaged over the whole pair, a
          // ~3-stolen-core storm confined to the warm leg dilutes to
          // ~1.5 — under the 2.0 bar — and a storm-inflated rerun
          // lands a false Confirmed (round-13 ADVICE; the old comment
          // only covered dilution toward false storms). The warm-up
          // leg's rates are deliberately NOT an input to grading:
          // steal slows only the window it hits, so a storm there
          // cannot have inflated the warm time.
          def leg(): (Double, Option[Double], Option[Double], Option[Double],
              Option[Double], Option[Double]) = {
            val s0 = procStatStealUsec
            val i0 = procStatIowaitUsec
            val t0 = System.nanoTime()
            // the leg's CPI evidence is sampled IN-BAND (probeDuring):
            // a post-leg-only sample misses an episode that ends inside
            // the leg, and exactly that landed the attempt-6 false q62
            // confirm — the post and in-band readings stay SEPARATE
            // because they grade against different bars (self-load
            // inflates in-band samples; see parseCpiBarInband)
            val (t, probePost, probeInband) = probeDuring {
              try { exec(queries(k)(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
              catch { case scala.util.control.NonFatal(e) =>
                System.err.println(s"[bench] rerun of $k failed: ${e.getMessage}")
                rerunFailed = true
                -1.0
              }
            }
            val wall = (System.nanoTime() - t0) / 1e9
            val st = for (a <- s0; b <- procStatStealUsec)
              yield math.max(0.0, (b - a) / 1e6) / wall
            val io = for (a <- i0; b <- procStatIowaitUsec)
              yield math.max(0.0, (b - a) / 1e6) / wall
            graft.operators.Scratch.releaseAll()
            syncDisk()
            // memory-chase sample for the leg's window — AFTER the
            // hygiene, like the iteration samples: pre-sync readings
            // carry our own writeback tail (1.3-1.5x floor on quiet
            // windows). No in-band form: the query's own 32-thread
            // traffic saturates bandwidth on perfectly clean windows.
            val memPost = memProbeMs()
            (t, st, io, probePost, probeInband, memPost)
          }
          leg() // re-warm: the suite evicted this query's page-cache/JIT state
          val (warm, steal, iowait, probePost, probeInband, memPost) = leg()
          resetSession(spark)
          Rerun(if (rerunFailed) None else Some(warm), loadAtRerun, steal, attempts,
            iowait, probePost, probeInband, memPost)
        }
        var att = pair(1)
        // a storm-hit CONFIRMING rerun of a tripwire candidate earns one
        // retry; the documented storms run ~10-15 min so the retry mostly
        // documents persistence — a still-stormy confirm is discarded by
        // the outcome fold below
        if (candidates.get(k).exists(ctl =>
            confirmOutcome(att.warm, ctl, att.stealCores, stormBar,
              att.probeMs, probeFloorMs, cpiBar, att.probeInbandMs,
              cpiBarInband, att.memProbeMs, memProbeFloorMs,
              memBar) == Confirm.Stormy))
          att = pair(2)
        k -> att
      }.toMap
    // CONTROL SCRUB (round-15 verdict item 2): a control baseline is
    // only as good as the window that produced it — all four r14
    // capture attempts lost windows to the CPI episode, and a
    // 13-minute zero-flag window may simply not exist on this box. On
    // control runs (SPARK_GRAFT_CONTROL_ROUND set), every query whose
    // measured windows were NOT probe-clean (worst per-iteration probe
    // > CleanBar x floor, or a suspect >1.5x warm spread, or a failed
    // iteration) is re-executed — warm pair, hygiene between — until
    // one execution lands on a verified-clean window: quiet probes
    // sampled BEFORE and AFTER the leg both <= CleanBar x floor
    // (episodes run ~10 min, legs run seconds, so the bracket covers
    // them) and the in-band max <= InbandCleanBar x floor (the
    // measured self-load ceiling on heavy 32-thread legs is ~1.26;
    // 1.35 leaves margin without admitting the >=1.55 episode band).
    // The clean reading lands per-query as "clean" (+ probe evidence),
    // and parseControl PREFERS it over every other baseline form — so
    // a control captured this way needs no exoneration arithmetic at
    // compare time. Queries already clean in-suite are stamped
    // probe_clean from their own evidence, no extra work.
    val cleanBar = 1.1
    val inbandCleanBar = 1.35
    // memory-clean bar (round-16 item 1): post-sync in-suite clean
    // readings band at 1.06-1.15x floor (the back-to-back tools/
    // MemProbe tail reaches 1.32x, but every in-suite sample runs
    // after the hygiene sync, which drains the self-writeback that
    // widened it), while 16-thread saturation reads >=1.62x. 1.4
    // clears the operating clean tail by ~20% without admitting the
    // saturated band; pressure inside 1.15-1.4 stays sub-detectable
    // (documented limit — a bar inside the jitter band would starve
    // the scrub of windows).
    val memCleanBar = 1.4
    val scrubAttempts = sys.env.get("SPARK_GRAFT_SCRUB_ATTEMPTS")
      .map(_.toInt).getOrElse(8)
    def windowClean(p: Option[Double], bar: Double): Boolean =
      scrubWindowClean(p, probeFloorMs, bar)
    def memWindowClean(p: Option[Double]): Boolean =
      scrubWindowClean(p, memProbeFloorMs, memCleanBar)
    // round-16 ADVICE: on a JVM where a probe dimension never metered
    // (floor None) the old all-windows-dirty grading doomed every scrub
    // attempt — scrubWindowClean vacuously passes the unmetered
    // dimension instead, and the degradation ships in the detail file
    val scrubUnmetered: Seq[String] =
      (if (probeFloorMs.exists(_ > 0)) Nil else Seq("cpu")) ++
        (if (memProbeFloorMs.exists(_ > 0)) Nil else Seq("mem"))
    if (controlRound.isDefined && scrubUnmetered.nonEmpty)
      System.err.println(
        s"[bench] control scrub: ${scrubUnmetered.mkString("+")} probe floor " +
          "unavailable on this JVM — that bracket dimension passes " +
          "VACUOUSLY (scrub_unmetered in the detail file)")
    val suiteClean: Map[String, Boolean] =
      if (controlRound.isEmpty) Map.empty
      else results.map { case (k, m) =>
        k -> (!m.failed && m.spreadRatio <= 1.5 &&
          windowClean(qProbe.get(k), cleanBar) &&
          memWindowClean(qMemProbe.get(k)))
      }
    val qCleanTime = scala.collection.mutable.Map.empty[String, Double]
    val qCleanProbe = scala.collection.mutable.Map.empty[String, Double]
    val qCleanMemProbe = scala.collection.mutable.Map.empty[String, Double]
    val qScrubAttempts = scala.collection.mutable.Map.empty[String, Int]
    if (controlRound.isDefined) {
      // EVERY query is scrubbed, not just the flagged ones: in-suite
      // cleanliness rests on end-of-iteration quiet samples alone, and
      // the first r15 capture proved that insufficient — q18 carried a
      // 2x-inflated median (6.25 s vs a 3.1-3.4 s clean remeasure) with
      // spread 1.02, steal 0.01 and a 44 ms post-iteration probe: the
      // degraded window cleared before every sample. The scrub's
      // bracket (pre + post quiet probes AND the ~500 ms in-band
      // sampler DURING the leg) is strictly tighter; an already-clean
      // query passes its first attempt, so the full-scrub overhead is
      // ~one extra warm pair per query.
      val need = results.collect {
        case (k, m) if !m.failed => k
      }.toSeq.sorted
      if (need.nonEmpty) System.err.println(
        s"[bench] control scrub: bracketing ${need.size} queries " +
          s"(${results.count { case (k, m) => !m.failed && !suiteClean(k) }} " +
          "not probe-clean in-suite)")
      // ROUND-ROBIN over the remaining-dirty set, not N consecutive
      // attempts per query: the episodes run ~10 minutes, so a query
      // scrubbed back-to-back inside one spends its whole allowance on
      // a single storm (the first r15 capture lost exactly the three
      // alphabetically-adjacent q03/q05/q06 that way while 49 others
      // landed clean); cycling the set puts each query's attempts
      // minutes apart for free.
      def scrubOnce(k: String): Boolean = {
        try {
          exec(queries(k)(spark, sfDir)) // re-warm leg
          graft.operators.Scratch.releaseAll(); syncDisk()
          val pre = cpuProbeMs()
          val memPre = memProbeMs()
          var t = -1.0
          val (_, post, inband) = probeDuring {
            val t0 = System.nanoTime()
            exec(queries(k)(spark, sfDir))
            t = (System.nanoTime() - t0) / 1e9
          }
          graft.operators.Scratch.releaseAll(); syncDisk()
          // the memory bracket is quiet-window only (pre + post, both
          // sampled AFTER a sync so our own writeback tail never fails
          // the bracket): an in-band chase contends with the query's
          // own traffic and reads degraded on clean windows
          val memPost = memProbeMs()
          resetSession(spark)
          if (windowClean(pre, cleanBar) && windowClean(post, cleanBar) &&
              inband.forall(p => windowClean(Some(p), inbandCleanBar)) &&
              memWindowClean(memPre) && memWindowClean(memPost)) {
            qCleanTime(k) = t
            post.foreach(qCleanProbe(k) = _)
            memPost.foreach(qCleanMemProbe(k) = _)
            true
          } else false
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] control scrub of $k failed: ${e.getMessage}")
          qScrubAttempts(k) = scrubAttempts // crashing scrub confirms nothing; retire it
          true // drop from the rotation (not marked clean — no qCleanTime entry)
        }
      }
      var remaining = need.toVector
      var round = 0
      while (remaining.nonEmpty && round < scrubAttempts) {
        round += 1
        remaining = remaining.filterNot { k =>
          val landed = scrubOnce(k)
          if (qScrubAttempts.getOrElse(k, 0) < scrubAttempts) qScrubAttempts(k) = round
          landed
        }
        if (remaining.nonEmpty) System.err.println(
          s"[bench] control scrub round $round: ${remaining.size} still dirty")
      }
      remaining.foreach(k => System.err.println(
        s"[bench] control scrub: $k never landed a clean window in $round rounds"))
      val dirty = results.keys.filter(k =>
        !suiteClean.getOrElse(k, false) && !qCleanTime.contains(k)).toSeq.sorted
      System.err.println(
        if (dirty.isEmpty) "[bench] control scrub: every query probe-clean"
        else s"[bench] control scrub: STILL DIRTY after scrub: ${dirty.mkString(", ")}")
    }

    // rerun-adjudicated regressions only: a candidate whose rerun is
    // back under the bar was contention (Exonerated — logged, visible
    // in the detail file's rerun fields); a FAILED rerun confirms
    // nothing (Unresolved); a confirming rerun under storm-grade
    // hypervisor steal indicts the storm, not the code (Stormy —
    // discarded with the evidence in rerun_steal/rerun_stormy, round-12
    // verdict item 1: a storm-hit rerun of a true candidate must not
    // land a FALSE `regressed` in the driver artifact)
    // On control runs the scrub's bracketed clean reading is the BEST
    // witness of a candidate's true current cost: a Confirmed verdict
    // whose verified-clean execution is back under the bar was storm
    // inflation the rerun's own evidence missed (the r15 capture's
    // confirm reruns read probe-clean AFTER episode-hit legs and landed
    // false q18/q31/q91 `regressed` entries) — the clean reading
    // exonerates. A clean reading that still regresses stays Confirmed.
    val outcomes: Map[String, Confirm] = candidates.map { case (k, ctl) =>
      k -> adjudicateWithClean(
        confirmOutcome(reruns.get(k).flatMap(_.warm), ctl,
          reruns.get(k).flatMap(_.stealCores), stormBar,
          reruns.get(k).flatMap(_.probeMs), probeFloorMs, cpiBar,
          reruns.get(k).flatMap(_.probeInbandMs), cpiBarInband,
          reruns.get(k).flatMap(_.memProbeMs), memProbeFloorMs, memBar),
        qCleanTime.get(k), ctl)
    }
    val stormDiscarded: Seq[String] =
      outcomes.collect { case (k, Confirm.Stormy) => k }.toSeq.sorted
    if (stormDiscarded.nonEmpty) System.err.println(
      s"[bench] candidate confirms DISCARDED — storm-grade rerun window " +
        s"(steal >= $stormBar cores, post probe >= ${cpiBar}x floor, " +
        s"in-band probe >= ${cpiBarInband}x floor, or mem chase >= " +
        s"${memBar}x mem floor): " +
        stormDiscarded.map(k =>
          s"$k (rerun ${reruns(k).warm.fold("?")(t => r3(t).toString)}s, " +
            s"steal ${reruns(k).stealCores.fold("?")(v => r2(v).toString)} cores, " +
            s"probe ${reruns(k).probeMs.fold("?")(v => r2(v).toString)}ms/" +
            s"inband ${reruns(k).probeInbandMs.fold("?")(v => r2(v).toString)}ms " +
            s"vs floor ${probeFloorMs.fold("?")(v => r2(v).toString)}ms, " +
            s"mem ${reruns(k).memProbeMs.fold("?")(v => r2(v).toString)}ms " +
            s"vs mem floor ${memProbeFloorMs.fold("?")(v => r2(v).toString)}ms, " +
            s"control ${r3(candidates(k))}s)").mkString(", "))

    val loadAvgEnd = loadAvg // sampled AFTER reruns + scrub: covers their windows too
    // container-scoped contention attribution over the whole suite
    // (reruns included, like loadAvgEnd): how many cores did NON-bench
    // work inside this container burn per wall second, and who does
    // the evidence indict — see contentionSource
    val suiteWall = (System.nanoTime() - suiteWallT0) / 1e9
    val otherBusyCores = for {
      cg0 <- cgStart; cg1 <- cgroupCpuUsec
      own0 <- ownStart; own1 <- processCpuUsec
    } yield math.max(0.0, ((cg1 - cg0) - (own1 - own0)) / 1e6) / suiteWall
    // average hypervisor-stolen cores over the whole suite (reruns
    // included): the external-contention witness loadavg cannot give
    val suiteStealCores = for (s0 <- stealStart; s1 <- procStatStealUsec)
      yield math.max(0.0, (s1 - s0) / 1e6) / suiteWall
    val maxProbeRatio = for {
      f <- probeFloorMs if f > 0
      m <- qProbe.values.maxOption
    } yield m / f
    val maxMemProbeRatio = for {
      f <- memProbeFloorMs if f > 0
      m <- qMemProbe.values.maxOption
    } yield m / f
    val source = contentionSource(
      loadHigh = loadHigh,
      spreadFlag = spreadFlag,
      otherBusyCores = otherBusyCores,
      maxQuerySteal = qSteal.values.maxOption,
      stormBar = stormBar,
      maxProbeRatio = maxProbeRatio,
      cpiBar = cpiBar,
      maxMemProbeRatio = maxMemProbeRatio,
      memBar = memBar)
    // the regressed buckets need `source` (computed above from the
    // whole suite's evidence): a Confirmed candidate whose own in-suite
    // windows were storm-peak-degraded under a suite-wide external
    // regime is UNVERIFIABLE this run, not regressed — see
    // unverifiableRegime (round-16 verdict item 5)
    // ...unless a bracket-verified clean reading (control scrub)
    // itself confirmed the regression: that witness was taken on a
    // pre+post+in-band-graded window, so the suite's regime cannot
    // have produced it — such a Confirmed stays `regressed`
    val (regressedUnverifiable, regressed) =
      outcomes.collect { case (k, Confirm.Confirmed) => k }.toSeq.sorted
        .partition(k => !qCleanTime.contains(k) &&
          unverifiableRegime(source, qProbe.get(k), probeFloorMs,
            qMemProbe.get(k), memProbeFloorMs, regimeBar))
    if (regressed.nonEmpty) System.err.println(
      s"[bench] REGRESSED vs control ${control.map(_.path).getOrElse("?")}: " +
        regressed.map(k => s"$k (${r3(results(k).median)}s vs control " +
          s"${r3(candidates(k))}s)").mkString(", "))
    if (regressedUnverifiable.nonEmpty) System.err.println(
      s"[bench] candidate confirms UNVERIFIABLE — suite-level regime " +
        s"($source) with the candidate's own in-suite probes >= " +
        s"${regimeBar}x floor: " +
        regressedUnverifiable.map(k =>
          s"$k (median ${r3(results(k).median)}s, probe " +
            s"${qProbe.get(k).fold("?")(v => r2(v).toString)}ms/mem " +
            s"${qMemProbe.get(k).fold("?")(v => r2(v).toString)}ms vs floors " +
            s"${probeFloorMs.fold("?")(v => r2(v).toString)}/" +
            s"${memProbeFloorMs.fold("?")(v => r2(v).toString)}ms, control " +
            s"${r3(candidates(k))}s) — re-bench on a clean window").mkString(", "))
    val qs = ordered.map { case (k, m) => "\"" + k + "\":" + r3(m.median) }
      .mkString("{", ",", "}")
    // total excludes failed (-1) queries so a crash can't "speed up" the sum
    val total = r3(results.values.map(_.median).filter(_ >= 0).sum)
    // sum of per-query minima: the best-case suite cost this machine
    // demonstrated — under contention total/min_total diverge, on an
    // idle machine they agree within noise
    val minTotal = r3(results.values.filter(!_.failed).map(_.min).filter(_ >= 0).sum)
    // per-query max/min iteration ratio, emitted only where > 1.5x AND
    // > 0.5 s absolute — empty on a quiet run, and under load it is the
    // in-artifact proof that an outlier median is contention, not a
    // plan regression
    val spreads = ordered.collect {
      case (k, m) if m.material => "\"" + k + "\":" + r2(m.spreadRatio)
    }.mkString("{", ",", "}")
    // full evidence file: every iteration of every query + the load
    // average at each query's start. Too big for the one-line stdout
    // contract (the consumer truncates to ~2000 chars), so it lands
    // next to the repo artifacts where the reviewer reads it.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL",
      "/root/repo/BENCH_DETAIL.json")
    val detail = new StringBuilder
    val loadAvgMin = r2(
      (results.values.map(_.loadAtStart).toSeq :+ loadAvgStart).min)
    val commit = gitHead
    detail ++= s"""{"sf":$sf,"cpus":${jnum(cpus)},"iters":$iters,"""
    detail ++= s""""driver_max_mem_mb":$maxMemMb,"""
    detail ++= commit.map(c => s""""commit":"$c",""").getOrElse("")
    detail ++= s""""load_avg_start":$loadAvgStart,"load_avg_end":$loadAvgEnd,"""
    detail ++= s""""load_avg_min":$loadAvgMin,"""
    detail ++= s""""contended":$contended,"contention_source":"$source","""
    detail ++= otherBusyCores.map(b => s""""other_busy_cores":${r2(b)},""").getOrElse("")
    detail ++= suiteStealCores.map(s => s""""steal_cores":${r2(s)},""").getOrElse("")
    detail ++= probeRef.map(p => s""""probe_ref_ms":${r2(p)},""").getOrElse("")
    detail ++= probeFloorMs.map(p => s""""probe_floor_ms":${r2(p)},""").getOrElse("")
    detail ++= maxProbeRatio.map(p => s""""max_probe_ratio":${r2(p)},""").getOrElse("")
    detail ++= memProbeRef.map(p => s""""mem_probe_ref_ms":${r2(p)},""").getOrElse("")
    detail ++= memProbeFloorMs.map(p => s""""mem_probe_floor_ms":${r2(p)},""").getOrElse("")
    detail ++= maxMemProbeRatio.map(p => s""""max_mem_probe_ratio":${r2(p)},""").getOrElse("")
    if (controlRound.isDefined && scrubUnmetered.nonEmpty)
      detail ++= scrubUnmetered.map(jstr)
        .mkString(""""scrub_unmetered":[""", ",", "],")
    control.foreach(c => detail ++= s""""control":${jstr(c.path)},""")
    if (regressed.nonEmpty)
      detail ++= regressed.map(jstr).mkString(""""regressed":[""", ",", "],")
    if (regressedUnverifiable.nonEmpty)
      detail ++= regressedUnverifiable.map(jstr)
        .mkString(""""regressed_unverifiable_regime":[""", ",", "],")
    if (stormDiscarded.nonEmpty)
      detail ++= stormDiscarded.map(jstr)
        .mkString(""""regressed_discarded_storm":[""", ",", "],")
    detail ++= s""""queries":{"""
    detail ++= ordered.map { case (k, m) =>
      val ts = m.times.map(r3).mkString("[", ",", "]")
      val rerun = reruns.get(k).map { r =>
        val extra = r.stealCores.map(v => s""","rerun_steal":${r2(v)}""").getOrElse("") +
          r.iowaitCores.map(v => s""","rerun_iowait":${r2(v)}""").getOrElse("") +
          r.probeMs.map(v => s""","rerun_probe_ms":${r2(v)}""").getOrElse("") +
          r.probeInbandMs.map(v => s""","rerun_probe_inband_ms":${r2(v)}""").getOrElse("") +
          r.memProbeMs.map(v => s""","rerun_memprobe_ms":${r2(v)}""").getOrElse("") +
          (if (r.attempts > 1) s""","rerun_attempts":${r.attempts}""" else "") +
          (if (stormDiscarded.contains(k)) s""","rerun_stormy":true""" else "")
        r.warm match {
          case Some(t) => s""","rerun":${r3(t)},"rerun_load":${r2(r.load)}$extra"""
          case None    => s""","rerun_failed":true,"rerun_load":${r2(r.load)}$extra"""
        }
      }.getOrElse("")
      val cpu = qCpu.get(k).map { case (cg, own) =>
        s""","cg_cpu":${r2(cg)},"own_cpu":${r2(own)}"""
      }.getOrElse("")
      val st = qSteal.get(k).map(v => s""","steal":${r2(v)}""").getOrElse("") +
        qIowait.get(k).map(v => s""","iowait":${r2(v)}""").getOrElse("") +
        qProbe.get(k).map(v => s""","probe_ms":${r2(v)}""").getOrElse("") +
        qMemProbe.get(k).map(v => s""","memprobe_ms":${r2(v)}""").getOrElse("")
      val ctl = candidates.get(k).map(c => s""","control_median":${r3(c)}""").getOrElse("")
      // control-capture evidence: whether THIS query's value rests on a
      // verified-clean window, plus the scrubbed clean reading when the
      // in-suite windows weren't (parseControl prefers "clean")
      val scrub = if (controlRound.isEmpty) "" else {
        s""","probe_clean":${suiteClean.getOrElse(k, false) || qCleanTime.contains(k)}""" +
          qCleanTime.get(k).map(v => s""","clean":${r3(v)}""").getOrElse("") +
          qCleanProbe.get(k).map(v => s""","clean_probe_ms":${r2(v)}""").getOrElse("") +
          qCleanMemProbe.get(k).map(v => s""","clean_memprobe_ms":${r2(v)}""").getOrElse("") +
          qScrubAttempts.get(k).map(v => s""","scrub_attempts":$v""").getOrElse("")
      }
      s""""$k":{"iters":$ts,"min":${r3(m.min)},"median":${r3(m.median)},""" +
        s""""spread":${r2(m.spreadRatio)},"load_at_start":${r2(m.loadAtStart)},""" +
        s""""failed":${m.failed}$cpu$st$ctl$rerun$scrub}"""
    }.mkString(",")
    detail ++= "}}\n"
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.toString.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write detail file $detailPath: $e")
    }
    // Clean-window CONTROL runs (SPARK_GRAFT_CONTROL_ROUND=NN) land the
    // same evidence at BENCH_CONTROL_rNN.json too — a filename the
    // driver never writes, so committing it preserves the control
    // across rounds (BENCH_DETAIL.json is driver-overwritten every
    // round; the round-11 control survived only in git history). The
    // tripwire above reads the highest-round one back.
    controlRound.foreach { r =>
      val p = java.nio.file.Paths.get(System.getProperty("user.dir"),
        s"BENCH_CONTROL_r$r.json")
      try {
        java.nio.file.Files.write(p, detail.toString.getBytes("UTF-8"))
        System.err.println(s"[bench] wrote control $p")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write control file $p: $e")
      }
    }

    // machine context so a contended run is identifiable from the JSON
    // alone (the round-3 driver bench overlapped builder activity and
    // the 5-20x inflation was indistinguishable from regression).
    // Field order: see renderLine — headline summary FIRST, queries
    // map ascending-median, compact summary duplicate LAST so the
    // consumer's 2000-char tail window always keeps one complete,
    // brace-balanced summary object.
    val rerunJson = ordered.collect {
      case (k, _) if reruns.get(k).exists(_.warm.isDefined) =>
        "\"" + k + "\":" + r3(reruns(k).warm.get)
    }.mkString("{", ",", "}")
    println(renderLine(total, minTotal, contended, source, otherBusyCores,
      commit, qs, sf, iters, spreads, rerunJson, loadAvgStart, loadAvgEnd,
      maxMemMb, cpus, detailPath, regressed, regressedUnverifiable))
    spark.stop()
  }

  /** 1-minute system load average (-1.0 where unsupported). */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Cumulative CPU time of THIS CONTAINER's cgroup, in microseconds.
    * /proc/loadavg on this box is HOST-wide (container-shared kernel,
    * SCALE.md round-8), so the load-average flag cannot tell "another
    * container is hammering the host" from "something else in OUR
    * container (a parallel sbt, a stray probe) is eating the cores".
    * The cgroup counter is container-scoped by construction. Tries
    * cgroup v2 (`cpu.stat` usage_usec), the v1 unified hierarchy
    * (same file under /unified — this box), then raw v1
    * `cpuacct.usage` (ns). None present → None, evidence degrades to
    * load-only. */
  private[graft] def cgroupCpuUsec: Option[Long] = {
    def fromStat(p: String): Option[Long] =
      try {
        val src = scala.io.Source.fromFile(p)
        try src.getLines().collectFirst {
          case l if l.startsWith("usage_usec") => l.split("\\s+")(1).toLong
        } finally src.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    def fromUsageNs(p: String): Option[Long] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8").trim.toLong / 1000L)
      catch { case scala.util.control.NonFatal(_) => None }
    fromStat("/sys/fs/cgroup/cpu.stat")
      .orElse(fromStat("/sys/fs/cgroup/unified/cpu.stat"))
      .orElse(fromUsageNs("/sys/fs/cgroup/cpuacct/cpuacct.usage"))
  }

  /** Cumulative CPU time of THIS JVM, in microseconds — the bench's
    * own share of the cgroup counter. (The sbt launcher JVM that
    * forked us idles while we run, so cgroup − process ≈ co-tenant
    * in-container work, give or take a few percent of one core.) */
  private[graft] def processCpuUsec: Option[Long] =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t >= 0) Some(t / 1000L) else None
      case _ => None
    }

  /** Attribute a contended run: `otherBusyCores` is the co-tenant
    * in-container CPU rate over the suite — (cgroupΔ − own JVMΔ) /
    * suite wall seconds, i.e. how many cores something ELSE inside
    * this container burned on average while we measured.
    * `maxQuerySteal` is the largest per-query stolen-cores rate (the
    * suite AVERAGE dilutes a 10-minute storm over a 20-minute run to
    * sub-bar values — both r13 control-hunt attempts averaged ≤ 0.34
    * while one query ran under 3.24 stolen cores).
    *   - ≥ 0.5 cores of non-bench container work → "container" (the
    *     run contended with in-container activity; both the r8 and r9
    *     driver runs could only say "load was high");
    *   - storm-grade steal on some query → "hypervisor" (directly
    *     measured external starvation — sharper than the loadavg
    *     inference below, and the only witness when the 1-minute
    *     average hasn't risen yet);
    *   - some query's fixed-work CPI probe read >= cpiBar x the run's
    *     floor → "cpu_slow" (degraded cycles-per-instruction with zero
    *     steal — SMT/cache co-tenancy at the hypervisor level; the
    *     round-14 episode. Sharper than the load inference below, so
    *     it outranks "host");
    *   - some query's fixed-work MEMORY chase read >= memBar x the
    *     run's memory floor while the register spin stayed quiet →
    *     "mem_slow" (bandwidth/LLC co-tenancy — the dimension the
    *     round-15 regime finding proved the spin blind to; round-16
    *     item 1). Ranked after "cpu_slow": a degraded-CPU window
    *     usually inflates the chase too, and the sharper instrument
    *     should name the episode;
    *   - otherwise, a high host load average with a quiet container →
    *     "host" (external to the VM, shape unmeasured);
    *   - spread-flag only, container quiet, no steal, no CPI
    *     inflation, no load indictment → "unknown" (own-JVM heap
    *     episode or IO stall — the evidence doesn't name a culprit);
    *   - nothing indicts → "none".
    * Pinned in BenchEvidenceSpec. */
  private[graft] def contentionSource(loadHigh: Boolean, spreadFlag: Boolean,
      otherBusyCores: Option[Double], maxQuerySteal: Option[Double] = None,
      stormBar: Double = 2.0, maxProbeRatio: Option[Double] = None,
      cpiBar: Double = 1.5, maxMemProbeRatio: Option[Double] = None,
      memBar: Double = 1.5): String =
    otherBusyCores match {
      case Some(b) if b >= 0.5 && (loadHigh || spreadFlag) => "container"
      case _ if (loadHigh || spreadFlag) && stormGrade(maxQuerySteal, stormBar) =>
        "hypervisor"
      case _ if (loadHigh || spreadFlag) && maxProbeRatio.exists(_ >= cpiBar) =>
        "cpu_slow"
      case _ if (loadHigh || spreadFlag) && maxMemProbeRatio.exists(_ >= memBar) =>
        "mem_slow"
      case _ if loadHigh => "host"
      case _ if spreadFlag => "unknown"
      case _ => "none"
    }

  /** Flush dirty pages and wait (untimed window only). Scratch dirs
    * are deleted first, so most dirty data is simply dropped and the
    * sync is cheap; what remains would otherwise stall the NEXT timed
    * window's I/O. Best-effort: absent/failing `sync` is ignored. */
  private def syncDisk(): Unit =
    try new ProcessBuilder("sync").start().waitFor()
    catch { case scala.util.control.NonFatal(_) => () }
}
