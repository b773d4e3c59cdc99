#!/usr/bin/env python3
"""Job-platform benchmark: two workloads over the engine's public API.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness (the
engine's own sources plus ``perfbench/src``) with sbt into
``.bench_build/``, keyed by a hash of those sources; later runs of the
same sources reuse it. Right after a build one untimed JVM dumps the
oracle SQL and a class-data-sharing archive of the classes a run loads
at start-up, which every measured run then maps.
Inputs are generated from the seed ahead of time (``gen.py``) and cached
per seed and size. One JVM then warms up and measures the workload for
S seconds (at least MIN_ITERS iterations) in a ``local[CORES]`` session; its
outputs are checked against the repo's DuckDB oracles (``oracles.py``)
outside every timed window.

Workloads (why each exists is in BENCHMARK.json):
  daily_batch  the day's ingest: q105-shaped CV envelopes drained through
               CvIngest.ingestFiles (AvailableNow), q104-shaped offer blobs
               through JobPipeline.enrich(materialize) -> loadWarehouse;
               then the five Analytics dashboards, refreshed five times
  pairs        q50-shaped offer/CV facts -> Matching.score -> top-5, then
               the documents corpus -> Dedup.nearDedup (Auto encoding)

End-to-end metrics (``--trace 0``), the same names on both workloads:
  setup_s       forked JVM start to the end of the warm-up iterations
  items_per_s   records ingested (offers + CVs) per second of the ingest
                phase (daily_batch); CVs matched with their top-5
                delivered per second of matching (pairs); the median over
                the run's measured iterations
  latency_s     what a user waits for: one refresh of the five dashboards
                (daily_batch); one round of both pair operators, every
                CV's top-5 delivered and the corpus near-deduplicated
                (pairs); the median over every sample of the run
  peak_heap_mb  largest heap occupancy left after any GC while measuring

Per-layer metrics (``--trace 1``, ``metrics.py``) come from a run that
alternates untraced and traced iterations, so ``trace.overhead_s`` is
measured in-process; spans and their attribution rules are documented in
``metrics.attribute``. Span figures are per traced iteration, so
``analytics.dashboard.*`` sums an iteration's refreshes. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. Contention witnesses (the fixed-work CPU probe and
hypervisor steal around every iteration) are printed to stderr and kept
in ``.bench_build/last-<workload>.json``.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracles  # noqa: E402

HEAP = "3g"

# Measured iterations per run, at least (more while --seconds lasts), and
# the untimed warm-up iterations before them (part of setup_s). A pairs
# process runs its second iteration ~40% slower than its third, so it
# warms up twice. A daily_batch iteration (~15 s) warms up once and is
# measured once, with five latency samples: that is what the run budget
# (4 + 22 x 2 runs and two builds within 57 minutes) leaves room for.
# Input sizes are gen.SIZES: 1500 offers and 1200 CVs (daily_batch), 750
# CVs x 500 offers and 1000 documents (pairs).
MIN_ITERS = {"daily_batch": 1, "pairs": 3}
WARMUPS = {"daily_batch": 1, "pairs": 2}

WORKLOADS = ["daily_batch", "pairs"]

# Spark task threads (local[N]). Both workloads are bound by the driver
# thread, so two task threads run them as fast as four do on a 4-core
# host, and they leave cores for the driver, JIT and GC threads: a
# stolen or oversubscribed core then stalls fewer of a stage's tasks.
CORES = 2

SPANS = ["engine.table", "stages.parse", "stages.skills", "stages.salary",
         "stages.dedup", "stages.sectors", "sources.warehouse",
         "analytics.dashboard", "matching.score", "matching.pairs",
         "dedup.lsh", "dedup.cc", "dedup.survivors", "streaming.drain"]

SPAN_UNITS = {"wall_s": "s", "driver_s": "s", "task_cpu_s": "s", "task_wait_s": "s",
              "gc_s": "s", "shuffle_bytes": "B", "spill_bytes": "B"}

EXTRA_UNITS = {
    "scratch.bytes_written": "B", "scratch.write_s": "s",
    "matching.pairs_scored": "count", "matching.topk_yield": "ratio",
    "dedup.lsh.candidates": "count", "dedup.lsh.verify_yield": "ratio",
    "dedup.lsh.bitmap": "flag", "dedup.cc.rounds": "count",
    "streaming.batch.planning_ms": "ms", "streaming.batch.wal_commit_ms": "ms",
    "streaming.batch.latest_offset_ms": "ms", "streaming.batch.add_batch_ms": "ms",
    "streaming.batches": "count", "trace.overhead_s": "s",
    "witness.probe_ratio": "ratio", "witness.steal_s": "s",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build


def source_stamp(root):
    """Hash of every file the harness is compiled from."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        paths = [t] if os.path.isfile(t) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(t) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root, out):
    """The classpath of the harness built from the current sources. Each
    source stamp keeps its own jar, classpath, oracle dump and class
    archive under ``stamp-<hash>/``, so builds of other sources in the
    same checkout never invalidate them."""
    stamp = source_stamp(root)
    sdir = os.path.join(out, f"stamp-{stamp}")
    cp_file = os.path.join(sdir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), sdir
    log("building the harness with sbt (first run of these sources)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's own state and temporary files stay in the checkout too
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
            f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(out, "build.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        tail = "\n".join(lines[-15:])
        fail(f"sbt build failed (exit {p.returncode}):\n{tail}")
    # the harness jar is rewritten by the next build: keep a copy per stamp
    shutil.rmtree(sdir, ignore_errors=True)
    os.makedirs(sdir)
    target = os.path.join(out, "target") + os.sep
    cp = []
    for entry in lines[-1].strip().split(os.pathsep):
        if entry.startswith(target):
            entry = shutil.copy(entry, os.path.join(sdir, os.path.basename(entry)))
        cp.append(entry)
    cp = os.pathsep.join(cp)
    prepare(cp, sdir)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, sdir


def java_cmd(cp, work, args, cds):
    opts = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += [
        cds,
        f"-Xmx{HEAP}", "-XX:MaxHeapFreeRatio=100", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
    ]
    return ["java"] + opts + ["-cp", cp, "graft.perfbench.Main"] + args


def run_java(cmd, work, timeout, label):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, f"{label}.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, f"{label}.log")) as f:
            tail = f.read()[-3000:]
        fail(f"{label} JVM exited with {code}:\n{tail}")


def prepare(cp, sdir):
    """One untimed JVM right after a build: it dumps the oracle SQL and,
    at exit, a class-data-sharing archive of the classes it loaded
    (session start-up and a parquet round trip). Every measured run
    maps the archive, whatever workload ran first."""
    work = os.path.join(sdir, "work-prepare")
    os.makedirs(work, exist_ok=True)
    jsa = os.path.join(sdir, "classes.jsa")
    run_java(java_cmd(cp, work, ["prepare", os.path.join(sdir, "oracles.json"), work],
                      f"-XX:ArchiveClassesAtExit={jsa}"), work, 170, "prepare")
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(jsa):
        fail("the preparing JVM dumped no class archive")


# ------------------------------------------------------------ reductions


def witnesses(iters):
    probes = [p for it in iters for p in it["probe_ms"] if p > 0]
    steal = [it["steal_s"] for it in iters if it["steal_s"] >= 0]
    ratio = max(probes) / min(probes) if probes else 0.0
    return ratio, sum(steal)


def end_to_end(result, setup_s):
    iters = [it for it in result["iters"] if it["ok"]]
    # the throughput window of each iteration, by workload
    phase = {"daily_batch": "ingest_s", "pairs": "match_s"}[result["workload"]]
    rates = [it["items"] / it["phases"][phase] for it in iters]
    latency = [x for it in iters for x in it["latency_s"]]
    log(f"throughput over {len(rates)} iteration(s) of {iters[0]['items']} items, "
        f"latency over {len(latency)} sample(s)")
    return {
        "setup_s": (setup_s, "s"),
        "items_per_s": (statistics.median(rates), "1/s"),
        "latency_s": (statistics.median(latency), "s"),
        "peak_heap_mb": (result["peak_heap_mb"], "MB"),
    }


def per_layer(result):
    iters = result["iters"]
    traced = [it for it in iters if it["traced"] and it["ok"]]
    plain = [it for it in iters if not it["traced"] and it["ok"]]
    trace = result["trace"]
    n = len(traced)
    spans = M.attribute(trace, {it["iter"] for it in traced})
    out = {}
    for name in SPANS:
        seg, jobs = spans.get(name, ([], []))
        for k, v in M.span_metrics(seg, jobs, n).items():
            out[f"{name}.{k}"] = (v, SPAN_UNITS[k])
    extras = {k: 0.0 for k in EXTRA_UNITS}
    extras.update(M.scratch_metrics(trace, n))
    for it in traced:
        extras.update(it["extras"])
    if trace["progress"]:
        extras.update(M.batch_phases(trace["progress"], n))
    extras["trace.overhead_s"] = (
        statistics.median(it["wall_s"] for it in traced)
        - statistics.median(it["wall_s"] for it in plain)) if traced and plain else 0.0
    extras["witness.probe_ratio"], extras["witness.steal_s"] = witnesses(iters)
    for k, unit in EXTRA_UNITS.items():
        out[k] = (float(extras[k]), unit)
    return out


# ------------------------------------------------------------------- main


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ["src/main/scala/graft/Engine.scala", "scripts/gen_sf.py",
                 "scripts/check.py", "scripts/cc_check.py"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)

    cp, sdir = build(root, out)
    with open(os.path.join(sdir, "oracles.json"), encoding="utf-8") as f:
        oracle_json = json.load(f)
    t = time.time()
    inputs = gen.ensure(root, os.path.join(out, "inputs"), a.workload, a.seed,
                        oracle_json["constants"])
    tables = gen.BASE_TABLES[a.workload]
    for name in oracles.CHECKS[a.workload]:
        oracles.expected(root, inputs, name, tables, oracle_json["oracles"])
    log(f"inputs ready in {time.time() - t:.1f}s: {inputs}")

    work = os.path.join(out, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fork = time.time()
        args = ["run", "--workload", a.workload, "--inputs", inputs, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--fork-ms", str(int(fork * 1000)),
                "--min-iters", str(MIN_ITERS[a.workload]), "--warmups", str(WARMUPS[a.workload]),
                "--cores", str(CORES)]
        cds = f"-XX:SharedArchiveFile={os.path.join(sdir, 'classes.jsa')}"
        run_java(java_cmd(cp, work, args, cds), work, 170, "run")
        log(f"benchmark JVM ran {time.time() - fork:.1f}s")
        with open(os.path.join(work, "result.json"), encoding="utf-8") as f:
            result = json.load(f)
        setup_s = (result["setup_end_ms"] - result["fork_ms"]) / 1000.0
        prev = result["fork_ms"]
        steps = []
        for m in result["marks"]:
            (k, t), = m.items()
            steps.append(f"{k} +{(t - prev) / 1000.0:.1f}s")
            prev = t
        log("set-up: " + ", ".join(steps))

        t = time.time()
        verdicts = oracles.check(root, inputs, a.workload, tables, oracle_json["oracles"],
                                 os.path.join(work, "check"))
        log(f"output checks ran {time.time() - t:.1f}s")
        # every iteration's outputs must digest like the checked last one
        checks_ok = all(v == "OK" for _, v in verdicts)
        iters = result["iters"]
        last_fp = iters[-1]["fingerprint"] if iters else None
        failed = sum(1 for it in iters
                     if not it["ok"] or it["fingerprint"] != last_fp or not checks_ok)
        attempted = len(iters)
        metrics = per_layer(result) if a.trace else end_to_end(result, setup_s)

        ratio, steal = witnesses(iters)
        for name, v in verdicts:
            log(f"check {name}: {v}")
        log(f"setup {setup_s:.2f}s; iterations {attempted}, failed {failed}; "
            f"cpu probe max/min {ratio:.2f}, steal {steal:.2f}s"
            + ("  <-- CPU contention: read timings with care" if ratio > 1.5 or steal > 1 else ""))
        with open(os.path.join(out, f"last-{a.workload}.json"), "w") as f:
            json.dump({"verdicts": verdicts, "setup_s": setup_s, "iters": iters}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
