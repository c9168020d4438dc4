#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload kmeans-pipeline --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The library (src/main/scala) and the
benchmark driver (perfbench/src) are compiled with the Scala compiler
that ships in Spark's jar directory into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are
unchanged. One JVM then runs the workload (local[N], N = usable cores,
one closed-loop client) and writes raw samples; this script turns them
into metrics. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones. The line before it
is the run's provenance record.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 170.0  # a run must end within 180 s; keep a margin

# Spark on JDK 17 outside spark-submit needs these
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ("kmeans-pipeline", "graph-fixpoint", "ingest-append")

# spans whose work counters every traced result carries
SPANS = ("sources.read", "sources.write", "kmeans.fit", "kmeans.label",
         "kmeans.dbi", "graph.read", "graph.pagerank", "graph.labelprop",
         "components.cc", "dedup.probe", "dedup.append",
         "streaming.countmin")
COUNTERS = ("jobs", "tasks", "exec_cpu_s", "shuffle_bytes", "result_bytes",
            "spill_bytes")
GRAPH_SPANS = ("graph.read", "graph.pagerank", "graph.labelprop",
               "components.cc")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ statistics

def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs, min_beyond=10):
    """Highest percentile of a fixed ladder with at least `min_beyond`
    samples beyond it (nearest rank), as (percentile, value). With too
    few samples for any, the median is reported as percentile 50."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 50.0, 0.0
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        rank = max(1, math.ceil(p * n / 100.0 - 1e-9))
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    return 50.0, median(xs)


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def regressed(base, new, bound, better):
    """True when `new` is worse than `base` by more than `bound` (a
    share of `base`)."""
    if better == "lower":
        return new > base * (1.0 + bound)
    return new < base * (1.0 - bound)


# ----------------------------------------------------------------- build

def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("no Spark jar directory (set SPARK_HOME, or "
                         "unmanagedBase in build.sbt)")
    return m.group(1)


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BenchError("src/main/scala not found: run from the repository root")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    return files


def build(root, build_dir, jars):
    """Compile library + driver into build_dir/classes unless the
    sources are unchanged since the last build."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    compiler = [glob.glob(os.path.join(jars, p + "-2.13*.jar"))
                for p in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        raise BenchError(f"no Scala 2.13 compiler in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BenchError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


# -------------------------------------------------------------- running

def usable_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """A quarter of physical memory, clamped to [2, 4] GB: the inputs
    are small, and the host's memory is shared."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(2, min(4, total // (4 << 30)))


def git_commit(root):
    try:
        # never report the commit of an enclosing repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def run_jvm(classes, jars, args, work, out, budget):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # ParallelGC: measured on a 4-core host, G1's concurrent work made
    # runs of one seed bimodal (5.2-8.7 CPU s per kmeans iteration);
    # with ParallelGC the same runs took 4.1-5.1 s
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb()}g", "-Xss4m", "-XX:+UseParallelGC", "-Dfile.encoding=UTF-8",
              f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "graftbench.Main"] + args + ["--work", work, "--out", out])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise BenchError(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
    with open(out, encoding="utf-8") as f:
        return json.load(f)


# -------------------------------------------------------------- metrics

def end_to_end(raw, launch_s):
    timed = [it for it in raw["iterations"] if it["ok"] and not it["traced"]]
    job_s = median(it["wall_s"] for it in timed)
    return {
        "setup_s": (raw["session_ready_ms"] / 1000.0 - launch_s)
                   + median(raw["setup_s"]) + raw["warmup_s"],
        "job_s": job_s,
        "rows_per_s": raw["rows_per_iteration"] / job_s if job_s else 0.0,
        "job_cpu_s": median(it["cpu_s"] for it in timed),
        "retained_heap_mb": median(it["heap_mb"] for it in timed),
    }


def per_layer(raw):
    iters = raw["iterations"]
    traced = [it for it in iters if it["traced"]]
    spans = raw["spans"]  # one dict per traced iteration, same order
    rows = list(zip(traced, spans))
    cores = raw["cores"]

    def get(sp, name, key):
        return sp.get(name, {}).get(key, 0)

    def med(f):
        return median(f(it, sp) for it, sp in rows)

    def ratio(a, b):
        return a / b if b else 0.0

    def dur(name):
        return med(lambda it, sp: get(sp, name, "dur_s"))

    def per_call(name):
        return median(x for _, sp in rows for x in sp.get(name, {}).get("call_s", []))

    def extra(it, key):
        return it["extra"].get(key, 0)

    untraced = [it["wall_s"] for it in iters if it["ok"] and not it["traced"]]
    batches = [b for it in iters if it["ok"] for b in it["batches_s"]]
    tail_pct, tail_s = tail(batches)

    def write_amp(it, sp):
        written = (get(sp, "sources.write", "output_bytes") + extra(it, "driver_write_bytes")
                   + get(sp, "dedup.append", "output_bytes"))
        return ratio(written, extra(it, "input_bytes") + extra(it, "delta_bytes"))

    m = {
        "sources.read_s": dur("sources.read"),
        "sources.write_s": dur("sources.write"),
        "sources.write_bytes": med(lambda it, sp: get(sp, "sources.write", "output_bytes")
                                   + extra(it, "driver_write_bytes")),
        "kmeans.fit_s": dur("kmeans.fit"),
        "kmeans.round_s": med(lambda it, sp: ratio(get(sp, "kmeans.fit", "dur_s"),
                                                   extra(it, "rounds"))),
        "kmeans.jobs_per_round": med(lambda it, sp: ratio(get(sp, "kmeans.fit", "jobs"),
                                                          extra(it, "rounds"))),
        "kmeans.result_bytes": med(lambda it, sp: get(sp, "kmeans.fit", "result_bytes")),
        "kmeans.busy": med(lambda it, sp: ratio(get(sp, "kmeans.fit", "exec_run_s"),
                                                get(sp, "kmeans.fit", "dur_s") * cores)),
        "kmeans.label_s": dur("kmeans.label"),
        "kmeans.dbi_s": dur("kmeans.dbi"),
        "graph.read_s": dur("graph.read"),
        "graph.pagerank_s": dur("graph.pagerank"),
        "graph.pagerank_jobs_per_round": med(lambda it, sp: ratio(
            get(sp, "graph.pagerank", "jobs"), extra(it, "pagerank_iters"))),
        "graph.pagerank_shuffle_bytes": med(lambda it, sp: get(sp, "graph.pagerank",
                                                               "shuffle_bytes")),
        "graph.labelprop_s": dur("graph.labelprop"),
        "graph.labelprop_jobs_per_round": med(lambda it, sp: ratio(
            get(sp, "graph.labelprop", "jobs"), extra(it, "labelprop_iters"))),
        "components.cc_s": dur("components.cc"),
        "components.cc_jobs": med(lambda it, sp: get(sp, "components.cc", "jobs")),
        "components.cc_shuffle_bytes": med(lambda it, sp: get(sp, "components.cc",
                                                              "shuffle_bytes")),
        "graph.busy": med(lambda it, sp: ratio(
            sum(get(sp, s, "exec_run_s") for s in GRAPH_SPANS),
            sum(get(sp, s, "dur_s") for s in GRAPH_SPANS) * cores)),
        "dedup.probe_s": per_call("dedup.probe"),
        "dedup.pairs_per_planted": med(lambda it, sp: ratio(extra(it, "useful_pairs"),
                                                            extra(it, "planted"))),
        "dedup.append_s": per_call("dedup.append"),
        "artifacts.version_bytes": med(lambda it, sp: extra(it, "version_bytes")),
        "artifacts.live_bytes": med(lambda it, sp: extra(it, "live_bytes")),
        "streaming.countmin_s": dur("streaming.countmin"),
        "streaming.s_per_trigger": med(lambda it, sp: ratio(
            get(sp, "streaming.countmin", "dur_s"), get(sp, "streaming.countmin", "triggers"))),
        "cachepool.live_after": median(it["cachepool_live"] for it in iters),
        "cachepool.persisted_rdds_after": median(it["persisted_rdds"] for it in iters),
        "batch_p50_s": median(batches),
        "batch_tail_s": tail_s,
        "batch_tail_pct": tail_pct if batches else 0.0,
        "batch_samples": len(batches),
        "write_amp": med(write_amp),
        "error_rate": ratio(raw["calls_failed"], raw["calls_attempted"]),
        "unattributed_jobs": ratio(raw["unattributed_jobs"], len(traced)),
        "trace_overhead": ratio(median(it["wall_s"] for it in traced if it["ok"]),
                                median(untraced)),
    }
    for s in SPANS:
        for c in COUNTERS:
            m[f"{s}.{c}"] = med(lambda it, sp, s=s, c=c: get(sp, s, c))
    return m


KMEANS_SIZES = ("points", "dim", "blobs", "k", "rounds")


def recorded_checks(raw):
    """For the recorded seed and sizes, the fitted centroid lines and the
    DBI must match expected.json."""
    with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as f:
        exp = json.load(f).get(raw["workload"])
    if not exp or exp["seed"] != raw["seed"] or any(
            exp["sizes"][k] != raw["sizes"][k] for k in KMEANS_SIZES):
        return []
    fits = [it["extra"] for it in raw["iterations"] if it["ok"]]
    ok = bool(fits) and all(x.get("centroids_sha256") == exp["centroids_sha256"]
                            and x.get("dbi") == exp["dbi"] for x in fits)
    if not ok:
        log("check kmeans.recorded failed: centroids or DBI differ from expected.json")
    return [{"name": "kmeans.recorded", "ok": ok,
             "detail": None if ok else "centroids or DBI differ from expected.json"}]


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_start = time.time()
    root = os.getcwd()
    load_start = os.getloadavg()[0]
    try:
        with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
            spec = json.load(f)
        jars = spark_jars(root)
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        t_build = time.time()
        classes = build(root, build_dir, jars)
        build_s = time.time() - t_build  # the first run may build; not timed
        cores = usable_cores()
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
        work = os.path.join(build_dir, "work", tag)
        out = os.path.join(build_dir, "results", tag + ".raw.json")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        launch = time.time()
        try:
            raw = run_jvm(classes, jars, [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores)], work, out,
                DEADLINE_S - (launch - t_start - build_s))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except (BenchError, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 2

    checks = raw["checks"] + recorded_checks(raw)
    attempted = raw["calls_attempted"] + len(checks) - len(raw["checks"])
    failed = raw["calls_failed"] + sum(not c["ok"] for c in checks[len(raw["checks"]):])

    if a.trace:
        values, declared = per_layer(raw), spec["per_layer"]
    else:
        values, declared = end_to_end(raw, launch), spec["end_to_end"]
    if set(values) != {d["name"] for d in declared}:
        log("metric set differs from BENCHMARK.json: "
            f"{sorted(set(values) ^ {d['name'] for d in declared})}")
        return 2
    metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
               for d in declared}

    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "sizes": raw["sizes"],
        "rows_per_iteration": raw["rows_per_iteration"],
        "iterations": len(raw["iterations"]), "nproc": cores,
        "heap_mb": raw["provenance"]["max_heap_mb"],
        "jdk": raw["provenance"]["jdk"], "spark": raw["provenance"]["spark"],
        "git_commit": git_commit(root),
        "load_avg_1m_start": load_start, "load_avg_1m_end": os.getloadavg()[0],
        "checks": checks, "trace_file": raw["provenance"]["trace_file"],
    }
    with open(out, "r+", encoding="utf-8") as f:
        raw["result_provenance"] = provenance
        raw["metrics"] = metrics
        f.seek(0)
        json.dump(raw, f)
        f.truncate()
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": failed == 0 and all(c["ok"] for c in checks),
                      "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
