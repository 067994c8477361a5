#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload gemm --seed 1 --seconds 6 --trace 0

Builds the engine (src/main) and the harness (perfbench/src) with scalac from
the Spark distribution's jars into .bench_build/, runs one workload in one
fresh JVM (perfbench/src/Harness.scala), checks every op's output, and prints
as its last stdout line one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The line before it is the run's full record
(host, versions, corpus fingerprint, per-pass times, route decisions and the
reason for every per-layer metric a workload does not produce).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BUILD = ".bench_build"
# The heap is fixed at its full size from the start and collected by the
# parallel collector: with a growing G1 heap, early passes also paid for
# heap resizing, which stretched warm-up and added run-to-run spread.
JVM_MEM = "3g"
JVM_OPTS = [f"-Xms{JVM_MEM}", f"-Xmx{JVM_MEM}", "-XX:+UseParallelGC"]
# Session set-ups per run: the first from JVM launch (setup_s), the rest
# re-create the session in the same JVM (engine.recreate_s, their median).
SETUPS = 3
# Corpus scale per workload (TESTDATA.md's sf column).
SCALE = {"gemm": None, "dedup_stream": "0.01"}
# gemm sizes: one n×n multiply generated inside the plan, one read from
# Parquet staged before the JVM starts.
GEN_N, STORED_N = 768, 128
# Warm passes per run at --seconds PASS_SECONDS, BENCHMARK.json's
# run_seconds (on a 4-core host about 15 s of gemm passes and 22 s of
# dedup_stream passes); other --seconds scale the count. The count is fixed rather than timed:
# the JIT is still levelling off over the warm passes, and a timed loop
# would make fewer, earlier and slower passes on a slower host.
PASS_SECONDS = 20
WARM_PASSES = {"gemm": 5, "dedup_stream": 2}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def steady_passes(passes):
    """Indices of the warm passes that count: the first third of the warm
    passes, rounded down, settles the JIT and is left out."""
    return range(1 + (len(passes) - 1) // 3, len(passes))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # The build's own statement of where the Spark jars live.
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("Spark jars not found (set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def corpus_dir(sf):
    """Directory of the read-only corpus at scale `sf`, as TESTDATA.md lists it."""
    for line in open("TESTDATA.md"):
        m = re.match(r"\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", line)
        if m and m.group(1) == sf:
            d = m.group(2).rstrip("/")
            if os.path.isdir(d):
                return d
            fail(f"corpus dir {d} (sf {sf}) is missing")
    fail(f"TESTDATA.md lists no sf {sf} corpus")


def build(jars):
    """Compile src/main and perfbench/src once per source hash."""
    sources = sorted(glob.glob("src/main/**/*.scala", recursive=True))
    harness = sorted(glob.glob("perfbench/src/*.scala"))
    h = hashlib.sha256()
    for f in sources + harness:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out, h.hexdigest()[:16], 0.0
    t0 = time.time()
    tmp = os.path.join(BUILD, f"tmp-build-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + sources + harness
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("build failed")
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else a concurrent run built it first
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out, h.hexdigest()[:16], time.time() - t0


def cpu_ticks():
    """(all, steal) CPU ticks since boot, from /proc/stat; steal is time the
    hypervisor ran something else while this VM had work."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def load1():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def fingerprint(d):
    return [{"file": os.path.basename(f), "bytes": os.path.getsize(f),
             "mtime": int(os.path.getmtime(f))}
            for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]


def stage_matrices(d, n, seed):
    """Seeded dense n×n COO matrices A and B, integers 0–99, as Parquet."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    i, j = np.divmod(np.arange(n * n, dtype=np.int64), n)
    for side in ("A", "B"):
        os.makedirs(os.path.join(d, side))
        v = rng.integers(0, 100, n * n, dtype=np.int64)
        pq.write_table(pa.table({"i": i, "j": j, "v": v}),
                       os.path.join(d, side, "part-0.parquet"))


def git_commit():
    if not os.path.isdir(".git"):
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def run_jvm(cp, args, run_dir, budget):
    """Run the harness JVM; kill it on timeout or when this runner exits."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Harness"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def oracle_check(sf_dir, check_dir, names):
    """tools/check.py's DuckDB comparison; returns {name: ok}."""
    if not names:
        return {}
    r = subprocess.run([sys.executable, "tools/check.py", sf_dir, check_dir] + names,
                       capture_output=True, text=True, timeout=120)
    ok = {n: False for n in names}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|ERROR) (\S+?):?\s", line + " ")
        if m and m.group(2) in ok:
            ok[m.group(2)] = m.group(1) == "PASS"
            if m.group(1) != "PASS":
                print(line, file=sys.stderr)
    return ok


def steal_frac(start, end):
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    return {
        "setup_s": (res["setups"][0]["setup_s"], "s"),
        "pass_s": (median([res["passes"][p] for p in steady_passes(res["passes"])]), "s"),
    }


def per_layer(res, workload):
    """Per-layer metrics: medians over the steady warm passes of the traced
    run. Returns (metrics, unavailable): unavailable maps name -> reason."""
    tr = res["trace"]
    keep = set(steady_passes(res["passes"]))
    passes = [p for p in tr["per_pass"] if p["pass"] in keep]
    ops = [o for o in tr["per_op"] if o["pass"] in keep]

    def pm(k):
        return median([p[k] for p in passes])

    m, na = {}, {}

    def put(name, value, unit, reason=None):
        m[name] = (value, unit)
        if reason:
            na[name] = reason

    put("trace.pass_s", median([res["passes"][p] for p in keep]), "s")
    put("jvm.peak_rss_mb", res["peak_rss_mb"], "MB")
    put("jvm.cold_s", res["passes"][0], "s")
    put("engine.session_s", res["setups"][0]["session_s"], "s")
    put("engine.warmup_s", res["setups"][0]["warmup_s"], "s")
    put("engine.recreate_s", median([s["setup_s"] for s in res["setups"][1:]]), "s")
    for k, unit in [("engine.scan_bytes", "bytes"), ("engine.scan_rows", "count"),
                    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
                    ("plan.planning_s", "s"), ("exec.jobs", "count"),
                    ("exec.stages", "count"), ("exec.tasks", "count"),
                    ("exec.sched_wait_s", "s"), ("exec.task_s", "s"),
                    ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
                    ("exec.idle_frac", "ratio"), ("exec.task_skew", "ratio"),
                    ("exec.shuffle_write_bytes", "bytes"),
                    ("exec.shuffle_read_bytes", "bytes"),
                    ("exec.spill_bytes", "bytes"),
                    ("exec.peak_exec_mem_bytes", "bytes"),
                    ("exec.failed_tasks", "count")]:
        put(k, pm(k), unit)

    # graft.plans.MatMulStrategy and graft.operators.MatrixOps
    dec = res["gemm_decisions"]
    kinds = {"gen": None, "stored": None}
    for name in dec:
        kinds["gen" if name.startswith("gen") else "stored"] = name
    macs = 0
    for kind, name in kinds.items():
        why = None if name else f"{workload} runs no gemm op"
        d = dec.get(name, {})
        if name and d.get("route") == "unavailable":
            why = "MatMulStrategy decision hooks unavailable: " + d.get("error", "")
        n, bs = d.get("n", 0), d.get("bs", 0)
        mine = [o for o in ops if o["op"] == name]
        secs = [o["secs"] for o in res["ops"] if o["op"] == name and o["pass"] in keep]
        put(f"plan.gemm_block.{kind}", 1 if d.get("route") == "block" else 0, "count", why)
        put(f"plan.gemm_bs.{kind}", bs, "count", why)
        put(f"plan.gemm_R.{kind}", d.get("R", 0), "count", why)
        put(f"gemm.op_s.{kind}", median(secs), "s", why)
        put(f"gemm.shuffle_bytes.{kind}",
            median([o["exec.shuffle_write_bytes"] for o in mine]), "bytes", why)
        model_why = why or (None if bs else "row-join route has no tile model")
        put(f"gemm.shuffle_model_bytes.{kind}", n ** 3 * 8 / bs if bs else 0, "bytes",
            model_why)
        macs += n ** 3
    gemm_why = None if macs else f"{workload} runs no gemm op"
    put("gemm.macs", macs, "count", gemm_why)
    cpu = pm("exec.cpu_s")
    put("gemm.gmac_per_cpu_s", macs / cpu / 1e9 if macs and cpu else 0, "GMAC/s", gemm_why)

    # graft.operators.DedupOps / MatchGraph
    dedup_why = None if pm("dedup.verified_pairs") or pm("dedup.rep_pairs_s") else \
        f"{workload} writes no match-graph artifact"
    for k in ("rep_pairs_s", "pairs_s", "components_s"):
        put(f"dedup.{k}", pm(f"dedup.{k}"), "s", dedup_why)
    cand_why = dedup_why or (None if pm("dedup.candidates_seen") else
                             "no (da, db) candidate aggregate in the rep_pairs plan "
                             "(dense regime or changed plan shape)")
    cand, ver = pm("dedup.candidate_rows"), pm("dedup.verified_pairs")
    put("dedup.candidate_rows", cand, "count", cand_why)
    put("dedup.verified_pairs", ver, "count", dedup_why)
    put("dedup.verify_yield", ver / cand if cand else 0, "ratio", cand_why)
    put("dedup.artifact_bytes", pm("dedup.artifact_bytes"), "bytes", dedup_why)

    # graft.streaming.EventStreams
    batches = pm("stream.batches")
    stream_why = None if batches else f"{workload} runs no micro-batch"
    put("stream.batches", batches, "count", stream_why)
    for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution"):
        put(f"stream.batch_ms.{k}", pm(f"stream.ms.{k}") / batches if batches else 0,
            "ms", stream_why)
    trig = pm("stream.ms.triggerExecution")
    put("stream.overhead_frac", 1 - pm("stream.ms.addBatch") / trig if trig else 0,
        "ratio", stream_why)
    put("stream.state_rows", pm("stream.state_rows"), "count", stream_why)
    put("stream.state_mem_bytes", pm("stream.state_mem_bytes"), "bytes", stream_why)
    put("stream.state_commit_ms", pm("stream.state_commit_ms"), "ms", stream_why)
    return m, na


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    # A terminated runner still stops its JVM and removes its scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for f in ("build.sbt", "TESTDATA.md", "tools/check.py", "src/main/scala"):
        if not os.path.exists(f):
            fail(f"{f} not found: run from the root of a checkout of the engine")

    jars = spark_jars()
    classes, src_hash, build_s = build(jars)
    corpus = corpus_dir(SCALE[a.workload]) if SCALE[a.workload] else None
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.abspath(os.path.join(BUILD, f"run-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_start, ticks_start = load1(), cpu_ticks()
    try:
        data = corpus or os.path.join(run_dir, "stored")
        if not corpus:
            stage_matrices(data, STORED_N, a.seed)
        warm = max(1, round(WARM_PASSES[a.workload] * a.seconds / PASS_SECONDS))
        args = [f"workload={a.workload}", f"seed={a.seed}", f"warm_passes={warm}",
                f"setups={SETUPS}",
                f"trace={a.trace}", f"cores={cores}", f"out={run_dir}",
                f"data={data}", f"gen_n={GEN_N}",
                f"stored_n={STORED_N}", f"t0={int(time.time() * 1000)}"]
        budget = max(30.0, 170.0 - (time.time() - t_start))
        rc = run_jvm(f"{os.path.abspath(classes)}:{os.path.join(jars, '*')}",
                     args, run_dir, budget)
        res_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(res_file):
            print(open(os.path.join(run_dir, "jvm.log")).read()[-4000:], file=sys.stderr)
            fail(f"harness exited with {rc}")
        res = json.load(open(res_file))
        oracle_names = [n for n, c in res["checks"].items() if c["kind"] == "oracle"]
        oracle_ok = oracle_check(data, os.path.join(run_dir, "check"), oracle_names)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    check_ok = {}
    for name, c in res["checks"].items():
        check_ok[name] = oracle_ok.get(name, False) if c["kind"] == "oracle" else c.get("ok", False)
    attempted = len(res["ops"])
    errored = sum(1 for o in res["ops"] if "error" in o)
    wrong = sum(1 for ok in check_ok.values() if not ok)
    failed = errored + wrong

    if a.trace:
        metrics, unavailable = per_layer(res, a.workload)
    else:
        metrics, unavailable = end_to_end(res), {}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": cores, "xmx": JVM_MEM,
        "versions": res["versions"], "git_commit": git_commit(),
        "source_hash": src_hash, "build_s": build_s,
        "conf_overrides": res["conf_overrides"],
        "load1_start": load_start, "load1_end": load1(),
        "steal_frac": steal_frac(ticks_start, cpu_ticks()),
        "corpus": {"dir": corpus, "files": fingerprint(corpus)} if corpus else None,
        "timeline_s": res["timeline_s"], "wall_s": time.time() - t_start,
        "setups": res["setups"], "passes": res["passes"],
        "op_secs": {n: [round(o["secs"], 4) for o in res["ops"] if o["op"] == n]
                    for n in res["checks"]},
        "gemm_decisions": res["gemm_decisions"], "checks": check_ok,
        "errors": [o for o in res["ops"] if "error" in o][:5],
        "unavailable": unavailable,
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": wrong == 0 and errored == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
