#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload stream_kmeans --seed 1 --seconds 12 --trace 0

Builds the harness together with graft's sources (once per source
state), generates the inputs, runs the workload in one JVM, checks its
outputs and prints one JSON object as the last line:
the end-to-end metrics untraced (`--trace 0`), the per-layer metrics
traced (`--trace 1`). Exits non-zero when an output is wrong or an
operation failed. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("stream_kmeans", "dedup_curate")
SETUPS = 3
TABLE_SEED = 42
PINNED = os.path.join(HERE, "pinned.json")
JVM_TIMEOUT_S = 170
SPANS = ["op", "Tables.documents", "Dedup.minhashMd5PairsUnsorted", "Dedup.ccLabels",
         "Dataset.write", "Sinks.writeAssignments",
         "StreamingKMeans.merge", "Sinks.writeSnapshot"]
STREAM_PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                 "commitOffsets"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft's main sources and the harness, unless this exact
    source state was built already. Returns the classes directory."""
    harness = os.path.join(HERE, "harness")
    sources = (glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
               + glob.glob(os.path.join(harness, "src", "main", "**", "*"), recursive=True)
               + [os.path.join(harness, "build.sbt"),
                  os.path.join(harness, "project", "build.properties")])
    stamp_file = os.path.join(build_dir(), "build.stamp")
    classes = os.path.join(harness, "target", "scala-2.13", "classes")
    stamp = tree_hash([p for p in sources if os.path.isfile(p)])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.offline=true" not in opts:
        opts.append("-Dsbt.offline=true")
    if os.path.exists(repos) and not any(o.startswith("-Dsbt.repository.config") for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the harness and graft's sources with sbt")
    t0 = time.time()
    with open(os.path.join(build_dir(), "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=harness, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.exit(f"sbt build failed (exit {rc}); see {build_dir()}/build.log")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def gen_version():
    return tree_hash([os.path.join(HERE, "gen.py")])[:16]


def inputs():
    """The documents table, generated once per generator version from
    TABLE_SEED: the oracle digest in pinned.json holds for exactly this
    table. (stream_kmeans makes its points from --seed in the harness.)"""
    data = os.path.join(build_dir(), "data", gen_version())
    if not os.path.exists(os.path.join(data, "documents.parquet")):
        gen.generate(data, TABLE_SEED)
    return data


def host():
    """Cores from the scheduler affinity (what nproc reports); driver heap
    as half the RAM in /proc/meminfo, clamped to 2..8 GB."""
    cores = len(os.sched_getaffinity(0))
    gb = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gb = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, gb


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat: time the hypervisor gave
    the host's CPUs to other guests, a noise source to record."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def run_jvm(classes, workload, data, work, seconds, trace, seed, cores, heap_gb):
    raw = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        sys.exit("SPARK_HOME is not set")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb}g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Main",
              workload, data, work, str(seconds), str(trace), str(seed), str(cores),
              str(SETUPS), raw])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"the harness did not finish in {JVM_TIMEOUT_S} s; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(raw):
        sys.exit(f"the harness failed (exit {rc}); see {work}/jvm.log")
    with open(raw) as f:
        return json.load(f)


def output_digest(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return "no parquet written"
    return stats.digest(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())


def oracle_checks(raw):
    """Each output a set-up pass wrote against the pinned digest of its
    key's DuckDB oracle on the same tables."""
    if not raw["outputs"]:
        return []
    pinned = {"gen": None}
    if os.path.exists(PINNED):
        with open(PINNED) as f:
            pinned = json.load(f)
    if pinned["gen"] != gen_version():
        return [{"name": "oracle.pins", "ok": False,
                 "detail": "no pinned.json for this gen.py; run perfbench/pin.py"}]
    import duckdb
    con = duckdb.connect()
    checks = []
    for out in raw["outputs"]:
        got, want = output_digest(con, out["path"]), pinned["digests"][out["key"]]
        checks.append({"name": f"oracle.{out['key']}.c{out['cycle']}", "ok": got == want,
                       "detail": f"digest {got[:16]} vs oracle {want[:16]}"})
    return checks


def end_to_end(raw, workload):
    """The gated metrics, and the latency tail with its percentile (in
    the run record only: a run has too few ops for the tail rule to get
    above the median)."""
    ops = [o for o in raw["ops"] if o["ok"]]
    lat = [o["end"] - o["start"] for o in ops]
    wall_s = (raw["window"][1] - raw["window"][0]) / 1000
    # points per batch, documents per pass
    items = (sum(o["rows"] for o in ops) if workload == "stream_kmeans"
             else gen.DOCUMENTS * len(ops))
    metrics = {
        "setup_s": (stats.median(raw["setup_s"][1:]), "s"),
        "throughput_per_s": (items / wall_s if wall_s > 0 else 0.0, "1/s"),
        "latency_p50_ms": (stats.median(lat), "ms"),
    }
    return metrics, stats.tail(lat)


def per_layer(raw, workload, cores, e2e):
    ops = raw["ops"]
    n = max(1, len(ops))
    ws, we = raw["window"]
    wall_ms = max(1e-9, we - ws)
    measured = {o["op"] for o in ops}
    jobs = [j for j in raw["jobs"] if ws <= j["start"] <= we]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in raw["stages"] if s["id"] in stage_ids]
    plans = [q for q in raw["plans"] if ws <= q["at"] <= we]

    def total(rows, key):
        return float(sum(r[key] for r in rows))

    job_cover = stats.union_length([(j["start"], j["end"]) for j in jobs if j["end"] >= 0])
    cand, ver = total(plans, "dedup_candidates"), total(plans, "dedup_verified")
    m = {
        "plan.analysis_ms": (total(plans, "analysis_ms") / n, "ms/op"),
        "plan.optimization_ms": (total(plans, "optimization_ms") / n, "ms/op"),
        "plan.planning_ms": (total(plans, "planning_ms") / n, "ms/op"),
        "exec.jobs": (len(jobs) / n, "count/op"),
        "exec.stages": (len(stages) / n, "count/op"),
        "exec.tasks": (total(stages, "tasks") / n, "count/op"),
        "exec.task_run_s": (total(stages, "run_ms") / 1e3 / n, "s/op"),
        "exec.task_cpu_s": (total(stages, "cpu_ns") / 1e9 / n, "s/op"),
        "exec.gc_s": (total(stages, "gc_ms") / 1e3 / n, "s/op"),
        "exec.busy_ratio": (total(stages, "run_ms") / (wall_ms * cores), "ratio"),
        "exec.driver_gap_s": ((wall_ms - job_cover) / 1e3 / n, "s/op"),
        "exchange.shuffle_write_bytes": (total(stages, "shuffle_write") / n, "B/op"),
        "exchange.shuffle_read_bytes": (total(stages, "shuffle_read") / n, "B/op"),
        "exchange.spill_bytes": (total(stages, "spill") / n, "B/op"),
        "operators.dedup.candidates": (cand / n, "count/op"),
        "operators.dedup.verified": (ver / n, "count/op"),
        "operators.dedup.verify_yield": (ver / cand if cand else 0.0, "ratio"),
        "sources.files_read": (total(plans, "files_read") / n, "count/op"),
        "sources.bytes_read": (total(plans, "bytes_read") / n, "B/op"),
        "sinks.files_written": (total(plans, "files_written") / n, "count/op"),
        "sinks.bytes_written": (total(plans, "bytes_written") / n, "B/op"),
    }
    progress = [p for p in raw["progress"] if p["batch"] in measured and p["rows"] > 0] \
        if workload == "stream_kmeans" else []
    for phase in STREAM_PHASES:
        layer = "sources" if phase in ("latestOffset", "getBatch") else "streaming"
        m[f"{layer}.{phase}_ms"] = (stats.median([p["durations"].get(phase, 0) for p in progress]),
                                    "ms")
    spans = [s for s in raw["spans"] if s["op"] in measured]
    self_ms = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    stream = workload == "stream_kmeans"

    def span_p50(name, own=False):
        return stats.median([self_ms[s["id"]] if own else s["end"] - s["start"]
                             for s in by_name.get(name, [])]) if stream else 0.0
    m["streaming.merge_ms"] = (span_p50("StreamingKMeans.merge"), "ms")
    m["streaming.engine_ms"] = (span_p50("op", own=True), "ms")
    m["sinks.writeAssignments_ms"] = (span_p50("Sinks.writeAssignments"), "ms")
    m["sinks.writeSnapshot_ms"] = (span_p50("Sinks.writeSnapshot"), "ms")
    # jobs carry the job group `pb:<op>:<call>` of the call that launched
    # them; the whole op (`op`) launches none outside its calls
    stage_by_id = {s["id"]: s for s in stages}
    task_ms = {}
    for j in jobs:
        if j["group"].startswith("pb:"):
            call = j["group"].split(":", 2)[2]
            task_ms[call] = task_ms.get(call, 0.0) + sum(
                stage_by_id[s]["run_ms"] for s in j["stages"] if s in stage_by_id)
    for name in SPANS:
        ss = by_name.get(name, [])
        if name != "op":
            m[f"{name}.task_s"] = (task_ms.get(name, 0.0) / 1e3 / n, "s/op")
        m[f"{name}.calls"] = (len(ss) / n, "count/op")
        m[f"{name}.self_s"] = (sum(self_ms[s["id"]] for s in ss) / 1e3 / n, "s/op")
        m[f"{name}.total_s"] = (sum(s["end"] - s["start"] for s in ss) / 1e3 / n, "s/op")
    m["jvm.heap_after_gc_mb"] = (raw["heap_after_gc_mb"], "MB")
    m["traced.latency_p50_ms"] = (e2e["latency_p50_ms"][0], "ms")
    m["traced.throughput_per_s"] = (e2e["throughput_per_s"][0], "1/s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"graft's sources are not under {ROOT}/src/main/scala; "
                 "run from the root of a graft checkout")
    load_start = os.getloadavg()[0]
    steal_start = cpu_ticks()
    os.makedirs(build_dir(), exist_ok=True)
    classes = build()
    data = inputs()
    work = os.path.join(build_dir(), "work", f"{args.workload}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores, heap_gb = host()
    raw = run_jvm(classes, args.workload, data, work, args.seconds, args.trace, args.seed,
                  cores, heap_gb)
    checks = raw["checks"] + oracle_checks(raw)
    load_end = os.getloadavg()[0]
    steal, total = (b - a for a, b in zip(steal_start, cpu_ticks()))

    e2e, (tail_p, tail_ms) = end_to_end(raw, args.workload)
    failed = len(raw["failures"]) + sum(1 for c in checks if not c["ok"])
    attempted = len(raw["ops"]) + raw["warmup_ops"] + len(checks)
    correct = failed == 0 and len(raw["ops"]) > 0
    metrics = e2e if not args.trace else per_layer(raw, args.workload, cores, e2e)
    base = {"stream_kmeans": "batches", "dedup_curate": "passes"}[args.workload]
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cores, "heap_gb": heap_gb, "load": [load_start, load_end],
            "steal_pct": 100.0 * steal / max(1, total),
            "measured_ops": len(raw["ops"]), "warmup_ops_excluded": raw["warmup_ops"],
            "setup_runs_s": raw["setup_s"], "tail_percentile": tail_p, "latency_tail_ms": tail_ms,
            "heap_after_gc_mb": raw["heap_after_gc_mb"],
            "failed_ratio": {"value": failed / attempted, "base":
                             f"{base} (warm-up and measured) plus output checks"},
            "failures": raw["failures"][:5],
            "checks": [c for c in checks if not c["ok"]][:5] or f"{len(checks)} passed"}
    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
