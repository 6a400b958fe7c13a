#!/usr/bin/env python3
"""graft benchmark: one closed-loop client runs a workload's fixed key list,
one query at a time, on Spark local[nproc] in a fresh JVM per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run has a cold pass on empty artifact roots; a check pass, untimed, whose
results are hashed against the DuckDB oracle hashes in oracle_hashes.json and
which also lets the JIT settle; then warm passes until S seconds of warm time.
The seed only permutes the key order of each pass.

--trace 0 prints the end-to-end metrics; --trace 1 registers the benchmark's
listeners and prints the per-layer metrics, with warm passes alternating
listeners on and off to measure the tracing overhead. The last stdout line is
one JSON object; every run also leaves a record (and, traced, its spans) under
.bench_build/perfbench/records/<workload>/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
from common import BenchError, log  # noqa: E402

SETUP_PROBES = 1     # extra set-up-only JVMs; with the main JVM, 2 samples
RUN_TIMEOUT = 170    # seconds for the whole run, build excluded


def quantile(xs, q):
    """q-quantile by linear interpolation between closest ranks."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def load1():
    return os.getloadavg()[0]


def steal_s():
    """CPU time the hypervisor took from this machine so far (Linux), so host
    contention shows in the record; None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def spawn_ms(cmd, log_path, timeout):
    t = time.time() * 1000
    try:
        rc = common.run_java(cmd, log_path, timeout)
    except subprocess.TimeoutExpired:
        raise BenchError(f"a JVM outlived the run's {RUN_TIMEOUT} s limit; see {log_path}")
    return t, rc


def run_jvms(cp, root, keys_file, data, args, out, deadline):
    """Set-up probes, then the measured JVM. Returns (setup samples s, record)."""
    setup = []
    for i in range(SETUP_PROBES):
        probe = os.path.join(root, f"setup{i}")
        os.makedirs(os.path.join(probe, "tmp"))
        t0, rc = spawn_ms(common.java_cmd(cp, probe, "setup", probe, f"{probe}/ready.json"),
                          f"{probe}.log", deadline - time.time())
        if rc != 0:
            raise BenchError(f"set-up probe exited {rc}; see {probe}.log")
        with open(f"{probe}/ready.json") as f:
            setup.append((json.load(f)["ready_ms"] - t0) / 1000)
        shutil.rmtree(probe)
    os.makedirs(os.path.join(root, "tmp"))
    jlog = os.path.join(root, "jvm.log")
    t0, rc = spawn_ms(
        common.java_cmd(cp, root, "run", data, root, keys_file, str(args.seed),
                        str(args.seconds), str(args.trace), out),
        jlog, deadline - time.time())
    if rc != 0 or not os.path.exists(out):
        with open(jlog) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"benchmark JVM exited {rc}:\n{tail}")
    with open(out) as f:
        rec = json.load(f)
    setup.append((rec["ready_ms"] - t0) / 1000)
    return setup, rec


def check_results(root, keys, hashes):
    """Hash each key's correctness-pass output; return {key: problem}."""
    import duckdb
    con = duckdb.connect()
    bad = {}
    for key in keys:
        want = hashes.get(key)
        path = os.path.join(root, "check", key)
        if want is None:
            bad[key] = "no oracle hash recorded"
            continue
        if not os.path.isdir(path):
            continue  # the JVM already reported this key's error
        df = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        got, rows = common.frame_hash(df)
        if got != want["sha256"]:
            bad[key] = f"hash differs from oracle ({rows} rows, oracle {want['rows']})"
    return bad


def warm_passes(rec):
    return [p for p in rec["passes"] if p["kind"] == "warm"]


def pass_ms(p):
    return sum(k["ms"] for k in p["keys"] if "error" not in k)


def end_to_end(rec, setup):
    warm = warm_passes(rec)
    samples = [k["ms"] for p in warm for k in p["keys"] if "error" not in k]
    p90 = quantile(samples, 0.9)
    return {
        "setup_s": (statistics.median(setup), "s"),
        "cold_s": (pass_ms(rec["passes"][0]) / 1000, "s"),
        "warm_s": (statistics.median(pass_ms(p) for p in warm) / 1000, "s"),
        "query_p50_ms": (quantile(samples, 0.5), "ms"),
        "query_p90_ms": (p90, "ms"),
        "heap_retained_mb": (rec["heap_retained_mb"], "MB"),
    }, (len(samples), sum(1 for s in samples if s > p90))


def per_layer(rec, workload_keys, modules):
    """Per-layer metrics from a traced record: sums per traced warm pass
    (median over those passes), Artifacts from the cold pass, module rollups
    from every pass."""
    passes = rec["passes"]
    cold = passes[0]
    warm = warm_passes(rec)
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    cores = rec["cores"]

    def med(f):
        return statistics.median(f(p) for p in traced)

    def total(field):
        return med(lambda p: sum(k.get(field, 0) for k in p["keys"]))

    m = {}
    m["entry.ms"] = (total("entry_ms"), "ms")
    m["entry.self_ms"] = (total("entry_self_ms"), "ms")
    m["catalyst.analysis_ms"] = (total("analysis_ms"), "ms")
    m["catalyst.optimization_ms"] = (total("optimization_ms"), "ms")
    m["catalyst.planning_ms"] = (total("planning_ms"), "ms")
    for name, field, unit in [("jobs", "jobs", "count"), ("stages", "stages", "count"),
                              ("tasks", "tasks", "count"), ("task_run_ms", "task_run_ms", "ms"),
                              ("task_cpu_ms", "task_cpu_ms", "ms"),
                              ("failed_tasks", "failed_tasks", "count")]:
        m[f"scheduler.{name}"] = (total(field), unit)
    m["scheduler.overhead_ms"] = (
        med(lambda p: sum(k["ms"] - k["task_run_ms"] / cores for k in p["keys"])), "ms")
    for name, field, unit in [("shuffle.write_bytes", "shuffle_write_bytes", "B"),
                              ("shuffle.read_bytes", "shuffle_read_bytes", "B"),
                              ("shuffle.fetch_wait_ms", "fetch_wait_ms", "ms"),
                              ("shuffle.spill_bytes", "spill_bytes", "B"),
                              ("scan.bytes", "scan_bytes", "B"), ("scan.rows", "scan_rows", "count"),
                              ("driver.result_bytes", "result_bytes", "B")]:
        m[name] = (total(field), unit)
    m["jvm.gc_ms"] = (med(lambda p: p["gc_ms"]), "ms")

    # Artifacts: what the cold pass built, and what warm passes wrote again
    warm_ms = {k: statistics.median(kr["ms"] for p in warm for kr in p["keys"]
                                    if kr["key"] == k) for k in workload_keys}
    built = [k for k in cold["keys"] if k["artifact_files"] > 0]
    m["artifacts.write_bytes"] = (sum(k["artifact_bytes"] for k in cold["keys"]), "B")
    m["artifacts.built_keys"] = (len(built), "count")
    m["artifacts.warm_rebuilds"] = (
        sum(1 for p in traced for k in p["keys"] if k["artifact_files"] > 0), "count")
    m["artifacts.cold_extra_ms"] = (sum(k["ms"] - warm_ms[k["key"]] for k in built), "ms")

    # streaming: micro-batches and state, over the traced warm passes
    batch_ms = [b for p in traced for k in p["keys"] for b in k["batch_ms"]]
    streaming_keys = lambda p: [k for k in p["keys"] if k["batches"] > 0]  # noqa: E731
    m["streaming.batches"] = (total("batches"), "count")
    m["streaming.input_rows"] = (total("input_rows"), "count")
    m["streaming.batch_ms_p50"] = (quantile(batch_ms, 0.5) if batch_ms else 0, "ms")
    m["streaming.batch_ms_p90"] = (quantile(batch_ms, 0.9) if batch_ms else 0, "ms")
    for name in ["add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "query_planning_ms",
                 "state_commit_ms"]:
        m[f"streaming.{name}"] = (total(name), "ms")
    m["streaming.state_rows"] = (total("state_rows"), "count")
    m["streaming.state_memory_bytes"] = (total("state_memory_bytes"), "B")
    m["streaming.checkpoint_bytes"] = (
        med(lambda p: sum(k["fs_write_bytes"] for k in streaming_keys(p))), "B")
    m["streaming.start_stop_ms"] = (
        med(lambda p: sum(k["entry_ms"] - sum(k["batch_ms"]) for k in streaming_keys(p))), "ms")

    # session state left behind, at the end of the run
    for name, v in rec["session_end"].items():
        m[f"session.{name}"] = (v, "count")

    for mod in modules:
        ks = {k for k, km in workload_keys.items() if km == mod}
        m[f"module.{mod}.cold_ms"] = (sum(k["ms"] for k in cold["keys"] if k["key"] in ks), "ms")
        m[f"module.{mod}.warm_ms"] = (statistics.median(
            sum(k["ms"] for k in p["keys"] if k["key"] in ks) for p in warm), "ms")

    m["trace.overhead_ratio"] = (
        statistics.median(pass_ms(p) for p in traced) /
        statistics.median(pass_ms(p) for p in untraced), "ratio")
    return m


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=common.REPO, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    wls = common.load_workloads()
    if args.workload not in wls["workloads"]:
        raise BenchError(f"unknown workload {args.workload}; have {sorted(wls['workloads'])}")
    wl = wls["workloads"][args.workload]
    keys = {k: mod for mod, ks in wl["keys"].items() for k in ks}
    modules = sorted({m for w in wls["workloads"].values() for m in w["keys"]})
    data = common.data_dir(wls)
    with open(common.HASHES) as f:
        hashes = json.load(f)["hashes"]
    cp, stamp = common.build()

    started = time.time()
    load_start, steal_start = load1(), steal_s()
    runs = os.path.join(common.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    # Spark prefers this variable to spark.local.dir; keep spills in the root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    deadline = started + RUN_TIMEOUT
    try:
        keys_file = os.path.join(root, "keys.txt")
        with open(keys_file, "w") as f:
            f.writelines(f"{k}\n" for k in keys)
        out = os.path.join(root, "record.json")
        setup, rec = run_jvms(cp, root, keys_file, data, args, out, deadline)
        bad = check_results(root, sorted(keys), hashes)
        spans = None
        if args.trace:
            with open(out + ".spans.json") as f:
                spans = json.load(f)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    load_end, steal_end = load1(), steal_s()

    errors = {k["key"]: k["error"] for p in rec["passes"] for k in p["keys"] if "error" in k}
    errors.update(bad)
    attempted = sum(len(p["keys"]) for p in rec["passes"])
    failed = sum(1 for p in rec["passes"] for k in p["keys"] if "error" in k) + len(bad)

    if args.trace:
        metrics = per_layer(rec, keys, modules)
        samples = None
    else:
        metrics, samples = end_to_end(rec, setup)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(), "source_stamp": stamp,
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started)),
        "load1_start": load_start, "load1_end": load_end, "nproc": rec["cores"],
        "cpu_steal_s": None if steal_start is None else steal_end - steal_start,
        "heap_max_mb": rec["heap_max_mb"], "setup_samples_s": setup,
        "attempted": attempted, "failed": failed, "errors": errors,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "passes": [{"kind": p["kind"], "traced": p["traced"],
                    "key_ms": {k["key"]: k["ms"] for k in p["keys"]}} for p in rec["passes"]],
    }
    rdir = os.path.join(common.BUILD, "records", args.workload)
    os.makedirs(rdir, exist_ok=True)
    base = os.path.join(rdir, f"{time.strftime('%Y%m%dT%H%M%S')}-s{args.seed}-t{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if spans is not None:
        with open(base + ".spans.json", "w") as f:
            json.dump(spans, f)

    for k, (v, u) in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {u}")
    if samples is not None:
        print(f"{args.workload} query latency samples = {samples[0]} warm key executions, "
              f"{samples[1]} above query_p90_ms")
    else:
        warm = warm_passes(rec)
        print(f"{args.workload} tracing overhead: traced warm_s = "
              f"{statistics.median(pass_ms(p) for p in warm if p['traced']) / 1000:.6g} s, "
              f"untraced warm_s = "
              f"{statistics.median(pass_ms(p) for p in warm if not p['traced']) / 1000:.6g} s")
    print(f"{args.workload} failed_ratio = {failed / attempted:.6g} ({failed}/{attempted})")
    if record["cpu_steal_s"] is not None:
        print(f"{args.workload} host: load1 {load_start:.2f} -> {load_end:.2f}, "
              f"cpu steal {record['cpu_steal_s']:.1f} s during the run")
    for k, e in sorted(errors.items()):
        print(f"{args.workload} FAILED {k}: {e}")
    print(f"{args.workload} record = {os.path.relpath(base, common.REPO)}.json")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
