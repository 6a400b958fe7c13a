"""Shared pieces of the graft benchmark: the build, the data location, the
JVM launch and the canonical result hash."""
import hashlib
import json
import math
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
WORKLOADS = os.path.join(HERE, "workloads.json")
HASHES = os.path.join(HERE, "oracle_hashes.json")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
HEAP = "4g"


class BenchError(Exception):
    """A condition under which the benchmark must not print a result."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_workloads():
    with open(WORKLOADS) as f:
        return json.load(f)


def data_dir(workloads):
    """The read-only generated dataset (see TESTDATA.md); GRAFT_BENCH_DATA
    overrides the default location under the home directory."""
    d = os.environ.get("GRAFT_BENCH_DATA") or os.path.join(
        os.path.expanduser("~"), "testdata", workloads["scale"])
    missing = [t for t in TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise BenchError(f"dataset {d} lacks tables {missing}")
    return d


def source_stamp():
    """Hash of every source the build reads: a changed file forces a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        p = os.path.join(REPO, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, REPO).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile graft and the benchmark's JVM program once per source state;
    return its classpath."""
    if not os.path.isfile(os.path.join(REPO, "build.sbt")) or \
            not os.path.isdir(os.path.join(REPO, "src", "main")):
        raise BenchError(f"no graft sources beside the benchmark in {REPO}")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read(), stamp
    log("building graft and the benchmark (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if "perfbench-target" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        with open(os.path.join(BUILD, "build.log"), "a") as out:
            out.write(r.stdout)
        raise BenchError(f"build failed (exit {r.returncode}); see {BUILD}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, stamp


def java_cmd(cp, root, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={root}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", *args]


def run_java(cmd, log_path, timeout):
    """Run one JVM to completion; kill it and wait on timeout or interrupt."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException:
            p.kill()
            p.wait()
            raise
    return rc


# ---- canonical result hash: the rendering tools/check.py compares ------------
# Kept here rather than imported, so that a change to the repository's tools
# cannot silently move the hashes stored in oracle_hashes.json.

def _norm(v):
    import numpy as np
    if isinstance(v, (np.floating, float)):
        return "nan" if math.isnan(v) else f"{round(float(v), 6):.6f}"
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return repr(int(v))
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if v is None:
        return "None"
    return repr(v)


def frame_hash(df):
    """Columns sorted by name, values rendered dtype-sensitively, rows sorted;
    returns (sha256 of the canonical rows, row count)."""
    df = df[sorted(df.columns)]
    rows = sorted(tuple(_norm(v) for v in t) for t in df.itertuples(index=False, name=None))
    h = hashlib.sha256(("\x1e".join(sorted(df.columns)) + "\n").encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest(), len(rows)
