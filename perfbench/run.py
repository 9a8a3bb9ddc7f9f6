#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):

    python3 perfbench/run.py --workload inventory --seed 1 --seconds 8 --trace 0

Builds the library (into the root build's `target/`) and the harness
(into `.bench_build/`) from source with sbt, skipped when the sources
are unchanged since the last build; runs one workload in a fresh JVM;
and prints the harness's result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (spans are written to `.bench_build/trace/`).
Extra options, not used by the BENCHMARK.json workloads: `--panel all`
runs all 191 inventory keys instead of the 12-key panel, and
`--record PATH` writes the pass-1 fingerprints (how
`perfbench/expected/` was made).

Exit codes: 0 ok, 2 not a source checkout, 3 no Spark or build failed,
4 run failed or timed out, 5 malformed result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
# perfbench/build.sbt depends on the root build: the library compiles
# into the root build's target, the harness into .bench_build
LIB_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "stamp")
WORKLOADS = ("inventory", "flows", "stream_ingest")
RUN_TIMEOUT_S = 170
FULL_PANEL_TIMEOUT_S = 900  # --panel all: the whole inventory in one run
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """SPARK_HOME, or the installation that owns spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark installation: set SPARK_HOME")
        sys.exit(3)
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    want = source_hash()
    if all(map(os.path.isdir, (LIB_CLASSES, CLASSES))) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    log("building library + harness with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the JVM's perf-counter file out of the shared temp directory
    env["SBT_OPTS"] += " -XX:-UsePerfData"
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                     cwd=BENCH, env=env, timeout=BUILD_TIMEOUT_S,
                     stdout=sys.stderr)[0]
    if code != 0 or not all(map(os.path.isdir, (LIB_CLASSES, CLASSES))):
        log(f"build failed (exit {code})")
        sys.exit(3)
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want)


def run_child(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; on timeout kill the group and
    wait for it. Returns (exit code, captured stdout or None)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)

    def stop_child(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1, None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)


def java_cmd(args, work):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jars = os.path.join(spark_home(), "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # G1 picks 1 MB regions for a 3 GB heap, so Spark's megabyte buffers
    # become humongous allocations, each of which starts a concurrent
    # mark; a run had 80 to 180 GC pauses and the cold pass moved with
    # them. 4 MB is the region size G1 picks for the library's default
    # 8 GB heap (tools/run.sh); a 1 GB initial heap skips the early
    # resizing collections.
    cmd = ["java"] + opens + [
        "-Xmx3g", "-Xms1g", "-XX:G1HeapRegionSize=4m",
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([CLASSES, LIB_CLASSES, jars]), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", os.path.join(BENCH, "data", "sf0.01"),
        "--work", work,
        "--trace-dir", os.path.join(BUILD, "trace"),
        "--expected", os.path.join(BENCH, "expected", "inventory_sf0.01.json"),
        "--panel", args.panel]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    return cmd


def declared_metrics(trace):
    """The metric names BENCHMARK.json promises for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def valid_result(line, trace):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict)
            and set(r.get("metrics", {})) == declared_metrics(trace)
            and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int)
            and all(isinstance(m, dict) and set(m) == {"value", "unit"}
                    and isinstance(m["value"], (int, float))
                    for m in r["metrics"].values()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--panel", choices=("default", "all"), default="default")
    ap.add_argument("--record", default=None)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no library sources under {ROOT}/src/main/scala: not a source checkout")
        sys.exit(2)
    build()

    work = os.path.join(BUILD, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = run_child(java_cmd(args, work), cwd=ROOT, env=dict(os.environ),
                              timeout=FULL_PANEL_TIMEOUT_S if args.panel == "all"
                              else RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        log(f"benchmark JVM failed (exit {code})")
        sys.exit(4)
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
    if not lines or not valid_result(lines[-1], args.trace):
        log("benchmark JVM printed no valid result line")
        sys.exit(5)
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
