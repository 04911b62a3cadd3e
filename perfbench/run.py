#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload {micro,rest,stream} \
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --workload micro --seed N --seconds 1 --survey

Run from the root of a checkout. Builds the engine and the benchmark
harness from source (the Scala compiler in Spark's jars, no sbt and no
dependency resolution), generates the seeded inputs once per
(seed, generator version), runs one workload in a fresh JVM, checks the
outputs and prints one JSON object as the last line of stdout: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Lines before it name every failed operation and report the workload's own
metrics with units.

Builds, inputs and run directories live in the work directory (see
work_dir), never among the checkout's files.

--survey runs one traced micro pass over every eligible registered query
instead of the fixed sample and prints each query's construction / plans /
exec split and the suite's shares; the sample in Micro.scala is chosen
from its output (perfbench/design.json records it).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # nothing written next to the sources
sys.path.insert(0, HERE)
import gen  # noqa: E402
import rest_load  # noqa: E402



def work_dir():
    """Where builds, inputs and run directories go: the build directory the
    environment names for this checkout (CARGO_TARGET_DIR, relative to the
    checkout) if it names one, else a directory in the system's temporary
    area keyed by the checkout's path, so that a run leaves the checkout's
    files as they were."""
    named = os.environ.get("CARGO_TARGET_DIR")
    if named:
        return os.path.join(ROOT, named, "perfbench")
    key = hashlib.sha256(ROOT.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"perfbench-{key}")


WORK = work_dir()
BUILD = os.path.join(WORK, "build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
SOURCES = (PROGRAM, os.path.join(HERE, "src", "main", "scala"))
WORKLOADS = ("micro", "rest", "stream")
# Scale of the star-schema tables the micro queries read.
MICRO_SF = 0.01
HEAP = "4g"
# Wall-clock limit for the benchmark JVM of one run, and of a survey.
JVM_TIMEOUT_S = 170
SURVEY_TIMEOUT_S = 1500
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

UNITS = {"setup_s": "s", "pass_s": "s", "live_mb": "MB", "error_rate": "ratio",
         "steal_share": "ratio", "cpu_ms_per_op": "ms", "exec.ms": "ms",
         "ops_per_s": "1/s", "rows_per_s": "1/s"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_ratio")) or name == "rest.bytes_per_user_byte":
        return "ratio"
    return "count"


def show(items):
    return ", ".join(f"{k}={v:.4g} {unit_of(k)}" if v is not None else f"{k}=n/a"
                     for k, v in items)


def steal_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat; None
    where that is not available. Steal is time the hypervisor gave this
    machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def spark_jars():
    """The jar directory the repository's own build compiles against (its
    unmanagedBase), else $SPARK_HOME/jars. It holds Spark and the Scala
    2.13 library, reflect and compiler jars."""
    root_build = os.path.join(ROOT, "build.sbt")
    m = None
    if os.path.exists(root_build):
        with open(root_build) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        d = m.group(1)
    elif os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        die("the repository's build.sbt names no jar directory and SPARK_HOME is unset")
    if not os.path.isdir(d):
        die(f"Spark's jar directory {d} is missing")
    return d


def source_files():
    return sorted(os.path.join(d, f) for r in SOURCES for d, _, fs in os.walk(r)
                  for f in fs if f.endswith(".scala"))


def source_stamp(files):
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine's sources (src/main/scala) and the harness
    (perfbench/src/main/scala) into one class directory, unless they are
    unchanged since the last build. Returns the runtime classpath."""
    jars = spark_jars()
    files = source_files()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp(files)
    built = None
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            built = f.read()
    if built != stamp:
        log(f"compiling {len(files)} Scala sources")
        shutil.rmtree(BUILD, ignore_errors=True)
        os.makedirs(classes)
        os.makedirs(os.path.join(BUILD, "tmp"))
        with open(os.path.join(BUILD, "sources"), "w") as f:
            f.write("\n".join(files) + "\n")
        p = subprocess.run(
            ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
             "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", classes, "@" + os.path.join(BUILD, "sources")],
            cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            die("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp = [classes]
    resources = os.path.join(PROGRAM, "..", "resources")
    if os.path.isdir(resources):
        cp.append(os.path.normpath(resources))
    return os.pathsep.join(cp + [os.path.join(jars, "*")])


# ---- inputs ----------------------------------------------------------------

def inputs(workload, seed):
    """Directory of the seeded inputs of `workload`, generated if absent.
    Generation is not part of any timed figure."""
    d = os.path.join(WORK, "inputs", f"v{gen.VERSION}-s{seed}", workload)
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "micro":
        os.makedirs(os.path.join(d, "tables"))
        gen.star_schema(os.path.join(d, "tables"), seed, MICRO_SF)
    elif workload == "rest":
        gen.rest_inputs(d, seed)
    elif workload == "stream":
        gen.stream_inputs(d, seed)
    open(os.path.join(d, "DONE"), "w").close()
    return d


# ---- the benchmark JVM -----------------------------------------------------

def start_jvm(cp, workload, inp, run, seed, seconds, trace):
    for sub in ("tmp", "derby"):
        os.makedirs(os.path.join(run, sub), exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # No hsperfdata file in the system temp directory.
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run}/tmp",
            f"-Dderby.system.home={run}/derby", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            workload, inp, run, str(seed), str(seconds), "1" if trace else "0"]
    out = open(os.path.join(run, "jvm.log"), "w")
    # Spark's scratch must stay in the run directory (spark.local.dir).
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    return subprocess.Popen(cmd, cwd=run, env=env, stdin=subprocess.PIPE, stdout=out,
                            stderr=subprocess.STDOUT, text=True,
                            start_new_session=True)


def stop(proc):
    """End the JVM and everything it started; wait until it has exited."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def wait_jvm(proc, deadline):
    try:
        proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        die("benchmark JVM exceeded its time limit", 3)


def jvm_failed(run):
    with open(os.path.join(run, "jvm.log")) as f:
        tail = f.read()[-3000:]
    sys.stderr.write(tail)
    die("benchmark JVM failed", 3)


# ---- output checks ---------------------------------------------------------

def check_micro(inp, run):
    """Compare each checked micro result with DuckDB over the same tables,
    normalised as the repository's oracle gate (tools/check.py) does.
    Queries without oracle SQL must return rows. Returns failure names."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import norm_rows
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inp}/tables/{t}.parquet')")
    with open(os.path.join(run, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(run, "queries.json")) as f:
        names = json.load(f)
    failures = []
    for name in names:
        out = os.path.join(run, "check", name)
        if not os.path.isdir(out):
            continue  # the query threw; the JVM already counted it
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
        except Exception as e:  # noqa: BLE001 - any reader error fails the query
            failures.append(f"{name}: output unreadable: {str(e).splitlines()[0]}")
            continue
        if name not in oracle:
            if not grows:
                failures.append(f"{name}: no rows")
            continue
        try:
            exp = con.execute(oracle[name])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            failures.append(f"{name}: oracle error: {str(e).splitlines()[0]}")
            continue
        if norm_rows(gcols, grows) != norm_rows(ecols, erows):
            failures.append(f"{name}: result differs from the DuckDB oracle")
    return failures


def excluded_queries():
    """Registered queries the micro workload never runs (design.json)."""
    with open(os.path.join(HERE, "design.json")) as f:
        groups = json.load(f)["excluded_queries"]
    return sorted(q for names in groups.values() for q in names)


def print_shares(per_op):
    """Construction / plans / exec shares of the summed query wall time."""
    wall = sum(op["wall_ms"] for op in per_op)
    if wall > 0:
        print(f"shares over {len(per_op)} queries, {wall / 1000:.1f} s: " + ", ".join(
            f"{k}={sum(op[k + '_ms'] for op in per_op) / wall:.3f}"
            for k in ("construct", "plans", "exec")))


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--survey", action="store_true",
                    help="micro only: one traced pass over every eligible query")
    a = ap.parse_args()
    if a.survey:
        if a.workload != "micro":
            die("--survey applies to the micro workload only")
        a.trace = 1
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        die(f"the engine's sources are missing ({os.path.relpath(PROGRAM, ROOT)}/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    started = time.time()
    cp = build()
    inp = inputs(a.workload, a.seed)
    run = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    if a.survey:
        with open(os.path.join(run, "survey_exclude.json"), "w") as f:
            json.dump(excluded_queries(), f)
    deadline = time.time() + (SURVEY_TIMEOUT_S if a.survey else JVM_TIMEOUT_S)
    steal0 = steal_ticks()
    proc = start_jvm(cp, a.workload, inp, run, a.seed, a.seconds, a.trace == 1)
    client = None
    try:
        if a.workload == "rest":
            client = rest_load.drive(proc, inp, run, a.seed, a.seconds, deadline)
            if client is None:
                jvm_failed(run)
        wait_jvm(proc, deadline)
    finally:
        stop(proc)
    steal1 = steal_ticks()
    result_file = os.path.join(run, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_file):
        jvm_failed(run)
    with open(result_file) as f:
        res = json.load(f)

    e2e, named, layers = res["end_to_end"], res["named"], res["layers"]
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "micro":
        bad = check_micro(inp, run)
        failures += bad
        failed += len(bad)
    if client is not None:
        e2e.update(client["end_to_end"])
        named.update(client["named"])
        layers.update(client["layers"])
        failures += client["failures"]
        attempted += client["attempted"]
        res["samples"] = client["samples"]
        failed += client["failed"]
        e2e["cpu_ms_per_op"] = named.pop("server_cpu_ms") / max(1, client["completed"])
        if "rest.search_direct_ms" in layers:
            layers["rest.http_ms"] = layers["rest.search_rtt_ms"] - layers["rest.search_direct_ms"]
    named["error_rate"] = failed / max(1, attempted)
    named["cpu_ms_per_op"] = e2e.get("cpu_ms_per_op")
    if steal0 and steal1 and steal1[1] > steal0[1]:
        named["steal_share"] = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])

    for what in failures:
        print(f"FAILED {a.workload}: {what}")
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"samples={res['samples']} attempted={attempted} failed={failed}: " +
          show(named.items()))
    if a.trace:
        print("layers: " + show(sorted(layers.items())))
        for op in res["per_op"]:
            print("split " + json.dumps(op))
        print_shares(res["per_op"])
        overhead_against_untraced(a, e2e)
    save_last(a, e2e, run)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    metrics = {}
    # A metric a failed run could not measure reads 0 (and correct is false).
    for m in wanted:
        v = source.get(m["name"])
        metrics[m["name"]] = {"value": v if v is not None else 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(run, ignore_errors=True)
    log(f"done in {time.time() - started:.1f} s")


def save_last(a, e2e, run):
    """Keep this run's end-to-end figures and trace next to the inputs, so a
    traced run can report its overhead against an untraced run of the seed."""
    d = os.path.join(WORK, "last", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with open(os.path.join(d, "end_to_end.json"), "w") as f:
        json.dump(e2e, f)
    for keep in ("spans.jsonl", "jvm.log", "client.json"):
        if os.path.exists(os.path.join(run, keep)):
            shutil.copy(os.path.join(run, keep), d)


def overhead_against_untraced(a, traced):
    f = os.path.join(WORK, "last", f"{a.workload}-s{a.seed}-t0", "end_to_end.json")
    if not os.path.exists(f):
        print(f"tracing overhead: run --trace 0 with seed {a.seed} first to measure it")
        return
    with open(f) as g:
        base = json.load(g)
    print("tracing overhead (traced - untraced): " + show(
        (k, traced[k] - base[k]) for k in traced
        if traced.get(k) is not None and base.get(k) is not None))


if __name__ == "__main__":
    main()
