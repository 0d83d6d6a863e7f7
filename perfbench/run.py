"""The repository's benchmark: the candy-store batch job and the hot query mix.

Run from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the engine and the harness if their sources changed (sbt,
into target/ and .bench_build/), makes the workload's inputs from the seed,
computes what the outputs must be, then starts one JVM (C1 JIT only) at
local[nproc] that sets up (session and one untimed warm-up operation) and
runs operations back to back, one caller in a closed loop, for --seconds and
at least MIN_OPS operations. Every output is checked.
The last line of stdout is one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The detailed record (every operation, the spans of traced
operations, run_s maximum and sample count, fail ratio, steal) goes to
.bench_work/records/<workload>-seed<n>-trace<t>.json.

Workloads:
  candy_paper  one operation is one in-process graft.pipeline.CandyRun.main
               over 10 days x 1,000 transactions (the reference dataset_5
               shape); the four deterministic reports are compared
               byte-for-byte with the independent replay
               tools/gen_candy_golden.py after every operation, the
               forecast by schema and row count.
  queries_hot  one operation is one pass over q110 (triangle counting) and
               q104 (hybrid retrieval), each forced through the noop sink, on
               seeded tables of the sf0.01 size; the results of the warm-up
               pass are compared with each query's SparkEntry.oracleSql in
               DuckDB.

A traced run alternates plain and traced operations. A traced operation
calls each layer's public function in turn, forces its output and records a
span per call; per-layer metrics are medians over traced operations, the
spark.* metrics medians over plain ones. Layers a workload does not run
read 0.
"""
import argparse
import csv
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True   # write nothing next to the sources

import gen_candy      # noqa: E402
import gen_tables     # noqa: E402
import oracle_check   # noqa: E402

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")

WORKLOADS = {
    "candy_paper": {"kind": "candy", "days": 10, "tx_per_day": 1000},
    "queries_hot": {"kind": "queries", "queries": ["q110_triangle_count", "q104_hybrid_rrf"]},
}
# timed operations per run at the least, so that the median leaves out one
# slow operation
MIN_OPS = 3

CANDY_REPORTS = ["order_line_items", "products_updated", "orders", "daily_summary",
                 "sales_profit_forecast"]
CANDY_LAYERS = (
    ["pipeline.session_s", "pipeline.report_counts_s", "sources.transactions_s",
     "sources.transactions_rows", "sources.products_s", "etl.priced_lines_s",
     "etl.priced_lines_rows", "operators.allocate_s", "operators.allocate_max_task_s",
     "etl.order_line_items_s", "etl.orders_s", "etl.daily_summary_s",
     "etl.products_updated_s", "forecast.fit_s"]
    + [f"sinks.{r}_s" for r in CANDY_REPORTS] + ["sinks.bytes_written"])
QUERY_LAYERS = [f"queries.{q.split('_')[0]}_{m}"
                for q in WORKLOADS["queries_hot"]["queries"] for m in ("s", "jobs")]
SPARK_LAYERS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.driver_idle_s",
                "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
                "spark.shuffle_read_mb", "spark.spill_mb"]

# the options sbt's forked runs of the engine use (build.sbt javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# -Xms = -Xmx: the heap never resizes, so peak RSS does not depend on when
# the collector chose to grow it
HEAP = "3g"
# C1 only. With the C2 tier an operation kept getting faster through the
# first minutes of the JVM (queries_hot: 9.6, 8.0, 6.7, 5.9 s), so a run's
# few timed operations measured how far the compiler had got, and on a loaded
# host it got less far. C1 code is ready by the end of the warm-up operation,
# and a one-shot run of the batch job in a fresh JVM runs mostly C1 code too.
JIT = "-XX:TieredStopAtLevel=1"
# the harness JVM's allowance beyond --seconds: set-up (30-40 s on 4 cores)
# and the last operation, which may start just before the budget ends
JVM_GRACE_S = 150


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "bytes" if name.endswith("bytes_written") else "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; on timeout kill the group and
    wait for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the sbt build reads."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(proj, n) for n in os.listdir(proj)
                  if os.path.isfile(os.path.join(proj, n))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += [os.path.join(d, n) for d, _, names in os.walk(src) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness when their sources changed; return
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        sys.exit("perfbench: run from the root of the engine's checkout "
                 "(build.sbt and src/main not found)")
    stamp = source_stamp()
    cache = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c["stamp"] == stamp and all(os.path.exists(p) for p in c["classpath"]):
            return c["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building engine and harness with sbt")
    t = time.time()
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                        "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
                       timeout=840, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    with open(os.path.join(BUILD_DIR, "sbt.log")) as fh:
        lines = [ln.strip() for ln in fh if ln.startswith("/")]
    if rc != 0 or not lines:
        sys.exit(f"perfbench: sbt build failed (exit {rc}); see .bench_build/sbt.log")
    classpath = lines[-1].split(os.pathsep)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t:.1f} s")
    return classpath


# ---------------------------------------------------------------- inputs

def expect_candy(data, expected):
    """Write the four deterministic reports with the repository's independent
    sequential replay and give them the engine's LF line ends. Returns the
    number of lines, of cancelled lines and of lines filled after an earlier
    cancel of their product."""
    os.makedirs(expected)
    replay = os.path.join(ROOT, "tools", "gen_candy_golden.py")
    subprocess.run([sys.executable, replay, data, expected], check=True,
                   stdout=subprocess.DEVNULL, timeout=120)
    for name in CANDY_REPORTS[:4]:
        path = os.path.join(expected, f"{name}.csv")
        with open(path, "rb") as fh:
            text = fh.read().replace(b"\r\n", b"\n")
        with open(path, "wb") as fh:
            fh.write(text)
    with open(os.path.join(expected, "orders.csv")) as fh:
        when = {o["order_id"]: o["order_datetime"] for o in csv.DictReader(fh)}
    with open(os.path.join(expected, "order_line_items.csv")) as fh:
        lines = [(when[r["order_id"]], r["product_id"], r["quantity"] == "0")
                 for r in csv.DictReader(fh)]
    first_cancel = {}
    for t, product, cancelled in sorted(lines):
        if cancelled:
            first_cancel.setdefault(product, t)
    after = sum(1 for t, product, cancelled in lines
                if not cancelled and t > first_cancel.get(product, "~"))
    return {"lines": len(lines), "cancelled": sum(c for _, _, c in lines),
            "filled_after_cancel": after, "orders": len(when)}


def prepare(spec, seed, work):
    """Make the inputs from the seed and what the outputs must be. Returns
    the harness arguments and a description for the record."""
    data = os.path.join(work, "data")
    if spec["kind"] == "candy":
        start, end = gen_candy.generate(data, seed, spec["days"], spec["tx_per_day"])
        expected = os.path.join(work, "expected")
        stats = expect_candy(data, expected)
        # the dataset must exercise cancellation and release-after-cancel
        if not (stats["cancelled"] and stats["filled_after_cancel"]):
            sys.exit(f"perfbench: seed {seed} made no cancel/release case: {stats}")
        args = ["mode=candy", f"data={data}", f"expected={expected}",
                f"start={start:%Y%m%d}", f"end={end:%Y%m%d}"]
        return args, stats
    gen_tables.generate(data, seed)
    args = ["mode=queries", f"data={data}", "queries=" + ",".join(spec["queries"])]
    return args, {"queries": spec["queries"]}


def steal_ticks():
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


# ---------------------------------------------------------------- run

def launch(classpath, args, work, seconds, trace):
    record = os.path.join(work, "leg.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items()
           if k in ("PATH", "HOME", "JAVA_HOME", "LANG", "LC_ALL", "USER")}
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in env else "java"
    cmd = ([java, f"-Xms{HEAP}", f"-Xmx{HEAP}", JIT, "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.extraListeners=perfbench.Probe",
            "-cp", os.pathsep.join(classpath), "perfbench.Leg"]
           + args + [f"work={work}", f"seconds={seconds}", f"min_ops={MIN_OPS}",
                     f"trace={trace}", f"cpus={cpus}", f"record={record}"])
    timeout = seconds + JVM_GRACE_S
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = run_group(cmd, timeout=timeout, cwd=work, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc is None:
        log(f"harness JVM killed after {timeout:.0f} s")
    if rc != 0 or not os.path.exists(record):
        return None, f"harness JVM exit {rc}; see {os.path.join(work, 'jvm.log')}"
    with open(record) as fh:
        return json.load(fh), None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]

    classpath = build()
    work = os.path.join(WORK_DIR, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t = time.time()
    args, inputs = prepare(spec, a.seed, work)
    log(f"inputs and expected outputs in {time.time() - t:.1f} s (not in setup_s)")

    steal0 = steal_ticks()
    leg, error = launch(classpath, args, work, a.seconds, a.trace)
    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")

    ops = leg["ops"] if leg else []
    failures = {f"op{i + 1}": o["error"] for i, o in enumerate(ops) if not o["ok"]}
    failed = len(failures)
    attempted = max(1, len(ops))
    if leg is None:
        failures["harness"] = error
        failed = attempted
    elif spec["kind"] == "queries":
        # the warm-up pass wrote the results; every timed pass computes the
        # same, so a wrong result fails them all
        c = leg["checks"]
        wrong = oracle_check.check(os.path.join(work, "data"), c["results"], c["oracle_sql"])
        failures.update(wrong)
        failed = attempted if wrong else failed

    plain = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    walls = sorted(o["wall_s"] for o in plain)
    if a.trace:
        values = {k: median([o["layers"][k] for o in traced if k in o["layers"]])
                  for k in CANDY_LAYERS + QUERY_LAYERS}
        values.update({k: median([o["spark"][k] for o in plain]) for k in SPARK_LAYERS})
        values["host.steal_s"] = steal_s
        values["trace.overhead_s"] = median([o["wall_s"] for o in traced]) - median(walls)
    else:
        values = {
            "run_s": median(walls),
            "setup_s": leg["setup_s"] if leg else 0.0,
            "cpu_s": median([o["cpu_s"] for o in plain]),
            "peak_rss_mb": leg["peak_rss_mb"] if leg else 0.0,
        }
    metrics = {k: {"value": v, "unit": unit(k)} for k, v in values.items()}

    os.makedirs(os.path.join(WORK_DIR, "records"), exist_ok=True)
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": len(os.sched_getaffinity(0)), "inputs": inputs,
        "metrics": metrics, "failures": failures, "fail_ratio": failed / attempted,
        # n samples support no percentile above their maximum
        "run_s_tail": {"samples": len(walls), "max": walls[-1] if walls else None},
        "host.steal_s": steal_s,
        "leg": leg,
    }
    path = os.path.join(WORK_DIR, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as fh:
        json.dump(detail, fh)
    for k, v in failures.items():
        log(f"FAILED {k}: {v}")
    print(json.dumps({"correct": leg is not None and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
