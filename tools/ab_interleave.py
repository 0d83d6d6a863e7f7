#!/usr/bin/env python3
"""Steal-aware interleaved A/B bench protocol.

Runs two arms in pairs, alternating which arm goes first (A B, B A, A B,
...), so host drift and steal bursts hit both arms equally, and records the
hypervisor steal (/proc/stat cpu col 8) that elapsed during each run, so a
"regression" can be adjudicated from the record itself instead of narrative.

Each arm is a shell command. Two output contracts are understood:
  - perfbench (`perfbench/run.py`): the last JSON line of stdout,
    {"correct", "metrics": {name: {"value", "unit"}}}. Per arm the tool
    reports the median and quartiles of every metric, and per metric how
    many pairs each arm won (lower is better), with every run's steal.
  - graft.Bench: a JSON line with "queries" ({name: seconds}); per-query
    medians and minimums per arm.
Other commands still get wall time and steal recorded.

`{seed}` in a command is replaced by the pair's seed (`--seeds`), the same
for both arms of a pair.

Typical uses:
  # parent vs change on the repo benchmark, ten pairs on fresh seeds
  python3 tools/ab_interleave.py --seeds 401-410 --label-a parent --label-b change \
    --a 'cd /path/to/parent && python3 perfbench/run.py --workload candy_paper --seed {seed} --seconds 24' \
    --b 'cd /path/to/change && python3 perfbench/run.py --workload candy_paper --seed {seed} --seconds 24'
  # prev-SHA vs now-SHA full graft.Bench sweeps
  python3 tools/ab_interleave.py --rounds 3 \
    --a 'cd /path/to/now  && SPARK_GRAFT_RUNS=1 sbt "runMain graft.Bench"' \
    --b 'cd /path/to/prev && SPARK_GRAFT_RUNS=1 sbt "runMain graft.Bench"'
"""
import argparse
import json
import re
import statistics
import subprocess
import time


def read_steal_jiffies() -> int:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    # cpu  user nice system idle iowait irq softirq steal ...
    return int(parts[8])


def parse_bench_line(line):
    """Per-query seconds and total of a graft.Bench JSON line."""
    try:
        j = json.loads(line)
        return j.get("queries", {}), j.get("value")
    except json.JSONDecodeError:
        # per-SF full dump uses {"med":..,"min":..} objects; the printed
        # line uses plain floats — handle both
        m = re.search(r'"queries":(\{.*?\})\s*[,}]', line)
        if m:
            try:
                return json.loads(m.group(1)), None
            except json.JSONDecodeError:
                pass
    return {}, None


def run_arm(cmd: str):
    s0 = read_steal_jiffies()
    t0 = time.time()
    p = subprocess.run(cmd, shell=True, capture_output=True, text=True)
    wall = time.time() - t0
    steal_s = (read_steal_jiffies() - s0) / 100.0  # jiffies -> seconds
    queries, total, metrics, correct = {}, None, {}, None
    for line in p.stdout.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        if '"queries"' in line:
            queries, total = parse_bench_line(line)
        elif '"metrics"' in line:
            try:
                j = json.loads(line)
            except json.JSONDecodeError:
                continue
            metrics = {k: v["value"] for k, v in j["metrics"].items()}
            correct = j.get("correct")
    return {
        "rc": p.returncode,
        "wall_sec": round(wall, 2),
        "steal_sec": round(steal_s, 2),
        "correct": correct,
        "metrics": metrics,
        "total": total,
        "queries": queries,
        "stderr_tail": p.stderr[-500:] if p.returncode != 0 else "",
    }


def qval(q):
    # bench full dump values may be {"med":..,"min":..}
    if isinstance(q, dict):
        return q.get("med")
    return q


def summarize_queries(runs):
    keys = set()
    for r in runs:
        keys.update(r["queries"].keys())
    per_q = {}
    for k in sorted(keys):
        vals = [qval(r["queries"][k]) for r in runs if k in r["queries"]]
        vals = [v for v in vals if isinstance(v, (int, float)) and v >= 0]
        if vals:
            per_q[k] = {"median": round(statistics.median(vals), 3),
                        "min": round(min(vals), 3), "n": len(vals)}
    return per_q


def quartiles(vals):
    """(q1, median, q3); with one value all three are that value."""
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def summarize_metrics(runs_a, runs_b):
    """Per metric: each arm's quartiles and the pairs each arm won (lower
    value wins; pairs where either run lacks the metric are skipped)."""
    out = {}
    names = sorted(set().union(*(r["metrics"] for r in runs_a + runs_b)))
    for k in names:
        pairs = [(a["metrics"][k], b["metrics"][k]) for a, b in zip(runs_a, runs_b)
                 if k in a["metrics"] and k in b["metrics"]]
        if not pairs:
            continue
        entry = {"pairs": len(pairs),
                 "a_won": sum(1 for a, b in pairs if a < b),
                 "b_won": sum(1 for a, b in pairs if b < a)}
        for arm, vals in (("a", [a for a, _ in pairs]), ("b", [b for _, b in pairs])):
            q1, med, q3 = quartiles(vals)
            entry[arm] = {"median": med, "q1": q1, "q3": q3, "values": vals}
        out[k] = entry
    return out


def parse_seeds(spec):
    """'401-410' or '401,405,409' -> list of ints."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3,
                    help="number of pairs (ignored when --seeds is given)")
    ap.add_argument("--seeds", default=None,
                    help="one pair per seed, e.g. 401-410; fills {seed} in the commands")
    ap.add_argument("--a", required=True, help="arm A shell command")
    ap.add_argument("--b", required=True, help="arm B shell command")
    ap.add_argument("--label-a", default="A")
    ap.add_argument("--label-b", default="B")
    ap.add_argument("--out", default=None, help="write full JSON record here")
    args = ap.parse_args()

    seeds = parse_seeds(args.seeds) if args.seeds else [None] * args.rounds
    record = {"label_a": args.label_a, "label_b": args.label_b,
              "cmd_a": args.a, "cmd_b": args.b, "seeds": seeds,
              "runs_a": [], "runs_b": []}
    arms = [(args.label_a, args.a, "runs_a"), (args.label_b, args.b, "runs_b")]
    for i, seed in enumerate(seeds):
        # alternate which arm runs first, so neither always follows the other
        for label, cmd, dest in (arms if i % 2 == 0 else arms[::-1]):
            r = run_arm(cmd if seed is None else cmd.replace("{seed}", str(seed)))
            r["seed"] = seed
            record[dest].append(r)
            shown = r["metrics"].get("run_s", r["total"])
            print(f"[ab] pair {i + 1}/{len(seeds)} seed={seed} {label}: rc={r['rc']} "
                  f"correct={r['correct']} wall={r['wall_sec']}s "
                  f"steal={r['steal_sec']}s value={shown}", flush=True)
            if r["rc"] != 0:
                print(f"[ab]   stderr tail: {r['stderr_tail']}", flush=True)

    record["steal_a_sec"] = [r["steal_sec"] for r in record["runs_a"]]
    record["steal_b_sec"] = [r["steal_sec"] for r in record["runs_b"]]
    print(f"\n[ab] steal per run: {args.label_a}={record['steal_a_sec']} "
          f"{args.label_b}={record['steal_b_sec']}")

    metrics = summarize_metrics(record["runs_a"], record["runs_b"])
    record["metrics"] = metrics
    for k, m in metrics.items():
        a, b = m["a"], m["b"]
        print(f"[ab]   {k}: {args.label_a}={a['median']:.4g} [{a['q1']:.4g}-{a['q3']:.4g}] "
              f"{args.label_b}={b['median']:.4g} [{b['q1']:.4g}-{b['q3']:.4g}] "
              f"pairs won {args.label_a}={m['a_won']} {args.label_b}={m['b_won']} "
              f"of {m['pairs']}")

    sum_a = summarize_queries(record["runs_a"])
    sum_b = summarize_queries(record["runs_b"])
    record["summary_a"] = sum_a
    record["summary_b"] = sum_b
    for k in sorted(set(sum_a) & set(sum_b)):
        a, b = sum_a[k]["median"], sum_b[k]["median"]
        ratio = (a / b) if b else float("nan")
        print(f"[ab]   {k}: {args.label_a}={a} {args.label_b}={b} A/B={ratio:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
        print(f"[ab] full record -> {args.out}")


if __name__ == "__main__":
    main()
