"""Repeat benchmark runs and summarize them, from the repository root.

    python3 perfbench/report.py spread --workloads presence_avro tpch_sql --seeds 1-10
        run each workload once per seed (untraced) and print, for every
        end-to-end metric, the median and the quartile spread
        (Q3 - Q1) / median next to the metric's bound in BENCHMARK.json.

    python3 perfbench/report.py where --seed 1 --out perfbench/WHERE_TIME_GOES.md
        one untraced and one traced run per workload, plus a traced
        local[1] run of each presence workload, rendered as the
        "where the time goes" table with the tracing overhead.

Runs are sequential; each is a separate ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, trace: int, cores: int = 0) -> tuple[dict, dict]:
    """(full record, result line) of one ``run.py`` process; the record
    gains ``process_s``, the process's wall time from launch to exit."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench()["run_seconds"]), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    process_s = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} failed ({out.returncode}):\n{out.stderr[-3000:]}")
    record = json.loads(lines[-2])
    record["process_s"] = process_s
    return record, json.loads(lines[-1])


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(args) -> int:
    b = bench()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    worst = 0.0
    process_s: list[float] = []
    for w in args.workloads:
        values: dict[str, list[float]] = {k: [] for k in bounds}
        for s in seeds(args.seeds):
            record, result = run_once(w, s, 0)
            if not result["correct"]:
                print(f"{w} seed {s}: INCORRECT {record['problems']}")
            for k in bounds:
                values[k].append(result["metrics"][k]["value"])
            process_s.append(record["process_s"])
            print(f"{w} seed {s}: " + " ".join(f"{k}={values[k][-1]:.4g}" for k in bounds)
                  + f" process_s={record['process_s']:.1f}", flush=True)
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med
            if k != "setup_s":
                worst = max(worst, share / bounds[k])
            print(f"  {w:14s} {k:12s} median {med:10.4g}  spread {share:6.3f}  bound {bounds[k]}")
        if args.save:
            with open(args.save, "a") as f:
                f.write(json.dumps({"workload": w, "seeds": args.seeds, "values": values}) + "\n")
    print(f"worst spread / bound (setup_s excluded): {worst:.2f}")
    n_runs = 4 + 22 * len(b["workloads"])
    print(f"mean process_s {statistics.fmean(process_s):.1f}, max {max(process_s):.1f}; "
          f"{n_runs} runs at the mean take {n_runs * statistics.fmean(process_s):.0f} s")
    return 0


def _table(rows: list[tuple[str, dict]]) -> list[str]:
    keys: list[str] = []
    for _, shares in rows:
        keys += [k for k in shares if k not in keys]
    out = ["| run | " + " | ".join(keys) + " |", "|---" * (len(keys) + 1) + "|"]
    for name, shares in rows:
        cells = [f"{100 * shares[k]:.1f}%" if k in shares else "" for k in keys]
        out.append(f"| {name} | " + " | ".join(cells) + " |")
    return out


def where(args) -> int:
    b = bench()
    lines = [
        "# Where the time goes",
        "",
        "Generated by `python3 perfbench/report.py where "
        f"--seed {args.seed}`: one traced run per workload; each cell is a",
        "layer's share of the pass wall, averaged over the run's passes.",
        "Execution is split by each layer's share of executor task time;",
        "`unattributed` is the pass wall left after every measured phase",
        "(loop, listener and driver-side gaps).",
        "",
    ]
    overhead = []
    host = None
    for w in (x["name"] for x in b["workloads"]):
        plain, _ = run_once(w, args.seed, 0)
        traced, _ = run_once(w, args.seed, 1)
        host = traced["host"]
        rows = [(f"{w} local[{host['effective_cpus']}]", traced["where_time_goes"])]
        if w.startswith("presence_"):
            one, _ = run_once(w, args.seed, 1, cores=1)
            rows.append((f"{w} local[1] (reference, not gated)", one["where_time_goes"]))
        lines += [f"## {w}", "", f"pass wall {traced['end_to_end']['wall_s']:.2f} s "
                  f"(traced), {traced['passes']} pass(es), {traced['ops']} ops", ""]
        lines += _table(rows) + [""]
        if w.startswith("presence_"):
            lines += [f"local[1] pass wall: {one['end_to_end']['wall_s']:.2f} s", ""]
        u, t = plain["end_to_end"]["wall_s"], traced["end_to_end"]["wall_s"]
        overhead.append(f"| {w} | {u:.3f} | {t:.3f} | {100 * (t / u - 1):+.1f}% |")
    lines += ["## Tracing overhead", "", "| workload | untraced wall_s | traced wall_s | overhead |",
              "|---|---|---|---|", *overhead, "",
              "One run of each; an overhead inside the run-to-run spread of `wall_s`",
              "(`report.py spread`) is noise, not a cost or a gain of tracing.", "",
              "## Host", "", "```", json.dumps(host), "```", ""]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench()["workloads"]])
    sp.add_argument("--seeds", default="1-10")
    sp.add_argument("--save", help="append raw values as JSON lines to this file")
    wp = sub.add_parser("where")
    wp.add_argument("--seed", type=int, default=1)
    wp.add_argument("--out", default=os.path.join(HERE, "WHERE_TIME_GOES.md"))
    args = ap.parse_args()
    return spread(args) if args.cmd == "spread" else where(args)


if __name__ == "__main__":
    sys.exit(main())
