"""Checks on the benchmark itself.

    python3 perfbench/check.py selfcheck
        Tiny runs: every metric of BENCHMARK.json is printed with its unit,
        an injected fault (a dropped change, a throwing handler, a throwing
        analytics query) raises the failed count and the exit code, and a directory holding only
        BENCHMARK.json and perfbench/ fails without printing a result.

    python3 perfbench/check.py spread --workload narrow --runs 10 [--first-seed 1]
        Runs one workload untraced on consecutive seeds and reports, per
        end-to-end metric, the median and the quartile spread
        (Q3 - Q1) / median against the metric's bound. The raw results go to .bench_build/spread/.

    python3 perfbench/check.py baseline [--traced-seed 1001]
        Records perfbench/baseline/: the two latest ten-run spreads of each
        workload with the difference of their medians, one traced run per
        workload with its per-layer table, and the tracing overhead (traced
        end-to-end value against the first set's median).
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        result = json.loads(last)
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p


def selfcheck():
    problems = []
    workload = SPEC["workloads"][0]["name"]
    base = ["--workload", workload, "--seed", "1", "--seconds", str(SPEC["run_seconds"]), "--tiny", "1"]
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        code, res, p = run(base + ["--trace", str(trace)])
        if code != 0 or not res or not res["correct"] or res["failed"]:
            problems.append(f"clean tiny run (trace {trace}) failed: exit {code}\n{p.stdout[-2000:]}")
            continue
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            problems.append(f"trace {trace}: metrics differ from BENCHMARK.json: "
                            f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
        print(f"clean run, trace {trace}: {len(got)} metrics with units, 0 failed of {res['attempted']}")
    for fault in ("drop", "throw", "query"):
        code, res, p = run(base + ["--trace", "0", "--inject", fault])
        if code == 0 or not res or res["correct"] or res["failed"] == 0:
            problems.append(f"injected {fault}: not detected (exit {code}, result {res})")
        else:
            print(f"injected {fault}: exit {code}, failed {res['failed']} of {res['attempted']}")
    bare = ROOT / ".bench_build" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, bare / path, ignore=shutil.ignore_patterns("__pycache__"))
    code, res, p = run(base + ["--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        problems.append(f"bare directory: exit {code}, result {res}")
    else:
        print(f"bare directory: exit {code}, no result")
    for pr in problems:
        print("PROBLEM:", pr)
    return 1 if problems else 0


def spread(workload, runs, first_seed):
    out = ROOT / ".bench_build" / "spread"
    out.mkdir(parents=True, exist_ok=True)
    results = []
    for seed in range(first_seed, first_seed + runs):
        code, res, p = run(["--workload", workload, "--seed", str(seed),
                            "--seconds", str(SPEC["run_seconds"]), "--trace", "0"])
        if code != 0 or not res or not res["correct"]:
            print(f"seed {seed}: exit {code}\n{p.stdout[-3000:]}\n{p.stderr[-3000:]}")
            return 1
        results.append(res)
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    (out / f"{workload}-seeds{first_seed}-{first_seed + runs - 1}.json").write_text(
        json.dumps(results, indent=1))
    print(f"\n{workload}: {runs} runs")
    for m in SPEC["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        rel = (q3 - q1) / med if med else float("nan")
        bound = m["bound"]
        flag = "ok" if rel < bound / 3 else ("within bound" if rel <= bound else "OVER BOUND")
        print(f"  {m['name']:40s} median {med:12.5g}  spread {rel:7.2%}  bound {bound:.0%}  {flag}")
    return 0


# The phase each end-to-end metric times, for the gap report.
PHASE_OF = {"bootstrap_rows_per_s": "bootstrap", "drain_jdbc_changes_per_s": "drain_jdbc",
            "drain_stream_changes_per_s": "drain_stream",
            "drain_parquet_changes_per_s": "drain_parquet", "analytics_wall_s": "analytics"}


def quartiles(vals):
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3


def baseline(traced_seed):
    out = ROOT / "perfbench" / "baseline"
    out.mkdir(parents=True, exist_ok=True)
    record, md = {}, ["# Baseline", "",
                      "First numbers of the benchmark, recorded by `python3 perfbench/check.py "
                      "baseline`. Host: 4 vCPU, shared. End-to-end values are two sets of ten "
                      "untraced runs of `check.py spread` (sets A and B, the two latest); "
                      "per-layer values come from one traced run.", ""]
    for w in [w["name"] for w in SPEC["workloads"]]:
        files = sorted((ROOT / ".bench_build" / "spread").glob(f"{w}-seeds*.json"),
                       key=lambda f: f.stat().st_mtime)
        if len(files) < 2:
            print(f"{w}: two spread sets are needed; run check.py spread twice")
            return 1
        sets = [json.loads(f.read_text()) for f in files[-2:]]
        report = ROOT / ".bench_build" / f"report-{w}.json"
        code, res, p = run(["--workload", w, "--seed", str(traced_seed), "--seconds",
                            str(SPEC["run_seconds"]), "--trace", "1", "--report", str(report)])
        if code != 0:
            print(f"traced run of {w} failed:\n{p.stdout[-3000:]}")
            return 1
        traced = json.loads(report.read_text())
        e2e = {}
        md += [f"## {w}", "", f"Set A: {files[-2].name}; set B: {files[-1].name}.", "",
               "| metric | unit | median A | spread A | median B | spread B | B vs A | bound "
               "| traced | overhead |", "|---|---|---|---|---|---|---|---|---|---|"]
        for m in SPEC["end_to_end"]:
            sign = 1 if m["better"] == "lower" else -1
            stats = []
            for runs in sets:
                vals = [r["metrics"][m["name"]]["value"] for r in runs]
                med, q1, q3 = quartiles(vals)
                stats.append({"values": vals, "median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med})
            a, b = stats
            drift = sign * (b["median"] - a["median"]) / a["median"]
            t = traced["e2e"][m["name"]]
            over = sign * (t - a["median"]) / a["median"]
            e2e[m["name"]] = {"set_a": a, "set_b": b, "b_worse_than_a": drift,
                              "traced": t, "tracing_overhead": over}
            md.append(f"| {m['name']} | {m['unit']} | {a['median']:.5g} | {a['spread']:.1%} | "
                      f"{b['median']:.5g} | {b['spread']:.1%} | {drift:+.1%} | {m['bound']:.0%} | "
                      f"{t:.5g} | {over:+.1%} |")
        md += ["", "Spread is (Q3 - Q1) / median over the set's ten runs. \"B vs A\" and the "
               "tracing overhead are how much worse set B's median and the traced run read than "
               "set A's median (positive = worse).", "", "Per-layer, traced run (seed "
               f"{traced_seed}, attempted {traced['attempted']}, failed {traced['failed']}):", "",
               "| metric | unit | value |", "|---|---|---|"]
        units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        for m in SPEC["per_layer"]:
            md.append(f"| {m['name']} | {units[m['name']]} | {traced['layers'][m['name']]:.5g} |")
        gaps = []
        for metric, phase in PHASE_OF.items():
            gap = traced["layers"][f"trace.unattributed_pct.{phase}"] / 100
            over = abs(e2e[metric]["tracing_overhead"])
            if gap > over:
                gaps.append(f"- {phase}: {gap:.1%} of the phase lies outside every layer span, "
                            f"more than the tracing overhead on {metric} ({over:.1%}).")
        md += ["", "Gaps larger than the tracing overhead:", ""] + (gaps or ["- none"]) + [""]
        record[w] = {"end_to_end": e2e, "traced_layers": traced["layers"],
                     "traced_attempted": traced["attempted"], "traced_failed": traced["failed"]}
    (out / "baseline.json").write_text(json.dumps(record, indent=1) + "\n")
    (out / "BASELINE.md").write_text("\n".join(md))
    print("\n".join(md))
    return 0


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("selfcheck")
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--runs", type=int, default=10)
    sp.add_argument("--first-seed", type=int, default=1)
    bp = sub.add_parser("baseline")
    bp.add_argument("--traced-seed", type=int, default=1001)
    a = ap.parse_args()
    if a.cmd == "selfcheck":
        sys.exit(selfcheck())
    if a.cmd == "baseline":
        sys.exit(baseline(a.traced_seed))
    sys.exit(spread(a.workload, a.runs, a.first_seed))


if __name__ == "__main__":
    main()
