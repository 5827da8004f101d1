"""End-to-end benchmark of the CDC path (capture, bootstrap, three drains
and a live tail) and of a pass of analytics queries, on one workload.

    python3 perfbench/run.py --workload narrow --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the code (see
build.py). Each run works in a fresh directory under .bench_build and
prints a readable report, then as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer
ones, and the run's spans are kept in .bench_build/traces. The exit code
is 0 only when every check passed.

--tiny 1 and --inject drop|throw|query shrink the run and plant a fault; they
are for check.py selfcheck. --report FILE also writes every metric the run
measured, end-to-end and per-layer, with the checks' errors.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170

# Spark on JDK 17 needs these when it is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("none", "drop", "throw", "query"), default="none")
    ap.add_argument("--report")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classes = build.build()
    jars = build.spark_jars()
    run_dir = ROOT / ".bench_build" / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xmx1536m", "-Xss4m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([str(classes)] + [str(j) for j in jars]),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", str(run_dir), "--sqlite3", shutil.which("sqlite3") or "",
              "--tiny", str(args.tiny), "--inject", args.inject])
    log = run_dir / "jvm.log"
    started = time.monotonic()
    with open(log, "wb") as out:
        # SPARK_LOCAL_DIRS would override spark.local.dir and put Spark's
        # scratch space outside the run directory.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    wall = time.monotonic() - started

    result_file = run_dir / "result.json"
    if not result_file.exists():
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit(f"benchmark JVM ended without a result (exit {code}, {wall:.0f} s)")
    res = json.loads(result_file.read_text())
    if args.report:
        shutil.copy(result_file, args.report)
    errors = list(res["errors"])
    if code is None:
        errors.append(f"run exceeded {TIMEOUT_S} s")
    values = res["layers" if args.trace else "e2e"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            errors.append(f"metric {m['name']} was not measured")
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if args.trace:
        traces = ROOT / ".bench_build" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        if (run_dir / "trace.json").exists():
            shutil.copy(run_dir / "trace.json", traces / f"{args.workload}-seed{args.seed}.json")
    if errors or code != 0:
        sys.stderr.write(log.read_text(errors="replace")[-3000:])
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = max(1, res["attempted"]), res["failed"]
    correct = not errors and failed == 0 and code == 0
    print(f"# workload {args.workload}  seed {args.seed}  trace {args.trace}  wall {wall:.1f} s")
    for name, v in sorted({**res["e2e"], **res["layers"]}.items()):
        unit = next((m["unit"] for m in spec["end_to_end"] + spec["per_layer"]
                     if m["name"] == name), "")
        print(f"{name:48s} {v if v is not None else 'absent':>14} {unit}")
    print(f"{'failed_ratio':48s} {failed / attempted:>14.6g} ({failed} of {attempted})")
    for e in errors:
        print(f"ERROR {e}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
