"""graft benchmark: three seeded workloads driven through graft's public
entry points, with output checks, end-to-end metrics and a traced run.

One run:
    python3 perfbench/run.py --workload fanout --seed 1 --seconds 4 --trace 0

prints human-readable lines, then as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1).

Steadiness mode repeats workloads over seeds and prints each end-to-end
metric's quartile spread against its bound in BENCHMARK.json:
    python3 perfbench/run.py --steady 10 [--workload fanout ...]

Everything the run writes stays under .perfbench/ in the checkout: the
build, a fresh work directory per run (removed at exit) and span files of
traced runs.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["fanout", "near_dup", "crawl_novelty"]
JVM_TIMEOUT_S = 165


def run_once(workload, seed, seconds, trace, knobs=(), quiet=False):
    """Runs one measurement in its own JVM; returns the result dict or None."""
    build.build()
    run_id = f"{workload}-seed{seed}-trace{trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    traces = os.path.join(STATE, "traces")
    os.makedirs(traces, exist_ok=True)
    cmd, env = build.jvm(work)
    cmd += ["graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--cores", str(build.cores()),
            "--knobs", ",".join(knobs),
            "--span-file", os.path.join(traces, f"{workload}-seed{seed}.jsonl")
            if trace else ""]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=None if not quiet else subprocess.DEVNULL,
                            text=True, start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif not quiet:
                print(line, flush=True)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] {workload} exceeded {JVM_TIMEOUT_S} s; killed",
              file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        return None
    # the run must report exactly the metrics BENCHMARK.json lists
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    if set(result["metrics"]) != want:
        print(f"[perfbench] metrics differ from BENCHMARK.json: "
              f"{sorted(set(result['metrics']) ^ want)}", file=sys.stderr)
        return None
    return result


def spread(values):
    """Quartile distance as a share of the median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def steady(args):
    """Repeats each workload over seeds 1..N and prints each end-to-end
    metric's median and spread against its bound."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = args.seconds or spec["run_seconds"]
    report = {}
    ok = True
    for w in args.workload or WORKLOADS:
        vals = {m: [] for m in bounds}
        fails = 0
        for seed in range(args.first_seed, args.first_seed + args.steady):
            t0 = time.time()
            r = run_once(w, seed, seconds, 0, args.knob, quiet=True)
            if r is None or not r["correct"]:
                fails += 1
                print(f"[steady] {w} seed {seed}: FAILED {r}", flush=True)
                continue
            for m in bounds:
                vals[m].append(r["metrics"][m]["value"])
            print(f"[steady] {w} seed {seed} ({time.time() - t0:.0f} s wall): "
                  + " ".join(f"{m}={r['metrics'][m]['value']:.4f}" for m in bounds),
                  flush=True)
        report[w] = {"failed_runs": fails}
        for m, b in bounds.items():
            v = vals[m]
            if len(v) < 2:
                ok = False
                continue
            s = spread(v)
            within = s <= b / 3
            ok = ok and within
            report[w][m] = {"median": statistics.median(v), "spread": s,
                            "bound": b, "values": v}
            print(f"[steady] {w:14s} {m:14s} median={statistics.median(v):.4f} "
                  f"spread={s:.4f} bound={b} "
                  f"{'ok' if within else 'SPREAD ABOVE BOUND/3'}", flush=True)
        ok = ok and fails == 0
    print(json.dumps(report))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--knob", action="append", default=[],
                    help="generator knob name=value (see perfbench/README.md)")
    ap.add_argument("--steady", type=int, default=0,
                    help="steadiness mode: runs per workload, seeds from --first-seed")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    try:
        if args.steady:
            return steady(args)
        if not args.workload or len(args.workload) != 1 or args.seconds is None:
            ap.error("a run needs one --workload and --seconds")
        r = run_once(args.workload[0], args.seed, args.seconds, args.trace,
                     args.knob)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    if r is None:
        print("[perfbench] run failed; no result", file=sys.stderr)
        return 1
    print(json.dumps(r), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
