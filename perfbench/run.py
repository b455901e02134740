"""Repo benchmark: three workloads over the stadvdb_olap_spark engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repo root. Each run starts one fresh driver process
(``perfbench/workload.py``) with the repo root as working directory and on
``PYTHONPATH``, waits for it (killing its whole process group on timeout)
and prints a readable report followed, as the last line, by one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics. The exit status is 1
when any output check failed, 2 when the repo is missing.

Each workload runs one unit of its work (a job, a sweep, a round) in
set-up, then repeats the unit for at least ``--seconds`` and at least
three times (``MIN_REPEATS`` in ``workload.py``), and reports the median.

Scratch files go under ``.perfbench_work/`` in the repo root; the spans of
a traced run are kept in ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import describe, summarize  # noqa: E402

WORKLOADS = ("warehouse_load", "query_mix", "catalog_cold")
REQUIRED = ("stadvdb_olap_spark/__init__.py", "bench.py", "tools/driver_sim.py")
CHILD_TIMEOUT_S = 165
WORK = os.path.join(ROOT, ".perfbench_work")


_UNIT_SUFFIXES = (
    ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_ratio", "ratio"),
    ("_per_live_byte", "ratio"), ("_per_row_changed", "ratio"), ("cpu_util", "ratio"),
)


def unit_of(name: str) -> str:
    """Unit of a metric, from the last dotted part of its name that has a
    unit suffix (``app.stage_s.fact_star`` is in seconds); else a count."""
    for part in reversed(name.split(".")):
        if part.startswith("bytes_"):
            return "bytes"
        for suffix, unit in _UNIT_SUFFIXES:
            if part.endswith(suffix):
                return unit
    return "count"


def end_to_end(result: dict) -> dict[str, float]:
    return {
        "setup_s": result["setup_s"],
        "run_s": result["run_s"],
        "op_p50_s": summarize(result["op_samples"])["p50"],
    }


def result_line(result: dict, failed: int, traced: bool) -> dict:
    """The last output line: per-layer metrics of a traced run, else the
    end-to-end metrics, each with its unit."""
    metrics = result["per_layer"] if traced else end_to_end(result)
    return {
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }


def report_lines(result: dict, failed: int) -> list[str]:
    """The readable report: every end-to-end metric under the workload's
    own name, timings as median plus supported tail with sample count."""
    wl = result["workload"]
    run_name, op = result["op_names"]
    host = result["host"]
    lines = [
        f"workload {wl}: cores {host['cores']}, "
        f"host.calibration_s {host['calibration_s']:.4f} s, "
        f"host.steal_ratio {host['steal_ratio']:.4f}",
        f"setup_s: {result['setup_s']:.4f} s",
    ]
    if run_name not in result["series"]:
        lines.append(f"{run_name}: {result['run_s']:.4f} s")
    for series, values in sorted(result["series"].items()):
        lines.append(describe(series, values))
    if result["op_samples"]:
        s = summarize(result["op_samples"])
        lines.append(f"{op}_p50_s: {s['p50']:.4f} s (n={s['n']})")
        if s["tail_pct"] is not None:
            lines.append(
                f"{op}_tail_s: p{s['tail_pct']} {s['tail']:.4f} s (n={s['n']})"
            )
    for name, (value, unit) in sorted(result["report"].items()):
        lines.append(f"{name}: {value:.6g} {unit}")
    lines.append(
        f"failed_ratio: {failed}/{result['attempted']} = "
        f"{failed / max(result['attempted'], 1):.4f}"
    )
    return lines


def trace_lines(result: dict, untraced: dict | None) -> list[str]:
    lines = [f"spans: {result['spans_file']}"]
    for layer, secs in sorted(result["layer_self_s"].items()):
        lines.append(f"self time {layer} (set-up and timed region): {secs:.4f} s")
    pl = result["per_layer"]
    overhead = (
        f"tracing overhead: {pl['trace.overhead_s']:.4f} s in tracer "
        f"bookkeeping; traced run_s {pl['trace.run_s']:.4f} s"
    )
    if untraced is not None:
        diff = pl["trace.run_s"] - untraced["run_s"]
        overhead += (
            f" vs {untraced['run_s']:.4f} s in the last untraced run here "
            f"(seed {untraced['seed']}): {diff:+.4f} s"
        )
    lines.append(overhead)
    return lines


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the child's process group (the driver and its JVM) and wait
    until every member has exited."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait
        while time.time() < deadline:
            try:
                proc.wait(timeout=0.2)
            except subprocess.TimeoutExpired:
                pass
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return


def run_child(args, work: str, out: str) -> int:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [
        sys.executable, "-m", "perfbench.workload",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--spawned-at", repr(time.time()),
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        return proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"workload exceeded {CHILD_TIMEOUT_S} s; stopped", file=sys.stderr)
        return -1
    finally:
        _stop_group(proc)


def _exit_on_sigterm(signum, frame):
    """Turn SIGTERM into SystemExit, so ``run_child`` stops the child's
    process group on its way out."""
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    p = argparse.ArgumentParser(description="stadvdb_olap_spark repo benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"repo files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    code = run_child(args, work, out)
    if code != 0 or not os.path.exists(out):
        print(f"workload process exited with {code} and no result", file=sys.stderr)
        return 1
    with open(out) as f:
        result = json.load(f)
    if args.trace:
        spans = os.path.join(results, f"{tag}.spans.jsonl")
        shutil.move(result["spans_file"], spans)
        result["spans_file"] = spans
    shutil.rmtree(work, ignore_errors=True)

    if not result["op_samples"]:
        print("every timed operation failed; no latency to report", file=sys.stderr)
        return 1
    failed = min(len(result["failures"]), result["attempted"])
    print("\n".join(report_lines(result, failed)))
    last_untraced = os.path.join(results, f"last-{args.workload}.json")
    if args.trace:
        untraced = None
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                untraced = json.load(f)
        print("\n".join(trace_lines(result, untraced)))
    else:
        with open(last_untraced, "w") as f:
            json.dump({"run_s": result["run_s"], "seed": args.seed}, f)
    line = result_line(result, failed, bool(args.trace))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
