"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload ingest_delta --seed 1 --seconds 10 --trace 0

Run from the repository root. Each timed call runs in a fresh worker process
(``worker.py``: Spark session, input set-up, the call, correctness checks);
workers are repeated until ``--seconds`` of timed calls have accumulated and
the figures are the medians over them. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0``. With ``--trace 1`` one traced
worker runs and the metrics are the per-layer table (``layers.py``), also
written with the spans to ``perfbench/_results/``. Its ``trace.overhead_s``
is the traced ``wall_s`` minus the ``wall_s`` of an untraced reference
worker run just before it with the same seed and set-up. The line before
the result is a JSON detail record (host, load, set-up breakdown,
fingerprints, failures).
"""

from __future__ import annotations

import argparse
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

WORKLOADS = ("ingest_delta", "extract_stream")
END_TO_END = [
    ("wall_s", "s"),
    ("pages_per_s", "1/s"),
    ("triples_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("write_mb", "MB"),
    ("setup_s", "s"),
]
DEADLINE_S = 175  # the whole command, including every worker
SETUP_REPS = 3  # set-ups of a measured run; setup_s takes their median
MAX_WORKERS = 3
# a run is flagged when the rest of the machine used more than this share
# of its CPUs while a timed call ran
FOREIGN_LOAD_FLAG = 0.10


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int) -> None:
    """Kill the worker's process group (its JVM and Python workers too) and
    wait until none of it is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def run_worker(
    root: str, workload: str, seed: int, trace: int, reps: int, work: str, timeout_s: float
) -> dict:
    """One worker process; its result.json, or {"error": ...}. A measured
    run sets up three times (setup_s is their median); the traced worker
    and the trace-overhead reference only time the call, so set up once."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        }
    )
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_PLAN_WIDTH"):
        env.pop(var, None)
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--work", work,
        "--trace", str(trace),
        "--setup-reps", str(reps),
    ]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc.pid)
            proc.wait()
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        return {"error": f"worker exited {proc.returncode} without a result\n{tail}"}
    with open(path) as f:
        return json.load(f)


def e2e_metrics(r: dict) -> dict[str, float]:
    call, check = r["call"], r["check"]
    wall = call["wall_s"]
    return {
        "wall_s": wall,
        "pages_per_s": check["pages"] / wall,
        "triples_per_s": check["triples"] / wall,
        "cpu_s": call["cpu_s"],
        "peak_rss_mb": call["peak_pss_mb"],
        "write_mb": call["written_bytes"] / 2**20,
        "setup_s": r["setup"]["setup_s"],
    }


def foreign_share(r: dict) -> float:
    call = r["call"]
    return call["foreign_cpu_s"] / (call["wall_s"] * r["host"]["cpus"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graphiti_spark", "__init__.py")):
        print("run from the repository root: graphiti_spark/ is not here", file=sys.stderr)
        return 2

    work_root = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results: list[dict] = []  # checked workers that finished
    failures: list[str] = []
    attempted = failed = 0
    baseline = None

    def attempt(trace: int, reps: int, name: str) -> dict | None:
        nonlocal attempted, failed
        left = DEADLINE_S - (time.monotonic() - t_start)
        work = os.path.join(work_root, name)
        r = run_worker(root, args.workload, args.seed, trace, reps, work, left)
        attempted += 1
        bad = [r["error"]] if "error" in r else r["check"]["failures"]
        if bad:
            failed += 1
            failures.extend(bad)
        return None if "error" in r else r

    try:
        if args.trace:
            # trace overhead = traced wall_s - the wall_s of an untraced
            # reference worker. The reference sets up as the traced worker
            # does: a call in a session that has not yet run the set-up's
            # Spark work is slower (the delta by ~60%), so a shared copy of
            # the inputs would not give a comparable call.
            ref = attempt(0, 1, "reference")
            if ref is not None:
                baseline = ref["call"]["wall_s"]
                r = attempt(1, 1, "traced")
                if r is not None:
                    results.append(r)
        else:
            timed = 0.0
            while True:
                r = attempt(0, SETUP_REPS, f"w{attempted}")
                if r is None:
                    break
                results.append(r)
                timed += r["call"]["wall_s"]
                if timed >= args.seconds or len(results) >= MAX_WORKERS:
                    break
                # the next worker must fit the deadline too
                elapsed = time.monotonic() - t_start
                if elapsed + elapsed / len(results) > DEADLINE_S:
                    break
    finally:
        shutil.rmtree(work_root, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "_work"))
        except OSError:
            pass

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "workers": attempted,
        "host": results[0]["host"] if results else None,
        "foreign_cpu_share": [foreign_share(r) for r in results],
        "foreign_load": any(foreign_share(r) > FOREIGN_LOAD_FLAG for r in results),
        "steal_s": [r["call"]["steal_s"] for r in results],
        "setup": [r["setup"] for r in results],
        "check_s": [r["check"]["check_s"] for r in results],
        "command_s": time.monotonic() - t_start,
        "fingerprints": results[0]["check"]["fingerprints"] if results else None,
        "failures": failures,
    }
    metrics: dict = {}
    if args.trace and results:
        import layers

        traced = results[0]
        per = dict(traced["per_layer"])
        per["trace.overhead_s"] = traced["call"]["wall_s"] - baseline
        metrics = {k: {"value": per[k], "unit": unit} for k, unit, _ in layers.specs()}
        os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
        out = os.path.join(HERE, "_results", f"trace-{args.workload}-seed{args.seed}.json")
        with open(out, "w") as f:
            json.dump(
                {"detail": detail, "untraced_wall_s": baseline, "traced_call": traced["call"],
                 "per_layer": per, "spans": traced["spans"]},
                f, indent=1, default=str,
            )
    elif results:
        per_run = [e2e_metrics(r) for r in results]
        metrics = {
            name: {"value": statistics.median(m[name] for m in per_run), "unit": unit}
            for name, unit in END_TO_END
        }
    print(json.dumps({"detail": detail}, default=str))
    result = {"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0 if results else 1


if __name__ == "__main__":
    sys.exit(main())
