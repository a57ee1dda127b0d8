"""Layer-attributed benchmark of the engine: one command, one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed, runs the workload in a fresh worker process (worker.py) and
prints, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1` (the traced run
also writes every query's layer record to perfbench/out/).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --steady <k>

runs the workload k times, each in a fresh process with seeds n..n+k-1,
and prints each end-to-end metric's median, quartiles and extremes.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import summary, tree_pids  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Fixed run environment, using only settings the program already reads.
ENV = {
    # task slots below nproc (4 on the reference host), so the driver
    # process, GC and JIT do not compete with tasks
    "SPARK_GRAFT_CPUS": "3",
    # the program's 16g default heap is larger than the host's RAM
    "SPARK_GRAFT_DRIVER_MEM": "1g",
    "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
}
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
WORKER_TIMEOUT_S = 150
PR_SET_CHILD_SUBREAPER = 36


def _require_program() -> None:
    needed = ("bitcoin_olap_spark/registry.py", "tools/make_sfn.py", "tests/oracle.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"run.py: not a checkout of the engine (missing {', '.join(missing)})")


def _stop_descendants() -> None:
    """Stop whatever the worker left behind. This process is a child
    subreaper, so orphaned grandchildren (the JVM, Python workers) are
    re-parented here and show up in our own tree."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while left and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
            time.sleep(0.05)
        if not left:
            return


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    import gen

    w = WORKLOADS[workload]
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("cwd", "local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    data = os.path.join(work, "data")
    gen.write(data, seed, w.sf, w.copies, ROOT)

    env = dict(os.environ, **ENV)
    env["PYTHONPATH"] = ROOT
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--data", data, "--seconds", str(seconds),
        "--trace", str(trace), "--out", out,
    ]
    proc = None
    try:
        with open(log_path, "wb") as log:
            spawn = time.monotonic()
            proc = subprocess.Popen(
                [*cmd, "--spawn", repr(spawn)],
                cwd=os.path.join(work, "cwd"), env=env,
                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            )
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
        if code != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"run.py: worker exited with code {code}")
        with open(out) as f:
            result = json.load(f)
        with open(log_path, errors="replace") as f:
            errors = [l for l in f if l.startswith("worker: ")]
        if errors:
            sys.stderr.write("".join(errors))
        sys.stderr.write(json.dumps({k: v for k, v in result.items() if k not in ("records", "per_layer")}) + "\n")
    finally:
        if proc is not None and proc.poll() is None:
            # SIGINT first: the worker's interpreter then exits through
            # its atexit hooks, which remove the program's scratch dirs
            proc.send_signal(signal.SIGINT)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass
        _stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    return result


def report(result: dict, trace: int) -> dict:
    if trace:
        metrics = {
            k: {"value": v, "unit": _layer_unit(k)}
            for k, v in result["per_layer"].items()
        }
    else:
        metrics = {k: {"value": result[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": not result["mismatched"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def _layer_unit(key: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_rows", "rows")):
        if key.endswith(suffix):
            return unit
    return "count"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="K")
    args = ap.parse_args()
    _require_program()
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # a terminated harness still stops its worker tree (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.steady:
        runs = [
            run_once(args.workload, args.seed + i, args.seconds, 0)
            for i in range(args.steady)
        ]
        print(json.dumps({
            "workload": args.workload,
            "seeds": [args.seed, args.seed + args.steady - 1],
            "correct": all(not r["mismatched"] for r in runs),
            "failed_share": [r["failed"] / r["attempted"] for r in runs],
            "metrics": {k: summary([r[k] for r in runs]) for k in END_TO_END},
        }))
        return
    result = run_once(args.workload, args.seed, args.seconds, args.trace)
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps(report(result, args.trace)))


if __name__ == "__main__":
    main()
