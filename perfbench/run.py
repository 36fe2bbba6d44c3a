"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It starts ``perfbench/worker.py`` in
a new session with a private working directory under
``.perfbench/``, waits for it (deadline: 170 s), then kills and waits out
whatever its session left (the JVM and its Python workers), prints the
metrics as a table on stderr and, as the last line of stdout, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 1`` the metrics are the per-layer ones and the spans are kept
in ``.perfbench/spans/``.

Fixed run policy, the same for every commit measured: Spark
``local[min(4, cpus)]``, 1.5 GiB driver heap, sf0.01 tables from
``perfbench/data``, and whatever write/flush behaviour the program's own
defaults give (the benchmark sets none).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DEADLINE_S = 170
DRIVER_MEM = "1536m"
MAX_CPUS = 4

def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``. The worker leads its own
    session; the JVM and the PySpark daemon (which moves itself into a
    process group of its own) stay in it."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                text = f.read()
        except OSError:
            continue
        fields = text[text.rindex(")") + 2 :].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def _reap_session(sid: int) -> None:
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        pids = _session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "tinysql_spark")):
        print("no tinysql_spark/ here: run from the root of a checkout", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    spans_dir = os.path.join(base, "spans")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), spans_dir):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    env = dict(
        os.environ,
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--result", result_path, "--spans", spans_path,
    ]
    log_path = os.path.join(base, f"{args.workload}-seed{args.seed}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            proc.kill()
            proc.wait()
            _reap_session(proc.pid)
    try:
        with open(result_path) as f:
            out = json.load(f)
    except (OSError, ValueError):
        out = None
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or out is None:
        why = "timed out" if code is None else f"exited with {code}"
        print(f"worker {why}; log: {log_path}", file=sys.stderr)
        return 1

    from worker import END_TO_END, PER_LAYER, SUMMARY

    s = out["summary"]
    print(f"{args.workload} seed={args.seed}: {out['info']}", file=sys.stderr)
    for name, unit in SUMMARY.items():
        v = s[name]
        shown = "n/a" if v is None or (name.startswith(("read_", "write_")) and v == 0) else f"{v:.6g}"
        print(f"  {name:<20} {shown:>12} {unit}", file=sys.stderr)
    for f in out["failures"]:
        print(f"  FAILED {f}", file=sys.stderr)

    if args.trace:
        metrics = {k: {"value": out["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": out["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
