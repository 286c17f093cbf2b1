"""Engine benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload nightly_build --seed 1 --seconds 30 --trace 0

Run from the repository root.  Generates the sf0.1 inputs (once, under
``.bench_build/perfbench/data``), starts one Spark driver process
(``worker.py``, ``local[nproc]``, engine threads = nproc) in a fresh
warehouse, waits for it, stops every process it left behind, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans are written to
``.bench_build/perfbench/traces``), which an untraced twin precedes to
measure the tracing overhead.  See perfbench/README.md.
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

import datagen  # noqa: E402
from workloads import NIGHTLY_SOURCES  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("nightly_build", "adhoc_queries")
REQUIRED = (
    "dbt_core_gcloud_template_spark/__init__.py",
    "demo_project/project.yml",
    "demo_curation/project.yml",
)
# workers are killed after this; stopping their processes takes up to 10 s more
TIMEOUT_S = 165.0


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def prepare_inputs(work: str, workload: str, seed: int) -> str:
    base = datagen.ensure_base(os.path.join(work, "data", "base"))
    if workload != "nightly_build":
        return base
    return datagen.permuted_copy(
        base, os.path.join(work, "data", "seeded"), seed, list(NIGHTLY_SOURCES)
    )


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left in its process group and wait for
    all of it to be gone."""
    pgid = proc.pid
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            break
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 5
        while _group_alive(pgid) and time.time() < deadline:
            if proc.poll() is None:
                try:
                    proc.wait(timeout=0.1)
                except subprocess.TimeoutExpired:
                    pass
            else:
                time.sleep(0.1)
    proc.wait()


def run_worker(args, data_dir: str, trace: int, deadline: float) -> dict | None:
    """One worker process in a freshly wiped run directory; its result,
    or None when it failed or ran past ``deadline``."""
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(work, "traces")
    os.makedirs(traces, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    nproc = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        SPARK_GRAFT_SF_DIR=data_dir,
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(trace),
        "--root", ROOT, "--data-dir", data_dir, "--run-dir", run_dir,
        "--expected", os.path.join(HERE, "expected.json"),
        "--result", result_path,
        "--trace-out", os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
    ]
    env["PERFBENCH_T0"] = repr(time.time())
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        stop_group(proc)
    if rc != 0 or not os.path.exists(result_path):
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return None
    with open(result_path) as f:
        return json.load(f)


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for a uniform command line: every run measures exactly one
    # job, about BENCHMARK.json's run_seconds long (see workloads.py)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2

    data_dir = prepare_inputs(os.path.join(ROOT, ".bench_build", "perfbench"),
                              args.workload, args.seed)
    deadline = t_start + TIMEOUT_S
    twin = None
    if args.trace:
        # traced minus untraced wall time: an untraced twin of the run, in
        # its own fresh process, times the same job first
        twin = run_worker(args, data_dir, trace=0, deadline=deadline)
        if twin is None:
            return 1
    res = run_worker(args, data_dir, trace=args.trace, deadline=deadline)
    if res is None:
        return 1
    for p in res["problems"]:
        print(f"perfbench: failed op: {p}", file=sys.stderr)
    kind = "per_layer" if args.trace else "end_to_end"
    values = res[kind]
    if twin is not None:
        traced_s, untraced_s = res["end_to_end"]["job_s"], twin["end_to_end"]["job_s"]
        values["trace.overhead_s"] = (
            None if traced_s is None or untraced_s is None else traced_s - untraced_s
        )
    metrics = {
        name: {"value": values.get(name), "unit": unit}
        for name, unit in metric_units(kind).items()
    }
    print(
        f"perfbench {args.workload} seed={args.seed}: "
        f"ops_failed_frac={res['failed']}/{res['attempted']} correct={res['correct']}"
    )
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
