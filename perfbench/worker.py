"""One benchmark run inside one Spark driver process (started by run.py).

Sets the session up, runs the workload, checks its outputs, and writes
a result JSON (end-to-end metrics; per-layer metrics when traced) to
``--result``.  ``PERFBENCH_T0`` is the wall time run.py spawned this
process at, so ``setup_s`` covers interpreter start and imports too.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

T0 = float(os.environ.get("PERFBENCH_T0") or time.time())

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from tracer import Tracer  # noqa: E402
from workloads import NIGHTLY_SOURCES, PROJECTS, WORKLOADS  # noqa: E402

from dbt_core_gcloud_template_spark import session  # noqa: E402
from dbt_core_gcloud_template_spark.plans import runner  # noqa: E402

OPERATOR_GROUPS = ("dedup", "similarity", "text_analysis", "snapshot", "tests", "drift")
NODE_TYPES = ("model", "test", "seed", "snapshot", "unit_test")


class Ctx:
    """Paths and handles a workload needs."""

    def __init__(self, args):
        self.root = args.root
        self.seed = args.seed
        self.data_dir = args.data_dir
        self.warehouse = os.path.join(args.run_dir, "warehouse")
        self.state_root = os.path.join(args.run_dir, "state")
        self.tmp = os.path.join(args.run_dir, "tmp")
        self.threads = len(os.sched_getaffinity(0))
        self.spark = None
        self.engine = None
        self.tracer = None

    def span(self, name: str, layer: str):
        """A tracer span around benchmark-side work (no-op untraced)."""
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()


def setup(ctx: Ctx) -> dict:
    """Session ready, Python workers warm, first Engine constructed."""
    for d in (ctx.warehouse, ctx.state_root, ctx.tmp):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.local.dir": ctx.tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp}",
    }
    if ctx.tracer is not None:
        # keep every job's status for the per-node job/stage/task counts
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    ctx.spark = session.get_spark(
        "perfbench", master=f"local[{ctx.threads}]", warehouse_dir=ctx.warehouse,
        extra_conf=conf,
    )
    t_session = time.time()
    sc = ctx.spark.sparkContext
    sc.parallelize(range(4 * ctx.threads), ctx.threads).map(lambda x: x + 1).sum()
    ctx.spark.range(1000).selectExpr("sum(id)").collect()
    t_warm = time.time()
    project, target = PROJECTS[0]
    ctx.engine = runner.Engine(
        ctx.spark, os.path.join(ctx.root, project), target=target,
        state_dir=os.path.join(ctx.state_root, project),
    )
    t_ready = time.time()
    return {
        "setup_s": t_ready - T0,
        "session.start_s": t_session - T0,
        "session.warmup_s": t_warm - t_session,
    }


def peak_rss_mb(spark) -> float:
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


def end_to_end(out, setup_metrics: dict) -> dict:
    return {"setup_s": setup_metrics["setup_s"], "job_s": out.job_s, "cpu_s": out.cpu_s}


# ---------------------------------------------------------------- per layer
def _run_results(state: str) -> dict:
    with open(os.path.join(state, "run_results.json")) as f:
        return json.load(f)


def _runner_metrics(out) -> dict:
    """Node-time breakdown, critical path and parallelism of the job,
    from run_results.json and the manifest DAG."""
    m = {f"runner.node_s.{t}": 0.0 for t in NODE_TYPES}
    crit = node_sum = elapsed = 0.0
    for _project, _results, manifest, state in out.builds:
        rr = _run_results(state)
        dur = {r["unique_id"]: r["execution_time"] for r in rr["results"]}
        finish: dict[str, float] = {}
        for uid in manifest.topo_order(set(dur)):
            node = manifest.nodes[uid]
            deps = [finish[d] for d in node.depends_on if d in finish]
            finish[uid] = dur[uid] + max(deps, default=0.0)
            key = f"runner.node_s.{node.resource_type}"
            if key in m:
                m[key] += dur[uid]
        crit += max(finish.values(), default=0.0)
        node_sum += sum(dur.values())
        elapsed += rr["elapsed"]
    m["runner.critical_path_s"] = crit
    m["runner.parallelism"] = node_sum / elapsed if elapsed else 0.0
    m["runner.sched_gap_s"] = elapsed - crit if out.builds else 0.0
    return m


def _spark_metrics(spark, groups) -> dict:
    """Jobs, stages and tasks of the job's job groups (one per node, one
    per query), from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    for group in sorted(groups):
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.tasks_failed": failed,
    }


def per_layer(ctx, out, tracer: Tracer, setup_metrics: dict) -> dict:
    """Per-layer metrics of the job; ``trace.overhead_s`` is added by
    run.py, which also times an untraced twin of the run."""
    lo, hi = out.window
    spans = [s for s in tracer.closed() if lo <= s.start <= hi]

    def total(layer: str) -> float:
        return sum(s.end - s.start for s in spans if s.layer == layer)

    sel = [s.attrs for s in spans if s.layer == "manifest" and s.attrs.get("nodes")]
    in_bytes = datagen.input_bytes(ctx.data_dir, NIGHTLY_SOURCES)
    m = {
        "op_s.p50": statistics.median(out.op_s) if out.op_s else 0.0,
        "memory.peak_rss_mb": peak_rss_mb(ctx.spark),
        "session.start_s": setup_metrics["session.start_s"],
        "session.warmup_s": setup_metrics["session.warmup_s"],
        "runner.init_s": total("runner.init"),
        "sources.register_s": total("sources"),
        "compiler.compile_s": total("compiler"),
        "compiler.nodes": sum(s.attrs.get("nodes", 0) for s in spans if s.layer == "compiler"),
        "manifest.select_s": total("manifest"),
        "manifest.selected_frac": (
            sum(a["selected"] for a in sel) / sum(a["nodes"] for a in sel) if sel else 0.0
        ),
        "artifacts.write_s": total("artifacts"),
        **_runner_metrics(out),
        **_spark_metrics(ctx.spark, out.job_groups),
        "storage.bytes_written": out.storage.get("bytes", 0),
        "storage.files_written": out.storage.get("files", 0),
        "storage.max_files_per_relation": out.storage.get("max_files_per_relation", 0),
        "storage.bytes_per_input_byte": out.storage.get("bytes", 0) / in_bytes,
        "queries.plan_s": sum(out.query_plan_s),
        "queries.exec_s": sum(out.query_exec_s),
    }
    # top-level operator calls only: a call made from inside another
    # operator is that operator's work
    for group in OPERATOR_GROUPS:
        calls = [
            s for s in spans
            if s.layer == f"operators.{group}"
            and not (s.parent is not None and s.parent.layer.startswith("operators."))
        ]
        m[f"operators.{group}.calls"] = len(calls)
        m[f"operators.{group}.s"] = sum(s.end - s.start for s in calls)
    self_s = tracer.self_time_by_layer(spans)
    for layer in ("runner", "sources", "compiler", "manifest", "artifacts", "operators",
                  "queries"):
        m[f"self_s.{layer}"] = self_s.get(layer, 0.0)
    # the session layer works once per run, in set-up
    setup_spans = [s for s in tracer.closed() if s.layer == "session"]
    m["self_s.session"] = tracer.self_time_by_layer(setup_spans).get("session", 0.0)
    m["trace.spans"] = len(spans)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()

    with open(args.expected) as f:
        recorded = json.load(f)
    if recorded.get("data_version") != datagen.VERSION or args.workload not in recorded:
        raise SystemExit(f"{args.expected} has no digests for these inputs; run record.py")
    ctx = Ctx(args)
    if args.trace:
        ctx.tracer = Tracer()
        ctx.tracer.install()
    setup_metrics = setup(ctx)
    print(f"perfbench: set-up {setup_metrics['setup_s']:.2f}s", file=sys.stderr, flush=True)
    try:
        out = WORKLOADS[args.workload](ctx, recorded[args.workload])
        print(f"perfbench: job {out.job_s}s", file=sys.stderr, flush=True)
        result = {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "problems": out.problems,
            "end_to_end": end_to_end(out, setup_metrics),
        }
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
            result["per_layer"] = per_layer(ctx, out, ctx.tracer, setup_metrics)
            ctx.tracer.write(args.trace_out, _trace_extra(args, out, result["per_layer"]))
        with open(args.result, "w") as f:
            json.dump(result, f, indent=1)
    finally:
        ctx.spark.stop()
    return 0


def _trace_extra(args, out, metrics: dict) -> dict:
    """Per-node spans (durations from run_results.json) and the DAG."""
    nodes, edges = [], []
    for project, _results, manifest, state in out.builds:
        nodes += [
            {
                "project": project, "unique_id": r["unique_id"], "status": r["status"],
                "duration_s": r["execution_time"],
            }
            for r in _run_results(state)["results"]
        ]
        edges += [[d, uid] for uid, n in manifest.nodes.items() for d in n.depends_on]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "node_spans": nodes,
        "dag_edges": edges,
        "job_window": out.window,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
