"""The benchmark's workloads.

A run measures one job of its workload in a fresh Spark driver process
(one client, a closed loop: each operation starts when the previous one
has ended).  Every operation the job attempts is checked; a failed or
wrong operation is counted and never contributes a time, and a job with
a failed operation contributes no job time.

nightly_build   a fresh full ``Engine.build`` of ``demo_project`` then
                ``demo_curation`` (``prod`` target) on a wiped warehouse.
                Operations: every DAG node; every materialized relation,
                checked against its recorded digest (untimed).
adhoc_queries   untimed, every query of a fixed ``queries()`` mix runs
                into a digest sink that is compared with its DuckDB
                oracle digest; then one timed pass over the mix in a
                seed-chosen order, through the noop sink.
                Operations: every check and every timed execution.
"""

from __future__ import annotations

import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from digest import relation_digest

PROJECTS = (("demo_project", "prod"), ("demo_curation", "prod"))
NIGHTLY_SOURCES = ("orders", "events", "documents", "embeddings")
OK_STATUSES = ("success", "pass")
MATERIALIZED = ("model", "seed", "snapshot")

ADHOC_MIX = (
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_revenue",
    "q8_market_share",
    "q21_waiting_suppliers",
    "events_tumbling_1h",
    "events_sessionized",
    "customer_rfm",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "embedding_cosine_topk",
    "docs_bm25_search",
    "docs_hybrid_rrf",
    "dedup_components",
)

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Outcome:
    """What a run's job did."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # job wall and CPU seconds; None when an operation failed
    job_s: float | None = None
    cpu_s: float | None = None
    # perf_counter interval of the job (spans inside it are the job's)
    window: tuple[float, float] = (0.0, 0.0)
    op_s: list[float] = field(default_factory=list)
    # nightly_build: [(project, RunResults, Manifest, state_dir)] and the
    # warehouse's data files after the build
    builds: list[tuple] = field(default_factory=list)
    storage: dict = field(default_factory=dict)
    # adhoc_queries: per-query registry-call and execution seconds
    query_plan_s: list[float] = field(default_factory=list)
    query_exec_s: list[float] = field(default_factory=list)
    job_groups: set[str] = field(default_factory=set)
    digests: dict[str, dict] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def job_done(self, t0: float, t1: float, cpu: float) -> None:
        self.window = (t0, t1)
        if not self.failed:
            self.job_s, self.cpu_s = t1 - t0, cpu


def group_cpu_s() -> float:
    """CPU seconds used so far by this process group (the Spark driver, its
    JVM and the JVM's Python workers), reaped children included."""
    pgrp, total = os.getpgrp(), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        if int(fields[2]) == pgrp:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def storage_stats(warehouse: str) -> dict:
    """Data files under the warehouse, grouped per relation directory."""
    per_rel: dict[str, int] = {}
    total_bytes = 0
    for dirpath, _dirs, files in os.walk(warehouse):
        rel = "/".join(os.path.relpath(dirpath, warehouse).split(os.sep)[:2])
        for name in files:
            if name.startswith(("_", ".")) or name == "engine_catalog.json":
                continue
            total_bytes += os.path.getsize(os.path.join(dirpath, name))
            per_rel[rel] = per_rel.get(rel, 0) + 1
    return {
        "bytes": total_bytes,
        "files": sum(per_rel.values()),
        "max_files_per_relation": max(per_rel.values(), default=0),
    }


def nightly_build(ctx, expected: dict | None) -> Outcome:
    """One build per run: the job users pay for is a fresh process's first
    build, and a second one in the same JVM would be a different (warm)
    measurement.  ``expected`` maps relation fqn -> digest; None only
    records."""
    from dbt_core_gcloud_template_spark.plans.runner import Engine

    out = Outcome()
    builds = []
    cpu0, t0 = group_cpu_s(), time.perf_counter()
    for project, target in PROJECTS:
        state = os.path.join(ctx.state_root, project)
        if project == PROJECTS[0][0]:
            eng = ctx.engine  # constructed by set-up
        else:
            eng = Engine(
                ctx.spark, os.path.join(ctx.root, project), target=target, state_dir=state
            )
        eng.threads = ctx.threads
        results, manifest = eng.build()
        builds.append((project, results, manifest, state))
    t1, cpu1 = time.perf_counter(), group_cpu_s()
    out.builds = builds
    for _project, results, _manifest, _state in builds:
        for r in results.results:
            out.attempted += 1
            out.job_groups.add(r.unique_id)
            if r.status in OK_STATUSES:
                out.op_s.append(r.execution_time)
            else:
                out.fail(f"{r.unique_id}: {r.status}: {r.message[:200]}")
    out.storage = storage_stats(ctx.warehouse)
    _check_relations(ctx, builds, expected, out)
    out.job_done(t0, t1, cpu1 - cpu0)
    return out


def _check_relations(ctx, builds, expected: dict | None, out: Outcome) -> None:
    """Digest every materialized relation (concurrently, one Spark job
    each) and compare with the recorded digests."""
    fqns = sorted({
        node.fqn
        for _project, _results, manifest, _state in builds
        for node in manifest.nodes.values()
        if node.resource_type in MATERIALIZED and node.enabled
        and node.materialized != "ephemeral"
    })

    def digest(fqn):
        try:
            return relation_digest(ctx.spark.table(fqn))
        except Exception as e:  # noqa: BLE001 - a missing relation is a failed op
            return e

    with ThreadPoolExecutor(max_workers=ctx.threads) as pool:
        digests = dict(zip(fqns, pool.map(digest, fqns)))
    if expected is not None:
        for fqn in sorted(set(expected) - set(fqns)):
            out.attempted += 1
            out.fail(f"{fqn}: expected relation was not built")
    for fqn, got in digests.items():
        out.attempted += 1
        if isinstance(got, Exception):
            out.fail(f"{fqn}: unreadable: {type(got).__name__}: {str(got)[:200]}")
            continue
        out.digests[fqn] = got
        if expected is not None and expected.get(fqn) != got:
            out.fail(f"{fqn}: digest {got} != expected {expected.get(fqn)}")


def adhoc_queries(ctx, expected: dict | None) -> Outcome:
    """The untimed check of every mix query against ``expected`` (query
    name -> its DuckDB oracle digest), then one timed pass over the mix,
    each query through the noop sink."""
    from dbt_core_gcloud_template_spark import queries as queries_pkg

    out = Outcome()
    registry = queries_pkg.queries()
    sc = ctx.spark.sparkContext
    mix = list(ADHOC_MIX)
    random.Random(ctx.seed).shuffle(mix)
    # the check doubles as the warm-up: a query's first execution in a
    # process pays class loading and code generation for its operators,
    # which would otherwise land on whichever query the seed puts first
    _check_queries(ctx, registry, expected, out)
    cpu0, t0 = group_cpu_s(), time.perf_counter()
    for name in mix:
        out.attempted += 1
        group = f"perfbench:{name}"
        out.job_groups.add(group)
        sc.setJobGroup(group, name)
        try:
            q0 = time.perf_counter()
            df = registry[name](ctx.spark, ctx.data_dir)
            q1 = time.perf_counter()
            with ctx.span(f"exec.{name}", "queries.exec"):
                _noop(df)
            q2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failing query is a failed op
            out.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out.op_s.append(q2 - q0)
        out.query_plan_s.append(q1 - q0)
        out.query_exec_s.append(q2 - q1)
        print(f"perfbench: {name} {q1 - q0:.3f}s + {q2 - q1:.3f}s", file=sys.stderr, flush=True)
    t1, cpu1 = time.perf_counter(), group_cpu_s()
    out.job_done(t0, t1, cpu1 - cpu0)
    return out


def _check_queries(ctx, registry, expected: dict | None, out: Outcome) -> None:
    """Run every mix query (concurrently) into a digest sink and compare
    with its oracle digest."""

    def digest(name):
        try:
            return relation_digest(registry[name](ctx.spark, ctx.data_dir))
        except Exception as e:  # noqa: BLE001 - a failing query is a failed op
            return e

    with ThreadPoolExecutor(max_workers=ctx.threads) as pool:
        digests = dict(zip(ADHOC_MIX, pool.map(digest, ADHOC_MIX)))
    for name, got in digests.items():
        out.attempted += 1
        if isinstance(got, Exception):
            out.fail(f"{name}: digest: {type(got).__name__}: {str(got)[:200]}")
            continue
        out.digests[name] = got
        if expected is not None and expected.get(name) != got:
            out.fail(f"{name}: digest {got} != oracle {expected.get(name)}")


def _noop(df) -> None:
    """Execute the whole plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


WORKLOADS = {"nightly_build": nightly_build, "adhoc_queries": adhoc_queries}
