"""Rewrite perfbench/expected.json, the digests runs are checked against.

    python3 perfbench/record.py [adhoc_queries] [nightly_build]

With no argument both sections are recorded; otherwise only the named
ones (the others are kept).

``adhoc_queries``: each query's DuckDB ``oracle_sql()`` result over the
generated inputs (the oracle, not Spark, defines the expected answer),
digested by Spark after a cast to the query's output types.
``nightly_build``: every relation the nightly build materializes, as
built by the engine at the current commit from seed 0's inputs; the
benchmark then checks that every other seed (a different row order of
the same sources) and every later commit reproduces them.  Re-record
only when a change is meant to alter the outputs, and say so.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
from digest import relation_digest  # noqa: E402
from workloads import ADHOC_MIX, NIGHTLY_SOURCES, nightly_build  # noqa: E402


def oracle_digests(spark, data_dir: str, scratch: str) -> dict:
    """Each query's DuckDB oracle result, cast to the Spark query's
    output types and digested exactly as the benchmark digests Spark's."""
    import duckdb

    from dbt_core_gcloud_template_spark.queries import oracle_sql, queries

    registry, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    for t in datagen.SIZES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in ADHOC_MIX:
        path = os.path.join(scratch, f"{name}.parquet")
        con.execute(f"COPY ({oracles[name]}) TO '{path}' (FORMAT parquet)")
        schema = registry[name](spark, data_dir).schema
        oracle = spark.read.parquet(path)
        out[name] = relation_digest(
            oracle.select(*[oracle[f.name].cast(f.dataType).alias(f.name) for f in schema])
        )
        print(f"oracle {name}: {out[name]}", flush=True)
    return out


def main() -> int:
    sections = sys.argv[1:] or ["adhoc_queries", "nightly_build"]
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    base = datagen.ensure_base(os.path.join(work, "data", "base"))
    seeded = datagen.permuted_copy(
        base, os.path.join(work, "data", "seeded"), 0, list(NIGHTLY_SOURCES)
    )
    os.environ["SPARK_GRAFT_SF_DIR"] = seeded
    import worker

    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    if expected.get("data_version") != datagen.VERSION:
        expected = {"data_version": datagen.VERSION}
    run_dir = tempfile.mkdtemp(dir=work)
    try:
        ctx = worker.Ctx(SimpleNamespace(root=ROOT, seed=0, data_dir=seeded, run_dir=run_dir))
        worker.setup(ctx)
        try:
            if "adhoc_queries" in sections:
                expected["adhoc_queries"] = oracle_digests(ctx.spark, base, ctx.tmp)
            if "nightly_build" in sections:
                out = nightly_build(ctx, None)
                if out.failed:
                    raise SystemExit(f"nightly build failed, not recording: {out.problems}")
                expected["nightly_build"] = out.digests
        finally:
            ctx.spark.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
