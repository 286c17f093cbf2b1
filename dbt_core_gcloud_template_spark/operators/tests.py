"""Generic data tests + source freshness (SURVEY.md §2.4 A4-A6).

dbt's generic tests compile to SQL returning *violating rows*; a test
fails when that set is non-empty.  Each single-relation test is defined
ONCE here — as the predicate of its violating rows (row tests) or as
its key columns (key tests) — and both its term in the relation's
one-scan aggregate (``GenericTest.gate``) and its violations frame
derive from that definition.  At 100 TB the runner answers every test
on a relation with one aggregate job (SURVEY §7.7) and builds a
violations frame only when it needs rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# tests that read a second relation -> the param naming it
SECOND_RELATION = {"relationships": "to", "equal_rowcount": "compare_model"}

# dbt test config: severity / thresholds / store_failures, given either
# directly on the test or under its ``config:`` block
_CONFIG_KEYS = ("severity", "warn_if", "error_if", "store_failures")


@dataclass(frozen=True)
class GenericTest:
    """One generic test as compiled onto a relation: the macro name, the
    tested column ('' for model-level tests) and its params, dbt test
    config removed (see :func:`parse_test`)."""

    name: str
    column: str
    params: dict[str, Any]

    def row_predicate(self) -> Column | None:
        """The violating-row condition of a row test; None otherwise."""
        p = self.params
        if self.name == "not_null":
            return F.col(self.column).isNull()
        if self.name == "accepted_values":
            c = F.col(self.column)
            return ~c.isin(p.get("values", [])) | c.isNull()
        if self.name == "not_accepted_values":
            return F.col(self.column).isin(p.get("values", []))
        if self.name == "expression_is_true":
            # dbt_utils.expression_is_true: rows where the expression is
            # NOT satisfied (NULL counts as a violation, like dbt's SQL),
            # within the optional ``where`` scope
            bad = ~F.coalesce(F.expr(p["expression"]), F.lit(False))
            if p.get("where"):
                bad = bad & F.coalesce(F.expr(p["where"]), F.lit(False))
            return bad
        return None

    def key_columns(self) -> list[str]:
        """The columns a key test requires to be unique together; []
        for every other test."""
        if self.name == "unique":
            return [self.column]
        if self.name == "unique_combination_of_columns":
            return list(self.params["combination_of_columns"])
        return []

    @property
    def other_relation(self) -> str | None:
        """Name of the second relation the test reads (None: it reads
        only the tested one)."""
        key = SECOND_RELATION.get(self.name)
        return self.params[key] if key else None

    def gate(self) -> Column | None:
        """This test's term in the one-scan aggregate over its relation,
        or None when the test reads a second relation.

        A row test's term is its exact violating-row count.  A key
        test's is ``count(*) - count_distinct(struct(keys))``: >0 iff a
        key repeats (it counts surplus rows, not duplicated keys, so it
        is only a zero-or-fired signal).  It matches the groupBy HAVING
        count>1 semantics exactly, NULL keys included: a struct with
        NULL fields is itself non-NULL, so the NULL group counts once.
        """
        pred = self.row_predicate()
        if pred is not None:
            return F.sum(pred.cast("long"))
        keys = self.key_columns()
        if keys:
            return F.count(F.lit(1)) - F.count_distinct(
                F.struct(*[F.col(k) for k in keys])
            )
        if self.name == "recency":
            # dbt_utils.recency: 1 when max(field) is older than the
            # interval (or the relation is empty) — a model-level
            # freshness check
            newest = F.max(F.col(self.params.get("field", self.column)))
            cutoff = F.expr(
                f"current_timestamp() - INTERVAL {int(self.params.get('interval', 1))}"
                f" {self.params.get('period', 'day')}"
            )
            return F.when(newest.isNull(), 1).when(
                newest.cast("timestamp") < cutoff, 1
            ).otherwise(0)
        if self.name in SECOND_RELATION:
            return None
        raise ValueError(f"unknown test {self.name}")

    def violations(self, df: DataFrame, other: DataFrame | None = None) -> DataFrame | None:
        """The violating rows (key tests: one row per repeated key with
        its ``n_records``); None for tests whose result is a number
        (equal_rowcount, recency)."""
        pred = self.row_predicate()
        if pred is not None:
            return df.filter(pred)
        keys = self.key_columns()
        if keys:
            return (
                df.groupBy(*keys)
                .agg(F.count("*").alias("n_records"))
                .filter(F.col("n_records") > 1)
            )
        if self.name == "relationships":
            # FK test: values of the column missing from other.field
            col = self.column
            to_keys = other.select(F.col(self.params["field"]).alias(col)).distinct()
            return (
                df.select(col)
                .filter(F.col(col).isNotNull())
                .join(F.broadcast(to_keys), col, "left_anti")
            )
        return None

    def failures(
        self, df: DataFrame, other: DataFrame | None = None, gate: int | None = None
    ) -> int:
        """The test's failure count, uncapped (0 ⇒ pass).

        ``gate`` is the test's value from the scan of ``df`` (:func:`scan`;
        None for a test that reads a second relation).  Row tests and
        recency take their count from it; a key test counts its
        violations only when it fired."""
        if self.name == "equal_rowcount":
            # dbt_utils.equal_rowcount: |count(a) - count(b)|
            return abs(df.count() - other.count())
        if (gate and self.key_columns()) or self.name == "relationships":
            return self.violations(df, other).count()
        return gate


def parse_test(config: dict[str, Any]) -> tuple[GenericTest, dict[str, Any]]:
    """Split a compiled test node's config into the test and its dbt
    test config (a key given directly on the test wins over the same
    key under its ``config:`` block)."""
    params = dict(config.get("params") or {})
    test_cfg = dict(params.pop("config", None) or {})
    for k in _CONFIG_KEYS:
        v = params.pop(k, None)
        if v:
            test_cfg[k] = v
    return GenericTest(config["test"], config.get("column") or "", params), test_cfg


def scan(df: DataFrame, tests: list[GenericTest]) -> list[int]:
    """Every test's gate term over ``df``, in ONE aggregate job."""
    row = df.agg(*[t.gate().alias(f"t{i}") for i, t in enumerate(tests)]).collect()[0]
    return [int(v or 0) for v in row]


def _threshold_met(cond: str, failures: int) -> bool:
    """Evaluate a dbt warn_if/error_if condition string ('!=0', '>5',
    '>=10', ...) against the failure count."""
    import re

    m = re.fullmatch(r"\s*(>=|<=|!=|==|>|<|=)\s*(\d+)\s*", str(cond))
    if not m:
        raise ValueError(f"bad test threshold {cond!r}")
    op, n = m.group(1), int(m.group(2))
    return {
        ">": failures > n,
        ">=": failures >= n,
        "<": failures < n,
        "<=": failures <= n,
        "!=": failures != n,
        "==": failures == n,
        "=": failures == n,
    }[op]


def threshold_status(
    failures: int,
    severity: str = "error",
    warn_if: str = "!=0",
    error_if: str = "!=0",
) -> str:
    """dbt severity semantics: severity=error checks error_if first
    (fail), then warn_if (warn); severity=warn only ever warns."""
    if severity.lower() == "error" and _threshold_met(error_if, failures):
        return "fail"
    if _threshold_met(warn_if, failures):
        return "warn"
    return "pass"


# -- source freshness (A6; reference src_example.yml:9-13) -------------------

_PERIOD_SECONDS = {"minute": 60, "hour": 3600, "day": 86400}


def freshness_check(
    spark: SparkSession,
    relation_fqn: str,
    loaded_at_field: str,
    warn_after: dict[str, Any] | None,
    error_after: dict[str, Any] | None,
    now: datetime | None = None,
    filter_sql: str | None = None,
) -> dict[str, Any]:
    """max(loaded_at) vs now against warn/error thresholds.

    ``filter_sql`` is dbt's source-freshness `filter` config: it scopes
    the max() scan (at 100 TB, typically a partition predicate so the
    check reads one partition, not all history).

    Returns the reference's sources.json per-source shape:
    {max_loaded_at, age_seconds, status}.
    """
    df = spark.table(relation_fqn)
    if filter_sql:
        df = df.filter(filter_sql)
    row = (
        df.agg(F.max(F.col(loaded_at_field).cast("timestamp")).alias("m"))
        .collect()[0]
    )
    max_loaded = row["m"]
    now = now or datetime.now(timezone.utc)
    if max_loaded is None:
        return {"max_loaded_at": None, "age_seconds": None, "status": "error"}
    if max_loaded.tzinfo is None:
        max_loaded = max_loaded.replace(tzinfo=timezone.utc)
    age = (now - max_loaded).total_seconds()

    def _threshold(spec: dict[str, Any] | None) -> float | None:
        if not spec:
            return None
        return spec["count"] * _PERIOD_SECONDS[spec["period"]]

    warn_s, err_s = _threshold(warn_after), _threshold(error_after)
    status = "pass"
    if err_s is not None and age > err_s:
        status = "error"
    elif warn_s is not None and age > warn_s:
        status = "warn"
    return {
        "max_loaded_at": max_loaded.isoformat(),
        "age_seconds": age,
        "status": status,
    }
