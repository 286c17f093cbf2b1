"""Compiler: Jinja render of models/snapshots into a Manifest
(SURVEY.md §3.1 step 4 "parse → render → manifest"; reference dbt 1.10
public semantics).

Context functions provided (X1-X5 parity):
  ref(name)                → relation FQN + DAG edge
  source(src, table)       → source FQN + DAG edge
  config(**kw)             → node config (captured, returns '')
  var(name, default)       → project vars
  env_var(name, default)   → os.environ
  this                     → the node's own FQN (incremental models)
  is_incremental()         → True when the target exists and the run
                             is not --full-refresh
  log(msg), exceptions.raise_compiler_error(msg)

Deferral (E4, reference ci_build.sh:53): when a deferred manifest is
given, ``ref()`` to a node that is neither selected nor already built
in the target schema resolves to the deferred (prod) FQN instead.
"""

from __future__ import annotations

import os
import re
from typing import Any

import jinja2

from ..operators.tests import SECOND_RELATION
from .manifest import Manifest, Node, checksum_of
from .project import Project


class CompilerError(Exception):
    pass


# Tokens that can legally follow a FROM-clause relation WITHOUT being a
# table alias — used by sample mode to decide whether the user's SQL
# already aliases a ref()/source() (a bare identifier after the
# relation that is none of these is an alias).
_SQL_CLAUSE_KEYWORDS = frozenset(
    """
    on where join inner left right full cross outer group order having
    limit union except intersect minus using natural when then else and
    or set qualify window lateral tablesample semi anti distribute sort
    cluster pivot unpivot values select from
    """.split()
)


class _Exceptions:
    @staticmethod
    def raise_compiler_error(msg: str):
        raise CompilerError(msg)


def _test_unique_id(model_name: str, column: str, test_name: str) -> str:
    return f"test.{test_name}_{model_name}_{column}"


def render_with_fixtures(
    project: Project,
    raw_sql: str,
    ref_map: dict[str, str],
    source_map: dict[tuple[str, str], str],
    target: str,
    default_schema: str,
) -> str:
    """Render a model's raw SQL with ref()/source() resolving to fixture
    relations (temp views) instead of warehouse tables — the unit-test
    compilation mode.  Every input the model touches must have a
    fixture; anything else is a CompilerError (dbt unit tests mock ALL
    inputs)."""
    env = jinja2.Environment(undefined=jinja2.StrictUndefined)

    def _ref(name: str) -> str:
        if name not in ref_map:
            raise CompilerError(f"unit test: no fixture given for ref('{name}')")
        return ref_map[name]

    def _source(src: str, tbl: str) -> str:
        if (src, tbl) not in source_map:
            raise CompilerError(
                f"unit test: no fixture given for source('{src}', '{tbl}')"
            )
        return source_map[(src, tbl)]

    ctx = {
        "config": lambda **kw: "",
        "ref": _ref,
        "source": _source,
        "var": lambda k, d=None: project.vars.get(k, d),
        "env_var": lambda k, d="": os.environ.get(k, d),
        "this": "__unit_test_self__",
        "is_incremental": lambda: False,
        "log": lambda msg, info=False: None,
        "exceptions": _Exceptions,
        "target": {"name": target, "schema": default_schema},
    }
    template_sql = raw_sql
    if project.macro_sql:
        template_sql = project.macro_sql + "\n" + template_sql
    try:
        return env.from_string(template_sql).render(**ctx).strip()
    except jinja2.exceptions.UndefinedError as e:
        raise CompilerError(f"unit test render: {e}") from e


def compile_python_model(
    m,
    model_uid: dict[str, str],
    seed_uid: dict[str, str],
    snap_uid: dict[str, str],
    src_fqn: dict[tuple[str, str], str],
    base_config: dict[str, Any],
    default_schema: str,
) -> Node:
    """Parse a dbt Python model (``def model(dbt, session)``) into a
    manifest node.  Like dbt, refs/sources/config are discovered
    STATICALLY (AST scan for ``dbt.ref(...)`` / ``dbt.source(...)`` /
    ``dbt.config(...)`` with literal arguments) — the function itself
    only runs at materialization time, on the cluster's session."""
    import ast

    captured = dict(base_config)
    deps: list[str] = []
    ref_rel: dict[str, str] = {}
    src_rel: dict[str, str] = {}
    try:
        tree = ast.parse(m.raw_sql)
    except SyntaxError as e:
        raise CompilerError(f"model.{m.name}: python parse error: {e}") from e
    for call in ast.walk(tree):
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and isinstance(call.func.value, ast.Name)
            and call.func.value.id == "dbt"
        ):
            continue
        if call.func.attr == "ref" and call.args:
            name = ast.literal_eval(call.args[0])
            dep = model_uid.get(name) or seed_uid.get(name) or snap_uid.get(name)
            if dep is None:
                raise CompilerError(f"model.{m.name}: dbt.ref('{name}') not found")
            deps.append(dep)
            ref_rel[name] = f"\x00REF:{dep}\x00"
        elif call.func.attr == "source" and len(call.args) >= 2:
            s, t = ast.literal_eval(call.args[0]), ast.literal_eval(call.args[1])
            if (s, t) not in src_fqn:
                raise CompilerError(
                    f"model.{m.name}: dbt.source('{s}', '{t}') not declared"
                )
            deps.append(f"source.{s}.{t}")
            src_rel[f"{s}.{t}"] = src_fqn[(s, t)]
        elif call.func.attr == "config":
            for kw in call.keywords:
                try:
                    captured[kw.arg] = ast.literal_eval(kw.value)
                except ValueError:
                    pass  # non-literal config values are ignored, like dbt
    captured.setdefault("materialized", "table")  # python models: no views
    captured["language"] = "python"
    captured["ref_relations"] = ref_rel
    captured["source_relations"] = src_rel
    uid = model_uid[m.name]
    return Node(
        unique_id=uid,
        name=m.name,
        resource_type="model",
        schema=captured.pop("schema", default_schema),
        alias=captured.pop("alias", m.name),
        raw_sql=m.raw_sql,
        compiled_sql="",  # executed, not compiled
        config=captured,
        depends_on=sorted(set(deps)),
        checksum=checksum_of(m.raw_sql, {k: v for k, v in captured.items() if k != "ref_relations"}),
    )


def compile_project(
    project: Project,
    target: str | None = None,
    full_refresh: bool = False,
    built_relations: set[str] | None = None,
    sample: str | None = None,
) -> Manifest:
    """Render every model/snapshot/seed/source/test into a Manifest.

    ``sample`` (dbt 1.10 sample mode, e.g. "3 days"): every ref() to a
    model declaring ``event_time`` and every source() whose declaration
    carries ``event_time`` resolves to a time-windowed subquery
    ``(SELECT * FROM rel WHERE col >= <anchor> - INTERVAL 'window')
    <name>`` — dev/CI builds run the full DAG over a recent slice.
    The subquery is aliased with the relation's bare name so SQL that
    qualifies columns by relation name (``... ON a.x = b.x``) keeps
    resolving under --sample — UNLESS the user's own SQL already
    aliases the ref (``{{ ref('x') }} AS e`` or bare ``{{ ref('x') }}
    e``): emitting the bare-name alias there would produce
    ``(SELECT ...) x AS e`` (a parse error) and duplicate aliases when
    one model is ref'd twice, so a user alias suppresses ours.  The
    window anchor is ONE literal timestamp captured at compile time —
    every model and test in the run cuts the same window (dbt anchors
    sample mode to the run start; a per-statement current_timestamp()
    would let a model materialize rows its own schema test then
    considers out-of-window).  The anchor literal carries an explicit
    ``+00:00`` offset: a zone-less literal parses in the SESSION
    timezone, which is only UTC on this project's own get_spark — an
    Engine on a foreign SparkSession would shift every window.
    Applies to SQL models; Python models' dbt.ref() reads the full
    relation.
    """
    from datetime import datetime, timezone

    anchor = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")

    def _sampled(rel: str, col: str, with_alias: bool = True) -> str:
        bare = rel.split(".")[-1].strip("`")
        sub = (
            f"(SELECT * FROM {rel} WHERE {col} >= "
            f"TIMESTAMP '{anchor}+00:00' - INTERVAL '{sample}')"
        )
        return f"{sub} {bare}" if with_alias else sub

    def _user_alias_follows(tail: str) -> bool:
        """True when the SQL text after a ref/source token already
        supplies a table alias (``AS e`` or a bare identifier that is
        not a clause keyword)."""
        if re.match(r"\s+as\s", tail, re.IGNORECASE):
            return True
        m = re.match(r"\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)", tail)
        if not m:
            return False
        tok = m.group(1)
        return tok.startswith("`") or tok.lower() not in _SQL_CLAUSE_KEYWORDS
    target = target or project.default_target
    tconf = project.targets.get(target, {})
    default_schema = tconf.get("schema", f"analytics_{target}")
    manifest = Manifest(project_name=project.name, target=target)

    model_uid = {m.name: f"model.{project.name}.{m.name}" for m in project.models}
    seed_uid = {s.name: f"seed.{project.name}.{s.name}" for s in project.seeds}
    snap_uid = {s.name: f"snapshot.{project.name}.{s.name}" for s in project.snapshots}

    def add_test(test_spec, parent_uid: str, stem: str, column: str) -> None:
        """Attach one generic test to ``parent_uid`` (its depends_on[0]).
        A test that reads a second relation (relationships.to,
        equal_rowcount.compare_model) resolves it here: the relation is
        appended to depends_on, so the test runs after it is built, and
        recorded in ``ref_relations`` like a Python model's refs, so
        deferral rewrites it with them."""
        if isinstance(test_spec, dict):
            test_name, params = next(iter(test_spec.items()))
        else:
            test_name, params = test_spec, {}
        parent = manifest.nodes[parent_uid]
        tuid = _test_unique_id(stem, column or "model", test_name)
        # same test type declared twice on one column/model (e.g. two
        # expression_is_true with different expressions): suffix a
        # counter so neither silently overwrites the other
        n_dup = 2
        base_uid = tuid
        while tuid in manifest.nodes:
            tuid = f"{base_uid}_{n_dup}"
            n_dup += 1
        config = {"test": test_name, "column": column, "params": params}
        deps = [parent_uid]
        other = (params or {}).get(SECOND_RELATION.get(test_name))
        dep = isinstance(other, str) and (
            model_uid.get(other) or seed_uid.get(other) or snap_uid.get(other)
        )
        if dep:
            config["ref_relations"] = {other: f"\x00REF:{dep}\x00"}
            if dep != parent_uid:
                deps.append(dep)
        manifest.add(
            Node(
                unique_id=tuid,
                name=tuid.split(".", 1)[1],
                resource_type="test",
                schema=parent.schema,
                alias=parent.alias,
                config=config,
                depends_on=deps,
                checksum=checksum_of(f"{test_name}:{column}", params),
            )
        )

    # sources first (S1): they are nodes so freshness/docs/state see them
    src_fqn: dict[tuple[str, str], str] = {}
    src_event_time: dict[tuple[str, str], str] = {}
    for s in project.sources:
        uid = s.unique_id
        manifest.add(
            Node(
                unique_id=uid,
                name=s.name,
                resource_type="source",
                schema=s.schema,
                alias=s.name,
                config={
                    "location": s.location,
                    "format": s.format,
                    "loaded_at_field": s.loaded_at_field,
                    "freshness": s.freshness,
                },
                description=s.description,
            )
        )
        src_fqn[(s.source_name, s.name)] = f"{s.schema}.{s.name}"
        if s.event_time:
            src_event_time[(s.source_name, s.name)] = s.event_time
        # dbt tests on source columns: run against the raw feed itself
        # (catch upstream contract breaks before any model consumes them)
        for col, col_tests in (s.column_tests or {}).items():
            for t in col_tests:
                add_test(t, uid, f"{s.source_name}_{s.name}", col)

    for seed in project.seeds:
        manifest.add(
            Node(
                unique_id=f"seed.{project.name}.{seed.name}",
                name=seed.name,
                resource_type="seed",
                schema=default_schema,
                alias=seed.name,
                config={
                    "materialized": "seed",
                    "path": seed.path,
                    **project.seed_config(seed.name),
                },
                checksum=checksum_of(
                    open(seed.path).read(), project.seed_config(seed.name)
                ),
            )
        )

    env = jinja2.Environment(undefined=jinja2.StrictUndefined)

    def render_node(
        name: str,
        raw_sql: str,
        uid: str,
        base_config: dict[str, Any],
        is_snapshot: bool = False,
    ) -> Node:
        captured: dict[str, Any] = dict(base_config)
        deps: list[str] = []

        def _config(**kw):
            captured.update(kw)
            return ""

        def _ref(ref_name: str) -> str:
            dep = (
                model_uid.get(ref_name)
                or seed_uid.get(ref_name)
                or snap_uid.get(ref_name)
            )
            if dep is None:
                raise CompilerError(f"{uid}: ref('{ref_name}') not found")
            deps.append(dep)
            # The referenced node's final relation depends on ITS config
            # (schema/alias), which may not be rendered yet — emit a
            # placeholder token; compile_project substitutes the real
            # fqn once every node's config is known (dbt resolves ref to
            # the target's actual relation, not default_schema.name).
            return f"\x00REF:{dep}\x00"

        def _source(src_name: str, tbl_name: str) -> str:
            key = (src_name, tbl_name)
            if key not in src_fqn:
                raise CompilerError(
                    f"{uid}: source('{src_name}', '{tbl_name}') not declared"
                )
            deps.append(f"source.{src_name}.{tbl_name}")
            et = src_event_time.get(key)
            if sample and et:
                # Placeholder token, not the subquery itself: the final
                # pass substitutes with lookahead at the surrounding SQL
                # so a user-written alias suppresses the bare-name one.
                return f"\x00SRC:{src_fqn[key]}:{et}\x00"
            return src_fqn[key]

        def _own_fqn() -> str:
            # Read `captured` at CALL time: jinja renders top-to-bottom
            # and dbt requires config() before use, so schema/alias
            # overrides are already captured when this runs.
            return (
                f"{captured.get('schema', default_schema)}"
                f".{captured.get('alias', name)}"
            )

        class _This:
            # `this` must honor the node's own schema/alias config;
            # stringify lazily so a top-of-file config() is respected.
            def __str__(self) -> str:
                return _own_fqn()

        def _surrogate_key(cols) -> str:
            # dbt_utils.generate_surrogate_key: deterministic row key
            # from columns (NULL-safe, engine-portable md5)
            if isinstance(cols, str):
                cols = [cols]
            parts = ", ".join(
                f"coalesce(cast({c} as string), '_null_')" for c in cols
            )
            return f"md5(concat_ws('-', {parts}))"

        ctx = {
            "config": _config,
            "ref": _ref,
            "source": _source,
            "surrogate_key": _surrogate_key,
            "dbt_utils": {"generate_surrogate_key": _surrogate_key},
            "var": lambda k, d=None: project.vars.get(k, d),
            "env_var": lambda k, d="": os.environ.get(k, d),
            "this": _This(),
            "is_incremental": lambda: (
                not full_refresh and _own_fqn() in (built_relations or set())
            ),
            "log": lambda msg, info=False: None,
            "exceptions": _Exceptions,
            "target": {"name": target, "schema": default_schema},
        }
        template_sql = raw_sql
        if project.macro_sql:
            template_sql = project.macro_sql + "\n" + template_sql
        try:
            compiled = env.from_string(template_sql).render(**ctx)
        except jinja2.exceptions.UndefinedError as e:
            raise CompilerError(f"{uid}: {e}") from e
        compiled = re.sub(r"\n{3,}", "\n\n", compiled).strip()
        return Node(
            unique_id=uid,
            name=name,
            resource_type="snapshot" if is_snapshot else "model",
            schema=captured.pop("schema", default_schema),
            alias=captured.pop("alias", name),
            raw_sql=raw_sql,
            compiled_sql=compiled,
            config=captured,
            depends_on=sorted(set(deps)),
            checksum=checksum_of(raw_sql, captured),
        )

    for m in project.models:
        base = dict(project.model_defaults.get(m.subdir, {}))
        base.update(m.yml_config)  # models/*.yml config: block
        # project-relative file path, the `path:` selection method's key
        base["path"] = os.path.relpath(m.path, project.root)
        declared = {c.name: c.data_type for c in m.columns if c.data_type}
        if declared:
            base["contract_types"] = declared
        if m.language == "python":
            node = compile_python_model(
                m, model_uid, seed_uid, snap_uid, src_fqn, base, default_schema
            )
        else:
            node = render_node(m.name, m.raw_sql, model_uid[m.name], base)
        node.description = m.description
        node.columns = {c.name: c.description for c in m.columns}
        manifest.add(node)
        # attach generic tests (A4/A5; reference stg_example.yml:5-8),
        # plus model-level dbt_utils-style tests (X7)
        for col in m.columns:
            for t in col.tests:
                add_test(t, node.unique_id, m.name, col.name)
        for t in m.model_tests:
            add_test(t, node.unique_id, m.name, "")

    for s in project.snapshots:
        node = render_node(
            s.name, s.raw_sql, snap_uid[s.name], {"materialized": "snapshot"}, True
        )
        manifest.add(node)

    # unit tests (dbt 1.8 public semantics): fixture-driven runs of a
    # model's SQL.  The MODEL depends on ITS unit tests — a failing unit
    # test skips the model build, exactly dbt's `build` ordering.
    for ut in project.unit_tests:
        muid = model_uid.get(ut.model)
        if muid is None:
            raise CompilerError(f"unit_test {ut.name}: model '{ut.model}' not found")
        tuid = f"unit_test.{project.name}.{ut.name}"
        manifest.add(
            Node(
                unique_id=tuid,
                name=ut.name,
                resource_type="unit_test",
                schema=default_schema,
                alias=ut.name,
                config={"model_uid": muid, "given": ut.given, "expect": ut.expect},
                description=ut.description,
                checksum=checksum_of(ut.model, {"given": ut.given, "expect": ut.expect}),
            )
        )
        manifest.nodes[muid].depends_on = sorted(
            set(manifest.nodes[muid].depends_on) | {tuid}
        )

    # Resolve ref() placeholder tokens now that every node's final
    # schema/alias is known (a ref'd model may set config(schema=...,
    # alias=...) — downstream SQL must point at the relation the runner
    # actually materializes, i.e. the node's fqn).
    # dbt 1.5 model governance: a model with access=private may only be
    # ref'd from models in the SAME group (tests/docs attached to the
    # model itself are exempt, like dbt)
    for uid, n in manifest.nodes.items():
        if n.resource_type != "model":
            continue
        for dep_uid in n.depends_on:
            dep = manifest.nodes.get(dep_uid)
            if (
                dep is not None
                and dep.resource_type == "model"
                and dep.config.get("access") == "private"
                and n.config.get("group") != dep.config.get("group")
            ):
                raise CompilerError(
                    f"{uid}: cannot ref private model {dep_uid} "
                    f"(group {dep.config.get('group')!r} != {n.config.get('group')!r})"
                )

    fqn_by_uid = {
        uid: n.fqn
        for uid, n in manifest.nodes.items()
        if n.resource_type in ("model", "seed", "snapshot")
    }
    token_re = re.compile("\x00REF:([^\x00]+)\x00")
    src_token_re = re.compile("\x00SRC:([^\x00]+)\x00")

    def _resolve_src(text: str) -> str:
        # Sampled-source tokens → windowed subquery, with the bare-name
        # alias suppressed when the user's SQL aliases the source.
        def s(mo: re.Match) -> str:
            fqn, et = mo.group(1).rsplit(":", 1)
            return _sampled(
                fqn, et,
                with_alias=not _user_alias_follows(mo.string[mo.end():]),
            )
        return src_token_re.sub(s, text)

    def _resolve(text: str) -> str:
        # Config strings never hold FROM-clause positions: refs resolve
        # to the plain FQN and sampled-source tokens degrade likewise.
        text = token_re.sub(lambda mo: fqn_by_uid[mo.group(1)], text)
        return src_token_re.sub(
            lambda mo: mo.group(1).rsplit(":", 1)[0], text
        )

    # Ephemeral materialization (dbt core semantics): a ref() to an
    # ephemeral model inlines the model as a CTE — it is never
    # materialized, so downstream SQL must carry its body.  Nested
    # ephemerals inline transitively, ordered dependencies-first.
    ephemeral = {
        uid
        for uid, n in manifest.nodes.items()
        if n.resource_type == "model"
        and n.config.get("materialized") == "ephemeral"
    }
    _body_memo: dict[str, tuple[str, list[tuple[str, str]]]] = {}

    def _body(uid: str) -> tuple[str, list[tuple[str, str]]]:
        """(sql with refs resolved to fqns/CTE names, required CTEs
        dependencies-first)."""
        if uid in _body_memo:
            return _body_memo[uid]
        ctes: list[tuple[str, str]] = []

        def sub(mo: re.Match) -> str:
            dep = mo.group(1)
            if dep in ephemeral:
                dsql, dctes = _body(dep)
                for c in dctes:
                    if c not in ctes:
                        ctes.append(c)
                cname = f"__dbt__cte__{manifest.nodes[dep].name}"
                if (cname, dsql) not in ctes:
                    ctes.append((cname, dsql))
                return cname
            et = manifest.nodes[dep].config.get("event_time")
            if sample and et:
                return _sampled(
                    fqn_by_uid[dep], et,
                    with_alias=not _user_alias_follows(
                        mo.string[mo.end():]
                    ),
                )
            return fqn_by_uid[dep]

        sql = token_re.sub(sub, manifest.nodes[uid].compiled_sql)
        sql = _resolve_src(sql)
        _body_memo[uid] = (sql, ctes)
        return _body_memo[uid]

    def _with_ctes(ctes: list[tuple[str, str]], sql: str) -> str:
        if not ctes:
            return sql
        clause = ", ".join(f"{name} AS ({s})" for name, s in ctes)
        m = re.match(r"^\s*with\s", sql, re.IGNORECASE)
        if m:  # merge into the model's own WITH clause
            return "WITH " + clause + ", " + sql[m.end():]
        return "WITH " + clause + "\n" + sql

    for uid, n in manifest.nodes.items():
        if "\x00" in n.compiled_sql:
            sql, ctes = _body(uid)
            n.compiled_sql = sql if uid in ephemeral else _with_ctes(ctes, sql)
        for k, v in n.config.items():
            if isinstance(v, str) and "\x00" in v:
                n.config[k] = _resolve(v)
            elif isinstance(v, list):
                n.config[k] = [
                    _resolve(x) if isinstance(x, str) and "\x00" in x else x
                    for x in v
                ]
            elif isinstance(v, dict):
                resolved = {}
                for kk, vv in v.items():
                    if isinstance(vv, str) and "\x00" in vv:
                        dep = token_re.search(vv).group(1)
                        if dep in ephemeral and n.resource_type == "model":
                            raise CompilerError(
                                f"{uid}: Python models cannot ref() the "
                                f"ephemeral model {dep} (no relation to read)"
                            )
                        vv = _resolve(vv)
                    resolved[kk] = vv
                n.config[k] = resolved

    # exposures last: metadata-only DAG leaves (reference
    # models/exposures.yml:3-17) — depends_on entries are raw
    # "ref('name')" / "source('src', 'tbl')" strings
    ref_re = re.compile(r"ref\(\s*['\"]([^'\"]+)['\"]\s*\)")
    src_re = re.compile(r"source\(\s*['\"]([^'\"]+)['\"]\s*,\s*['\"]([^'\"]+)['\"]\s*\)")
    for e in project.exposures:
        deps: list[str] = []
        for d in e.depends_on:
            m_ref = ref_re.search(d)
            if m_ref and m_ref.group(1) in model_uid:
                deps.append(model_uid[m_ref.group(1)])
            elif m_ref and m_ref.group(1) in seed_uid:
                deps.append(seed_uid[m_ref.group(1)])
            elif m_ref and m_ref.group(1) in snap_uid:
                deps.append(snap_uid[m_ref.group(1)])
            else:
                m_src = src_re.search(d)
                if m_src:
                    uid = f"source.{m_src.group(1)}.{m_src.group(2)}"
                    if uid in manifest.nodes:
                        deps.append(uid)
        manifest.add(
            Node(
                unique_id=f"exposure.{project.name}.{e.name}",
                name=e.name,
                resource_type="exposure",
                schema=default_schema,
                alias=e.name,
                config={
                    "type": e.type,
                    "url": e.url,
                    "maturity": e.maturity,
                    "owner": e.owner,
                },
                depends_on=deps,
                description=e.description,
                checksum=checksum_of(e.name + e.type + e.url, e.owner),
            )
        )

    _validate_governance(project, manifest)
    return manifest


def _validate_governance(project: Project, manifest: Manifest) -> None:
    """dbt 1.5 model governance, declaration side (the private-ref edge
    check itself runs inline during ref resolution above): every group a
    model claims must be DECLARED (project.yml or models/*.yml
    ``groups:``), and ``access`` must be one of dbt's three levels —
    exactly dbt's parse-time validation."""
    for uid, n in manifest.nodes.items():
        if n.resource_type != "model":
            continue
        grp = n.config.get("group")
        if grp and grp not in project.groups:
            raise CompilerError(
                f"{uid}: group '{grp}' is not declared (have: "
                f"{sorted(project.groups) or 'none'})"
            )
        acc = n.config.get("access", "protected")
        if acc not in ("private", "protected", "public"):
            raise CompilerError(f"{uid}: invalid access '{acc}'")
