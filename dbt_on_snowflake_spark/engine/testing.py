"""Declarative data-test runner (reference §2.9 O7, §5).

Implements the full test taxonomy the reference uses — ~45 YAML test
declarations in dbt/models/staging/__sources.yml plus one custom generic
test (dbt/tests/generic/test_is_positive_amount.sql:1-7):

- not_null                   (__sources.yml:13-14 et al.)
- unique                     (__sources.yml:66-68 et al.)
- relationships (FK anti-join, __sources.yml:138-140 et al.)
- accepted_range             (dbt_utils; __sources.yml:15-17, 217-220)
- expression_is_true         (dbt_utils; __sources.yml:204-205)
- is_positive_amount         (custom: fails on col IS NOT NULL AND col<=0)

The universal convention: a test is a query returning FAILING rows;
pass = zero rows. Each builtin returns a failures DataFrame.

The runner evaluates the ROW-LEVEL builtins (not_null, accepted_range,
expression_is_true, is_positive_amount — a row fails on its own, no
grouping or join) of one relation together: each becomes one
``count(CASE WHEN <failure predicate> THEN 1 END)`` column of a single
aggregate, so the relation costs one scan and one Spark action however
many such tests it declares. On small relations a test is almost all
per-job overhead, which fusion removes; on large ones the aggregate is
map-side and column-pruned, so the scan reads only the tested columns
once. ``unique``, ``relationships``, SQL generic tests, custom tests and
tests that store or limit their failing rows run one action each, as
does every test of a relation whose fused aggregate raises (so each
still gets its own status and error).
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TestFn = Callable[..., DataFrame]


# Row-level failure predicates: a row fails its test when the predicate
# is TRUE. Each DataFrame builtin below filters on its predicate, and the
# fused runner counts the same predicate inside one aggregate, so the two
# paths cannot drift apart.


def _not_null_failing(column: str) -> Column:
    return F.col(column).isNull()


def _accepted_range_failing(
    column: str,
    min_value: Any = None,
    max_value: Any = None,
    inclusive: bool = True,
) -> Column:
    c = F.col(column)
    bad = F.lit(False)
    if min_value is not None:
        bad = bad | ((c < min_value) if inclusive else (c <= min_value))
    if max_value is not None:
        bad = bad | ((c > max_value) if inclusive else (c >= max_value))
    return c.isNotNull() & bad


def _expression_is_true_failing(expression: str) -> Column:
    return ~F.expr(expression)


def _is_positive_amount_failing(column: str) -> Column:
    c = F.col(column).cast("double")
    return c.isNotNull() & (c <= 0)


ROW_PREDICATES: dict[str, Callable[..., Column]] = {
    "not_null": _not_null_failing,
    "accepted_range": _accepted_range_failing,
    "expression_is_true": _expression_is_true_failing,
    "is_positive_amount": _is_positive_amount_failing,
}


def not_null(df: DataFrame, column: str) -> DataFrame:
    return df.filter(_not_null_failing(column))


def unique(df: DataFrame, column: str) -> DataFrame:
    return (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def relationships(
    df: DataFrame, column: str, to: DataFrame, field: str
) -> DataFrame:
    """Child keys with no parent — left-anti against the parent table
    (reference J7). Parent side is small-dim in every reference use;
    Catalyst broadcasts it."""
    child = df.filter(F.col(column).isNotNull()).select(column)
    return child.join(to, child[column] == to[field], "left_anti")


def accepted_range(
    df: DataFrame,
    column: str,
    min_value: Any = None,
    max_value: Any = None,
    inclusive: bool = True,
) -> DataFrame:
    return df.filter(
        _accepted_range_failing(column, min_value, max_value, inclusive)
    )


def expression_is_true(df: DataFrame, expression: str) -> DataFrame:
    return df.filter(_expression_is_true_failing(expression))


def is_positive_amount(df: DataFrame, column: str) -> DataFrame:
    """Custom generic test, ported from the reference's Jinja test
    (tests/generic/test_is_positive_amount.sql:3-5): fails on
    ``col IS NOT NULL AND col <= 0``. Stringly-typed numeric columns
    (e.g. city_population VARCHAR) rely on implicit cast — we cast
    explicitly for deterministic semantics (SURVEY §7.4)."""
    return df.filter(_is_positive_amount_failing(column))


BUILTIN_TESTS: dict[str, TestFn] = {
    "not_null": not_null,
    "unique": unique,
    "relationships": relationships,
    "accepted_range": accepted_range,
    "expression_is_true": expression_is_true,
    "is_positive_amount": is_positive_amount,
}


def _threshold(expr: str) -> Callable[[int], bool]:
    """Parse a dbt-style count threshold (``">0"``, ``">=10"``, ``"!=0"``,
    ``"=0"``) into a predicate over the failure count."""
    m = re.fullmatch(r"\s*(>=|<=|!=|==|>|<|=)\s*(\d+)\s*", expr)
    if not m:
        raise ValueError(f"bad threshold expression: {expr!r}")
    op, n = m.group(1), int(m.group(2))
    return {
        ">": lambda c: c > n,
        ">=": lambda c: c >= n,
        "<": lambda c: c < n,
        "<=": lambda c: c <= n,
        "=": lambda c: c == n,
        "==": lambda c: c == n,
        "!=": lambda c: c != n,
    }[op]


@dataclass
class TestConfig:
    """dbt test config block: severity + thresholds + failure storage
    (dbt-core semantics: with severity=error, error_if is evaluated first,
    then warn_if; with severity=warn, failures can only ever warn)."""

    severity: str = "error"  # error | warn
    error_if: str = "!=0"
    warn_if: str = "!=0"
    store_failures: bool = False
    limit: int | None = None

    @classmethod
    def from_kwargs(cls, kwargs: dict) -> "TestConfig":
        raw = dict(kwargs.pop("config", None) or {})
        cfg = cls(
            severity=str(raw.pop("severity", "error")).lower(),
            error_if=str(raw.pop("error_if", "!=0")),
            warn_if=str(raw.pop("warn_if", "!=0")),
            store_failures=bool(raw.pop("store_failures", False)),
            limit=raw.pop("limit", None),
        )
        if raw:
            raise ValueError(f"unknown test config keys: {sorted(raw)}")
        if cfg.severity not in ("error", "warn"):
            raise ValueError(f"severity must be error|warn, got {cfg.severity!r}")
        return cfg

    def status_for(self, failures: int) -> str:
        if self.severity == "error" and _threshold(self.error_if)(failures):
            return "fail"
        if _threshold(self.warn_if)(failures):
            return "warn"
        return "pass"


@dataclass
class TestResult:
    name: str
    relation: str
    column: str | None
    status: str  # pass | warn | fail | error
    failures: int | None
    # wall time of the test's own action; a test counted in its
    # relation's fused aggregate reports an even share of that
    # aggregate's time, so per-relation sums stay right
    seconds: float
    error: str | None = None
    severity: str = "error"
    stored_relation: str | None = None  # where failing rows were persisted


@dataclass
class _Planned:
    """One declared test, resolved: ``call`` builds its failures
    DataFrame for the one-at-a-time path; ``predicate`` is set when the
    test is counted in its relation's fused aggregate instead."""

    name: str
    column: str | None
    call: Callable[[], DataFrame]
    config: TestConfig
    stored_suffix: str = ""
    predicate: Column | None = None


class TestRunner:
    """Runs YAML-declared tests from a Project's sources (and any
    programmatically-registered model tests)."""

    def __init__(self, spark: SparkSession, custom: dict[str, TestFn] | None = None):
        self.spark = spark
        self.tests = dict(BUILTIN_TESTS)
        if custom:
            self.tests.update(custom)
        self.results: list[TestResult] = []

    def _run_one(
        self,
        name: str,
        relation: str,
        column: str | None,
        fn_call,
        config: TestConfig | None = None,
        runner=None,
        stored_suffix: str = "",
    ) -> TestResult:
        cfg = config or TestConfig()
        t0 = time.perf_counter()
        try:
            df = fn_call()
            if cfg.limit is not None:
                df = df.limit(int(cfg.limit))
            stored = None
            if cfg.store_failures and runner is not None:
                # persist failing rows AND count them from the write action
                # itself (Observation) — one pass, no post-write re-read.
                # stored_suffix (a kwargs hash) keeps two same-type tests
                # on one relation from overwriting each other's rows
                stored = (
                    f"{relation}__failures__{name}"
                    + (f"__{column}" if column else "")
                    + stored_suffix
                )
                n = runner._write_versioned(df, stored)
                runner._register_table(stored)
            else:
                n = df.count()
            res = TestResult(
                name, relation, column, cfg.status_for(n), n,
                round(time.perf_counter() - t0, 3),
                severity=cfg.severity, stored_relation=stored,
            )
        except Exception as e:  # noqa: BLE001
            res = TestResult(
                name, relation, column, "error", None,
                round(time.perf_counter() - t0, 3), str(e)[:500],
                severity=cfg.severity,
            )
        self.results.append(res)
        return res

    def run_singular_tests(self, project, runner) -> list[TestResult]:
        """dbt SINGULAR data tests: each tests/*.sql file (not under
        tests/generic/) is one assertion — the SELECT's rows are the
        failures. Rendered with full ref()/source()/vars resolution, so
        they express exactly the cross-model invariants schema.yml's
        per-column taxonomy cannot."""
        import os

        from dbt_on_snowflake_spark.engine.compile import render

        before = len(self.results)
        tdir = os.path.join(project.root, "tests")
        if not os.path.isdir(tdir):
            return []
        for fn in sorted(os.listdir(tdir)):
            path = os.path.join(tdir, fn)
            if not fn.endswith(".sql") or not os.path.isfile(path):
                continue
            with open(path) as f:
                body = f.read()
            name = fn[:-4]
            rendered = render(
                body, runner.resolve_ref, runner.resolve_source,
                variables=runner.vars,
            )
            self._run_one(
                name, f"singular:{name}", None,
                lambda r=rendered: self.spark.sql(r), None, runner,
            )
        return self.results[before:]

    def run_source_tests(self, project, runner) -> list[TestResult]:
        """Execute every test declared in sources.yml (column-level and
        table-level), resolving `to:` references against other sources."""
        for (group, tname), src in project.sources.items():
            self._run_relation(
                runner.resolve_source(group, tname), src, project, runner
            )
        return self.results

    def run_model_tests(
        self, project, runner, only: set[str] | None = None
    ) -> list[TestResult]:
        """Execute tests declared on MODELS (schema.yml under models/)
        against their materialized relations. ``only`` restricts to the
        given model names — ``build`` uses this to test each model right
        after it materializes, gating its descendants. Returns only the
        results produced by THIS call (also appended to self.results).

        Ordering contract for build: a ``relationships`` test whose
        ``to:`` is a model requires that model to be an ANCESTOR of the
        tested model (sources and seeds are always loaded first) — build
        tests fire the moment the owning model lands, so a sibling target
        may not exist yet and records a test error rather than silently
        passing."""
        before = len(self.results)
        for name, spec in project.model_tests.items():
            if only is not None and name not in only:
                continue
            self._run_relation(runner.resolve_ref(name), spec, project, runner)
        return self.results[before:]

    def _run_relation(self, relation, spec, project, runner) -> None:
        """Run the tests ``spec`` declares on ``relation``: column-level,
        then table-level, results in declaration order. A declaration
        error raises after the tests declared before it have run, as
        one-at-a-time dispatch would."""
        df = self.spark.table(relation)
        declared = [
            (column, t) for column, tests in spec.columns.items() for t in tests
        ] + [(None, t) for t in spec.tests]
        planned, error = [], None
        for column, t in declared:
            try:
                planned.append(
                    self._plan(df, relation, column, t, project, runner)
                )
            except Exception as e:  # noqa: BLE001 — re-raised below
                error = e
                break
        self._execute(df, relation, planned, runner)
        if error is not None:
            raise error

    def _dispatch(self, df, relation, column, t, project, runner) -> None:
        """Run one declared test."""
        self._execute(
            df, relation, [self._plan(df, relation, column, t, project, runner)],
            runner,
        )

    def _execute(self, df, relation, planned: list[_Planned], runner) -> None:
        """Count every fusable test of one relation in ONE aggregate —
        one ``count(CASE WHEN <failure predicate> THEN 1 END)`` column per
        test, so the relation costs one scan and one action — and run
        the rest one at a time. If the aggregate raises (a missing
        column, a cast that fails at run time), its tests rerun one at
        a time, so each gets the status, count and error it would get
        alone. A fused test's ``seconds`` is an even share of the
        aggregate's time: per-relation sums stay right."""
        fused = [p for p in planned if p.predicate is not None]
        counts: dict[int, int] = {}
        t0 = time.perf_counter()
        if fused:
            try:
                row = df.agg(
                    *[
                        F.count(F.when(p.predicate, 1)).alias(f"t{i}")
                        for i, p in enumerate(fused)
                    ]
                ).collect()[0]
                counts = {id(p): n for p, n in zip(fused, row)}
            except Exception:  # noqa: BLE001 — rerun one at a time below
                pass
        share = round((time.perf_counter() - t0) / max(len(fused), 1), 3)
        for p in planned:
            if id(p) in counts:
                self._record_counted(p, relation, counts[id(p)], share)
            else:
                self._run_one(
                    p.name, relation, p.column, p.call, p.config, runner,
                    stored_suffix=p.stored_suffix,
                )

    def _record_counted(
        self, p: _Planned, relation: str, n: int, seconds: float
    ) -> None:
        try:
            res = TestResult(
                p.name, relation, p.column, p.config.status_for(n), n,
                seconds, severity=p.config.severity,
            )
        except Exception as e:  # noqa: BLE001 — bad threshold, as _run_one
            res = TestResult(
                p.name, relation, p.column, "error", None, seconds,
                str(e)[:500], severity=p.config.severity,
            )
        self.results.append(res)

    def _plan(self, df, relation, column, t, project, runner) -> _Planned:
        """Resolve one declaration into its failures-DataFrame thunk and,
        for a row-level builtin that needs no failing rows stored or
        limited, its failure predicate. Configuration errors raise."""
        if isinstance(t, str):
            t = {t: {}}
        (test_name, kwargs), = t.items()
        kwargs = dict(kwargs or {})
        config = TestConfig.from_kwargs(kwargs)  # pops the `config:` block
        # per-test-instance disambiguator for store_failures: two
        # same-type tests on one relation (e.g. two expression_is_true
        # entries) must not write to the same failures table
        stored_suffix = ""
        if kwargs:
            import hashlib

            sig = repr(sorted((k, str(v)) for k, v in kwargs.items()))
            stored_suffix = "__" + hashlib.md5(sig.encode()).hexdigest()[:8]
        sql_tests = getattr(project, "sql_tests", {})
        if test_name not in self.tests and test_name in sql_tests:
            # dbt SQL GENERIC TEST ({% test %} block): bind model/column/
            # kwargs into the body, resolve ref()/source(), execute — the
            # SELECT's rows ARE the failures (dbt's contract). Python
            # tests of the same name win (self.tests checked first),
            # mirroring dbt's dispatch order of project over package.
            import re as _re

            tdef = sql_tests[test_name]
            body = tdef.body
            subs = {"model": relation, "column_name": column, **kwargs}
            for pname, default in tdef.params:
                if pname not in subs and default is not None:
                    subs[pname] = default

            def _sql_value(k, v):
                # model/column_name are identifiers; kwargs are VALUES —
                # strings must land as quoted SQL literals, not raw
                # injection (a kwarg `upper: abc` would otherwise parse
                # as a column reference or not at all)
                if k in ("model", "column_name"):
                    return str(v)
                if isinstance(v, bool):
                    return "TRUE" if v else "FALSE"
                if isinstance(v, str):
                    return "'" + v.replace("'", "''") + "'"
                return str(v)

            for k, v in subs.items():
                if v is None:
                    continue
                body = _re.sub(
                    r"\{\{\s*" + _re.escape(k) + r"\s*\}\}",
                    _sql_value(k, v).replace("\\", "\\\\"), body,
                )
            # a placeholder left unbound (e.g. {{ column_name }} in a
            # table-level test, or a param with no default and no kwarg)
            # would reach Spark as literal mustache text — an opaque
            # parse error. Fail here with the names instead. ref()/
            # source()/var() calls are render()'s job and excluded.
            unbound = sorted(
                set(_re.findall(r"\{\{\s*([A-Za-z_]\w*)\s*\}\}", body))
            )
            if unbound:
                raise ValueError(
                    f"SQL generic test {test_name!r} on {relation}: "
                    f"unbound placeholder(s) {', '.join(unbound)} — pass "
                    "them as test kwargs in schema.yml (column-level "
                    "placement binds column_name)"
                )
            from dbt_on_snowflake_spark.engine.compile import render

            rendered = render(
                body, runner.resolve_ref, runner.resolve_source,
                variables=runner.vars,
            )
            return _Planned(
                test_name, column, lambda: self.spark.sql(rendered), config,
                stored_suffix,
            )
        fn = self.tests[test_name]
        import inspect

        takes_column = "column" in inspect.signature(fn).parameters
        if test_name == "relationships":
            # `to:` accepts `group.table` (a source) or a bare model/seed
            # name (dbt's ref() target). Validated HERE, at dispatch time:
            # an unknown name or an ephemeral target (which resolves to an
            # inline subquery spark.table() cannot read) is a clear
            # configuration error, not an opaque runtime test 'error'
            to_rel = kwargs.pop("to")
            if "." in to_rel:
                group, tname = to_rel.split(".", 1)
                if (group, tname) not in project.sources:
                    raise ValueError(
                        f"relationships test on {relation}.{column}: "
                        f"to: {to_rel!r} is not a declared source"
                    )
                parent = self.spark.table(runner.resolve_source(group, tname))
            else:
                models = project.models
                if to_rel not in models and to_rel not in project.seeds:
                    raise ValueError(
                        f"relationships test on {relation}.{column}: "
                        f"to: {to_rel!r} is not a known model or seed"
                    )
                if (
                    to_rel in models
                    and project.materialization_for(models[to_rel])
                    == "ephemeral"
                ):
                    raise ValueError(
                        f"relationships test on {relation}.{column}: "
                        f"to: {to_rel!r} is ephemeral (no queryable "
                        "relation); materialize it or target its parent"
                    )
                parent = self.spark.table(runner.resolve_ref(to_rel))
            call = lambda: fn(df, column, parent, kwargs["field"])  # noqa: E731
        elif column is not None and takes_column:
            call = lambda: fn(df, column, **kwargs)  # noqa: E731
        else:
            # expression-style tests declared under a column still only
            # take the expression (dbt_utils.expression_is_true shape)
            call = lambda: fn(df, **kwargs)  # noqa: E731
        planned = _Planned(test_name, column, call, config, stored_suffix)
        if (
            fn is BUILTIN_TESTS.get(test_name)
            and test_name in ROW_PREDICATES
            and not config.store_failures
            and config.limit is None
        ):
            pred = ROW_PREDICATES[test_name]
            args = (column,) if column is not None and takes_column else ()
            try:
                planned.predicate = pred(*args, **kwargs)
            except Exception:  # noqa: BLE001 — the per-test call
                pass  # reproduces the error with its own message
        return planned
