"""Fused data tests (engine/testing.py): the runner counts every row-level
builtin of a relation in one aggregate. Its results — name, column,
status, failure count, error and order — must equal what each test gives
when run alone through the public DataFrame builtins, including when the
fused aggregate fails and the relation's tests rerun one at a time."""

from __future__ import annotations

import inspect

from hypothesis import given, settings
from hypothesis import strategies as st

from dbt_on_snowflake_spark.engine.project import ModelTests, SourceTable
from dbt_on_snowflake_spark.engine.testing import (
    BUILTIN_TESTS,
    TestConfig,
    TestRunner,
)

CHILD, PARENT = "fused_child", "fused_parent"
SCHEMA = "a double, b int, s string"


class _Project:
    def __init__(self, columns, tests):
        self.sources = {
            ("g", "child"): SourceTable(
                "g", "child", "", columns=columns, tests=tests
            ),
            ("g", "parent"): SourceTable("g", "parent", ""),
        }
        self.model_tests = {
            "child": ModelTests("child", columns=columns, tests=tests)
        }
        self.models: dict = {}
        self.seeds: dict = {}


class _Runner:
    vars: dict = {}

    def resolve_source(self, group, name):
        return {"child": CHILD, "parent": PARENT}[name]

    def resolve_ref(self, name):
        return CHILD


def _reference(spark, columns, tests):
    """Each declared test run alone: its builtin's failures DataFrame,
    counted."""
    df = spark.table(CHILD)
    out = []
    declared = [(c, t) for c, ts in columns.items() for t in ts] + [
        (None, t) for t in tests
    ]
    for column, t in declared:
        (name, kwargs), = t.items()
        kwargs = dict(kwargs)
        cfg = TestConfig.from_kwargs(kwargs)
        fn = BUILTIN_TESTS[name]
        try:
            if name == "relationships":
                fdf = fn(df, column, spark.table(PARENT), kwargs["field"])
            elif column is not None and "column" in inspect.signature(
                fn
            ).parameters:
                fdf = fn(df, column, **kwargs)
            else:
                fdf = fn(df, **kwargs)
            if cfg.limit is not None:
                fdf = fdf.limit(int(cfg.limit))
            n = fdf.count()
            out.append((name, column, cfg.status_for(n), n, None))
        except Exception as e:  # noqa: BLE001
            out.append((name, column, "error", None, str(e)[:500]))
    return out


def _fused(results):
    return [(r.name, r.column, r.status, r.failures, r.error) for r in results]


def _check(spark, rows, columns, tests):
    # one partition: a run-time error then names the same first bad row
    # on every run. Cached, so the many test actions below read JVM rows
    # instead of each unpickling the Python-side rows again.
    child = spark.createDataFrame(rows, SCHEMA).coalesce(1).cache()
    child.count()
    child.createOrReplaceTempView(CHILD)
    spark.createDataFrame([(0,), (1,), (2,)], "pid int").createOrReplaceTempView(
        PARENT
    )
    project, runner = _Project(columns, tests), _Runner()
    want = _reference(spark, columns, tests)
    assert _fused(TestRunner(spark).run_source_tests(project, runner)) == want
    assert _fused(TestRunner(spark).run_model_tests(project, runner)) == want
    child.unpersist()
    return want


_cell_a = st.one_of(st.none(), st.sampled_from([-5.0, -1.0, 0.0, 0.5, 10.0, 250.0]))
_cell_b = st.one_of(st.none(), st.integers(-2, 4))
_cell_s = st.one_of(st.none(), st.sampled_from(["1", "0", "-2", "7.5", "abc"]))
_config = st.sampled_from(
    [{}, {"config": {"severity": "warn"}}, {"config": {"error_if": ">1"}},
     {"config": {"limit": 1}}]
)
_column_test = st.one_of(
    st.builds(lambda c: {"not_null": c}, _config),
    st.builds(lambda c: {"unique": c}, _config),
    st.builds(lambda c: {"is_positive_amount": c}, _config),
    st.builds(
        lambda lo, hi, inc, c: {
            "accepted_range": {
                "min_value": lo, "max_value": hi, "inclusive": inc, **c
            }
        },
        st.sampled_from([None, -1, 0]),
        st.sampled_from([None, 1, 100]),
        st.booleans(),
        _config,
    ),
)
_expression = st.sampled_from(
    ["a >= 0", "b < 2", "a + b > 0", "CAST(s AS INT) >= 0", "no_such_col > 0"]
)
_table_test = st.one_of(
    st.builds(lambda e, c: {"expression_is_true": {"expression": e, **c}},
              _expression, _config),
    st.just({"not_null": {}}),  # no column: the call itself errors
)


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(st.tuples(_cell_a, _cell_b, _cell_s), max_size=12),
    columns=st.dictionaries(
        st.sampled_from(["a", "b", "s"]),
        st.lists(_column_test, min_size=1, max_size=2),
        max_size=3,
    ),
    relationships=st.booleans(),
    tests=st.lists(_table_test, max_size=2),
)
def test_fused_results_equal_per_test_builtins(
    spark, rows, columns, relationships, tests
):
    if relationships:
        columns = {
            **columns,
            "b": [*columns.get("b", []), {"relationships": {
                "to": "g.parent", "field": "pid"}}],
        }
    _check(spark, rows, columns, tests)


def test_runtime_failing_expression_errors_alone(spark):
    """An expression_is_true that fails only at run time (a cast of a
    non-numeric string) sinks the fused aggregate; the rerun reports
    that test as an error with the message it gets alone, and its
    siblings keep their counts."""
    rows = [(1.0, 1, "3"), (None, 2, "abc"), (-4.0, None, "5")]
    columns = {
        "a": [{"not_null": {}}, {"accepted_range": {"min_value": 0}}],
        "b": [{"not_null": {}}],
    }
    tests = [
        {"expression_is_true": {"expression": "CAST(s AS INT) >= 0"}},
        {"expression_is_true": {"expression": "b < 2"}},
    ]
    got = _check(spark, rows, columns, tests)
    assert [(name, status, n) for name, _c, status, n, _e in got] == [
        ("not_null", "fail", 1),
        ("accepted_range", "fail", 1),
        ("not_null", "fail", 1),
        ("expression_is_true", "error", None),
        ("expression_is_true", "fail", 1),
    ]
    assert "abc" in got[3][4]
