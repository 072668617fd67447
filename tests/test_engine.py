"""End-to-end tests for the engine layer (SURVEY §2.9) against the ported
Tasty Bytes project with generated fixtures: DAG + selection, view/table
materializations, SQL + Python models, targets, the declarative test
runner, typed CSV ingest, and run-results artifacts."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from dbt_on_snowflake_spark.engine.dag import select, toposort
from dbt_on_snowflake_spark.engine.project import Project
from dbt_on_snowflake_spark.engine.runner import Runner
from dbt_on_snowflake_spark.engine.testing import TestRunner
from dbt_on_snowflake_spark.tastybytes import fixtures

PROJ_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dbt_on_snowflake_spark",
    "tastybytes",
)


@pytest.fixture(scope="module")
def tasty(spark, tmp_path_factory):
    data_dir = str(tmp_path_factory.mktemp("tasty_data"))
    tables = fixtures.generate(data_dir)
    os.environ["TASTY_DATA_DIR"] = data_dir
    project = Project(PROJ_ROOT, target="dev")
    runner = Runner(spark, project)
    runner.run()
    return project, runner, tables


def test_dag_shape(tasty):
    project, _runner, _t = tasty
    order = toposort(project)
    assert len(order) == 11  # 8 staging + 3 marts
    # marts run after their staged inputs
    assert order.index("orders") > order.index("raw_pos_order_detail")
    assert order.index("customer_loyalty_metrics") > order.index(
        "raw_pos_order_header"
    )


def test_run_statuses_and_materializations(tasty):
    _p, runner, _t = tasty
    by_name = {r.name: r for r in runner.results}
    assert len(by_name) == 11
    assert all(r.status == "success" for r in runner.results)
    assert by_name["raw_pos_menu"].materialization == "view"
    assert by_name["orders"].materialization == "table"
    assert by_name["sales_metrics_by_location"].materialization == "table"


def test_orders_mart_semantics(tasty, spark):
    """The wide mart keeps every order line (FK closure on all inner
    joins) and null-extends anonymous orders through the left join
    (reference orders.sql:35-47)."""
    _p, runner, tables = tasty
    orders = spark.table(runner.resolve_ref("orders"))
    assert orders.count() == len(tables["order_detail"])
    anon = orders.filter("customer_id IS NULL").count()
    merged = tables["order_detail"].merge(
        tables["order_header"][["order_id", "customer_id"]], on="order_id"
    )
    cust = merged["customer_id"].astype("Float64")
    expected_anon = int(
        (cust.isna() | (cust > len(tables["customer_loyalty"]))).sum()
    )
    assert anon == expected_anon
    assert "order_failed" in orders.columns  # SURVEY §1.4 fixture decision


def test_customer_loyalty_metrics_values(tasty, spark):
    """total_sales and the distinct visited-location array match a pandas
    recomputation (reference customer_loyalty_metrics.sql:9-15)."""
    _p, runner, tables = tasty
    got = {
        r["customer_id"]: r
        for r in spark.table(runner.resolve_ref("customer_loyalty_metrics")).collect()
    }
    oh = tables["order_header"]
    known = oh[oh["customer_id"].notna() & (oh["customer_id"] <= 500)]
    exp = known.groupby("customer_id").agg(
        total=("order_total", "sum"),
        locs=("location_id", lambda s: sorted(set(int(x) for x in s))),
    )
    assert len(got) == len(exp)
    for cid, row in list(exp.iterrows())[:25]:
        g = got[int(cid)]
        assert abs(g["total_sales"] - row["total"]) < 1e-6
        assert [int(x) for x in g["visited_location_ids_array"]] == row["locs"]


def test_sales_metrics_by_location_python_model(tasty, spark):
    """Locations with trucks (by city) but no orders coalesce to zero
    (reference sales_metrics_by_location.py:46-59)."""
    _p, runner, tables = tasty
    df = spark.table(runner.resolve_ref("sales_metrics_by_location"))
    rows = {r["LOCATION_ID"]: r for r in df.collect()}
    truck_cities = set(tables["truck"]["primary_city"])
    loc = tables["location"]
    no_order_locs = loc[(loc["location_id"] > 60) & loc["city"].isin(truck_cities)]
    assert len(no_order_locs) > 0
    for lid in no_order_locs["location_id"][:10]:
        r = rows[int(lid)]
        assert r["TOTAL_SALES"] == 0 and r["TOTAL_TAX"] == 0
        assert r["LOCATION_DESCRIPTION"].endswith(f"(Trucks: {r['TRUCK_COUNT']})")


def test_node_selection(tasty, spark):
    """--select model runs the model plus required ancestors only
    (reference setup/task.sql:5)."""
    project, _r, _t = tasty
    sel = select(project, "customer_loyalty_metrics")
    assert set(sel) == {
        "raw_customer_customer_loyalty",
        "raw_pos_order_header",
        "customer_loyalty_metrics",
    }
    assert sel[-1] == "customer_loyalty_metrics"
    sel_desc = select(project, "raw_pos_menu+")
    assert "orders" in sel_desc and "customer_loyalty_metrics" not in sel_desc


def test_targets_namespace(tasty, spark):
    """dev/prod targets resolve to distinct relation namespaces
    (reference profiles.yml:4-19 + generate_schema_name.sql)."""
    project, runner, _t = tasty
    assert runner.resolve_ref("orders") == "dev_orders"
    prod = Project(PROJ_ROOT, target="prod")
    assert Runner(spark, prod).resolve_ref("orders") == "prod_orders"


def test_source_data_tests_pass(tasty, spark):
    """All ~45 declared source tests pass on the generated fixtures
    (reference __sources.yml test surface)."""
    project, runner, _t = tasty
    tr = TestRunner(spark)
    results = tr.run_source_tests(project, runner)
    assert len(results) >= 40
    bad = [r for r in results if r.status != "pass"]
    assert not bad, [(r.relation, r.column, r.name, r.failures) for r in bad]


def test_source_tests_job_budget(tasty, spark):
    """The source tests launch at most one action per relation (its
    row-level tests fused into one aggregate) plus one per ``unique`` /
    ``relationships`` test. Running every test alone took one action
    per test: 54 actions and 117 jobs on this fixture."""
    from tests.conftest import spark_jobs

    project, runner, _t = tasty
    with spark_jobs(spark) as seen:
        results = TestRunner(spark).run_source_tests(project, runner)
    per_test = sum(r.name in ("unique", "relationships") for r in results)
    assert seen.actions <= len(project.sources) + per_test, (
        seen.actions, len(seen.jobs)
    )
    assert len(seen.jobs) < 0.9 * len(results), len(seen.jobs)


def test_data_tests_catch_violations(tasty, spark, tmp_path):
    """Corrupted data fails the right tests (the failing-rows convention,
    reference test_is_positive_amount.sql:3-5)."""
    from dbt_on_snowflake_spark.engine.testing import (
        is_positive_amount,
        not_null,
        relationships,
        unique,
    )

    bad = spark.createDataFrame(
        pd.DataFrame(
            {"id": [1, 1, None], "amount": [-1.0, 2.0, 0.0], "fk": [9, 9, 9]}
        )
    )
    parent = spark.createDataFrame(pd.DataFrame({"pid": [1, 2, 3]}))
    assert not_null(bad, "id").count() == 1
    assert unique(bad, "id").count() == 1
    assert is_positive_amount(bad, "amount").count() == 2  # -1 and 0
    assert relationships(bad, "fk", parent, "pid").count() == 3


def test_csv_copy_into_roundtrip(spark, tmp_path):
    """Typed CSV load replicates COPY INTO semantics (reference
    setup/setup_data.sql:144-173)."""
    from pyspark.sql import types as T

    from dbt_on_snowflake_spark.sources.csv_loader import copy_into

    csv = tmp_path / "c.csv"
    csv.write_text("1,Norway,NOK,NO,101,Oslo,634293\n2,,SEK,SE,102,Stockholm,975904\n")
    schema = T.StructType(
        [
            T.StructField("country_id", T.LongType()),
            T.StructField("country", T.StringType()),
            T.StructField("iso_currency", T.StringType()),
            T.StructField("iso_country", T.StringType()),
            T.StructField("city_id", T.LongType()),
            T.StructField("city", T.StringType()),
            T.StructField("city_population", T.StringType()),
        ]
    )
    n = copy_into(spark, "t_csv_country", str(csv), schema)
    assert n == 2
    df = spark.table("t_csv_country")
    assert dict(df.dtypes)["country_id"] == "bigint"
    assert df.filter("country IS NULL").count() == 1  # empty field -> NULL


def test_run_results_artifact(tasty, tmp_path):
    _p, runner, _t = tasty
    path = str(tmp_path / "run_results.json")
    runner.write_run_results(path)
    doc = json.loads(open(path).read())
    assert doc["target"] == "dev"
    assert len(doc["results"]) == 11
    assert all(r["status"] == "success" for r in doc["results"])


def test_source_freshness(tasty, spark):
    """loaded_at_field freshness (reference __sources.yml:168) with an
    injectable clock."""
    from datetime import datetime, timedelta, timezone

    from dbt_on_snowflake_spark.engine.freshness import check_freshness

    project, runner, tables = tasty
    max_ts = tables["order_header"]["order_ts"].max().to_pydatetime()
    now_fresh = max_ts.replace(tzinfo=timezone.utc) + timedelta(hours=1)
    res = check_freshness(spark, project, runner, now=now_fresh)
    assert [(r.table, r.status) for r in res] == [("order_header", "pass")]
    now_stale = max_ts.replace(tzinfo=timezone.utc) + timedelta(days=30)
    res2 = check_freshness(spark, project, runner, now=now_stale)
    assert res2[0].status == "error"


def test_source_freshness_per_source_thresholds(spark, tmp_path):
    """Declared warn_after/error_after in sources.yml override the engine
    defaults per source: the same 2-hour-old data passes a lax source,
    warns a 1-hour source, and errors a strict minutes-level source."""
    import os
    from datetime import datetime, timedelta, timezone

    import pandas as pd

    from dbt_on_snowflake_spark.engine.freshness import check_freshness
    from dbt_on_snowflake_spark.engine.project import Project
    from dbt_on_snowflake_spark.engine.runner import Runner

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    os.makedirs(root)
    loaded = datetime(2026, 1, 1, 12, 0, tzinfo=timezone.utc)
    for t in ("lax", "hourly", "strict"):
        frame = pd.DataFrame({"id": [1], "ts": [loaded.replace(tzinfo=None)]})
        # micros, not pandas' default nanos: the session reads
        # TIMESTAMP(NANOS) as long (legacy.parquet.nanosAsLong)
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        frame.to_parquet(os.path.join(data, f"{t}.parquet"), index=False)
    with open(os.path.join(root, "project.yml"), "w") as f:
        f.write("name: fresh\nmodels: {}\n")
    with open(os.path.join(root, "sources.yml"), "w") as f:
        f.write(f"""
sources:
  - name: raw
    base_path: "{data}"
    freshness:
      warn_after: {{count: 1, period: hour}}
      error_after: {{count: 4, period: hour}}
    tables:
      - name: lax
        loaded_at_field: ts
        freshness:
          warn_after: {{count: 1, period: day}}
          error_after: {{count: 7, period: day}}
      - name: hourly
        loaded_at_field: ts
      - name: strict
        loaded_at_field: ts
        freshness:
          warn_after: {{count: 30, period: minute}}
          error_after: {{count: 90, period: minute}}
""")
    project = Project(root, target="dev")
    runner = Runner(spark, project)
    runner.load_sources()
    now = loaded + timedelta(hours=2)
    res = {r.table: r.status for r in check_freshness(spark, project, runner, now=now)}
    # 2h age: lax passes (1d warn), hourly warns (group 1h/4h), strict
    # errors (90min error threshold)
    assert res == {"lax": "pass", "hourly": "warn", "strict": "error"}


def test_cli_ls_compile_run(tasty, capsys):
    """The CLI command surface (reference dbt CLI usage, README.md:108-136)."""
    from dbt_on_snowflake_spark.__main__ import main

    rc = main(["ls", "--project", PROJ_ROOT])
    out = capsys.readouterr().out
    assert rc == 0 and "table  orders" in out and "view " in out

    rc = main(["compile", "--project", PROJ_ROOT, "--select", "orders"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "{{ ref(" not in out  # fully rendered
    assert "dev_raw_pos_order_detail" in out

    rc = main(["run", "--project", PROJ_ROOT,
               "--select", "customer_loyalty_metrics"])
    out = capsys.readouterr().out
    assert rc == 0 and "dev_customer_loyalty_metrics" in out


def test_dag_cycle_detection(spark, tmp_path):
    """A ref cycle fails fast with a CycleError, not a hang or a Spark
    resolution error."""
    import graphlib

    from dbt_on_snowflake_spark.engine.dag import toposort

    root = str(tmp_path / "cyc")
    os.makedirs(f"{root}/models/m")
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: cyc\n")
    with open(f"{root}/models/m/a.sql", "w") as f:
        f.write("SELECT * FROM {{ ref('b') }}")
    with open(f"{root}/models/m/b.sql", "w") as f:
        f.write("SELECT * FROM {{ ref('a') }}")
    import pytest as _pytest

    with _pytest.raises(graphlib.CycleError):
        toposort(Project(root))


def test_unknown_ref_fails_fast(spark, tmp_path):
    root = str(tmp_path / "badref")
    os.makedirs(f"{root}/models/m")
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: badref\n")
    with open(f"{root}/models/m/a.sql", "w") as f:
        f.write("SELECT * FROM {{ ref('nope') }}")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refs unknown model"):
        toposort(Project(root))


def test_manifest_and_run_history_artifacts(tasty, tmp_path, capsys):
    """compile --out emits a manifest.json a UI/CI can consume; every run
    appends one line to <project>/target/run_history.jsonl."""
    from dbt_on_snowflake_spark.__main__ import main

    manifest_path = str(tmp_path / "manifest.json")
    rc = main(["compile", "--project", PROJ_ROOT, "--out", manifest_path])
    capsys.readouterr()
    assert rc == 0
    doc = json.loads(open(manifest_path).read())
    assert doc["project"] and doc["target"] == "dev"
    orders = doc["nodes"]["orders"]
    assert orders["materialized"] == "table"
    assert orders["relation"] == "dev_orders"
    assert orders["refs"]  # staging deps present
    assert ["raw_pos_order_detail", "orders"] in doc["edges"]
    assert any(s["format"] for s in doc["sources"].values())

    history = os.path.join(PROJ_ROOT, "target", "run_history.jsonl")
    before = sum(1 for _ in open(history)) if os.path.exists(history) else 0
    rc = main(["run", "--project", PROJ_ROOT, "--select", "raw_pos_truck"])
    capsys.readouterr()
    assert rc == 0
    lines = [json.loads(l) for l in open(history)]
    assert len(lines) == before + 1
    last = lines[-1]
    assert last["invoked_at"] and last["target"] == "dev"
    assert any(r["name"] == "raw_pos_truck" for r in last["results"])


def test_run_trace_artifact(tasty, capsys):
    """run --trace writes each node's formatted physical plan under
    target/traces/ and records the path in the node result."""
    import shutil

    from dbt_on_snowflake_spark.__main__ import main

    traces = os.path.join(PROJ_ROOT, "target", "traces")
    shutil.rmtree(traces, ignore_errors=True)
    rc = main(["run", "--project", PROJ_ROOT, "--select", "orders", "--trace"])
    capsys.readouterr()
    assert rc == 0
    plan = open(os.path.join(traces, "orders.txt")).read()
    assert "Scan parquet" in plan  # a real physical plan, not a stub


def test_seeds_load_and_are_ref_targets(spark, tmp_path, capsys):
    """dbt seeds: CSVs under seeds/ materialize as tables before models
    run and resolve through {{ ref('<seed>') }}."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    os.makedirs(f"{root}/seeds")
    with open(f"{root}/seeds/country_codes.csv", "w") as f:
        f.write("code,name\nNO,Norway\nSE,Sweden\n")
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: seeded\nmodels:\n  models:\n    materialized: table\n")
    os.makedirs(f"{root}/models/models")
    with open(f"{root}/models/models/countries.sql", "w") as f:
        f.write("SELECT code, upper(name) AS name_uc "
                "FROM {{ ref('country_codes') }}")

    rc = main(["seed", "--project", root])
    out = capsys.readouterr().out
    assert rc == 0 and "dev_country_codes" in out

    rc = main(["run", "--project", root])
    capsys.readouterr()
    assert rc == 0
    rows = {r.code: r.name_uc for r in spark.table("dev_countries").collect()}
    assert rows == {"NO": "NORWAY", "SE": "SWEDEN"}


def test_json_source_format(spark, tmp_path):
    """sources.yml format: json reads newline-delimited JSON."""
    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    with open(os.path.join(data, "logs.json"), "w") as f:
        f.write('{"id": 1, "msg": "a"}\n{"id": 2, "msg": "b"}\n')
    os.makedirs(root)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: jsrc\nmodels:\n  models:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: logs\n"
            f"        path: \"{data}/logs.json\"\n        format: json\n"
        )
    os.makedirs(f"{root}/models/models")
    with open(f"{root}/models/models/msgs.sql", "w") as f:
        f.write("SELECT id, msg FROM {{ source('raw', 'logs') }}")
    project = Project(root, target="dev")
    runner = Runner(spark, project)
    res = runner.run()
    assert all(r.status == "success" for r in res)
    assert spark.table("dev_msgs").count() == 2


def test_docs_catalog_artifact(tasty, capsys):
    """docs: manifest.json + catalog.json (relation schemas + write-metric
    row counts — dbt docs generate equivalent)."""
    from dbt_on_snowflake_spark.__main__ import main

    rc = main(["docs", "--project", PROJ_ROOT])
    capsys.readouterr()
    assert rc == 0
    cat = json.load(open(os.path.join(PROJ_ROOT, "target", "catalog.json")))
    orders = cat["relations"]["dev_orders"]
    assert orders["materialized"] == "table" and orders["rows"] > 0
    cols = {c["name"]: c["type"] for c in orders["columns"]}
    assert "order_id" in cols or "order_detail_id" in cols


def test_model_contract_enforced(spark, tmp_path):
    """config(contract=...): a model whose output schema drifts from the
    declared contract errors BEFORE materializing; a matching one runs."""
    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2], "v": [1.5, 2.5]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)
    write(f"{root}/project.yml",
          "name: contracts\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n    tables:\n      - name: t\n")
    write(f"{root}/models/models/good.sql",
          "{{ config(contract='id:bigint,v:double') }}\n"
          "SELECT id, v FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/drifted.sql",
          "{{ config(contract='id:bigint,v:double') }}\n"
          "SELECT id, CAST(v AS STRING) AS v FROM {{ source('raw', 't') }}")
    results = Runner(spark, Project(root, target="dev")).run()
    status = {r.name: r for r in results}
    assert status["good"].status == "success"
    assert status["drifted"].status == "error"
    assert "contract violation" in status["drifted"].error
    # nothing was written for the violating model
    assert not os.path.isdir(
        Runner(spark, Project(root, target="dev"))._table_path("dev_drifted")
    )


def test_exposures_load_select_and_manifest(tmp_path):
    """dbt exposures: the declared dashboard loads with validated deps,
    +exposure:<name> selects everything it needs (deps + ancestors), and
    the manifest carries the exposure with resolved physical relations."""
    from dbt_on_snowflake_spark.engine.artifacts import build_manifest
    from dbt_on_snowflake_spark.engine.dag import select as dag_select

    project = Project(PROJ_ROOT, target="dev")
    by = {e.name: e for e in project.exposures}
    exp = by["management_dashboard"]
    assert exp.type == "dashboard"
    assert exp.model_refs == ["orders", "customer_loyalty_metrics"]

    sel = dag_select(project, "+exposure:management_dashboard")
    assert "orders" in sel and "customer_loyalty_metrics" in sel
    assert "raw_pos_order_header" in sel  # ancestors pulled in

    man = build_manifest(project)
    m = man["exposures"]["management_dashboard"]
    assert m["owner"]["email"] == "analytics@tastybytes.example"
    assert "dev_orders" in m["relations"]

    # invalid depends_on fails at load, naming the exposure
    root = str(tmp_path / "proj")
    os.makedirs(f"{root}/models/models")
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: expbad\n")
    with open(f"{root}/models/models/m.sql", "w") as f:
        f.write("SELECT 1 AS id")
    with open(f"{root}/models/models/schema.yml", "w") as f:
        f.write("exposures:\n"
                "  - name: dash\n"
                "    type: dashboard\n"
                "    depends_on: [ref('nope')]\n")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown model 'nope'"):
        Project(root, target="dev")


def test_unit_tests_on_orders_mart(spark):
    """The declared unit test on the 6-way `orders` join runs green from
    mock rows alone — no source parquet, no materialized staging views
    (a fresh Project, nothing run). The mocks exercise the FLOAT
    location_id join and the anonymous-order left join."""
    from dbt_on_snowflake_spark.engine.unit_tests import run_unit_tests

    project = Project(PROJ_ROOT, target="dev")
    names = [u.name for u in project.unit_tests]
    assert "ut_orders_six_way_join" in names
    results = run_unit_tests(spark, project)
    by = {r.name: r for r in results}
    r = by["ut_orders_six_way_join"]
    assert r.status == "pass", r.message


def test_unit_test_failure_modes(spark, tmp_path):
    """A wrong expectation fails with a row diff; an unmocked input
    errors by name (explicit beats dbt's silently-empty default)."""
    from dbt_on_snowflake_spark.engine.unit_tests import run_unit_tests

    root = str(tmp_path / "proj")

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: utproj\n")
    write(f"{root}/models/models/pairs.sql",
          "SELECT a.id, a.v + b.v AS total FROM {{ ref('left_in') }} a "
          "JOIN {{ ref('right_in') }} b ON a.id = b.id")
    write(f"{root}/models/models/schema.yml",
          "unit_tests:\n"
          "  - name: ut_bad_expectation\n"
          "    model: pairs\n"
          "    given:\n"
          "      - input: ref('left_in')\n"
          "        rows: [{id: 1, v: 2}]\n"
          "      - input: ref('right_in')\n"
          "        rows: [{id: 1, v: 3}]\n"
          "    expect:\n"
          "      rows: [{id: 1, total: 99}]\n"
          "  - name: ut_unmocked_input\n"
          "    model: pairs\n"
          "    given:\n"
          "      - input: ref('left_in')\n"
          "        rows: [{id: 1, v: 2}]\n"
          "    expect:\n"
          "      rows: [{id: 1, total: 5}]\n")
    by = {
        r.name: r for r in run_unit_tests(spark, Project(root, target="dev"))
    }
    assert by["ut_bad_expectation"].status == "fail"
    assert "expected row(s) missing" in by["ut_bad_expectation"].message
    assert by["ut_unmocked_input"].status == "error"
    assert "right_in" in by["ut_unmocked_input"].message


def test_unit_test_vars_overrides(spark, tmp_path):
    """overrides: vars: layers test-local values over project vars when
    compiling the model under test."""
    from dbt_on_snowflake_spark.engine.unit_tests import run_unit_tests

    root = str(tmp_path / "proj")

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: utvars\nvars:\n  cutoff: 10\n")
    write(f"{root}/models/models/big.sql",
          "SELECT id FROM {{ ref('src_in') }} "
          "WHERE id > {{ var('cutoff') }}")
    write(f"{root}/models/models/schema.yml",
          "unit_tests:\n"
          "  - name: ut_default_var\n"
          "    model: big\n"
          "    given:\n"
          "      - input: ref('src_in')\n"
          "        rows: [{id: 5}, {id: 50}]\n"
          "    expect:\n"
          "      rows: [{id: 50}]\n"
          "  - name: ut_overridden_var\n"
          "    model: big\n"
          "    overrides: {vars: {cutoff: 1}}\n"
          "    given:\n"
          "      - input: ref('src_in')\n"
          "        rows: [{id: 5}, {id: 50}]\n"
          "    expect:\n"
          "      rows: [{id: 5}, {id: 50}]\n")
    by = {
        r.name: r for r in run_unit_tests(spark, Project(root, target="dev"))
    }
    assert by["ut_default_var"].status == "pass", by["ut_default_var"].message
    assert by["ut_overridden_var"].status == "pass", (
        by["ut_overridden_var"].message
    )


def test_yaml_contract_enforced(spark, tmp_path):
    """dbt-native YAML contracts (config: contract: enforced: true +
    per-column data_type): conforming model builds; drifted SELECT fails
    BEFORE writing with every offending column NAMED in the error."""
    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2], "v": [1.5, 2.5]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: ycontracts\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/cgood.sql",
          "SELECT id, v FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/cdrift.sql",
          "SELECT id, CAST(v AS STRING) AS v, 1 AS extra "
          "FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/schema.yml",
          "models:\n"
          "  - name: cgood\n"
          "    config: {contract: {enforced: true}}\n"
          "    columns:\n"
          "      - {name: id, data_type: bigint}\n"
          "      - {name: v, data_type: double}\n"
          "  - name: cdrift\n"
          "    config: {contract: {enforced: true}}\n"
          "    columns:\n"
          "      - {name: id, data_type: bigint}\n"
          "      - {name: v, data_type: double}\n")
    results = Runner(spark, Project(root, target="dev")).run()
    status = {r.name: r for r in results}
    assert status["cgood"].status == "success"
    assert status["cdrift"].status == "error"
    err = status["cdrift"].error
    assert "contract violation" in err
    assert "'v'" in err and "declared double" in err  # type drift named
    assert "'extra'" in err  # undeclared column named
    assert not os.path.isdir(
        Runner(spark, Project(root, target="dev"))._table_path("dev_cdrift")
    )


def test_yaml_contract_missing_data_type_rejected(tmp_path):
    """An enforced contract whose columns lack data_type fails at project
    load (dbt parse-time behavior), naming the columns."""
    import pytest as _pytest

    root = str(tmp_path / "proj")

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: badc\n")
    write(f"{root}/models/models/m.sql", "SELECT 1 AS id")
    write(f"{root}/models/models/schema.yml",
          "models:\n"
          "  - name: m\n"
          "    config: {contract: {enforced: true}}\n"
          "    columns:\n"
          "      - {name: id}\n")
    with _pytest.raises(ValueError, match="no data_type"):
        Project(root, target="dev")


def test_yaml_contract_outranks_on_schema_change(spark, tmp_path):
    """Incremental + contract interaction: on_schema_change:
    append_new_columns would absorb a new column, but an enforced
    contract is the outer guardrail — the drifted run errors and the
    previously materialized rows stay untouched."""
    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2], "v": [1.5, 2.5]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: icontracts\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    model = ("{{{{ config(materialized='incremental', unique_key='id', "
             "on_schema_change='append_new_columns') }}}}\n"
             "SELECT id, v{extra} FROM {{{{ source('raw', 't') }}}}")
    write(f"{root}/models/models/inc.sql", model.format(extra=""))
    write(f"{root}/models/models/schema.yml",
          "models:\n"
          "  - name: inc\n"
          "    config: {contract: {enforced: true}}\n"
          "    columns:\n"
          "      - {name: id, data_type: bigint}\n"
          "      - {name: v, data_type: double}\n")
    res1 = Runner(spark, Project(root, target="dev")).run()
    assert res1[0].status == "success"
    assert spark.table("dev_inc").count() == 2

    # drift the SELECT: on_schema_change would append, contract refuses
    write(f"{root}/models/models/inc.sql",
          model.format(extra=", 'x' AS surprise"))
    res2 = Runner(spark, Project(root, target="dev")).run()
    assert res2[0].status == "error"
    assert "surprise" in res2[0].error
    assert sorted(spark.table("dev_inc").columns) == ["id", "v"]
    assert spark.table("dev_inc").count() == 2


def test_pre_post_hooks_run_with_this_resolution(spark, tmp_path):
    """pre/post hooks execute around the materialization with {{ this }}
    resolved; the post hook sees the freshly materialized relation."""
    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)
    write(f"{root}/project.yml",
          "name: hooks\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n    tables:\n      - name: t\n")
    write(
        f"{root}/models/models/hooked.sql",
        "{{ config(pre_hook='CREATE OR REPLACE TEMPORARY VIEW hook_pre AS "
        "SELECT COUNT(*) AS n FROM src_raw_t', "
        "post_hook='CREATE OR REPLACE TEMPORARY VIEW hook_audit AS "
        "SELECT COUNT(*) AS n FROM {{ this }}') }}\n"
        "SELECT id FROM {{ source('raw', 't') }} WHERE id > 1",
    )
    results = Runner(spark, Project(root, target="dev")).run()
    assert results[0].status == "success"
    assert spark.table("hook_pre").collect()[0].n == 3
    assert spark.table("hook_audit").collect()[0].n == 2


def test_state_modified_selection(spark, tmp_path, capsys):
    """state:modified vs a stored manifest selects only changed models
    (+ descendants with a trailing +) — the CI rebuild-what-changed
    workflow."""
    from dbt_on_snowflake_spark.__main__ import main
    from dbt_on_snowflake_spark.engine.dag import select as dag_select

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(os.path.join(data, "t.parquet"), index=False)
    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)
    write(f"{root}/project.yml",
          "name: statesel\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n    tables:\n      - name: t\n")
    write(f"{root}/models/models/base.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/child.sql",
          "SELECT id FROM {{ ref('base') }}")
    write(f"{root}/models/models/unrelated.sql",
          "SELECT id, id * 2 AS twice FROM {{ source('raw', 't') }}")

    manifest = str(tmp_path / "manifest.json")
    rc = main(["compile", "--project", root, "--out", manifest])
    capsys.readouterr()
    assert rc == 0

    project = Project(root, target="dev")
    state = json.load(open(manifest))
    # nothing changed yet
    assert dag_select(project, "state:modified", state=state) == []

    # edit base -> state:modified selects base; + adds child; unrelated out
    write(f"{root}/models/models/base.sql",
          "SELECT id FROM {{ source('raw', 't') }} WHERE id > 0")
    project2 = Project(root, target="dev")
    assert dag_select(project2, "state:modified", state=state) == ["base"]
    assert dag_select(project2, "state:modified+", state=state) == ["base", "child"]

    # end-to-end through the CLI
    rc = main(["run", "--project", root, "--select", "state:modified+",
               "--state", manifest])
    out = capsys.readouterr().out
    assert rc == 0
    assert "dev_base" in out and "dev_child" in out and "dev_unrelated" not in out


def test_severity_warn_and_store_failures(tasty, spark):
    """dbt test config: severity/warn_if/error_if thresholds + persisting
    failing rows (dbt-core semantics: error_if first, then warn_if; a
    warn-level test never fails the invocation)."""
    project, runner, _t = tasty
    tr = TestRunner(spark)
    df = spark.createDataFrame([(1,), (None,), (None,)], "x int")

    tr._dispatch(df, "rel_x", "x",
                 {"not_null": {"config": {"severity": "warn"}}},
                 project, runner)
    assert (tr.results[-1].status, tr.results[-1].failures) == ("warn", 2)

    tr._dispatch(df, "rel_x", "x",
                 {"not_null": {"config": {"severity": "warn", "warn_if": ">5"}}},
                 project, runner)
    assert tr.results[-1].status == "pass"

    tr._dispatch(df, "rel_x", "x",
                 {"not_null": {"config": {"error_if": ">1"}}},
                 project, runner)
    assert tr.results[-1].status == "fail"

    # severity=error but error_if not met -> falls through to warn_if
    tr._dispatch(df, "rel_x", "x",
                 {"not_null": {"config": {"error_if": ">5"}}},
                 project, runner)
    assert tr.results[-1].status == "warn"

    tr._dispatch(df, "rel_x", "x",
                 {"not_null": {"config": {"store_failures": True}}},
                 project, runner)
    r = tr.results[-1]
    assert r.status == "fail"
    assert r.stored_relation == "rel_x__failures__not_null__x"
    stored = spark.table(r.stored_relation)
    assert stored.count() == 2 and stored.columns == ["x"]


def test_tag_and_exclude_selection(spark, tmp_path, capsys):
    """tag: selection + --exclude subtraction (dbt selection grammar; the
    reference cadence setup/task.sql:5 uses --select, dbt's full flow adds
    exclusion and tags)."""
    from dbt_on_snowflake_spark.__main__ import main
    from dbt_on_snowflake_spark.engine.dag import model_tags
    from dbt_on_snowflake_spark.engine.dag import select as dag_select

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: tagsel\nmodels:\n  staging:\n    materialized: view\n"
          "    tags: [staging]\n  marts:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/staging/stg_a.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/staging/stg_b.sql",
          "{{ config(tags='nightly') }}\nSELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/marts/mart.sql",
          "{{ config(tags='nightly,gold') }}\nSELECT a.id FROM {{ ref('stg_a') }} a "
          "JOIN {{ ref('stg_b') }} b ON a.id = b.id")

    project = Project(root, target="dev")
    assert model_tags(project, "stg_b") == {"staging", "nightly"}
    assert model_tags(project, "mart") == {"nightly", "gold"}

    # per-dir tag selects both staging models
    assert set(dag_select(project, "tag:staging")) == {"stg_a", "stg_b"}
    # tag selection pulls required ancestors of tagged models
    assert set(dag_select(project, "tag:gold")) == {"stg_a", "stg_b", "mart"}
    # exclusion resolves literally (no implicit ancestors) and subtracts
    assert set(dag_select(project, "tag:staging", exclude="stg_b")) == {"stg_a"}
    assert set(dag_select(project, None, exclude="stg_a+")) == {"stg_b"}
    # unknown tag -> empty selection, unknown model in exclude -> error
    assert dag_select(project, "tag:nope") == []
    with pytest.raises(ValueError, match="unknown model"):
        dag_select(project, "tag:staging", exclude="ghost")

    rc = main(["run", "--project", root, "--select", "tag:staging",
               "--exclude", "stg_b"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "stg_a" in out and "stg_b" not in out


def _mini_project(tmp_path, with_bad_seed=False):
    root = str(tmp_path / "seedproj")

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: seedproj\nmodels:\n  models:\n    materialized: table\n"
          "seeds:\n  rates:\n    column_types:\n      rate: double\n"
          + ("  broken:\n    column_types:\n      nope: int\n" if with_bad_seed else ""))
    write(f"{root}/seeds/rates.csv", "code,rate\nUS,1\nEU,2\n")
    if with_bad_seed:
        write(f"{root}/seeds/broken.csv", "a,b\n1,2\n")
        write(f"{root}/models/models/on_broken.sql",
              "SELECT * FROM {{ ref('broken') }}")
    write(f"{root}/models/models/on_rates.sql",
          "SELECT code, rate * 2 AS dbl FROM {{ ref('rates') }}")
    return root


def test_seed_column_types_pinned(spark, tmp_path):
    """Declared seeds.column_types cast explicitly (ADVICE: inferSchema
    drift); 'rate' infers int but is pinned double."""
    root = _mini_project(tmp_path)
    runner = Runner(spark, Project(root, target="dev"))
    assert runner.load_seeds() == set()
    assert dict(spark.table("dev_rates").dtypes)["rate"] == "double"


def test_seed_failure_isolated_and_selection_scoped(spark, tmp_path):
    """A bad seed records an error NodeResult; its dependents skip while
    siblings run (same isolation as models, ADVICE runner.py:179) — and a
    selection only loads the seeds it refs."""
    root = _mini_project(tmp_path, with_bad_seed=True)
    runner = Runner(spark, Project(root, target="dev"))
    results = runner.run()
    by = {r.name: r.status for r in results}
    assert by["broken"] == "error"        # isolated, not a crash
    assert by["on_broken"] == "skipped"   # dependent skipped
    assert by["rates"] == "success"       # sibling seed unaffected
    assert by["on_rates"] == "success"    # sibling model unaffected

    runner2 = Runner(spark, Project(root, target="dev"))
    results2 = runner2.run("on_rates")
    names = {r.name for r in results2}
    assert names == {"rates", "on_rates"}  # broken seed never loaded


def test_seed_model_name_collision_raises(spark, tmp_path):
    """A seed sharing a model's name would silently shadow it at ref()
    sites (resolve_ref checks seeds first) — rejected at discovery."""
    root = _mini_project(tmp_path)
    os.makedirs(f"{root}/models/models", exist_ok=True)
    open(f"{root}/models/models/rates.sql", "w").write("SELECT 1 AS x")
    with pytest.raises(ValueError, match="seed/model name collision"):
        Project(root, target="dev")


def test_state_modified_detects_seed_edits(spark, tmp_path):
    """Editing a seed CSV marks models ref'ing it as modified (per-seed
    manifest checksums, ADVICE artifacts.py:71)."""
    from dbt_on_snowflake_spark.engine.artifacts import build_manifest
    from dbt_on_snowflake_spark.engine.dag import select as dag_select

    root = _mini_project(tmp_path)
    manifest = build_manifest(Project(root, target="dev"))
    assert manifest["seeds"]["rates"]["checksum"]

    # unchanged -> nothing selected
    p2 = Project(root, target="dev")
    assert dag_select(p2, "state:modified", state=manifest) == []

    with open(f"{root}/seeds/rates.csv", "a") as f:
        f.write("JP,3\n")
    assert dag_select(p2, "state:modified", state=manifest) == ["on_rates"]


def _schema_yml_project(tmp_path, severity="error"):
    root = str(tmp_path / "buildproj")
    data = str(tmp_path / "builddata")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 2], "ref_id": [1, 1, 9]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: buildproj\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    # dims is an ancestor of base (the relationships `to:` target must
    # precede the tested model for build-time gating; see run_model_tests)
    write(f"{root}/models/models/base.sql",
          "SELECT t.id, t.ref_id FROM {{ source('raw', 't') }} t\n"
          "LEFT JOIN {{ ref('dims') }} d ON t.id = d.id")
    write(f"{root}/models/models/dims.sql",
          "SELECT DISTINCT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/child.sql",
          "SELECT id FROM {{ ref('base') }}")
    write(f"{root}/models/models/schema.yml", f"""
models:
  - name: base
    columns:
      - name: id
        tests:
          - unique:
              config:
                severity: {severity}
      - name: ref_id
        tests:
          - relationships:
              to: dims
              field: id
              config:
                severity: {severity}
""")
    return root


def test_model_yaml_tests_and_build_gating(spark, tmp_path, capsys):
    """schema.yml under models/ declares tests on MODELS; `build` tests
    each model as it lands and a failed test poisons descendants (dbt
    build semantics). relationships `to:` accepts a bare model name."""
    from dbt_on_snowflake_spark.__main__ import main
    from dbt_on_snowflake_spark.engine.testing import TestRunner

    root = _schema_yml_project(tmp_path)
    project = Project(root, target="dev")
    assert set(project.model_tests) == {"base"}

    # plain test command surface: model tests run and catch the dup + FK
    runner = Runner(spark, project)
    runner.run()
    tr = TestRunner(spark)
    res = tr.run_model_tests(project, runner)
    by = {(r.name, r.column): r for r in res}
    assert by[("unique", "id")].status == "fail"
    assert by[("unique", "id")].failures == 1  # one duplicated value
    assert by[("relationships", "ref_id")].status == "fail"  # ref_id 9

    rc = main(["build", "--project", root])
    out = capsys.readouterr().out
    assert rc == 1
    by_line = {l.split()[1] if l.startswith("skipped") else None
               for l in out.splitlines()}
    assert "error" not in out.split()  # models themselves all materialized
    # base built but failed its test -> child skipped, sibling dims built
    assert "skipped" in out and "dev_child" in out
    skipped_lines = [l for l in out.splitlines() if l.startswith("skipped")]
    assert len(skipped_lines) == 1 and "dev_child" in skipped_lines[0]

    # warn severity: same data, but the failure only warns -> child builds
    root2 = _schema_yml_project(tmp_path.joinpath("w"), severity="warn")
    rc2 = main(["build", "--project", root2])
    out2 = capsys.readouterr().out
    assert rc2 == 0
    assert "skipped" not in out2 and "warn " in out2


def test_unknown_model_in_schema_yml_raises(spark, tmp_path):
    root = _schema_yml_project(tmp_path)
    with open(f"{root}/models/models/schema.yml", "a") as f:
        f.write("  - name: ghost\n    tests: [unique]\n")
    with pytest.raises(ValueError, match="unknown model 'ghost'"):
        Project(root, target="dev")


def test_vars_project_cli_and_default(spark, tmp_path, capsys):
    """dbt vars: project.yml `vars:` defaults, CLI --vars override,
    in-template defaults via var('name', default); undefined var with no
    default is an error isolated to the node."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "varproj")
    data = str(tmp_path / "vardata")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: varproj\nvars:\n  cutoff: 2\n"
          "models:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/kept.sql",
          "SELECT id FROM {{ source('raw', 't') }} "
          "WHERE id > {{ var('cutoff') }} AND id <= {{ var('top', 99) }}")
    write(f"{root}/models/models/undefined.sql",
          "SELECT {{ var('missing') }} AS x")

    rc = main(["run", "--project", root])
    out = capsys.readouterr().out
    assert rc == 1  # `undefined` errors, isolated
    assert "error" in out and "dev_undefined" in out
    assert [r.id for r in spark.table("dev_kept").collect()] == [3]

    rc = main(["run", "--project", root, "--select", "kept",
               "--vars", "{cutoff: 0, top: 2}"])
    capsys.readouterr()
    assert rc == 0
    assert sorted(r.id for r in spark.table("dev_kept").collect()) == [1, 2]


def test_selector_yaml_named_selection(spark, tmp_path, capsys):
    """selectors.yml: named union/intersection/exclude definitions over
    the atom grammar, invoked via --selector on the CLI."""
    import os

    import pandas as pd

    from dbt_on_snowflake_spark.__main__ import main
    from dbt_on_snowflake_spark.engine.dag import select
    from dbt_on_snowflake_spark.engine.project import Project

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    os.makedirs(root)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    def w(rel, content):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content)

    w("project.yml", "name: seldemo\nmodels:\n  models:\n    materialized: view\n")
    w("sources.yml",
      f"sources:\n  - name: raw\n    base_path: \"{data}\"\n    tables:\n      - name: t\n")
    w("models/models/stg_a.sql",
      "{{ config(tags='nightly') }}\nSELECT id FROM {{ source('raw', 't') }}")
    w("models/models/stg_b.sql",
      "{{ config(tags='nightly') }}\nSELECT id FROM {{ source('raw', 't') }}")
    w("models/models/mart_a.sql",
      "{{ config(tags='nightly,broken') }}\nSELECT * FROM {{ ref('stg_a') }}")
    w("models/models/other.sql", "SELECT id FROM {{ source('raw', 't') }}")
    w("selectors.yml", """
selectors:
  - name: nightly_healthy
    description: nightly models minus the broken one
    definition:
      union:
        - "tag:nightly"
      exclude:
        - "tag:broken"
  - name: nightly_staging
    definition:
      intersection:
        - "tag:nightly"
        - "+stg_a,+stg_b"
""")
    project = Project(root, target="dev")
    assert select(project, "selector:nightly_healthy") == ["stg_a", "stg_b"]
    assert select(project, "selector:nightly_staging") == ["stg_a", "stg_b"]
    # unknown name is a config-time error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown selector"):
        select(project, "selector:nope")

    # CLI: --selector drives run; only the named set materializes
    rc = main(["run", "--project", root, "--selector", "nightly_healthy"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "dev_stg_a" in out and "dev_stg_b" in out
    assert "mart_a" not in out and "dev_other" not in out
    rc2 = main(["run", "--project", root,
                "--selector", "nightly_healthy", "--select", "other"])
    assert rc2 == 2


def test_exclude_only_scopes_seeds(spark, tmp_path):
    """--exclude without --select must not load seeds ref'd only by the
    excluded subtree: a malformed seed in a deliberately-excluded branch
    cannot fail the run (ADVICE runner.py:241)."""
    import os

    import pandas as pd

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1]}).to_parquet(os.path.join(data, "t.parquet"), index=False)

    def w(rel, content):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content)

    w("project.yml", "name: seedscope\nmodels:\n  models:\n    materialized: view\n")
    w("sources.yml",
      f"sources:\n  - name: raw\n    base_path: \"{data}\"\n    tables:\n      - name: t\n")
    w("seeds/broken_seed.csv", '"unterminated\n,,,,,\x00garbage')
    w("models/models/uses_broken.sql",
      "SELECT * FROM {{ ref('broken_seed') }}")
    w("models/models/healthy.sql",
      "SELECT id FROM {{ source('raw', 't') }}")

    res = Runner(spark, Project(root, target="dev")).run(exclude="uses_broken")
    status = {r.name: r.status for r in res}
    assert status == {"healthy": "success"}  # broken seed never loaded


def test_store_failures_unique_per_test_instance(spark, tmp_path):
    """Two table-level expression_is_true tests on one relation store
    their failing rows in DIFFERENT tables (ADVICE testing.py:200)."""
    import pandas as pd

    from dbt_on_snowflake_spark.engine.testing import TestConfig, TestRunner

    df = spark.createDataFrame(pd.DataFrame({"a": [1, -2, 3], "b": [0, 5, -9]}))
    df.createOrReplaceTempView("rel_dup")

    class _FakeProject:
        sources: dict = {}
        models: dict = {}
        seeds: dict = {}
        model_tests: dict = {}

    # reuse the real runner's write machinery against the session warehouse
    root = str(tmp_path / "p")
    os.makedirs(root)
    with open(os.path.join(root, "project.yml"), "w") as f:
        f.write("name: sf\nmodels: {}\n")
    runner = Runner(spark, Project(root, target="dev"))
    tr = TestRunner(spark)
    for expr in ("a > 0", "b > 0"):
        tr._dispatch(
            df, "rel_dup", None,
            {"expression_is_true": {
                "expression": expr,
                "config": {"store_failures": True},
            }},
            _FakeProject(), runner,
        )
    stored = [r.stored_relation for r in tr.results]
    assert len(set(stored)) == 2, stored  # distinct tables per instance
    assert all(s and s.startswith("rel_dup__failures__expression_is_true__")
               for s in stored)
    # each table holds ITS OWN failing rows
    n_a = spark.table(stored[0]).count()
    n_b = spark.table(stored[1]).count()
    assert (n_a, n_b) == (1, 2)


def test_relationships_to_validation_raises_config_error(spark, tmp_path):
    """Unknown and ephemeral `to:` targets fail at dispatch with a clear
    configuration error (ADVICE testing.py:280)."""
    import pandas as pd
    import pytest as _pytest

    from dbt_on_snowflake_spark.engine.testing import TestRunner

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1]}).to_parquet(os.path.join(data, "t.parquet"), index=False)

    def w(rel, content):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content)

    w("project.yml", "name: relval\nmodels:\n  models:\n    materialized: view\n")
    w("sources.yml",
      f"sources:\n  - name: raw\n    base_path: \"{data}\"\n    tables:\n      - name: t\n")
    w("models/models/eph.sql",
      "{{ config(materialized='ephemeral') }}\nSELECT id FROM {{ source('raw', 't') }}")
    project = Project(root, target="dev")
    runner = Runner(spark, project)
    runner.run()
    df = spark.table("src_raw_t")
    tr = TestRunner(spark)
    with _pytest.raises(ValueError, match="not a known model or seed"):
        tr._dispatch(df, "src_raw_t", "id",
                     {"relationships": {"to": "nope", "field": "id"}},
                     project, runner)
    with _pytest.raises(ValueError, match="ephemeral"):
        tr._dispatch(df, "src_raw_t", "id",
                     {"relationships": {"to": "eph", "field": "id"}},
                     project, runner)
    with _pytest.raises(ValueError, match="not a declared source"):
        tr._dispatch(df, "src_raw_t", "id",
                     {"relationships": {"to": "no.table", "field": "id"}},
                     project, runner)


def test_python_model_var_explicit_none_and_null_var(spark, tmp_path):
    """var('x', None) is a valid explicit default (sentinel, not
    `default is not None`), and a YAML null var renders as SQL NULL
    (ADVICE runner.py:62)."""
    import pandas as pd

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(os.path.join(data, "t.parquet"), index=False)

    def w(rel, content):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content)

    w("project.yml",
      "name: varnull\nvars:\n  nullable_thing: null\n"
      "models:\n  models:\n    materialized: table\n")
    w("sources.yml",
      f"sources:\n  - name: raw\n    base_path: \"{data}\"\n    tables:\n      - name: t\n")
    w("models/models/pymodel.py", """
def model(ctx, spark):
    assert ctx.var('missing_with_none_default', None) is None
    assert ctx.var('nullable_thing', 'unused') is None  # defined null wins
    return ctx.source('raw', 't')
""")
    w("models/models/sqlnull.sql",
      "SELECT id, {{ var('nullable_thing') }} AS maybe FROM {{ source('raw', 't') }}")

    res = Runner(spark, Project(root, target="dev")).run()
    assert {r.name: r.status for r in res} == {
        "pymodel": "success", "sqlnull": "success",
    }
    assert [r.maybe for r in spark.table("dev_sqlnull").collect()] == [None, None]


def test_on_run_start_end_hooks(spark, tmp_path):
    """Project-level on-run-start/on-run-end bracket the invocation: start
    hooks run before any node, end hooks run after all nodes (and still
    run when a start hook fails, which aborts the node builds)."""
    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: runhooks\n"
          "models:\n  models:\n    materialized: table\n"
          "on_run_start:\n"
          "  - CREATE OR REPLACE TEMPORARY VIEW run_started AS SELECT 1 AS ok\n"
          "on-run-end: CREATE OR REPLACE TEMPORARY VIEW run_ended AS\n"
          "  SELECT COUNT(*) AS n FROM dev_m\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/m.sql",
          "SELECT id FROM {{ source('raw', 't') }} WHERE id > 1")
    results = Runner(spark, Project(root, target="dev")).run()
    by = {r.name: r for r in results}
    assert by["on-run-start-0"].status == "success"
    assert by["on-run-start-0"].materialization == "hook"
    assert by["m"].status == "success"
    assert by["on-run-end-0"].status == "success"
    # the end hook saw the materialized model
    assert spark.table("run_ended").collect()[0].n == 2
    # hooks appear in order: start, nodes, end
    names = [r.name for r in results]
    assert names.index("on-run-start-0") < names.index("m") < names.index(
        "on-run-end-0"
    )


def test_failing_on_run_start_aborts_nodes_but_runs_end_hook(spark, tmp_path):
    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: runhooks2\n"
          "models:\n  models:\n    materialized: table\n"
          "on_run_start: SELECT * FROM this_table_does_not_exist\n"
          "on_run_end: CREATE OR REPLACE TEMPORARY VIEW cleanup_ran AS "
          "SELECT 1 AS ok\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/m2.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    results = Runner(spark, Project(root, target="dev")).run()
    by = {r.name: r for r in results}
    assert by["on-run-start-0"].status == "error"
    assert "m2" not in by  # no node built after the failed start hook
    assert by["on-run-end-0"].status == "success"
    assert spark.table("cleanup_ran").collect()[0].ok == 1


def test_retry_after_hook_aborted_run_retries_everything(
    spark, tmp_path, capsys
):
    """A run aborted by a failing on-run-start hook leaves run_results
    with ONLY hook entries (no node was built). `retry` must not report
    'nothing to retry' and exit 0 on that — it retries the full
    selection; once the hook is fixed, the chain converges green."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    good_yml = ("name: retryhooks\n"
                "models:\n  models:\n    materialized: table\n")
    write(f"{root}/project.yml",
          good_yml + "on_run_start: SELECT * FROM nope_not_a_table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/mr.sql",
          "SELECT id FROM {{ source('raw', 't') }}")

    assert main(["run", "--project", root]) == 1
    capsys.readouterr()
    # the aborted run's results hold only hook rows
    doc = json.load(open(f"{root}/target/run_results.json"))
    assert all(r["materialization"] == "hook" for r in doc["results"])

    # hook still broken: retry re-attempts (hook fails again) — exit 1,
    # NOT the former 'nothing to retry' exit 0
    assert main(["retry", "--project", root]) == 1
    out = capsys.readouterr().out
    assert "nothing to retry" not in out

    write(f"{root}/project.yml", good_yml)  # fix the hook
    assert main(["retry", "--project", root]) == 0
    capsys.readouterr()
    assert spark.table("dev_mr").count() == 2


def test_build_writes_run_results_for_retry(spark, tmp_path, capsys):
    """`build` refreshes target/run_results.json exactly like `run`, so
    a retry after a failed build operates on THAT build's failures, not
    a stale prior run."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: buildrr\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/mb.sql",
          "SELECT no_such_column FROM {{ source('raw', 't') }}")

    assert main(["build", "--project", root]) == 1
    capsys.readouterr()
    doc = json.load(open(f"{root}/target/run_results.json"))
    assert any(
        r["name"] == "mb" and r["status"] == "error" for r in doc["results"]
    )

    write(f"{root}/models/models/mb.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    assert main(["retry", "--project", root]) == 0
    capsys.readouterr()
    assert spark.table("dev_mb").count() == 2


def test_retry_after_test_only_build_failure(spark, tmp_path, capsys):
    """A build whose models all succeed but whose data test fails must
    be retryable: run_results records the command and test outcomes, so
    `retry` replays the BUILD path for the owning model (reused from
    disk, re-tested) instead of exiting 0 with 'nothing to retry'."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, -5]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: rtb\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/mt.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/schema.yml",
          "models:\n  - name: mt\n    columns:\n"
          "      - name: id\n        tests:\n"
          "          - accepted_range: {min_value: 0}\n")

    assert main(["build", "--project", root]) == 1  # test fails, model ok
    capsys.readouterr()
    doc = json.load(open(f"{root}/target/run_results.json"))
    assert doc["command"] == "build"
    assert any(t["status"] == "fail" for t in doc["tests"])
    assert all(r["status"] == "success" for r in doc["results"])

    # retry with the data still bad: replays build, test fails again
    assert main(["retry", "--project", root]) == 1
    out = capsys.readouterr().out
    assert "nothing to retry" not in out

    # fix the data: retry still fails — it REUSES the stale table and
    # only re-tests it (dbt retry semantics: successes are not rebuilt);
    # a fresh build rematerializes from the fixed source and goes green
    pd.DataFrame({"id": [1, 2, 5]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    assert main(["retry", "--project", root]) == 1
    capsys.readouterr()
    assert main(["build", "--project", root]) == 0
    capsys.readouterr()


def test_build_skips_models_with_failing_unit_tests(spark, tmp_path, capsys):
    """dbt build: a model whose unit test fails is SKIPPED (it must not
    overwrite good data with provably-broken logic) and its descendants
    skip with it; --select scoping keeps an unrelated model's failing
    unit test from poisoning a selected build."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: utskip\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/broken.sql",
          "SELECT id * 2 AS id2 FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/child_of_broken.sql",
          "SELECT id2 FROM {{ ref('broken') }}")
    write(f"{root}/models/models/fine.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/schema.yml",
          "unit_tests:\n"
          "  - name: ut_broken_logic\n"
          "    model: broken\n"
          "    given:\n"
          "      - input: ref(...)\n")  # placeholder, rewritten below
    write(f"{root}/models/models/schema.yml",
          "unit_tests:\n"
          "  - name: ut_broken_logic\n"
          "    model: broken\n"
          "    given:\n"
          "      - input: source('raw', 't')\n"
          "        rows: [{id: 3}]\n"
          "    expect:\n"
          "      rows: [{id2: 999}]\n")  # wrong on purpose

    assert main(["build", "--project", root]) == 1
    out = capsys.readouterr().out
    doc = json.load(open(f"{root}/target/run_results.json"))
    by = {r["name"]: r["status"] for r in doc["results"]}
    assert by["broken"] == "skipped"
    assert by["child_of_broken"] == "skipped"
    assert by["fine"] == "success"
    assert "fail" in out and "ut_broken_logic" in out

    # scoped build of the unrelated model: the broken unit test is out
    # of scope and must not fail the invocation
    assert main(["build", "--project", root, "--select", "fine"]) == 0
    capsys.readouterr()


def test_unit_test_empty_expect_and_typed_schema(spark, tmp_path):
    """expect: rows: [] asserts zero output rows; a parametrized mock
    schema (decimal(10,2)) parses; None-vs-value ties in the row sort
    don't crash the comparison."""
    from dbt_on_snowflake_spark.engine.unit_tests import run_unit_tests

    root = str(tmp_path / "proj")

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: utedge\n")
    write(f"{root}/models/models/filt.sql",
          "SELECT id, price FROM {{ ref('src_in') }} WHERE price > 100")
    write(f"{root}/models/models/nulls.sql",
          "SELECT grp, v FROM {{ ref('nsrc') }}")
    write(f"{root}/models/models/schema.yml",
          "unit_tests:\n"
          "  - name: ut_filter_rejects_all\n"
          "    model: filt\n"
          "    given:\n"
          "      - input: ref('src_in')\n"
          "        schema: \"id bigint, price decimal(10,2)\"\n"
          "        rows: [{id: 1, price: 5.50}, {id: 2, price: 99.99}]\n"
          "    expect:\n"
          "      rows: []\n"
          "  - name: ut_null_tie_sort\n"
          "    model: nulls\n"
          "    given:\n"
          "      - input: ref('nsrc')\n"
          "        rows: [{grp: 1, v: null}, {grp: 1, v: 2}]\n"
          "    expect:\n"
          "      rows: [{grp: 1, v: 2}, {grp: 1, v: null}]\n")
    by = {
        r.name: r for r in run_unit_tests(spark, Project(root, target="dev"))
    }
    assert by["ut_filter_rejects_all"].status == "pass", (
        by["ut_filter_rejects_all"].message
    )
    assert by["ut_null_tie_sort"].status == "pass", (
        by["ut_null_tie_sort"].message
    )


def test_state_modified_detects_schema_yml_edits(spark, tmp_path):
    """state:modified treats a schema.yml contract/test edit as a
    modification (dbt semantics: the model's guarantees changed), not
    just a body edit."""
    from dbt_on_snowflake_spark.engine.artifacts import build_manifest
    from dbt_on_snowflake_spark.engine.dag import modified_models

    root = str(tmp_path / "proj")

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: smy\n")
    write(f"{root}/models/models/m.sql", "SELECT 1 AS id")
    write(f"{root}/models/models/schema.yml",
          "models:\n  - name: m\n    columns:\n"
          "      - name: id\n        tests: [not_null]\n")
    manifest = build_manifest(Project(root, target="dev"))

    # unchanged project: nothing modified
    assert modified_models(Project(root, target="dev"), manifest) == set()

    # tighten the declaration only — the body is untouched
    write(f"{root}/models/models/schema.yml",
          "models:\n  - name: m\n"
          "    config: {contract: {enforced: true}}\n"
          "    columns:\n"
          "      - {name: id, data_type: int, tests: [not_null]}\n")
    assert modified_models(Project(root, target="dev"), manifest) == {"m"}


def test_retry_replays_prior_flags(spark, tmp_path, capsys):
    """`retry` replays the prior invocation's FLAGS, not just its
    subcommand: a hook-aborted `run --select a --vars 'x: 5'` retried
    bare rebuilds ONLY model a (not the whole project) and with the
    recorded vars — dbt retry semantics."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    good_yml = ("name: retryflags\n"
                "models:\n  models:\n    materialized: table\n")
    write(f"{root}/project.yml",
          good_yml + "on_run_start: SELECT * FROM nope_not_a_table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/fa.sql",
          "SELECT id, {{ var('x') }} AS v FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/fb.sql",
          "SELECT id FROM {{ source('raw', 't') }}")

    assert main(["run", "--project", root, "--select", "fa",
                 "--vars", "x: 5"]) == 1
    capsys.readouterr()
    doc = json.load(open(f"{root}/target/run_results.json"))
    assert doc["args"]["select"] == "fa" and doc["args"]["vars"] == {"x": 5}

    write(f"{root}/project.yml", good_yml)  # fix the hook
    assert main(["retry", "--project", root]) == 0  # NO flags passed
    capsys.readouterr()
    # prior --select restored: fa built (with the recorded var), fb not
    assert [r.v for r in spark.table("dev_fa").select("v").collect()] == [5, 5]
    assert not os.path.isdir(
        os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
            "dev_fb",
        )
    )
    # the retry re-records its effective args for chained retries
    doc2 = json.load(open(f"{root}/target/run_results.json"))
    assert doc2["args"]["select"] == "fa" and doc2["args"]["vars"] == {"x": 5}


def test_state_modified_warns_on_checksum_scheme_change(
    spark, tmp_path, capsys
):
    """Diffing against a manifest written under an older checksum scheme
    flags everything once — but says so on stderr instead of silently
    selecting the whole project (the scheme version is recorded in every
    manifest this engine writes)."""
    from dbt_on_snowflake_spark.engine.artifacts import (
        CHECKSUM_VERSION,
        build_manifest,
    )
    from dbt_on_snowflake_spark.engine.dag import modified_models

    from dbt_on_snowflake_spark.engine.artifacts import _file_checksum

    root = str(tmp_path / "proj")
    os.makedirs(f"{root}/models/models")
    open(f"{root}/project.yml", "w").write("name: csv2\n")
    open(f"{root}/models/models/m.sql", "w").write("SELECT 1 AS id")
    open(f"{root}/models/models/schema.yml", "w").write(
        "models:\n  - name: m\n    columns:\n"
        "      - name: id\n        tests: [not_null]\n"
    )
    project = Project(root, target="dev")
    manifest = build_manifest(project)
    assert manifest["checksum_version"] == CHECKSUM_VERSION

    # same-version manifest: clean diff, no warning
    assert modified_models(project, manifest) == set()
    assert "checksum scheme" not in capsys.readouterr().err

    # a true v1-era manifest: no version field, file-bytes-only checksums
    legacy = json.loads(json.dumps(manifest))
    del legacy["checksum_version"]
    legacy["nodes"]["m"]["checksum"] = _file_checksum(
        f"{root}/models/models/m.sql"
    )
    assert modified_models(project, legacy) == {"m"}
    assert "checksum scheme v1" in capsys.readouterr().err


def test_test_summary_counts_unit_tests(spark, tmp_path, capsys):
    """The `test` summary line counts unit tests in both numerator and
    denominator: 1 passing data test + 1 failing unit test prints
    '1/2 tests passed', not the understated '0/1'."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: sumt\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/sm.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/schema.yml",
          "models:\n  - name: sm\n    columns:\n"
          "      - name: id\n        tests: [not_null]\n")
    write(f"{root}/models/models/unit_tests.yml",
          "unit_tests:\n"
          "  - name: ut_wrong_expectation\n"
          "    model: sm\n"
          "    given:\n"
          "      - input: source('raw', 't')\n"
          "        rows: [{id: 1}]\n"
          "    expect:\n"
          "      rows: [{id: 99}]\n")

    assert main(["test", "--project", root]) == 1
    out = capsys.readouterr().out
    assert "1/2 tests passed" in out, out


def _governance_project(tmp_path, access_line="    access: private\n",
                        downstream_group="    group: finance\n"):
    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data, exist_ok=True)
    pd.DataFrame({"id": [1]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: gov\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/base.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/consumer.sql",
          "SELECT id FROM {{ ref('base') }}")
    write(f"{root}/models/models/schema.yml",
          "groups:\n"
          "  - name: finance\n"
          "    owner: {name: fin-team, email: fin@example.com}\n"
          "  - name: growth\n"
          "    owner: {name: growth-team}\n"
          "models:\n"
          "  - name: base\n"
          "    group: finance\n"
          + access_line +
          "  - name: consumer\n"
          + downstream_group)
    return root


def test_private_model_ref_requires_same_group(spark, tmp_path):
    """access: private — a ref from a model in another group (or no
    group) is rejected at parse time; the same group passes."""
    import pytest

    root = _governance_project(
        tmp_path, downstream_group="    group: growth\n"
    )
    with pytest.raises(ValueError, match="cannot ref private model"):
        Project(root, target="dev")

    root2 = _governance_project(
        tmp_path / "ok", downstream_group="    group: finance\n"
    )
    p = Project(root2, target="dev")
    assert p.model_group == {"base": "finance", "consumer": "finance"}
    assert p.model_access == {"base": "private"}


def test_private_access_requires_group_and_known_group(spark, tmp_path):
    import pytest

    root = _governance_project(tmp_path, downstream_group="")
    # rewrite schema.yml: private without any group
    open(f"{root}/models/models/schema.yml", "w").write(
        "models:\n  - name: base\n    access: private\n"
    )
    with pytest.raises(ValueError, match="private but has no group"):
        Project(root, target="dev")

    open(f"{root}/models/models/schema.yml", "w").write(
        "models:\n  - name: base\n    group: nope\n"
    )
    with pytest.raises(ValueError, match="no such group"):
        Project(root, target="dev")


def test_group_selector_and_manifest_governance(spark, tmp_path):
    """group:<name> selects the group's members (+ ancestors implicitly);
    the manifest records groups and per-node group/access."""
    from dbt_on_snowflake_spark.engine.artifacts import build_manifest
    from dbt_on_snowflake_spark.engine.dag import select as dag_select

    root = _governance_project(
        tmp_path,
        access_line="    access: public\n",
        downstream_group="    group: growth\n",
    )
    p = Project(root, target="dev")
    assert dag_select(p, "group:finance") == ["base"]
    assert dag_select(p, "group:growth") == ["base", "consumer"]  # +ancestor
    man = build_manifest(p)
    assert man["groups"]["finance"]["owner"]["name"] == "fin-team"
    assert man["nodes"]["base"]["access"] == "public"
    assert man["nodes"]["consumer"]["group"] == "growth"
    assert man["nodes"]["consumer"]["access"] == "protected"


def test_protected_model_blocks_cross_package_ref(spark, tmp_path):
    """A package that sets restrict-access: true (dbt's opt-in) blocks
    cross-package refs to its protected models; declaring the model
    public re-opens it. Package membership comes from the model's
    originating package dir."""
    import pytest

    root = str(tmp_path / "proj")
    pkg = str(tmp_path / "pkg")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{pkg}/project.yml", "name: libpkg\nrestrict-access: true\n")
    write(f"{pkg}/models/shared/util_model.sql", "SELECT 1 AS one")
    write(f"{root}/project.yml",
          f"name: gov2\npackages:\n  - {pkg}\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/uses_pkg.sql",
          "SELECT one FROM {{ ref('util_model') }}")
    with pytest.raises(ValueError, match="protected model"):
        Project(root, target="dev")

    # the package (or the consumer project) declares it public -> allowed
    write(f"{root}/models/models/schema.yml",
          "models:\n  - name: util_model\n    access: public\n")
    p = Project(root, target="dev")
    assert p.models["util_model"].package == "libpkg"
    assert p.models["uses_pkg"].package == ""


def test_model_versions_ref_resolution(spark, tmp_path, capsys):
    """dbt model versions: ref('m') builds against the LATEST version,
    ref('m', v=1) pins the old one; both versions materialize as their
    own nodes; the yml tests/contract apply to every version; the
    manifest records the version map."""
    from dbt_on_snowflake_spark.__main__ import main
    from dbt_on_snowflake_spark.engine.artifacts import build_manifest

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: verp\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/dim_v1.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/dim_v2.sql",
          "SELECT id, id * 10 AS id10 FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/latest_user.sql",
          "SELECT * FROM {{ ref('dim') }}")
    write(f"{root}/models/models/pinned_user.sql",
          "SELECT * FROM {{ ref('dim', v=1) }}")
    write(f"{root}/models/models/schema.yml",
          "models:\n"
          "  - name: dim\n"
          "    latest_version: 2\n"
          "    versions: [{v: 1}, {v: 2}]\n"
          "    columns:\n"
          "      - name: id\n        tests: [not_null]\n")

    p = Project(root, target="dev")
    assert p.version_alias == {"dim": "dim_v2"}
    assert set(p.model_tests) >= {"dim_v1", "dim_v2"}
    man = build_manifest(p)
    assert man["versions"]["dim"] == {
        "latest": "dim_v2",
        "versions": {"1": "dim_v1", "2": "dim_v2"},
    }

    assert main(["run", "--project", root]) == 0
    capsys.readouterr()
    assert spark.table("dev_latest_user").columns == ["id", "id10"]
    assert spark.table("dev_pinned_user").columns == ["id"]


def test_model_versions_validation(spark, tmp_path):
    import pytest

    root = str(tmp_path / "proj")

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: verv\n")
    write(f"{root}/models/models/m_v1.sql", "SELECT 1 AS id")
    write(f"{root}/models/models/schema.yml",
          "models:\n  - name: m\n    versions: [{v: 1}, {v: 2}]\n")
    with pytest.raises(ValueError, match="m_v2.sql does not exist"):
        Project(root, target="dev")

    write(f"{root}/models/models/schema.yml",
          "models:\n  - name: m\n    latest_version: 3\n"
          "    versions: [{v: 1}]\n")
    with pytest.raises(ValueError, match="latest_version 3"):
        Project(root, target="dev")

    write(f"{root}/models/models/m.sql", "SELECT 2 AS id")
    write(f"{root}/models/models/schema.yml",
          "models:\n  - name: m\n    versions: [{v: 1}]\n")
    with pytest.raises(ValueError, match="collides with an unversioned"):
        Project(root, target="dev")


def test_clone_copies_state_relations_into_target(spark, tmp_path, capsys):
    """`clone --state prod_manifest --target dev` makes prod's
    table-backed relations readable in dev without recomputing; views
    are skipped (no storage). r9: table-format sources clone ZERO-COPY —
    the dev manifest points at prod's committed (immutable) data dir —
    so isolation comes from immutability: a later prod REBUILD commits a
    new prod version while dev keeps serving the cloned one."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: clonep\nmodels:\n  models:\n    materialized: table\n"
          "  views:\n    materialized: view\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/mt.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/views/mv.sql",
          "SELECT id FROM {{ ref('mt') }}")

    # hermetic start: clear any prod_mt/dev_mt leftovers a previous
    # pytest session left in the shared warehouse (the zero-copy
    # assertions below inspect the dev root's on-disk layout)
    import shutil

    wh0 = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for rel in ("prod_mt", "dev_mt"):
        shutil.rmtree(os.path.join(wh0, rel), ignore_errors=True)
        spark.catalog.dropTempView(rel)

    # build prod + record its manifest
    assert main(["run", "--project", root, "--target", "prod"]) == 0
    assert main(["compile", "--project", root, "--target", "prod",
                 "--out", f"{root}/prod_manifest.json"]) == 0
    capsys.readouterr()

    assert main(["clone", "--project", root, "--target", "dev",
                 "--state", f"{root}/prod_manifest.json"]) == 0
    out = capsys.readouterr().out
    assert "cloned  prod_mt -> dev_mt (zero-copy)" in out
    assert "1 cloned" in out and "skipped" in out
    assert sorted(r.id for r in spark.table("dev_mt").collect()) == [1, 2, 3]

    from dbt_on_snowflake_spark.engine import table_format as tf

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # ZERO-copy: dev's manifest points at prod's committed dir; no
    # parquet landed under the dev root
    dev_root = os.path.join(wh, "dev_mt")
    assert tf.data_path(spark, dev_root) == tf.data_path(
        spark, os.path.join(wh, "prod_mt")
    )
    local = [n for n in os.listdir(dev_root) if n.startswith("d-")]
    assert local == []

    # isolation via immutability: a prod REBUILD commits a new prod
    # version; dev keeps serving the version it cloned
    pd.DataFrame({"id": [1, 2, 3, 99]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    assert main(["run", "--project", root, "--target", "prod",
                 "--select", "mt"]) == 0
    capsys.readouterr()
    assert sorted(r.id for r in spark.table("prod_mt").collect()) == [
        1, 2, 3, 99,
    ]
    dev_data = tf.data_path(spark, dev_root)
    assert sorted(
        r.id for r in spark.read.parquet(dev_data).collect()
    ) == [1, 2, 3]


def test_run_operation_executes_macro(spark, tmp_path, capsys):
    """`run-operation` renders one macro (shared namespace with models,
    ref/source/vars resolution) and executes its statements — the dbt
    maintenance entry point."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: opp\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/m.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/macros/count_source.sql",
          "{% macro count_source(floor) %}\n"
          "SELECT COUNT(*) AS n FROM {{ source('raw', 't') }} "
          "WHERE id >= {{ floor }}\n"
          "{% endmacro %}\n")

    assert main(["run-operation", "count_source", "--project", root,
                 "--op-args", "floor: 2"]) == 0
    out = capsys.readouterr().out
    assert "{'n': 2}" in out and "ran macro count_source" in out

    assert main(["run-operation", "nope", "--project", root]) == 2


def test_versioned_ref_failure_propagation_and_threaded_ordering(
    spark, tmp_path, capsys
):
    """A failed versioned model skips consumers that ref it BARE (the
    alias resolves before failure propagation), in both the serial and
    the threaded scheduler."""
    from dbt_on_snowflake_spark.__main__ import main

    for threads in ("1", "2"):
        root = str(tmp_path / f"proj{threads}")

        def write(p, c):
            os.makedirs(os.path.dirname(p), exist_ok=True)
            open(p, "w").write(c)

        write(f"{root}/project.yml",
              "name: vfail\nmodels:\n  models:\n    materialized: table\n")
        write(f"{root}/models/models/dim_v1.sql", "SELECT 1 AS id")
        write(f"{root}/models/models/dim_v2.sql",
              "SELECT * FROM definitely_not_a_table")
        write(f"{root}/models/models/use_latest.sql",
              "SELECT * FROM {{ ref('dim') }}")
        write(f"{root}/models/models/schema.yml",
              "models:\n  - name: dim\n    versions: [{v: 1}, {v: 2}]\n")

        assert main(["run", "--project", root, "--threads", threads]) == 1
        out = capsys.readouterr().out
        # the consumer was SKIPPED because its aliased upstream failed —
        # not errored by racing ahead of it
        line = next(l for l in out.splitlines() if "use_latest" in l)
        assert line.startswith("skipped"), (threads, line)


def test_fail_fast_skips_independent_branches(spark, tmp_path, capsys):
    """--fail-fast: the first failure stops scheduling — an INDEPENDENT
    sibling that would normally still build records skipped instead, in
    both schedulers; without the flag the sibling builds."""
    from dbt_on_snowflake_spark.__main__ import main

    def setup(root):
        def write(p, c):
            os.makedirs(os.path.dirname(p), exist_ok=True)
            open(p, "w").write(c)

        write(f"{root}/project.yml",
              "name: ffp\nmodels:\n  models:\n    materialized: table\n")
        # names chosen so the broken model sorts/schedules first
        write(f"{root}/models/models/a_broken.sql",
              "SELECT * FROM definitely_not_a_table")
        write(f"{root}/models/models/z_independent.sql", "SELECT 1 AS id")

    root1 = str(tmp_path / "p1")
    setup(root1)
    assert main(["run", "--project", root1, "--fail-fast"]) == 1
    out = capsys.readouterr().out
    line = next(l for l in out.splitlines() if "z_independent" in l)
    assert line.startswith("skipped"), line

    root2 = str(tmp_path / "p2")
    setup(root2)
    assert main(["run", "--project", root2]) == 1  # no flag: sibling builds
    out = capsys.readouterr().out
    line = next(l for l in out.splitlines() if "z_independent" in l)
    assert line.startswith("success"), line


def test_ls_selection_resource_types_and_annotations(spark, tmp_path, capsys):
    """ls honors --select, lists non-model resources via --resource-type,
    and annotates governance + versions."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml", "name: lsp\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/dim_v1.sql", "SELECT 1 AS id")
    write(f"{root}/models/models/dim_v2.sql", "SELECT 2 AS id")
    write(f"{root}/models/models/other.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/schema.yml",
          "groups:\n  - name: core\n    owner: {name: team}\n"
          "models:\n"
          "  - name: dim\n    versions: [{v: 1}, {v: 2}]\n"
          "    group: core\n    access: public\n")
    write(f"{root}/seeds/lookup.csv", "k,v\n1,a\n")

    assert main(["ls", "--project", root]) == 0
    out = capsys.readouterr().out
    assert "dim_v2  [group=core access=public version=dim.latest]" in out
    assert "dim_v1  [group=core access=public version=dim.v1]" in out

    assert main(["ls", "--project", root, "--select", "other"]) == 0
    out = capsys.readouterr().out
    assert "other" in out and "dim_v1" not in out

    assert main(["ls", "--project", root, "--resource-type", "all"]) == 0
    out = capsys.readouterr().out
    assert "seed   lookup" in out and "source raw.t" in out


def test_show_inline_and_model_preview(spark, tmp_path, capsys):
    """`show` previews inline SQL and model bodies with ref/source
    resolution, materializing nothing beyond the preview's needs."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: showp\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/sm.sql",
          "SELECT id * 2 AS twice FROM {{ source('raw', 't') }}")

    assert main(["show", "--project", root, "--inline",
                 "SELECT COUNT(*) AS n FROM {{ source('raw', 't') }}"]) == 0
    out = capsys.readouterr().out
    assert "n" in out and "3" in out

    assert main(["show", "--project", root, "--select", "sm",
                 "--limit", "2"]) == 0
    out = capsys.readouterr().out
    assert "twice" in out and "(2 row(s) shown)" in out

    assert main(["show", "--project", root]) == 2


def test_token_count_model_config_flips_counting_scheme(spark, tmp_path):
    """config(token_count='bpe') flips a token-keyed model from the
    whitespace proxy to faithful BPE counts WITHOUT editing operator
    calls: the same model body materializes both ways, differing only in
    its ctx.config line, and each matches the scheme computed directly."""
    import pandas as pd

    from dbt_on_snowflake_spark.engine.project import Project
    from dbt_on_snowflake_spark.engine.runner import Runner
    from dbt_on_snowflake_spark.operators.textops import token_count_column

    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["the cat sat", "hello world hello", "a bb ccc dddd"],
        }
    ).to_parquet(os.path.join(data, "docs.parquet"), index=False)

    body = """
def model(ctx, spark):
    {config_line}
    d = ctx.source("raw", "docs")
    return d.select(
        "doc_id", ctx.token_count_col("text").alias("n_tokens")
    )
"""

    def build(tag, config_line):
        root = str(tmp_path / f"proj_{tag}")
        os.makedirs(f"{root}/models/models", exist_ok=True)
        with open(f"{root}/project.yml", "w") as f:
            f.write(f"name: tok_{tag}\nmodels:\n  models:\n"
                    "    materialized: table\n")
        with open(f"{root}/sources.yml", "w") as f:
            f.write(f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
                    "    tables:\n      - name: docs\n")
        with open(f"{root}/models/models/counts.py", "w") as f:
            f.write(body.format(config_line=config_line))
        runner = Runner(spark, Project(root, target=tag))
        assert runner.run()[0].status == "success"
        return {
            r.doc_id: r.n_tokens
            for r in spark.table(f"{tag}_counts").collect()
        }

    ws = build("ws", "pass")
    bpe = build("bpe", "ctx.config(token_count='bpe')")

    docs = spark.read.parquet(os.path.join(data, "docs.parquet"))
    expect_ws = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", token_count_column("whitespace", "text").alias("n")
        ).collect()
    }
    expect_bpe = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", token_count_column("bpe", "text").alias("n")
        ).collect()
    }
    assert ws == expect_ws
    assert bpe == expect_bpe
    assert ws != bpe  # the schemes genuinely differ on this data


def test_retry_replays_target_and_threads(spark, tmp_path, capsys):
    """A failed `run --target prod` retried BARE rebuilds into prod's
    namespace — without target replay the retry would build the failing
    nodes into the default target and report success (dbt retry reuses
    the full prior invocation, target included)."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: retrytgt\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/rt.sql",
          "SELECT id, {{ var('y') }} AS v FROM {{ source('raw', 't') }}")

    # fails: var y undefined; recorded under --target prod --threads 2
    assert main(["run", "--project", root, "--target", "prod",
                 "--threads", "2"]) == 1
    capsys.readouterr()
    doc = json.load(open(f"{root}/target/run_results.json"))
    assert doc["args"]["target"] == "prod" and doc["args"]["threads"] == 2

    # bare retry with the var supplied: must build prod_rt, NOT dev_rt
    assert main(["retry", "--project", root, "--vars", "y: 7"]) == 0
    capsys.readouterr()
    assert sorted(r.v for r in spark.table("prod_rt").collect()) == [7, 7]
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert not os.path.isdir(os.path.join(wh, "dev_rt"))
    doc2 = json.load(open(f"{root}/target/run_results.json"))
    assert doc2["args"]["target"] == "prod"  # chained retries keep it


def test_show_select_previews_without_materializing(spark, tmp_path, capsys):
    """dbt show compiles + previews: the selected model itself must NOT
    be materialized (a `show --select mart --target prod` must not write
    prod); its ancestor closure is built so refs resolve."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    data = str(tmp_path / "data")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )

    def write(p, c):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write(c)

    write(f"{root}/project.yml",
          "name: showsel\nmodels:\n  models:\n    materialized: table\n")
    write(f"{root}/sources.yml",
          f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
          "    tables:\n      - name: t\n")
    write(f"{root}/models/models/base.sql",
          "SELECT id FROM {{ source('raw', 't') }}")
    write(f"{root}/models/models/mart.sql",
          "SELECT id * 10 AS out_id FROM {{ ref('base') }}")

    assert main(["show", "--project", root, "--select", "mart"]) == 0
    out = capsys.readouterr().out
    assert "out_id" in out and "10" in out
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert os.path.isdir(os.path.join(wh, "dev_base"))  # ancestor built
    assert not os.path.isdir(os.path.join(wh, "dev_mart"))  # preview only


def test_selector_resolves_versioned_base_name(spark, tmp_path):
    """`--select dim` (and graph forms like +dim) must work for a
    versioned model: the base name aliases to the latest version's node,
    exactly as ref('dim') does."""
    from dbt_on_snowflake_spark.engine.dag import select as dag_select

    root = str(tmp_path / "proj")
    os.makedirs(f"{root}/models/models", exist_ok=True)
    open(f"{root}/project.yml", "w").write(
        "name: vsel\nmodels:\n  models:\n    materialized: table\n"
    )
    open(f"{root}/models/models/dim_v1.sql", "w").write("SELECT 1 AS id")
    open(f"{root}/models/models/dim_v2.sql", "w").write(
        "SELECT 1 AS id, 'x' AS extra"
    )
    open(f"{root}/models/models/schema.yml", "w").write(
        "models:\n  - name: dim\n    versions: [{v: 1}, {v: 2}]\n"
    )
    open(f"{root}/models/models/consumer.sql", "w").write(
        "SELECT id FROM {{ ref('dim') }}"
    )
    project = Project(root, target="dev")
    assert set(dag_select(project, "dim")) == {"dim_v2"}
    assert set(dag_select(project, "+consumer")) == {"dim_v2", "consumer"}
    assert "consumer" in set(dag_select(project, "dim+"))


def test_package_side_yml_declares_access_and_versions(spark, tmp_path):
    """A package's OWN schema.yml can declare its models public (and
    versioned): under restrict-access, package-side yml is the one place
    that can open a model to cross-package refs — dbt honors it."""
    pkg = str(tmp_path / "pkg")
    os.makedirs(f"{pkg}/models", exist_ok=True)
    open(f"{pkg}/project.yml", "w").write(
        "name: libpkg\nrestrict-access: true\n"
    )
    open(f"{pkg}/models/util_v1.sql", "w").write("SELECT 1 AS id")
    open(f"{pkg}/models/util_v2.sql", "w").write("SELECT 2 AS id")
    open(f"{pkg}/models/schema.yml", "w").write(
        "models:\n  - name: util\n    access: public\n"
        "    versions: [{v: 1}, {v: 2}]\n"
    )

    root = str(tmp_path / "proj")
    os.makedirs(f"{root}/models/models", exist_ok=True)
    open(f"{root}/project.yml", "w").write(
        "name: consumerproj\npackages: ['" + pkg + "']\n"
        "models:\n  models:\n    materialized: table\n"
    )
    open(f"{root}/models/models/uses_util.sql", "w").write(
        "SELECT id FROM {{ ref('util') }}"
    )
    project = Project(root, target="dev")
    # package yml was honored: version alias + public access
    assert project.version_alias.get("util") == "util_v2"
    assert project.model_access.get("util_v2") == "public"
    runner = Runner(spark, project)
    results = runner.run("+uses_util")
    status = {r.name: r.status for r in results}
    assert status.get("uses_util") == "success"
    assert sorted(r.id for r in spark.table("dev_uses_util").collect()) == [2]


def test_curation_pipeline_dag_end_to_end(spark, tmp_path):
    """The LLM-data-curation pipeline AS AN ENGINE DAG: documents source
    -> hashed-linear quality gate -> exact dedup -> per-language token
    accounting, three Python models materialized through the normal
    runner (view -> table -> table). Pins that the operator library and
    the dbt-style engine compose: a user curates corpora with ref()/
    source() models, not hand-wired scripts. Expectations are computed
    directly on the same parquet with the same column helpers."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dbt_on_snowflake_spark.engine.project import Project
    from dbt_on_snowflake_spark.engine.runner import Runner
    from dbt_on_snowflake_spark.operators.textops import quality_score

    sf_dir = "/root/testdata/sf0.001"
    root = str(tmp_path / "curation")
    os.makedirs(f"{root}/models/pipeline", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write(
            "name: curation\nmodels:\n  pipeline:\n    materialized: table\n"
        )
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{sf_dir}\"\n"
            "    tables:\n      - name: documents\n"
        )
    with open(f"{root}/models/pipeline/kept_docs.py", "w") as f:
        f.write(
            "from dbt_on_snowflake_spark.operators.textops import quality_score\n"
            "def model(ctx, spark):\n"
            "    ctx.config(materialized='view')\n"
            "    d = ctx.source('raw', 'documents')\n"
            "    return d.filter(quality_score('text') > 0)\n"
        )
    with open(f"{root}/models/pipeline/unique_docs.py", "w") as f:
        f.write(
            "from pyspark.sql import Window\n"
            "from pyspark.sql import functions as F\n"
            "def model(ctx, spark):\n"
            "    d = ctx.ref('kept_docs')\n"
            "    w = Window.partitionBy(F.md5('text'))\n"
            "    return (d.withColumn('canonical_id', F.min('doc_id').over(w))\n"
            "             .filter(F.col('doc_id') == F.col('canonical_id'))\n"
            "             .drop('canonical_id'))\n"
        )
    with open(f"{root}/models/pipeline/lang_token_budget.py", "w") as f:
        f.write(
            "from pyspark.sql import functions as F\n"
            "def model(ctx, spark):\n"
            "    d = ctx.ref('unique_docs')\n"
            "    return (d.groupBy('lang')\n"
            "             .agg(F.count(F.lit(1)).alias('n_docs'),\n"
            "                  F.sum(ctx.token_count_col('text'))\n"
            "                   .alias('n_tokens')))\n"
        )

    runner = Runner(spark, Project(root, target="cur"))
    results = runner.run()
    assert [r.status for r in results] == ["success"] * 3

    # Expected: the same chain computed directly.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = docs.filter(quality_score("text") > 0)
    w = Window.partitionBy(F.md5("text"))
    uniq = (
        kept.withColumn("cid", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("cid"))
    )
    expect = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in uniq.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
        )
        .collect()
    }
    got = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in spark.table("cur_lang_token_budget").collect()
    }
    assert got == expect
    assert 0 < spark.table("cur_unique_docs").count() <= docs.count()


def test_snapshot_command_scd2_lifecycle(spark, tmp_path, capsys):
    """`snapshot` as a first-class project node (dbt 1.9 YAML snapshots):
    two CLI invocations with a source edit in between produce SCD2
    history through the atomic table format, and a mart can ref() the
    snapshot like any relation. Library-level strategy semantics are
    pinned in test_snapshot.py; this pins the project/CLI wiring."""
    from dbt_on_snowflake_spark.__main__ import main

    data = str(tmp_path / "data")
    os.makedirs(data)

    def write_src(rows):
        pd.DataFrame(rows, columns=["cust_id", "city"]).to_parquet(
            os.path.join(data, "customers.parquet"), index=False
        )

    write_src([(1, "york"), (2, "leeds")])
    root = str(tmp_path / "snapproj")
    os.makedirs(f"{root}/models/marts", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: snapproj\nmodels:\n  marts:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: customers\n"
        )
    with open(f"{root}/snapshots.yml", "w") as f:
        f.write(
            "snapshots:\n"
            "  - name: customers_snapshot\n"
            "    relation: source('raw', 'customers')\n"
            "    config:\n"
            "      unique_key: cust_id\n"
            "      strategy: check\n"
            "      check_cols: [city]\n"
        )
    with open(f"{root}/models/marts/current_cities.sql", "w") as f:
        f.write(
            "SELECT cust_id, city FROM {{ ref('customers_snapshot') }} "
            "WHERE dbt_valid_to IS NULL"
        )

    assert main(["ls", "--project", root, "--resource-type", "snapshot"]) == 0
    assert "customers_snapshot [check]" in capsys.readouterr().out

    # snapshots are first-class manifest nodes
    from dbt_on_snowflake_spark.engine.artifacts import build_manifest

    m = build_manifest(Project(root, target="dev"))
    assert m["snapshots"]["customers_snapshot"]["strategy"] == "check"

    assert main(["snapshot", "--project", root]) == 0
    out = capsys.readouterr().out
    assert "success" in out and "customers_snapshot" in out

    write_src([(1, "york"), (2, "sheffield")])  # cust 2 moved
    assert main(["snapshot", "--project", root]) == 0
    capsys.readouterr()

    snap = spark.table("dev_customers_snapshot")
    open_rows = {
        (r.cust_id, r.city)
        for r in snap.filter("dbt_valid_to IS NULL").collect()
    }
    closed_rows = {
        (r.cust_id, r.city)
        for r in snap.filter("dbt_valid_to IS NOT NULL").collect()
    }
    assert open_rows == {(1, "york"), (2, "sheffield")}
    assert closed_rows == {(2, "leeds")}

    # the mart refs the snapshot relation
    assert main(["run", "--project", root]) == 0
    capsys.readouterr()
    got = {
        (r.cust_id, r.city) for r in spark.table("dev_current_cities").collect()
    }
    assert got == {(1, "york"), (2, "sheffield")}

    # model run BEFORE any snapshot exists fails with a clear message
    import shutil

    root2 = str(tmp_path / "snapproj2")
    shutil.copytree(root, root2)
    with open(f"{root2}/project.yml", "w") as f:
        f.write("name: snapproj2\nmodels:\n  marts:\n    materialized: table\n")
    runner = Runner(spark, Project(root2, target="fresh"))
    res = runner.run()
    assert res[0].status == "error"
    assert "snapshot" in (res[0].error or "")


def test_parse_and_deps_commands(tmp_path, capsys):
    """`parse` validates the project and writes the manifest with no
    SparkSession; `deps` reports the resolved package lock."""
    from dbt_on_snowflake_spark.__main__ import main

    out = str(tmp_path / "manifest.json")
    rc = main(["parse", "--project", PROJ_ROOT, "--out", out])
    text = capsys.readouterr().out
    assert rc == 0
    assert "models: 11" in text and f"manifest: {out}" in text
    with open(out) as f:
        manifest = json.load(f)
    assert "orders" in manifest.get("nodes", manifest)

    # deps on a project with a package: lock contents are reported
    pkg = str(tmp_path / "pkg")
    os.makedirs(f"{pkg}/macros", exist_ok=True)
    with open(f"{pkg}/project.yml", "w") as f:
        f.write("name: util_pkg\nversion: 1.0.0\n")
    with open(f"{pkg}/macros/m.sql", "w") as f:
        f.write("{% macro shout(x) %}upper({{ x }}){% endmacro %}\n")
    root = str(tmp_path / "depproj")
    os.makedirs(f"{root}/models/core", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write(f"name: depproj\npackages: ['{pkg}']\n"
                "models:\n  core:\n    materialized: view\n")
    rc = main(["deps", "--project", root])
    text = capsys.readouterr().out
    assert rc == 0
    assert "util_pkg 1.0.0 sha=" in text and "package-lock.yml" in text


def test_build_includes_snapshots_before_models(spark, tmp_path, capsys):
    """`build` lands snapshots between sources and the models that
    ref() them — a fresh project builds end to end in ONE invocation."""
    from dbt_on_snowflake_spark.__main__ import main

    data = str(tmp_path / "bdata")
    os.makedirs(data)
    pd.DataFrame(
        [(1, "york"), (2, "leeds")], columns=["cust_id", "city"]
    ).to_parquet(os.path.join(data, "customers.parquet"), index=False)
    root = str(tmp_path / "buildsnap")
    os.makedirs(f"{root}/models/marts", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: buildsnap\nmodels:\n  marts:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: customers\n"
        )
    with open(f"{root}/snapshots.yml", "w") as f:
        f.write(
            "snapshots:\n"
            "  - name: cust_snap\n"
            "    relation: source('raw', 'customers')\n"
            "    config:\n      unique_key: cust_id\n      strategy: check\n"
        )
    with open(f"{root}/models/marts/live_cities.sql", "w") as f:
        f.write(
            "SELECT cust_id, city FROM {{ ref('cust_snap') }} "
            "WHERE dbt_valid_to IS NULL"
        )

    rc = main(["build", "--project", root, "--target", "bsnap"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "snapshot bsnap_cust_snap" in out
    assert spark.table("bsnap_live_cities").count() == 2


def _snapshot_selection_project(tmp_path, name):
    """Project with: source-backed snapshot cust_snap, a model reading it
    (live_cities), an unrelated model (loner), and a ref-backed snapshot
    over loner (loner_snap)."""
    data = str(tmp_path / f"{name}_data")
    os.makedirs(data)
    pd.DataFrame(
        [(1, "york"), (2, "leeds")], columns=["cust_id", "city"]
    ).to_parquet(os.path.join(data, "customers.parquet"), index=False)
    root = str(tmp_path / name)
    os.makedirs(f"{root}/models/marts", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write(f"name: {name}\nmodels:\n  marts:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: customers\n"
        )
    with open(f"{root}/snapshots.yml", "w") as f:
        f.write(
            "snapshots:\n"
            "  - name: cust_snap\n"
            "    relation: source('raw', 'customers')\n"
            "    config:\n      unique_key: cust_id\n      strategy: check\n"
            "  - name: loner_snap\n"
            "    relation: ref('loner')\n"
            "    config:\n      unique_key: cust_id\n      strategy: check\n"
        )
    with open(f"{root}/models/marts/live_cities.sql", "w") as f:
        f.write(
            "SELECT cust_id, city FROM {{ ref('cust_snap') }} "
            "WHERE dbt_valid_to IS NULL"
        )
    with open(f"{root}/models/marts/loner.sql", "w") as f:
        f.write("SELECT cust_id, upper(city) AS cty "
                "FROM {{ source('raw', 'customers') }}")
    return data, root


def test_build_scopes_snapshots_to_selection(spark, tmp_path, capsys):
    """advice r7 (medium): `build --select unrelated_model` must NOT
    advance SCD2 history — snapshots run only when selected or when a
    selected model refs them; ref-backed snapshots run AFTER the model
    pass so they snapshot this run's state."""
    from dbt_on_snowflake_spark.__main__ import main

    data, root = _snapshot_selection_project(tmp_path, "scopesnap")
    tgt = ["--project", root, "--target", "ssn"]

    # selected model does not ref any snapshot -> no snapshot runs
    assert main(["build", *tgt, "--select", "loner"]) == 0
    out = capsys.readouterr().out
    assert "cust_snap" not in out
    assert not spark.catalog.tableExists("ssn_cust_snap")
    # ...except loner_snap, which refs the SELECTED loner: it is a
    # descendant-adjacent node but NOT ref'd by loner, so it must not
    # have run either (only model->snapshot ancestor edges select)
    assert not spark.catalog.tableExists("ssn_loner_snap")

    # selecting the model that refs cust_snap pulls the snapshot in as
    # a required ancestor, and it lands BEFORE the model
    assert main(["build", *tgt, "--select", "live_cities"]) == 0
    capsys.readouterr()
    assert spark.table("ssn_cust_snap").count() == 2
    assert spark.table("ssn_live_cities").count() == 2

    # snapshot-only selection: runs the snapshot, no models
    pd.DataFrame(
        [(1, "hull"), (2, "leeds")], columns=["cust_id", "city"]
    ).to_parquet(os.path.join(data, "customers.parquet"), index=False)
    assert main(["build", *tgt, "--select", "cust_snap"]) == 0
    out = capsys.readouterr().out
    assert "live_cities" not in out and "loner" not in out
    snap = spark.table("ssn_cust_snap")
    assert snap.filter("dbt_valid_to IS NOT NULL").count() == 1  # york closed

    # --exclude removes a snapshot from an unnarrowed build
    assert main(["build", *tgt, "--exclude", "loner_snap,loner"]) == 0
    capsys.readouterr()
    assert not spark.catalog.tableExists("ssn_loner_snap")


def test_build_ref_backed_snapshot_runs_after_models(spark, tmp_path, capsys):
    """A ref('model') snapshot in `build` sees THIS run's model state:
    the snapshot row reflects the fresh build, not last run's table."""
    from dbt_on_snowflake_spark.__main__ import main

    _, root = _snapshot_selection_project(tmp_path, "postsnap")
    tgt = ["--project", root, "--target", "psn"]

    assert main(["build", *tgt, "--select", "loner,loner_snap"]) == 0
    capsys.readouterr()
    got = {
        (r.cust_id, r.cty)
        for r in spark.table("psn_loner_snap")
        .filter("dbt_valid_to IS NULL").collect()
    }
    assert got == {(1, "YORK"), (2, "LEEDS")}  # fresh model output


def test_build_ref_backed_snapshot_skips_on_upstream_failure(
    spark, tmp_path, capsys
):
    """The SCD2 history must not advance over a failed upstream model."""
    from dbt_on_snowflake_spark.__main__ import main

    _, root = _snapshot_selection_project(tmp_path, "failsnap")
    with open(f"{root}/models/marts/loner.sql", "w") as f:
        f.write("SELECT no_such FROM {{ source('raw', 'customers') }}")
    rc = main(["build", "--project", root, "--target", "fsn",
               "--select", "loner,loner_snap"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "skipped  snapshot fsn_loner_snap" in out
    assert not spark.catalog.tableExists("fsn_loner_snap")


def test_build_rejects_model_reading_ref_backed_snapshot(
    spark, tmp_path, capsys
):
    """A model -> snapshot -> model chain cannot be ordered in one build
    pass (the middle snapshot must run both after and before a model) —
    rejected with a clear error instead of silently reading stale SCD2."""
    from dbt_on_snowflake_spark.__main__ import main

    _, root = _snapshot_selection_project(tmp_path, "chainsnap")
    with open(f"{root}/models/marts/from_snap.sql", "w") as f:
        f.write("SELECT * FROM {{ ref('loner_snap') }}")
    rc = main(["build", "--project", root, "--target", "csn"])
    err = capsys.readouterr().err
    assert rc == 2
    assert "loner_snap" in err and "cannot order" in err


def test_run_empty_builds_schema_only(spark, tmp_path, capsys):
    """`run --empty` (dbt 1.8): every relation lands with its full
    schema and ZERO rows — the CI smoke for DDL/contract/ref wiring; a
    following real run overwrites with data."""
    from dbt_on_snowflake_spark.__main__ import main

    data = str(tmp_path / "edata")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3], "v": [10, 20, 30]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    root = str(tmp_path / "emptyproj")
    os.makedirs(f"{root}/models/core", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: emptyproj\nmodels:\n  core:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: t\n"
        )
    with open(f"{root}/models/core/agg.sql", "w") as f:
        f.write("SELECT id, v * 2 AS v2 FROM {{ source('raw', 't') }}")

    assert main(["run", "--project", root, "--target", "emt", "--empty"]) == 0
    capsys.readouterr()
    t = spark.table("emt_agg")
    assert t.count() == 0
    assert t.columns == ["id", "v2"]

    assert main(["run", "--project", root, "--target", "emt"]) == 0
    capsys.readouterr()
    assert spark.table("emt_agg").count() == 3


def test_retry_replays_empty_flag(spark, tmp_path, capsys):
    """advice r7: `retry` after `run --empty` must replay as a schema-only
    dry run — the recorded EFFECTIVE flags include --empty — not silently
    escalate to a full data run."""
    from dbt_on_snowflake_spark.__main__ import main

    data = str(tmp_path / "redata")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2], "v": [10, 20]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    root = str(tmp_path / "retryempty")
    os.makedirs(f"{root}/models/core", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: retryempty\nmodels:\n  core:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: t\n"
        )
    with open(f"{root}/models/core/ok.sql", "w") as f:
        f.write("SELECT id, v FROM {{ source('raw', 't') }}")
    with open(f"{root}/models/core/boom.sql", "w") as f:
        f.write("SELECT no_such_col FROM {{ source('raw', 't') }}")

    assert main(["run", "--project", root, "--target", "rem", "--empty"]) == 1
    capsys.readouterr()
    assert spark.table("rem_ok").count() == 0

    # fix the broken model; retry must rebuild it EMPTY (dry-run replay)
    with open(f"{root}/models/core/boom.sql", "w") as f:
        f.write("SELECT id AS fixed_id FROM {{ source('raw', 't') }}")
    assert main(["retry", "--project", root, "--target", "rem"]) == 0
    capsys.readouterr()
    assert spark.table("rem_boom").columns == ["fixed_id"]
    assert spark.table("rem_boom").count() == 0
    assert spark.table("rem_ok").count() == 0


def test_sql_generic_test_blocks(spark, tmp_path, capsys):
    """dbt SQL generic tests: a {% test %} block in tests/generic/*.sql
    is dispatchable from schema.yml like any built-in — body renders
    with the bound model/column + kwargs (with declared defaults), its
    rows are the failures."""
    from dbt_on_snowflake_spark.__main__ import main

    data = str(tmp_path / "gdata")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3], "v": [5, -1, 50]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    root = str(tmp_path / "gproj")
    os.makedirs(f"{root}/models/core", exist_ok=True)
    os.makedirs(f"{root}/tests/generic", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: gproj\nmodels:\n  core:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: t\n"
        )
    with open(f"{root}/models/core/vals.sql", "w") as f:
        f.write("SELECT id, v FROM {{ source('raw', 't') }}")
    with open(f"{root}/tests/generic/bounds.sql", "w") as f:
        f.write(
            "{% test within_bounds(model, column_name, upper=100) %}\n"
            "SELECT * FROM {{ model }}\n"
            "WHERE {{ column_name }} < 0 OR {{ column_name }} > {{ upper }}\n"
            "{% endtest %}\n"
        )
    with open(f"{root}/models/core/schema.yml", "w") as f:
        f.write(
            "models:\n  - name: vals\n    columns:\n"
            "      - name: v\n        tests:\n"
            "          - within_bounds\n"
            "          - within_bounds:\n              upper: 10\n"
        )

    rc = main(["build", "--project", root, "--target", "gsql"])
    out = capsys.readouterr().out
    # default upper=100: only v=-1 fails; upper=10: -1 and 50 fail ->
    # the model is POISONED by its failing test and... both instances run
    assert "within_bounds" in out
    assert rc == 1  # failures present

    # run tests directly for counts
    from dbt_on_snowflake_spark.engine.project import Project
    from dbt_on_snowflake_spark.engine.testing import TestRunner

    project = Project(root, target="gsql")
    runner = Runner(spark, project)
    runner.run()
    tr = TestRunner(spark, custom=project.package_tests)
    results = tr.run_model_tests(project, runner)
    counts = sorted(r.failures for r in results)
    assert counts == [1, 2]


def test_sql_generic_test_string_kwargs_and_unbound_placeholders(
    spark, tmp_path
):
    """advice r7: string kwargs must land as quoted SQL literals (not raw
    identifier injection), and an unbound placeholder — e.g. a table-level
    test whose body uses {{ column_name }} — must be a clear config error,
    not an opaque Spark parse failure."""
    from dbt_on_snowflake_spark.engine.project import Project
    from dbt_on_snowflake_spark.engine.testing import TestRunner

    data = str(tmp_path / "qdata")
    os.makedirs(data)
    pd.DataFrame(
        {"id": [1, 2, 3], "status": ["ok", "bad", "ok"]}
    ).to_parquet(os.path.join(data, "t.parquet"), index=False)
    root = str(tmp_path / "qproj")
    os.makedirs(f"{root}/models/core", exist_ok=True)
    os.makedirs(f"{root}/tests/generic", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: qproj\nmodels:\n  core:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: t\n"
        )
    with open(f"{root}/models/core/vals.sql", "w") as f:
        f.write("SELECT id, status FROM {{ source('raw', 't') }}")
    with open(f"{root}/tests/generic/not_value.sql", "w") as f:
        f.write(
            "{% test not_value(model, column_name, bad) %}\n"
            "SELECT * FROM {{ model }} WHERE {{ column_name }} = {{ bad }}\n"
            "{% endtest %}\n"
        )
    with open(f"{root}/models/core/schema.yml", "w") as f:
        f.write(
            "models:\n  - name: vals\n    columns:\n"
            "      - name: status\n        tests:\n"
            "          - not_value:\n              bad: bad\n"
        )
    project = Project(root, target="qsql")
    runner = Runner(spark, project)
    runner.run()
    tr = TestRunner(spark, custom=project.package_tests)
    results = tr.run_model_tests(project, runner)
    # string kwarg 'bad' quoted as a literal: exactly one failing row
    assert [r.failures for r in results] == [1]

    # same test bound at TABLE level: column_name stays unbound -> clear
    # error naming the placeholder (not a Spark parse error)
    with open(f"{root}/models/core/schema.yml", "w") as f:
        f.write(
            "models:\n  - name: vals\n    tests:\n"
            "      - not_value:\n          bad: bad\n"
        )
    project2 = Project(root, target="qsql")
    tr2 = TestRunner(spark, custom=project2.package_tests)
    with pytest.raises(ValueError, match="unbound placeholder.*column_name"):
        tr2.run_model_tests(project2, runner)


def test_singular_data_tests(spark, tmp_path, capsys):
    """Singular tests: tests/*.sql files are standalone assertions with
    ref()/source() resolution; rows returned = failures."""
    from dbt_on_snowflake_spark.__main__ import main

    data = str(tmp_path / "sdata")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2], "amt": [10, -5]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    root = str(tmp_path / "sproj")
    os.makedirs(f"{root}/models/core", exist_ok=True)
    os.makedirs(f"{root}/tests", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: sproj\nmodels:\n  core:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: t\n"
        )
    with open(f"{root}/models/core/amounts.sql", "w") as f:
        f.write("SELECT id, amt FROM {{ source('raw', 't') }}")
    with open(f"{root}/tests/no_negative_amounts.sql", "w") as f:
        f.write("SELECT * FROM {{ ref('amounts') }} WHERE amt < 0")
    with open(f"{root}/tests/ids_unique.sql", "w") as f:
        f.write(
            "SELECT id FROM {{ ref('amounts') }} GROUP BY id "
            "HAVING COUNT(*) > 1"
        )

    assert main(["run", "--project", root, "--target", "sng"]) == 0
    capsys.readouterr()
    rc = main(["test", "--project", root, "--target", "sng"])
    out = capsys.readouterr().out
    assert rc == 1  # the negative amount fails
    assert "no_negative_amounts" in out and "failures=1" in out
    assert "ids_unique" in out and "failures=0" in out


def test_test_command_select_scopes_to_model(tasty, capsys):
    """`test --select <model>` runs only that model's declared tests —
    not the full source+model+singular suite."""
    from dbt_on_snowflake_spark.__main__ import main

    rc = main(["test", "--project", PROJ_ROOT,
               "--select", "customer_loyalty_metrics"])
    out = capsys.readouterr().out
    assert rc == 0
    # tastybytes declares data tests on SOURCES only; a model-scoped
    # selection therefore runs zero data tests — and crucially none of
    # the source suite (unscoped resources stay out of a model selector)
    assert "0/0 tests passed" in out
    assert "src_tb_101_" not in out

    rc = main(["test", "--project", PROJ_ROOT])
    out = capsys.readouterr().out
    assert rc == 0
    assert "src_tb_101_" in out  # full suite covers sources


def test_bundled_curation_example_project(spark, monkeypatch):
    """The shipped examples/curation project runs end to end through
    the normal CLI — the 'switch your curation pipeline to this engine'
    story as a real artifact, not only a test fixture. The example's
    data dir comes from $CURATION_DATA_DIR (advice r7: no machine-local
    absolute paths in shipped configs)."""
    from dbt_on_snowflake_spark.__main__ import main

    monkeypatch.setenv("CURATION_DATA_DIR", "/root/testdata/sf0.001")
    rc = main(["run", "--project", "examples/curation", "--target", "excur"])
    assert rc == 0
    out = spark.table("excur_lang_token_budget")
    assert out.count() > 0
    assert set(out.columns) == {"lang", "n_docs", "n_tokens"}


def test_source_path_unset_env_var_is_clear_error(tmp_path, monkeypatch):
    """An unset env var in a source path must fail at load with a config
    error naming the source, not an opaque path-not-found at read time."""
    import pytest

    from dbt_on_snowflake_spark.engine.project import Project

    monkeypatch.delenv("NO_SUCH_CURATION_VAR", raising=False)
    root = str(tmp_path / "proj")
    os.makedirs(root)
    with open(os.path.join(root, "project.yml"), "w") as f:
        f.write("name: envtest\n")
    with open(os.path.join(root, "sources.yml"), "w") as f:
        f.write(
            "sources:\n  - name: raw\n    base_path: \"$NO_SUCH_CURATION_VAR\"\n"
            "    tables:\n      - name: documents\n"
        )
    with pytest.raises(ValueError, match="raw.documents.*unset environment"):
        Project(root)


def test_cron_parsing_and_matching():
    """Cron field semantics: *, steps, ranges, lists, the dom/dow union
    rule, and Snowflake's `USING CRON ... UTC` wrapper (setup/task.sql)."""
    from datetime import datetime

    import pytest as _pytest

    from dbt_on_snowflake_spark.engine.tasks import (
        CronError,
        cron_matches,
        next_fire,
        normalize_schedule,
    )

    # setup/task.sql:2 — 'USING CRON 5 * * * * UTC' = minute 5, hourly
    s = normalize_schedule("USING CRON 5 * * * * UTC")
    assert s == "5 * * * *"
    assert cron_matches(s, datetime(2026, 8, 14, 9, 5))
    assert not cron_matches(s, datetime(2026, 8, 14, 9, 6))
    assert next_fire(s, datetime(2026, 8, 14, 9, 5)) == datetime(2026, 8, 14, 10, 5)

    assert cron_matches("*/15 * * * *", datetime(2026, 1, 1, 0, 45))
    assert not cron_matches("*/15 * * * *", datetime(2026, 1, 1, 0, 50))
    assert cron_matches("0 9-17 * * *", datetime(2026, 1, 1, 13, 0))
    assert not cron_matches("0 9-17 * * *", datetime(2026, 1, 1, 8, 0))
    assert cron_matches("0 0 1,15 * *", datetime(2026, 3, 15, 0, 0))
    # dow: 2026-08-14 is a Friday (cron dow 5); 7 aliases Sunday
    assert cron_matches("0 0 * * 5", datetime(2026, 8, 14, 0, 0))
    assert cron_matches("0 0 * * 7", datetime(2026, 8, 16, 0, 0))
    # dom/dow union when both restricted: fires on dom OR dow match
    assert cron_matches("0 0 13 * 5", datetime(2026, 8, 14, 0, 0))  # dow hit
    assert cron_matches("0 0 13 * 5", datetime(2026, 8, 13, 0, 0))  # dom hit
    assert not cron_matches("0 0 13 * 5", datetime(2026, 8, 12, 0, 0))

    with _pytest.raises(CronError):
        normalize_schedule("USING CRON 5 * * *")  # 4 fields
    with _pytest.raises(CronError):
        cron_matches("61 * * * *", datetime(2026, 1, 1))


def test_task_schedule_lifecycle(spark, tmp_path, capsys):
    """The reference's Snowflake TASK (setup/task.sql:1-6) as an engine
    surface: tasks.yml declares the cron + args; `task run-due --now`
    executes matching tasks through the real CLI exactly once per tick;
    a retried tick skips; the next matching minute fires again; `task
    list` reports the next fire time."""
    from dbt_on_snowflake_spark.__main__ import main

    data = str(tmp_path / "tdata")
    os.makedirs(data)
    pd.DataFrame({"id": [1, 2, 3], "v": [10, 20, 30]}).to_parquet(
        os.path.join(data, "t.parquet"), index=False
    )
    root = str(tmp_path / "taskproj")
    os.makedirs(f"{root}/models/core", exist_ok=True)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: taskproj\nmodels:\n  core:\n    materialized: table\n")
    with open(f"{root}/sources.yml", "w") as f:
        f.write(
            f"sources:\n  - name: raw\n    base_path: \"{data}\"\n"
            "    tables:\n      - name: t\n"
        )
    with open(f"{root}/models/core/agg.sql", "w") as f:
        f.write("SELECT id, v * 2 AS v2 FROM {{ source('raw', 't') }}")
    with open(f"{root}/tasks.yml", "w") as f:
        f.write(
            "tasks:\n"
            "  - name: hourly_agg\n"
            "    schedule: \"USING CRON 5 * * * * UTC\"\n"
            "    args: \"run --select agg --target tsk\"\n"
        )

    # off-minute: nothing due
    rc = main(["task", "run-due", "--project", root,
               "--now", "2026-08-14T09:04:00"])
    out = capsys.readouterr().out
    assert rc == 0 and "not-due" in out
    assert not spark.catalog.tableExists("tsk_agg")

    # the scheduled minute: task executes through the real CLI
    rc = main(["task", "run-due", "--project", root,
               "--now", "2026-08-14T09:05:30"])
    out = capsys.readouterr().out
    assert rc == 0 and "success" in out
    assert spark.table("tsk_agg").count() == 3

    # same tick retried (e.g. overlapping cron runner): skipped
    rc = main(["task", "run-due", "--project", root,
               "--now", "2026-08-14T09:05:59"])
    out = capsys.readouterr().out
    assert rc == 0 and "already-ran" in out

    # next matching minute fires fresh
    rc = main(["task", "run-due", "--project", root,
               "--now", "2026-08-14T10:05:00"])
    out = capsys.readouterr().out
    assert rc == 0 and "success" in out

    # list reports the next fire after --now
    rc = main(["task", "list", "--project", root,
               "--now", "2026-08-14T10:06:00"])
    out = capsys.readouterr().out
    assert rc == 0 and "hourly_agg" in out and "next=2026-08-14T11:05" in out

    # force-run ignores the schedule
    rc = main(["task", "run", "--project", root, "--name", "hourly_agg",
               "--now", "2026-08-14T10:07:00"])
    capsys.readouterr()
    assert rc == 0


def test_task_args_expand_env_vars(tmp_path, capsys, monkeypatch):
    """Task args expand env vars like sources.yml base_path does, so
    the shipped examples/curation/tasks.yml can say
    `--corpus $CURATION_DATA_DIR` (r12 verdict Next #4 wiring)."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "envproj")
    os.makedirs(f"{root}/models", exist_ok=True)
    open(f"{root}/project.yml", "w").write("name: envproj\n")
    open(f"{root}/sources.yml", "w").write("sources: []\n")
    open(f"{root}/tasks.yml", "w").write(
        "tasks:\n"
        "  - name: listish\n"
        "    schedule: \"USING CRON 0 1 * * * UTC\"\n"
        "    args: \"ls --out $TASK_OUT\"\n"
    )
    dest = str(tmp_path / "expanded_listing.json")
    monkeypatch.setenv("TASK_OUT", dest)
    rc = main(["task", "run", "--project", root, "--name", "listish",
               "--now", "2026-08-14T01:00:00"])
    out = capsys.readouterr().out
    # the expanded path reached the CLI (echoed in the task line)
    assert rc == 0 and f"--out {dest}" in out
    # force-run ignores the schedule (the --now minute is not 01:00)


def test_build_snapshot_only_select_with_exclude(spark, tmp_path, capsys):
    """advice r8 (medium): a snapshot-only --select combined with a model
    --exclude (`build --select cust_snap --exclude loner`) must keep the
    model set EMPTY — pre-fix it resolved to "all models minus loner",
    which silently advanced unrelated SCD2 histories via
    select_snapshots and wrongly rejected the build through the
    model->snapshot->model chain check."""
    from dbt_on_snowflake_spark.__main__ import main

    _, root = _snapshot_selection_project(tmp_path, "snexc")
    # a model reading a ref-backed snapshot: with the inflated pre-fix
    # model universe this tripped the chain check (rc 2) even though the
    # selection names only cust_snap
    with open(f"{root}/models/marts/from_snap.sql", "w") as f:
        f.write("SELECT * FROM {{ ref('loner_snap') }}")
    tgt = ["--project", root, "--target", "sxc"]

    rc = main(["build", *tgt, "--select", "cust_snap", "--exclude", "loner"])
    capsys.readouterr()
    assert rc == 0
    assert spark.table("sxc_cust_snap").count() == 2
    # no model ran, and no unselected snapshot advanced
    for tbl in ("sxc_live_cities", "sxc_loner", "sxc_from_snap",
                "sxc_loner_snap"):
        assert not spark.catalog.tableExists(tbl), tbl


def test_six_field_seconds_cron_rejected():
    """advice r8: a seconds-style 6-field cron ('0 5 * * * *') must
    error, not be silently reinterpreted as daily-at-05:00 with tz '*' —
    the 6th token is only stripped when it looks like a timezone."""
    import pytest as _pytest

    from dbt_on_snowflake_spark.engine.tasks import (
        CronError,
        normalize_schedule,
    )

    with _pytest.raises(CronError):
        normalize_schedule("0 5 * * * *")
    with _pytest.raises(CronError):
        normalize_schedule("USING CRON 0 5 * * * 30")
    # real timezone spellings still accepted
    assert normalize_schedule("5 * * * * UTC") == "5 * * * *"
    assert normalize_schedule("5 * * * * America/New_York") == "5 * * * *"
    assert normalize_schedule("5 * * * * Etc/GMT+5") == "5 * * * *"


def test_run_due_concurrent_runners_cannot_double_fire(tmp_path):
    """advice r8: exactly-once under genuinely CONCURRENT runners — the
    journal read is check-then-act, so the per-tick O_CREAT|O_EXCL lock
    must stop a second runner whose journal read predates the first
    runner's append (simulated by deleting the journal between calls)."""
    from datetime import datetime

    from dbt_on_snowflake_spark.engine import tasks as _tasks

    root = str(tmp_path / "raceproj")
    os.makedirs(root)
    with open(f"{root}/tasks.yml", "w") as f:
        f.write("tasks:\n  - name: t1\n"
                "    schedule: \"5 * * * *\"\n    args: \"run\"\n")
    fired = []

    def runner(t):
        fired.append(t.name)
        return 0

    now = datetime(2026, 8, 14, 9, 5)
    assert _tasks.run_due(root, now, runner) == [("t1", "success")]
    # second runner raced: its completed_ticks() snapshot was empty
    os.remove(os.path.join(root, "target", "task_runs.jsonl"))
    assert _tasks.run_due(root, now, runner) == [("t1", "already-ran")]
    assert fired == ["t1"]


def test_run_due_unknown_name_errors(tmp_path, capsys):
    """advice r8: `task run-due --name <typo>` must exit 2 like `task
    run` does — pre-fix it silently filtered every task out and returned
    0, so a misspelled cron entry never ran and never complained."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "typoproj")
    os.makedirs(root)
    with open(f"{root}/project.yml", "w") as f:
        f.write("name: typoproj\n")
    with open(f"{root}/tasks.yml", "w") as f:
        f.write("tasks:\n  - name: hourly\n"
                "    schedule: \"5 * * * *\"\n    args: \"run\"\n")
    rc = main(["task", "run-due", "--project", root, "--name", "hourlyy",
               "--now", "2026-08-14T09:05:00"])
    err = capsys.readouterr().err
    assert rc == 2
    assert "hourlyy" in err and "hourly" in err


def test_run_due_lock_gc(tmp_path):
    """Tick locks older than the 48 h horizon are garbage-collected on
    each run_due invocation (driven by --now, no wall clock); recent
    locks — including the just-claimed tick's — survive."""
    from datetime import datetime

    from dbt_on_snowflake_spark.engine import tasks as _tasks

    root = str(tmp_path / "gcproj")
    os.makedirs(f"{root}/target/task_locks", exist_ok=True)
    with open(f"{root}/tasks.yml", "w") as f:
        f.write("tasks:\n  - name: my_task\n"
                "    schedule: \"5 * * * *\"\n    args: \"run\"\n")
    lock_dir = f"{root}/target/task_locks"
    old = os.path.join(lock_dir, "my_task_2026-08-01T09-05")
    recent = os.path.join(lock_dir, "my_task_2026-08-14T08-05")
    junk = os.path.join(lock_dir, "not-a-lock")
    for p in (old, recent, junk):
        open(p, "w").close()

    res = _tasks.run_due(
        root, datetime(2026, 8, 14, 9, 5), lambda t: 0
    )
    assert res == [("my_task", "success")]
    assert not os.path.exists(old)          # aged out
    assert os.path.exists(recent)           # within horizon
    assert os.path.exists(junk)             # unparseable: left alone
    assert os.path.exists(
        os.path.join(lock_dir, "my_task_2026-08-14T09-05")
    )


def test_clean_removes_declared_targets_only(tmp_path, capsys):
    """`clean` (reference dbt_project.yml:17 clean-targets) deletes the
    project's declared artifact dirs and nothing else; entries escaping
    the project root are refused fail-closed with nothing deleted."""
    import shutil

    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    os.makedirs(f"{root}/target/traces", exist_ok=True)
    os.makedirs(f"{root}/dbt_modules", exist_ok=True)
    os.makedirs(f"{root}/models", exist_ok=True)
    open(f"{root}/project.yml", "w").write(
        "name: cleanproj\nclean-targets: [target, dbt_modules]\n"
    )
    open(f"{root}/target/run_results.json", "w").write("{}")
    open(f"{root}/models/keep.sql", "w").write("SELECT 1 AS one")
    assert main(["clean", "--project", root]) == 0
    out = capsys.readouterr().out
    assert "cleaned target" in out and "cleaned dbt_modules" in out
    assert not os.path.exists(f"{root}/target")
    assert not os.path.exists(f"{root}/dbt_modules")
    assert os.path.exists(f"{root}/models/keep.sql")
    # re-clean: targets absent -> reported, exit 0
    assert main(["clean", "--project", root]) == 0
    assert "skip target: not present" in capsys.readouterr().out

    # fail-closed: an escaping entry refuses the WHOLE clean
    outside = tmp_path / "outside"
    outside.mkdir()
    os.makedirs(f"{root}/target", exist_ok=True)
    open(f"{root}/project.yml", "w").write(
        "name: cleanproj\nclean-targets: [target, ../outside]\n"
    )
    assert main(["clean", "--project", root]) == 2
    assert outside.exists()
    assert os.path.exists(f"{root}/target")  # nothing deleted
    # the project root itself is refused too
    open(f"{root}/project.yml", "w").write(
        "name: cleanproj\nclean-targets: [.]\n"
    )
    assert main(["clean", "--project", root]) == 2
    assert os.path.exists(f"{root}/models/keep.sql")

    # key absent -> dbt's documented default [target, dbt_packages]
    # (r12 advice #3)
    os.makedirs(f"{root}/dbt_packages", exist_ok=True)
    os.makedirs(f"{root}/target", exist_ok=True)
    open(f"{root}/project.yml", "w").write("name: cleanproj\n")
    assert main(["clean", "--project", root]) == 0
    out = capsys.readouterr().out
    assert "cleaned target" in out and "cleaned dbt_packages" in out
    assert not os.path.exists(f"{root}/dbt_packages")
    assert os.path.exists(f"{root}/models/keep.sql")
    shutil.rmtree(root)


def test_clean_refuses_non_list_targets(tmp_path, capsys):
    """`clean-targets: target` (a scalar) would iterate as characters
    and rmtree any single-letter dir — refuse malformed config."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    os.makedirs(f"{root}/t", exist_ok=True)  # the would-be victim
    os.makedirs(f"{root}/target", exist_ok=True)
    open(f"{root}/project.yml", "w").write(
        "name: cleanproj\nclean-targets: target\n"
    )
    assert main(["clean", "--project", root]) == 2
    assert "must be a YAML list" in capsys.readouterr().err
    assert os.path.exists(f"{root}/t")
    assert os.path.exists(f"{root}/target")


def test_analyses_compile_but_never_materialize(tmp_path, capsys):
    """dbt analyses (reference dbt_project.yml:9 analysis-paths):
    Jinja-compiled with full ref()/source() resolution into
    target/compiled/analyses/, listable, and NEVER materialized — the
    compile path touches no SparkSession."""
    from dbt_on_snowflake_spark.__main__ import main

    root = str(tmp_path / "proj")
    os.makedirs(f"{root}/models/models", exist_ok=True)
    os.makedirs(f"{root}/analysis", exist_ok=True)
    open(f"{root}/project.yml", "w").write(
        # the reference's non-default dir name, honored via config
        "name: anproj\nanalysis-paths: [analysis]\n"
        "models:\n  models:\n    materialized: table\n"
    )
    open(f"{root}/sources.yml", "w").write(
        "sources:\n  - name: raw\n    base_path: \"/tmp\"\n"
        "    tables:\n      - name: t\n"
    )
    open(f"{root}/models/models/m.sql", "w").write(
        "SELECT 1 AS one FROM {{ source('raw', 't') }}"
    )
    os.makedirs(f"{root}/macros", exist_ok=True)
    open(f"{root}/macros/helpers.sql", "w").write(
        "{% macro pct(a, b) %}100.0 * {{ a }} / {{ b }}{% endmacro %}"
    )
    open(f"{root}/analysis/revenue_probe.sql", "w").write(
        "SELECT {{ pct(3, 4) }} AS p, COUNT(*) AS n "
        "FROM {{ ref('m') }} -- ad hoc"
    )
    assert main(["compile", "--project", root]) == 0
    out = capsys.readouterr().out
    assert "analysis: revenue_probe" in out
    compiled = open(
        f"{root}/target/compiled/analyses/revenue_probe.sql"
    ).read()
    # fully resolved: project MACROS expand like in models, refs
    # resolve to relations, no Jinja survives
    assert "{{" not in compiled and "dev_m" in compiled
    assert "100.0 * 3 / 4" in compiled
    # listable, and part of `all`
    assert main(["ls", "--project", root,
                 "--resource-type", "analysis"]) == 0
    assert "analysis revenue_probe" in capsys.readouterr().out
    # a model-narrowed compile does not emit analyses (dbt parity)
    import shutil

    shutil.rmtree(f"{root}/target/compiled")
    assert main(["compile", "--project", root, "--select", "m"]) == 0
    assert not os.path.exists(f"{root}/target/compiled/analyses")
    # a MALFORMED macro call in scratch SQL fails compile only — model
    # commands must not be blocked by an ad-hoc analysis (expansion is
    # compile-time, not load-time)
    open(f"{root}/analysis/broken.sql", "w").write(
        "SELECT {{ pct(1) }}"  # missing argument
    )
    assert main(["ls", "--project", root]) == 0  # load still fine
    import pytest as _pytest2

    with _pytest2.raises(Exception):
        main(["compile", "--project", root])
    os.remove(f"{root}/analysis/broken.sql")
    # a scalar analysis-paths would iterate as characters and silently
    # discover nothing — refused at project load (clean-targets posture)
    import pytest as _pytest

    open(f"{root}/project.yml", "w").write(
        "name: anproj\nanalysis-paths: analysis\n"
    )
    with _pytest.raises(ValueError, match="YAML list"):
        main(["parse", "--project", root])
