"""Every registered query vs its DuckDB oracle at sf0.001 — the local mirror
of the driver's CORRECTNESS gate (row-count + schema + value parity) — and
vs its row of ``tests/plan_manifest.json`` (build-time jobs and plan-node
counts, see ``tools/plan_manifest.py``), taken from the same build."""

from __future__ import annotations

import pytest

from the_movie_database_import_spark.plans import REGISTRY
from tools import plan_manifest

from conftest import SF_DIR, assert_frames_match

ALL_NAMES = sorted(REGISTRY)
# Manifest rows of the queries test_query_matches_oracle built, consumed by
# test_plan_matches_manifest so the suite builds no query twice.
_BUILT_ROWS: dict[str, dict] = {}


@pytest.fixture(scope="module")
def warm(spark):
    plan_manifest.warm_schemas(spark, SF_DIR)


@pytest.fixture(scope="module")
def manifest() -> dict:
    return plan_manifest.load()


@pytest.mark.parametrize("name", ALL_NAMES)
def test_query_matches_oracle(name, spark, duck, warm):
    spec = REGISTRY[name]
    sdf, _BUILT_ROWS[name] = plan_manifest.build_row(spark, name, SF_DIR)
    spark_pdf = sdf.toPandas()
    if spec.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check (driver does the same)
        return
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_approx_count_distinct_error_bound(spark, duck):
    """The HLL++ sketch has no value oracle (sketches differ across engines),
    but its ESTIMATE must sit within the configured relative error of the
    exact distinct count per group — rsd=0.01, asserted at a loose 5% so the
    bound never flakes while still catching a broken sketch."""
    approx = {
        r.o_orderstatus: r.approx_n_customers
        for r in REGISTRY["q_agg_approx_count_distinct"].spark_fn(spark, SF_DIR).collect()
    }
    exact = dict(
        duck.execute(
            "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert set(approx) == set(exact)
    for status, n_exact in exact.items():
        assert abs(approx[status] - n_exact) <= max(0.05 * n_exact, 2), (
            f"{status}: approx {approx[status]} vs exact {n_exact}"
        )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_approx_percentile_error_bound(spark):
    """percentile_approx(accuracy=10000) guarantees rank error <= n/accuracy;
    on l_quantity (integers 1..50, ~uniform) that is a value error well
    under 1 quantity unit per quartile — asserted at a loose ±1.0 against
    the exact twin so the bound never flakes while catching a broken
    sketch."""
    exact = {
        r.l_returnflag: (r.qty_p25, r.qty_p50, r.qty_p75)
        for r in REGISTRY["q_agg_percentiles"].spark_fn(spark, SF_DIR).collect()
    }
    approx = {
        r.l_returnflag: (r.qty_p25_approx, r.qty_p50_approx, r.qty_p75_approx)
        for r in REGISTRY["q_agg_percentiles_approx"].spark_fn(spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    for flag, exact_qs in exact.items():
        for e, a in zip(exact_qs, approx[flag]):
            assert abs(e - a) <= 1.0, (flag, exact_qs, approx[flag])


def test_plan_manifest_rows_match_registry(manifest):
    """One manifest row per registry query: adding or removing a query
    without regenerating its row fails here, without a Spark session."""
    rows = set(manifest["rows"])
    assert rows == set(ALL_NAMES), (
        f"queries without a row: {sorted(set(ALL_NAMES) - rows)}; "
        f"rows without a query: {sorted(rows - set(ALL_NAMES))}"
    )
    assert manifest["columns"] == list(plan_manifest.COLUMNS)
    assert all(set(r) == set(plan_manifest.COLUMNS) for r in manifest["rows"].values())


def test_row_diffs_name_query_column_and_values():
    """A manifest failure names the query, the column, and the old and
    new values, one line per differing column."""
    want = dict.fromkeys(plan_manifest.COLUMNS, 0)
    got = {**want, "broadcast_exchange": 2, "rdd_scan": 1}
    assert plan_manifest.row_diffs("q_x", want, want) == []
    assert plan_manifest.row_diffs("q_x", want, got) == [
        "q_x.broadcast_exchange: manifest 0 -> live 2",
        "q_x.rdd_scan: manifest 0 -> live 1",
    ]
    # a null cell is not compared; a missing row differs in every column
    assert plan_manifest.row_diffs("q_x", {**want, "rdd_scan": None}, got) == [
        "q_x.broadcast_exchange: manifest 0 -> live 2",
    ]
    assert len(plan_manifest.row_diffs("q_x", {}, got)) == len(got)


@pytest.mark.parametrize("name", ALL_NAMES)
def test_plan_matches_manifest(name, spark, warm, manifest):
    """The query's build-time jobs and plan-node counts equal its manifest
    row. Reuses the row test_query_matches_oracle took from its build; run
    alone (that test deselected), it builds the query itself."""
    if manifest["scale"] != plan_manifest.scale(SF_DIR):
        pytest.skip(
            f"the manifest pins {manifest['scale']}; "
            f"SPARK_GRAFT_TEST_SF_DIR is {plan_manifest.scale(SF_DIR)}"
        )
    row = _BUILT_ROWS.pop(name, None)
    if row is None:
        row = plan_manifest.build_row(spark, name, SF_DIR)[1]
    diffs = plan_manifest.row_diffs(name, manifest["rows"].get(name, {}), row)
    assert not diffs, (
        "plan shape differs from tests/plan_manifest.json; if intended, "
        "regenerate it with tools/plan_manifest.py and say why in CHANGES.md:\n"
        + "\n".join(diffs)
    )
