"""Local mirror of the driver's correctness gate: run every registered
query through Spark AND its DuckDB oracle on the same parquet files,
compare row count, column names, and values (column-name-sorted,
row-sorted — order-insensitive like the driver's value hash)."""

import os

import duckdb
import pandas as pd
import pytest

from mini_lakehouse_control_plane_executor_spark import queries as qlib

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _family(series: pd.Series) -> str:
    """Coarse dtype family for representation-drift detection. The
    driver's value hash stringifies cells, so bigint 2006 vs float64
    2006.0 is a hash mismatch even when every value is numerically
    identical — the r8 `events_value_quantile_sketch` red (an un-cast
    DuckDB window-sum came back HUGEINT→float64). `check_dtype=False`
    below makes that drift invisible locally; this family check makes
    it loud."""
    k = series.dtype.kind
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    if k == "O":
        non_null = series.dropna()
        if len(non_null) == 0:
            return "empty"
        v = non_null.iloc[0]
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, str):
            return "str"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        return "other"
    return "other"


def _assert_dtype_families(left: pd.DataFrame, right: pd.DataFrame, name: str):
    """Per-column family assertion (int vs float vs bool vs str).
    The ONLY tolerated cross-family pair is int↔float when the float
    side carries NaN — pandas has no choice but to promote a nullable
    int column to float64, and the driver compares such cells as null
    anyway. An un-NaN'd int↔float pair is exactly the class of oracle
    typing bug that ships driver-red, so it fails here."""
    bad = []
    for col in left.columns:
        lf, rf = _family(left[col]), _family(right[col])
        if lf == rf or "empty" in (lf, rf):
            continue
        if {lf, rf} == {"int", "float"}:
            floaty = left[col] if lf == "float" else right[col]
            if floaty.isna().any():
                continue
        bad.append(f"{col}: spark={lf} vs oracle={rf}")
    assert not bad, (
        f"{name}: dtype-family drift (driver value-hash would mismatch even "
        f"with identical values): {'; '.join(bad)}"
    )


ORACLES = qlib.all_oracles()
CASES = sorted(qlib.all_queries())

# ORACLE_SHARD="i/n" (0-based) deterministically partitions the case
# list so CI can split the parity gate across jobs WITHOUT sampling —
# every query is still covered, just not all in one job. Unset = all.
_shard = os.environ.get("ORACLE_SHARD")
if _shard:
    _i, _n = (int(x) for x in _shard.split("/"))
    if not (0 <= _i < _n):
        raise ValueError(f"ORACLE_SHARD {_shard!r}: need 0 <= i < n")
    CASES = [c for idx, c in enumerate(CASES) if idx % _n == _i]


@pytest.mark.parametrize("name", CASES)
def test_query_matches_oracle(name, spark, duck):
    fn = qlib.all_queries()[name]
    spark_pdf = fn(spark, SF_DIR).toPandas()
    if name not in ORACLES:
        assert len(spark_pdf) >= 0  # rows-only check, like the driver
        return
    duck_pdf = duck.execute(ORACLES[name]).fetchdf()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), "column names differ"
    assert len(spark_pdf) == len(duck_pdf), "row counts differ"

    left = _normalize(spark_pdf)
    right = _normalize(duck_pdf)
    _assert_dtype_families(left, right, name)
    pd.testing.assert_frame_equal(left, right, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)


def test_sequence_packing_global_baseline(spark, duck):
    """The UNREGISTERED global-packing twin (dropped from the registry
    in r5 because its global cumsum window is a SinglePartition scale
    anti-pattern) stays oracle-pinned here: it is the semantic baseline
    that sequence_packing_sharded's per-shard relaxation is documented
    against, so its exact globally-sequential packing arithmetic must
    keep matching DuckDB even though no production user can run it."""
    assert "sequence_packing" not in qlib.all_queries()  # stays unregistered
    spark_pdf = qlib.sequence_packing(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(qlib._PACKING_SQL).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
    assert len(spark_pdf) == len(duck_pdf)
    left, right = _normalize(spark_pdf), _normalize(duck_pdf)
    _assert_dtype_families(left, right, "sequence_packing")
    pd.testing.assert_frame_equal(
        left, right,
        check_dtype=False, check_exact=False, rtol=0, atol=1e-9,
    )


def test_q1_money_sums_round_the_exact_sum(spark, tmp_path):
    """q1's money sums round the exact decimal sum, in Spark and in the
    oracle. This group's exact ``sum_disc_price`` is a half cent,
    371.32 * 0.9 + 203.63 * 0.9 = 517.455, but the sum of the two
    doubles is 517.4549999999999: rounding that gives 517.45 in both
    engines, while the exact sum rounds to 517.46. Whether a double sum
    lands above or below the half depends on summation order, so on
    real data the engines disagreed."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ship = datetime.datetime(1998, 1, 1)
    pq.write_table(
        pa.table({
            "l_quantity": [1.0, 2.0],
            "l_extendedprice": [371.32, 203.63],
            "l_discount": [0.10, 0.10],
            "l_tax": [0.0, 0.0],
            "l_returnflag": ["N", "N"],
            "l_linestatus": ["F", "F"],
            "l_shipdate": pa.array([ship, ship], pa.timestamp("us")),
        }),
        tmp_path / "lineitem.parquet",
    )
    got = qlib.q1_pricing_summary(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{tmp_path}/lineitem.parquet')"
    )
    want = con.execute(ORACLES["q1_pricing_summary"]).fetchdf()
    con.close()
    for side in (got, want):
        assert side["sum_disc_price"].tolist() == [517.46]
        assert side["sum_charge"].tolist() == [517.46]
    pd.testing.assert_frame_equal(
        _normalize(got), _normalize(want),
        check_dtype=False, check_exact=False, rtol=0, atol=1e-9,
    )


def test_readme_query_count_matches_registry():
    """The README's advertised query count must track the registry
    mechanically — it has drifted twice (175->176 took two manual
    commits); this greps the exact table line and fails on drift."""
    import re

    text = open("README.md").read()
    m = re.search(r"(\d+) queries, each paired with a DuckDB oracle", text)
    assert m, "README query-count line not found (update the grep with the doc)"
    assert int(m.group(1)) == len(qlib.all_queries()), (
        f"README says {m.group(1)} queries; registry has "
        f"{len(qlib.all_queries())} — update README.md"
    )


def test_driver_priority_names_are_registered():
    """Every DRIVER_PRIORITY entry must resolve to a registered query —
    a typo here silently reorders the driver's 50-slot verification
    window and can leave a stale query unverified for a round."""
    missing = [n for n in qlib.DRIVER_PRIORITY if n not in qlib.all_queries()]
    assert missing == [], missing
    # the prefix rule: priority names lead the registry ordering
    head = list(qlib.all_queries())[: len(qlib.DRIVER_PRIORITY)]
    assert head == qlib.DRIVER_PRIORITY
    # no duplicates: a repeated name silently shrinks the effective
    # 50-slot window by one (the r11 verdict's comment-drift lesson,
    # made structural)
    dups = [n for n in set(qlib.DRIVER_PRIORITY)
            if qlib.DRIVER_PRIORITY.count(n) > 1]
    assert dups == [], dups
