"""Correctness envelope: the data preconditions that shared SQL fragments
rely on, checked by machine at every local scale factor.

tpch.py's `_UL_*` fragments recover exact cents from the money columns as
`CAST(FLOOR(c * 100 + 0.5) AS BIGINT)` instead of ROUND, because Spark's
ROUND on DOUBLE pays a Double.toString per row. The fragment is exact only
because the columns are non-negative and sit on the cents grid
(tpch.py:76-82). These tests pin that precondition on the data, show Spark
agrees at SF_DIR, and show that a negative exact half breaks the identity,
so the precondition is load-bearing. The last test audits the decimal
widths of tpch.py's exact-decimal fragments in both engines.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

from tests.conftest import SF_DIR

_MONEY_COLS = ("l_extendedprice", "l_discount", "l_tax")
# every generated scale factor beside SF_DIR (TESTDATA.md)
_SF_DIRS = sorted(str(p) for p in Path(SF_DIR).parent.glob("sf*") if p.is_dir())


def _floor_cents(c: str) -> str:
    return f"CAST(FLOOR({c} * 100 + 0.5) AS BIGINT)"


def _exact_cents(c: str) -> str:
    return f"CAST(ROUND(CAST({c} AS DECIMAL(15,2)) * 100) AS BIGINT)"


def _envelope_sql(table: str) -> str:
    cols = []
    for c in _MONEY_COLS:
        cols.append(f"CAST(SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_{c}")
        cols.append(
            f"CAST(SUM(CASE WHEN {_floor_cents(c)} <> {_exact_cents(c)} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS off_{c}"
        )
    return f"SELECT CAST(COUNT(*) AS BIGINT) AS n, {', '.join(cols)} FROM {table}"


@pytest.mark.parametrize("sf_dir", _SF_DIRS)
def test_money_columns_meet_floor_cents_precondition(sf_dir):
    """Every lineitem money column is non-negative, and FLOOR(c*100 + 0.5)
    equals the exact decimal cents on every row."""
    con = duckdb.connect()
    row = con.sql(
        _envelope_sql(f"read_parquet('{sf_dir}/lineitem.parquet')")
    ).fetchone()
    con.close()
    n, rest = row[0], row[1:]
    assert n > 0
    assert all(v == 0 for v in rest), dict(zip(
        [f"{k}_{c}" for c in _MONEY_COLS for k in ("neg", "off")], rest
    ))


def test_floor_cents_precondition_holds_in_spark(spark, duck):
    """Spark computes the same envelope counts as DuckDB at SF_DIR."""
    from hyrise_spark.catalog import load_tables

    session = spark.newSession()
    load_tables(session, SF_DIR, ("lineitem",))
    s_row = tuple(session.sql(_envelope_sql("lineitem")).collect()[0])
    d_row = duck.sql(_envelope_sql("lineitem")).fetchone()
    assert s_row == d_row
    assert all(v == 0 for v in s_row[1:])


def test_negative_exact_half_breaks_floor_identity(spark, duck):
    """c * 100 = -0.5: FLOOR(-0.5 + 0.5) = 0 while exact HALF_UP rounding
    gives -1, in both engines; the positive half +0.5 still agrees (1 = 1).
    Non-negative inputs are therefore a real precondition, not a formality."""
    sql = (
        f"SELECT {_floor_cents('c')} AS fl, {_exact_cents('c')} AS ex "
        "FROM (SELECT CAST(-0.005 AS DOUBLE) AS c UNION ALL "
        "SELECT CAST(0.005 AS DOUBLE) AS c) t ORDER BY c"
    )
    expected = [(0, -1), (1, 1)]
    assert [tuple(r) for r in spark.sql(sql).collect()] == expected
    assert duck.sql(sql).fetchall() == expected


def _decimal_stages() -> list[tuple[str, str]]:
    """(label, expression) for every stage of tpch.py's exact-decimal money
    fragments, as the query texts use them."""
    from hyrise_spark.plans import tpch

    stages = [
        ("price", "CAST(l_extendedprice AS DECIMAL(12,2))"),
        ("one_minus_disc", "CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))"),
        ("one_plus_tax", "CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))"),
        ("disc_price", tpch._DEC_DISC_PRICE),
        ("charge", tpch._DEC_CHARGE),
        ("sum_disc_price", f"SUM({tpch._DEC_DISC_PRICE})"),
        ("sum_charge", f"SUM({tpch._DEC_CHARGE})"),
    ]
    for measure, u, lit, prec in (
        ("disc_price", tpch._UL_DISC_PRICE, "0.0001", "5,4"),
        ("charge", tpch._UL_CHARGE, "0.000001", "7,6"),
    ):
        for step, expr in tpch._split_sum_stages(u, lit, prec).items():
            stages.append((f"split_{measure}_{step}", expr))
    return stages


def _spark_decimal(spark_df) -> tuple[int, int]:
    t = spark_df.schema.fields[0].dataType
    return t.precision, t.scale


def _duck_decimal(duck, expr: str) -> tuple[int, int]:
    import re

    typ = duck.sql(f"SELECT typeof({expr}) FROM lineitem").fetchone()[0]
    m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", typ)
    assert m, f"{expr}: DuckDB types it {typ}"
    return int(m.group(1)), int(m.group(2))


def test_exact_decimal_fragments_stay_below_38_digits(spark, duck):
    """Width audit of `_DEC_DISC_PRICE`, `_DEC_CHARGE` and every stage of
    `_split_sum_2dp`: Spark silently rounds a decimal whose precision would
    pass 38, so each stage is analyzed in Spark and typed with typeof in
    DuckDB, and both stay at or below 38 digits. The Spark types are the ones
    `_split_sum_stages` documents."""
    from hyrise_spark.catalog import load_tables

    session = spark.newSession()
    load_tables(session, SF_DIR, ("lineitem",))
    spark_types, duck_types = {}, {}
    for label, expr in _decimal_stages():
        spark_types[label] = _spark_decimal(session.sql(f"SELECT {expr} AS x FROM lineitem"))
        duck_types[label] = _duck_decimal(duck, expr)
    too_wide = {k: v for k, v in {**spark_types, **duck_types}.items() if v[0] > 38}
    assert not too_wide, (spark_types, duck_types)
    for measure, scaled in (("disc_price", (34, 4)), ("charge", (36, 6))):
        assert spark_types[f"split_{measure}_hi"] == (22, 0)
        assert spark_types[f"split_{measure}_lo"] == (22, 0)
        assert spark_types[f"split_{measure}_hi_scaled"] == (30, 0)
        assert spark_types[f"split_{measure}_total"] == (31, 0)
        assert spark_types[f"split_{measure}_exact"] == (28, 0)
        assert spark_types[f"split_{measure}_scaled"] == scaled
