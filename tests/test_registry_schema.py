"""Registry-wide lint: registered query OUTPUTS must be scalar-typed.

The driver's correctness harness canonicalizes each result with pandas
(sort_values over every column, then value-hash); ArrayType / MapType /
StructType columns arrive as Python lists/dicts, which are unhashable and
break that sort (`TypeError: unhashable type: 'list'` — the one red row in
CORRECTNESS_r09). Complex types are fine INSIDE a plan (collect_set,
sort_array, UNNEST, sketch state); at the output boundary they must be
reduced to scalars (array_join / to_json / element extraction) so every
differential harness — driver, local sweep, DuckDB oracle — can sort and
hash the frame.

Schema inspection is analysis-only (no job runs for pure-DataFrame
builders); a handful of builders execute bounded driver-side work at build
time (recursive-CTE fixpoint probes, BPE merge loop) — the same cost the
oracle sweep already pays.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import types as T

from hyrise_spark.registry import all_queries
from tests.conftest import SF_DIR

COMPLEX = (T.ArrayType, T.MapType, T.StructType)


@pytest.mark.slow  # full-registry output sweep; full run only (HYRISE_SPARK_FULL_TESTS=1)
def test_no_complex_types_in_registered_outputs(spark):
    offenders = []
    for name, qd in sorted(all_queries().items()):
        df = qd.builder(spark, SF_DIR)
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, COMPLEX)
        ]
        if bad:
            offenders.append(f"{name}: {', '.join(bad)}")
    assert not offenders, (
        "registered queries with complex-typed output columns "
        "(stringify with array_join/to_json at the boundary):\n"
        + "\n".join(offenders)
    )


QUERIES = all_queries()
_SQL_QUERIES = sorted(n for n, qd in QUERIES.items() if qd.sql_tables is not None)


@pytest.fixture(scope="module")
def isolated_spark(spark):
    """A session with its own temp-view namespace (same SparkContext): a
    text can only see the views its own builder registered."""
    return spark.newSession()


@pytest.mark.parametrize("name", _SQL_QUERIES)
def test_register_sql_text_reads_only_its_own_views(isolated_spark, duck, name):
    """register_sql builders: every table the text names is a view the
    builder itself registers (never one left over from an earlier builder),
    and Spark's output column names equal DuckDB's for the same text.
    Analysis only on both engines — no job runs."""
    qd = QUERIES[name]
    for t in isolated_spark.catalog.listTables():
        if t.isTemporary:
            isolated_spark.catalog.dropTempView(t.name)
    df = qd.builder(isolated_spark, SF_DIR)
    views = {t.name for t in isolated_spark.catalog.listTables() if t.isTemporary}
    assert duckdb.get_table_names(qd.oracle) <= views
    assert df.columns == duck.sql(qd.oracle).columns
