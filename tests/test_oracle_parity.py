"""Local replica of the driver's correctness gate: run every registered
query AND its DuckDB oracle on the same parquet, compare row count,
column names, and (order-insensitively) every value.  Queries without an
oracle get a rows-only sanity check."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from eventbridge_etl_spark.queries import ORACLES, QUERIES

from .conftest import SF_DIR_ORACLE

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


# The canonicalizer is shared with scripts/verify.py sweep — one
# comparator for both correctness gates (see compare.py's design notes)
from eventbridge_etl_spark.compare import normalize_frame as normalize  # noqa: E402


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    # Centralized cache cleanup (mirrors __spark_entry__._fresh_cache):
    # release the previous query's engine-persisted blocks so a
    # full-registry sweep in one session doesn't accumulate storage
    # until eviction.  Scoped (not clearCache) — exercises the same
    # tracked-release path the driver uses.
    from eventbridge_etl_spark.cache import release_tracked

    release_tracked()
    result = QUERIES[name](spark, SF_DIR_ORACLE).toPandas()
    if name not in ORACLES:
        assert len(result) >= 0  # rows-only check: runs, stable schema
        return
    expected = duck.execute(ORACLES[name]).fetchdf()
    got_cols, got_rows = normalize(result)
    exp_cols, exp_rows = normalize(expected)
    assert got_cols == exp_cols, f"{name}: column mismatch {got_cols} vs {exp_cols}"
    assert len(got_rows) == len(exp_rows), f"{name}: row count {len(got_rows)} vs {len(exp_rows)}"
    mismatches = [
        (g, e) for g, e in zip(got_rows, exp_rows) if g != e
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["hour", "event_type", "n_users", "sum_value", "avg_k"]
