"""Canary oracle parity on the generated fixture VARIANTS.

The full seven-surface sweep (scripts/verify.py sweep × clean / adv /
empty / signmag / timeshift / longtext / unicode) is a manual,
~90-minute battery; CI cannot afford it.  But the two variant classes
round 7 session 4 fixed — the Unicode trim/lower tokenizer alignment
and the quadratic-per-document mode counts — would regress silently on
the clean ASCII/KB fixture.  This module re-runs a small CANARY subset
of gates against the unicode and longtext variants so those classes
stay pinned in CI:

- unicode canaries: one gate per divergence family the variant flushed
  (tokenizer trim charset, Java-vs-simple lower, sentence-trim edges,
  coalesce-trim chunking).
- longtext canaries: the two gates that ground unbounded before the
  session-4 rewrites (DuckDB substr-in-lambda byte histogram; the
  O(distinct × n) mode count with its engine-side tokenizer
  re-evaluation).  A hang here IS the failure mode — pytest's runtime
  would blow up — so a generous per-test timeout is not needed; the
  assert on values covers the semantics.

Fixture generation is module-scoped (~3 s, pure DuckDB).
"""

from __future__ import annotations

import subprocess
import sys

import duckdb
import pytest

import __spark_entry__  # noqa: F401 — load_all() populates the registry
from eventbridge_etl_spark.compare import normalize_frame as normalize
from eventbridge_etl_spark.queries import ORACLES, QUERIES

SRC = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

UNICODE_CANARIES = (
    "text_token_stats",  # shared tokenizer: trim charset + İ lower
    "text_document_frequency",  # token VALUES carry the Java lower form
    "text_sentence_spans",  # bare-trim edges (U+3000 / NBSP)
    "dedup_chunk_level",  # trim(coalesce(...)) chunking path
)
LONGTEXT_CANARIES = (
    "multimodal_byte_histogram",  # DuckDB substr-in-lambda class
    "text_repetition_stats",  # O(distinct × n) mode class, both sides
    "dedup_minhash_lsh",  # lateral list-carry in the shared sig CTE
)


@pytest.fixture(scope="module")
def variant_dirs(tmp_path_factory):
    out = tmp_path_factory.mktemp("variantfix")
    subprocess.run(
        [sys.executable, "scripts/gen_adversarial_fixture.py", SRC, str(out)],
        check=True,
        capture_output=True,
    )
    return out


def _assert_parity(spark, sf_dir: str, name: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    got_cols, got_rows = normalize(QUERIES[name](spark, sf_dir).toPandas())
    exp_cols, exp_rows = normalize(con.execute(ORACLES[name]).fetchdf())
    con.close()
    assert got_cols == exp_cols, f"{name}: column mismatch"
    assert len(got_rows) == len(exp_rows), (
        f"{name}: row count {len(got_rows)} vs {len(exp_rows)}"
    )
    mismatches = [(g, e) for g, e in zip(got_rows, exp_rows) if g != e]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:2]}"
    )


@pytest.mark.parametrize("name", UNICODE_CANARIES)
def test_unicode_canary(spark, variant_dirs, name):
    _assert_parity(spark, f"{variant_dirs}/unicode", name)


@pytest.mark.parametrize("name", LONGTEXT_CANARIES)
def test_longtext_canary(spark, variant_dirs, name):
    _assert_parity(spark, f"{variant_dirs}/longtext", name)
