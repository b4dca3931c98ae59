"""Query registry — every implemented operator exposed as a named query.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable registered with
an optional DuckDB oracle SQL string; the driver's correctness harness
runs both and hash-compares (see ``/root/repo/__spark_entry__.py``).

Submodules group the inventory:

- ``pipeline_q``    — reference-operator analogs over the events table,
                      plus SCD2 / profiling / expectations warehouse ops
- ``relational``    — E5 relational core (joins/aggs/windows/sorts/setops,
                      fuzzy linkage, salted-join gate)
- ``tpch_more``     — the full TPC-H q1-q22 shape set
- ``functions_q``   — scalar function surface (string/date/math/array/json)
- ``llm``           — E1-E4 dedup / similarity / multimodal / text analysis
- ``corpus_q``      — corpus hygiene (Gopher gates, chunk dedup,
                      temperature resampling, compression ratio, CDC)
- ``timeseries_q``  — gap-fill / anomaly / OHLC / funnel / retention /
                      path analysis / sessionization over events
- ``streaming_q``   — watermarked windows, sessions, dedup, interval join
- ``graph_q``       — iterative graph algorithms (PageRank over the
                      event-transition Markov chain)
- ``mining_q``      — round-5 tail: NB classifier, BM25, triangle census,
                      phash near-dup, heavy hitters, leakage-safe split,
                      source overlap, compaction planning, bigram LM,
                      char entropy, rolling median, chi-square, snapshot
                      diff, k-anonymity, balanced classes
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle`` is DuckDB SQL over the fixture views.

    Column names in the Spark result and the oracle MUST match (driver
    sorts columns by name before hashing) — alias everything explicitly.
    """

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: The driver's correctness gate checks the first ``WINDOW`` registered
#: queries per round.
WINDOW = 50

_REPO = Path(__file__).resolve().parents[2]
#: Round-close ledger: ``digests`` (each gate's sf0.01 output md5) and
#: ``changed`` (the round a gate's engine code or values last changed).
LEDGER = _REPO / "data" / "gate_digests.json"


def evidence(root: Path = _REPO) -> tuple[int, dict[str, int]]:
    """``(next round, {gate: last round it MATCHed})`` read from the
    committed driver artifacts ``CORRECTNESS_r<N>.json`` under ``root``.

    A row is evidence only when rows, schema and hash all match.  The
    next round is the latest artifact's round + 1."""
    latest, last = 0, {}
    for path in root.glob("CORRECTNESS_r*.json"):
        tag = path.stem.removeprefix("CORRECTNESS_r")
        if not tag.isdigit():
            continue
        rnd = int(tag)
        latest = max(latest, rnd)
        for gate, row in json.loads(path.read_text()).items():
            if row["rows_match"] and row["schema_match"] and row["hash_match"]:
                last[gate] = max(last.get(gate, 0), rnd)
    return latest + 1, last


def is_pending(gate: str, last: dict[str, int], changed: dict[str, int]) -> bool:
    """Never driver-checked, or changed after its last MATCH."""
    return gate not in last or changed.get(gate, 0) > last[gate]


def rotation(
    names: list[str], last: dict[str, int], changed: dict[str, int]
) -> list[str]:
    """Driver-window order: pending gates first, then the oldest
    evidence first; never-checked gates lead the pending ones.  Ties
    break by gate name, so the order does not depend on which query
    module a process happened to import first."""
    return sorted(
        names,
        key=lambda g: (not is_pending(g, last, changed), last.get(g, 0), g),
    )


def load_all() -> None:
    """Import every query submodule (idempotent), then order both
    registries by ``rotation`` so the driver window checks pending and
    stalest gates first.  Modules importing ``QUERIES``/``ORACLES``
    without calling this see plain registration order."""
    from eventbridge_etl_spark.queries import (  # noqa: F401
        analytics_q,
        corpus_q,
        features_q,
        functions_q,
        graph_q,
        llm,
        mining_q,
        pipeline_q,
        relational,
        streaming_q,
        timeseries_q,
        tpch_more,
    )

    _, last = evidence()
    ledger = json.loads(LEDGER.read_text()) if LEDGER.exists() else {}
    changed = ledger.get("changed", {})
    order = rotation(list(QUERIES), last, changed)
    for reg in (QUERIES, ORACLES):
        ordered = {n: reg[n] for n in order if n in reg}
        reg.clear()
        reg.update(ordered)
