"""Output checks for the benchmark, run after the timed window.

- ingest: the keyed store must equal a pure-Python last-writer-wins
  replay of the seed file and every landed file, and the rows the stream
  read must equal the rows landed (the reference Observe stage's
  extracted == loaded reconciliation);
- queries: each query's collected result must equal its DuckDB oracle
  over the same generated tables, by ``compare.frame_digest`` (falling
  back to ``compare.normalize_frame`` for array columns).
"""

from __future__ import annotations

import csv
import glob
import os

#: Column order of a stored address row (``ADDRESS_RENAMES`` targets).
STORE_COLUMNS = ("id", "house_number", "street_address", "town", "zip")

#: ``last_writer`` value for keys whose final row came from the seed file.
SEED = -1


def read_csv_rows(path: str) -> list[tuple]:
    """Address rows of one landed CSV, typed like the store's columns."""
    with open(path, newline="") as fh:
        reader = csv.reader(fh)
        next(reader)
        return [(int(i), int(h), s, t, z) for i, h, s, t, z in reader]


def replay_lww(
    seed_rows: list[tuple], landed: list[list[tuple]]
) -> tuple[dict[int, tuple], dict[int, int]]:
    """Expected store after landing ``landed`` files in order.

    Returns ``(key -> row, key -> index of the file that wrote it last)``,
    the index being ``SEED`` for keys no landed file touched.
    """
    expected = {row[0]: row for row in seed_rows}
    last_writer = dict.fromkeys(expected, SEED)
    for idx, rows in enumerate(landed):
        for row in rows:
            expected[row[0]] = row
            last_writer[row[0]] = idx
    return expected, last_writer


def store_failures(
    actual: list[tuple], expected: dict[int, tuple], last_writer: dict[int, int]
) -> tuple[set[int], bool]:
    """Compare stored rows with the replay.

    Returns ``(indices of landed files with a wrong or missing row,
    unattributed)``; ``unattributed`` is set when some error cannot be
    pinned on a landed file: a wrong seed row, a duplicate key, or a key
    the replay never wrote.
    """
    bad_files: set[int] = set()
    unattributed = False
    seen: set[int] = set()
    for row in actual:
        key = row[0]
        if key in seen or key not in expected:
            unattributed = True
            continue
        seen.add(key)
        if tuple(row) != expected[key]:
            writer = last_writer[key]
            if writer == SEED:
                unattributed = True
            else:
                bad_files.add(writer)
    for key in expected.keys() - seen:
        writer = last_writer[key]
        if writer == SEED:
            unattributed = True
        else:
            bad_files.add(writer)
    return bad_files, unattributed


def read_store(root: str) -> list[tuple]:
    """Every row of a ``KeyedParquetStore`` directory, read with pyarrow."""
    import pyarrow.parquet as pq

    rows: list[tuple] = []
    for path in sorted(glob.glob(os.path.join(root, "_kb=*", "*.parquet"))):
        table = pq.read_table(path, columns=list(STORE_COLUMNS))
        rows.extend(zip(*(table.column(c).to_pylist() for c in STORE_COLUMNS)))
    return rows


def frames_match(got, expected) -> bool:
    """Order-insensitive value equality of two pandas frames."""
    from eventbridge_etl_spark.compare import frame_digest, normalize_frame

    if sorted(got.columns) != sorted(expected.columns):
        return False
    dg, de = frame_digest(got), frame_digest(expected)
    if dg is not None and de is not None:
        return dg == de
    return normalize_frame(got) == normalize_frame(expected)
