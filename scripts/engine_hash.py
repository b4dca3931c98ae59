"""Engine-only value hashes: one md5 per registry gate over its Spark
output on a fixture, canonicalized by the shared comparator.

A rewrite meant to be value-identical is proven so by running the gate
at the OLD and NEW commits and comparing outputs; at round close the
full-registry hashes feed ``scripts/preclose_gate_check.py``, which
marks every gate whose digest changed as pending for the driver window
(COVERAGE.md §"Driver-window rotation").  Typical use::

    # new side, at HEAD
    python scripts/engine_hash.py > /tmp/hash_new.txt
    # old side, from a worktree at the pre-change commit
    git worktree add /tmp/old <sha>
    (cd /tmp/old && python scripts/engine_hash.py) > /tmp/hash_old.txt
    diff /tmp/hash_old.txt /tmp/hash_new.txt   # empty = value-identical

Knobs mirror oracle_sweep.py: ``SWEEP_SF`` (fixture dir, default clean
sf0.01), ``SWEEP_MASTER``, ``SWEEP_SHUF``, ``SWEEP_DRIVER_MEM``,
``SWEEP_ONLY`` (comma-separated gate names — scope to the touched
gates; a typo fails loudly).  Output lines are ``<gate> <md5>`` sorted
by gate name; errors print ``<gate> ERROR <exc>`` so a crash on one
side still diffs loudly instead of vanishing.

The SparkSession block below is a DELIBERATE copy of oracle_sweep.py's
(timezone, nanosAsLong, shuffle partitions): hashes are only comparable
with sweep behavior if the configs match, but this script must stay
self-contained because the old-vs-new workflow COPIES it into a
worktree of an older commit, where any shared helper module may not
exist yet.  tests/test_verification_tools.py asserts the two config
blocks are literally identical, so drift fails CI instead of silently
skewing the value-identity check.
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as m
from eventbridge_etl_spark.compare import normalize_frame
from pyspark.sql import SparkSession

sf = os.environ.get("SWEEP_SF", "/root/testdata/sf0.01")
spark = (
    SparkSession.builder.master(os.environ.get("SWEEP_MASTER", "local[8]"))
    .config("spark.sql.shuffle.partitions", os.environ.get("SWEEP_SHUF", "8"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.driver.memory", os.environ.get("SWEEP_DRIVER_MEM", "4g"))
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

qs = m.queries()
only = {n for n in os.environ.get("SWEEP_ONLY", "").split(",") if n}
unknown = only - set(qs)
if unknown:
    sys.exit(f"SWEEP_ONLY names not in the registry: {sorted(unknown)}")

for name in sorted(qs):
    if only and name not in only:
        continue
    try:
        pdf = qs[name](spark, sf).toPandas()
        cols, rows = normalize_frame(pdf)
        digest = hashlib.md5(repr((cols, rows)).encode()).hexdigest()
        print(f"{name} {digest}", flush=True)
    except Exception as exc:  # noqa: BLE001 — report, keep sweeping
        print(f"{name} ERROR {type(exc).__name__}: {exc}".split("\n")[0], flush=True)
