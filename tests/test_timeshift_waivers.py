"""CI pin for the four timeshift streaming waivers (VERDICT r9 #7).

``scripts/verify.py battery`` already runs ``verify.py waivers`` after
the timeshift sweep, but the battery is a manual command — a
waiver drifting (a code change that alters WHAT the watermark drops, or
a fixture change that moves the straddle band) would only surface on
the next battery run.  This test makes the derived-set assertion part
of every ``pytest tests/`` run: generate the timeshift fixture from the
clean sf0.01 corpus, then require the checker's full DERIVED-MATCH —
each waived gate's divergence must EQUAL the epoch-watermark late-drop
derivation, not merely be drop-only.

Subprocess on purpose: the checker owns its SparkSession config (the
sweep's) and must keep working as the standalone battery step; CI just
pins its exit code.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

# conftest's fixture-dir pattern (ADVICE r10): env-overridable, and a
# box without the fixture SKIPS instead of erroring in the fixture
SRC = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def timeshift_dir(tmp_path_factory):
    if not os.path.isdir(SRC):
        pytest.skip(f"source fixture dir missing: {SRC}")
    out = tmp_path_factory.mktemp("advfix_waiver")
    subprocess.run(
        [sys.executable, "scripts/gen_adversarial_fixture.py", SRC, str(out)],
        check=True,
        capture_output=True,
    )
    return out / "timeshift"


def test_timeshift_waivers_derive_exactly(timeshift_dir):
    proc = subprocess.run(
        [
            sys.executable,
            "scripts/verify.py",
            "waivers",
            str(timeshift_dir),
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    out = proc.stdout
    assert proc.returncode == 0, f"waiver check failed:\n{out}\n{proc.stderr[-2000:]}"
    assert "WAIVER CHECK DONE gates=4 bad=0" in out, out
    assert out.count("DERIVED-MATCH") == 4, out
