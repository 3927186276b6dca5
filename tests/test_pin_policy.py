"""Mechanical driver-sample pin policy (closes VERDICT r7 item 4): a
query whose analyzed plan drifted from the recorded manifest MUST be in
the current first-50 driver sample, so implementation changes can't skip
the external correctness gate on discipline alone.

Regenerate the manifest at end of round (after the external sample rode
green): `python -m tools.plan_fingerprints`.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from billing_data_pipeline_spark.registry import load_catalog
from tools.plan_fingerprints import MANIFEST

CATALOG = load_catalog()
SAMPLE = set(list(CATALOG)[:50])


@pytest.fixture(scope="module")
def manifest():
    if not MANIFEST.exists():
        pytest.skip("no fingerprint manifest yet — run tools.plan_fingerprints")
    return json.loads(MANIFEST.read_text())


@pytest.fixture(scope="module")
def fingerprints(manifest):
    """Every query's fingerprint now, at the parallelism the manifest was
    recorded at, whatever this host's core count: one subprocess with
    ``SPARK_GRAFT_CPUS`` pinned."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import json; from tools.plan_fingerprints import current;"
            " print(json.dumps(current()))",
        ],
        cwd=Path(__file__).resolve().parent.parent,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(manifest["parallelism"])},
        capture_output=True,
        text=True,
        check=True,
    )
    now = json.loads(out.stdout.strip().splitlines()[-1])
    assert now["parallelism"] == manifest["parallelism"]
    return now["fingerprints"]


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_changed_plan_rides_the_driver_sample(manifest, fingerprints, name):
    fp = fingerprints[name]
    recorded = manifest["fingerprints"].get(name)
    if recorded is None:
        assert name in SAMPLE, (
            f"{name} is new since the manifest was recorded but is not in "
            "the first-50 driver sample — pin it in DRIVER_SAMPLE_PRIORITY"
        )
        return
    if fp != recorded:
        assert name in SAMPLE, (
            f"{name}'s analyzed plan changed since its last external "
            "sample ride — pin it in DRIVER_SAMPLE_PRIORITY (or, if the "
            "change is from a testdata regeneration, rebuild the manifest "
            "with `python -m tools.plan_fingerprints`)"
        )
