"""Plan fingerprints: the mechanical half of the driver-sample pin policy.

Policy (ADVICE r5, slipped twice by r7): any catalog query whose
IMPLEMENTATION changed in a round must ride that round's external driver
sample. Discipline alone missed `heavy_hitter_terms` (r6) and
`date_spine_coverage`/`chunk_documents` (r7), so r8 makes it mechanical:

- each query's fingerprint = sha256 of its NORMALIZED analyzed logical
  plan (expression IDs `#123` stripped — they shift with session state;
  plan text otherwise captures the full operator tree, including changes
  that arrive through shared helpers the query's own source never shows);
- `tools/plan_fingerprints.json` records the fingerprints as of the last
  time each query rode an external sample, and the session parallelism
  they were computed at: analyzed plans embed it (`Range(..., splits=N)`,
  `session.fan_out`'s `Repartition N`);
- tests/test_pin_policy.py recomputes them at that parallelism (one
  subprocess with `SPARK_GRAFT_CPUS` pinned) and FAILS when a fingerprint
  drifted but the query is not in the current first-50 driver sample;
- end of round (after CORRECTNESS_r{N} lands green) regenerate with
  `python -m tools.plan_fingerprints`.

Queries whose plan embeds driver-collected values (k-means centroids,
sampled probes) stay stable because the testdata and seeds are fixed;
if the data regenerates, every fingerprint shifts and the manifest is
rebuilt wholesale — conservative in exactly the right direction.

Known blind spot: streaming catch-up queries return a batch scan of
their sink table, so the fingerprint sees the FINAL plan, not the
foreachBatch internals — changes there still need a discipline pin
(the streaming test suite plus the flagship streaming pin cover the
common path).
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

MANIFEST = Path(__file__).with_name("plan_fingerprints.json")
SF_DIR = "/root/testdata/sf0.001"

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
#: session-scoped noise: uid-suffixed temp views (`_docs_for_runs_7fab…`),
#: ML stage uids (`inputCol_974fa916c41b`), run/checkpoint hex tokens,
#: and per-run temp paths — none describe the operator tree.
#: require at least one a-f so long DECIMAL literals (e.g. a 1e9+7
#: modulus) keep their value in the fingerprint. That lookahead left a
#: REAL flake for the 8-char uuid slices in memory-sink names
#: (`catchup_<8 hex>`): an all-digit slice is a (10/16)^8 ≈ 2.3% event
#: per call — observed once on streaming_session_catchup (r9). The
#: suffix rule below normalizes the uuid slice regardless of letters.
#: Anchored to the EXACT sink/view prefixes this codebase generates
#: (ADVICE r9: a bare `word_<8 hex>` rule also collapsed 8-digit dates /
#: hex-ish suffixes inside genuine literals like `run_20240101`, so two
#: semantically different plans could share a fingerprint). The
#: alternation is DERIVED from the shared mint-site constant (ADVICE
#: r10: a hand-maintained whitelist silently drifts when a new sink or
#: view prefix lands, reviving the all-digit-uuid flake for that
#: operator; now _names.uid_name refuses unregistered prefixes and this
#: regex picks new ones up automatically). Longer alternatives first so
#: `sess_catchup` wins over `catchup`.
_HEX_UID = re.compile(r"(?=[0-9]*[a-f])[0-9a-f]{8,}")
import sys as _sys

_sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from billing_data_pipeline_spark._names import PLAN_UID_PREFIXES

_UID_SUFFIX = re.compile(
    r"\b(_?(?:"
    + "|".join(
        re.escape(p)
        for p in sorted(PLAN_UID_PREFIXES, key=len, reverse=True)
    )
    + r"))_[0-9a-f]{8,16}\b"
)
_TMP_PATH = re.compile(r"(?:file:)?/tmp/\S+")
#: lambda variables carry a session-global counter (`lambda x_1#`).
_LAMBDA_VAR = re.compile(r"\blambda ([a-z]+)_\d+")


def plan_fingerprint(df) -> str:
    text = df._jdf.queryExecution().analyzed().toString()
    text = _EXPR_ID.sub("#", text)
    text = _PLAN_ID.sub("plan_id=", text)
    text = _UID_SUFFIX.sub(r"\1_<uid>", text)
    text = _HEX_UID.sub("<uid>", text)
    text = _TMP_PATH.sub("<tmp>", text)
    text = _LAMBDA_VAR.sub(r"lambda \1_", text)
    return hashlib.sha256(text.encode()).hexdigest()


def compute_all(spark) -> dict[str, str]:
    from billing_data_pipeline_spark.registry import load_catalog

    out: dict[str, str] = {}
    for name, spec in load_catalog().items():
        out[name] = plan_fingerprint(spec.fn(spark, SF_DIR))
    return dict(sorted(out.items()))


def current() -> dict:
    """``{"parallelism", "fingerprints"}`` of this process's session
    (``SPARK_GRAFT_CPUS`` sets its parallelism)."""
    from billing_data_pipeline_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    return {
        "parallelism": spark.sparkContext.defaultParallelism,
        "fingerprints": compute_all(spark),
    }


def main() -> None:
    manifest = current()
    MANIFEST.write_text(json.dumps(manifest, indent=1) + "\n")
    print(
        f"wrote {len(manifest['fingerprints'])} fingerprints at parallelism"
        f" {manifest['parallelism']} to {MANIFEST}"
    )


if __name__ == "__main__":
    main()
