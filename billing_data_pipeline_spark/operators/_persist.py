"""Session-lifetime registry for operator-internal persists.

Several operators persist an intermediate frame that feeds multiple plan
branches (LSH signature frames, MinHash signature tables). The returned
DataFrame is lazy, so the operator itself can never unpersist — and the
cache manager NEVER reclaims persisted frames on its own (unlike
broadcasts, which the ContextCleaner frees on driver GC), so a bench
loop or catalog sweep leaks one corpus-sized cache entry per call
(review r4).

``swept_persist`` keeps the persist but bounds the leak to the LAST
call: each new registration unpersists every previously registered
frame first — by which point prior returned frames have been consumed
(the `_stream_scratch_dir` contract). There is no opt-out: an operator
persists at most one frame through here per call, since a second
registration would evict the first. Unpersisting early is always
SAFE, never wrong: a consumer that somehow still holds an old frame
just recomputes its lineage. Do NOT route persists whose role is a
SEMANTIC plan barrier (e.g. ml_minhash's UDF-predicate fence) through
here — those must outlive any later operator call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def swept_persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``df``, unpersisting all previously registered frames.

    ``eager`` materializes the cache with a count() — use when several
    independent downstream stages would otherwise race to fill it.

    A swept frame may belong to an ALREADY-STOPPED SparkContext (tools
    that spin one session per measurement — co_measure's per-mult
    sessions — stop the JVM between calls; r11, found when the portable
    MinHash tier NPE'd co_measure at x8). Such frames died with their
    JVM, so the sweep's only job is dropping the reference; swallow the
    dead-context error instead of killing the NEW session's first call."""
    while _LIVE:
        try:
            _LIVE.pop().unpersist()
        except Exception:
            # frame belonged to a stopped SparkContext — its cache
            # memory is already gone with the JVM
            pass
    out = df.persist()
    if eager:
        out.count()
    _LIVE.append(out)
    return out
