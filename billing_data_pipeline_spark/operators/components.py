"""[EXT] Connected components for near-duplicate cluster resolution.

Pairwise near-dup detection (MinHash/SimHash/embedding-cosine) yields
EDGES; dedup policy usually needs CLUSTERS — "keep one canonical doc per
group of transitively-connected near-dups". Greedy keep-first (drop the
larger id of every pair, operators/similarity.cosine_dedup_survivors) can
over-keep on chains (a~b, b~c, a!~c drops b and c but keeps a AND c's
cluster split); transitive closure is the principled answer and needs an
iterative fixpoint — the one genuinely non-single-pass operator in the
dedup stack.

Implementation: alternating large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Each round
rewires edges toward neighborhood minima — large-star hangs every
larger-than-center neighbor off the neighborhood min, small-star collapses
the smaller neighbors — which squares the label-jump distance per round:
O(log n) rounds on any topology, vs O(diameter) for plain min-label
propagation (a 64-node chain converges in ~8 alternations instead of 63
label hops — regression-tested). Each half-round is one groupBy(min) +
one co-partitioned join on the node key over the CURRENT edge set (which
only shrinks toward stars); `localCheckpoint` truncates the growing
lineage so round N's plan does not replay rounds 1..N-1.

Convergence detection is driver-side but O(1) data: labels only ever
decrease, so SUM(label) is strictly decreasing until fixpoint and equal
exactly at it — one scalar action per round, no row-level diff join.
Because a (count, sum, sum) signature can in principle collide between two
DIFFERENT edge sets (review r4), a signature match is only a CANDIDATE
fixpoint: it is confirmed with an exact ``exceptAll(...).isEmpty()`` set
comparison on the two checkpointed frames, which runs once at the end of
contraction instead of every round. Exhausting ``max_rounds`` without a
confirmed fixpoint raises rather than returning a partially contracted
(wrong) result.

Oracle: DuckDB expresses the same fixpoint declaratively as a recursive
CTE (reachability, then MIN over reached ids per node) — so even this
iterative operator is hash-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 25


def _star_contract(edges: DataFrame, max_rounds: int) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction. ``edges`` must be
    canonical (a > b, no self-loops, distinct). Returns (star_edges,
    rounds): star_edges is (a, b) with b = the component min for every
    non-min node a. Empty input returns immediately. The INPUT's own
    signature seeds the fixpoint test, so an already-star edge set
    converges in round 1 (review r6: unseeded, confirmation could only
    fire from round 2, and max_rounds=1 spuriously raised on trivially
    converged inputs)."""
    e = edges.localCheckpoint(eager=True)
    if e.isEmpty():
        # the docstring's promise made real (review r6: a corpus with zero
        # near-dup edges — the common clean case — ran two full
        # distributed rounds and raised on max_rounds=1)
        return e, 0
    prev_sig = tuple(
        e.agg(F.count(F.lit(1)), F.sum("a"), F.sum("b")).collect()[0]
    )
    rounds = 0
    converged = False
    for rounds in range(1, max_rounds + 1):
        # the round's INPUT frame: the fixpoint test below is "did this
        # round leave the edge set unchanged" — comparing output to input
        # (review r4: a trailing `prev = e` made the old post-loop check
        # compare e with itself, silently accepting non-convergence)
        prev = e
        # large-star: every neighbor v > u hangs off m = min(Γ(u) ∪ {u})
        bidir = e.selectExpr("a AS u", "b AS v").unionByName(
            e.selectExpr("b AS u", "a AS v")
        )
        m = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        e = (
            bidir.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star: smaller neighbors (and u itself) collapse onto m
        dm = e.groupBy("a").agg(F.min("b").alias("m"))
        pairs = e.join(dm, "a")
        e = (
            pairs.filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(dm.select(F.col("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # edge set stable => star fixpoint; one scalar action per round.
        # The signature is a fast-path filter only — a match is confirmed
        # with an exact set comparison (both frames are distinct and
        # checkpointed, so exceptAll is one cheap join at the fixpoint;
        # equal counts ride in the signature, so one-directional subset
        # implies equality). A true fixpoint ALWAYS matches the previous
        # round's signature (sig is a pure function of the edge set), so
        # loop exhaustion genuinely means not-converged — no post-loop
        # re-check needed.
        sig = tuple(
            e.agg(
                F.count(F.lit(1)), F.sum("a"), F.sum("b")
            ).collect()[0]
        )
        if sig == prev_sig and e.exceptAll(prev).isEmpty():
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {rounds} rounds "
            f"(max_rounds={max_rounds}) — raise max_rounds; returning a "
            "partially contracted result would mislabel components"
        )
    return e, rounds


def connected_components(
    nodes: DataFrame, edges: DataFrame, id_col: str = "id"
) -> DataFrame:
    """(id) + undirected (src, dst) edges -> (id, component_id) where
    component_id = min node id reachable from id. Deterministic; singleton
    nodes keep their own id. O(log n) rounds via alternating stars (module
    docstring).

    PRECONDITION: ``nodes`` must be id-unique — this emits one output row
    per input node ROW (no dedup shuffle is spent re-proving what the
    caller knows), while the oracle's final GROUP BY collapses
    duplicates, so duplicate ids break the row-count/hash gate (review
    r7). All catalog callers pass primary keys (doc_id / vec_id), same
    contract as per_group_sample's key_col."""
    canon = (
        edges.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    stars, _rounds = _star_contract(canon, MAX_ROUNDS)
    centers = stars.groupBy("a").agg(F.min("b").alias("component_id"))
    return nodes.select(F.col(id_col).alias("id")).join(
        centers, F.col("id") == F.col("a"), "left"
    ).select(
        "id", F.coalesce("component_id", F.col("id")).alias("component_id")
    )


def components_oracle_sql(nodes_sql: str, pairs_sql: str, id_col: str) -> str:
    """DuckDB twin: recursive reachability closure, then MIN(reached) per
    node. ``pairs_sql`` must yield columns (id_a, id_b); ``nodes_sql`` a
    relation with ``id_col``. UNION (distinct) bounds the working set and
    guarantees termination."""
    return f"""
WITH RECURSIVE pairs AS (
    SELECT id_a, id_b FROM ({pairs_sql}) p
),
e AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT {id_col}, {id_col} FROM ({nodes_sql}) n
    UNION
    SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
)
SELECT src AS {id_col}, MIN(dst) AS component_id FROM reach GROUP BY src
"""
