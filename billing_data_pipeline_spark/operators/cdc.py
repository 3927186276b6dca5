"""Snapshot diffing — CDC rows from two table versions.

The reference has no change capture (its incrementality is file-level,
reference: pipeline/assets/ingest.py:217-231); at warehouse scale the
standard need is the inverse of ingestion: given two snapshots of a keyed
table (e.g. two ``SnapshotTable`` versions), emit the row-level changes
between them — inserts, deletes, and updates — so downstream consumers can
merge incrementally instead of rescanning.

Semantics (Delta's ``table_changes`` shape, minus the engine):
- key present only in ``new``           -> ``insert``
- key present only in ``old``           -> ``delete``
- key in both, any tracked column differs (null-safe) -> ``update``
- identical rows are NOT emitted.
- a NULL-keyed row has no identity: it can never be an ``update``.
  NULL-keyed rows diff as a row-level MULTISET difference — identical
  copies net out (review r6: the plain key join never matched them, so
  every unchanged NULL-keyed row emitted a phantom delete+insert pair on
  every diff, violating the invariant above); surplus copies emit as
  insert/delete.

Plan shape: ONE full-outer sort-merge/shuffle join on the key — the only
data-sized exchange; per-column null-safe comparisons happen in the join's
projection, no row hashing (hashing would be engine-private and would also
false-positive on float formatting). At 100 TB both sides shuffle once on
the same key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The builders below assemble their hot projection lists as selectExpr
# strings (ONE py4j round-trip per select instead of 3-5 per Column op;
# the Column forms cost the CDC bench row ~0.35 s of driver-side
# construction per invocation), and operator callers pass arbitrary
# column names — hence the quoting helper.
from .._names import sql_ident as _q


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    null_keys: str = "multiset",
) -> DataFrame:
    """Row-level changes old -> new. Output: key columns, ``change``
    ('insert' | 'delete' | 'update'), then ``old_<c>``/``new_<c>`` for every
    compared column.

    ``null_keys`` picks the NULL-key contract:
    - ``"multiset"`` (default): NULL-keyed rows diff as a row-level
      multiset (module docstring) — correct for arbitrary inputs, at the
      cost of two extra IS NULL-filtered aggregate subtrees in the plan.
    - ``"absent"``: the caller asserts keys are never NULL (primary
      keys); both sides get a defensive pushed-to-scan IS NOT NULL filter
      and the multiset branch is omitted — the single-join plan the
      module docstring's scale shape describes. Measured: the multiset
      branch cost the CDC bench row +0.4 s at sf0.1 for rows that cannot
      exist on a key column (review r6)."""
    if null_keys not in ("multiset", "absent"):
        raise ValueError(f"null_keys must be multiset|absent, got {null_keys!r}")
    if not keys:
        # plan-time guard (review r7): the reduce() over key nullness
        # raised an opaque TypeError, and a bypass would degrade the key
        # join to a cross join — same explicit-ValueError convention as
        # range_join's window_seconds / salted_join's n_salts
        raise ValueError(
            "diff_snapshots needs at least one key column (compare_cols=[]"
            " is the presence-only mode; keys=[] has no meaning)"
        )
    # `is not None`, not falsy-or (review r5): an explicit [] means a
    # presence-only diff (inserts/deletes, no update detection) — the
    # falsy idiom silently substituted every non-key column
    cols = (
        compare_cols
        if compare_cols is not None
        else [c for c in new.columns if c not in keys]
    )
    # Reserved-name guard (review r7, same class as asof_join_backward's
    # r5 fix): the output claims `change` / old_<c> / new_<c>, and the
    # join stage claims _ok_/_nk_/_o_present/_n_present scratch names —
    # a key or compared column colliding with any of them silently
    # yields duplicate/ambiguous output columns far from the cause.
    claimed = {"change", "_o_present", "_n_present"}
    claimed |= {f"old_{c}" for c in cols} | {f"new_{c}" for c in cols}
    claimed |= {f"_ok_{k}" for k in keys} | {f"_nk_{k}" for k in keys}
    bad = sorted(claimed & set(keys))
    if bad:
        raise ValueError(
            f"key column(s) {bad} collide with diff_snapshots' output/"
            "scratch names (change, old_*/new_*, _ok_*/_nk_*, *_present);"
            " rename them before diffing"
        )
    # NULL-keyed rows bypass the key join entirely (they have no identity
    # to join on — see module docstring): multiset-diff them row-wise, so
    # identical copies net out instead of churning delete+insert pairs.
    any_null = " OR ".join(f"{_q(k)} IS NULL" for k in keys)

    if null_keys == "absent":
        old = old.filter(f"NOT ({any_null})")
        new = new.filter(f"NOT ({any_null})")
        return _diff_keyed(old, new, keys, cols)
    old_nulls = old.filter(any_null).select(*keys, *cols)
    new_nulls = new.filter(any_null).select(*keys, *cols)
    null_deletes = old_nulls.exceptAll(new_nulls).select(
        *keys,
        F.lit("delete").alias("change"),
        *[F.col(c).alias(f"old_{c}") for c in cols],
        *[F.lit(None).cast(old.schema[c].dataType).alias(f"new_{c}") for c in cols],
    )
    null_inserts = new_nulls.exceptAll(old_nulls).select(
        *keys,
        F.lit("insert").alias("change"),
        *[F.lit(None).cast(new.schema[c].dataType).alias(f"old_{c}") for c in cols],
        *[F.col(c).alias(f"new_{c}") for c in cols],
    )
    old = old.filter(f"NOT ({any_null})")
    new = new.filter(f"NOT ({any_null})")
    keyed = _diff_keyed(old, new, keys, cols)
    return keyed.unionByName(null_deletes).unionByName(null_inserts)


def _diff_keyed(
    old: DataFrame, new: DataFrame, keys: list[str], cols: list[str]
) -> DataFrame:
    """The keyed (non-NULL-key) full-outer-join diff — ONE data-sized
    exchange, comparisons in the projection."""
    # Per-side presence markers: classification must NOT key off key-column
    # nullness — a literal TRUE is NULL after the full outer join exactly
    # when the side is absent (with NULL keys now split out above, this is
    # belt-and-braces rather than load-bearing).
    #
    # All projections assemble as selectExpr strings (see _q): the SQL
    # parses to the identical expression trees the Column loops built —
    # same null-safe <=> comparisons, same no-ELSE CASE (NULL for
    # unchanged rows), same left-associated OR chain — at one py4j
    # round-trip per select instead of per column.
    o = old.selectExpr(
        *[f"{_q(k)} AS {_q(f'_ok_{k}')}" for k in keys],
        *[f"{_q(c)} AS {_q(f'old_{c}')}" for c in cols],
        "true AS _o_present",
    )
    n = new.selectExpr(
        *[f"{_q(k)} AS {_q(f'_nk_{k}')}" for k in keys],
        *[f"{_q(c)} AS {_q(f'new_{c}')}" for c in cols],
        "true AS _n_present",
    )
    cond = F.expr(
        " AND ".join(f"{_q(f'_ok_{k}')} = {_q(f'_nk_{k}')}" for k in keys)
    )
    joined = o.join(n, cond, "full_outer")

    changed = "false"
    for c in cols:
        # null-safe inequality: engine-neutral, no hashing/formatting
        changed = f"({changed} OR (NOT ({_q(f'old_{c}')} <=> {_q(f'new_{c}')})))"
    change_sql = (
        "CASE WHEN _o_present IS NULL THEN 'insert' "
        "WHEN _n_present IS NULL THEN 'delete' "
        f"WHEN {changed} THEN 'update' END"
    )
    return joined.selectExpr(
        *[
            f"coalesce({_q(f'_ok_{k}')}, {_q(f'_nk_{k}')}) AS {_q(k)}"
            for k in keys
        ],
        f"{change_sql} AS change",
        *[_q(f"old_{c}") for c in cols],
        *[_q(f"new_{c}") for c in cols],
    ).filter("change IS NOT NULL")


def diff_snapshots_oracle_sql(
    old_sql: str, new_sql: str, keys: list[str], cols: list[str],
    null_keys: str = "multiset",
) -> str:
    """DuckDB twin of diff_snapshots for oracle checking. Supports the
    presence-only mode (cols=[]) the engine twin supports — the old
    renderer emitted 'WHEN  THEN' / 'OR ()' syntax errors for it (review
    r6) — and mirrors the NULL-key contract: the multiset branch, or the
    ``"absent"`` single-join form with the same defensive IS NOT NULL
    filters as the engine twin."""
    if null_keys not in ("multiset", "absent"):
        raise ValueError(f"null_keys must be multiset|absent, got {null_keys!r}")
    key_join = " AND ".join(f"o.{k} = n.{k}" for k in keys)
    key_out = ", ".join(f"COALESCE(o.{k}, n.{k}) AS {k}" for k in keys)
    diff = (
        " OR ".join(f"(o.{c} IS DISTINCT FROM n.{c})" for c in cols)
        if cols
        else "FALSE"  # presence-only: nothing to compare, never 'update'
    )
    old_out = "".join(f", o.{c} AS old_{c}" for c in cols)
    new_out = "".join(f", n.{c} AS new_{c}" for c in cols)
    nn = " AND ".join(f"{k} IS NOT NULL" for k in keys)
    any_null = " OR ".join(f"{k} IS NULL" for k in keys)
    plain = ", ".join([*keys, *cols]) or "*"
    null_old_out = "".join(f", {c} AS old_{c}" for c in cols)
    null_old_nulls = "".join(f", NULL AS old_{c}" for c in cols)
    null_new_out = "".join(f", {c} AS new_{c}" for c in cols)
    null_new_nulls = "".join(f", NULL AS new_{c}" for c in cols)
    key_cols = ", ".join(keys)
    if null_keys == "absent":
        return f"""
WITH o AS (SELECT *, TRUE AS _o_present FROM ({old_sql}) WHERE {nn}),
     n AS (SELECT *, TRUE AS _n_present FROM ({new_sql}) WHERE {nn})
SELECT {key_out},
       CASE WHEN o._o_present IS NULL THEN 'insert'
            WHEN n._n_present IS NULL THEN 'delete'
            WHEN {diff} THEN 'update' END AS change
       {old_out}{new_out}
FROM o FULL OUTER JOIN n ON {key_join}
WHERE (o._o_present IS NULL) OR (n._n_present IS NULL) OR ({diff})
"""
    # presence markers mirror diff_snapshots: side-absence, not key nullness
    return f"""
WITH o AS (SELECT *, TRUE AS _o_present FROM ({old_sql}) WHERE {nn}),
     n AS (SELECT *, TRUE AS _n_present FROM ({new_sql}) WHERE {nn}),
     o_null AS (SELECT {plain} FROM ({old_sql}) WHERE {any_null}),
     n_null AS (SELECT {plain} FROM ({new_sql}) WHERE {any_null})
SELECT {key_out},
       CASE WHEN o._o_present IS NULL THEN 'insert'
            WHEN n._n_present IS NULL THEN 'delete'
            WHEN {diff} THEN 'update' END AS change
       {old_out}{new_out}
FROM o FULL OUTER JOIN n ON {key_join}
WHERE (o._o_present IS NULL) OR (n._n_present IS NULL) OR ({diff})
UNION ALL
SELECT {key_cols}, 'delete' AS change{null_old_out}{null_new_nulls}
FROM (SELECT {plain} FROM o_null EXCEPT ALL SELECT {plain} FROM n_null)
UNION ALL
SELECT {key_cols}, 'insert' AS change{null_old_nulls}{null_new_out}
FROM (SELECT {plain} FROM n_null EXCEPT ALL SELECT {plain} FROM o_null)
"""


def change_deltas(
    changes: DataFrame, group_col: str, measure_col: str
) -> DataFrame:
    """CDC rows -> signed per-group contributions for incremental rollup
    maintenance: a delete contributes (-1, -old_measure) to the OLD row's
    group, an insert (+1, +new_measure) to the NEW row's group, an update
    both (which also handles group-key churn — the two contributions land
    on different groups when the key column itself changed). Output:
    (group, d_count, d_measure).

    Plan shape (r11, guide §2.4): ONE pass over ``changes`` exploding a
    per-row contribution array. The previous two-filtered-projections
    union made the WHOLE ``changes`` subtree (for diff_snapshots input:
    the full-outer diff join, its sorts and its filter) a branch of a
    Union — Catalyst reuses the exchanges but re-executes the join per
    branch, so the diff ran twice per maintenance call (observed in the
    r11 plan capture: two FullOuter SortMergeJoins, codegen stages 8 and
    13, over ReusedExchange inputs). The explode form evaluates the diff
    once; downstream grouped sums are exact decimal/long, so contribution
    ORDER cannot change results — the same associativity argument
    maintain_rollup already relies on."""
    # measure type comes from the old side; the new side carries the same
    # column type by diff construction (old_/new_ projections of one
    # schema), so the struct element types below agree. Assembled as
    # selectExpr strings (see _q) — named_struct builds the same struct
    # type the aliased F.struct did, field names included.
    gname = group_col.replace("'", "\\'")
    old_contrib = (
        f"named_struct('{gname}', {_q(f'old_{group_col}')}, "
        f"'d_count', CAST(-1 AS BIGINT), "
        f"'d_measure', (- {_q(f'old_{measure_col}')}))"
    )
    new_contrib = (
        f"named_struct('{gname}', {_q(f'new_{group_col}')}, "
        f"'d_count', CAST(1 AS BIGINT), "
        f"'d_measure', {_q(f'new_{measure_col}')})"
    )
    contribs = (
        f"CASE WHEN change = 'delete' THEN array({old_contrib}) "
        f"WHEN change = 'insert' THEN array({new_contrib}) "
        f"WHEN change = 'update' THEN array({old_contrib}, {new_contrib}) "
        # any other change label contributed to NEITHER side of the old
        # union — an empty array explodes to zero rows, preserving that
        "ELSE array() END"
    )
    return changes.selectExpr(f"explode({contribs}) AS _c").selectExpr(
        f"_c.{_q(group_col)} AS {_q(group_col)}",
        "_c.d_count AS d_count",
        "_c.d_measure AS d_measure",
    )


def maintain_rollup(
    base_rollup: DataFrame,
    changes: DataFrame,
    group_col: str,
    count_col: str = "n",
    sum_col: str = "total",
    measure_col: str | None = None,
) -> DataFrame:
    """Incremental materialized-view maintenance: fold CDC deltas into an
    existing (group, count, sum) rollup WITHOUT rescanning the base table.
    Groups whose count drops to zero disappear (exactly as a recompute
    would drop them).

    The algebra only works for mergeable aggregates (count/sum/avg — NOT
    exact distinct, which is why the reference full-refreshes its distinct-
    bearing tables, SURVEY.md §4 OPT5); sums must be carried in exact
    decimal so (base + deltas) is associative and lands bit-identical to a
    direct recompute of the new snapshot — that equality is what the
    catalog query's oracle asserts.

    At 100 TB: the rollup is |groups|-sized, the deltas |changes|-sized —
    maintenance cost is independent of the base table entirely.

    Shape (r4): deltas pre-aggregate to |groups| rows, then fold into the
    base via ONE null-safe full-outer join + coalesced decimal adds. The
    r3 union-then-groupBy form made the base rollup and the delta subtree
    two branches of one union, which Spark executes SERIALLY (measured 2x
    the slower branch — the union-of-aggregates trap); the join form runs
    them as independent stages (0.66 -> 0.55 s at sf0.1, values
    bit-identical: decimal addition is associative either way). The join
    is null-safe (eqNullSafe) because a NULL group key must merge across
    the two sides exactly as the union's groupBy merged it."""
    from .aggregates import MEASURE_DECIMAL

    measure_col = measure_col or sum_col
    # Cast BOTH sides to the exact-decimal type up front: type-coercion of
    # decimal with double would widen to double and silently reintroduce
    # float-order nondeterminism. (Pass a decimal-typed base sum — e.g.
    # exact_sum without the double cast — for bit-exact parity with a
    # direct recompute.)
    deltas = (
        change_deltas(changes, group_col, measure_col)
        .groupBy(group_col)
        .agg(
            F.sum("d_count").alias("_d_count"),
            F.sum(F.col("d_measure").cast(MEASURE_DECIMAL)).alias("_d_sum"),
        )
        .withColumnRenamed(group_col, "_d_group")
    )
    # selectExpr strings (see _q): identical casts/coalesces/adds to the
    # previous Column form — decimal(30,6) zero literals, long counts,
    # the final exact-decimal add cast to double — at a fraction of the
    # py4j round-trips.
    base = base_rollup.selectExpr(
        _q(group_col),
        f"CAST({_q(count_col)} AS BIGINT) AS {_q(count_col)}",
        f"CAST({_q(sum_col)} AS {MEASURE_DECIMAL}) AS {_q(sum_col)}",
    )
    zero_c = "CAST(0 AS BIGINT)"
    zero_s = f"CAST(0 AS {MEASURE_DECIMAL})"
    return (
        base.join(
            deltas,
            F.expr(f"{_q(group_col)} <=> _d_group"),
            "full_outer",
        )
        .selectExpr(
            f"coalesce({_q(group_col)}, _d_group) AS {_q(group_col)}",
            f"(coalesce({_q(count_col)}, {zero_c}) "
            f"+ coalesce(_d_count, {zero_c})) AS {_q(count_col)}",
            f"CAST((coalesce({_q(sum_col)}, {zero_s}) "
            f"+ coalesce(_d_sum, {zero_s})) AS DOUBLE) AS {_q(sum_col)}",
        )
        .filter(f"{_q(count_col)} > 0")
    )
