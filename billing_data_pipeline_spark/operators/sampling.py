"""[EXT] Deterministic sampling for training-data curation (SURVEY.md
§2.12 family).

Engine RNGs (`rand()`, TABLESAMPLE) are not reproducible across engines or
even across retries of a failed task, so every sampler here derives its
randomness from the row's own key via an explicit multiplicative mixer —
pure integer arithmetic, exact in both Spark and DuckDB, making samples (a)
oracle-checkable, (b) stable under task retry / partition reshuffle at
100 TB, and (c) consistent between runs (a document keeps its fate when the
corpus around it changes — crucial for incremental re-curation).

Mixer: bucket(key) = (((key mod P) * K) mod P) mod 100, P = 100000007
(prime, keeps the product < 2^63 so BIGINT never overflows in either
engine), K = 2654435761 (Knuth's 2^32/phi multiplier). The product is
reduced mod P BEFORE mod 100: without it, K*x mod 100 collapses to
61*(x mod 100) mod 100 — a bijection of the key's last two decimal
digits, zero mixing, so step-100 ids all landed in ONE bucket and a
1% sample kept 100% of them (review r4; verified numerically). Salt
shifts the key so different samples decorrelate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MIX_PRIME = 100_000_007
MIX_MULT = 2_654_435_761


def mix_rank(key: Column, salt: int = 0) -> Column:
    """The raw mixer rank in [0, MIX_PRIME): pmod(pmod(key+salt, P) * K, P).
    THE one engine-side spelling of the mixer (review r5: curation's
    budget/shard operators hand-copied it; the r4 mod-before-mod bug had
    to be hunted across copies). hash_bucket is this % 100."""
    return F.pmod(
        F.pmod(key + F.lit(salt), MIX_PRIME) * F.lit(MIX_MULT), MIX_PRIME
    )


def mix_rank_sql(key: str, salt: int = 0) -> str:
    """DuckDB twin of mix_rank (no pmod there; ((x % m) + m) % m is the
    portable equivalent — the inner pmod keeps the product non-negative,
    so the later % needs no second correction)."""
    inner = f"((({key} + {salt}) % {MIX_PRIME}) + {MIX_PRIME}) % {MIX_PRIME}"
    return f"(({inner} * {MIX_MULT}) % {MIX_PRIME})"


def hash_bucket(key: Column, salt: int = 0) -> Column:
    """Deterministic pseudo-uniform bucket in [0, 100) from an integer key.

    Both modulo steps use pmod: SQL ``%`` keeps the dividend's sign, so a
    negative key would otherwise yield a negative bucket that compares
    ``< pct`` at ANY rate — including rate-0 strata, which must drop rows.
    pmod keeps the bucket in [0, 100) for arbitrary (incl. negative) keys;
    identical to ``%`` for non-negative keys, so sample membership for
    existing non-negative key columns is unchanged.
    """
    return F.pmod(mix_rank(key, salt), 100)


def hash_bucket_sql(key: str, salt: int = 0) -> str:
    return f"{mix_rank_sql(key, salt)} % 100"


def hash_sample(df: DataFrame, key_col: str, pct: int) -> DataFrame:
    """Uniform ~pct% sample: keep rows whose key bucket < pct. A pure
    filter — pushes to the scan, no shuffle, no driver coordination."""
    return df.filter(hash_bucket(F.col(key_col)) < pct)


def stratified_sample(
    df: DataFrame, key_col: str, stratum_col: str, rates: dict[str, int]
) -> DataFrame:
    """Per-stratum rates (e.g. downsample dominant languages, keep the
    tail): rate lookup is a CASE chain on the stratum column — still a pure
    scan-side filter, no join, no shuffle. Strata absent from ``rates``
    are dropped (rate 0)."""
    rate = F.lit(0)
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.filter(hash_bucket(F.col(key_col)) < rate)


def stratified_sample_sql(
    table: str, key_col: str, stratum_col: str, rates: dict[str, int]
) -> str:
    # stratum keys are DATA values: double embedded single quotes or a
    # key like "o'reilly" breaks the oracle SQL (review r4)
    if not rates:
        # a WHEN-less CASE is a syntax error; the engine twin returns an
        # empty frame, so the oracle must select nothing too (review r5)
        return f"SELECT * FROM {table} WHERE FALSE"
    cases = " ".join(
        f"WHEN {stratum_col} = '{s.replace(chr(39), chr(39) * 2)}' THEN {p}"
        for s, p in sorted(rates.items())
    )
    return (
        f"SELECT * FROM {table} "
        f"WHERE {hash_bucket_sql(key_col)} < (CASE {cases} ELSE 0 END)"
    )


def per_group_sample(
    df: DataFrame, key_col: str, group_col: str, n: int
) -> DataFrame:
    """Fixed-size deterministic sample per group (the 'N examples per
    class' curation op): rank rows within each group by mixed key (a
    pseudo-random but reproducible order) and keep the first n. One
    shuffle on the group key; bounded output n*|groups|.

    PRECONDITION: ``key_col`` must be row-unique within each group — the
    (mixed key, key) order resolves ties by physical row order otherwise,
    which differs between Spark partitions and DuckDB scan order, so a
    duplicate key makes WHICH payload row lands in the sample
    nondeterministic across runs and engines (review r6). All catalog
    callers key on primary keys (doc_id)."""
    from pyspark.sql import Window

    if "sample_rank" in df.columns:
        # plan-time guard (review r7): withColumn would silently REPLACE
        # a real input column of this name and the trailing drop would
        # then delete the caller's data; the SQL twin fails differently
        # (duplicate output name) — fail loudly and identically instead
        raise ValueError(
            "per_group_sample uses 'sample_rank' as its scratch column; "
            "rename the input column of that name"
        )
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col)).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n)
        .drop("sample_rank")
    )


def per_group_sample_sql(
    table: str, key_col: str, group_col: str, n: int, cols: str = "*"
) -> str:
    # The engine twin drops sample_rank; with cols="*" the outer SELECT *
    # would leak it into the oracle schema (review r5) — EXCLUDE it
    # (DuckDB star modifier; this string is oracle-side only).
    outer = "* EXCLUDE (sample_rank)" if cols.strip() == "*" else cols
    return f"""
WITH ranked AS (
    SELECT {cols},
           row_number() OVER (PARTITION BY {group_col}
                              ORDER BY {hash_bucket_sql(key_col)} ASC,
                                       {key_col} ASC) AS sample_rank
    FROM {table}
)
SELECT {outer} FROM ranked WHERE sample_rank <= {n}
"""


#: ``assign_split``: bucket cut points (90/5/5), their labels, mixer salt.
SPLIT_BOUNDARIES = (90, 95)
SPLIT_LABELS = ("train", "val", "test")
SPLIT_SALT = 7


def assign_split(key: Column) -> Column:
    """Deterministic train/val/test assignment: the mixer bucket in
    [0,100) cut at SPLIT_BOUNDARIES. A labeled 3-way
    partition, not a keep/drop sample — every row gets exactly one split,
    the assignment is a scan-side expression (no shuffle, no RNG), and a
    document keeps its split when the corpus around it changes — the
    property that prevents silent train/test leakage across incremental
    re-curations (a doc that once entered `test` can never drift into
    `train` on a later run).
    """
    b = hash_bucket(key, SPLIT_SALT)
    expr = F.lit(SPLIT_LABELS[-1])
    for bound, lab in zip(reversed(SPLIT_BOUNDARIES), reversed(SPLIT_LABELS[:-1])):
        expr = F.when(b < bound, lab).otherwise(expr)
    return expr


def assign_split_sql(key: str) -> str:
    b = hash_bucket_sql(key, SPLIT_SALT)
    cases = " ".join(
        f"WHEN ({b}) < {bound} THEN '{lab}'"
        for bound, lab in zip(SPLIT_BOUNDARIES, SPLIT_LABELS[:-1])
    )
    return f"(CASE {cases} ELSE '{SPLIT_LABELS[-1]}' END)"
