"""[EXT] Skew mitigation: manual key salting (SURVEY.md §4 scale notes).

AQE's skew-join splitting (on by default in session.py) handles most skew at
runtime; this is the explicit fallback for cases AQE can't fix — e.g. a
shuffle join where one key holds >50% of rows and the joined side is too big
to broadcast. The big side gets a deterministic per-row salt (partition-position
based); the small side is replicated once per salt value; the join key
becomes (key, salt), splitting each hot key's rows across ``n_salts``
tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join with the hot-key shuffle split across ``n_salts`` buckets.

    Deterministic: the salt is the row's position counter
    (monotonically_increasing_id mod n_salts) — no RNG, and identical to
    re-run on the same partitioning. NOT a content hash (review r5): a
    hot key whose rows are byte-identical — the projected-to-join-keys
    frame, duplicate-heavy feeds — hashed every row to ONE salt bucket,
    silently defeating the split while still paying the small-side
    replication. Position-based salts spread identical rows evenly;
    correctness never depends on WHICH salt a row gets (every salt joins
    the same replicated small side).
    Result is exactly ``big.join(small, on)``, an inner join.
    """
    if "_salt" in big.columns or "_salt" in small.columns:
        raise ValueError("salted_join: input already has a _salt column")
    if n_salts < 1:
        # explode(empty array) would silently EMPTY the small side — an
        # inner join of 0 rows / an all-NULL left join with no error
        # (review r6)
        raise ValueError(f"salted_join: n_salts must be >= 1, got {n_salts}")
    big_s = big.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_s.join(small_s, [*on, "_salt"], "inner").drop("_salt")
