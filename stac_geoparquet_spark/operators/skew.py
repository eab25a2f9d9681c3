"""Hot-key skew handling — explicit salting, the one shuffle-join
pathology AQE alone cannot always fix (AQE splits oversized *partitions*
after the fact; a single hot KEY still lands every row in one task
unless the key itself is decomposed). Complements the session factory's
`spark.sql.adaptive.skewJoin.enabled` (session.py): salting is the
deterministic, planner-independent variant a 100-TB pipeline reaches for
when one join key holds percent-level mass (null surrogate keys, default
enum values, celebrity users).

Shape: the big side appends ``salt = key2 % SALTS`` (derived from a
second column so it's deterministic across retries — never rand()); the
small side is replicated SALTS times via explode. The join key becomes
(key, salt): the hot key's rows spread across SALTS tasks, the join
result is IDENTICAL to the unsalted join — which is exactly how the
oracle checks it (plain join in DuckDB, no salting).

``skew_salted_flag_join`` joins lineitem to a 3-row derived dimension on
``l_returnflag`` — a worst-case skew key (3 distinct values over the
whole fact table). The shuffle-hash hint forces the shuffle path
(broadcast would hide the skew; at real scale the "small" side of a
skewed join is often too big to broadcast), so the plan demonstrates
the salt doing the work: 3 hot keys become 3*SALTS balanced keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._io import read_table

SALTS = 8


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_src: Column,
    n_salts: int = SALTS,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big`` with ``small`` on ``on`` with the big side's
    rows spread over ``n_salts`` sub-keys. ``salt_src`` must be a
    deterministic big-side column expression (retry-stable).

    Only ``inner`` and ``left`` are accepted: the salting identity
    (salted join == unsalted join) holds when unmatched SMALL rows are
    dropped — for right/full outer joins each unmatched small row would
    surface once per salt replica. The salt is ``pmod(hash(salt_src),
    n_salts)``: always in [0, n_salts) even for negative or NULL
    ``salt_src`` (Spark's ``%`` keeps the sign, so pmod — and hash()
    maps NULL input to its seed constant rather than NULL)."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: "
            "outer small-side rows would be duplicated per salt replica"
        )
    # hash() never returns NULL (a NULL input hashes to the seed
    # constant), so pmod alone keeps the salt in [0, n_salts)
    b = big.withColumn(
        "__salt", F.pmod(F.hash(salt_src), F.lit(n_salts))
    )
    s = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")),
    )
    return b.join(s.hint("shuffle_hash"), [*on, "__salt"], how).drop("__salt")


def skew_salted_flag_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("flag_desc", F.concat(F.lit("flag-"), F.col("l_returnflag")))
    )
    joined = salted_join(
        li.select("l_returnflag", "l_orderkey", "l_extendedprice", "l_discount"),
        dim,
        on=["l_returnflag"],
        salt_src=F.col("l_orderkey"),
    )
    from stac_geoparquet_spark.operators.relational import _dsum

    return joined.groupBy("flag_desc").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
    )


SKEW_SQL = """
WITH dim AS (
  SELECT DISTINCT l_returnflag, 'flag-' || l_returnflag AS flag_desc
  FROM lineitem
)
SELECT flag_desc,
       count(*) AS n,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN dim USING (l_returnflag)
GROUP BY flag_desc
"""


QUERIES = {
    "skew_salted_flag_join": skew_salted_flag_join,
}

ORACLE = {
    "skew_salted_flag_join": SKEW_SQL,
}
