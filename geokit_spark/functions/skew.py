"""Skew handling: explicit salting + two-stage aggregation.

The geocoder concentrates ~20% of all pages in one hot-spot square
(constants.HOT_*), so cell-keyed groupBys see one giant key per grid
level. AQE's skew-join split handles the join side
(session.py enables it); for aggregations the classic fix is salting:

  stage 1: groupBy(key, salt = doc_id % n_salt)  — partial per salt
  stage 2: groupBy(key)                          — final combine

Results are identical to the unsalted agg (sums/counts are
associative); the shuffle spreads the hot key over n_salt reducers.
The spatial join needs no salting: it is a map-side broadcast join on
JOIN_GRID_N cells (see operators.spatial_join), so a hot cell costs no
reducer; salting is for the aggregations after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame, key_cols: list[str], salt_col: str, n_salt: int = 16
) -> DataFrame:
    """count(*) per key via salted two-stage aggregation; bit-identical
    to the direct groupBy (counts are exact integers)."""
    salted = df.withColumn("_salt", (F.col(salt_col) % F.lit(n_salt)).cast("int"))
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.count("*").alias("_partial_n")
    )
    return partial.groupBy(*key_cols).agg(F.sum("_partial_n").alias("n_docs"))


def salted_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    salt_col: str,
    n_salt: int = 16,
) -> DataFrame:
    salted = df.withColumn("_salt", (F.col(salt_col) % F.lit(n_salt)).cast("int"))
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.sum(value_col).alias("_partial_s")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_partial_s").alias(f"sum_{value_col}")
    )


def hot_keys(df: DataFrame, key_cols: list[str], threshold_share: float = 0.05):
    """Diagnose skew: keys holding more than threshold_share of rows.
    Driver-side list (used to decide salting / cell refinement)."""
    total = df.count()
    rows = (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= threshold_share * total)
        .collect()
    )
    return [tuple(r[c] for c in key_cols) + (r["n"],) for r in rows]


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top: int = 10,
    salt_col: str = "doc_id",
) -> DataFrame:
    """Distributed skew diagnosis: the top-`top` hottest keys with
    exact counts, corpus share, and the imbalance factor
    (n * n_keys / total — 1.0 means perfectly uniform, the hot-spot
    cell shows up as >> 1). The per-key counts themselves run through
    the SALTED two-stage aggregation (the hot key must not melt the
    diagnostic that is supposed to find it); the top-k is
    orderBy+limit, which Catalyst executes as TakeOrderedAndProject
    (per-partition heap + merge, no global sort). All integers plus
    two double divisions of exact integers."""
    counts = salted_count(df, key_cols, salt_col=salt_col)
    stats = counts.agg(
        F.sum("n_docs").alias("_total"),
        F.count("*").alias("_n_keys"),
    )
    topk = counts.orderBy(
        F.col("n_docs").desc(), *[F.col(c).asc() for c in key_cols]
    ).limit(int(top))
    out = topk.crossJoin(F.broadcast(stats))
    w = Window.orderBy(
        F.col("n_docs").desc(), *[F.col(c).asc() for c in key_cols]
    )
    return out.select(
        F.row_number().over(w).cast("long").alias("rank"),
        *key_cols,
        F.col("n_docs"),
        (
            F.col("n_docs").cast("double") / F.col("_total").cast("double")
        ).alias("share"),
        (
            (F.col("n_docs") * F.col("_n_keys")).cast("double")
            / F.col("_total").cast("double")
        ).alias("imbalance"),
    )
