"""Item co-occurrence / market-basket pairs (the reference's Content
Affinity and Cross-Genre Analysis: items consumed by the same
profile).

Scale: the classic pair-join. Distinct (basket, item) first — that
both shrinks the input and makes the join key partitioning reusable.
The self-join shuffles both sides on basket_id once; `item_a < item_b`
halves the output. Skewed baskets (one order with thousands of items)
are the known hazard — AQE skew-join handles moderate skew, and the
`max_basket_size` guard drops pathological baskets outright, which is
what production co-occurrence pipelines do at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.session import materialize


def pair_cooccurrence(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Return (item_a, item_b, pair_count) for items sharing a basket,
    with item_a < item_b."""
    items = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    if max_basket_size is not None:
        sizes = items.groupBy("basket").agg(F.count("*").alias("n"))
        items = (
            items.join(sizes.filter(F.col("n") <= max_basket_size), "basket")
            .drop("n")
        )
    # both self-join sides read the distinct+guard subtree
    items = materialize(items)
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").alias("pair_count"))
    )
