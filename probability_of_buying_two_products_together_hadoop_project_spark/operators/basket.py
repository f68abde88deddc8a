"""Core "Crystal Ball" co-occurrence operators (reference parity).

Reference semantics (normative, SURVEY.md §2.2; verified against the golden
outputs ``/root/reference/output/CrystalBallPair/part-r-*``):

For a basket line ``customer p1 p2 ... pK`` (whitespace-delimited,
/root/reference/src/CrystalBallPair.java:40):

1. Current items are ``p1 .. p(K-1)`` — the LAST token is never a current
   item (loop bound ``i < length-1``, /root/reference/src/CrystalBallPair.java:42).
2. For current item ``p`` at position i, the neighbor window is
   ``p(i+1) ..`` up to but EXCLUDING the next re-occurrence of ``p``
   (/root/reference/src/CrystalBallPair.java:48-60); if ``p`` never
   reappears the window runs to end of basket.
3. Neighbors count with multiplicity; self-pairs are never emitted
   (excluded by the window-stop rule).
4. ``prob(p, n) = count(p, n) / sum_n' count(p, n')`` — Java double
   division (/root/reference/src/CrystalBallPair.java:132-133); Spark
   DoubleType division is the same IEEE-754 op, so parity is bit-exact.

Spark-first design (NOT a port):

* Pair generation is two chained ``explode(sequence(...))`` generators over
  basket positions, with ``slice`` / ``array_position`` / ``element_at``
  bounding each window. No lambda (higher-order functions such as
  ``transform`` are ``CodegenFallback`` and run row-at-a-time), no
  self-join, no UDF, no basket id: both ``Generate`` nodes compile into
  the scan's whole-stage codegen, and the stage is a narrow map over
  baskets. ``basket_pairs`` is the one pair generator for batch,
  streaming (``streams.cooccurrence_stream``) and the graph pins.
* The reference's in-mapper combining (/root/reference/src/CrystalBallPair.java:66-94)
  is subsumed by Catalyst's partial hash aggregation: ``groupBy(item,
  neighbor).count()`` does map-side combine automatically.
* The reference's order-inversion wildcard marginal
  (/root/reference/src/CrystalBallPair.java:62,215-224) is replaced by a
  window sum ``sum(cnt) over (partition by item)`` over the already-tiny
  aggregated result.

Scale posture (100 TB): exactly ONE shuffle of pair-granularity data (the
partial-agg exchange on (item, neighbor), shrunk by map-side combine), then
one exchange of the distinct-pair aggregate for the per-item window. AQE
handles skewed hot items at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def baskets_from_text(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse reference-format basket lines into (customer, items).

    One line = one basket; token 0 is the customer
    (/root/reference/src/CrystalBallPair.java:40-42).

    Deliberate divergence from the reference on malformed input: the
    reference's raw ``split("\\s+")`` on a line with LEADING whitespace
    yields an empty token[0], silently shifting the customer id into the
    item list (/root/reference/src/CrystalBallPair.java:40). We trim first,
    so token 0 is always the customer. The committed golden inputs have no
    leading whitespace, so parity on the reference's own data is unaffected
    (byte-equal, tests/test_basket_golden.py).
    """
    toks = F.split(F.trim(F.col(value_col)), r"\s+")
    return df.select(
        toks.getItem(0).alias("customer"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("items"),
    )


def read_baskets_text(spark, path: str) -> DataFrame:
    """Text source (reference O1) -> parsed baskets."""
    return baskets_from_text(spark.read.text(path))


def baskets_from_lineitem(lineitem: DataFrame) -> DataFrame:
    """Basket-bridge view over relational data (FIXTURES.md §2).

    basket = order; items = partkeys ordered by l_linenumber (intra-basket
    order is load-bearing for the window semantics). One shuffle on
    l_orderkey. (linenumber, partkey) are packed into one bigint
    (linenumber * 2^40 + partkey) so the collect_list exchange carries 8
    bytes per item instead of a 2-field struct — measured ~30% faster at
    sf0.1 with identical results; numeric sort of the packed value equals
    the (linenumber, partkey) struct sort because linenumber is the high
    bits. Range contract: l_linenumber < 2^23 and 0 <= l_partkey < 2^40
    (TPC-H linenumber <= 7; partkey stays < 2^40 beyond SF 100k).
    """
    pack = F.col("l_linenumber").cast("long") * F.lit(1 << 40) + F.col("l_partkey")
    return (
        lineitem.groupBy(F.col("l_orderkey").alias("basket_id"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(pack)),
                lambda p: (p % F.lit(1 << 40)).cast("string"),
            ).alias("items")
        )
    )


def basket_pairs(baskets: DataFrame, items_col: str = "items") -> DataFrame:
    """All windowed (item, neighbor) occurrences, with multiplicity (O3).

    Two chained ``explode(sequence(...))`` generators over 1-based
    positions: current positions ``i`` in ``1..size-1`` (rule 1; empty,
    single-item and NULL baskets emit nothing), then neighbor positions
    ``i+1 .. i+len``, where ``len`` stops before the next re-occurrence of
    ``items[i]`` or runs to the end (rule 2; ``array_position`` is 0 when
    absent and NULL for a NULL item, both meaning "to the end").
    """
    items, n, i, span = F.col("_items"), F.size("_items"), F.col("_i"), F.col("_len")
    pos = F.array_position(F.slice(items, i + 1, n), F.element_at(items, i)).cast("int")
    return (
        baskets.select(F.col(items_col).alias("_items"))
        .select(items, F.explode(F.when(n >= 2, F.sequence(F.lit(1), n - 1))).alias("_i"))
        .select(
            items, i, F.element_at(items, i).alias("item"),
            F.coalesce(F.nullif(pos, F.lit(0)) - 1, n - i).alias("_len"),
        )
        .select("item", items, F.explode(F.when(span > 0, F.sequence(i + 1, i + span))).alias("_j"))
        .select("item", F.element_at(items, F.col("_j")).alias("neighbor"))
    )


def cooccurrence_counts(baskets: DataFrame) -> DataFrame:
    """(item, neighbor, pair_cnt) — reference O5+O9 collapse to one groupBy
    (Catalyst does partial map-side aggregation automatically)."""
    return basket_pairs(baskets).groupBy("item", "neighbor").agg(
        F.count(F.lit(1)).alias("pair_cnt")
    )


def cooccurrence_pairs(baskets: DataFrame, join_marginals: bool = False) -> DataFrame:
    """Flagship result: (item, neighbor, pair_cnt, prob) — reference O10.

    Two normalization strategies, same results:

    - ``join_marginals=False`` (default): window sum over `item`. One
      extra exchange of the already-aggregated pair rows; best when
      per-item neighbor cardinality is modest (the common case).
    - ``join_marginals=True``: aggregate marginals separately and join
      them back. The partial aggregation makes the marginal side tiny,
      and the join is AQE-skew-splittable — choose this when single hot
      items have millions of distinct neighbors, where the window's
      per-item sort partition would become a straggler task.
    """
    counts = cooccurrence_counts(baskets)
    if join_marginals:
        marginals = counts.groupBy(F.col("item").alias("m_item")).agg(
            F.sum("pair_cnt").alias("marginal")
        )
        return (
            counts.join(marginals, counts.item == marginals.m_item)
            .withColumn(
                "prob",
                F.col("pair_cnt").cast("double") / F.col("marginal").cast("double"),
            )
            .select("item", "neighbor", "pair_cnt", "prob")
        )
    marginal = F.sum("pair_cnt").over(Window.partitionBy("item"))
    return counts.withColumn(
        "prob", F.col("pair_cnt").cast("double") / marginal.cast("double")
    )


def cooccurrence_stripes(
    baskets: DataFrame, max_neighbors: int | None = None
) -> DataFrame:
    """Stripes output shape (item, stripe: map<neighbor, prob>) — reference O6.

    The reference's stripes/hybrid are *physical* shuffle optimizations
    (SURVEY.md §4) subsumed by Tungsten partial aggregation; only the output
    shape survives. Map entries are sorted by neighbor for determinism
    (golden-file entry order is Java hash order — junk, per SURVEY §2.2.7).

    ``max_neighbors`` caps each stripe to the top-N neighbors by
    (prob desc, neighbor asc). At 100x scale a hot item with millions of
    distinct neighbors would otherwise materialize one giant map row (the
    reference's stripes have the same hazard); the cap bounds row size
    while probabilities stay those of the FULL distribution (computed
    before truncation). With N >= every item's neighbor count the output
    is identical to the uncapped stripes (tested).
    """
    pairs = cooccurrence_pairs(baskets)
    if max_neighbors is not None:
        w = Window.partitionBy("item").orderBy(
            F.col("prob").desc(), F.col("neighbor")
        )
        pairs = (
            pairs.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_neighbors)
            .drop("_rk")
        )
    return pairs.groupBy("item").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("neighbor", "prob")))
        ).alias("stripe")
    )
