"""Property tests for the windowed co-occurrence semantics (SURVEY.md §2.2).

A plain-Python simulator of the reference mapper loop
(/root/reference/src/CrystalBallPair.java:42-63) is the oracle; randomized
baskets from hypothesis drive both it and the Spark pipeline.
"""

import math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from probability_of_buying_two_products_together_hadoop_project_spark.functions import udfs
from probability_of_buying_two_products_together_hadoop_project_spark.operators import basket


def simulate_pairs(items):
    """Reference mapper loop re-implemented independently (the SURVEY's
    verified semantics): last token never current; window stops before the
    next re-occurrence; multiplicity counted."""
    out = Counter()
    K = len(items)
    for i in range(K - 1):  # last item never current
        p = items[i]
        for j in range(i + 1, K):
            if items[j] == p:
                break
            out[(p, items[j])] += 1
    return out


item_ids = st.integers(min_value=10, max_value=25).map(str)
baskets_strategy = st.lists(
    st.lists(item_ids, min_size=0, max_size=12), min_size=1, max_size=8
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(baskets_strategy)
def test_pairs_match_simulator(spark, basket_lists):
    expected = Counter()
    for items in basket_lists:
        expected.update(simulate_pairs(items))

    df = spark.createDataFrame(
        [(items,) for items in basket_lists], "items: array<string>"
    )
    got = {
        (r["item"], r["neighbor"]): r["pair_cnt"]
        for r in basket.cooccurrence_counts(df).collect()
    }
    assert got == dict(expected)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(baskets_strategy)
def test_invariants(spark, basket_lists):
    df = spark.createDataFrame(
        [(items,) for items in basket_lists], "items: array<string>"
    )
    rows = basket.cooccurrence_pairs(df).collect()
    # no self-pairs
    assert all(r["item"] != r["neighbor"] for r in rows)
    # per-item probabilities sum to 1
    sums = Counter()
    for r in rows:
        sums[r["item"]] += r["prob"]
    for item, s in sums.items():
        assert math.isclose(s, 1.0, rel_tol=1e-9), (item, s)


def test_single_item_and_empty_baskets_emit_nothing(spark):
    df = spark.createDataFrame([(["7"],), ([],)], "items: array<string>")
    assert basket.cooccurrence_counts(df).count() == 0


EDGE_BASKETS = [
    None,  # NULL items array
    [],
    ["7"],
    ["x", "x"],  # adjacent repeat: the window is empty
    ["a", "x", "x", "b", "x"],
    ["5", "5", "5", "5"],  # all-same
    ["1", "2", "1", "2", "1"],
    ["3", "4", "4", "3", "3", "4"],
]


def test_edge_baskets_match_simulator_and_udtf(spark):
    """The explode-based generator, the reference loop and the Python UDTF
    agree on the baskets where window bounds degenerate."""
    expected = Counter()
    for items in EDGE_BASKETS:
        expected.update(simulate_pairs(items or []))
    df = spark.createDataFrame([(b,) for b in EDGE_BASKETS], "items: array<string>")
    got = Counter((r["item"], r["neighbor"]) for r in basket.basket_pairs(df).collect())
    spark.udtf.register("windowed_pairs", udfs.WindowedPairsUDTF)
    df.createOrReplaceTempView("edge_baskets")
    via_udtf = Counter(
        (r["item"], r["neighbor"])
        for r in spark.sql(
            "SELECT p.* FROM edge_baskets, LATERAL windowed_pairs(items) p"
        ).collect()
    )
    assert got == via_udtf == expected


def test_text_parsing_roundtrip(spark):
    df = spark.createDataFrame([("  Bob 1 2 2 3  ",), ("Ann 9",), ("Solo",)], ["value"])
    rows = {r["customer"]: r["items"] for r in basket.baskets_from_text(df).collect()}
    assert rows == {"Bob": ["1", "2", "2", "3"], "Ann": ["9"], "Solo": []}
