"""Fixed-point Lloyd k-means: independent pure-Python reference of the
same contract (md5 seed draw, integer distances, trunc-division
updates, smaller-cid tie-break, empty clusters keep position)."""

import hashlib
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from probability_of_buying_two_products_together_hadoop_project_spark.operators import similarity

UNIT = 10**6


def trunc_div(a: int, b: int) -> int:
    q = abs(a) // b
    return -q if a < 0 else q


def py_assign(q: dict[int, list[int]], cents: dict) -> dict[int, tuple[int, int]]:
    """Nearest centroid per quantized point: (d2, cid), d2 summed over
    the positions both vectors have, ties to the smaller cid."""
    if not cents:
        return {}
    return {
        i: min(
            (sum((a - b) ** 2 for a, b in zip(qv, c)), cid)
            for cid, (c, _) in cents.items()
        )
        for i, qv in q.items()
    }


def py_kmeans(vecs: dict, k: int, iters: int, unit: int = UNIT):
    """Reference implementation of kmeans_lloyd's documented contract:
    floor(v * unit) on the double product, matching both engines.
    NULL/empty vectors are never assigned; a NULL/empty seed gives no
    centroid. Ragged vectors follow the per-position rule: centroid
    (cid, pos) averages the members long enough to reach pos, and its
    n is that member count (0 keeps the previous position). Returns
    {cid: (centroid units, n per position)}."""
    import math

    q = {
        i: [math.floor(float(v) * float(unit)) for v in vs]
        for i, vs in vecs.items()
        if vs
    }
    draws = sorted(
        (hashlib.md5(f"km|{i}".encode()).hexdigest(), i) for i in vecs
    )
    cents = {
        cid: (list(q[i]), [0] * len(q[i]))
        for cid, (_, i) in enumerate(draws[:k])
        if i in q
    }
    for _ in range(iters):
        assign = py_assign(q, cents)
        new = {}
        for cid, (c, _) in cents.items():
            members = [q[i] for i, (_, a) in assign.items() if a == cid]
            units, ns = [], []
            for p in range(len(c)):
                vals = [m[p] for m in members if len(m) > p]
                units.append(trunc_div(sum(vals), len(vals)) if vals else c[p])
                ns.append(len(vals))
            new[cid] = (units, ns)
        cents = new
    return cents


def _f32(vecs: dict) -> dict:
    """The engine casts the stored float32 to double exactly; the
    reference quantizes those same doubles."""
    import numpy as np

    return {
        i: None if vs is None else [float(np.float32(x)) for x in vs]
        for i, vs in vecs.items()
    }


def _kmeans_df(spark, vecs: dict):
    return spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<float>"
    )


def _got_centroids(df) -> dict:
    got: dict[int, tuple[dict, dict]] = {}
    for r in df.collect():
        units, ns = got.setdefault(r["cid"], ({}, {}))
        units[r["pos"]] = r["centroid_units"]
        ns[r["pos"]] = r["n_members"]
    return {
        cid: ([u[p] for p in sorted(u)], [n[p] for p in sorted(n)])
        for cid, (u, n) in got.items()
    }


def _check_against_reference(spark, vecs, k, iters, unit=UNIT):
    """kmeans_lloyd and kmeans_assign both equal the reference."""
    df = _kmeans_df(spark, vecs)
    want = py_kmeans(_f32(vecs), k, iters, unit)
    got = _got_centroids(
        similarity.kmeans_lloyd(df, k=k, iters=iters, unit=unit)
    )
    assert got == want
    q = {
        i: [math.floor(v * float(unit)) for v in vs]
        for i, vs in _f32(vecs).items()
        if vs
    }
    want_assign = {i: (cid, d2) for i, (d2, cid) in py_assign(q, want).items()}
    got_assign = {
        r["_id"]: (r["cid"], r["_d2"])
        for r in similarity.kmeans_assign(df, k=k, iters=iters, unit=unit).collect()
    }
    assert got_assign == want_assign


vec = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(vec, min_size=3, max_size=12, unique_by=lambda v: tuple(v)))
def test_kmeans_matches_python_reference(spark, vec_lists):
    k, iters = 3, 2
    vecs = dict(enumerate(vec_lists))
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = _got_centroids(
        similarity.kmeans_lloyd(df, k=min(k, len(vecs)), iters=iters)
    )
    assert got == py_kmeans(_f32(vecs), min(k, len(vecs)), iters)


def test_kmeans_empty_cluster_keeps_position(spark):
    """Two far seeds, all points at one of them: the starved centroid
    keeps its seed position with n_members = 0."""
    rows = [(0, [0.0, 0.0]), (1, [0.001, 0.0]), (2, [0.002, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kmeans_lloyd(df, k=2, iters=2).collect()
    by_cid: dict[int, list] = {}
    for r in out:
        by_cid.setdefault(r["cid"], []).append(r)
    counts = {cid: rs[0]["n_members"] for cid, rs in by_cid.items()}
    assert sorted(counts.values()) in ([0, 3], [1, 2])
    total = sum(counts.values())
    assert total == 3


def _ragged_points() -> dict:
    """60 six-dim vectors, every 11th cut to 3-5 dims, plus a NULL and
    an empty vector (neither is ever assigned)."""
    vecs = {}
    for i in range(60):
        v = [((i * 7 + p * 13) % 29 - 14) / 7.0 for p in range(6)]
        vecs[i] = v[: 3 + i % 3] if i % 11 == 0 else v
    vecs[60] = None
    vecs[61] = []
    return vecs


def test_kmeans_ragged_points_match_reference(spark):
    _check_against_reference(spark, _ragged_points(), k=4, iters=3)


def test_kmeans_ragged_seeds_match_reference(spark):
    # every vector ragged: whichever ids the md5 draw picks, the seeds
    # differ in length and each centroid keeps its own
    vecs = {
        i: [((i * 5 + p * 3) % 17 - 8) / 5.0 for p in range(2 + i % 5)]
        for i in range(40)
    }
    _check_against_reference(spark, vecs, k=5, iters=3)


def test_kmeans_null_and_empty_seeds_match_reference(spark):
    # two thirds of the ids hold NULL or empty vectors, so some of the
    # k drawn seeds have no positions: those cids are absent
    vecs = {
        i: (None, [], [((i * 7 + p * 13) % 29 - 14) / 7.0 for p in range(4)])[
            i % 3
        ]
        for i in range(50)
    }
    want = py_kmeans(_f32(vecs), 7, 2)
    assert 0 < len(want) < 7
    _check_against_reference(spark, vecs, k=7, iters=2)


def test_kmeans_unit_1e3_matches_reference(spark):
    _check_against_reference(spark, _ragged_points(), k=4, iters=2, unit=10**3)


def test_kmeans_all_seeds_null_or_empty_gives_empty_relations(spark):
    vecs = {i: (None if i % 2 else []) for i in range(10)}
    df = _kmeans_df(spark, vecs)
    lloyd = similarity.kmeans_lloyd(df, k=3, iters=2)
    assign = similarity.kmeans_assign(df, k=3, iters=2)
    dedup = similarity.semantic_dedup(df, k=3, iters=2)
    assert lloyd.collect() == assign.collect() == dedup.collect() == []
    assert lloyd.columns == [
        "cid", "pos", "centroid_units", "centroid", "n_members"
    ]
    assert assign.columns == ["_id", "cid", "_d2"]
    assert dedup.columns == ["vec_id", "cid", "rk", "max_prior_sim", "kept"]
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.kmeans_lloyd(empty, k=2, iters=1).collect() == []


def test_kmeans_input_spanning_several_chunks_matches_reference(spark):
    # one partition of 80 rows x 2 centroids x 65536 dims: each row's
    # distance diffs take 1 MiB, so the fixed byte budget splits the
    # Arrow batch into several row chunks
    from pyspark.sql import functions as F

    n, dim, k = 80, 1 << 16, 2
    assert n * k * dim * 8 > 2 * similarity._KMEANS_KERNEL_BYTES
    df = spark.range(n, numPartitions=1).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda p: (((F.col("id") * 7 + p * 13) % 29 - 14) / 8.0).cast("float"),
        ).alias("embedding"),
    )
    got = _got_centroids(similarity.kmeans_lloyd(df, k=k, iters=1))
    vecs = {
        i: [((i * 7 + p * 13) % 29 - 14) / 8.0 for p in range(dim)]
        for i in range(n)
    }
    assert got == py_kmeans(vecs, k, 1)


def test_kmeans_null_element_raises(spark):
    # NumPy would cast the NULL's NaN to INT64_MIN and cluster on it
    df = _kmeans_df(spark, {0: [0.5, None], 1: [0.25, 0.5], 2: [0.1, 0.1]})
    with pytest.raises(Exception, match="NULL or NaN element"):
        similarity.kmeans_lloyd(df, k=2, iters=1).collect()


def test_kmeans_overflow_bound_raises(spark):
    # q = +-2e9 at dim 4: a squared distance of 4 * (4e9)^2 wraps int64
    df = _kmeans_df(spark, {i: [(-1) ** i * 2000.0] * 4 for i in range(4)})
    with pytest.raises(Exception, match="int64 bound"):
        similarity.kmeans_lloyd(df, k=2, iters=1).collect()


def test_kmeans_entry_points_validate_k_and_iters(spark):
    df = _kmeans_df(spark, {0: [0.5, 0.5]})
    for fn in (
        similarity.kmeans_lloyd,
        similarity.kmeans_assign,
        similarity.semantic_dedup,
    ):
        with pytest.raises(ValueError, match="k and iters"):
            fn(df, k=0, iters=1)
        with pytest.raises(ValueError, match="k and iters"):
            fn(df, k=2, iters=0)
