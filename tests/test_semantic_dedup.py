"""SemDeDup (`similarity.semantic_dedup`) tests: planted semantic
duplicates, the farthest-from-centroid keep rule, and full parity with
an independent pure-Python mirror of the documented contract (the
fixed-point k-means + quantized-cosine greedy screen the DuckDB oracle
also replays).
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from probability_of_buying_two_products_together_hadoop_project_spark.operators import similarity
from tests.test_kmeans import UNIT, py_assign, py_kmeans


def py_semantic_dedup(
    vecs: dict, k: int, iters: int, threshold: float, unit: int = UNIT
):
    """Independent mirror: fixed-point Lloyd's (``py_kmeans``), final
    integer argmin assignment, rank = (d2 DESC, id), drop iff an
    earlier-ranked member of the same cluster has quantized cosine >=
    threshold. A pair's cosine is NULL (never screens) when either
    quantized norm is 0 or the lengths differ — the SQL twin's
    ``zip_with`` NULL-pads the shorter vector."""
    import numpy as np

    # the embedding column is float32: quantize from the float32 value,
    # exactly as the engine's double cast of the stored float does
    f32 = {
        i: None if vs is None else [float(np.float32(v)) for v in vs]
        for i, vs in vecs.items()
    }
    cents = py_kmeans(f32, k, iters, unit)
    q = {
        i: [math.floor(v * float(unit)) for v in vs]
        for i, vs in f32.items()
        if vs
    }
    # final assignment against the trained centroids
    assign = py_assign(q, cents)
    norm = {i: sum(a * a for a in qv) for i, qv in q.items()}
    out = {}
    by_cluster: dict[int, list[int]] = {}
    for i, (d2, cid) in assign.items():
        by_cluster.setdefault(cid, []).append(i)
    for cid, ids in by_cluster.items():
        ranked = sorted(ids, key=lambda i: (-assign[i][0], i))
        for pos, i in enumerate(ranked):
            best = None
            for j in ranked[:pos]:
                if norm[i] == 0 or norm[j] == 0 or len(q[i]) != len(q[j]):
                    continue  # NULL cosine: never screens
                dot = sum(a * b for a, b in zip(q[i], q[j]))
                cos = float(dot) / (
                    math.sqrt(float(norm[i])) * math.sqrt(float(norm[j]))
                )
                best = cos if best is None else max(best, cos)
            out[i] = (cid, pos + 1, best, best is None or best < threshold)
    return out


def _run(spark, vecs, k=2, iters=2, threshold=0.9, unit=UNIT):
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<float>"
    )
    return {
        r.vec_id: (r.cid, r.rk, r.max_prior_sim, r.kept)
        for r in similarity.semantic_dedup(
            df, k=k, iters=iters, threshold=threshold, unit=unit
        ).collect()
    }


def test_planted_duplicates_collapse_to_one(spark):
    """Three near-identical vectors + two orthogonal ones: exactly one
    of the near-identical group survives; the orthogonals all survive."""
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.999, 0.001, 0.0, 0.0],
        2: [0.998, 0.0, 0.002, 0.0],
        3: [0.0, 1.0, 0.0, 0.0],
        4: [0.0, 0.0, 1.0, 0.0],
    }
    got = _run(spark, vecs, k=2, iters=2, threshold=0.95)
    dup_group = [i for i in (0, 1, 2)]
    kept_dups = [i for i in dup_group if got[i][3]]
    assert len(kept_dups) == 1
    assert got[3][3] and got[4][3]
    want = py_semantic_dedup(vecs, k=2, iters=2, threshold=0.95)
    assert got == want


def test_all_distinct_vectors_all_kept(spark):
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
        3: [0.0, 0.0, 0.0, 1.0],
    }
    got = _run(spark, vecs, k=2, iters=2, threshold=0.9)
    assert all(v[3] for v in got.values())
    # rank-1 member of each cluster has NULL max_prior_sim
    for v in got.values():
        if v[1] == 1:
            assert v[2] is None


def test_keep_rule_prefers_farthest_from_centroid(spark):
    """Within a duplicate group the survivor must be the earliest in
    (d2 DESC, id) order — verified via the python mirror's rank."""
    vecs = {
        0: [0.9, 0.1, 0.0, 0.0],
        1: [0.905, 0.095, 0.0, 0.0],
        2: [0.7, 0.3, 0.0, 0.0],  # same direction-ish, farther out
        3: [0.0, 0.0, 1.0, 0.0],
    }
    got = _run(spark, vecs, k=2, iters=2, threshold=0.97)
    want = py_semantic_dedup(vecs, k=2, iters=2, threshold=0.97)
    assert got == want
    # dropped members must name a strictly earlier-ranked cause
    for i, (cid, rk, sim, kept) in got.items():
        if not kept:
            assert sim is not None and sim >= 0.97
            assert rk > 1


vec4 = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(vec4, min_size=2, max_size=10, unique_by=lambda v: tuple(v)))
def test_semantic_dedup_matches_python_reference(spark, vec_lists):
    vecs = {i: v for i, v in enumerate(vec_lists)}
    got = _run(spark, vecs, k=2, iters=2, threshold=0.8)
    want = py_semantic_dedup(vecs, k=2, iters=2, threshold=0.8)
    assert got == want


def test_zero_quantized_norm_is_kept_and_never_screens(spark):
    """Pinned hypothesis find: a float32 subnormal quantizes to the zero
    vector — cosine undefined (NULL), member kept, others unaffected."""
    vecs = {
        0: [0.0, 0.0, 0.0, 1.0],
        1: [0.0, 0.0, 0.0, 1.401298464324817e-45],  # min float32 subnormal
        2: [0.0, 0.0, 0.0, -1.0],
    }
    got = _run(spark, vecs, k=2, iters=2, threshold=0.8)
    want = py_semantic_dedup(vecs, k=2, iters=2, threshold=0.8)
    assert got == want
    assert got[1][3] is True  # zero-norm member kept
    assert got[1][2] is None or got[1][1] == 1


def test_semantic_dedup_ragged_null_and_empty_vectors_match_reference(spark):
    """Ragged points and seeds, a NULL and an empty vector (never
    assigned, so absent), near-duplicates within and across lengths:
    cross-length pairs have a NULL cosine and never screen."""
    vecs = {}
    for i in range(48):
        base = [1.0, 0.5, -0.25, 0.0, 0.1][: 2 + i % 4]
        vecs[i] = [x + 0.001 * (i % 3) for x in base]
    vecs[48] = None
    vecs[49] = []
    for unit in (UNIT, 10**3):
        got = _run(spark, vecs, k=3, iters=2, threshold=0.99, unit=unit)
        assert got == py_semantic_dedup(vecs, k=3, iters=2, threshold=0.99, unit=unit)
        assert 48 not in got and 49 not in got
        assert not all(v[3] for v in got.values())


def test_semantic_dedup_cluster_spanning_several_blocks_matches_reference(spark):
    """One 2,100-member cluster: its m x m dot matrix exceeds the fixed
    byte budget, so the screen runs it in row blocks whose members must
    still see every earlier-ranked member."""
    n = 2100
    assert n * n * 8 > similarity._KMEANS_KERNEL_BYTES
    vecs = {i: [((i * 7) % 13 - 6) / 6.0, ((i * 5) % 11 - 5) / 5.0] for i in range(n)}
    got = _run(spark, vecs, k=1, iters=1, threshold=0.999)
    assert got == py_semantic_dedup(vecs, k=1, iters=1, threshold=0.999)
    assert 0 < sum(v[3] for v in got.values()) < n
