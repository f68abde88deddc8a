"""Similarity search over embedding columns (array<float>).

Two tiers, per the scale plan:

- ``cosine_topk_bruteforce``: exact top-k for a small query set — the
  query side is broadcast, so the big side streams through one narrow
  stage (no shuffle of the corpus). This is the correctness baseline.
- ``srp_lsh_topk``: sign-random-projection (cosine) LSH — deterministic
  pseudo-random hyperplanes derived from xxhash64, bucket join, then exact
  re-ranking inside buckets. Candidate generation is linear in corpus
  size; this is the 100 TB path.

All vector math is JVM-side (``zip_with`` + ``aggregate``) in double
precision; no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product in double, summed in index order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _embedding_dim(embeddings: DataFrame, vec_col: str) -> int | None:
    """Embedding dimensionality from ONE input row (the fixed-dim
    contract: every non-null vector in an embeddings relation has the
    same length). A limit-1 probe on the source replaces the former
    full-table max-index aggregation — one row-group read instead of an
    extra corpus-derived Spark job per call. Returns None when no
    usable vector exists (empty relation or all-NULL/empty vectors)."""
    head = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("_d"))
        .first()
    )
    if head is None or head[0] is None or head[0] <= 0:
        return None
    return int(head[0])


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query id (excluding self).

    Plan shape: broadcast the tiny query side, narrow map computes sims,
    one exchange on query_id for the rank window over k·|queries| rows.
    """
    q = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    sims = (
        embeddings.alias("e")
        .join(F.broadcast(q), F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            # 4 dp so ranking happens on values an ANSI-SQL oracle
            # reproduces exactly (ties broken by neighbor_id)
            F.round(cosine(F.col("qv"), F.col(vec_col)), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


# SRP signature as a SQL expression template: the plane index `p` is a
# lambda variable and SQL `shiftleft` accepts expression shift amounts
# (the PySpark wrapper only takes a Python int). Hyperplane entries are
# deterministic pseudo-randoms in [-1, 1): xxhash64(plane, dim) / 2^63 —
# every executor regenerates the same planes, no broadcast of random state.
_SRP_EXPR = """
aggregate(
  sequence(0, {last_plane}),
  cast(0 as bigint),
  (acc, p) -> acc + IF(
    aggregate(
      zip_with({vec}, sequence(0, size({vec}) - 1),
        (x, i) -> cast(x as double)
                  * (cast(xxhash64(p, i) as double) / 9.223372036854775808e18)),
      cast(0.0 as double),
      (s, v) -> s + v
    ) > 0,
    shiftleft(cast(1 as bigint), p),
    cast(0 as bigint)))
"""


def srp_signature(vec_col: str, num_planes: int = 16) -> Column:
    """Sign-random-projection bit signature packed into a bigint. Takes a
    column NAME because it is compiled via a SQL template."""
    return F.expr(_SRP_EXPR.format(vec=vec_col, last_plane=num_planes - 1))


# SRP variant with planes from an integer LCG instead of xxhash64. Same
# structure as _SRP_EXPR; the point of the LCG is that an ANSI-SQL oracle
# (DuckDB) can regenerate the IDENTICAL planes — xxhash64 exists only in
# Spark — so the whole LSH pipeline (signature -> band blocking -> exact
# cosine verify) becomes driver-hash-checkable cross-engine, not just
# rows-only. Plane entry for (plane p, dim i):
#   ((1103515245*(p*131 + i) + 12345) % 2^31) / 2^31 * 2 - 1   in [-1, 1)
# All intermediates < 2^53, so double arithmetic is exact in both engines;
# the sign decision and therefore the signature are integer-identical.
_SRP_LCG_EXPR = """
aggregate(
  sequence(0, {last_plane}),
  cast(0 as bigint),
  (acc, p) -> acc + IF(
    aggregate(
      zip_with({vec}, sequence(0, size({vec}) - 1),
        (x, i) -> cast(x as double)
                  * (cast((cast(1103515245 as bigint) * (p * 131 + i) + 12345)
                          % 2147483648 as double)
                     / 2147483648.0d * 2.0d - 1.0d)),
      cast(0.0 as double),
      (s, v) -> s + v
    ) > 0,
    shiftleft(cast(1 as bigint), p),
    cast(0 as bigint)))
"""


def srp_signature_lcg(vec_col: str, num_planes: int = 24) -> Column:
    """SRP bit signature with oracle-replicable LCG planes (see above)."""
    return F.expr(_SRP_LCG_EXPR.format(vec=vec_col, last_plane=num_planes - 1))


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.15,
    num_planes: int = 24,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP-LSH band blocking +
    exact cosine verification — the vector analog of MinHash+verify for
    text, and the scale path for embedding-level dedup (candidates are
    pairs sharing >= 1 of ``bands`` signature bands; linear shuffle in
    corpus size, never an all-pairs scan).

    The emitted set is exactly "pairs sharing >= 1 band AND
    round(cosine, 4) >= threshold" — a deterministic semantic the DuckDB
    oracle replicates bit-for-bit (LCG planes, see ``srp_signature_lcg``),
    so the driver hash pins the bucketing itself, not just row counts.
    Recall vs the unblocked definition follows the SRP S-curve
    (1 - (1 - p_band)^bands, p_bit = 1 - theta/pi); raise num_planes/
    bands for higher recall at more replication, exactly the MinHash
    banding tradeoff.

    Plan shape: one narrow projection computes the signature, explode
    replicates (id, band_idx, band_val) x bands — 16-byte rows; bucket
    GROUP BY + in-bucket ordered-pair expansion (no self-join: a
    self-join would re-execute the signature subtree on both sides);
    join-back to vectors by id; exact cosine only on candidates.
    """
    w = num_planes // bands
    if w * bands != num_planes:
        raise ValueError("num_planes must be divisible by bands")
    sig = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        srp_signature_lcg(vec_col, num_planes).alias("_sig"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("_sig"), b * w)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("bv"),
            )
            for b in range(bands)
        ]
    )
    buckets = (
        sig.select("_id", F.explode(band_structs).alias("bk"))
        .select("_id", "bk.band", "bk.bv")
        .groupBy("band", "bv")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_expand = F.expr(
        """
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))
        """
    )
    cand = (
        buckets.select(F.explode(pair_expand).alias("p"))
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )
    va = sig.select(F.col("_id").alias("a"), F.col("_v").alias("va"))
    vb = sig.select(F.col("_id").alias("b"), F.col("_v").alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            F.col("a").alias("vec_a"),
            F.col("b").alias("vec_b"),
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def with_recall_vs_exact(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Append a per-query ``recall_at_k`` column to an approximate top-k
    result: the fraction of the EXACT top-k neighbor set the approximate
    search retrieved. Both inputs carry (query_id, neighbor_id, rk).

    Putting recall INTO the result rows makes retrieval quality part of
    the driver's row hash — a rows-only check then pins not just that the
    ANN query runs, but that it retrieves. Deterministic because both
    sides rank on rounded sims with neighbor_id tie-breaks.

    Plan shape: both sides are k·|queries| rows; the semi-join hit count
    and the join-back are broadcasts — nothing corpus-sized.
    """
    truth = exact.filter(F.col("rk") <= k).select("query_id", "neighbor_id")
    hits = (
        approx.filter(F.col("rk") <= k)
        .join(truth, ["query_id", "neighbor_id"], "leftsemi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        approx.join(F.broadcast(hits), "query_id", "left")
        .withColumn(
            "recall_at_k",
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 4),
        )
        .drop("n_hits")
    )


def ivf_index(
    embeddings: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample_size: int = 100_000,
    fit_sample_fraction: float = 1.0,
):
    """IVF (inverted-file) coarse quantizer: k-means centroids + per-vector
    list assignment — the classic ANN scale path alongside LSH.

    The centroids are fit on a bounded sample: an optional deterministic
    hash filter (``pmod(xxhash64(id), 1/fit_sample_fraction) == 0``)
    followed by a ``limit(fit_sample_size)`` cap. k-means quality depends
    on the density landscape, not on seeing every point, so at 100 TB the
    multi-pass fit touches a bounded sample while the single-pass
    assignment still covers the full corpus. No ``count()`` pre-pass: the
    old ``fraction = size/count`` sizing cost one full-scan job before
    the fit (r03 verdict); the limit cap scans incrementally instead.
    Corpora under the cap fit on every row, unchanged. For corpora far
    over it, set ``fit_sample_fraction`` so the cap's prefix bias
    disappears (the hash filter spreads the sample uniformly over the
    keyspace before the cap applies).

    Returns (assigned: DataFrame[id, vec, list_id], centroids:
    list[(list_id, center)]). The index is a plain DataFrame, so at 100 TB
    it would be written `partitionBy("list_id")` and probing prunes whole
    partitions at the parquet-scan level.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    )
    denom = max(1, round(1 / fit_sample_fraction))
    fit_input = vecs
    if denom > 1:
        fit_input = fit_input.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(denom)) == 0
        )
    fit_input = fit_input.limit(fit_sample_size)
    model = KMeans(k=n_lists, seed=seed, featuresCol="features").fit(fit_input)
    assigned = (
        model.transform(vecs)
        .select(id_col, vec_col, F.col("prediction").alias("list_id"))
    )
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return assigned, centroids


def write_ivf_index(
    assigned: DataFrame, path: str, id_col: str = "vec_id"
) -> None:
    """Persist an IVF index as a list_id-partitioned parquet layout.

    This is the 100 TB story made concrete: probing ``n_probe`` of
    ``n_lists`` lists becomes DIRECTORY-level partition pruning at the
    parquet scan — the query reads n_probe/n_lists of the data and the
    other partitions are never opened (asserted by the pruning test)."""
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)


def probe_ivf_index(
    spark, path: str, list_ids: list[int]
) -> DataFrame:
    """Read back only the probed lists; the `isin` filter on the
    partition column prunes at the directory level (PartitionFilters in
    the scan node, not a post-scan Filter)."""
    return spark.read.parquet(path).filter(F.col("list_id").isin(list_ids))


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_size: int = 100_000,
) -> DataFrame:
    """Approximate cosine top-k via IVF probing: for each query, rank the
    coarse centroids by cosine, scan only the ``n_probe`` nearest lists,
    and exactly re-rank candidates inside them.

    Plan shape: the (query_id, list_id) probe set is tiny and broadcast;
    the corpus side is touched once with a semi-join-like filter on
    list_id — at scale, partition pruning on a list_id-partitioned layout
    makes this a fractional scan (n_probe / n_lists of the data).
    """
    spark = embeddings.sparkSession
    assigned, centroids = ivf_index(
        embeddings, n_lists, id_col, vec_col, fit_sample_size=fit_sample_size
    )
    cent_df = spark.createDataFrame(centroids, ["list_id", "center"])
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    probes = (
        q.crossJoin(F.broadcast(cent_df))
        .select(
            "query_id",
            "qv",
            "list_id",
            cosine(F.col("qv"), F.col("center")).alias("c_sim"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("c_sim").desc(), F.col("list_id"))
    probe_set = (
        probes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qv", "list_id")
    )
    cand = assigned.join(F.broadcast(probe_set), "list_id").filter(
        F.col("query_id") != F.col(id_col)
    )
    sims = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col(vec_col)), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def srp_lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_planes: int = 16,
    band_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lcg_planes: bool = False,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k: SRP signature -> band buckets -> exact
    cosine re-rank within candidate buckets only. ``lcg_planes=True``
    swaps the xxhash64 plane family for the oracle-replicable LCG one
    (:func:`srp_signature_lcg`) so an ANSI-SQL twin can regenerate
    signatures, buckets, candidates, and ranks; ``round_digits``
    controls the cosine rounding the rank order is taken over (4 for
    the cross-engine-pinned variant, matching the brute-force oracle)."""
    bands = num_planes // band_bits
    mask = (1 << band_bits) - 1
    plane_sig = (
        srp_signature_lcg(vec_col, num_planes)
        if lcg_planes
        else srp_signature(vec_col, num_planes)
    )
    sig = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        plane_sig.alias("sig"),
    )
    # band indices are compile-time constants -> plain Python loop
    banded = sig.select(
        id_col,
        vec_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, vec_col, "bk.band", "bk.bv")
    # explicit aliases: q derives from banded, so unqualified column refs
    # would resolve to the SAME attributes and make the join trivially true
    # (degrading LSH bucketing to brute force)
    q = banded.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("band").alias("q_band"),
        F.col("bv").alias("q_bv"),
    )
    cand = (
        banded.join(
            F.broadcast(q),
            (F.col("band") == F.col("q_band")) & (F.col("bv") == F.col("q_bv"))
            & (F.col("query_id") != F.col(id_col)),
        )
        .select("query_id", F.col(id_col).alias("neighbor_id"), "qv", F.col(vec_col).alias("nv"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sims = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("nv")), round_digits).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def grid_cell_coord(
    vec_col: Column, j: int, lo: float, step: float, g: int
) -> Column:
    """Coordinate j of the data-independent grid coarse quantizer:
    clamp(floor((v[j] - lo) / step), 0, g-1) — pure IEEE-double
    arithmetic on the float-cast-to-double component, bit-reproducible
    by any engine."""
    x = F.element_at(vec_col, j + 1).cast("double")
    return F.least(
        F.greatest(F.floor((x - lo) / step).cast("long"), F.lit(0)),
        F.lit(g - 1),
    )


def ivf_topk_grid(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dims: int = 2,
    lo: float = -0.6,
    step: float = 0.3,
    g: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_topk` with a DETERMINISTIC coarse quantizer — a fixed
    ``g``-per-axis grid over the first ``dims`` vector components
    instead of KMeans centroids — so a SQL oracle can regenerate the
    whole list-assign → probe → exact-re-rank pipeline bit-for-bit
    (the same evidence pattern as the LCG-hyperplane cosine LSH twin).
    KMeans adapts lists to the density landscape and stays the quality
    path; the grid twin pins the IVF *mechanics* cross-engine.

    Probing: each query scans its own cell plus all grid neighbors
    within Chebyshev distance 1 (clamped at the borders), i.e. 3^dims
    cell ids built as ONE array expression per query row — no centroid
    ranking join. Exact cosine re-ranks candidates only; ties break on
    neighbor id. Same plan posture as the KMeans variant: the corpus is
    touched once, and a ``cell``-partitioned layout turns probing into
    directory-level partition pruning (3^dims / g^dims of the data).
    """
    import itertools

    v = F.col(vec_col)
    coords = [grid_cell_coord(v, j, lo, step, g) for j in range(dims)]
    cell = sum((c * (g**j) for j, c in enumerate(coords)), F.lit(0))
    cells = embeddings.select(F.col(id_col), v.alias("_vec"), cell.alias("cell"))

    def clamp(c: Column) -> Column:
        return F.least(F.greatest(c, F.lit(0)), F.lit(g - 1))

    probe_cells = F.array_distinct(
        F.array(
            *[
                sum(
                    (clamp(c + d) * (g**j) for j, (c, d) in enumerate(zip(coords, off))),
                    F.lit(0),
                )
                for off in itertools.product((-1, 0, 1), repeat=dims)
            ]
        )
    )
    q = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            v.alias("qv"),
            F.explode(probe_cells).alias("cell"),
        )
    )
    cand = cells.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col(id_col)
    )
    sims = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col("_vec")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def semantic_diverse_sample(
    embeddings: DataFrame,
    per_cell: int = 5,
    dims: int = 2,
    lo: float = -0.6,
    step: float = 0.3,
    g: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-aware sampling over the embedding space (the
    SemDeDup-adjacent curation step): assign every vector its
    deterministic grid cell (:func:`grid_cell_coord` — the same
    quantizer the verified IVF twin pins cross-engine) and keep the
    first ``per_cell`` vectors per cell in md5(id) order. Dense regions
    downsample hard, sparse regions are preserved — coverage-uniform
    instead of density-proportional, which is what a diversity pass
    wants (a plain hash-sample keeps near-duplicate clusters in
    proportion to their redundancy).

    Both the cell assignment (pure IEEE double arithmetic) and the draw
    (md5 order, the repo's reproducible-sampling convention) are
    engine-reproducible, so the sample is bit-stable across reruns,
    partitionings, and engines. Plan: one narrow projection (cell), one
    exchange on cell shared by the occupancy window and the rank — the
    stratified-sample shape. Output carries ``cell_n`` (pre-sample
    occupancy) so the consumer sees each region's downsampling ratio.
    """
    from .relational import deterministic_stratified_sample

    v = F.col(vec_col)
    coords = [grid_cell_coord(v, j, lo, step, g) for j in range(dims)]
    cell = sum((c * (g**j) for j, c in enumerate(coords)), F.lit(0))
    cells = embeddings.select(F.col(id_col), cell.alias("cell")).withColumn(
        "cell_n", F.count(F.lit(1)).over(Window.partitionBy("cell"))
    )
    out = deterministic_stratified_sample(cells, ["cell"], id_col, per_cell)
    return out.select(
        id_col, "cell", F.col("cell_n").cast("bigint").alias("cell_n")
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    n: int = 3,
    rare_df_min: int = 2,
    rare_df_max: int = 3,
    threshold: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WEIGHTED lexical near-duplicate pairs: TF-IDF cosine over word
    n-gram features, completing the similarity family matrix (exact
    Jaccard = unweighted sets, MinHash/SimHash = sketched sets,
    embedding cosine = dense vectors; this is the weighted sparse-vector
    case — the classic AllPairs/Bayardo'07 problem).

    Blocking contract (the family's usual candidate rule, stated, not
    hidden): candidates are pairs sharing at least one DISTINGUISHING
    gram — document frequency in [rare_df_min, rare_df_max]. Grams
    above the cap are corpus boilerplate whose pair lists grow
    quadratically in df (and whose idf weight is the smallest); grams
    below the floor pair nothing. The exact cosine then runs on
    candidates only, over ALL their shared grams.

    Determinism: idf = ln(1 + N/df) rounds to 6dp (the BM25 rule) and
    multiplies by the integer tf — weights are exact 6dp decimals from
    there on; dots and squared norms are exact decimal sums of 12dp
    products; one double division + sqrt at the end. The DuckDB oracle
    replays the whole pipeline (decimal-to-double via VARCHAR — the
    correctly-rounded path).

    Scale: gram rows aggregate to (doc, gram, tf) once; the rare-gram
    join is bounded by rare_df_max (each rare gram contributes at most
    C(rare_df_max, 2) pairs); the dot join ships candidate x doc-gram
    rows — ∝ true near-dup evidence, never corpus².
    """
    from .text import ngram_array, normalized_tokens

    tk = normalized_tokens(text_col)
    g = (
        docs.select(F.col(id_col), tk.alias("_tk"))
        .filter(F.size("_tk") >= n)
        .select(id_col, F.explode(ngram_array(F.col("_tk"), n)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.countDistinct(id_col).alias("nd"))
    idf6 = F.round(
        F.log(F.lit(1.0) + F.col("nd").cast("double") / F.col("df").cast("double")),
        6,
    ).cast("decimal(18,6)")
    w = (
        g.join(dfreq, "gram")
        .crossJoin(F.broadcast(nd))
        .select(
            id_col,
            "gram",
            (F.col("tf") * idf6).cast("decimal(12,6)").alias("w"),
        )
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum((F.col("w") * F.col("w"))).cast("double")).alias("nrm")
    )
    rare = dfreq.filter(
        (F.col("df") >= rare_df_min) & (F.col("df") <= rare_df_max)
    ).select("gram")
    ga = g.join(rare, "gram").select("gram", F.col(id_col).alias("doc_a"))
    gb = g.join(rare, "gram").select("gram", F.col(id_col).alias("doc_b"))
    cand = (
        ga.join(gb, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    wa = w.select(F.col(id_col).alias("doc_a"), "gram", F.col("w").alias("wa"))
    wb = w.select(F.col(id_col).alias("doc_b"), "gram", F.col("w").alias("wb"))
    dot = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("double").alias("_dot"))
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("nrm").alias("_na"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("nrm").alias("_nb"))
    return (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("_dot") / (F.col("_na") * F.col("_nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    unit: int = 10**6,
) -> DataFrame:
    """Per-label mean embedding (class centroids / mean pooling — the
    reduction behind nearest-centroid classification, IVF list training,
    and cluster summaries), in LONG form: one row per (label, component
    position) with the component mean.

    Determinism is the PageRank lesson applied to float reduction:
    averaging floats by decimal-casting hits engine-divergent
    rounding-tie cases (a float whose exact decimal expansion ends in
    …5 exactly at the cast scale — ~0.02% of uniform floats, certain at
    corpus scale). So components are FIXED-POINT quantized first —
    ``floor(v * unit)`` is the same bigint in every engine because v
    (float→double, exact) and v*unit (one IEEE multiply) are — then
    integer-summed exactly, and the mean is one double division at the
    end. Quantization costs < 1/unit of precision, bought:
    bit-identical centroids under any partitioning or engine.

    Plan: posexplode (components ∝ corpus x dim) -> one hash agg on
    (label, pos). Shuffle carries only the partial integer sums —
    (labels x dims x partitions) rows, constant in corpus size.
    """
    e = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "_v"),
    ).select(
        "label",
        "pos",
        F.floor(F.col("_v").cast("double") * F.lit(float(unit)))
        .cast("long")
        .alias("_u"),
    )
    return (
        e.groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("_u").alias("_s"))
        .select(
            "label",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            (
                F.col("_s").cast("double")
                / F.col("n_vecs").cast("double")
                / F.lit(float(unit))
            ).alias("component_mean"),
        )
    )


def nearest_centroid_assign(
    embeddings: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit: int = 10**6,
    d2_unit: int = 10**12,
) -> DataFrame:
    """Nearest-centroid classification closed loop: assign every vector
    to its closest class centroid (squared L2) and return the confusion
    matrix (true_label, assigned_label, n) — the evaluation reduction
    behind centroid classifiers and cluster-quality checks.

    Determinism end to end: centroids come from
    :func:`embedding_centroids` (fixed-point means); each distance term
    (v - c)^2 is a deterministic double, FIXED-POINT quantized
    (floor(term * d2_unit)) before the per-(vector, candidate) integer
    sum so the 64-term reduction is order-independent; argmin breaks
    ties on the smaller label. The centroid table (labels x dims rows)
    broadcasts onto the exploded vectors — one scan, one shuffle for
    the per-pair sums, one for the confusion counts.
    """
    cent = embedding_centroids(embeddings, label_col, vec_col, unit).select(
        F.col("label").alias("_cand"), "pos", "component_mean"
    )
    e = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("true_label"),
        F.posexplode(F.col(vec_col)).alias("pos", "_v"),
    )
    term = F.col("_v").cast("double") - F.col("component_mean")
    d = (
        e.join(F.broadcast(cent), "pos")
        .select(
            "_id",
            "true_label",
            "_cand",
            F.floor(term * term * F.lit(float(d2_unit))).cast("long").alias("_t"),
        )
        .groupBy("_id", "true_label", "_cand")
        .agg(F.sum("_t").alias("_d2u"))
    )
    w = Window.partitionBy("_id").orderBy(F.col("_d2u").asc(), F.col("_cand").asc())
    best = d.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    return (
        best.groupBy("true_label", F.col("_cand").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def quantize_int8(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4x memory
    compression step an ANN index applies before sharding (FAISS
    SQ8-style): ``scale = max|v| / 127``, ``q_i = floor(v_i/scale + 0.5)``
    (round-half-up in pure binary floating point — no decimal rounding,
    so there is no engine-divergent tie behavior; the result always
    lies in [-127, 127] without clamping), plus the reconstruction MSE
    that quantifies the recall cost.

    Determinism: scale is one exact-input division; each q_i is a
    correctly-rounded division + floor (bit-equal cross-engine); the
    quantized codes are emitted as a comma-joined string (the repo's
    representation-independent array convention) so the oracle
    hash-pins every code. MSE rounds to 8 decimals (the summation-order
    guard, same role as the cosine queries' 4dp rounding).

    Scale posture: ZERO exchanges — narrow per-row array expressions;
    at 100 TB this is a map-only pass writing the quantized shards.
    Zero vectors are excluded (no scale exists); callers count them via
    the complement filter.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    d = embeddings.select(
        F.col(id_col),
        v.alias("_v"),
        (maxabs / F.lit(127.0)).alias("scale"),
        F.size(F.col(vec_col)).alias("_n"),
    ).filter(F.col("scale") > 0)
    q = F.transform(
        F.col("_v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
    )
    d = d.withColumn("_q", q)
    sq_err = F.aggregate(
        F.zip_with(
            F.col("_v"),
            F.col("_q"),
            lambda a, b: (a - b.cast("double") * F.col("scale"))
            * (a - b.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return d.select(
        id_col,
        "scale",
        F.array_join(
            F.transform(F.col("_q"), lambda x: x.cast("string")), ","
        ).alias("q_csv"),
        F.round(sq_err / F.col("_n").cast("double"), 8).alias("mse"),
    )


# Byte budget for each temporary array of the k-means/SemDeDup kernel:
# the rows x k x dim int64 distance diffs and the screen's block x m
# dot block are built in row chunks that stay under it, whatever the
# corpus size, k, dim or cluster size.
_KMEANS_KERNEL_BYTES = 32 << 20


def _kmeans_trunc_div(s: int, n: int) -> int:
    """Truncating integer division matching Spark/DuckDB ``div`` for
    negative sums (Python ``//`` floors; ``div`` truncates toward 0)."""
    return s // n if s >= 0 else -((-s) // n)


def _kmeans_check_bound(big, dim: int) -> None:
    """Raise unless ``(2 * big)^2 * dim < 2^63``: with ``big`` the
    largest |component| involved, every int64 distance, dot and norm of
    ``dim``-long quantized vectors is then exact (NumPy int64 wraps
    silently where Spark's ANSI long arithmetic raised)."""
    if not (2.0 * float(big)) ** 2 * dim < 2.0**63:
        raise ValueError(
            f"k-means: quantized components up to {big} at dim {dim} break "
            "the int64 bound (2*max|q|)^2*dim < 2^63; lower unit"
        )


def _kmeans_quantize(vals, unit: int):
    """floor(float64(v) * float(unit)) as int64 for equal-length
    vectors — the same IEEE ops as the SQL twin's quantize expression.
    A NULL element (NaN after Arrow conversion) raises instead of
    casting to INT64_MIN, and so does any vector past the overflow
    bound."""
    import numpy as np

    f = np.floor(np.asarray(vals, dtype=np.float64) * float(unit))
    if np.isnan(f).any():
        raise ValueError("k-means: vector has a NULL or NaN element")
    _kmeans_check_bound(np.abs(f).max(initial=0.0), f.shape[1])
    return f.astype(np.int64)


def _kmeans_length_groups(vectors: list, unit: int):
    """Yield (row indices, quantized rows x L matrix) per distinct
    vector length L. NULL and empty vectors have no positions: they are
    skipped, so they are never assigned."""
    import numpy as np

    bylen: dict[int, list[int]] = {}
    for i, v in enumerate(vectors):
        if v is not None and len(v):
            bylen.setdefault(len(v), []).append(i)
    for idx in bylen.values():
        yield np.asarray(idx), _kmeans_quantize([vectors[i] for i in idx], unit)


def _kmeans_chunks(n: int, row_cells: int):
    """Slices over ``n`` rows whose int64 temporaries of ``row_cells``
    cells per row stay under ``_KMEANS_KERNEL_BYTES`` (one row at
    least)."""
    step = max(1, _KMEANS_KERNEL_BYTES // (8 * row_cells))
    return (slice(r0, min(n, r0 + step)) for r0 in range(0, n, step))


def _kmeans_nearest(Q, cents: list):
    """Exact nearest centroid for the equal-length quantized points
    ``Q`` (rows x L). ``cents`` holds the cid-sorted int64 centroid
    vectors, each of its own length; the distance to centroid i sums
    (q - c)^2 over pos < min(L, len(c_i)), and argmin keeps the first
    minimum, so ties go to the smaller cid. Rows run in chunks that keep
    the rows x k x dim temporaries under ``_KMEANS_KERNEL_BYTES``.
    Returns (index into ``cents``, d2) as int64 arrays."""
    import numpy as np

    n, L = Q.shape
    by_m: dict[int, list[int]] = {}
    for i, c in enumerate(cents):
        by_m.setdefault(min(L, len(c)), []).append(i)
    groups = [
        (m, ix, np.stack([cents[i][:m] for i in ix])) for m, ix in by_m.items()
    ]
    big_c = max(int(np.abs(M).max()) for _, _, M in groups)
    width = max(by_m)
    a = np.empty(n, dtype=np.int64)
    d2 = np.empty(n, dtype=np.int64)
    for sl in _kmeans_chunks(n, len(cents) * width):
        V = Q[sl]
        _kmeans_check_bound(max(int(np.abs(V).max()), big_c), width)
        D = np.empty((len(V), len(cents)), dtype=np.int64)
        for m, ix, M in groups:
            D[:, ix] = ((V[:, None, :m] - M[None]) ** 2).sum(axis=2)
        a[sl] = D.argmin(axis=1)
        d2[sl] = D[np.arange(len(V)), a[sl]]
    return a, d2


def _kmeans_kernel_partials(cents: list, cids: list, unit: int):
    """mapInPandas closure for one Lloyd round: assign each vector to
    its nearest centroid and emit per-(cid, pos) partial (count, sum)
    rows for pos < min(len(v), len(c)) — so a position's count is the
    members long enough to reach it."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            out_c, out_p, out_n, out_s = [], [], [], []
            for _, Q in _kmeans_length_groups(pdf.iloc[:, 0].tolist(), unit):
                a, _ = _kmeans_nearest(Q, cents)
                for ci in set(a.tolist()):
                    mask = a == ci
                    m = min(Q.shape[1], len(cents[ci]))
                    out_c += [cids[ci]] * m
                    out_p += range(m)
                    out_n += [int(mask.sum())] * m
                    out_s += Q[mask, :m].sum(axis=0).tolist()
            yield pd.DataFrame(
                {"cid": out_c, "pos": out_p, "_n": out_n, "_s": out_s}
            )

    return fn


def _kmeans_train(
    embeddings: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    unit: int,
    seed_tag: str,
):
    """Seed and run ``iters`` Lloyd rounds; returns (cids, centroids,
    n_members), the last two as per-cid int64 arrays of the seed's
    length. Seeding collects the <= k md5-draw seed rows; a NULL or
    empty seed keeps its cid slot but has no positions, so it is
    dropped. Each round is one Arrow corpus pass emitting partial sums,
    one small aggregate collected to the driver, and the trunc-div
    update over the bounded state."""
    import numpy as np

    if k < 1 or iters < 1:
        raise ValueError(f"k-means: k and iters must be >= 1 ({k=}, {iters=})")
    draw = F.md5(
        F.concat(F.lit(seed_tag + "|"), F.col(id_col).cast("string"))
    )
    seeds = (
        embeddings.select(F.col(id_col).alias("_id"), draw.alias("_draw"))
        .orderBy("_draw")
        .limit(k)
        .select(
            "_id",
            (F.row_number().over(Window.orderBy("_draw")) - 1)
            .cast("long")
            .alias("cid"),
        )
    )
    seed_rows = sorted(
        (int(r["cid"]), r["_v"])
        for r in embeddings.join(seeds, embeddings[id_col] == seeds["_id"])
        .select("cid", F.col(vec_col).alias("_v"))
        .collect()
        if r["_v"]
    )
    cids = [c for c, _ in seed_rows]
    cents = [_kmeans_quantize([v], unit)[0] for _, v in seed_rows]
    nm = [np.zeros(len(c), dtype=np.int64) for c in cents]
    row_of = {c: i for i, c in enumerate(cids)}
    vec_only = embeddings.select(vec_col)
    for _ in range(iters if cents else 0):  # no centroid: nothing to train
        upd = (
            vec_only.mapInPandas(
                _kmeans_kernel_partials(cents, cids, unit),
                "cid long, pos int, _n long, _s long",
            )
            .groupBy("cid", "pos")
            .agg(F.sum("_n").alias("_n"), F.sum("_s").alias("_s"))
            .collect()
        )
        nm = [np.zeros(len(c), dtype=np.int64) for c in cents]
        for r in upd:
            i, p = row_of[r["cid"]], r["pos"]
            cents[i][p] = _kmeans_trunc_div(r["_s"], r["_n"])
            nm[i][p] = r["_n"]
    return cids, cents, nm


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit: int = 10**6,
    seed_tag: str = "km",
) -> DataFrame:
    """Distributed k-means (Lloyd's algorithm) with a fixed iteration
    count, deterministic seeding, and FIXED-POINT arithmetic end to end
    — the clustering primitive behind IVF list training, corpus
    bucketing, and semantic-diversity sampling, here as a loop an
    external engine can replay bit-for-bit.

    Determinism (the PageRank lesson applied to Lloyd's):

    - components quantize once to ``floor(v * unit)`` bigints (exact in
      every engine: float->double widening and one IEEE multiply);
    - every distance is an INTEGER — sum of squared quantized diffs —
      so assignment argmins are order-independent; ties break on the
      smaller centroid id;
    - centroid updates are integer truncating division (``sum div n``,
      identical in Spark and DuckDB for negative sums too — both
      truncate toward zero); empty clusters keep their previous
      position with ``n_members = 0``;
    - seeds are the ``k`` vectors with the smallest
      ``md5(seed_tag || '|' || id)`` — the repo's coordination-free
      deterministic draw, reproducible by the oracle.

    Ragged input follows the per-position rule: centroid i keeps its
    seed's length; a point's distance to it sums over the positions
    both have; the update of (cid, pos) averages the members long
    enough to reach pos (``n_members`` is per position). NULL and empty
    vectors are never assigned; a NULL or empty seed gives no centroid,
    and with no centroid at all the result is empty.

    Scale shape: the Lloyd rounds run as Spark jobs WHEN THE PLAN IS
    BUILT (this call), and the returned relation is the final k x dim
    state. Each round is one Arrow/NumPy pass over the corpus that
    assigns points by the exact int64 argmin against the broadcast
    centroids and emits per-(cid, pos) partial sums, then one small
    aggregate collected to the driver for the trunc-div update. Shuffle
    per round is the k x dim x partitions partials — never the raw
    vectors — and the kernel's temporaries stay under a fixed byte
    budget per chunk of rows.

    Overflow bound: requires (2 * max|q|)^2 * dim < 2^63 with
    q = floor(v * unit) — with the 1e6 default and unit-scale
    embeddings, safe to ~2 million dims. Inputs past it, and NULL vector
    elements, raise ValueError.

    Returns the LONG-form centroid table after ``iters`` rounds:
    (cid, pos, centroid_units, centroid, n_members), n_members from the
    final assignment.
    """
    cids, cents, nm = _kmeans_train(
        embeddings, k, iters, id_col, vec_col, unit, seed_tag
    )
    rows = [
        (cid, p, int(c[p]), int(c[p]) / float(unit), int(n[p]))
        for cid, c, n in zip(cids, cents, nm)
        for p in range(len(c))
    ]
    return embeddings.sparkSession.createDataFrame(
        rows,
        "cid long, pos long, centroid_units long, centroid double, "
        "n_members long",
    )


def _pq_points(
    embeddings: DataFrame,
    sub_dim: int,
    id_col: str,
    vec_col: str,
    unit: int,
) -> DataFrame:
    """Quantized long-form points with their subspace id: (_id, s, pos,
    qv) — the shared input of PQ training, encoding, and the ADC LUT."""
    return embeddings.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("pos", "_v"),
    ).select(
        "_id",
        F.expr(f"pos div {sub_dim}").alias("s"),
        "pos",
        F.floor(F.col("_v").cast("double") * F.lit(float(unit)))
        .cast("long")
        .alias("qv"),
    )


def pq_train(
    embeddings: DataFrame,
    m_sub: int = 4,
    dim: int = 64,
    k_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit: int = 10**6,
    seed_tag: str = "pq",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization training (Jégou et al. 2011): split each
    vector into ``m_sub`` subvectors and learn a ``k_codes``-word
    codebook per subspace with Lloyd rounds — HERE AS ONE COMBINED
    DATAFLOW LOOP, not m_sub separate k-means runs: the centroid key is
    (subspace, code), points join the broadcast codebook on the
    component position (each centroid row exists only inside its
    subspace, so positions align automatically), argmins partition by
    (point, subspace), and updates aggregate by (subspace, code,
    position). One pass over the data per round trains ALL subspace
    codebooks simultaneously — m_sub × fewer rounds than the naive
    composition, the same trick that makes PQ trainable in one job at
    100 TB.

    All arithmetic follows the :func:`kmeans_lloyd` fixed-point
    contract (floor-quantized components, integer squared distances,
    smaller-code tie-break, trunc-division updates, per-subspace md5
    seed draws), so the DuckDB oracle replays training bit-for-bit.

    Returns (codebook, codes): codebook = (s, code, pos, qc) — m_sub ×
    k_codes × sub_dim rows; codes = the dataset encoded against the
    FINAL codebook, (s-keyed) — (_id, s, code), m_sub integers per
    vector: the 64-dim float vector compresses to m_sub bytes + ids.
    """
    if dim % m_sub != 0:
        raise ValueError(f"pq_train: dim={dim} not divisible by m_sub={m_sub}")
    if k_codes < 1 or iters < 1:
        raise ValueError("pq_train: k_codes and iters must be >= 1")
    sub_dim = dim // m_sub
    pts = _pq_points(embeddings, sub_dim, id_col, vec_col, unit).localCheckpoint(
        eager=True
    )
    subs = F.explode(F.array(*[F.lit(i) for i in range(m_sub)])).alias("s")
    ids = embeddings.select(F.col(id_col).alias("_id")).select("_id", subs)
    sw = Window.partitionBy("s").orderBy("_draw", "_id")
    seeds = (
        ids.select(
            "_id",
            "s",
            F.md5(
                F.concat_ws("|", F.lit(seed_tag), F.col("s"), F.col("_id"))
            ).alias("_draw"),
        )
        .withColumn("_rk", F.row_number().over(sw))
        .filter(F.col("_rk") <= k_codes)
        .select("s", "_id", (F.col("_rk") - 1).cast("long").alias("code"))
    )
    centroids = (
        pts.join(seeds, ["s", "_id"])
        .select("s", "code", "pos", F.col("qv").alias("qc"))
        .localCheckpoint(eager=True)
    )
    aw = Window.partitionBy("_id", "s").orderBy(F.col("_d2").asc(), F.col("code").asc())

    def assign(cb: DataFrame) -> DataFrame:
        # centroid rows exist only at their subspace's positions, so the
        # pos equi-join aligns subspaces; s comes from the point side
        diff = F.col("qv") - F.col("qc")
        return (
            pts.join(F.broadcast(cb.select("code", "pos", "qc")), "pos")
            .select("_id", "s", "code", (diff * diff).alias("_t"))
            .groupBy("_id", "s", "code")
            .agg(F.sum("_t").alias("_d2"))
            .withColumn("_rk", F.row_number().over(aw))
            .filter(F.col("_rk") == 1)
            .select("_id", "s", "code")
        )

    for _ in range(iters):
        codes = assign(centroids)
        upd = (
            pts.join(codes, ["_id", "s"])
            .groupBy("s", "code", "pos")
            .agg(F.count(F.lit(1)).alias("_n"), F.sum("qv").alias("_s"))
            .select("s", "code", "pos", F.expr("_s div _n").alias("_qc_new"))
        )
        centroids = (
            centroids.join(upd, ["s", "code", "pos"], "left")
            .select(
                "s", "code", "pos", F.coalesce("_qc_new", "qc").alias("qc")
            )
            .localCheckpoint(eager=True)
        )
    return centroids, assign(centroids)


def pq_adc_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    m_sub: int = 4,
    dim: int = 64,
    k_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit: int = 10**6,
) -> DataFrame:
    """PQ similarity search with Asymmetric Distance Computation: the
    query stays un-quantized (exact subvector-to-codeword distances go
    into a lookup table), the corpus is only touched through its m_sub
    PQ codes. Per query the LUT is m_sub × k_codes integers; the scan
    side computes sum-of-LUT-entries per candidate — the memory-bound
    kernel that makes billion-scale ANN feasible (FAISS's IVFPQ inner
    loop), here as [codes ⋈ broadcast LUT → per-(query, vec) sum →
    rank window]. Everything is fixed-point integer, so estimated
    distances, ranks, and the top-k set are engine-exact (ties break on
    vec id).

    Queries are the ``n_queries`` corpus vectors with the smallest
    ``md5('pqq|' || id)`` (self-matches excluded). Returns (qid,
    vec_id, approx_d2_units, approx_d2, rank).
    """
    sub_dim = dim // m_sub
    codebook, codes = pq_train(
        embeddings, m_sub, dim, k_codes, iters, id_col, vec_col, unit
    )
    qids = (
        embeddings.select(
            F.col(id_col).alias("qid"),
            F.md5(F.concat(F.lit("pqq|"), F.col(id_col).cast("string"))).alias(
                "_qd"
            ),
        )
        .orderBy("_qd", "qid")
        .limit(n_queries)
        .select("qid")
    )
    qpts = _pq_points(
        embeddings.join(
            qids.withColumnRenamed("qid", id_col), id_col
        ),
        sub_dim,
        id_col,
        vec_col,
        unit,
    ).withColumnRenamed("_id", "qid")
    qdiff = F.col("qv") - F.col("qc")
    lut = (
        # codebook s duplicates the query point's s at matching pos
        qpts.join(F.broadcast(codebook.select("code", "pos", "qc")), "pos")
        .select("qid", "s", "code", (qdiff * qdiff).alias("_t"))
        .groupBy("qid", "s", "code")
        .agg(F.sum("_t").alias("_d2u"))
    )
    est = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("_id") != F.col("qid"))
        .groupBy("qid", "_id")
        .agg(F.sum("_d2u").alias("approx_d2_units"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_d2_units").asc(), F.col("_id").asc()
    )
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            F.col("_id").alias("vec_id"),
            "approx_d2_units",
            (
                F.col("approx_d2_units").cast("double")
                / F.lit(float(unit) * float(unit))
            ).alias("approx_d2"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit: int = 10**6,
    seed_tag: str = "km",
) -> DataFrame:
    """Train ``kmeans_lloyd`` and run ONE further integer-argmin pass
    assigning every vector to its trained centroid (ties to the smaller
    cid) — the deterministic (id, cid, _d2) assignment table that
    SemDeDup, cluster labeling, and IVF-style bucketing all start from.
    The pass is one lazy Arrow/NumPy map over the corpus with the
    trained centroids (k x dim) in its closure; nothing shuffles. NULL
    and empty vectors get no row."""
    cids, cents, _ = _kmeans_train(
        embeddings, k, iters, id_col, vec_col, unit, seed_tag
    )

    def assign_fn(batches):
        import pandas as pd

        for pdf in batches:
            ids, cid_out, d2s = [], [], []
            raw_ids = pdf.iloc[:, 0].tolist()
            for idx, Q in _kmeans_length_groups(pdf.iloc[:, 1].tolist(), unit):
                a, d2 = _kmeans_nearest(Q, cents)
                ids += [raw_ids[i] for i in idx]
                cid_out += [cids[i] for i in a]
                d2s += d2.tolist()
            yield pd.DataFrame({"_id": ids, "cid": cid_out, "_d2": d2s})

    id_type = dict(embeddings.dtypes)[id_col]
    # no centroid (all seeds NULL/empty): same schema, no rows
    pts = embeddings if cents else embeddings.limit(0)
    return pts.select(F.col(id_col).alias("_id"), F.col(vec_col)).mapInPandas(
        assign_fn, f"_id {id_type}, cid long, _d2 long"
    )


def _semantic_dedup_screen(
    assign: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    unit: int,
) -> DataFrame:
    """SemDeDup's greedy upper-triangular screen as ONE applyInPandas
    pass per cluster (guide §4.2): int64 Q @ Q.T plus the identical
    sqrt/divide IEEE ops of the SQL twin reproduce every cosine
    bit-for-bit. Members of different lengths pair to a NULL cosine
    (Spark's ``zip_with`` NULL-pads, so the dot is NULL), as do
    zero-norm members. Each length group's dots run in row blocks
    (``_kmeans_chunks``), so any cluster size fits."""
    thr = float(threshold)

    def screen(pdf):
        import numpy as np
        import pandas as pd

        # rank = (d2 to own centroid DESC, id ASC) — row_number order
        pdf = pdf.sort_values(
            ["_d2", "_id"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        sim = np.full(len(pdf), np.nan)  # NaN -> NULL: no prior cosine
        for idx, Q in _kmeans_length_groups(pdf["_v"].tolist(), unit):
            nq = (Q * Q).sum(axis=1)  # int64, exact by the overflow bound
            valid = nq > 0  # zero-norm: cosines NULL, always kept
            sq = np.sqrt(np.where(valid, nq, 1).astype(np.float64))
            for sl in _kmeans_chunks(len(idx), len(idx)):
                r1 = sl.stop
                # the same two IEEE ops as the SQL expression, in the
                # same order: int dot -> double, / (sqrt(na) * sqrt(nb))
                cos = (Q[sl] @ Q[:r1].T).astype(np.float64) / (
                    sq[sl, None] * sq[None, :r1]
                )
                prior = (
                    valid[sl, None]
                    & valid[None, :r1]
                    & (np.arange(r1)[None, :] < np.arange(sl.start, r1)[:, None])
                )
                cos[~prior] = -np.inf
                hit = prior.any(axis=1)
                sim[idx[sl][hit]] = cos.max(axis=1)[hit]
        return pd.DataFrame(
            {
                "_id": pdf["_id"],
                "cid": pdf["cid"],
                "rk": np.arange(1, len(pdf) + 1, dtype=np.int64),
                "max_prior_sim": sim,
                "kept": ~(sim >= thr),
            }
        )

    carry = assign.join(
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        "_id",
    )
    id_type = dict(assign.dtypes)["_id"]
    out = carry.groupBy("cid").applyInPandas(
        screen,
        f"_id {id_type}, cid long, rk long, max_prior_sim double, "
        "kept boolean",
    )
    return out.select(
        F.col("_id").alias(id_col), "cid", "rk", "max_prior_sim", "kept"
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit: int = 10**6,
    seed_tag: str = "km",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the embedding
    corpus with k-means, then inside each cluster drop every member
    whose cosine similarity to an ALREADY-KEPT member reaches
    ``threshold``. Near-duplicate SEMANTICS (paraphrases, re-encodes,
    templated variants) that token-level MinHash/SimHash miss.

    Determinism end to end (every arithmetic step is the repo's
    fixed-point contract, so a SQL oracle replays the whole pipeline):

    - clustering is ``kmeans_lloyd`` (integer distances, trunc-division
      updates, md5-draw seeds);
    - the final assignment re-runs the integer argmin against the
      trained centroids (ties to the smaller cid);
    - the paper keeps, within a duplicate group, the member FARTHEST
      from its centroid (lowest centroid similarity); the screen order
      is therefore rank = (integer d2 to own centroid DESC, id ASC),
      and member i is dropped iff some EARLIER-ranked j has
      cos(i, j) >= threshold — exactly the paper's greedy upper-tri
      screen, not a transitive closure;
    - pair cosines are computed on the QUANTIZED integer vectors:
      integer dot / (sqrt(int norm) * sqrt(int norm)) is one shared
      IEEE expression over exact integers, so every similarity is
      bit-identical cross-engine (no float-accumulation order risk);
    - a vector whose QUANTIZED norm is zero (e.g. float32 subnormals)
      has no direction: its pair cosines are NULL, so it is always
      kept and never screens another member;

    - members of different lengths have a NULL pair cosine (the SQL
      twin's ``zip_with`` NULL-pads the shorter vector).

    Scale shape: the k-means rounds run when the plan is built (see
    ``kmeans_lloyd``); the assignment is a lazy Arrow map with the
    k x dim centroids in its closure. The pair stage shuffles each
    member's vector once to its cluster (one exchange on cid) and
    screens the cluster in one Arrow/NumPy pass of int64 dot blocks
    under a fixed byte budget — work sum(|cluster|^2) * dim, THE
    SemDeDup design cost, controlled by k (the paper runs 50k clusters
    on LAION; cluster size ~ n/k keeps the quadratic local). No
    all-pairs path: pairs never cross cluster boundaries.

    Returns one row per input vector: (id, cid, rk, max_prior_sim,
    kept) — max_prior_sim is NULL for each cluster's first-ranked
    member, exact double otherwise.
    """
    assign = kmeans_assign(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        unit=unit, seed_tag=seed_tag,
    )
    return _semantic_dedup_screen(
        assign, embeddings, threshold, id_col, vec_col, unit
    )


def cluster_topics(
    embeddings: DataFrame,
    docs: DataFrame,
    k: int = 8,
    iters: int = 3,
    top_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    unit: int = 10**6,
    seed_tag: str = "km",
) -> DataFrame:
    """Topic labeling for semantic clusters: k-means the embedding corpus
    (``kmeans_assign``), join assignments back to the documents, and
    label each cluster with its ``top_k`` most DISTINCTIVE terms —
    ranked by (term count within the cluster DESC, number of clusters
    containing the term ASC, term) — the corpus-exploration step that
    follows clustering in every curation pipeline ("what IS cluster 3?").
    The cluster-frequency penalty is the ``doc_top_terms`` tf-df rule
    lifted from documents to clusters: globally common words lose to
    cluster-specific ones. All-integer ranking, deterministic ties.

    Shape: one (cid, term) hash agg over the exploded token join (the
    corpus-sized pass), then a term-partitioned window and the per-cid
    top-k window over the VOCAB x k reduced table. Assignment centroids
    broadcast (see kmeans_assign); nothing quadratic anywhere.
    """
    from .text import normalized_tokens  # local: text does not import back

    assign = kmeans_assign(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        unit=unit, seed_tag=seed_tag,
    ).select(F.col("_id").alias(doc_id_col), "cid")
    toks = docs.select(
        F.col(doc_id_col),
        F.explode(normalized_tokens(text_col)).alias("_w"),
    )
    ct = (
        toks.join(assign, doc_id_col)
        .groupBy("cid", "_w")
        .agg(F.count(F.lit(1)).alias("n_in_cluster"))
    )
    cf = ct.withColumn(
        "n_clusters_with_term",
        F.count(F.lit(1)).over(Window.partitionBy("_w")),
    )
    w_rank = Window.partitionBy("cid").orderBy(
        F.col("n_in_cluster").desc(),
        F.col("n_clusters_with_term").asc(),
        F.col("_w").asc(),
    )
    return (
        cf.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= top_k)
        .select(
            "cid",
            F.col("_w").alias("term"),
            "n_in_cluster",
            "n_clusters_with_term",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def pca_corpus_scatter(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    unit: int = 10**6,
) -> tuple[DataFrame, DataFrame]:
    """The ONE corpus-sized pass both PCA operators start from:
    ``(scatter, mu)`` where scatter = the d×d centered integer scatter
    matrix (rows (i, j, _s DECIMAL(38,0))) and mu = per-position
    truncated means with counts (rows (i, _mu, _n)).

    Split out so a pipeline running BOTH :func:`pca_top_component` and
    :func:`pca_components` on the same corpus (the registry's PCA pair)
    builds the n·d² deviation-product pass once and shares the pinned
    d²-row result — the `_scan_sigma` sharing precedent. The relation
    is a deterministic function of (corpus, unit), so injection is
    result-invisible. scatter is localCheckpoint-pinned (it feeds every
    power-method round); everything downstream of it is d²/d-sized.
    """
    dec = "decimal(38,0)"
    comp = (
        embeddings.select(
            F.col(id_col).alias("_vid"),
            F.posexplode(F.col(vec_col)).alias("i", "_v"),
        )
        .select(
            "_vid",
            "i",
            F.floor(F.col("_v").cast("double") * F.lit(float(unit)))
            .cast("long")
            .alias("_q"),
        )
        .localCheckpoint(eager=True)
    )
    mu = comp.groupBy("i").agg(
        F.expr("sum(_q) div count(1)").cast("long").alias("_mu"),
        F.count(F.lit(1)).alias("_n"),
    )
    dev = (
        comp.join(F.broadcast(mu), "i")
        .select("_vid", "i", (F.col("_q") - F.col("_mu")).alias("_d"))
        .localCheckpoint(eager=True)
    )
    scatter = (
        dev.join(
            dev.withColumnRenamed("i", "j").withColumnRenamed("_d", "_e"),
            "_vid",
        )
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("_d").cast(dec) * F.col("_e").cast(dec))
            .cast(dec)
            .alias("_s")
        )
        .localCheckpoint(eager=True)
    )
    return scatter, mu


# Dimension gate for the PCA single-expression fold: the folded power
# iteration is O(d^2) expression work per round inside ONE task over
# the collected d^2 scatter array, which beats round-per-job latency
# for the dims this engine targets (d=64 registry embeddings) and
# stops being a one-row value at very high d.
_PCA_EXPR_DIM_MAX = 256


def _pca_power_fold(
    scatter: DataFrame,
    mu: DataFrame,
    ndim: int,
    n_components: int,
    iters: int,
    unit: int,
) -> DataFrame:
    """(internal) The ENTIRE power-iteration-with-deflation recursion
    as higher-order expressions over the collected d² scatter — one
    job instead of n_components × (iters + 4) checkpointed rounds
    (the markov_removal lesson). Arithmetic is replicated step for
    step from the relational rounds: S·v in DECIMAL(38,0), L∞
    normalization ``(t*unit) div max|t|`` with the max==0 guard, the
    first-nonzero sign pin (size-guarded — ANSI element_at errors on
    empty arrays), the unguarded Rayleigh division, and Hotelling
    deflation with the vv==0 skip — so every output bit matches
    (equality-tested against the relational path). Caller guarantees
    the scatter is DENSE (count == ndim²) and ndim ≤
    _PCA_EXPR_DIM_MAX."""
    dec = "decimal(38,0)"
    D, U = ndim, unit

    def matvec(s: str, v: str) -> str:
        return (
            f"transform(sequence(0, {D - 1}), i -> "
            f"aggregate(sequence(0, {D - 1}), CAST(0 AS {dec}), "
            f"(acc, j2) -> CAST(acc + element_at({s}, i * {D} + j2 + 1) * "
            f"CAST(element_at({v}, j2 + 1) AS {dec}) AS {dec})))"
        )

    # one-element-array aggregates act as let-bindings (the wordpiece
    # trick): t, m, v, sgn, vp, tf, vv2, lam2 each bind once per use
    power = (
        f"aggregate(sequence(1, {iters}), "
        f"transform(sequence(0, {D - 1}), z -> CAST({U} AS BIGINT)), "
        f"(v, k2) -> "
        f"aggregate(array({matvec('st.s', 'v')}), v, (v0, t) -> "
        f"aggregate(array(array_max(transform(t, x -> abs(x)))), v0, "
        f"(v1, m) -> transform(t, x -> "
        f"CASE WHEN m = CAST(0 AS {dec}) THEN CAST(0 AS BIGINT) "
        f"ELSE CAST((x * CAST({U} AS {dec})) div m AS BIGINT) END))))"
    )
    sg = (
        "CASE WHEN size(filter(v, x -> x != 0L)) = 0 THEN CAST(1 AS BIGINT) "
        "WHEN element_at(filter(v, x -> x != 0L), 1) < 0L "
        "THEN CAST(-1 AS BIGINT) ELSE CAST(1 AS BIGINT) END"
    )
    vv = (
        f"aggregate(transform(vp, x -> CAST(x AS {dec}) * CAST(x AS {dec})), "
        f"CAST(0 AS {dec}), (a, b) -> CAST(a + b AS {dec}))"
    )
    # vv2 == 0 (zero loading vector) reproduces the relational path's
    # degenerate contract: its empty sign relation cross-joined every
    # downstream step away, so the component emits NO rows and the
    # Rayleigh division never evaluates (ANSI would error on 0 div 0)
    lam = (
        f"CASE WHEN vv2 = CAST(0 AS {dec}) THEN CAST(0 AS {dec}) ELSE "
        f"aggregate(zip_with(tf, vp, (tx, x) -> tx * CAST(x AS {dec})), "
        f"CAST(0 AS {dec}), (a, b) -> CAST(a + b AS {dec})) div vv2 END"
    )
    deflate = (
        f"CASE WHEN k >= {n_components} THEN s6.s "
        f"WHEN vv2 = CAST(0 AS {dec}) THEN s6.s "
        f"ELSE zip_with(s6.s, sequence(0, {D * D - 1}), (sv, p) -> "
        f"CAST(sv - (lam2 * "
        f"CAST(element_at(vp, CAST(p div {D} AS INT) + 1) AS {dec}) * "
        f"CAST(element_at(vp, CAST(p % {D} AS INT) + 1) AS {dec})) "
        f"div vv2 AS {dec})) END"
    )
    rows = (
        f"CASE WHEN vv2 = CAST(0 AS {dec}) THEN "
        f"slice(array(named_struct('component', CAST(0 AS INT), "
        f"'pos', CAST(0 AS INT), 'vu', CAST(0 AS BIGINT), "
        f"'lam', CAST(0 AS {dec}))), 1, 0) ELSE "
        f"transform(sequence(0, {D - 1}), p -> named_struct("
        f"'component', CAST(k - 1 AS INT), 'pos', CAST(p AS INT), "
        f"'vu', element_at(vp, p + 1), 'lam', lam2)) END"
    )
    empty_rows = (
        "slice(array(named_struct('component', CAST(0 AS INT), "
        "'pos', CAST(0 AS INT), 'vu', CAST(0 AS BIGINT), "
        f"'lam', CAST(0 AS {dec}))), 1, 0)"
    )
    merge = (
        f"aggregate(array({power}), st, (s1, v) -> "
        f"aggregate(array({sg}), s1, (s2, sgn) -> "
        f"aggregate(array(transform(v, x -> x * sgn)), s2, (s3, vp) -> "
        f"aggregate(array({matvec('s3.s', 'vp')}), s3, (s4, tf) -> "
        f"aggregate(array({vv}), s4, (s5, vv2) -> "
        f"aggregate(array({lam}), s5, (s6, lam2) -> "
        f"named_struct('s', {deflate}, "
        f"'rows', concat(s6.rows, {rows}))))))))"
    )
    fold = (
        f"aggregate(sequence(1, {n_components}), "
        f"named_struct('s', _S, 'rows', {empty_rows}), (st, k) -> {merge})"
    )
    trace = (
        f"aggregate(sequence(0, {D - 1}), CAST(0 AS {dec}), "
        f"(a, i2) -> CAST(a + element_at(_S, i2 * {D} + i2 + 1) AS {dec}))"
    )
    one = scatter.agg(
        F.array_sort(F.collect_list(F.struct("i", "j", "_s"))).alias("_sij")
    ).select(F.expr("transform(_sij, x -> x._s)").alias("_S"))
    n1 = mu.agg(F.max("_n").cast("long").alias("n_vecs"))
    res = one.select(F.expr(fold).alias("_st"), F.expr(trace).alias("_tr"))
    return (
        res.select(F.explode("_st.rows").alias("_r"), "_tr")
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("_r.component").alias("component"),
            F.col("_r.pos").alias("pos"),
            F.col("_r.vu").alias("loading_units"),
            (F.col("_r.vu").cast("double") / F.lit(float(U))).alias("loading"),
            F.col("_r.lam").cast("string").alias("eigenvalue_str"),
            F.when(
                F.col("_tr") != 0,
                F.col("_r.lam").cast("double") / F.col("_tr").cast("double"),
            ).alias("var_ratio"),
            "n_vecs",
        )
    )


def pca_top_component(
    embeddings: DataFrame,
    iters: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    unit: int = 10**6,
    scatter_mu: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Top principal component of the embedding corpus by the power
    method — the first step of PCA whitening / dimensionality triage
    ("is there one dominant direction?"), computed as pure dataflow:
    one pass builds the d×d centered scatter matrix, then fixed
    iterations of v ← S·v normalized on the TINY d²-row table.

    Fixed-point contract end to end (PageRank/HITS rules):

    - components quantize as ``floor(v*unit)`` (the embedding_centroids
      law); centering subtracts the TRUNCATED integer mean (mu = sum
      div n — error < 1/unit, and it keeps deviations ~unit-sized so
      scatter sums fit DECIMAL(38,0) even at 10^12 rows, unlike exact
      n-scaled centering whose squares overflow);
    - scatter entries are exact integer sums of deviation products;
    - each iteration is S·v in decimal then L∞ normalization
      ``(t*unit) div max|t|`` — trunc division matches both engines on
      negatives (probed);
    - the eigenvector sign is pinned: if the lowest-indexed nonzero
      loading is negative, the vector flips (eigenvectors are
      sign-ambiguous; the pin makes the output a function of the data);
    - the eigenvalue is the integer Rayleigh quotient
      ``(v·Sv) div (v·v)`` in scatter units, transported as VARCHAR;
      explained ratio = eigenvalue/trace, one double division.

    Scale: the scatter build is the classic d² cost — one self-join on
    the row id producing n·d² deviation products (map-side combined to
    d² partial sums per partition); for d in the hundreds use a sketch
    first. Everything after the one corpus-sized pass runs on d²/d-row
    tables, checkpointed per round (lineage lesson).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    dec = "decimal(38,0)"
    scatter, mu = scatter_mu or pca_corpus_scatter(
        embeddings, vec_col, id_col, unit
    )
    spark = embeddings.sparkSession
    ndim = _embedding_dim(embeddings, vec_col)
    if ndim is None:
        return spark.createDataFrame(
            [],
            "pos int, loading_units long, loading double, "
            "eigenvalue_str string, var_ratio double, n_vecs long",
        )
    if ndim <= _PCA_EXPR_DIM_MAX and scatter.count() == ndim * ndim:
        # dense small-d scatter: the whole recursion in one job (the
        # count guard — one action on the pinned d²-row relation —
        # protects the fold's positional indexing from ragged inputs)
        return _pca_power_fold(scatter, mu, ndim, 1, iters, unit).drop(
            "component"
        )
    v = spark.range(ndim).select(
        F.col("id").cast("int").alias("j"),
        F.lit(unit).cast("long").alias("_vu"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        t = (
            scatter.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("_s") * F.col("_vu").cast(dec)).cast(dec).alias("_t"))
        )
        m = t.agg(F.max(F.abs(F.col("_t"))).cast(dec).alias("_m"))
        v = (
            t.crossJoin(F.broadcast(m))
            .select(
                F.col("i").alias("j"),
                F.when(F.col("_m") == 0, F.lit(0).cast("long"))
                .otherwise(
                    F.expr(f"(_t * CAST({unit} AS {dec})) div _m").cast("long")
                )
                .alias("_vu"),
            )
            .localCheckpoint(eager=True)
        )
    # deterministic sign pin: flip if the lowest-indexed nonzero loading
    # is negative (1-row broadcast, no driver logic)
    first_nz = (
        v.filter(F.col("_vu") != 0)
        .orderBy("j")
        .limit(1)
        .select(F.signum(F.col("_vu").cast("double")).cast("long").alias("_sg"))
    )
    sg = first_nz.select(
        F.coalesce(F.col("_sg"), F.lit(1)).alias("_sg")
    )
    v_pinned = (
        v.crossJoin(F.broadcast(sg))
        .select("j", (F.col("_vu") * F.col("_sg")).cast("long").alias("_vu"))
        .localCheckpoint(eager=True)
    )
    t_final = (
        scatter.join(F.broadcast(v_pinned), "j")
        .groupBy("i")
        .agg(F.sum(F.col("_s") * F.col("_vu").cast(dec)).cast(dec).alias("_t"))
    )
    ray = (
        t_final.join(F.broadcast(v_pinned.withColumnRenamed("j", "i")), "i")
        .agg(
            F.expr(
                f"sum(_t * CAST(_vu AS {dec})) div sum(CAST(_vu AS {dec})"
                f" * CAST(_vu AS {dec}))"
            ).cast(dec).alias("_lam")
        )
    )
    trace = scatter.filter(F.col("i") == F.col("j")).agg(
        F.sum("_s").cast(dec).alias("_tr")
    )
    n1 = mu.agg(F.max("_n").cast("long").alias("n_vecs"))
    return (
        v_pinned.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(trace))
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("j").cast("int").alias("pos"),
            F.col("_vu").alias("loading_units"),
            (F.col("_vu").cast("double") / F.lit(float(unit))).alias("loading"),
            F.col("_lam").cast("string").alias("eigenvalue_str"),
            F.when(
                F.col("_tr") != 0,
                F.col("_lam").cast("double") / F.col("_tr").cast("double"),
            ).alias("var_ratio"),
            "n_vecs",
        )
    )


def pca_components(
    embeddings: DataFrame,
    n_components: int = 2,
    iters: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    unit: int = 10**6,
    scatter_mu: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The leading ``n_components`` principal components by power
    iteration WITH DEFLATION — :func:`pca_top_component` generalized:
    after each component converges, the scatter deflates
    ``S ← S − (λ·v_i·v_j) div (v·v)`` (exact integer Hotelling
    deflation on the fixed-point loadings), and the next power run
    finds the next direction. Same quantize / trunc-div / sign-pin /
    Rayleigh contracts as the top-component operator; residual
    eigenvalues shrink monotonically, and var_ratio is each λ over the
    ORIGINAL trace (the explained-variance convention).

    Output: one row per (component, pos) with the same columns as
    :func:`pca_top_component` plus the leading ``component`` index.
    Deflation is a 64x64-table projection per component — everything
    after the one corpus pass stays d²-sized.
    """
    if n_components < 1:
        raise ValueError(f"n_components must be >= 1, got {n_components}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    dec = "decimal(38,0)"
    scatter, mu = scatter_mu or pca_corpus_scatter(
        embeddings, vec_col, id_col, unit
    )
    spark = embeddings.sparkSession
    ndim = _embedding_dim(embeddings, vec_col)
    empty_schema = (
        "component int, pos int, loading_units long, loading double, "
        "eigenvalue_str string, var_ratio double, n_vecs long"
    )
    if ndim is None:
        return spark.createDataFrame([], empty_schema)
    if ndim <= _PCA_EXPR_DIM_MAX and scatter.count() == ndim * ndim:
        # dense small-d scatter: all components' power runs + the
        # Hotelling deflations in one job (see _pca_power_fold)
        return _pca_power_fold(scatter, mu, ndim, n_components, iters, unit)
    trace0 = scatter.filter(F.col("i") == F.col("j")).agg(
        F.sum("_s").cast(dec).alias("_tr")
    ).localCheckpoint(eager=True)
    n1 = mu.agg(F.max("_n").cast("long").alias("n_vecs")).localCheckpoint(
        eager=True
    )
    out = None
    for c in range(n_components):
        v = spark.range(ndim).select(
            F.col("id").cast("int").alias("j"),
            F.lit(unit).cast("long").alias("_vu"),
        ).localCheckpoint(eager=True)
        for _ in range(iters):
            t = (
                scatter.join(F.broadcast(v), "j")
                .groupBy("i")
                .agg(
                    F.sum(F.col("_s") * F.col("_vu").cast(dec))
                    .cast(dec)
                    .alias("_t")
                )
            )
            m = t.agg(F.max(F.abs(F.col("_t"))).cast(dec).alias("_m"))
            v = (
                t.crossJoin(F.broadcast(m))
                .select(
                    F.col("i").alias("j"),
                    F.when(F.col("_m") == 0, F.lit(0).cast("long"))
                    .otherwise(
                        F.expr(f"(_t * CAST({unit} AS {dec})) div _m").cast(
                            "long"
                        )
                    )
                    .alias("_vu"),
                )
                .localCheckpoint(eager=True)
            )
        sg = (
            v.filter(F.col("_vu") != 0)
            .orderBy("j")
            .limit(1)
            .select(
                F.signum(F.col("_vu").cast("double")).cast("long").alias("_sg")
            )
            .select(F.coalesce(F.col("_sg"), F.lit(1)).alias("_sg"))
        )
        vp = (
            v.crossJoin(F.broadcast(sg))
            .select("j", (F.col("_vu") * F.col("_sg")).cast("long").alias("_vu"))
            .localCheckpoint(eager=True)
        )
        tf = (
            scatter.join(F.broadcast(vp), "j")
            .groupBy("i")
            .agg(
                F.sum(F.col("_s") * F.col("_vu").cast(dec)).cast(dec).alias("_t")
            )
        )
        ray = (
            tf.join(F.broadcast(vp.withColumnRenamed("j", "i")), "i")
            .agg(
                F.expr(
                    f"sum(_t * CAST(_vu AS {dec})) div"
                    f" sum(CAST(_vu AS {dec}) * CAST(_vu AS {dec}))"
                )
                .cast(dec)
                .alias("_lam")
            )
            .localCheckpoint(eager=True)
        )
        rows = (
            vp.crossJoin(F.broadcast(ray))
            .crossJoin(F.broadcast(trace0))
            .crossJoin(F.broadcast(n1))
            .select(
                F.lit(c).cast("int").alias("component"),
                F.col("j").cast("int").alias("pos"),
                F.col("_vu").alias("loading_units"),
                (F.col("_vu").cast("double") / F.lit(float(unit))).alias(
                    "loading"
                ),
                F.col("_lam").cast("string").alias("eigenvalue_str"),
                F.when(
                    F.col("_tr") != 0,
                    F.col("_lam").cast("double") / F.col("_tr").cast("double"),
                ).alias("var_ratio"),
                "n_vecs",
            )
        )
        out = rows if out is None else out.unionAll(rows)
        if c + 1 < n_components:
            # Hotelling deflation: S -= (lam * v_i * v_j) div (v . v)
            vv = vp.agg(
                F.sum(F.col("_vu").cast(dec) * F.col("_vu").cast(dec))
                .cast(dec)
                .alias("_vv")
            )
            vi = vp.select(F.col("j").alias("i"), F.col("_vu").alias("_vi"))
            vj = vp.select("j", F.col("_vu").alias("_vj"))
            scatter = (
                scatter.join(F.broadcast(vi), "i")
                .join(F.broadcast(vj), "j")
                .crossJoin(F.broadcast(ray))
                .crossJoin(F.broadcast(vv))
                .select(
                    "i",
                    "j",
                    F.when(
                        F.col("_vv") == 0, F.col("_s")
                    )
                    .otherwise(
                        F.col("_s")
                        - F.expr(
                            f"(_lam * CAST(_vi AS {dec})"
                            f" * CAST(_vj AS {dec})) div _vv"
                        ).cast(dec)
                    )
                    .alias("_s"),
                )
                .localCheckpoint(eager=True)
            )
    return out
