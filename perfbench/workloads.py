"""The benchmark's workloads: named lists of operations.

An operation calls the engine only through its public entry points
(``registry.queries()``, ``registry.shared_evidence_builders()``,
``operators.basket``, ``sources.io``, ``streaming.streams``) and returns
``(dataframe_or_None, result)``.  Its ``check`` compares the result with
the expected output computed before the timed passes; the runner calls
it outside the timed interval.  Every call into a layer is wrapped in a
span named after the layer (spans are no-ops in timed runs).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Window
from pyspark.sql import functions as F

import checks


@dataclass
class Op:
    name: str
    run: Callable
    check: Callable
    pairs: bool = False  # its plans generate basket pairs (operators.basket)


def registry_query(name: str, pairs: bool = False) -> Op:
    def run(ctx):
        with ctx.span("registry.plan_build"):
            df = ctx.queries[name](ctx.spark, ctx.data)
        with ctx.span("exec.collect"):
            return df, df.toPandas()

    def check(ctx, pdf):
        return checks.frame_problems(pdf, ctx.expected[name])

    return Op(name, run, check, pairs)


# pins whose relation is also a registry query with a DuckDB twin
PIN_TWIN = {"near_dup_pairs": "ngram_jaccard_pairs", "near_dup_clusters": "dedup_clusters"}


def pin(name: str, pairs: bool = False) -> Op:
    """Shared-evidence pin: the first call builds it (a corpus pass,
    localCheckpoint-ed), later calls must return the same relation."""

    def run(ctx):
        prev = ctx.pins.get(name)
        with ctx.span("registry.pin_build" if prev is None else "registry.pin_hit"):
            df = ctx.builders[name](ctx.spark, ctx.data)
        ctx.pins[name] = df
        if prev is not None and df is prev:
            ctx.counters["pin_hits"] += 1
        # a pin is one relation or a tuple whose first member is the pinned one
        return (df[0] if isinstance(df, tuple) else df), (df, prev)

    def check(ctx, res):
        df, prev = res
        if prev is not None:
            return [] if df is prev else [f"pin {name} was rebuilt instead of hit"]
        pdf = (df[0] if isinstance(df, tuple) else df).toPandas()
        if name in PIN_TWIN:
            return checks.frame_problems(pdf, ctx.expected[PIN_TWIN[name]])
        return [] if len(pdf) else [f"pin {name} is empty"]

    return Op(f"pin:{name}", run, check, pairs)


def _corpus_baskets(ctx):
    with ctx.span("sources.read"):
        lines = ctx.io.read_text(ctx.spark, ctx.corpus)
    with ctx.span("operators.basket"):
        return ctx.basket.baskets_from_text(lines)


def corpus_pairs() -> Op:
    def run(ctx):
        baskets = _corpus_baskets(ctx)
        with ctx.span("operators.basket"):
            df = ctx.basket.cooccurrence_pairs(baskets)
        with ctx.span("exec.collect"):
            return df, df.toPandas()

    def check(ctx, pdf):
        return checks.frame_problems(pdf, ctx.expected["corpus_pairs"])

    return Op("corpus:cooccurrence_pairs", run, check, True)


def corpus_stripes() -> Op:
    def run(ctx):
        baskets = _corpus_baskets(ctx)
        with ctx.span("operators.basket"):
            df = ctx.basket.cooccurrence_stripes(baskets)
        with ctx.span("exec.collect"):
            return df, df.toPandas()

    def check(ctx, pdf):
        return checks.stripe_problems(pdf, ctx.expected["corpus_pairs"])

    return Op("corpus:cooccurrence_stripes", run, check, True)


def stream_cooccurrence() -> Op:
    """The corpus files arrive one per micro-batch and are drained by
    ``streams.cooccurrence_stream`` (stateful running counts, fresh
    checkpoint each pass) into an update-mode memory sink.  Counts only
    grow, so the final count of a pair is its largest update."""

    def run(ctx):
        name = f"perfbench_stream_{ctx.pass_no}"
        with ctx.span("sources.read"):
            src = ctx.spark.readStream.option("maxFilesPerTrigger", 1).text(ctx.stream)
        with ctx.span("operators.basket"):
            baskets = ctx.basket.baskets_from_text(src)
        with ctx.span("streaming.plan_build"):
            counts = ctx.streams.cooccurrence_stream(baskets)
        with ctx.span("streaming.drain"):
            q = (counts.writeStream.format("memory").queryName(name).outputMode("update")
                 .option("checkpointLocation", os.path.join(ctx.scratch, "checkpoint"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        ctx.progress.extend(q.recentProgress)
        with ctx.span("exec.collect"):
            final = ctx.spark.table(name).groupBy("item", "neighbor").agg(
                F.max("pair_cnt").alias("pair_cnt"))
            pdf = final.toPandas()
        ctx.spark.catalog.dropTempView(name)
        ctx.stream_counts = final
        return final, pdf

    def check(ctx, pdf):
        return checks.frame_problems(pdf, ctx.expected["corpus_pairs"].drop(columns="prob"))

    return Op("stream:cooccurrence_stream", run, check, True)


def reference_layout() -> Op:
    """The stream's final counts, normalized to the flagship result and
    written in the reference job's exact three-file text layout by
    ``io.write_reference_pairs_layout``.  Runs after the stream op."""

    def run(ctx):
        with ctx.span("operators.basket"):
            marginal = F.sum("pair_cnt").over(Window.partitionBy("item"))
            pairs = ctx.stream_counts.withColumn(
                "prob", F.col("pair_cnt").cast("double") / marginal.cast("double"))
        with ctx.span("sources.write"):
            paths = ctx.io.write_reference_pairs_layout(pairs, os.path.join(ctx.scratch, "ref"))
        ctx.counters["write_bytes"] += sum(os.path.getsize(p) for p in paths)
        return pairs, paths

    def check(ctx, paths):
        return checks.reference_layout_problems(paths, ctx.expected["corpus_pairs"])

    return Op("io:write_reference_pairs_layout", run, check)


WORKLOADS: dict[str, list[Op]] = {
    "basket_flagship": [
        registry_query("cooccurrence_pairs", pairs=True),
        corpus_pairs(),
        corpus_stripes(),
        stream_cooccurrence(),
        reference_layout(),
    ],
    "cold_pins": [
        pin("cooc_sym_edges", pairs=True),
        pin("scan_sigma_tri", pairs=True),
        pin("near_dup_pairs"),
        pin("near_dup_clusters"),
        registry_query("dedup_cluster_canonical"),
        registry_query("kmeans_embeddings"),
    ],
}

PINS = ("cooc_sym_edges", "scan_sigma_tri", "near_dup_pairs", "near_dup_clusters")


def oracle_names(ops: list[Op]) -> list[str]:
    names = []
    for op in ops:
        if op.name.startswith("pin:"):
            twin = PIN_TWIN.get(op.name[4:])
            names += [twin] if twin else []
        elif ":" not in op.name:
            names.append(op.name)
    return names
