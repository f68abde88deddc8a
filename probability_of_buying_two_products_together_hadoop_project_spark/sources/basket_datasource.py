"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) for the
reference's basket text format.

The reference's input is one basket per line, whitespace-delimited, token
0 the customer (/root/reference/input/input; parsing contract
/root/reference/src/CrystalBallPair.java:40-42). `spark.read.text` +
`baskets_from_text` already covers this; the DataSource variant
demonstrates the modern pluggable-source surface — schema declaration,
option handling, per-file input partitions — so a user can write

    spark.dataSource.register(BasketTextDataSource)
    spark.read.format("basket_text").load(path)

and get parsed `(customer, items)` rows directly.

Scale notes: `partitions()` emits one InputPartition per file, so a
directory of part files parallelizes across executors exactly like the
reference's per-split mappers. Python DataSources run in Arrow-batched
Python workers — fine for a compatibility text format, but Parquet stays
the native path (JVM scans, pushdown, pruning).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def parse_basket_line(line: str) -> tuple[str, list[str]] | None:
    """(customer, items) per the reference contract; None for empty lines.

    Same deliberate trim-first divergence as
    ``operators.basket.baskets_from_text`` (leading whitespace must not
    shift the customer into the item list).
    """
    toks = line.strip().split()
    if not toks:
        return None
    return toks[0], toks[1:]


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class BasketTextReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("basket_text requires a path option")
        self.path = path

    def partitions(self):
        if os.path.isdir(self.path):
            # skip dotted/underscored names (hides the writer's dot-prefixed
            # temp files) AND any bare *.inprogress stragglers a zombie task
            # attempt from an older layout might have left behind
            files = sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if not f.startswith((".", "_")) and not f.endswith(".inprogress")
            )
        else:
            files = [self.path]
        return [_FilePartition(f) for f in files]

    def read(self, partition: _FilePartition):
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                parsed = parse_basket_line(line)
                if parsed is not None:
                    yield parsed


class _WroteFile(WriterCommitMessage):
    def __init__(self, path: str):
        self.path = path


class BasketTextWriter(DataSourceWriter):
    """Sink side: one ``part-<uuid>`` file per task, lines
    ``customer item1 item2 ...`` (the reference input format). Tasks write
    to dot-prefixed ``.part-<uuid>.inprogress`` names — invisible to the
    reader's prefix filter even if a zombie attempt strands one — and
    ``commit`` renames them on the driver, so a failed/aborted run leaves
    no visible part files (the same rename-on-commit contract as Hadoop
    output committers, scoped to a shared filesystem). ``overwrite`` mode
    removes pre-existing part files at commit time, after all new data is
    safely on disk."""

    def __init__(self, options: dict, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("basket_text requires a path option")
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator) -> _WroteFile:
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".part-{uuid.uuid4().hex}.inprogress")
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                items = " ".join(row.items) if row.items else ""
                fh.write(f"{row.customer} {items}".rstrip() + "\n")
        return _WroteFile(tmp)

    def commit(self, messages) -> None:
        if self.overwrite and os.path.isdir(self.path):
            # honor mode("overwrite"): drop pre-existing visible part files
            # before exposing the new ones (append mode leaves them alone)
            for f in os.listdir(self.path):
                if f.startswith("part-"):
                    os.remove(os.path.join(self.path, f))
        for m in messages:
            base = os.path.basename(m.path)
            final = base.removeprefix(".").removesuffix(".inprogress")
            os.replace(m.path, os.path.join(os.path.dirname(m.path), final))

    def abort(self, messages) -> None:
        # Spark passes None for the tasks that failed before returning one
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class BasketTextStreamReader(SimpleDataSourceStreamReader):
    """Streaming side: file-arrival micro-batches over a basket directory.

    Offset = the sorted list of visible files already consumed, so

    - ``read(start)`` picks up exactly the files that appeared since the
      last batch (the same "new files per trigger" contract as Spark's
      built-in file stream source),
    - ``readBetweenOffsets(start, end)`` replays a failed batch as the
      set difference ``end - start`` — deterministic because part files
      are immutable once visible (the writer's rename-on-commit protocol
      above guarantees no in-place mutation).

    Scale note: a file-set offset grows with the directory; Spark's own
    file source carries the same per-file log and compacts it. For an
    unbounded production feed the right offset is a monotonic upload
    sequence number; for the reference's drop-a-text-file workflow this
    is the faithful shape. The dot/underscore/.inprogress filters match
    the batch reader so uncommitted writer temps are never consumed.
    """

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("basket_text requires a path option")
        self.path = path

    def _visible_files(self) -> list[str]:
        if os.path.isdir(self.path):
            return sorted(
                f
                for f in os.listdir(self.path)
                if not f.startswith((".", "_")) and not f.endswith(".inprogress")
            )
        return [os.path.basename(self.path)] if os.path.exists(self.path) else []

    def _rows(self, names):
        base = self.path if os.path.isdir(self.path) else os.path.dirname(self.path)
        for name in names:
            full = os.path.join(base, name)
            with open(full, encoding="utf-8") as fh:
                for line in fh:
                    parsed = parse_basket_line(line)
                    if parsed is not None:
                        yield parsed

    def initialOffset(self) -> dict:
        return {"files": []}

    # Both read paths MATERIALIZE the batch (list, not generator): Spark's
    # simple-stream prefetch cache copy.copy()s the returned iterator for
    # replay, and generators are not copyable. Batch size is bounded by
    # what arrived since the last trigger, the same memory contract as the
    # prefetching wrapper itself.
    def read(self, start: dict):
        seen = set(start.get("files", ()))
        new = sorted(f for f in self._visible_files() if f not in seen)
        end = {"files": sorted(seen | set(new))}
        return list(self._rows(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        new = sorted(set(end.get("files", ())) - set(start.get("files", ())))
        return list(self._rows(new))


class BasketTextStreamWriter(DataSourceStreamWriter):
    """Streaming sink side — the fourth quadrant of the connector matrix
    (batch read / batch write / stream read / stream write). Per
    micro-batch, each task writes a dot-prefixed in-progress file;
    ``commit(messages, batchId)`` renames them to deterministic
    ``part-<batchId>-<i>`` names and drops a ``_batch-<batchId>.committed``
    marker INSIDE the directory. Exactly-once under replay: a committed
    batch's marker short-circuits the re-commit (the replay's in-progress
    files are deleted, never exposed), and uncommitted files stay
    invisible to the reader's prefix filter — the same two-phase contract
    as the parquet upsert sink, expressed in the DataSource API."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("basket_text requires a path option")
        self.path = path

    def write(self, iterator) -> _WroteFile:
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".part-{uuid.uuid4().hex}.inprogress")
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                items = " ".join(row.items) if row.items else ""
                fh.write(f"{row.customer} {items}".rstrip() + "\n")
        return _WroteFile(tmp)

    def commit(self, messages, batchId: int) -> None:
        marker = os.path.join(self.path, f"_batch-{batchId}.committed")
        if os.path.exists(marker):
            for m in messages:  # replayed batch: drop, never expose twice
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)
            return
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = os.path.join(self.path, f"part-{batchId:05d}-{i:05d}")
            os.replace(m.path, final)
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write(str(len(messages)))

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class BasketTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "basket_text"

    def schema(self) -> str:
        return "customer string, items array<string>"

    def reader(self, schema) -> BasketTextReader:
        return BasketTextReader(self.options)

    def writer(self, schema, overwrite: bool) -> BasketTextWriter:
        return BasketTextWriter(self.options, overwrite)

    def simpleStreamReader(self, schema) -> BasketTextStreamReader:
        return BasketTextStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> BasketTextStreamWriter:
        return BasketTextStreamWriter(self.options)


def register(spark) -> None:
    """Idempotent registration of the basket_text format on a session."""
    spark.dataSource.register(BasketTextDataSource)


def read_baskets(spark, path: str):
    """Read reference-format basket text through the custom DataSource."""
    register(spark)
    return spark.read.format("basket_text").option("path", path).load()


class _GenPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticBasketReader(DataSourceReader):
    """Deterministic basket GENERATOR — the dbgen-style scale-test
    source: no input files, rows are a pure function of (seed,
    basket_id), so any cluster size regenerates the identical corpus.
    ``n_baskets`` baskets split over ``n_partitions`` input partitions
    (each generates its own id range — embarrassingly parallel, zero
    I/O, zero skew by construction).

    Generation contract (pinned by tests, reproducible anywhere): per
    basket, an LCG seeded with ``md5-free integer mixing`` (SplitMix64
    steps — no Python hashing in the row loop) draws basket size in
    [min_items, max_items] and item ids in [1, n_items]. Customer name
    is ``C<basket_id>``.
    """

    _MASK = (1 << 64) - 1

    def __init__(self, options: dict):
        self.n_baskets = int(options.get("n_baskets", 1000))
        self.n_items = int(options.get("n_items", 100))
        self.min_items = int(options.get("min_items", 2))
        self.max_items = int(options.get("max_items", 12))
        self.seed = int(options.get("seed", 42))
        self.n_partitions = int(options.get("n_partitions", 8))
        if self.min_items < 1 or self.max_items < self.min_items:
            raise ValueError("need 1 <= min_items <= max_items")

    def partitions(self):
        per = -(-self.n_baskets // self.n_partitions)
        return [
            _GenPartition(i * per, min((i + 1) * per, self.n_baskets))
            for i in range(self.n_partitions)
            if i * per < self.n_baskets
        ]

    @classmethod
    def _mix(cls, x: int) -> int:
        # SplitMix64 finalizer: deterministic, stdlib-free, fast
        x = (x + 0x9E3779B97F4A7C15) & cls._MASK
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & cls._MASK
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & cls._MASK
        return x ^ (x >> 31)

    def read(self, partition: _GenPartition):
        span = self.max_items - self.min_items + 1
        for b in range(partition.start, partition.end):
            h = self._mix(self.seed ^ (b << 1))
            size = self.min_items + (h % span)
            items = []
            for j in range(size):
                h = self._mix(h + j + 1)
                items.append(str(1 + (h % self.n_items)))
            yield (f"C{b}", items)


class SyntheticBasketDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_baskets"

    def schema(self) -> str:
        return "customer string, items array<string>"

    def reader(self, schema) -> SyntheticBasketReader:
        return SyntheticBasketReader(self.options)


def register_synthetic(spark) -> None:
    spark.dataSource.register(SyntheticBasketDataSource)


def generate_baskets(spark, **options):
    """Generate a deterministic synthetic basket corpus, e.g.
    ``generate_baskets(spark, n_baskets=10_000, n_partitions=32)``."""
    register_synthetic(spark)
    r = spark.read.format("synthetic_baskets")
    for k, v in options.items():
        r = r.option(k, str(v))
    return r.load()
