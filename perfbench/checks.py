"""Expected outputs, computed before any timed pass.

- Registry queries: their DuckDB twins (``registry.oracle_sql()``) over
  the same generated parquet files, compared by ``tools/oracle_check.compare``
  (exact row sets, bitwise floats).
- Basket text corpus: an independent pure-Python implementation of the
  window rule, written from the paper's definition rather than from the
  engine's array expression.
- Golden smoke: the paper's 34 pair probabilities on its 2-line input.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
import pandas as pd

TABLES = ("lineitem", "events", "documents", "embeddings")

GOLDEN_INPUT = [
    "Mary 34 56 29 12 34 56 92 29 34 12",
    "Kelly 92 29 12 34 79 29 56 12 34 18",
]
# (item, neighbor) -> count(item, neighbor) / sum_n count(item, n), as
# printed by the reference MapReduce job; parity is bit-exact.
GOLDEN_PAIRS = {
    ("12", "18"): 1 / 11, ("12", "29"): 2 / 11, ("12", "34"): 4 / 11,
    ("12", "56"): 2 / 11, ("12", "79"): 1 / 11, ("12", "92"): 1 / 11,
    ("29", "12"): 4 / 13, ("29", "18"): 1 / 13, ("29", "34"): 4 / 13,
    ("29", "56"): 2 / 13, ("29", "79"): 1 / 13, ("29", "92"): 1 / 13,
    ("34", "12"): 3 / 12, ("34", "18"): 1 / 12, ("34", "29"): 3 / 12,
    ("34", "56"): 3 / 12, ("34", "79"): 1 / 12, ("34", "92"): 1 / 12,
    ("56", "12"): 3 / 10, ("56", "18"): 1 / 10, ("56", "29"): 2 / 10,
    ("56", "34"): 3 / 10, ("56", "92"): 1 / 10,
    ("79", "12"): 1 / 5, ("79", "18"): 1 / 5, ("79", "29"): 1 / 5,
    ("79", "34"): 1 / 5, ("79", "56"): 1 / 5,
    ("92", "12"): 3 / 12, ("92", "18"): 1 / 12, ("92", "29"): 3 / 12,
    ("92", "34"): 3 / 12, ("92", "56"): 1 / 12, ("92", "79"): 1 / 12,
}


def oracle_frames(data_dir: str, oracles: dict[str, str], names) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'"
        )
    out = {n: con.execute(oracles[n]).df() for n in names}
    con.close()
    return out


def window_pair_counts(lines) -> Counter:
    """count(p, n) under the paper's rule: for each basket line, token 0
    is the customer; every item but the last is a current item p, and its
    neighbors are the items after it up to (not including) the next
    occurrence of p."""
    counts: Counter = Counter()
    for line in lines:
        items = line.split()[1:]
        for i, p in enumerate(items[:-1]):
            for n in items[i + 1:]:
                if n == p:
                    break
                counts[p, n] += 1
    return counts


def pair_probabilities(counts: Counter) -> pd.DataFrame:
    marginal: Counter = Counter()
    for (p, _), c in counts.items():
        marginal[p] += c
    rows = [(p, n, c, float(c) / float(marginal[p])) for (p, n), c in counts.items()]
    return pd.DataFrame(rows, columns=["item", "neighbor", "pair_cnt", "prob"])


def golden_problems(spark, basket) -> list[str]:
    df = spark.createDataFrame([(line,) for line in GOLDEN_INPUT], ["value"])
    got = {
        (r["item"], r["neighbor"]): r["prob"]
        for r in basket.cooccurrence_pairs(basket.baskets_from_text(df)).collect()
    }
    if got != GOLDEN_PAIRS:
        bad = sorted(set(got.items()) ^ set(GOLDEN_PAIRS.items()))[:3]
        return [f"golden pairs differ from the paper's 34 probabilities, e.g. {bad}"]
    return []


def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    from tools.oracle_check import compare

    return [p for p in compare("", got, want) if not p.startswith("DTYPE-WARN")]


def stripe_problems(got: pd.DataFrame, want_pairs: pd.DataFrame) -> list[str]:
    """``cooccurrence_stripes`` rows (item, stripe: neighbor -> prob)."""
    want: dict[str, dict[str, float]] = {}
    for r in want_pairs.itertuples():
        want.setdefault(r.item, {})[r.neighbor] = r.prob
    have = {r.item: dict(r.stripe) for r in got.itertuples()}
    if have != want:
        bad = sorted(set(have) ^ set(want)) or [k for k in want if have.get(k) != want[k]]
        return [f"stripes differ from the window rule for items {bad[:3]}"]
    return []


def reference_layout_problems(paths: list[str], want_pairs: pd.DataFrame) -> list[str]:
    """The three ``part-r-0000{0,1,2}`` files: items < 30, < 60 and the
    rest, each sorted by (item, neighbor) as strings, one
    ``[item, neighbor]<TAB>prob`` line per pair."""
    want = {(r.item, r.neighbor): r.prob for r in want_pairs.itertuples()}
    seen: dict[tuple[str, str], float] = {}
    problems = []
    for idx, path in enumerate(paths):
        keys = []
        with open(path) as f:
            for line in f:
                pair, prob = line.rstrip("\n").split("\t")
                item, neighbor = pair[1:-1].split(", ")
                seen[item, neighbor] = float(prob)
                keys.append((item, neighbor))
                if [int(item) < 30, 30 <= int(item) < 60, int(item) >= 60].index(True) != idx:
                    problems.append(f"{path}: item {item} in the wrong part file")
        if keys != sorted(keys):
            problems.append(f"{path}: lines not sorted by (item, neighbor)")
    if seen != want:
        problems.append(f"reference layout holds {len(seen)} pairs, window rule {len(want)}; "
                        "counts or probabilities differ")
    return problems[:3]
