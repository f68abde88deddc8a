"""Unit tests for the round-9 text operators: Zipf rank-frequency fit
and the Gopher per-rule quality screen."""

import math
from decimal import ROUND_HALF_UP, Decimal, localcontext

from pyspark.sql import functions as F

from probability_of_buying_two_products_together_hadoop_project_spark.operators import text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _q6(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _zipf_reference(freqs):
    """Python OLS replica with the operator's 6dp-log quantization and
    exact decimal co-moments."""
    ranked = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (_q6(math.log(rk)), _q6(math.log(n)))
        for rk, (_, n) in enumerate(ranked, start=1)
    ]
    n = len(pts)
    with localcontext(prec=60):  # exact: every term has at most 12dp
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        sxx = sum(p[0] * p[0] for p in pts)
        cov_n = float(n * sxy - sx * sy)
        varx_n = float(n * sxx - sx * sx)
    nf, sxf, syf = float(n), float(sx), float(sy)
    slope = cov_n / varx_n
    intercept = (syf - slope * sxf) / nf
    return slope, intercept


def test_zipf_fit_matches_python_ols(spark):
    # freq spectrum: a×8, b×4, c×2, d×1, e×1 — rank ties broken by token
    rows = [
        (1, "a a a a b b c d"),
        (2, "a a a a b b c e"),
    ]
    out = text.zipf_fit(_docs(spark, rows)).collect()[0]
    assert out.n_types == 5
    assert out.n_tokens == 16
    slope, intercept = _zipf_reference({"a": 8, "b": 4, "c": 2, "d": 1, "e": 1})
    assert out.slope == slope
    assert out.intercept == intercept
    assert 0.0 <= out.r2 <= 1.0
    # frequencies halve as rank doubles => slope near -1 (not exact:
    # the tie-tail flattens it)
    assert -1.6 < out.slope < -0.5


def test_zipf_fit_degenerate_single_type(spark):
    out = text.zipf_fit(_docs(spark, [(1, "same same same")])).collect()[0]
    assert out.n_types == 1 and out.n_tokens == 3
    assert out.slope is None and out.intercept is None and out.r2 is None


def test_zipf_fit_min_count_filters_tail(spark):
    rows = [(1, "a a a b b c")]
    out = text.zipf_fit(_docs(spark, rows), min_count=2).collect()[0]
    assert out.n_types == 2  # c dropped
    assert out.n_tokens == 5


def test_gopher_rules_per_rule_flags(spark):
    good = " ".join(
        ["the", "be", "to", "of", "and", "that", "have", "with"] * 8
    )  # 64 words, all alpha, mean len ~3.1, plenty of stopwords
    short = "tiny doc"  # fails word count + stopword
    symbols = " ".join(["###"] * 60)  # no alpha, all symbol tokens
    rows = [(1, good), (2, short), (3, symbols), (4, None)]
    out = {
        r.doc_id: r
        for r in text.gopher_rules(_docs(spark, rows)).collect()
    }
    assert out[1].r_wordcount == 1 and out[1].r_wordlen == 1
    assert out[1].r_symbol == 1 and out[1].r_alpha == 1 and out[1].r_stop == 1
    assert out[1].keep == 1
    assert out[2].r_wordcount == 0 and out[2].r_stop == 0 and out[2].keep == 0
    # 60 symbol tokens: word count band ok but symbol/alpha rules fail
    assert out[3].n_words == 60
    assert out[3].r_symbol == 0 and out[3].r_alpha == 0 and out[3].keep == 0
    # NULL text normalizes to the empty token array: everything fails
    assert out[4].n_words == 0 and out[4].keep == 0
    assert out[4].mean_word_len is None


def test_gopher_rules_integer_boundaries(spark):
    # mean word length EXACTLY 3 and EXACTLY 10 must pass (closed band,
    # integer cross-multiplication — no float boundary wobble)
    w3 = " ".join(["abc"] * 50)
    w10 = " ".join(["abcdefghij"] * 50)
    w11 = " ".join(["abcdefghijk"] * 50)
    rows = [(1, w3), (2, w10), (3, w11)]
    out = {
        r.doc_id: r
        for r in text.gopher_rules(_docs(spark, rows)).collect()
    }
    assert out[1].r_wordlen == 1
    assert out[2].r_wordlen == 1
    assert out[3].r_wordlen == 0


def test_gopher_rules_zero_exchange_plan(spark, sf_oracle):
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    plan = text.gopher_rules(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, source string")


def test_perplexity_buckets_exact_thirds_per_source(spark):
    # source A: 6 scoreable docs -> exactly 2 head, 2 middle, 2 tail;
    # source B: 4 docs -> floor thirds: 1 head, 1 middle (rk*3<=8), 2 tail
    rows = []
    for i in range(6):
        # vary bigram typicality: doc i repeats a common bigram i times
        rows.append((i, "x y " * (i + 1) + "unique" + str(i) + " tail" + str(i), "A"))
    for i in range(6, 10):
        rows.append((i, "p q " * (i - 5) + "only" + str(i) + " end" + str(i), "B"))
    out = text.perplexity_buckets(_src_docs(spark, rows)).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.ppl_bucket)
    a = sorted(by_src["A"])
    b = sorted(by_src["B"])
    assert a == ["head", "head", "middle", "middle", "tail", "tail"]
    assert b == ["head", "middle", "tail", "tail"]


def test_perplexity_buckets_excludes_unscoreable_docs(spark):
    rows = [
        (1, "a b a b a b", "A"),
        (2, "single", "A"),  # < 2 tokens: no bigram, no score
        (3, None, "A"),
        (4, "a b c d", "A"),
    ]
    out = text.perplexity_buckets(_src_docs(spark, rows)).collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [1, 4]


def test_source_gram_containment_asymmetry(spark):
    # source B's text is a substring of source A's: every B trigram is
    # an A trigram -> containment(B in A... i.e. src_a=B) = 1.0, while
    # A is only partially contained in B
    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "A"),
        (2, "beta gamma delta", "B"),
        (3, "totally different words here now", "C"),
    ]
    out = {
        (r.src_a, r.src_b): r
        for r in text.source_gram_containment(
            _src_docs(spark, rows), n=3
        ).collect()
    }
    # A has 4 trigrams, B has 1 ("beta gamma delta"), shared = 1
    ba = out[("B", "A")]
    assert (ba.grams_a, ba.grams_b, ba.shared) == (1, 4, 1)
    assert ba.containment == 1.0
    ab = out[("A", "B")]
    assert (ab.grams_a, ab.shared) == (4, 1)
    assert ab.containment == 0.25
    # C shares nothing: no rows in either direction
    assert not any("C" in k for k in out)


def test_source_gram_containment_python_reference(spark):
    import hashlib

    rows = [
        (i, f"w{i % 3} x{i % 2} common tail words {i}", f"s{i % 4}")
        for i in range(12)
    ]
    out = {
        (r.src_a, r.src_b): (r.grams_a, r.grams_b, r.shared, r.containment)
        for r in text.source_gram_containment(
            _src_docs(spark, rows), n=3
        ).collect()
    }
    import re

    grams = {}
    for _, t, s in rows:
        tk = [w for w in re.sub(r"\s+", " ", t.lower().strip()).split(" ") if w]
        for i in range(len(tk) - 2):
            g = " ".join(tk[i : i + 3])
            grams.setdefault(s, set()).add(
                hashlib.md5(g.encode()).hexdigest()
            )
    for a in grams:
        for b in grams:
            if a == b:
                continue
            sh = len(grams[a] & grams[b])
            if sh >= 1:
                assert out[(a, b)] == (
                    len(grams[a]),
                    len(grams[b]),
                    sh,
                    sh / len(grams[a]),
                ), (a, b)
            else:
                assert (a, b) not in out


def test_perplexity_buckets_head_is_lowest_nll(spark):
    rows = [(i, "c d " * 5 + f"rare{i} odd{i} " * (4 - i), "A") for i in range(3)]
    out = {r.doc_id: r for r in text.perplexity_buckets(_src_docs(spark, rows)).collect()}
    ranked = sorted(out.values(), key=lambda r: (r.avg_nll, r.doc_id))
    assert ranked[0].ppl_bucket == "head"
    assert ranked[-1].ppl_bucket == "tail"
