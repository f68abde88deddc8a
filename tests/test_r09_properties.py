"""Hypothesis property tests for the round-9 operators: Zipf OLS fit,
Gopher per-rule screen, DCT pHash and CCNet perplexity buckets —
randomized corpora drive both the Spark operators and independent
pure-Python simulators (the test_drift_properties pattern)."""

import math
from decimal import ROUND_HALF_UP, Decimal, localcontext

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from probability_of_buying_two_products_together_hadoop_project_spark.operators import (
    multimodal,
    text,
)

words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "zq"]),
    min_size=2,
    max_size=40,
)


def _q6(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _py_zipf(freqs):
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
        syy = sum(p[1] * p[1] for p in pts)
        cov_n = float(n * sxy - sx * sy)
        varx_n = float(n * sxx - sx * sx)
        vary_n = float(n * syy - sy * sy)
    nf = float(n)
    if n < 2 or varx_n <= 0:
        return None, None, None
    slope = cov_n / varx_n
    icept = (float(sy) - slope * float(sx)) / nf
    r2 = cov_n * cov_n / (varx_n * vary_n) if vary_n > 0 else None
    return slope, icept, r2


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(words, min_size=1, max_size=5))
def test_zipf_fit_property(spark, docs):
    from collections import Counter

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    out = text.zipf_fit(
        spark.createDataFrame(rows, "doc_id bigint, text string")
    ).collect()[0]
    freqs = Counter(w for ws in docs for w in ws)
    slope, icept, r2 = _py_zipf(freqs)
    assert out.n_types == len(freqs)
    assert out.n_tokens == sum(freqs.values())
    assert out.slope == slope and out.intercept == icept and out.r2 == r2
    if out.r2 is not None:
        assert 0.0 <= out.r2 <= 1.0 + 1e-12
    if out.slope is not None and len(freqs) >= 2:
        assert out.slope <= 0.0  # freq is non-increasing in rank by construction


ascii_docs = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=120,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(ascii_docs)
def test_gopher_rules_property(spark, texts):
    import re

    rows = [(i, t) for i, t in enumerate(texts)]
    out = {
        r.doc_id: r
        for r in text.gopher_rules(
            spark.createDataFrame(rows, "doc_id bigint, text string")
        ).collect()
    }
    stop = {"the", "be", "to", "of", "and", "that", "have", "with"}
    for i, t in enumerate(texts):
        tk = [w for w in re.sub(r"\s+", " ", t.lower().strip()).split(" ") if w]
        r = out[i]
        n = len(tk)
        assert r.n_words == n
        sl = sum(len(w) for w in tk)
        nsym = sum(1 for w in tk if re.fullmatch(r"#+|\.\.\.", w))
        nal = sum(1 for w in tk if re.search(r"[a-z]", w))
        nstop = sum(1 for w in tk if w in stop)
        assert r.stop_hits == nstop
        assert r.r_wordcount == int(50 <= n <= 100_000)
        assert r.r_wordlen == int(n > 0 and 3 * n <= sl <= 10 * n)
        assert r.r_symbol == int(n > 0 and 1000 * nsym <= 100 * n)
        assert r.r_alpha == int(n > 0 and 1000 * nal >= 800 * n)
        assert r.r_stop == int(nstop >= 2)
        assert r.keep == int(
            bool(r.r_wordcount and r.r_wordlen and r.r_symbol
                 and r.r_alpha and r.r_stop)
        )


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
            max_size=200,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_phash_matches_python_reference_property(spark, texts):
    from tests.test_phash import _py_phash

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    media = multimodal.media_bmp_from_documents(docs)
    got = {r.media_id: r.phash for r in multimodal.image_phash(media).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_phash(t), (i, t)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=4)
)
def test_perplexity_buckets_exact_thirds_property(spark, sizes):
    # per source s with n scoreable docs: head = n//3, middle =
    # (2n)//3 - n//3, tail = the rest — EXACT integer quotas
    rows = []
    did = 0
    for s, n in enumerate(sizes):
        for j in range(n):
            rows.append(
                (did, f"w{j} x w{j} y " * (j + 1) + f"u{did} v{did}", f"s{s}")
            )
            did += 1
    if not rows:
        return
    out = text.perplexity_buckets(
        spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    ).collect()
    from collections import Counter

    per_src = {}
    for r in out:
        per_src.setdefault(r.source, Counter())[r.ppl_bucket] += 1
    for s, n in enumerate(sizes):
        if n == 0:
            assert f"s{s}" not in per_src
            continue
        c = per_src[f"s{s}"]
        assert c["head"] == n // 3
        assert c["head"] + c["middle"] == (2 * n) // 3
        assert sum(c.values()) == n
