"""Property-based tests (hypothesis) for the deterministic parse core.

These run pure-Python (oracle functions) at high example counts, plus
one Spark batch cross-check over a hypothesis-generated corpus — the
expr/udf/python triple equality is what makes distributed parity
provable, so fuzz it.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from sherlog_parser_spark.functions.masking import (
    extract_params_py,
    mask_template_py,
    normalize_template_py,
)
from sherlog_parser_spark.oracle.matcher import TemplatePool, merge_templates, similarity

# tokens from the interesting alphabet: words, numbers, hex, ids, ips, junk
token = st.one_of(
    st.from_regex(r"[a-z]{1,8}", fullmatch=True),
    st.from_regex(r"\d{1,6}", fullmatch=True),
    st.from_regex(r"0x[0-9a-f]{1,6}", fullmatch=True),
    st.from_regex(r"[a-z]{1,4}-\d{1,3}", fullmatch=True),
    st.from_regex(r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", fullmatch=True),
    st.from_regex(r"[!-~]{1,6}", fullmatch=True),  # printable junk
)
texts = st.lists(token, min_size=0, max_size=12).map(" ".join)


@given(texts)
@settings(max_examples=300, deadline=None)
def test_mask_is_idempotent_on_token_count(text):
    masked = mask_template_py(text)
    assert len(masked.split()) == len(text.split())


@given(texts)
@settings(max_examples=300, deadline=None)
def test_params_align_with_mask(text):
    masked = mask_template_py(text)
    params = extract_params_py(text, masked)
    toks, mtoks = text.split(), masked.split()
    for name, value in params.items():
        m = re.fullmatch(r"param_(\d+)_([A-Z_]+)", name)
        assert m, name
        i = int(m.group(1))
        assert toks[i] == value
        assert f"<{m.group(2)}>" in mtoks[i]
    # every placeholder position yields a param
    n_placeholders = sum(1 for t in mtoks if re.search(r"<(OID|LOI|OBA)>", t))
    assert len(params) == n_placeholders


@given(texts)
@settings(max_examples=200, deadline=None)
def test_normalize_removes_all_typed_placeholders(text):
    normalized = normalize_template_py(mask_template_py(text))
    assert "<OID>" not in normalized and "<LOI>" not in normalized and "<OBA>" not in normalized


@given(texts, texts)
@settings(max_examples=300, deadline=None)
def test_similarity_bounded_deterministic(a, b):
    """NB: difflib.SequenceMatcher.ratio() — the surviving reference
    matcher (src/core/template_matcher.py:95-100) — is NOT symmetric in
    general; the pipeline always calls it with a fixed argument order
    (pooled template first, both in the oracle and the driver merge), so
    only boundedness, determinism, and self-identity are invariants."""
    s = similarity(a, b)
    assert 0.0 <= s <= 1.0
    assert s == similarity(a, b)
    assert similarity(a, a) == 1.0 if a.split() else True


@given(texts, texts)
@settings(max_examples=300, deadline=None)
def test_merge_none_or_valid(a, b):
    ma, mb = mask_template_py(a), mask_template_py(b)
    merged = merge_templates(ma, mb)
    if merged is not None:
        # merged length equals the longer input's length
        assert len(merged.split()) == max(len(ma.split()), len(mb.split()))


@given(st.lists(texts, min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_pool_mapping_total_and_stable(corpus):
    pool = TemplatePool()
    sigs = {}
    for t in corpus:
        m = mask_template_py(t)
        sig = sigs.setdefault(m, len(sigs))
        tid = pool.add(sig, m)
        assert 0 <= tid < len(pool.templates)
        assert pool.add(sig, m) == tid  # repeat sig stable
    assert set(pool.mapping().keys()) == set(sigs.values())


def test_spark_mask_equals_python_on_fuzz_corpus(spark):
    """One batched cross-check: 400 hypothesis-style random texts through
    the JVM expression vs the Python reference."""
    import random

    rng = random.Random(42)
    words = ["alpha", "beta", "0x1f", "42", "10.0.0.1", "w-7", "x_1", "!!", "a.b", "9999999999"]
    rows = [
        (" ".join(rng.choice(words) for _ in range(rng.randint(0, 14))),) for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "text string")
    from sherlog_parser_spark.functions.masking import mask_template_expr

    for r in df.select("text", mask_template_expr("text").alias("m")).collect():
        assert r["m"] == mask_template_py(r["text"]), repr(r["text"])


def test_spark_substring_cut_equals_python_on_fuzz_corpus(spark):
    """r4: the substring-dedup cut vs an INDEPENDENT Python reference on
    a random corpus with planted cross-doc 4-gram overlap (random docs
    alone almost never share 4-grams).  Checks cleaned text, counts and
    merged-span counts per doc — different code path from the DuckDB
    oracle (list replay), same semantics."""
    import random

    from sherlog_parser_spark.operators.dedup import substring_dedup_cut

    rng = random.Random(7)
    words = [f"w{i}" for i in range(30)]
    boiler = ["shared", "boiler", "plate", "fragment", "copied", "around"]
    rows = []
    for i in range(120):
        toks = [rng.choice(words) for _ in range(rng.randint(0, 18))]
        if rng.random() < 0.4 and len(toks) >= 2:
            # plant the boilerplate run at a random position
            p = rng.randint(0, len(toks))
            toks = toks[:p] + boiler[: rng.randint(4, 6)] + toks[p:]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")

    n = 4

    def shingles(toks):
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    docs = {i: t.split() for i, t in rows}
    from collections import defaultdict

    sh_docs = defaultdict(set)
    for i, toks in docs.items():
        for s in shingles(toks):
            sh_docs[s].add(i)
    repeated = {s for s, d in sh_docs.items() if len(d) >= 2}
    expected = {}
    for i, toks in docs.items():
        cov = set()
        for p, s in enumerate(shingles(toks)):
            if s in repeated:
                cov.update(range(p, p + n))
        kept = [t for j, t in enumerate(toks) if j not in cov]
        runs = sum(1 for j in sorted(cov) if j - 1 not in cov)
        expected[i] = (" ".join(kept), len(cov), runs)

    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_cut_tokens"], r["n_spans"])
        for r in substring_dedup_cut(df, n=n, min_docs=2).collect()
    }
    assert got == expected
    # sanity: the corpus actually exercised cutting
    assert any(v[1] > 0 for v in expected.values())


def test_substring_cut_long_heavily_covered_doc(spark):
    """r5 (r4 verdict #2): the keep-mask must be linear in doc length,
    not O(tokens × covered).  Two 16k-token docs sharing ~80% of their
    positions (the adversarial web-corpus shape) must clean correctly
    and in bounded wall time — the old per-token array_contains scan
    cost ~2×10^8 comparisons per row here."""
    import time

    from sherlog_parser_spark.operators.dedup import substring_dedup_cut

    # 320 blocks of (40 shared + 10 unique-per-doc) tokens = 16k tokens,
    # exactly 80% of positions inside cross-doc repeated 4-gram spans
    def mk(doc):
        toks = []
        for b in range(320):
            toks += [f"s{b}_{j}" for j in range(40)]
            toks += [f"u{doc}_{b}_{j}" for j in range(10)]
        return toks

    docs = {0: mk(0), 1: mk(1)}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], "doc_id INT, text STRING"
    )
    n = 4

    def shingles(toks):
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    sh_docs: dict[str, set[int]] = {}
    for i, toks in docs.items():
        for s in shingles(toks):
            sh_docs.setdefault(s, set()).add(i)
    repeated = {s for s, d in sh_docs.items() if len(d) >= 2}
    expected = {}
    for i, toks in docs.items():
        cov = set()
        for p, s in enumerate(shingles(toks)):
            if s in repeated:
                cov.update(range(p, p + n))
        kept = [t for j, t in enumerate(toks) if j not in cov]
        runs = sum(1 for j in cov if j - 1 not in cov)
        expected[i] = (" ".join(kept), len(cov), runs)
        assert len(cov) >= 0.75 * len(toks)  # genuinely heavily covered

    t0 = time.time()
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_cut_tokens"], r["n_spans"])
        for r in substring_dedup_cut(df, n=n, min_docs=2).collect()
    }
    wall = time.time() - t0
    assert got == expected
    assert wall < 60, f"substring cut took {wall:.1f}s on 2×16k-token docs"
