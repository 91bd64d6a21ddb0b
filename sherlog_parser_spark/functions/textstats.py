"""Text-analysis functions for large-scale training-data pipelines:
language ID (marker-set heuristic), quality scoring, token counting,
document fingerprinting.  Every function has (a) a pure-JVM Spark
expression and (b) a DuckDB SQL rendering with identical semantics so
the correctness driver can oracle-check them value-for-value.

Formulas are deliberately integer/ratio-based (counts over token
arrays) and outputs are rounded to 4 decimals to keep cross-engine
float drift out of the comparison.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import tokens_expr

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "y", "en", "es", "un", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"],
    "fr": ["le", "les", "et", "est", "une", "dans", "pour", "avec", "sur", "que"],
}
LANG_ORDER = ["en", "es", "de", "fr"]  # deterministic tie-break order
CJK_PATTERN = "[\\x{4e00}-\\x{9fff}]"  # Java regex syntax; DuckDB uses RE2 form below
PUNCT_CHARS = ".,;:!?'\"()[]{}-"
BPE_ISH_PATTERN = r"[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]"


def _let(val: Column, body) -> Column:
    """Let-binding inside a single expression: evaluate ``val`` ONCE and
    hand it to ``body`` as a bound lambda variable —
    ``element_at(transform(array(val), body), 1)``.

    Interpreted HOF expressions do no common-subexpression elimination:
    an expression TREE referenced k times in one projection evaluates k
    times (the documented O(len^2) trap for outer references inside
    lambdas applies per-reference too).  A lambda VARIABLE, by contrast,
    is a slot read.  This binds multi-consumer intermediates (token
    arrays, shingle arrays, hit counts) without forcing callers to
    project extra columns — measured 3-7x on lang_id/fingerprint (r6).
    ``body(null)`` must reproduce the unbound null semantics; all users
    here are null-safe CASE/size chains (pinned by the expr==py fuzz
    suite)."""
    return F.element_at(F.transform(F.array(val), body), 1)


def ws_token_count_expr(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_expr(text))


def bpe_ish_token_count_expr(text: Column | str) -> Column:
    """BPE-ish regex token count: word runs + individual non-word chars."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def punct_ratio_expr(text: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    c = F.col(text) if isinstance(text, str) else text
    # count punctuation by deleting everything else
    punct_rx = "[^" + "".join("\\" + ch for ch in PUNCT_CHARS) + "]"
    n_punct = F.length(F.regexp_replace(c, punct_rx, ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio_expr(text: Column | str, lang: str = "en") -> Column:
    toks = tokens_expr(F.lower(text))
    words = tuple(STOPWORDS[lang])

    def ratio(tk):
        hits = F.size(F.filter(tk, lambda t: t.isin(*words)))
        return F.when(F.size(tk) > 0, hits.cast("double") / F.size(tk)).otherwise(
            F.lit(0.0)
        )

    return _let(toks, ratio)


def quality_score_expr(text: Column | str) -> Column:
    """Composite quality score in [0,1]:
    0.4·min(1, n_chars/500) + 0.3·(1 − punct_ratio) + 0.3·stopword_ratio(en)."""
    c = F.col(text) if isinstance(text, str) else text
    len_part = F.least(F.lit(1.0), F.length(c).cast("double") / F.lit(500.0))
    return (
        F.lit(0.4) * len_part
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio_expr(c))
        + F.lit(0.3) * stopword_ratio_expr(c, "en")
    )


def lang_id_expr(text: Column | str) -> Column:
    """Marker-set language ID: CJK chars -> zh; else the language whose
    stopword set hits the most tokens (ties broken by LANG_ORDER);
    'unknown' when nothing hits."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens_expr(F.lower(c))

    # r6: the token array and the per-language hit counts are each
    # _let-bound so they evaluate once — the flat formulation
    # re-tokenized per reference (4 langs x 2 uses = 8 tokenizations)
    def pick(tk):
        # one-arg lambdas only (pyspark dispatches on lambda arity)
        def sw_hits(lang: str):
            words = tuple(STOPWORDS[lang])
            return F.size(F.filter(tk, lambda t: t.isin(*words)))

        hits_arr = F.array(*[sw_hits(lang) for lang in LANG_ORDER])

        def decide(hs):
            def h(i: int):
                return F.element_at(hs, i + 1)

            # explicit argmax chain (first language with max hits wins)
            max_hits = F.greatest(*[h(i) for i in range(len(LANG_ORDER))])
            e = None
            for i, lang in enumerate(LANG_ORDER):
                cond = (max_hits > 0) & (h(i) == max_hits)
                e = F.when(cond, lang) if e is None else e.when(cond, lang)
            return e.otherwise("unknown")

        return _let(hits_arr, decide)

    return F.when(c.rlike(CJK_PATTERN), "zh").otherwise(_let(toks, pick))


def _sql_name(col: str) -> str:
    return "`" + col.replace("`", "``") + "`"


def word_shingles_expr(text: str, n: int = 3) -> Column:
    """Array of word n-gram shingle strings (space-joined) of the column
    named ``text``.

    Built as ONE SQL expression: the same tree from ``F.*`` calls costs
    ~150 Py4J round trips (most of them pyspark's HOF lambda set-up),
    and a curation DAG builds four of these.  The token array is
    let-bound (``_let``'s ``element_at(transform(array(v), ...), 1)``),
    so the lambda reads token ``i + j`` from a bound variable: never
    refer to an outer expression tree inside a lambda, which interpreted
    HOFs re-evaluate per element (measured O(len^2) on long documents).
    The tokens are :func:`masking.tokens_expr`'s."""
    toks = f"array_remove(split(trim({_sql_name(text)}), '\\\\s+'), '')"
    parts = ", ".join(f"_tk[_i + {j}]" for j in range(n))
    return F.expr(
        f"element_at(transform(array({toks}), _tk -> CASE WHEN size(_tk) >= {n} "
        f"THEN transform(sequence(0, size(_tk) - {n}), _i -> concat_ws(' ', {parts})) "
        f"ELSE CAST(array() AS array<string>) END), 1)"
    )


def fingerprint_expr(text: str, n: int = 3) -> Column:
    """Document fingerprint: lexicographic min of md5 over word n-gram
    shingles (rolling-hash-style winnowing with window = whole doc);
    empty/short docs fall back to md5 of the trimmed text."""
    c = F.col(text)
    sh = word_shingles_expr(text, n)
    # _let-bound (r6): the shingle array is consumed by both size() and
    # the md5 fold — the flat form built it twice per row
    return _let(
        sh,
        lambda s: F.when(F.size(s) > 0, F.array_min(F.transform(s, F.md5))).otherwise(
            F.md5(F.trim(c))
        ),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filtering, Rae et al. 2021
# appendix A — duplicate-line and repeated-n-gram fractions).  Mirrors the
# reference's quality-filter role for training-data curation; formulas are
# count-ratio based so the DuckDB renderings below agree bit-for-bit after
# the house fixed-point scaling.
#
# IMPORTANT: every function taking a ``lines``/``shingles`` column expects a
# BOUND attribute (a column projected in a prior select/withColumn), never a
# raw expression tree — interpreted HOF lambdas re-evaluate outer expression
# trees per element (no CSE), turning O(n) into O(n^2) on long documents.
# ---------------------------------------------------------------------------


def lines_expr(text: Column | str) -> Column:
    """Non-empty trimmed lines of a document (split on newline)."""
    c = F.col(text) if isinstance(text, str) else text
    # NOT F.transform(.., F.trim): trim has an optional 2nd parameter, so
    # the HOF arity dispatch would pass the element INDEX as the trim set
    return F.array_remove(
        F.transform(F.split(c, "\n"), lambda s: F.trim(s)), ""
    )


def dup_frac_expr(arr: Column | str) -> Column:
    """Fraction of array elements that are repeats of an earlier element:
    (n - n_distinct) / n, 0 for empty.  Used for duplicate-line fraction
    (over lines) and duplicated-n-gram fraction (over shingles)."""
    a = F.col(arr) if isinstance(arr, str) else arr
    n = F.size(a)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(a))).cast("double") / n
    ).otherwise(F.lit(0.0))


def _char_total(a: Column) -> Column:
    return F.aggregate(a, F.lit(0), lambda acc, x: acc + F.length(x))


def dup_char_frac_expr(arr: Column | str) -> Column:
    """Fraction of characters contained in repeat occurrences (all
    occurrences after the first) of array elements; 0 when the array is
    empty or all-empty.  The repeats hold every character that the
    distinct elements do not, so this is two linear folds.  `arr` must
    be a bound attribute (see module note)."""
    a = F.col(arr) if isinstance(arr, str) else arr
    tot_chars = _char_total(a)
    dup_chars = tot_chars - _char_total(F.array_distinct(a))
    return F.when(
        tot_chars > 0, dup_chars.cast("double") / tot_chars
    ).otherwise(F.lit(0.0))


def top_ngram_char_frac_expr(shingles: str, text: str) -> Column:
    """max over distinct n-grams g of count(g)*chars(g), divided by the
    document's trimmed char count.  This equals Gopher's "fraction of
    characters in the most frequent n-gram" whenever the argmax is unique,
    and is deterministic under count ties (it maximizes the char mass
    itself).  ``shingles`` names a bound attribute (see module note).

    Linear after one sort: equal n-grams are adjacent in the sorted
    array, so each run start and the next one bound a run of
    ``count(g)`` copies of ``g``.  (Filtering the whole array once per
    distinct n-gram is O(tokens^2) per document.)  The run starts are
    null-safe, so nulls (sorted last) form their own run, whose char
    mass is null and never the max.  One SQL expression, like
    :func:`word_shingles_expr`."""
    sh, t = _sql_name(shingles), _sql_name(text)
    starts = (
        "filter(transform(_srt, (x, i) -> CASE WHEN i = 0 THEN i "
        "WHEN NOT (x <=> _srt[i - 1]) THEN i END), i -> i IS NOT NULL)"
    )
    ends = "concat(slice(_st, 2, greatest(size(_st) - 1, 0)), array(size(_srt)))"
    best = (
        f"element_at(transform(array(array_sort({sh})), _srt -> element_at(transform("
        f"array({starts}), _st -> array_max(zip_with(_st, {ends}, "
        "(a, b) -> (b - a) * length(_srt[a])))), 1)), 1)"
    )
    return F.expr(
        f"CASE WHEN size({sh}) > 0 AND length(trim({t})) > 0 "
        f"THEN CAST({best} AS DOUBLE) / length(trim({t})) ELSE 0.0D END"
    )


def x1e4(c: Column) -> Column:
    """A fraction as the fixed-point BIGINT floor(c*1e4 + 0.5) — the
    house float rule: round() diverges between engines exactly when the
    value is a finite decimal (Spark rounds the binary double, DuckDB
    the decimal repr), and thresholds compare these ints."""
    return F.floor(c * 10000 + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# DuckDB renderings (identical semantics, used by oracle_sql)
# ---------------------------------------------------------------------------

def dd_tokens(text_col: str, lower: bool = False) -> str:
    inner = f"lower({text_col})" if lower else text_col
    return (
        f"list_filter(regexp_split_to_array(trim({inner}), '\\s+'), t -> t <> '')"
    )


def dd_ws_token_count(text_col: str) -> str:
    return f"len({dd_tokens(text_col)})"


def dd_bpe_count(text_col: str) -> str:
    return f"len(regexp_extract_all({text_col}, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]'))"


def dd_punct_ratio(text_col: str) -> str:
    # escape for the regex class AND double the single quote for the SQL literal
    cls = "".join(("\\" + ch if ch != "'" else "\\''") for ch in PUNCT_CHARS)
    return (
        f"CASE WHEN length({text_col}) > 0 THEN "
        f"CAST(length(regexp_replace({text_col}, '[^{cls}]', '', 'g')) AS DOUBLE) / length({text_col}) "
        f"ELSE 0.0 END"
    )


def _dd_sw_hits(text_col: str, lang: str) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return f"len(list_filter({dd_tokens(text_col, lower=True)}, t -> list_contains({arr}, t)))"


def dd_stopword_ratio(text_col: str, lang: str = "en") -> str:
    toks = dd_tokens(text_col, lower=True)
    return (
        f"CASE WHEN len({toks}) > 0 THEN CAST({_dd_sw_hits(text_col, lang)} AS DOUBLE) / len({toks}) "
        f"ELSE 0.0 END"
    )


def dd_quality_score(text_col: str) -> str:
    # e-notation forces DOUBLE literals (DuckDB parses 0.4 as DECIMAL,
    # whose exact arithmetic drifts from Spark's double math at rounding
    # boundaries)
    return (
        f"0.4e0 * least(1.0e0, CAST(length({text_col}) AS DOUBLE) / 500.0e0) "
        f"+ 0.3e0 * (1.0e0 - ({dd_punct_ratio(text_col)})) "
        f"+ 0.3e0 * ({dd_stopword_ratio(text_col)})"
    )


def dd_lang_id(text_col: str) -> str:
    hits = {lang: _dd_sw_hits(text_col, lang) for lang in LANG_ORDER}
    max_expr = "greatest(" + ", ".join(hits[lang] for lang in LANG_ORDER) + ")"
    whens = " ".join(
        f"WHEN {max_expr} > 0 AND {hits[lang]} = {max_expr} THEN '{lang}'" for lang in LANG_ORDER
    )
    return (
        f"CASE WHEN regexp_matches({text_col}, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh' "
        f"{whens} ELSE 'unknown' END"
    )


def dd_word_shingles(tokens_var: str, n: int = 3) -> str:
    """Shingle list over an already-bound token-array variable/column
    named ``tokens_var`` (bind it in a subquery: ``SELECT <dd_tokens(..)>
    AS toks``).  Matches word_shingles_expr: i in [1, len-n+1]."""
    parts = " || ' ' || ".join(f"{tokens_var}[i + {j}]" for j in range(n))
    return (
        f"list_transform(range(1, greatest(len({tokens_var}) - {n - 1}, 0) + 1), "
        f"i -> ({parts}))"
    )


def dd_fingerprint(tokens_var: str, text_col: str, n: int = 3) -> str:
    sh = dd_word_shingles(tokens_var, n)
    return (
        f"CASE WHEN len({tokens_var}) >= {n} THEN "
        f"list_min(list_transform({sh}, s -> md5(s))) "
        f"ELSE md5(trim({text_col})) END"
    )


def make_nfc_normalize_udf():
    """Arrow-batched pandas UDF: Unicode NFC normalization (the curation
    step that canonicalizes combining sequences before dedup/hashing —
    without it, 'e'+U+0301 and precomposed U+00E9 hash differently and
    near-dup pipelines under-merge).  Spark has no built-in NFC, so this
    is a genuine pandas-UDF-surface operator; the DuckDB oracle uses
    nfc_normalize, and both implement the same Unicode spec exactly."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def nfc_udf(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return nfc_udf


def dd_lines(text_col: str) -> str:
    return (
        f"list_filter(list_transform(string_split({text_col}, chr(10)), "
        f"s -> trim(s)), s -> s <> '')"
    )


def dd_dup_frac(arr_var: str) -> str:
    return (
        f"CASE WHEN len({arr_var}) > 0 THEN "
        f"CAST(len({arr_var}) - len(list_distinct({arr_var})) AS DOUBLE) / len({arr_var}) "
        f"ELSE 0.0 END"
    )


def dd_dup_char_frac(arr_var: str) -> str:
    # DuckDB indexed lambdas are 1-based (Spark's are 0-based); list_sum of
    # an empty list is NULL, hence the coalesce
    dup_chars = (
        f"coalesce(list_sum(list_transform(list_filter({arr_var}, "
        f"(x, i) -> list_position({arr_var}, x) <> i), x -> length(x))), 0)"
    )
    tot_chars = f"coalesce(list_sum(list_transform({arr_var}, x -> length(x))), 0)"
    return (
        f"CASE WHEN {tot_chars} > 0 THEN CAST({dup_chars} AS DOUBLE) / ({tot_chars}) "
        f"ELSE 0.0 END"
    )


def dd_top_ngram_char_frac(sh_var: str, text_col: str) -> str:
    best = (
        f"list_max(list_transform(list_distinct({sh_var}), "
        f"g -> len(list_filter({sh_var}, x -> x = g)) * length(g)))"
    )
    return (
        f"CASE WHEN len({sh_var}) > 0 AND length(trim({text_col})) > 0 THEN "
        f"CAST({best} AS DOUBLE) / length(trim({text_col})) ELSE 0.0 END"
    )
