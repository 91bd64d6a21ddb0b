"""Line-level boilerplate removal — the C4 cleaning rules (Raffel et
al. 2020, "Exploring the Limits of Transfer Learning…", §2.2) that
web-corpus pipelines apply BEFORE document-level quality filtering:
keep only lines that look like prose (enough words, terminal
punctuation), drop boilerplate lines (cookie notices, javascript
warnings, legal footers), and drop whole documents that lost all their
lines or contain code markers.

Everything is JVM-side: one ``split`` on newlines, one higher-order
``filter`` whose predicate is pure column expressions over the bound
line element (word count via single-space split, ``endswith`` terminal
check, ``contains`` blocklist — no regex dialects to reconcile), and
one ``array_join`` back.  No shuffle at all: the operator is a narrow
map, so at 100 TB it pipelines inside whatever scan/stage precedes it
(`.explain` shows a single WholeStageCodegen project).

The rules are deliberately engine-exact (split-on-space word counting,
``ends_with``/``contains`` string primitives) so the DuckDB oracle
(``line_filter`` entry) replays them verbatim; locale-sensitive
niceties (sentence detection, language-aware punctuation) belong in a
separate pandas-UDF stage if ever needed.

Reference parity: the reference's per-line drop rules
(``/root/reference/src/core/log_filter.py`` priority/keep analog,
SURVEY §2 F6) operate on log lines; this is the same shape applied to
document text, generalized with the published C4 rule set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# C4's boilerplate cues (lowercased substring match per line)
C4_BLOCKLIST: tuple[str, ...] = (
    "javascript",
    "cookie",
    "lorem ipsum",
    "all rights reserved",
    "terms of use",
    "privacy policy",
)

TERMINAL_PUNCT: tuple[str, ...] = (".", "!", "?", '"')


def line_keep_expr(
    line: Column,
    min_words: int = 3,
    blocklist: tuple[str, ...] = C4_BLOCKLIST,
    require_terminal: bool = True,
) -> Column:
    """Keep-predicate for one line (usable directly inside ``F.filter``
    over the split-lines array).  All primitives are engine-exact:
    word count = non-empty single-space splits; terminal check =
    ``endswith`` on the right-trimmed line; blocklist = lowercase
    substring containment."""
    words = F.size(F.array_remove(F.split(line, " "), ""))
    cond = words >= F.lit(int(min_words))
    if require_terminal:
        trimmed = F.rtrim(line)
        term = F.lit(False)
        for p in TERMINAL_PUNCT:
            term = term | trimmed.endswith(p)
        cond = cond & term
    low = F.lower(line)
    for p in blocklist:
        cond = cond & ~low.contains(p.lower())
    return cond


def line_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    blocklist: tuple[str, ...] = C4_BLOCKLIST,
    require_terminal: bool = True,
    min_kept_lines: int = 1,
    drop_brace_docs: bool = True,
) -> DataFrame:
    """(id_col, kept_text, n_lines, n_kept, doc_kept) per document; the
    input's other columns (a stream's ``ts``) ride along after id_col.

    ``kept_text`` is the newline-join of surviving lines; ``doc_kept``
    is false when fewer than ``min_kept_lines`` lines survive or (C4's
    code heuristic, ``drop_brace_docs``) the original text contains a
    curly brace.  Dropping is left to the caller — the curation DAG
    wants the fate, not a silent filter."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    bound = docs.withColumn("_ls", F.split(txt, "\n"))
    kept = F.filter(
        F.col("_ls"),
        lambda l: line_keep_expr(l, min_words, blocklist, require_terminal),
    )
    bound = bound.withColumn("_kept", kept)
    doc_ok = F.size("_kept") >= F.lit(int(min_kept_lines))
    if drop_brace_docs:
        doc_ok = doc_ok & ~txt.contains("{") & ~txt.contains("}")
    carried = [c for c in docs.columns if c not in (id_col, text_col)]
    return bound.select(
        F.col(id_col),
        *carried,
        F.array_join("_kept", "\n").alias("kept_text"),
        F.size("_ls").alias("n_lines"),
        F.size("_kept").alias("n_kept"),
        doc_ok.alias("doc_kept"),
    )
