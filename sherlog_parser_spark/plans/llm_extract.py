"""P3 — LLM template extraction stage with an injectable extractor.

The reference sends logs its heuristics can't cluster to an external
LLM in batches and caches the result per message shape
(src/core/parser_service.py:121-183; cache src/core/cache.py).  The
external service cannot exist in this environment, so the stage ships
with the CALL SHAPE fully real and the model behind an injectable
callable:

* P6 cache semantics by construction: extraction runs over the
  DISTINCT-signature frame (groupBy(sig) → one first-seen example per
  sig), so each shape is extracted exactly once no matter how many
  billion rows share it — the distributed rendering of the reference's
  per-shape cache;
* the extractor is invoked through ``mapInPandas`` over that distinct
  frame: it receives pandas batches of (sig, example_text) and returns
  (sig, template) — exactly an LLM client's batched-request boundary
  (Arrow-sized batches, no per-row Python); a deterministic local
  extractor stands in for tests/benchmarks;
* returned templates append to the frozen dictionary with new ids in
  first-seen order (W4 semantics), so downstream enrich/route stages
  are untouched.

A user with a real endpoint passes ``extractor=lambda batch_df: ...``
(any pandas DataFrame -> pandas DataFrame of sig/template); nothing
else changes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark.plans.dictionary import TemplateDictionary, dictionary_frame

MAX_NEW_SIGS = 100_000  # refuse unbounded driver merges, like MAX_DICT_ROWS


def heuristic_extractor(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in extractor (the reference's own fallback is
    its heuristic parser when the LLM is unavailable,
    src/core/parser_service.py:185-196): masks the example text."""
    from sherlog_parser_spark.functions.masking import mask_template_py

    return pd.DataFrame(
        {"sig": batch["sig"], "template": [mask_template_py(t) for t in batch["text"]]}
    )


def extract_new_templates(
    parsed: DataFrame,
    tdict: TemplateDictionary,
    extractor: Callable[[pd.DataFrame], pd.DataFrame] = heuristic_extractor,
    order_cols: tuple[str, ...] = ("ts", "conv_id", "turn_idx"),
) -> DataFrame:
    """(sig, template) for every signature in ``parsed`` that the frozen
    dictionary does not know — each extracted ONCE from its first-seen
    example text."""
    known = tdict.df.select("sig")
    unknown = (
        parsed.join(known, "sig", "left_anti")
        .groupBy("sig")
        .agg(F.min(F.struct(*order_cols, F.col("text"))).alias("_ex"))
        .select(
            "sig",
            F.col("_ex.text").alias("text"),
            F.struct(*[F.col(f"_ex.{c}").alias(c) for c in order_cols]).alias(
                "_first_seen"
            ),
        )
    )

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                out = extractor(b)
                yield out[["sig", "template"]]

    extracted = unknown.select("sig", "text").mapInPandas(
        run_batches, "sig long, template string"
    )
    # carry the first-seen key: the pool merge is order-sensitive, so
    # extend_dictionary must replay insertions in ARRIVAL order, not
    # sig-hash order (r4 review)
    return extracted.join(unknown.select("sig", "_first_seen"), "sig")


def extend_dictionary(
    tdict: TemplateDictionary,
    new_templates: DataFrame,
) -> TemplateDictionary:
    """Append extracted templates with new first-seen-ordered ids.

    Extracted templates go through the SAME driver pool merge as the
    heuristic build (similarity >= threshold merges into an existing
    template id — the reference re-checks LLM output against the pool,
    src/core/parser_service.py:158-170) over a COPY of the frozen pool:
    the input ``tdict`` is never mutated (r4 review — in-place ``add``
    aliased the frozen dictionary and made repeated extensions
    accumulate), and insertions replay in first-seen order when the
    frame carries ``_first_seen`` (extract_new_templates always does;
    sig order is the fallback for hand-built frames).

    The returned dictionary's ``counts`` is None: the frozen counts say
    nothing about rows of the new signatures, and silently reusing them
    would undercount every template the new signatures joined (r4
    review) — recompute from data when counts are needed after an
    extension."""
    from sherlog_parser_spark.oracle.matcher import TemplatePool

    order = ["_first_seen", "sig"] if "_first_seen" in new_templates.columns else ["sig"]
    rows = new_templates.orderBy(*order).limit(MAX_NEW_SIGS + 1).collect()
    if len(rows) > MAX_NEW_SIGS:
        raise RuntimeError(
            f"LLM extraction returned more than {MAX_NEW_SIGS} new signatures; "
            "refusing unbounded driver merge"
        )
    pool = TemplatePool.from_state(
        tdict.pool.templates, tdict.pool.mapping(), tdict.pool.threshold
    )
    for r in rows:
        pool.add(int(r["sig"]), r["template"])
    return TemplateDictionary(
        df=dictionary_frame(new_templates.sparkSession, pool),
        pool=pool,
        n_sigs=len(pool.mapping()),
        counts=None,
    )
