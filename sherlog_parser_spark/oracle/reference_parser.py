"""Sequential pure-Python parity oracle.

A single-threaded re-implementation of the reference's deterministic
parse path (`cpp/src/log_parser.cpp:515-581`: tokenize → strict match →
heuristic extract → pool similarity scan → new template), expressed with
the same building blocks the Spark pipeline uses:

    strict match  ≡ equality of the masked-template signature
    pool scan     ≡ TemplatePool.add (shared module, oracle/matcher.py)

The north_rule correctness gates (per-sink template-frequency counts,
tool-usage counts, routed-row sets, per-turn text equality under stable
(conv_id, turn_idx) ordering) are all checked against this oracle in
tests/.  Rows are fed in arrival order — sorted by (ts, conv_id,
turn_idx) — which is exactly the canonical order the distributed
dictionary build uses, so the two must agree row-for-row.
"""

from __future__ import annotations

from dataclasses import dataclass

from sherlog_parser_spark.functions.masking import (
    event_type_py,
    extract_params_py,
    mask_template_py,
)
from sherlog_parser_spark.oracle.matcher import TemplatePool


@dataclass
class ParsedTurn:
    conv_id: str
    turn_idx: int
    role: str
    tool: str
    ts: object
    text: str
    template_id: int
    template: str
    parameters: dict[str, str]
    event_type: str


class SequentialReferenceParser:
    """Feed rows one at a time; maintains the template pool exactly like
    the reference's single-process parser."""

    def __init__(self, threshold: float = 0.8):
        self.pool = TemplatePool(threshold=threshold)
        self._tpl_to_sig: dict[str, int] = {}

    def parse(self, text: str) -> tuple[int, str, dict[str, str]]:
        masked = mask_template_py(text)
        sig = self._tpl_to_sig.setdefault(masked, len(self._tpl_to_sig))
        tid = self.pool.lookup(sig)
        if tid is None:  # first time this masked shape is seen
            tid = self.pool.add(sig, masked)
        template = self.pool.templates[tid]
        params = extract_params_py(text, template)
        return tid, template, params

    def parse_rows(self, rows) -> list[ParsedTurn]:
        """rows: iterable of dicts with conv_id/turn_idx/role/text/tool/ts,
        already in arrival order.

        Two passes: pass 1 evolves the pool and assigns template ids in
        arrival order; pass 2 renders every row against the FINAL
        (post-merge) template string — the same view the distributed
        pipeline's frozen-dictionary broadcast join gives every row.
        """
        staged = [(r, self.parse(r["text"])[0]) for r in rows]
        final = self.final_templates()
        out = []
        for r, tid in staged:
            template = final[tid]
            params = extract_params_py(r["text"], template)
            out.append(
                ParsedTurn(
                    conv_id=r["conv_id"],
                    turn_idx=r["turn_idx"],
                    role=r["role"],
                    tool=r["tool"],
                    ts=r["ts"],
                    text=r["text"],
                    template_id=tid,
                    template=template,
                    parameters=params,
                    event_type=event_type_py(template),
                )
            )
        return out

    def final_templates(self) -> dict[int, str]:
        """template_id -> final (post-merge) template string."""
        return dict(enumerate(self.pool.templates))


def oracle_template_counts(parsed: list[ParsedTurn]) -> dict[int, int]:
    counts: dict[int, int] = {}
    for p in parsed:
        counts[p.template_id] = counts.get(p.template_id, 0) + 1
    return counts


def oracle_route_sets(parsed: list[ParsedTurn]) -> dict[tuple[int, str], set[tuple[str, int]]]:
    """(template_id, tool) -> set of (conv_id, turn_idx) routed there."""
    routes: dict[tuple[int, str], set[tuple[str, int]]] = {}
    for p in parsed:
        routes.setdefault((p.template_id, p.tool), set()).add((p.conv_id, p.turn_idx))
    return routes


def oracle_tool_counts(parsed: list[ParsedTurn], bucket_hours: int = 1) -> dict[tuple, int]:
    """(template_id, tool, window_start) -> count, epoch-aligned tumbling
    windows like Spark's window()/TimescaleDB's time_bucket."""
    out: dict[tuple, int] = {}
    for p in parsed:
        epoch = int(p.ts.timestamp())
        start = epoch - epoch % (bucket_hours * 3600)
        key = (p.template_id, p.tool, start)
        out[key] = out.get(key, 0) + 1
    return out
