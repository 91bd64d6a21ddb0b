"""Template similarity matching + merging — the driver-side dictionary pass.

Semantics follow the reference's surviving Python matcher
(`src/core/template_matcher.py:64-188`): static-token similarity via
``difflib.SequenceMatcher.ratio()``, all-variable templates compared by
Jaccard of length-normalized variable positions, default threshold 0.8.

Merging follows the documented intent pinned by the reference's own unit
tests (`cpp/tests/test_main.cpp:46-54` expects the merge of a template
with its longer variant to be the LONGER one): positional zip taking the
base (fewer-variables) token at shared positions, then the longer
template's extra tail appended.  NOTE: the reference's *shipped* C++ merge
(`cpp/src/template_matcher.cpp:342-388`) truncates at the shorter length
and its shipped dice similarity scores the Catch2 "similar" pair at 4/7 —
both shipped implementations contradict their own test expectations (the
repo's test suite is bit-rotted, see SURVEY.md §5.1).  We pin the
test-expected behavior and document the divergence here.

This module is plain Python by design: it runs only on the driver over the
collected template dictionary (≤ O(10^4) rows), never inside executors.
The distributed pipeline and the sequential parity oracle both import it,
which is what makes cluster-count/routed-set parity provable.
"""

from __future__ import annotations

import difflib
import re
from dataclasses import dataclass, field

from sherlog_parser_spark.functions.masking import VAR_TOKEN_PATTERN

_VAR_RX = re.compile(VAR_TOKEN_PATTERN)

EXACT = "exact"
SIMILAR = "similar"
VARIABLE_ONLY = "variable_only"
NO_MATCH = "no_match"


def variable_positions(tokens: list[str]) -> set[int]:
    return {i for i, t in enumerate(tokens) if _VAR_RX.search(t)}


def similarity(template1: str, template2: str) -> float:
    """Static-token SequenceMatcher ratio; position-Jaccard when both
    templates are all-variable (src/core/template_matcher.py:64-100)."""
    t1, t2 = template1.split(), template2.split()
    if template1 == template2:
        return 1.0
    v1, v2 = variable_positions(t1), variable_positions(t2)
    s1 = [t for i, t in enumerate(t1) if i not in v1]
    s2 = [t for i, t in enumerate(t2) if i not in v2]
    if not s1 and not s2:
        n1 = {i / len(t1) for i in v1}
        n2 = {i / len(t2) for i in v2}
        union = n1 | n2
        return len(n1 & n2) / len(union) if union else 0.0
    return difflib.SequenceMatcher(None, s1, s2).ratio()


def match_type(template1: str, template2: str, threshold: float = 0.8) -> str:
    if template1 == template2:
        return EXACT
    sim = similarity(template1, template2)
    if sim >= threshold:
        return SIMILAR
    if variable_positions(template1.split()) and variable_positions(template2.split()):
        return VARIABLE_ONLY
    return NO_MATCH


def merge_templates(template1: str, template2: str, threshold: float = 0.8) -> str | None:
    """Merge two templates if EXACT/SIMILAR, else None.

    Base = fewer variables; shared positions take the base token; the
    longer template contributes its extra tail (test-pinned semantics,
    cpp/tests/test_main.cpp:46-54).
    """
    mt = match_type(template1, template2, threshold)
    if mt not in (EXACT, SIMILAR):
        return None
    t1, t2 = template1.split(), template2.split()
    v1, v2 = variable_positions(t1), variable_positions(t2)
    base, other = (t1, t2) if len(v1) <= len(v2) else (t2, t1)
    merged = [base[i] for i in range(min(len(base), len(other)))]
    longer = base if len(base) >= len(other) else other
    merged.extend(longer[min(len(base), len(other)):])
    return " ".join(merged)


@dataclass
class TemplatePool:
    """First-match-wins template pool with merge-on-similar semantics
    (the driver-side equivalent of cpp/src/log_parser.cpp:549-577).

    Insertion order defines dense template ids (the reference's ``E{n}``
    first-seen labels, src/core/parser_service.py:148-159).  Each distinct
    signature maps to the pool entry it matched at its own first-seen
    time — later merges rewrite the entry's template string in place, so
    repeats keep clustering with their original entry, mirroring the
    reference's per-cluster template pointer behavior.
    """

    threshold: float = 0.8
    templates: list[str] = field(default_factory=list)  # index = template_id
    _sig_to_id: dict[int, int] = field(default_factory=dict)

    @classmethod
    def from_state(
        cls, templates: list[str], mapping: dict, threshold: float = 0.8
    ) -> "TemplatePool":
        """A pool restored from its templates and ``sig -> template_id``
        mapping (keys and ids may be strings, as in JSON state)."""
        return cls(
            threshold=threshold,
            templates=list(templates),
            _sig_to_id={int(s): int(t) for s, t in mapping.items()},
        )

    def add(self, sig: int, template: str) -> int:
        """Register a first-seen signature; returns its template_id."""
        if sig in self._sig_to_id:
            return self._sig_to_id[sig]
        for tid, pooled in enumerate(self.templates):
            merged = merge_templates(pooled, template, self.threshold)
            if merged is not None:
                self.templates[tid] = merged
                self._sig_to_id[sig] = tid
                return tid
        self.templates.append(template)
        tid = len(self.templates) - 1
        self._sig_to_id[sig] = tid
        return tid

    def lookup(self, sig: int) -> int | None:
        return self._sig_to_id.get(sig)

    def mapping(self) -> dict[int, int]:
        return dict(self._sig_to_id)
