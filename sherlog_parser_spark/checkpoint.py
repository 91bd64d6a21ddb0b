"""Per-partition checkpoint manifest with lineage + metrics.

Modeled on the reference's only resumable construct — the eval-pipeline
JSON result cache (src/eval/eval_pipeline.py:99-107,139-145) and metrics
sink (src/core/metrics.py:84-113) — generalized to partition-group
granularity: the route stage commits work in conv-bucket groups; each
committed group appends a manifest entry

    {unit, rows, input_fingerprint, sink, wall_sec, committed_at}

A re-run with the same manifest skips committed units and produces
byte-identical sink contents (tested).  At cluster scale each unit is an
independent Spark job over a hash-pruned slice, so a failed run loses at
most one unit's work.  A crash mid-append leaves a torn final line (no
trailing newline); ``load`` drops it with a warning, so the unit it
described is redone (a corrupt complete line still raises).
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass, field

_log = logging.getLogger(__name__)

RUN_HEADER_UNIT = "_run"


@dataclass
class CheckpointManifest:
    path: str
    entries: dict[str, dict] = field(default_factory=dict)
    run_header: dict | None = None

    @classmethod
    def load(cls, path: str) -> "CheckpointManifest":
        m = cls(path=path)
        if not os.path.exists(path):
            return m
        with open(path, "rb") as f:
            data = f.read()
        # every append ends with its newline, so bytes after the last
        # newline are an append a crash cut short
        complete, sep, torn = data.rpartition(b"\n")
        if torn.strip():
            _log.warning(
                "dropping the torn final line of checkpoint manifest %s "
                "(a crash mid-append): %r", path, torn[:80],
            )
            with open(path, "r+b") as f:  # later appends start on a fresh line
                f.truncate(len(complete) + len(sep))
        for line in complete.split(b"\n"):
            if line.strip():
                e = json.loads(line)
                if e["unit"] == RUN_HEADER_UNIT:
                    m.run_header = e
                else:
                    m.entries[e["unit"]] = e
        return m

    def run_fingerprint(self) -> str | None:
        return (self.run_header or {}).get("run_fingerprint")

    def commit_run(self, run_fingerprint: str) -> None:
        """Append the run-identity header (input plan + params hash).
        Resume refuses to mix groups across differing headers."""
        entry = {
            "unit": RUN_HEADER_UNIT,
            "run_fingerprint": run_fingerprint,
            "committed_at": time.time(),
        }
        self.run_header = entry
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps(entry) + "\n")

    def is_committed(self, unit: str) -> bool:
        return unit in self.entries

    def commit(self, unit: str, rows: int, input_fingerprint: str, sink: str, wall_sec: float) -> None:
        entry = {
            "unit": unit,
            "rows": rows,
            "input_fingerprint": input_fingerprint,
            "sink": sink,
            "wall_sec": round(wall_sec, 4),
            "committed_at": time.time(),
        }
        self.entries[unit] = entry
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps(entry) + "\n")

    def metrics(self) -> dict:
        return {
            "units": len(self.entries),
            "rows": sum(e["rows"] for e in self.entries.values()),
            "wall_sec": round(sum(e["wall_sec"] for e in self.entries.values()), 4),
        }
