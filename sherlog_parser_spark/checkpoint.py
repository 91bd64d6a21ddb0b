"""The commit protocol of both batch jobs and of the streaming route —
a run-validated manifest and a sink written in units the manifest
records — and every thread a batch run starts.

Modeled on the reference's only resumable construct — the eval-pipeline
JSON result cache (src/eval/eval_pipeline.py:99-107,139-145) and metrics
sink (src/core/metrics.py:84-113) — generalized to partition groups.
The paper's "file-per-task commit" replaces the reference's per-batch
bulk insert, and this module owns it for ``plans.pipeline.run_pipeline``
(the routed sink), ``plans.curation.run_curation_pipeline`` (the
cleaned sink) and ``streaming.pipeline.start_stream_route`` (the
streamed routed sink):

* ``open_run`` loads ``<out_dir>/_manifest.jsonl`` and checks its run
  header (the caller's fingerprint of input plan + config).  A
  different run, or ``resume=False``, deletes the sink and side files
  first, so a resume never mixes units of two runs.
* ``commit_unit`` writes one unit (a commit group, a micro-batch) with
  the caller's ``write`` callable.  Rows and
  ``bit_xor(xxhash64(*fp_cols))`` are observed on the write job itself
  (``Observation``: no extra pass), and the unit adds one manifest line

      {unit, rows, input_fingerprint, sink, wall_sec, committed_at}

  when its write returns.
* ``commit_groups`` commits every uncommitted group ``pmod(group_col,
  n_groups) == g``, two in flight: the driver-side file commit of one
  leaves executors idle, and under FIFO the other group's tasks fill
  exactly those gaps.  The groups write disjoint partition values, each
  under its own ``.spark-staging-*`` directory (dynamic partition
  overwrite), so they are safe together.

Threads.  A run's side job (the pipeline's aggregates, curation's fate
count) overlaps the group writes, and the caller passes it to
``commit_groups`` as ``alongside``.  Every thread here runs under the
calling thread's Spark local properties (job group, description,
scheduler pool) and session tags, so ``cancelJobGroup`` and
``interruptTag`` reach all of a run's jobs:

1. the side job starts on a ``pyspark.InheritableThread`` before the
   first group;
2. each group runs on the pool under ``inheritable_thread_target``,
   its properties copied on the calling thread;
3. after the last group — or the first failing one — the side job is
   joined, so none of its jobs outlives the call;
4. a group error is raised first; otherwise the side job's error is
   raised after the join.

A killed run loses at most the units in flight; a rerun skips committed
units and ends with a bit-identical sink (tested, with faults injected
into a group write, the pipeline's aggregates and the stream's commit
points).  Each commit replaces the whole manifest atomically
(``fs.write_atomic``, under the manifest's lock), so a crash never
leaves a torn line.  All file I/O here goes through the out_dir's Hadoop
FileSystem (``fs``): plain and ``file://`` out_dirs are tested,
``hdfs://`` is not; object stores without atomic rename are not
supported.
"""

from __future__ import annotations

import functools
import json
import logging
import os
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import InheritableThread, inheritable_thread_target
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sherlog_parser_spark import fs

_log = logging.getLogger(__name__)

MANIFEST = "_manifest.jsonl"
RUN_HEADER_UNIT = "_run"
GROUPS_IN_FLIGHT = 2


@dataclass
class CheckpointManifest:
    """The header and unit lines of one manifest file, rewritten whole on
    each commit: a caller may drop ``entries`` before a commit to keep a
    single high-water-mark line (the stream route does)."""

    path: str
    entries: dict[str, dict] = field(default_factory=dict)
    run_header: dict | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock, init=False, repr=False)

    @classmethod
    def load(cls, path: str) -> "CheckpointManifest":
        m = cls(path=path)
        if not fs.exists(path):
            return m
        for line in fs.read_text(path).splitlines():
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
        """Write the run-identity header (input plan + params hash)."""
        self._write({
            "unit": RUN_HEADER_UNIT,
            "run_fingerprint": run_fingerprint,
            "committed_at": time.time(),
        })

    def is_committed(self, unit: str) -> bool:
        return unit in self.entries

    def commit(self, unit: str, rows: int, input_fingerprint: str, sink: str, wall_sec: float) -> None:
        self._write({
            "unit": unit,
            "rows": rows,
            "input_fingerprint": input_fingerprint,
            "sink": sink,
            "wall_sec": round(wall_sec, 4),
            "committed_at": time.time(),
        })

    def _write(self, entry: dict) -> None:
        """Record ``entry``; rewrite the header + every entry, in order."""
        with self._lock:
            if entry["unit"] == RUN_HEADER_UNIT:
                self.run_header = entry
            else:
                self.entries[entry["unit"]] = entry
            lines = [e for e in (self.run_header, *self.entries.values()) if e]
            fs.write_atomic(self.path, "".join(json.dumps(e) + "\n" for e in lines))

    def metrics(self) -> dict:
        return {
            "units": len(self.entries),
            "rows": sum(e["rows"] for e in self.entries.values()),
            "wall_sec": round(sum(e["wall_sec"] for e in self.entries.values()), 4),
        }


def open_run(out_dir: str, run_fp: str, resume: bool, outputs: list[str]) -> CheckpointManifest:
    """The manifest of run ``run_fp`` at ``<out_dir>/_manifest.jsonl``,
    header written.  Without ``resume``, or when the stored header names
    a different run, the manifest and every path in ``outputs`` (sink
    directory, side files) are deleted first."""
    manifest_path = os.path.join(out_dir, MANIFEST)
    manifest = CheckpointManifest.load(manifest_path) if resume else None
    if manifest is not None and (manifest.entries or manifest.run_header) \
            and manifest.run_fingerprint() != run_fp:
        _log.warning(
            "checkpoint manifest at %s was written by a different input/config "
            "(stored fingerprint %s != current %s); discarding sink and manifest",
            manifest_path, manifest.run_fingerprint(), run_fp,
        )
        manifest = None
    if manifest is None:
        for p in [*outputs, manifest_path]:
            fs.delete(p)
        manifest = CheckpointManifest(manifest_path)
    if manifest.run_header is None:
        manifest.commit_run(run_fp)
    return manifest


def _observed(obs: Observation) -> tuple[int, int]:
    """``(rows, fp)`` observed on a unit's write.  The write job of an
    empty unit may run no task and then posts no metrics (an empty row,
    which ``Observation.get`` fails on).  Both that and a write of zero
    rows give 0 rows and fingerprint 0, the identity of XOR."""
    jrow = obs._jo.getRow()
    if jrow.schema() is None:
        return 0, 0
    m = obs.get
    return int(m["rows"]), m["fp"] or 0


def commit_unit(
    manifest: CheckpointManifest,
    unit: str,
    frame: DataFrame,
    fp_cols: list[str],
    sink: str,
    write: Callable[[DataFrame], None],
) -> int:
    """Write ``frame`` with ``write``, then commit ``unit`` with the rows
    and fingerprint observed on the write.  Returns the rows."""
    t0 = time.perf_counter()
    obs = Observation()
    write(frame.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.bit_xor(F.xxhash64(*fp_cols)).alias("fp")
    ))
    rows, fp = _observed(obs)
    manifest.commit(unit, rows, str(fp), sink, time.perf_counter() - t0)
    return rows


def commit_groups(
    manifest: CheckpointManifest,
    frame: DataFrame,
    group_col: str,
    n_groups: int,
    fp_cols: list[str],
    sink: str,
    write: Callable[[DataFrame], None],
    alongside: Callable[[], None],
) -> tuple[int, float]:
    """Write ``frame`` in ``n_groups`` groups of ``pmod(group_col,
    n_groups)``, skipping units the manifest holds, while ``alongside``
    runs on its own thread (module note "Threads").  Returns the total
    row count, committed earlier or now, and the seconds spent waiting
    for ``alongside`` after the last group.  The first failing group
    write raises after the groups in flight finish and ``alongside``
    is joined; groups not yet started are cancelled."""
    def one(g: int) -> int:
        unit = f"bucket_group={g}"
        if manifest.is_committed(unit):
            return int(manifest.entries[unit]["rows"])
        group = frame.filter(F.pmod(F.col(group_col), F.lit(n_groups)) == g)
        return commit_unit(manifest, unit, group, fp_cols, sink, write)

    side_error: list[BaseException] = []

    def side() -> None:
        try:
            alongside()
        except BaseException as e:  # raised after the join
            side_error.append(e)

    side_thread = InheritableThread(target=side, name="alongside", session=frame.sparkSession)
    side_thread.start()
    try:
        # one wrapper per group, each with its own copy of the caller's
        # properties: the JVM installs the copy itself as the pool
        # thread's properties, and two groups in flight must not share
        # one (Spark sets each SQL execution's id there)
        groups = [inheritable_thread_target(frame.sparkSession)(functools.partial(one, g))
                  for g in range(n_groups)]
        with ThreadPoolExecutor(
            max_workers=min(GROUPS_IN_FLIGHT, max(1, n_groups)), thread_name_prefix="commit-group"
        ) as pool:
            rows = sum(pool.map(lambda group: group(), groups))
    finally:
        t_wait = time.perf_counter()
        side_thread.join()
        wait_s = time.perf_counter() - t_wait
    if side_error:
        raise side_error[0]
    return rows, wait_s
