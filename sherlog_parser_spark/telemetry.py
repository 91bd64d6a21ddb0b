"""Driver-side cost counters that do not depend on machine speed: Py4J
round trips and Spark jobs over a block of driver code.

Building a DataFrame is driver work between Spark jobs: every ``F.*``
and Column call crosses to the JVM, and every action adds jobs.  Once
warm, both counts repeat for a fixed input and config (concurrent
actions can differ by the jobs that materialize a frame they share),
so a test can pin them as budgets and a probe can show a layer effect
in one run.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
from pyspark import SparkContext

_RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


@dataclass
class DriverCounts:
    py4j_calls: int = 0
    jobs: int = 0


def _last_job_id(sc: SparkContext) -> int:
    """Highest job id the status store knows (its job list is newest
    first), after the listener bus has delivered every event so far."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return jobs.head().jobId() if jobs.nonEmpty() else -1


@contextmanager
def driver_counts(sc: SparkContext) -> Iterator[DriverCounts]:
    """Count the Py4J commands every driver thread sends (reference
    releases aside), and the Spark jobs started, inside the block.  The
    counts are final when the block exits."""
    client = sc._gateway._gateway_client
    send = client.send_command
    counts = DriverCounts()

    def counted(command, *args, **kwargs):
        # py4j's finalizer thread releases JVM references of collected
        # Python objects; when it runs depends on Python's GC, not on
        # the code counted
        if not command.startswith(_RELEASE):
            counts.py4j_calls += 1
        return send(command, *args, **kwargs)

    first = _last_job_id(sc) + 1
    client.send_command = counted
    try:
        yield counts
    finally:
        del client.send_command
        counts.jobs = _last_job_id(sc) + 1 - first
