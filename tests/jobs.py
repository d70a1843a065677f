"""Which Spark jobs a block of test code started, by job group.

``statusTracker`` is fed by the listener bus, which runs behind the
jobs it reports, so both ends of the block drain the bus first."""

from __future__ import annotations

import contextlib

_GROUP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _drain(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


@contextlib.contextmanager
def job_group(sc, group: str):
    """Run the block under job group ``group``. The yielded dict holds,
    once the block exits, ``grouped``: the ids of the jobs started in
    the group, and ``ungrouped``: the ids of the jobs started meanwhile
    with no job group (threads that lost the caller's properties)."""
    tracker = sc.statusTracker()
    _drain(sc)
    before = set(tracker.getJobIdsForGroup(None))
    jobs: dict[str, set[int]] = {}
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        for key in _GROUP_PROPERTIES:
            sc.setLocalProperty(key, None)
    _drain(sc)
    jobs["grouped"] = set(tracker.getJobIdsForGroup(group))
    jobs["ungrouped"] = set(tracker.getJobIdsForGroup(None)) - before
