"""Spans recorded around the benchmark's calls into the engine.

A span has a name, start and end (``time.monotonic()`` seconds), the id
of the span that caused it and the request it belongs to (a chunk or a
query execution). Spans stay in memory and are written once, at exit.
A disabled tracer records nothing.
"""

from __future__ import annotations

import json


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, request: str, parent: int | None = None) -> int | None:
        """Record a finished span; return its id (``None`` when disabled)."""
        if not self.enabled:
            return None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "request": request}
        )
        return len(self.spans) - 1

    def write(self, path: str, **meta) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump({**meta, "spans": self.spans}, f)


def group_counts(sc, group: str) -> dict[str, int]:
    """Spark jobs, submitted stages, run tasks and failed tasks of one
    job group, from ``statusTracker`` (works with the UI disabled)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        ran = info.numCompletedTasks + info.numFailedTasks if info is not None else 0
        if ran == 0:
            continue  # skipped: its shuffle output was reused
        stages += 1
        tasks += ran
        failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
