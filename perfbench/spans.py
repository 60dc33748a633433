"""In-memory spans around the program's public functions, and per-group
job, stage and task totals read from Spark's status store.

Spans are recorded only by this benchmark: ``Tracer.wrap`` replaces a
module or class attribute with a timing wrapper and ``restore`` puts the
original back.  No program file is edited.  A wrapper around a function
that returns a lazy DataFrame times plan construction only; the jobs that
later execute the plan are attributed through the request's job group.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from typing import Any, Iterator, Optional

from stats import self_time, union_length

STAGE_FIELDS = {
    # v1.StageData getter -> counter name (times in ms, sizes in bytes)
    "executorRunTime": "task_ms",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "numTasks": "tasks",
}


class Tracer:
    """Spans with an id, a parent, a request id and epoch-second start and
    end times (the clock Spark's status store uses)."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.req: Optional[int] = None
        self.phase = ""
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        rec = {"id": len(self.spans), "name": name, "req": self.req,
               "phase": self.phase,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.time()

    def wrap(self, owner: Any, attr: str, name: str,
             flatten: bool = False) -> None:
        """Record a ``name`` span around every call of ``owner.attr``.

        ``flatten`` suits recursive functions that call themselves through
        the patched attribute: the original is put back for the duration
        of the outer call, so the recursion records one span, not one per
        element."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                if not flatten:
                    return orig(*args, **kwargs)
                setattr(owner, attr, orig)
                try:
                    return orig(*args, **kwargs)
                finally:
                    setattr(owner, attr, wrapper)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def children(self) -> dict[Optional[int], list[dict[str, Any]]]:
        out: dict[Optional[int], list[dict[str, Any]]] = {}
        for s in self.spans:
            out.setdefault(s["parent"], []).append(s)
        return out


def span_self_times(spans: list[dict[str, Any]],
                    kids: dict[Optional[int], list[dict[str, Any]]],
                    jobs: list[tuple[float, float]]) -> dict[str, float]:
    """Self time per span name (seconds) for one request's spans: each
    span's duration minus what its child spans and the request's Spark
    jobs cover."""
    out: dict[str, float] = {}
    for s in spans:
        covered = [(c["t0"], c["t1"]) for c in kids.get(s["id"], [])]
        covered += jobs
        out[s["name"]] = (out.get(s["name"], 0.0)
                          + self_time(s["t0"], s["t1"], covered))
    return out


# --- Spark status store ----------------------------------------------------

def _seq(scala_seq: Any) -> list[Any]:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class JobStats:
    """Reads job, stage and task totals for a job group from the status
    store (``sc.statusStore()``), which works with the UI disabled."""

    def __init__(self, sc: Any) -> None:
        self.sc = sc
        self._jsc = sc._jsc.sc()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, group: str) -> dict[str, Any]:
        """Totals for every job of ``group``, which must have finished.
        Waits for the listener bus so the store has seen the job ends."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        out: dict[str, Any] = {"jobs": 0, "stages": 0, "stages_skipped": 0,
                               "task_cpu_ms": 0.0, "intervals": []}
        for name in STAGE_FIELDS.values():
            out.setdefault(name, 0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            t0 = job.submissionTime().get().getTime() / 1000.0
            t1 = job.completionTime().get().getTime() / 1000.0
            out["jobs"] += 1
            out["intervals"].append((t0, t1))
            for sid in _seq(job.stageIds()):
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["stages"] += 1
                for getter, name in STAGE_FIELDS.items():
                    out[name] += getattr(stage, getter)()
                out["task_cpu_ms"] += stage.executorCpuTime() / 1e6
        out["job_ms"] = union_length(out["intervals"]) * 1000.0
        return out

    def cached_bytes(self) -> int:
        """Memory plus disk bytes of every persisted RDD block."""
        return sum(int(i.memSize()) + int(i.diskSize())
                   for i in self._jsc.getRDDStorageInfo())
