"""Observation from outside the program: Spark's status store read by job
group, a streaming progress listener, and a memory sampler over /proc.

All of it runs in the benchmark's own process at its own calls into the
program; nothing here is installed inside the engine.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


class StatusStore:
    """Jobs and stage metrics of one job group, from the JVM status store
    (`sc._jsc.sc().statusStore()`, which works with the UI disabled)."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has applied every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict:
        """Totals over the jobs of `group`: job count, job intervals (epoch
        s), and the summed metrics of every stage that ran. A stage shared
        by two jobs of the group counts once; a skipped stage not at all."""
        jobs: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            j = self.store.job(jid)
            start, end = j.submissionTime(), j.completionTime()
            if start.isDefined() and end.isDefined():
                jobs.append((start.get().getTime() / 1e3, end.get().getTime() / 1e3))
            ids = str(j.stageIds().mkString(","))
            stage_ids.update(int(s) for s in ids.split(",") if s)
        out = dict(jobs=len(jobs), intervals=jobs, stages=0, tasks=0, cpu_s=0.0,
                   input_bytes=0, output_bytes=0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0)
        for sid in stage_ids:
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
        return out


# durationMs phases of a micro-batch, as Spark's progress reports name them
PHASES = (
    ("latestOffset", "latest_offset_ms"),
    ("getBatch", "get_batch_ms"),
    ("queryPlanning", "query_planning_ms"),
    ("addBatch", "add_batch_ms"),
    ("walCommit", "wal_commit_ms"),
    ("commitOffsets", "commit_offsets_ms"),
    ("triggerExecution", "trigger_execution_ms"),
)


class ProgressLog(StreamingQueryListener):
    """Every micro-batch progress report of every streaming query. Stream
    threads run their jobs under their own job group, so per-batch figures
    come from here, not from the caller's job group."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        ops = p.stateOperators or []
        rec = {
            "query": p.name,
            "rows": p.numInputRows,
            **{name: float(d.get(key, 0)) for key, name in PHASES},
            "state_rows": sum(s.numRowsTotal for s in ops),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
            "state_commit_ms": sum(s.commitTimeMs for s in ops),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def since(self, mark: int) -> list[dict]:
        with self._lock:
            return list(self.batches[mark:])

    def mark(self) -> int:
        with self._lock:
            return len(self.batches)


class RssSampler:
    """Peak resident memory of every process below this one: the driver JVM
    and the Python workers it forks. Sampled from /proc on a thread."""

    PERIOD_S = 0.1

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss(os.getpid()))

    def _tree_rss(self, root: int) -> int:
        total = 0
        for pid in descendants(root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:  # exited since it was listed
                continue
        return total


def descendants(root: int) -> list[int]:
    """Every live process below `root`, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while /proc was listed
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    found: list[int] = []
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
