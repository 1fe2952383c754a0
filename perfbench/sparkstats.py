"""Spark's own job, stage and task counters for the work an op triggers.

Jobs are found through job groups (`statusTracker().getJobIdsForGroup`)
and each stage's numbers through the status store
(`statusStore().lastStageAttempt`), both of which work with
`spark.ui.enabled=false`.  Jobs submitted from threads the program
starts itself carry no job group; they are found as the group-less jobs
that appeared during the op and counted as unattributed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

STAGE_FIELDS = (
    "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
    "output_bytes", "spill_bytes",
)


@dataclass
class OpCounters:
    """Totals over every stage that ran for one op's jobs."""

    jobs: int = 0
    unattributed_jobs: int = 0
    totals: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))
    intervals: list = field(default_factory=list)  # (start_ms, end_ms) per stage


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap_ms(wall_start_ms: float, wall_end_ms: float, intervals) -> float:
    """Op wall time during which none of the op's stages was running."""
    return (wall_end_ms - wall_start_ms) - union_ms(
        intervals, wall_start_ms, wall_end_ms
    )


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._store = self._jsc.statusStore()

    def set_group(self, group: str | None) -> None:
        """Tag jobs submitted from the calling thread with `group`."""
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def settle(self) -> None:
        """Wait until the listener has recorded every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def groupless_jobs(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(None))

    def jobs_for_group(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def collect(self, job_ids, unattributed=()) -> OpCounters:
        """Sum the stages that ran for `job_ids` (attributed) plus
        `unattributed` jobs.  A stage shared by two jobs counts once;
        skipped stages count not at all."""
        out = OpCounters()
        seen: set[int] = set()
        all_jobs = list(job_ids) + list(unattributed)
        out.jobs = len(set(all_jobs))
        out.unattributed_jobs = len(set(unattributed))
        for j in set(all_jobs):
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                self._add_stage(out, s)
        return out

    def _add_stage(self, out: OpCounters, stage_id: int) -> None:
        sd = self._store.lastStageAttempt(stage_id)
        if sd.status().toString() not in ("COMPLETE", "FAILED"):
            return
        t = out.totals
        t["stages"] += 1
        t["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        t["executor_run_ms"] += sd.executorRunTime()
        t["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        t["shuffle_read_bytes"] += sd.shuffleReadBytes()
        t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        t["input_bytes"] += sd.inputBytes()
        t["output_bytes"] += sd.outputBytes()
        t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            out.intervals.append(
                (float(sub.get().getTime()), float(done.get().getTime()))
            )
