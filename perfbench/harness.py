"""Closed-loop round runner, output checks and metric aggregation.

One client submits each operation after the previous one completes.  A
workload is a list of operations (one query, one pipeline stage or one
stream job), run in rounds.  A workload may start with untimed warm-up
rounds; then it runs its timed rounds (at least ``min_rounds``, then
more until they have taken ``--seconds``).  Every operation's
output is checked after its clock stops; a raised error or a failed
check counts against ``fail_ratio``.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], None] | None = None
    span: str = "op"  # span recorded around the call, named after its layer


def digest(pdf) -> str:
    """Order-insensitive digest of a result, with the engine's own
    conformance normalization (column names, rounded floats, unified
    dates)."""
    from wsu_cpts_415_spark.ops.conformance import normalize

    cols, rows = normalize(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for row in rows:
        h.update(repr(row).encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def expect_equal(what: str, got, want) -> None:
    if got != want:
        raise AssertionError(f"{what}: got {got!r}, want {want!r}")


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every process descended from it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:  # the process ended while we looked
                continue
            parent[int(entry)] = int(stat[stat.rfind(")") + 2:].split()[1])
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(c for c, p in parent.items() if p == pid)
    return tree


def peak_rss_bytes(root_pid: int, jvm_pid: int) -> tuple[int, int]:
    """High-water resident memory (``VmHWM``) of this process tree, as
    (Python driver + JVM, Python workers).  The workers are forked per
    task and their number at any moment follows scheduling, so they are
    kept apart from the two long-lived processes."""
    main = workers = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):  # ended, or a kernel thread
            continue
        if pid in (root_pid, jvm_pid):
            main += hwm
        else:
            workers += hwm
    return main, workers


@dataclass
class Bench:
    spark: object
    tracer: Tracer
    seconds: float
    rounds: list[list[tuple[str, float]]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    jobs_by_op: dict[str, list[tuple[int, int, int]]] = field(default_factory=dict)
    untimed: int = 0
    min_rounds: int = 1
    latency_from: int = 0  # first timed round whose operations feed op_p50/op_p90
    _op_seq: int = 0

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
        traceback.print_exception(exc, file=sys.stderr)

    def run_op(self, op: Op) -> object | None:
        self.attempted += 1
        tr = self.tracer
        sc = self.spark.sparkContext
        if tr.enabled:
            self._op_seq += 1
            tr.op = f"op{self._op_seq}"
            sc.setJobGroup(tr.op, op.name)
        try:
            with tr.span(op.span):
                t0 = time.perf_counter()
                out = op.run()
                took = time.perf_counter() - t0
        except Exception as exc:  # the run goes on; the failure is counted
            self.fail(op.name, exc)
            return None
        finally:
            if tr.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.rounds[-1].append((op.name, took))
        if tr.enabled:
            self._count_jobs(tr.op, op.name)
            tr.op = None
        if op.check is not None:
            try:
                op.check(out)
            except Exception as exc:  # a wrong output is counted, not fatal
                self.fail(f"{op.name} check", exc)
        return out

    def _count_jobs(self, group: str, name: str) -> None:
        t0 = time.perf_counter()
        st = self.spark.sparkContext.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stage_ids = []
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.extend(info.stageIds)
        tasks = 0
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
        self.jobs_by_op.setdefault(name, []).append((len(job_ids), len(stage_ids), tasks))
        self.tracer.overhead_s += time.perf_counter() - t0

    def measure(
        self,
        make_round: Callable[[int], list[Op]],
        after_round: Callable[[int], None],
        untimed: int,
        min_rounds: int,
    ) -> None:
        """``untimed`` warm-up rounds (run and checked, not reported),
        then at least ``min_rounds`` timed rounds, and more until the
        timed rounds have taken ``seconds``."""
        for rnd in range(untimed):
            self.rounds.append([])
            for op in make_round(rnd):
                self.run_op(op)
            after_round(rnd)
        self.untimed = untimed
        self.min_rounds = min_rounds
        start = time.perf_counter()
        while True:
            rnd = len(self.rounds)
            self.rounds.append([])
            for op in make_round(rnd):
                self.run_op(op)
            after_round(rnd)
            timed = len(self.rounds) - untimed
            if timed >= min_rounds and time.perf_counter() - start >= self.seconds:
                return

    # -- aggregation -------------------------------------------------------

    @property
    def timed_rounds(self) -> list[list[tuple[str, float]]]:
        return self.rounds[self.untimed:]

    def round_times(self) -> list[float]:
        """Summed operation time of each timed round."""
        return [sum(t for _, t in r) for r in self.timed_rounds]

    def samples(self, name: str | None = None) -> list[float]:
        """Operation times over the timed rounds."""
        return [t for r in self.timed_rounds for n, t in r if name is None or n == name]

    def op_median(self, name: str) -> float:
        samples = self.samples(name)
        return statistics.median(samples) if samples else 0.0

    def end_to_end(self) -> dict[str, float]:
        """``wall_s`` covers the workload's fixed work (its first
        ``min_rounds`` timed rounds).  The latency percentiles are taken
        over the operations, each at its median over the timed rounds
        from ``latency_from`` on: an operation run in several rounds then
        counts once, and one slow round of it does not move the
        percentile."""
        by_op: dict[str, list[float]] = {}
        for r in self.timed_rounds[self.latency_from:]:
            for name, t in r:
                by_op.setdefault(name, []).append(t)
        samples = [statistics.median(ts) for ts in by_op.values()]
        return {
            "wall_s": sum(self.round_times()[: self.min_rounds]),
            "op_p50_s": statistics.median(samples),
            "op_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[8],
        }
