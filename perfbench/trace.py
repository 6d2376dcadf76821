"""Outside-in tracing: spans around calls into the library, plus the
Spark status stores read back for each span.

A span is (name, layer, start, end, parent, run id). While a span is
open its Spark jobs run under their own job group, so the jobs, stages
and SQL executions a span caused can be read back from the JVM status
stores after the traced pass, while the stores still retain them (1000
stages and 1000 executions by default).

With ``enabled=False`` a span only runs its body: the untimed path adds
nothing to the timed runs.
"""

from __future__ import annotations

import contextlib
import re
import statistics
import time
import uuid
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# SQL metric names of the Python-worker operators (MapInPandas,
# FlatMapGroupsInPandas[WithState], ArrowEvalPython).
_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str = ""
    extra_groups: list[str] = field(default_factory=list)
    batches: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    sql: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _metric_seconds(text: str) -> float:
    """Total of a formatted SQL timing metric, e.g.
    ``"total (min, med, max ...)\\n1.2 s (0.1 s, ...)"`` or ``"35 ms"``."""
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([0-9.,]+)\s*(ns|ms|s|m|h)\b", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


class Tracer:
    """Records spans; ``read_stores`` then attaches what each span ran."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:8]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # time spent in span bookkeeping, inside the traced pass
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        sp = Span(name, layer, 0.0,
                  parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id, group=f"{self.run_id}-{len(self.spans)}")
        idx = len(self.spans)
        self.spans.append(sp)
        prev_group = self.spans[sp.parent].group if sp.parent is not None else None
        sc.setJobGroup(sp.group, name)
        self._stack.append(idx)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if prev_group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev_group, self.spans[sp.parent].name)
            self.overhead_s += time.perf_counter() - sp.end

    def read_stores(self) -> None:
        """Attach jobs, stages and SQL metrics to every span. Called once
        after the traced pass, so reading the stores adds nothing to the
        spans; the pass must stay within the stores' retention (1000
        stages, 1000 executions)."""
        execs = self._sql_executions()
        for sp in self.spans:
            self._read_stores(sp, execs)

    # -- JVM status stores -------------------------------------------
    def _read_stores(self, sp: Span, execs: list) -> None:
        sc = self.spark.sparkContext
        jobs = [j for g in [sp.group, *sp.extra_groups]
                for j in sc.statusTracker().getJobIdsForGroup(g)]
        if not jobs:
            return
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        no_q = _empty_doubles(sc)
        stage_ids = set()
        for jid in jobs:
            jd = store.job(jid)
            stage_ids.update(int(s) for s in _seq(jd.stageIds()))
            sp.jobs.append({
                "id": jid,
                "submit": _opt_ms(jd.submissionTime()),
                "done": _opt_ms(jd.completionTime()),
                "skipped_stages": jd.numSkippedStages(),
            })
        for sid in sorted(stage_ids):
            try:
                attempts = _seq(store.stageData(sid, False, empty, False, no_q))
            except Py4JJavaError:  # a stage that never ran has no data
                continue
            for sd in attempts:
                if str(sd.status()) == "SKIPPED":
                    continue
                sp.stages.append(_stage_row(sd))
        mine = set(jobs)
        sp.sql = {"python_run_s": 0.0, "python_start_s": 0.0}
        for ex_jobs, secs in execs:
            if ex_jobs & mine:
                for k, v in secs.items():
                    sp.sql[k] += v

    def _sql_executions(self) -> list:
        """(job ids, Python-worker seconds) of every retained SQL
        execution that has a Python-worker operator."""
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        execs = []
        for ex in _seq(sql_store.executionsList()):
            names = {}
            for m in _seq(ex.metrics()):
                if m.name() in (_PY_RUN, _PY_START):
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            out = {"python_run_s": 0.0, "python_start_s": 0.0}
            values = sql_store.executionMetrics(ex.executionId())
            for acc, name in names.items():
                v = values.get(acc)
                if v.isDefined():
                    key = "python_run_s" if name == _PY_RUN else "python_start_s"
                    out[key] += _metric_seconds(v.get())
            execs.append(({int(k) for k in _seq(ex.jobs().keys())}, out))
        return execs

    def task_skew(self, sp: Span) -> float:
        """Slowest / median task duration of the span's busiest stage."""
        if not sp.stages:
            return 0.0
        busiest = max(sp.stages, key=lambda s: s["run_s"])
        store = self.spark.sparkContext._jsc.sc().statusStore()
        tasks = _seq(store.taskList(busiest["id"], busiest["attempt"], 100000))
        durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
        if not durs or statistics.median(durs) <= 0:
            return 1.0
        return max(durs) / statistics.median(durs)


def _stage_row(sd) -> dict:
    return {
        "id": sd.stageId(),
        "attempt": sd.attemptId(),
        "tasks": sd.numTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "run_s": sd.executorRunTime() / 1e3,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "input_bytes": sd.inputBytes(),
        "output_bytes": sd.outputBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    }


# py4j helpers for Scala collections and Options
def _seq(s):
    if hasattr(s, "iterator"):
        it = s.iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out
    return list(s)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _empty_doubles(sc):
    return sc._gateway.new_array(sc._jvm.double, 0)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its child spans cover."""
    child = [0.0] * len(spans)
    for sp in spans:
        if sp.parent is not None:
            child[sp.parent] += sp.wall
    return [sp.wall - c for sp, c in zip(spans, child)]


def job_gap_s(spans: list[Span], t0: float, t1: float) -> float:
    """Wall time in [t0, t1] (perf_counter seconds) during which no
    Spark job of any span was running: driver planning, Python and py4j.
    Job times are epoch seconds, shifted onto the perf_counter axis by
    the current offset between the two clocks."""
    ivs = []
    for sp in spans:
        for j in sp.jobs:
            if j["submit"] is not None and j["done"] is not None:
                ivs.append((j["submit"], j["done"]))
    if not ivs:
        return t1 - t0
    # epoch -> perf_counter offset, from the current clocks
    off = time.time() - time.perf_counter()
    ivs = sorted((max(a - off, t0), min(b - off, t1)) for a, b in ivs)
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return max(0.0, (t1 - t0) - busy)


def job_durations_ms(spark, since_epoch_s: float) -> list[float]:
    """Durations of the completed Spark jobs submitted at or after
    ``since_epoch_s``, from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jd in _seq(store.jobsList(sc._jvm.java.util.ArrayList())):
        a, b = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if a is not None and b is not None and a >= since_epoch_s:
            out.append((b - a) * 1e3)
    return out
