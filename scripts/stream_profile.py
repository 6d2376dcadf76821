"""Profile the streaming contracts' per-batch cost (guide §1: measure
first). For each named *_stream contract, run it once and print its
wall time plus the Python-worker SQL metrics of the SQL executions it
ran; then replay the running_agg / enumerate kernels by hand and print
each micro-batch's ``durationMs`` breakdown and state-operator metrics
from ``recentProgress`` — so the fixed availableNow overhead (query
start, WAL, planning) separates from the real addBatch work.

"time to initialize Python workers" is printed for every query: on
Spark 4.1 it is the one metric that shows the per-task import cost a
reused Python worker pays (its "time to start Python workers" reads 0).

Usage: python scripts/stream_profile.py name [name...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_PY_METRICS = {
    "time to initialize Python workers": "init",
    "time to run Python workers": "run",
    "time to start Python workers": "start",
}
_UNIT_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def main():
    names = sys.argv[1:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from eventkit_spark.session import get_spark

    spark = get_spark("stream_profile")
    qs = entrymod.queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    entrymod._replay_stream(spark, sf)
    entrymod._replay_stream_multi(spark, sf)

    for name in names:
        before = _last_execution_id(spark)
        t0 = time.perf_counter()
        qs[name](spark, sf).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        print(f"== {name}: wall {wall:.3f}s {_python_line(_python_seconds(spark, before))}")
    for label, build in (
        ("running_agg_stream", lambda s: s.running_agg(ema_n=10)),
        ("enumerate_stream", lambda s: s.enumerate()),
    ):
        s = entrymod._replay_stream(spark, sf)
        _drain(spark, label, s, build(s))
    s = entrymod._replay_stream_multi(spark, sf)
    _drain(spark, "running_agg_stream_multibatch", s, s.running_agg(ema_n=10))


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    return max((ex.executionId() for ex in _seq(store.executionsList())), default=-1)


def _python_seconds(spark, after: int) -> dict:
    """Python-worker timing metrics summed over the SQL executions
    numbered above ``after`` (what one query ran, when queries run one
    at a time)."""
    try:  # let the SQL listener catch up with the finished tasks
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — best effort
        pass
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(_PY_METRICS.values(), 0.0)
    for ex in _seq(store.executionsList()):
        if ex.executionId() <= after:
            continue
        accs = {m.accumulatorId(): _PY_METRICS[m.name()]
                for m in _seq(ex.metrics()) if m.name() in _PY_METRICS}
        if not accs:
            continue
        values = store.executionMetrics(ex.executionId())
        for acc, key in accs.items():
            v = values.get(acc)
            if not v.isDefined():
                continue
            # "total (min, med, max ...)\n1.2 s (...)" or "35 ms"
            m = re.match(r"\s*([0-9.,]+)\s*(ns|ms|s|m|h)\b", v.get().split("\n", 1)[-1])
            if m:
                out[key] += float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]
    return out


def _python_line(secs: dict) -> str:
    return " ".join(f"python_{k} {v:.3f}s" for k, v in secs.items())


def _drain(spark, label: str, s, sink):
    qn = f"prof_{uuid.uuid4().hex[:8]}"
    writer = (
        sink.writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(availableNow=True)
    )
    before = _last_execution_id(spark)
    t0 = time.perf_counter()
    q = s._sized_start(writer, sink_df=sink)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    print(f"-- {label} (manual): wall {wall:.3f}s {_python_line(_python_seconds(spark, before))}")
    for p in q.recentProgress:
        row = p if isinstance(p, dict) else json.loads(p.json)
        so = row.get("stateOperators") or []
        print(
            "   batch", row.get("batchId"), "rows", row.get("numInputRows"),
            "durationMs", row.get("durationMs"),
            "stateParts", [o.get("numShufflePartitions") for o in so],
            "commitMs", [o.get("commitTimeMs") for o in so],
        )


if __name__ == "__main__":
    main()
