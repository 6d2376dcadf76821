"""Seeded end-to-end benchmark of eventkit_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload event_batch --seed 1 --seconds 10 --trace 0

``--trace 0`` times the workload with tracing off and prints the
end-to-end metrics; ``--trace 1`` runs the same pass traced and prints
the per-layer metrics, each next to the end-to-end metric and workload
it should move. Either way the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. Every output check runs after the timed passes.

All files go under ``.perfbench_work/`` in the checkout, which is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit, better) of the end-to-end metrics, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

EVENT_STAGES = ["ema", "sessionize", "funnel", "retention", "resample", "anomaly",
                "rfm", "attribution", "multi_touch", "bootstrap_ci", "ab_lift", "cuped"]
STATE_OPS = ["cusum", "holt", "kalman1d"]
LLM_CALLS = [
    "text.c4_filters", "text.redact_pii", "dedup.exact_dedup", "text.hash_embed",
    "text.densify_embedding", "similarity.embedding_near_dups", "sampling.split_by_hash",
    "text.linear_quality_classifier", "sampling.train_order",
]
STREAM_PHASES = ["add_batch", "query_planning", "wal_commit", "commit_offsets",
                 "latest_offset", "get_batch"]
_PHASE_KEY = {"add_batch": "addBatch", "query_planning": "queryPlanning",
              "wal_commit": "walCommit", "commit_offsets": "commitOffsets",
              "latest_offset": "latestOffset", "get_batch": "getBatch"}

_EB = "run_s on event_batch"
_SD = "run_s on stream_drain"
_CU = "run_s on curation"
_ST = "run_s on event_batch; no change predicted on stream_drain (uniform keys)"
_ALL = "run_s on every workload, most on curation"

# (name, unit, better, what it should move) of the per-layer metrics
PER_LAYER = (
    [(f"operators.{s}.s", "s", "lower", _EB) for s in EVENT_STAGES]
    + [("operators.shuffle_write_bytes", "bytes", "lower", _EB),
       ("operators.tasks", "count", "lower", _EB)]
    + [(f"state.{s}.s", "s", "lower", _ST) for s in STATE_OPS]
    + [("state.python_run_s", "s", "lower", _ST),
       ("state.python_start_s", "s", "lower", _ST),
       ("state.tasks", "count", "lower", _ST),
       ("state.task_skew", "ratio", "lower", _ST)]
    + [("streaming.trigger_ms", "ms", "lower", _SD)]
    + [(f"streaming.{p}_ms", "ms", "lower", _SD) for p in STREAM_PHASES]
    + [("streaming.state_rows", "count", "lower", _SD),
       ("streaming.state_memory_bytes", "bytes", "lower", _SD),
       ("streaming.state_commit_ms", "ms", "lower", _SD),
       ("streaming.state_partitions", "count", "lower", _SD),
       ("streaming.python_run_s", "s", "lower", _SD),
       ("streaming.python_start_s", "s", "lower", _SD),
       ("streaming.query_start_s", "s", "lower", _SD)]
    + [(f"llm.{c}.s", "s", "lower", _CU) for c in LLM_CALLS]
    + [("llm.eager_jobs", "count", "lower", _CU)]
    + [("sources.read_s", "s", "lower", _CU),
       ("sources.bytes_read", "bytes", "lower", _CU + ", peak_rss_mb"),
       ("sources.read_amplification", "ratio", "lower", _CU + ", peak_rss_mb"),
       ("sources.write_s", "s", "lower", _CU),
       ("sources.bytes_written", "bytes", "lower", _CU),
       ("sources.files_written", "count", "lower", _CU)]
    + [(f"engine.{m}", u, "lower", _ALL) for m, u in [
        ("jobs", "count"), ("stages", "count"), ("stages_skipped", "count"),
        ("tasks", "count"), ("tasks_failed", "count"), ("task_run_s", "s"),
        ("task_cpu_s", "s"), ("spill_bytes", "bytes"), ("job_gap_s", "s")]]
    + [("engine.busy_ratio", "ratio", "higher", _ALL),
       ("engine.core_scaling", "ratio", "higher", _ALL),
       ("trace_overhead_s", "s", "lower", "none: the cost of tracing itself")]
)
_UNIT = {n: u for n, u, *_ in END_TO_END + [p[:3] for p in PER_LAYER]}
MAX_MEASURE_S = 110.0
DRIVER_MEMORY = "1g"
N_GENERATE = 3


def _pin_env(work: str, in_dir: str, cpus: int) -> None:
    """Pin the session the way ``session.get_spark`` reads it, and keep
    every file Spark, Python and the JVM write inside ``work``."""
    for k in ("SPARK_GRAFT_ADVISORY_PARTITION", "SPARK_SQL_SHUFFLE_PARTITIONS",
              "SPARK_GRAFT_PARALLELISM_FIRST", "SPARK_GRAFT_STREAM_PARTITIONS",
              "SPARK_GRAFT_ON_CLUSTER", "SPARK_GRAFT_SUBTREE_MATERIALIZE"):
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SF_DIR": in_dir,
        # a bounded heap keeps peak_rss_mb from following the collector's
        # heap-growth heuristics, and the run small on a shared machine
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        # every JVM, the launcher's too: no /tmp/hsperfdata, tmp files here
        "_JAVA_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.sql.streaming.checkpointLocation={os.path.join(work, 'ckpt')}",
        ]),
    })


def _stop(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes, and takes its Python workers with it) and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM plus the driver Python's ``ru_maxrss``."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _session_info(spark) -> dict:
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    conf = spark.conf
    return {
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "advisory_partition_bytes": conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
        "loadavg": load,
    }


def _timed_pass(w, spark, tracer, ops, k: int) -> float:
    """Wall time of pass ``k``; the workload's bookkeeping runs after."""
    t = time.perf_counter()
    w.run_pass(spark, tracer, ops, k)
    wall = time.perf_counter() - t
    w.after_pass()
    return wall


def _measure(w, spark, tracer, ops, seconds: float, once: bool) -> list[float]:
    """Closed-loop passes until ``seconds`` have passed and the
    workload's minimum number of micro-batches is reached."""
    passes = []
    t_start = time.perf_counter()
    while True:
        passes.append(_timed_pass(w, spark, tracer, ops, len(passes)))
        elapsed = time.perf_counter() - t_start
        if once:
            break
        enough = elapsed >= seconds and len(w.batches) >= w.min_batches
        if enough or elapsed > MAX_MEASURE_S:
            break
    return passes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "eventkit_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no eventkit_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = _run(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def _run(args, work: str, cls) -> dict:
    import gen
    from stats import median, supported_percentile
    from trace import Tracer, job_durations_ms
    from workloads import Ops

    w = cls(work)
    ops = Ops()
    cpus = os.cpu_count() or 1

    gen_s, hashes = [], []
    for _ in range(N_GENERATE):
        for sub in ("in", "warm"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        t = time.perf_counter()
        paths = w.generate(args.seed)
        gen_s.append(time.perf_counter() - t)
        hashes.append(gen.files_hash(paths))
    ops.check("inputs_deterministic", len(set(hashes)) == 1, f"hashes {hashes}")
    print(f"inputs {args.workload} seed={args.seed} rows={w.rows} sha256[:16]={hashes[0]}")

    _pin_env(work, w.in_dir, cpus)
    t = time.perf_counter()
    from eventkit_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t
    print("session " + json.dumps(_session_info(spark)))
    try:
        off = Tracer(spark, enabled=False)
        warm_s = 0.0
        if w.warm:
            t = time.perf_counter()
            w.warmup(spark, off, ops)
            warm_s = time.perf_counter() - t
        setup_s = start_s + median(gen_s) + warm_s
        print(f"setup_s={setup_s:.3f} (session {start_s:.3f} + generate median of "
              f"{N_GENERATE} {median(gen_s):.3f} + warm-up {warm_s:.3f})")

        if args.trace:
            metrics, traced_s = _traced(w, spark, ops, cpus)
        else:
            since = time.time()
            passes = _measure(w, spark, off, ops, args.seconds, once=not w.warm)
            run_s = median(passes)
            if w.batches:
                batch = [b["ms"]["triggerExecution"] for b in w.batches]
                what = "micro-batch triggerExecution"
            else:
                batch = job_durations_ms(spark, since)
                what = "Spark job"
            print(f"run_s={run_s:.3f} median of {len(passes)} passes {[round(p, 3) for p in passes]}")
            print(f"batch_ms over {len(batch)} {what} times: {supported_percentile(batch)}")
            metrics = {
                "setup_s": setup_s,
                "run_s": run_s,
                "rows_per_s": w.rows / run_s,
                "peak_rss_mb": _peak_rss_mb(spark),
            }
        t = time.perf_counter()
        w.checks(spark, ops)
        print(f"checks took {time.perf_counter() - t:.3f} s (untimed)")
        if args.trace:
            spark = _single_core(w, spark, ops, metrics, traced_s)
    finally:
        _stop(spark)

    failed_share = ops.failed / ops.attempted
    print(f"failed_share={failed_share:.6f} ({ops.failed} failed of {ops.attempted} "
          "operations: stages, micro-batches and output checks)")
    for note in ops.notes:
        print("  " + note.strip().replace("\n", "\n  "))
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {_UNIT.get(name, '')}")
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {n: {"value": v, "unit": _UNIT[n]} for n, v in metrics.items()},
    }


def _traced(w, spark, ops, cpus) -> tuple[dict, float]:
    """One traced warm pass (a batch workload first runs its cold pass
    untraced); per-layer metrics come from it. Stores are read after
    the pass, so ``trace_overhead_s`` is the span bookkeeping alone."""
    from stats import median
    from trace import Tracer, job_gap_s, self_times

    if not w.warm:
        cold = _timed_pass(w, spark, Tracer(spark, enabled=False), ops, 0)
        print(f"cold pass (untraced) {cold:.3f} s")
    tracer = Tracer(spark, enabled=True)
    t0 = time.perf_counter()
    traced = _timed_pass(w, spark, tracer, ops, 1)
    t1 = t0 + traced
    tracer.read_stores()
    spans = tracer.spans
    selft = self_times(spans)
    by_name: dict[str, float] = {}
    for sp, st in zip(spans, selft):
        by_name[sp.name] = by_name.get(sp.name, 0.0) + st

    def in_layer(layer):
        return [sp for sp in spans if sp.layer == layer]

    def total(sps, key):
        return float(sum(s[key] for sp in sps for s in sp.stages))

    m: dict[str, float] = {}
    for s in EVENT_STAGES:
        m[f"operators.{s}.s"] = by_name.get(f"operators.{s}", 0.0)
    m["operators.shuffle_write_bytes"] = total(in_layer("operators"), "shuffle_write_bytes")
    m["operators.tasks"] = total(in_layer("operators"), "tasks")
    for s in STATE_OPS:
        m[f"state.{s}.s"] = by_name.get(f"state.{s}", 0.0)
    st_spans = in_layer("state")
    m["state.python_run_s"] = float(sum(sp.sql.get("python_run_s", 0) for sp in st_spans))
    m["state.python_start_s"] = float(sum(sp.sql.get("python_start_s", 0) for sp in st_spans))
    m["state.tasks"] = total(st_spans, "tasks")
    # kernel stages: the state kernels on event_batch, the stateful
    # handlers on stream_drain (the no-skew control)
    kernel_spans = st_spans or in_layer("streaming")
    m["state.task_skew"] = max([tracer.task_skew(sp) for sp in kernel_spans] or [0.0])

    sd_spans = in_layer("streaming")
    batches = [b for sp in sd_spans for b in sp.batches]
    for p, key in [("trigger", "triggerExecution")] + [(p, _PHASE_KEY[p]) for p in STREAM_PHASES]:
        vals = [b["ms"].get(key, 0) for b in batches]
        m[f"streaming.{p}_ms"] = median(vals) if vals else 0.0
    m["streaming.state_rows"] = float(max([b["state_rows"] for b in batches] or [0]))
    m["streaming.state_memory_bytes"] = float(
        max([b["state_memory_bytes"] for b in batches] or [0]))
    m["streaming.state_commit_ms"] = median([b["state_commit_ms"] for b in batches] or [0])
    m["streaming.state_partitions"] = float(max([b["state_partitions"] for b in batches] or [0]))
    m["streaming.python_run_s"] = float(sum(sp.sql.get("python_run_s", 0) for sp in sd_spans))
    m["streaming.python_start_s"] = float(sum(sp.sql.get("python_start_s", 0) for sp in sd_spans))
    m["streaming.query_start_s"] = (
        median([sp.wall - sum(b["ms"].get("triggerExecution", 0) for b in sp.batches) / 1e3
                for sp in sd_spans]) if sd_spans else 0.0)

    for c in LLM_CALLS:
        m[f"llm.{c}.s"] = by_name.get(f"llm.{c}", 0.0)
    m["llm.eager_jobs"] = float(sum(len(sp.jobs) for sp in in_layer("llm")))

    src = in_layer("sources")
    m["sources.read_s"] = by_name.get("sources.tables.load_table", 0.0)
    m["sources.bytes_read"] = total(spans, "input_bytes")
    in_bytes = sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(w.in_dir) for f in fs)
    m["sources.read_amplification"] = m["sources.bytes_read"] / in_bytes if in_bytes else 0.0
    m["sources.write_s"] = by_name.get("sources.sinks.write_dataset", 0.0)
    m["sources.bytes_written"] = total(
        [sp for sp in src if sp.name == "sources.sinks.write_dataset"], "output_bytes")
    m["sources.files_written"] = float(w.files_written())

    job_ids = {j["id"] for sp in spans for j in sp.jobs}
    m["engine.jobs"] = float(len(job_ids))
    m["engine.stages"] = float(sum(len(sp.stages) for sp in spans))
    m["engine.stages_skipped"] = float(sum(j["skipped_stages"] for sp in spans for j in sp.jobs))
    m["engine.tasks"] = total(spans, "tasks")
    m["engine.tasks_failed"] = total(spans, "failed_tasks")
    m["engine.task_run_s"] = total(spans, "run_s")
    m["engine.task_cpu_s"] = total(spans, "cpu_s")
    m["engine.spill_bytes"] = total(spans, "spill_bytes")
    m["engine.job_gap_s"] = job_gap_s(spans, t0, t1)
    m["engine.busy_ratio"] = m["engine.task_run_s"] / (traced * cpus)
    m["trace_overhead_s"] = tracer.overhead_s

    top = sum(selft)
    print(f"traced run_s={traced:.3f}; span self times sum to {top:.3f} s, "
          f"unaccounted {traced - top:.3f} s; engine.job_gap_s={m['engine.job_gap_s']:.3f}; "
          f"trace_overhead_s={tracer.overhead_s:.4f} (tracer bookkeeping inside the pass)")
    if batches:
        print(f"traced pass drained {len(batches)} micro-batches")
    for sp, st in zip(spans, selft):
        print(f"  span {sp.name} parent={sp.parent} wall={sp.wall:.3f} self={st:.3f} "
              f"jobs={len(sp.jobs)} stages={len(sp.stages)} "
              f"tasks={sum(s['tasks'] for s in sp.stages)}")
    for name, unit, _better, moves in PER_LAYER:
        if name in m:
            print(f"  layer {name} = {m[name]:.6g} {unit}  -> {moves}")
    return m, traced


def _single_core(w, spark, ops, metrics: dict, many: float):
    """``engine.core_scaling``: run_s of one pass on a fresh one-core
    session, started in the JVM the traced run warmed, over run_s of
    the traced warm pass at ``nproc`` cores. Returns the new session."""
    from trace import Tracer

    from eventkit_spark.session import get_spark

    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = get_spark(f"perfbench-{w.name}-1core")
    one = _timed_pass(w, spark, Tracer(spark, enabled=False), ops, 2)
    metrics["engine.core_scaling"] = one / many
    print(f"engine.core_scaling: run_s at 1 core {one:.3f} / at {os.cpu_count()} cores "
          f"{many:.3f} = {one / many:.3f}")
    return spark


if __name__ == "__main__":
    sys.exit(main())
