"""The three benchmark workloads.

Each workload is a closed loop: one driver thread issues one action at
a time, the way this library is used (batch jobs, and ``availableNow``
drains of landed files). A workload

- writes its seeded inputs with ``generate``;
- runs one pass per call of ``run_pass``, every call into the library
  wrapped in a tracer span named ``<layer>.<module>.<fn>`` or
  ``<layer>.<stage>``;
- checks its outputs in ``checks``, outside the timed passes.

Workload drivers call only public ``eventkit_spark`` functions.
"""

from __future__ import annotations

import glob
import hashlib
import os
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

from pyspark.sql.streaming import StreamingQueryListener

import gen

EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string")


def _canon_hash(pdf) -> str:
    """Order-insensitive hash of a result: columns sorted by name, NaN
    and NaT as NULL, rows sorted."""
    cols = sorted(pdf.columns)
    rows = []
    for rec in pdf[cols].itertuples(index=False, name=None):
        rows.append(repr(tuple(None if (v is None or v != v) else
                               (v.item() if hasattr(v, "item") else v) for v in rec)))
    rows.sort()
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class Ops:
    """Attempted and failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._lock = threading.Lock()

    def count(self, attempted: int, failed: int = 0, note: str = ""):
        with self._lock:
            self.attempted += attempted
            self.failed += failed
            if note:
                self.notes.append(note)

    def run(self, name: str, fn):
        """Run one operation; a raised error counts as a failure and the
        run goes on."""
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — the benchmark must report, not die
            self.count(1, 1, f"{name}: {traceback.format_exc(limit=3)}")
            print(f"FAILED {name}\n{traceback.format_exc()}", file=sys.stderr)
            return None
        self.count(1)
        return out

    def check(self, name: str, ok: bool, detail: str = ""):
        self.count(1, 0 if ok else 1, "" if ok else f"check {name}: {detail}")
        print(f"check {name}: {'ok' if ok else 'MISMATCH ' + detail}")


class Workload:
    """What the runner calls. ``warm`` workloads get ``warmup`` before
    timing and are timed over repeated passes; the others are timed on
    their first (cold) pass."""

    name = ""
    warm = False
    min_batches = 0
    in_dir = ""

    def __init__(self):
        self.batches: list[dict] = []  # micro-batch progress of timed passes

    def warmup(self, spark, tracer, ops: Ops):
        pass

    def after_pass(self):
        pass

    def files_written(self) -> int:
        return 0


# ---------------------------------------------------------------------
# event_batch
# ---------------------------------------------------------------------
class EventBatch(Workload):
    """The batch event-analytics chain, every stage forced with the
    ``noop`` sink. Stage parameters and projections are those of the
    stage's driver contract, so each output can be checked against that
    contract's DuckDB oracle."""

    name = "event_batch"
    N_EVENTS = 4_000
    N_USERS = 400
    ZIPF_S = 1.1

    def __init__(self, work: str):
        super().__init__()
        self.in_dir = os.path.join(work, "in")
        self.collected: dict = {}

    @property
    def rows(self) -> int:
        return self.N_EVENTS

    def generate(self, seed: int) -> list[str]:
        return [gen.write_events(self.in_dir, seed, self.N_EVENTS, self.N_USERS, self.ZIPF_S)]

    def stages(self, spark):
        from pyspark.sql import functions as F

        from eventkit_spark.operators.relational import (
            ab_lift, attribution, bootstrap_ci, cuped, funnel, multi_touch,
            retention, rfm,
        )
        from eventkit_spark.sources.tables import load_events, load_table

        d = self.in_dir
        ev = lambda: load_events(spark, d)  # noqa: E731
        raw = lambda: load_table(spark, d, "events")  # noqa: E731
        click, purchase = F.col("event_type") == "click", F.col("event_type") == "purchase"

        def cuped_stage():
            e = raw()
            cents = F.round(F.col("value") * 100, 0).cast("long")
            pre = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
            units = (
                e.groupBy("user_id")
                .agg((F.sum(F.when(pre, cents)).cast("double")
                      / F.count(F.when(pre, F.lit(1)))).alias("x"),
                     (F.sum(F.when(~pre, cents)).cast("double")
                      / F.count(F.when(~pre, F.lit(1)))).alias("y"))
                .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
                .withColumn("arm", F.when(F.col("user_id") % 2 == 0, "t").otherwise("c"))
            )
            return cuped(units, "y", "x", "arm", treat="t", control="c")

        # (contract name, layer, frame builder)
        return [
            ("ema", "operators", lambda: ev().ema(n=10).df.select(
                "event_id", "user_id", F.round("value", 6).alias("ema"))),
            ("sessionize", "operators", lambda: ev().sessionize(1800.0).df.select(
                "event_id", "user_id", "session")),
            ("funnel", "operators", lambda: funnel(
                raw(), steps=[F.col("event_type") == "view", click, purchase],
                by="user_id", within=7 * 86400.0,
            ).select("user_id", "t1", "t2", "t3", "steps_completed", "converted")),
            ("retention", "operators", lambda: retention(raw(), period=86400.0)),
            ("resample", "operators", lambda: ev().resample(3600.0).select(
                "user_id", "bucket", "open", "high", "low", "close", "n", "vsum")),
            ("anomaly", "operators", lambda: ev().anomaly(3600.0, z=2.0).df.select(
                "event_id", "user_id", "roll_n", "zscore", "is_anomaly")),
            ("cusum", "state", lambda: ev().cusum(50.0, h=400.0, slack=15.0).df.select(
                "user_id", "event_id", "cusum_hi", "cusum_lo", "alarm")),
            ("holt", "state", lambda: ev().holt(alpha=0.5, beta=0.3).df.select(
                "user_id", "event_id", "level", "trend", "forecast")),
            ("kalman", "state", lambda: ev().kalman1d(q=0.01, r=1.0, p0=1.0).df.select(
                "user_id", "event_id", "kf_x", "kf_p", "kf_gain")),
            ("rfm", "operators", lambda: rfm(raw()).select(
                F.col("key").alias("user_id"), "recency_s", "frequency", "monetary")),
            ("attribution", "operators", lambda: attribution(
                raw(), touch=click, conversion=purchase, lookback=7 * 86400.0)),
            ("multi_touch", "operators", lambda: multi_touch(
                raw(), touch=click, conversion=purchase, lookback=7 * 86400.0)),
            ("bootstrap_ci", "operators", lambda: bootstrap_ci(
                raw(), "value", by="event_type", replicas=64)),
            ("ab_lift", "operators", lambda: ab_lift(
                raw(), "value", "event_type", treat="purchase", control="view")),
            ("cuped", "operators", cuped_stage),
        ]

    def run_pass(self, spark, tracer, ops: Ops, k: int):
        for name, layer, build in self.stages(spark):
            with tracer.span(f"{layer}.{'kalman1d' if name == 'kalman' else name}", layer):
                ops.run(name, lambda: build().write.format("noop").mode("overwrite").save())

    def checks(self, spark, ops: Ops):
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.in_dir}/events.parquet'")
        stages = self.stages(spark)

        def oracle(name):
            cur = con.cursor()
            try:
                return cur.execute(oracles[name]).df()
            except duckdb.Error as exc:
                return exc
            finally:
                cur.close()

        # untimed, so oracles and collections all run side by side; the
        # recursive-CTE oracles of the state kernels are sequential in the
        # longest key's length
        names = [name for name, _layer, _build in stages]
        with ThreadPoolExecutor(max_workers=6) as pool:
            futures = [pool.submit(oracle, name) for name in names]
            got = pool.map(lambda st: ops.run(f"collect {st[0]}", lambda: st[2]().toPandas()),
                           stages)
            self.collected = dict(zip(names, got))
            wanted = dict(zip(names, (f.result() for f in futures)))
        con.close()
        for name in names:
            got, want = self.collected.get(name), wanted[name]
            if got is None or isinstance(want, Exception):
                ops.check(name, False, f"stage or oracle failed: {want if got is not None else ''}")
                continue
            if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
                ops.check(name, False, f"shape {got.shape} vs oracle {want.shape}")
                continue
            a, b = _canon_hash(got), _canon_hash(want)
            ops.check(name, a == b, f"hash {a} vs oracle {b}")


# ---------------------------------------------------------------------
# stream_drain
# ---------------------------------------------------------------------
class _Listener(StreamingQueryListener):
    """Collects the ``StreamingQueryProgress`` of every query by name."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: dict[str, list] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators
        rec = {
            "run_id": str(p.runId),
            "ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in ops),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
            "state_commit_ms": sum(s.commitTimeMs for s in ops),
            "state_partitions": sum(s.numShufflePartitions for s in ops),
        }
        with self.lock:
            self.progress.setdefault(p.name, []).append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, name: str, n: int, timeout: float = 30.0) -> list:
        """Progress of query ``name`` once ``n`` batches have been
        reported (the listener bus delivers asynchronously)."""
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self.lock:
                got = list(self.progress.get(name, []))
            if len(got) >= n:
                return got
            time.sleep(0.02)
        return got


class StreamDrain(Workload):
    """Uniform-key events split into event-time-ordered parquet files,
    drained with ``availableNow`` one file per trigger by two stateful
    queries (``running_agg`` and ``cusum``)."""

    name = "stream_drain"
    N_EVENTS = 1_000
    N_USERS = 16
    N_FILES = 10
    WARM_FILES = 1
    # a long-running drain is warm after its first micro-batches
    warm = True
    # 2 queries x N_FILES triggers: p50 of the batch time has 10 above it
    min_batches = 20
    OPS = ("running_agg", "cusum")

    def __init__(self, work: str):
        super().__init__()
        self.in_dir = os.path.join(work, "in")
        self.files_dir = os.path.join(self.in_dir, "events.parquet")
        self.warm_dir = os.path.join(work, "warm", "events.parquet")
        self.listener = None
        self._listening = None
        self.last_outputs: dict[str, str] = {}
        self._q = 0

    @property
    def rows(self) -> int:
        return self.N_EVENTS

    def generate(self, seed: int) -> list[str]:
        table = gen.events_table(seed, self.N_EVENTS, self.N_USERS, 0.0)
        paths = gen.write_event_files(self.files_dir, table, self.N_FILES)
        warm_rows = table.num_rows * self.WARM_FILES // self.N_FILES
        gen.write_event_files(self.warm_dir, table.slice(0, warm_rows), self.WARM_FILES)
        return paths

    def _drain(self, spark, tracer, ops: Ops, path: str, n_files: int, record: bool):
        from eventkit_spark.streaming.stream import file_stream

        if self.listener is None or self._listening is not spark:
            self.listener = _Listener()
            spark.streams.addListener(self.listener)
            self._listening = spark
        for op in self.OPS:
            self._q += 1
            name = f"pb_{op}_{self._q}"

            def go():
                sf = file_stream(spark, path, EVENT_SCHEMA, key_cols=["user_id"],
                                 max_files_per_trigger=1)
                sink = (sf.running_agg(ema_n=10) if op == "running_agg"
                        else sf.cusum(50.0, h=400.0, slack=15.0))
                t0 = time.perf_counter()
                sf.run_available_now(sink_df=sink, name=name)
                return time.perf_counter() - t0

            with tracer.span(f"streaming.{op}", "streaming") as sp:
                wall = ops.run(f"drain {op}", go)
                prog = self.listener.wait_for(name, n_files) if wall is not None else []
                if sp is not None and prog:
                    # micro-batch jobs run under the query's run id
                    sp.extra_groups.append(prog[0]["run_id"])
                    sp.batches = prog
            if wall is None:
                continue
            # each micro-batch is an operation; one never reported failed
            ops.count(max(n_files, len(prog)), max(0, n_files - len(prog)))
            if record:
                self.batches.extend(prog)
                self.last_outputs[op] = name

    def warmup(self, spark, tracer, ops: Ops):
        self._drain(spark, tracer, ops, self.warm_dir, self.WARM_FILES, record=False)

    def run_pass(self, spark, tracer, ops: Ops, k: int):
        self._drain(spark, tracer, ops, self.files_dir, self.N_FILES, record=True)

    def checks(self, spark, ops: Ops):
        """The multi-batch output of the last pass equals its batch twin
        row for row (both rounded to 6 decimals, as the contracts do)."""
        from pyspark.sql import functions as F

        from eventkit_spark.sources.tables import load_events

        ev = load_events(spark, self.in_dir)
        twins = {
            "running_agg": ev.running_multi("count", "sum", "min", "max", "ema", ema_n=10).df
            .select("user_id", "ts", F.col("count").alias("rcount"), F.col("sum").alias("rsum"),
                    F.col("min").alias("rmin"), F.col("max").alias("rmax"), "ema"),
            "cusum": ev.cusum(50.0, h=400.0, slack=15.0).df
            .select("user_id", "ts", "cusum_hi", "cusum_lo", "alarm"),
        }
        for op, twin in twins.items():
            name = self.last_outputs.get(op)
            if name is None:
                ops.check(f"stream_{op}", False, "no drained output")
                continue
            cols = twin.columns
            r6 = [F.round(c, 6).alias(c) if t == "double" else F.col(c)
                  for c, t in twin.dtypes]
            got = spark.sql(f"SELECT * FROM {name}").select(*cols).select(*r6).toPandas()
            want = twin.select(*r6).toPandas()
            if len(got) != len(want):
                ops.check(f"stream_{op}", False, f"rows {len(got)} vs batch {len(want)}")
                continue
            a, b = _canon_hash(got), _canon_hash(want)
            ops.check(f"stream_{op}", a == b, f"hash {a} vs batch {b}")


# ---------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------
# fixed demo head of the learned quality filter: 64 weights in [-1, 1]
_LQC_WEIGHTS = [((i * 37 + 11) % 21 - 10) / 10 for i in range(64)]


class Curation(Workload):
    """The training-data curation chain ending in one partitioned
    dataset write: C4 cleaning, PII redaction, exact dedup, embedding
    near-duplicate removal (``llm.similarity``), train/val/test split,
    quality filter, seeded train order."""

    name = "curation"
    N_DOCS = 2_000

    def __init__(self, work: str):
        super().__init__()
        self.in_dir = os.path.join(work, "in")
        self.out_root = os.path.join(work, "out")
        self.hashes: list[str] = []
        self.last: dict = {}

    @property
    def rows(self) -> int:
        return self.N_DOCS

    def generate(self, seed: int) -> list[str]:
        return [gen.write_documents(self.in_dir, seed, self.N_DOCS)]

    def chain(self, spark, tracer, ops: Ops, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from eventkit_spark.llm import dedup, sampling, similarity, text
        from eventkit_spark.sources import sinks, tables

        def call(span: str, layer: str, fn):
            with tracer.span(span, layer):
                return ops.run(span, fn)

        docs = call("sources.tables.load_table", "sources",
                    lambda: tables.load_table(spark, self.in_dir, "documents"))
        survivors = call("llm.text.c4_filters", "llm",
                         lambda: text.c4_filters(docs, min_kept_lines=0).select("doc_id"))
        clean = docs.join(survivors, "doc_id", "left_semi").select(
            "doc_id", "lang", "source", "text")
        meta = clean.select("doc_id", "lang", "source")
        clean = call("llm.text.redact_pii", "llm",
                     lambda: text.redact_pii(clean)).select("doc_id", "text").join(meta, "doc_id")
        keep_exact = call("llm.dedup.exact_dedup", "llm", lambda: dedup.exact_dedup(clean))
        clean = clean.join(keep_exact.select("doc_id"), "doc_id", "left_semi")
        sparse = call("llm.text.hash_embed", "llm", lambda: text.hash_embed(clean, dim=64))
        emb = call("llm.text.densify_embedding", "llm",
                   lambda: text.densify_embedding(sparse, dim=64))
        near = call("llm.similarity.embedding_near_dups", "llm",
                    lambda: similarity.embedding_near_dups(emb, threshold=0.95, id_col="doc_id"))
        # keep the lower id of each near-duplicate pair; no two kept docs
        # are then near-duplicates, so a doc-keyed split cannot leak a
        # paraphrase across train and test at this threshold
        clean = clean.join(near.select(F.col("id_b").alias("doc_id")), "doc_id", "left_anti")
        split = call("llm.sampling.split_by_hash", "llm",
                     lambda: sampling.split_by_hash(clean, "doc_id"))
        train = split.filter(F.col("split") == "train")
        test = split.filter(F.col("split") == "test")
        scored = call("llm.text.linear_quality_classifier", "llm",
                      lambda: text.linear_quality_classifier(
                          train, weights=_LQC_WEIGHTS, bias=0.1, threshold=0.3))
        train = train.join(scored.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")
        ordered = call("llm.sampling.train_order", "llm",
                       lambda: sampling.train_order(train, key_col="doc_id", seed=7))
        final = train.join(ordered.select("doc_id", "rank"), "doc_id").select(
            "doc_id", "lang", "source", "text", "rank")
        call("sources.sinks.write_dataset", "sources",
             lambda: sinks.write_dataset(final, out_dir, partition_by=("lang",), target_mb=64))
        return {"final": final, "test": test, "out": out_dir}

    def _record(self, res: dict):
        self.last = res
        self.hashes.append(self.output_hash(res["out"]))

    @staticmethod
    def output_hash(out_dir: str) -> str:
        """Hash of the written rows, with the ``lang`` partition column
        restored from the directory names."""
        import pandas as pd

        files = sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True))
        parts = []
        for f in files:
            t = pq.read_table(f).to_pandas()
            t["lang"] = os.path.basename(os.path.dirname(f)).split("=", 1)[-1]
            parts.append(t)
        return _canon_hash(pd.concat(parts, ignore_index=True)) if parts else "empty"

    def run_pass(self, spark, tracer, ops: Ops, k: int):
        out = os.path.join(self.out_root, f"pass{k}")
        res = self.chain(spark, tracer, ops, out)
        self._pending = res

    def after_pass(self):
        """Hash the pass's output, outside the timed region."""
        self._record(self._pending)

    def files_written(self) -> int:
        return len(glob.glob(os.path.join(self.last["out"], "**", "*.parquet"), recursive=True))

    def checks(self, spark, ops: Ops):
        """Re-evaluate the selection and the test split in one job and
        compare them with what was written."""
        from pyspark.sql import functions as F

        out = self.last.get("out")
        if not out or not os.path.isdir(out):
            ops.check("written", False, "no output")
            return
        final, test = self.last["final"], self.last["test"]
        # test rows carry typed placeholders so no column turns nullable
        # (a NULL in an integer column would make pandas read it as float)
        both = final.withColumn("__part", F.lit("final")).unionByName(test.select(
            *[F.col(c) if c == "doc_id" else
              F.lit("" if t == "string" else -1).cast(t).alias(c) for c, t in final.dtypes],
            F.lit("test").alias("__part")))
        rows = ops.run("collect selection", both.toPandas)
        if rows is None:
            return
        sel = rows[rows["__part"] == "final"].drop(columns="__part")
        test_ids = set(rows.loc[rows["__part"] == "test", "doc_id"].tolist())
        written = pq.read_table(out, columns=["doc_id", "text"])
        ids = set(written.column("doc_id").to_pylist())
        texts = written.column("text").to_pylist()
        ops.check("split_disjoint", not (ids & test_ids),
                  f"{len(ids & test_ids)} doc_ids in train and test")
        ops.check("unique_text", len(set(texts)) == len(texts),
                  f"{len(texts) - len(set(texts))} duplicate texts")
        ops.check("written_count", len(sel) == written.num_rows,
                  f"selected {len(sel)} vs written {written.num_rows}")
        hashes = self.hashes + [_canon_hash(sel[final.columns])]
        ops.check("output_hash_stable", len(set(hashes)) == 1,
                  f"{len(set(hashes))} distinct output hashes over {len(hashes)} evaluations")


WORKLOADS = {w.name: w for w in (EventBatch, StreamDrain, Curation)}
