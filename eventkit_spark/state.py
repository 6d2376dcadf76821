"""Sequential stateful kernels that have no window-function form.

Each recurrence here (SURVEY.md §4.2) — Throttle's re-timestamping
(eventkit/ops/timing.py:104-184), CUSUM, Holt and the 1-D Kalman filter —
is defined once, as the step a ``_make_<op>_step(params)`` factory
builds: ``step(state, row inputs) -> (state, row outputs)``, seeded with
``None`` before a key's first row. Batch and streaming run the same
step. The batch side folds it over key-sorted ``mapInPandas``
partitions (``_fold`` for the one-double-in recurrences, ``throttle``'s
own kernel for its cost/status/limit-change columns); the stream twins
in ``streaming.stream`` fold it over each key's micro-batch with the
state carried in the state store. The factories return closures, so
cloudpickle ships each step by value (see ``_worker``).

Every kernel is one linear scan per key partition — fully parallel
across keys, O(n) per key, no driver collection. For unkeyed (globally
ordered) streams it degrades to a single task, same as the reference's
single process. Exact EMA for streams too long for the closed-form
window scan (eventkit/ops/aggregate.py:95-111) stays a grouped
``applyInPandas`` loop.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from ._worker import _round6, _worker_prologue


def ema_exact(ef, n: int | None = None, weight: float | None = None):
    """Linear-scan EMA recurrence per key — use when per-key streams are
    too long for the closed-form window formulation (> ~6000 rows).

    Missing values follow the same pinned algebra as the window form
    (``_ema_staged``) and the streaming scan: NULL until the key's
    first value, a NULL row decays the ema by (1-w), full-weight seed
    only for a non-NULL literal first row (a NaN here would otherwise
    poison the recurrence forever; NaN round-trips to NULL through
    Arrow — pinned in tests)."""
    w = weight if weight is not None else 2.0 / (n + 1)
    value_col = ef.value_cols[0]
    seq_col = ef.seq_col
    schema = ef.df.schema

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        _worker_prologue()
        pdf = pdf.sort_values(seq_col)
        x = pdf[value_col].to_numpy(dtype="float64")
        out = np.full_like(x, np.nan)
        ema, seen = np.nan, False
        for i, v in enumerate(x):
            if not np.isnan(v):
                if not seen:
                    ema = v if i == 0 else w * v
                    seen = True
                else:
                    ema = (1.0 - w) * ema + w * v
            elif seen:
                ema = (1.0 - w) * ema
            if seen:
                out[i] = ema
        pdf[value_col] = out
        return pdf

    out_schema = ", ".join(
        f"{f.name} {'double' if f.name == value_col else f.dataType.simpleString()}"
        for f in schema.fields
    )
    grouped = (
        ef.df.groupBy(*ef.key_cols) if ef.key_cols else ef.df.groupBy(F.lit(0).alias("__g"))
    )
    df = grouped.applyInPandas(kernel, schema=out_schema)
    if not ef.key_cols:
        df = df.drop("__g") if "__g" in df.columns else df
    return ef._with(df=df.select(*[f.name for f in schema.fields]))


def _arranged(src, key_cols, seq_col):
    """The fold drivers' plan: one shuffle on the keys, then each
    partition sorted so every key's rows are contiguous and in sequence
    order (one task when unkeyed)."""
    if key_cols:
        return src.repartition(*[F.col(k) for k in key_cols]).sortWithinPartitions(
            *key_cols, seq_col
        )
    return src.coalesce(1).sortWithinPartitions(seq_col)


def _make_throttle_step(maximum: float, interval: float, sched=()):
    """Throttle's recurrence as one step: ``step(st, t, c) -> (st, emit)``
    admits one row of cost ``c`` arriving at ``t`` (epoch seconds) and
    returns its emit time. ``sched`` is the sorted
    ``(ts, maximum, interval)`` limit-change list.

    The state is ``None`` before a key's first row, then
    ``(window, used, last_emit, maximum, interval, next_change)`` where
    ``window`` is a deque of in-window ``(emit, cost)`` pairs that the
    step mutates in place (a copy per row would cost O(window))."""
    from collections import deque

    def step(st, t, c):
        if st is None:
            st = (deque(), 0.0, -float("inf"), maximum, interval, 0)
        window, used, last_emit, mx, iv, si = st
        # FIFO: a queued row cannot emit before its predecessor
        t = max(t, last_emit)
        # earliest admissible time given the sliding budget
        while True:
            while si < len(sched) and sched[si][0] <= t:
                _, mx, iv = sched[si]
                si += 1
            while window and window[0][0] <= t - iv:
                used -= window.popleft()[1]
            if used + c <= mx or not window:
                break
            # wait until the oldest in-window emission expires — or
            # until a pending limit change, which may raise the budget
            t_next = window[0][0] + iv
            if si < len(sched) and sched[si][0] < t_next:
                t = sched[si][0]
            else:
                t = t_next
        window.append((t, c))
        return (window, used + c, t, mx, iv, si), t

    return step


def throttle(ef, maximum: float, interval: float, cost: float = 1.0, cost_expr=None,
             status: bool = False, limit_changes=None):
    """Rate-limit without dropping: at most ``maximum`` total cost per
    sliding ``interval`` seconds; excess rows are re-timestamped to the
    earliest time the budget allows (timing.py:104-184 queues and
    re-schedules; over a recorded stream that is exactly a deterministic
    re-timestamping).

    ``cost_expr`` (a Column) gives per-row cost (the reference's
    cost_func); ``status=True`` appends a ``throttled`` boolean column —
    the reference's status_event is this column's change stream
    (``.changes()`` over it).

    ``limit_changes`` is the reference's dynamic ``set_limit``
    (timing.py:124-131) recast in event time: an iterable of
    ``(ts, maximum, interval)`` triples (ts = datetime or epoch seconds).
    Each key applies a change once its candidate emit time reaches the
    change time — including jumping a waiting row forward to a change
    that raises the budget. The schedule is a tiny driver-side config
    (closure-captured), not a shuffled stream.

    Sequential by nature (each row's emit time depends on all prior emit
    times) — pandas kernel per key.
    """
    ts_col, seq_col = ef.ts_col, ef.seq_col
    if not ts_col:
        raise ValueError("throttle() needs an event-time column")

    sched = []
    if limit_changes:
        for t, mx, iv in limit_changes:
            if hasattr(t, "timestamp"):
                t = pd.Timestamp(t).timestamp()
            sched.append((float(t), float(mx), float(iv)))
        sched.sort()
    step = _make_throttle_step(maximum, interval, sched)

    src = ef.df
    if cost_expr is not None:
        src = src.withColumn("__ek_cost", cost_expr.cast("double"))
    value_cols = list(src.columns)
    out_cols = [c for c in value_cols if c != "__ek_cost"] + (
        ["throttled"] if status else []
    )
    key_cols = list(ef.key_cols)
    has_cost_col = cost_expr is not None

    def kernel(batches):
        # per-PARTITION kernel handling many keys per Arrow batch: with
        # thousands of small keys, per-group applyInPandas pays one
        # Python/Arrow round trip per key; mapInPandas over
        # repartition+sortWithinPartitions pays one per batch. Keys are
        # contiguous (sorted), but Arrow may split one key across
        # batches — state carries over via (cur_key, st).
        import numpy as np

        _worker_prologue()
        cur_key, st = object(), None  # sentinel unequal to any real key
        for pdf in batches:
            if len(pdf) == 0:
                continue
            times = pdf[ts_col].astype("int64").to_numpy() / 1e9  # epoch s
            costs = pdf["__ek_cost"].to_numpy() if has_cost_col else None
            keys = (list(zip(*[pdf[k].to_numpy() for k in key_cols])) if key_cols
                    else [()] * len(pdf))
            out = np.empty_like(times)
            for i in range(len(times)):
                if keys[i] != cur_key:
                    cur_key, st = keys[i], None
                st, out[i] = step(st, times[i], cost if costs is None else costs[i])
            # whole microseconds: float-derived ns residue makes the
            # Arrow ns->us cast "unsafe"; keep the input's tz-awareness
            micros = np.round(out * 1e6).astype("int64")
            stamped = pd.to_datetime(micros * 1000)
            tz = getattr(pdf[ts_col].dtype, "tz", None)
            if tz is not None:
                stamped = stamped.tz_localize(tz)
            if status:
                pdf["throttled"] = out > times + 1e-9
            pdf[ts_col] = pd.Series(stamped, index=pdf.index)
            if has_cost_col:
                pdf = pdf.drop(columns=["__ek_cost"])
            yield pdf

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name != "__ek_cost"
    )
    if status:
        out_schema += ", throttled boolean"
    df = _arranged(src, key_cols, seq_col).mapInPandas(kernel, schema=out_schema)
    return ef._with(df=df.select(*out_cols))


def _make_scan():
    # factory for the by-value cloudpickle rationale of _worker.py: the
    # batch fold kernel and the stream fold handler both ship it
    def _scan(step, st, x, out, starts=()):
        """Fold ``step`` over the non-empty float64 array ``x`` from the
        carried state ``st`` (None before a key's first row). Returns
        the last state and one array per ``out`` ``(name, sql type)``
        column, doubles rounded by ``_round6``. At each index in
        ``starts`` a new key's run begins and the state restarts from
        None."""
        import numpy as np

        rows = []
        bounds = [0, *starts, len(x)]
        for lo, hi in zip(bounds, bounds[1:]):
            if lo:
                st = None
            for v in x[lo:hi]:
                st, o = step(st, v)
                rows.append(o)
        cols = {}
        for (name, typ), col in zip(out, zip(*rows)):
            if typ == "double":
                cols[name] = _round6(np.array(col, dtype=np.float64))
            else:
                cols[name] = np.array(col, dtype=bool)
        return st, cols

    return _scan


_scan = _make_scan()


def _fold(ef, step, out):
    """The batch driver of a one-double-in recurrence: ``step(st, x) ->
    (st, row outputs)`` folded over each key's rows in sequence order,
    appending the ``out`` ``(name, sql type)`` columns.

    One Arrow-batched linear pass per key partition, fully parallel
    across keys; unkeyed degrades to a single task (the reference's own
    total-order semantics). Keys arrive contiguous, so the kernel
    carries one key's state at a time, across Arrow batch splits too."""
    value_col = ef.value_cols[0]
    key_cols = list(ef.key_cols)
    src = ef.df

    def kernel(batches):
        _worker_prologue()
        cur_key, st = object(), None  # sentinel unequal to any real key
        for pdf in batches:
            if not len(pdf):
                continue
            x = pdf[value_col].to_numpy(dtype="float64")
            keys = (list(zip(*[pdf[k].to_numpy() for k in key_cols])) if key_cols
                    else [()] * len(pdf))
            if keys[0] != cur_key:
                st = None
            starts = [i for i in range(1, len(keys)) if keys[i] != keys[i - 1]]
            cur_key = keys[-1]
            st, cols = _scan(step, st, x, out, starts)
            res = pdf.copy()
            for name, arr in cols.items():
                res[name] = arr
            yield res

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
    ) + "".join(f", {name} {typ}" for name, typ in out)
    df = _arranged(src, key_cols, ef.seq_col).mapInPandas(kernel, schema=out_schema)
    return ef._with(df=df, value_cols=[*ef.value_cols, *(name for name, _ in out)])


_CUSUM_OUT = (("cusum_hi", "double"), ("cusum_lo", "double"), ("alarm", "boolean"))
_HOLT_OUT = (("level", "double"), ("trend", "double"), ("forecast", "double"))
_KALMAN_OUT = (("kf_x", "double"), ("kf_p", "double"), ("kf_gain", "double"))


def _make_cusum_step(target: float, h: float, slack: float, reset: bool):
    """CUSUM's recurrence as one step over ``(hi, lo)``, seeded
    ``(0, 0)``; outputs ``(hi, lo, alarm)``."""
    kt, kh, kk = float(target), float(h), float(slack)

    def step(st, x):
        ph, pl = (0.0, 0.0) if st is None else st
        nh = max(0.0, ph + (x - kt) - kk)
        nl = max(0.0, pl - (x - kt) - kk)
        a = nh > kh or nl > kh
        return ((0.0, 0.0) if (a and reset) else (nh, nl)), (nh, nl, a)

    return step


def cusum(ef, target: float, h: float, slack: float = 0.0, reset: bool = True):
    """Two-sided CUSUM control chart (Page 1954) per key: the classic
    sequential change-point detector.

        hi_i = max(0, hi_{i-1} + (x_i - target) - slack)
        lo_i = max(0, lo_{i-1} - (x_i - target) - slack)
        alarm_i = hi_i > h  or  lo_i > h

    ``reset=True`` (the restart convention) zeroes both accumulators
    after an alarm so each drift episode fires once. The clamped
    recurrence is NOT linear (unlike EMA), so no closed-form window
    scan exists — this is exactly the sequential-kernel lane
    (SURVEY.md §4.2): one Arrow-batched linear pass per key partition,
    fully parallel across keys, state carried across batch splits;
    unkeyed degrades to a single task (the reference's own total-order
    semantics). Adds ``cusum_hi`` / ``cusum_lo`` (rounded 6) and
    ``alarm`` columns.

    Reference analog: none (the reference cuts/thins streams; this is
    the monitoring primitive the engine adds next to ``anomaly``).
    """
    return _fold(ef, _make_cusum_step(target, h, slack, reset), _CUSUM_OUT)


def _make_holt_step(alpha: float, beta: float):
    """Holt's recurrence as one step over ``(level, trend)``; outputs
    ``(level, trend, level + trend)``."""
    a = float(alpha)
    b = float(beta)
    one_a = 1.0 - a
    one_b = 1.0 - b

    def step(st, x):
        if st is None:
            nl, nt = x, 0.0
        else:
            pl, pt = st
            nl = a * x + one_a * (pl + pt)
            nt = b * (nl - pl) + one_b * pt
        return (nl, nt), (nl, nt, nl + nt)

    return step


def holt(ef, alpha: float = 0.5, beta: float = 0.3):
    """Holt double-exponential smoothing per key (level + trend — the
    classic short-horizon forecasting primitive next to ``ema``):

        level_i = alpha*x_i + (1-alpha)*(level_{i-1} + trend_{i-1})
        trend_i = beta*(level_i - level_{i-1}) + (1-beta)*trend_{i-1}

    seeded level_1 = x_1, trend_1 = 0. Adds ``level`` / ``trend`` /
    ``forecast`` (= level + trend, the one-step-ahead prediction),
    each rounded to 6.

    The COUPLED two-state recurrence has no single-column window form
    (EMA's trick scans one state), so it runs in the sequential-kernel
    lane (SURVEY.md §4.2): one Arrow-batched linear pass per key
    partition, state carried across batch splits, fully parallel
    across keys; unkeyed degrades to a single task. The float ops are
    written in one fixed order (and ``1-alpha`` / ``1-beta`` derived
    the same way in the oracle) so a recursive-CTE replay is
    bit-identical.
    """
    return _fold(ef, _make_holt_step(alpha, beta), _HOLT_OUT)


def _make_kalman_step(q: float, r: float, p0: float):
    """The 1-D Kalman recurrence as one step over ``(x, p)``; outputs
    ``(x, p, gain)``."""
    kq, kr, kp0 = float(q), float(r), float(p0)

    def step(st, z):
        if st is None:
            nx, np_, nk = z, kp0, 0.0
        else:
            px, pp = st
            pm = pp + kq
            nk = pm / (pm + kr)
            nx = px + nk * (z - px)
            np_ = (1.0 - nk) * pm
        return (nx, np_), (nx, np_, nk)

    return step


def kalman1d(ef, q: float = 0.01, r: float = 1.0, p0: float = 1.0):
    """1-D Kalman filter per key (random-walk state, direct noisy
    observation — the classic smoother/tracker next to ``ema``/``holt``):

        p_i^-  = p_{i-1} + q          (predict variance)
        k_i    = p_i^- / (p_i^- + r)  (gain)
        x_i    = x_{i-1} + k_i*(z_i - x_{i-1})
        p_i    = (1 - k_i) * p_i^-

    seeded x_1 = z_1, p_1 = p0. ``q`` is process noise, ``r``
    observation noise. Adds ``kf_x`` (the filtered estimate), ``kf_p``
    (posterior variance) and ``kf_gain`` — each rounded half-away to 6.

    The gain makes the recurrence nonlinear in state (a division), so
    no window form exists: sequential-kernel lane, one Arrow pass per
    key partition, cross-batch state carry, recursive-CTE oracle in
    the same float-op order.
    """
    return _fold(ef, _make_kalman_step(q, r, p0), _KALMAN_OUT)
