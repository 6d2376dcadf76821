"""Sequential stateful kernels that have no window-function form.

Two operators in the reference are true sequential recurrences
(SURVEY.md §4.2): Throttle's re-timestamping (eventkit/ops/timing.py:104-184)
and exact EMA for streams too long for the closed-form window scan
(eventkit/ops/aggregate.py:95-111). Both run as Arrow-batched
``applyInPandas`` kernels: one linear scan per key partition — fully
parallel across keys, O(n) per key, no driver collection. For unkeyed
(globally ordered) streams they degrade to a single task, same as the
reference's single process.
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

    src = ef.df
    if cost_expr is not None:
        src = src.withColumn("__ek_cost", cost_expr.cast("double"))
    value_cols = list(src.columns)
    out_cols = [c for c in value_cols if c != "__ek_cost"] + (
        ["throttled"] if status else []
    )
    key_cols = list(ef.key_cols)
    has_cost_col = cost_expr is not None

    class _KeyState:
        __slots__ = ("window", "used", "last_emit", "si", "maximum", "interval")

        def __init__(self):
            from collections import deque

            self.window = deque()  # (emit_time, cost)
            self.used = 0.0
            self.last_emit = -float("inf")
            self.si = 0  # next pending limit_changes index
            self.maximum = maximum
            self.interval = interval

    def _run(times, costs, st: _KeyState):
        out = times.copy()
        window, used, last_emit = st.window, st.used, st.last_emit
        mx, iv, si = st.maximum, st.interval, st.si
        for i in range(len(out)):
            c = costs[i] if costs is not None else cost
            # FIFO: a queued row cannot emit before its predecessor
            t = max(times[i], last_emit)
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
            out[i] = t
            last_emit = t
            window.append((t, c))
            used += c
        st.used, st.last_emit = used, last_emit
        st.maximum, st.interval, st.si = mx, iv, si
        return out

    def kernel(batches):
        # per-PARTITION kernel handling many keys per Arrow batch: with
        # thousands of small keys, per-group applyInPandas pays one
        # Python/Arrow round trip per key; mapInPandas over
        # repartition+sortWithinPartitions pays one per batch. Keys are
        # contiguous (sorted), but Arrow may split one key across
        # batches — state carries over via (cur_key, cur_state).
        import numpy as np

        _worker_prologue()
        cur_key = object()  # sentinel unequal to any real key
        cur_state = _KeyState()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            times = pdf[ts_col].astype("int64").to_numpy() / 1e9  # epoch s
            costs = pdf["__ek_cost"].to_numpy() if has_cost_col else None
            out = np.empty_like(times)
            if key_cols:
                keys = pdf[key_cols[0]].to_numpy() if len(key_cols) == 1 else list(
                    zip(*[pdf[k].to_numpy() for k in key_cols])
                )
                start = 0
                for i in range(1, len(times) + 1):
                    if i == len(times) or keys[i] != keys[start]:
                        if keys[start] != cur_key:
                            cur_key = keys[start]
                            cur_state = _KeyState()
                        out[start:i] = _run(
                            times[start:i],
                            costs[start:i] if costs is not None else None,
                            cur_state,
                        )
                        start = i
            else:
                out[:] = _run(times, costs, cur_state)
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
    if key_cols:
        arranged = src.repartition(*[F.col(k) for k in key_cols]).sortWithinPartitions(
            *key_cols, seq_col
        )
    else:
        arranged = src.coalesce(1).sortWithinPartitions(seq_col)
    df = arranged.mapInPandas(kernel, schema=out_schema)
    return ef._with(df=df.select(*out_cols))


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
    import numpy as np

    value_col = ef.value_cols[0]
    seq_col = ef.seq_col
    key_cols = list(ef.key_cols)
    src = ef.df
    kt = float(target)
    kk = float(slack)
    kh = float(h)

    def kernel(batches):
        _worker_prologue()
        state = {}  # key tuple -> (hi, lo); carries across batch splits
        for pdf in batches:
            if not len(pdf):
                continue
            x = pdf[value_col].to_numpy(dtype="float64")
            if key_cols:
                keys = list(zip(*[pdf[k].to_numpy() for k in key_cols]))
            else:
                keys = [()] * len(pdf)
            hi = np.empty(len(x))
            lo = np.empty(len(x))
            al = np.empty(len(x), dtype=bool)
            for i in range(len(x)):
                ph, pl = state.get(keys[i], (0.0, 0.0))
                nh = max(0.0, ph + (x[i] - kt) - kk)
                nl = max(0.0, pl - (x[i] - kt) - kk)
                a = nh > kh or nl > kh
                hi[i], lo[i], al[i] = nh, nl, a
                state[keys[i]] = (0.0, 0.0) if (a and reset) else (nh, nl)
            out = pdf.copy()
            out["cusum_hi"] = _round6(hi)
            out["cusum_lo"] = _round6(lo)
            out["alarm"] = al
            yield out

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
    ) + ", cusum_hi double, cusum_lo double, alarm boolean"
    if key_cols:
        arranged = src.repartition(*[F.col(k) for k in key_cols]).sortWithinPartitions(
            *key_cols, seq_col
        )
    else:
        arranged = src.coalesce(1).sortWithinPartitions(seq_col)
    df = arranged.mapInPandas(kernel, schema=out_schema)
    return ef._with(df=df, value_cols=[*ef.value_cols, "cusum_hi", "cusum_lo", "alarm"])


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
    import numpy as np

    value_col = ef.value_cols[0]
    seq_col = ef.seq_col
    key_cols = list(ef.key_cols)
    src = ef.df
    a = float(alpha)
    b = float(beta)
    one_a = 1.0 - a
    one_b = 1.0 - b

    def kernel(batches):
        _worker_prologue()
        state = {}  # key tuple -> (level, trend)
        for pdf in batches:
            if not len(pdf):
                continue
            x = pdf[value_col].to_numpy(dtype="float64")
            if key_cols:
                keys = list(zip(*[pdf[k].to_numpy() for k in key_cols]))
            else:
                keys = [()] * len(pdf)
            lv = np.empty(len(x))
            tr = np.empty(len(x))
            for i in range(len(x)):
                prev = state.get(keys[i])
                if prev is None:
                    nl, nt = x[i], 0.0
                else:
                    pl, pt = prev
                    nl = a * x[i] + one_a * (pl + pt)
                    nt = b * (nl - pl) + one_b * pt
                lv[i], tr[i] = nl, nt
                state[keys[i]] = (nl, nt)
            out = pdf.copy()
            out["level"] = _round6(lv)
            out["trend"] = _round6(tr)
            out["forecast"] = _round6(lv + tr)
            yield out

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
    ) + ", level double, trend double, forecast double"
    if key_cols:
        arranged = src.repartition(*[F.col(k) for k in key_cols]).sortWithinPartitions(
            *key_cols, seq_col
        )
    else:
        arranged = src.coalesce(1).sortWithinPartitions(seq_col)
    df = arranged.mapInPandas(kernel, schema=out_schema)
    return ef._with(df=df, value_cols=[*ef.value_cols, "level", "trend", "forecast"])


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
    import numpy as np

    value_col = ef.value_cols[0]
    seq_col = ef.seq_col
    key_cols = list(ef.key_cols)
    src = ef.df
    kq, kr, kp0 = float(q), float(r), float(p0)

    def kernel(batches):
        _worker_prologue()
        state = {}  # key tuple -> (x, p)
        for pdf in batches:
            if not len(pdf):
                continue
            z = pdf[value_col].to_numpy(dtype="float64")
            if key_cols:
                keys = list(zip(*[pdf[k].to_numpy() for k in key_cols]))
            else:
                keys = [()] * len(pdf)
            xs = np.empty(len(z))
            ps = np.empty(len(z))
            ks = np.empty(len(z))
            for i in range(len(z)):
                prev = state.get(keys[i])
                if prev is None:
                    nx, np_, nk = z[i], kp0, 0.0
                else:
                    px, pp = prev
                    pm = pp + kq
                    nk = pm / (pm + kr)
                    nx = px + nk * (z[i] - px)
                    np_ = (1.0 - nk) * pm
                xs[i], ps[i], ks[i] = nx, np_, nk
                state[keys[i]] = (nx, np_)
            out = pdf.copy()
            out["kf_x"] = _round6(xs)
            out["kf_p"] = _round6(ps)
            out["kf_gain"] = _round6(ks)
            yield out

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
    ) + ", kf_x double, kf_p double, kf_gain double"
    if key_cols:
        arranged = src.repartition(*[F.col(k) for k in key_cols]).sortWithinPartitions(
            *key_cols, seq_col
        )
    else:
        arranged = src.coalesce(1).sortWithinPartitions(seq_col)
    df = arranged.mapInPandas(kernel, schema=out_schema)
    return ef._with(df=df, value_cols=[*ef.value_cols, "kf_x", "kf_p", "kf_gain"])
