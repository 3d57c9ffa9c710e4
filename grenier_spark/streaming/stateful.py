"""Custom stateful streaming operators: per-key sketch state maintained in
the Structured Streaming state store via ``applyInPandasWithState``.

Complements streaming/incremental.py (foreachBatch + checkpoint table):
here the serialized sketch lives IN the state store, keyed by the group
column, and every trigger emits the refreshed estimate per key — the shape
you want for a live "distinct tokens per source" dashboard over a document
firehose. State is the grenier wire format (KB-sized), so the state store
stays tiny regardless of token volume.

Every operator is one call of :func:`_fold`, the one state-store loop. Per
trigger and key it loads the state or makes a new one through the kind
table (``operators.sketch_build.KINDS``), concatenates the trigger's
chunks, stable-sorts them by ``order_col`` when the operator takes one,
reads the values with ``operators.sketch_build._pandas_values`` and
updates with the batch build's kernels, stores the state as
``sketch binary`` plus the operator's counters, and emits. The value
reader is the pandas twin of the batch build's Arrow readers: NULL cells
and NULL/NaN array elements drop, and int64 keys pass one exactness guard
— so a stream feeds its sketch the values the batch build would. The
lossy counter is not a table kind; it plugs its own state row into the
same loop.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

from ..core import hll
from ..operators.sketch_build import _pandas_values, get_kind


@dataclass(frozen=True)
class _Store:
    """How a state lives in the state store: ``schema`` is the DDL of the
    state row's head, ``new()``/``load(head)``/``dump(state)`` make, read
    and write it, ``update(state, values)`` folds values read to
    ``dtype``."""

    schema: str
    dtype: object
    new: Callable
    load: Callable
    dump: Callable
    update: Callable


def _kind_store(kind: str, **params) -> _Store:
    """A kind-table state, stored as its wire bytes. The closures look
    the kind up by name on the worker (a ``Kind`` row does not pickle)."""
    return _Store("sketch binary", get_kind(kind).dtype,
                  lambda: get_kind(kind).new(params),
                  lambda head: get_kind(kind).load(bytes(head[0])),
                  lambda s: (s.to_bytes(),),
                  lambda s, v: get_kind(kind).update(s, v))


def _finite_nonneg(v: np.ndarray) -> np.ndarray:
    return np.isfinite(v) & (v >= 0)


def _fold(src, keys: "list[str]", where: str, store: _Store,
          cols: "str | list[str]", emit: Callable, out_schema: str,
          counters: "dict[str, Callable] | None" = None,
          order_col: "str | None" = None, keep: "Callable | None" = None,
          timeout: "Callable | None" = None):
    """The one state-store loop behind every operator: ``src`` grouped by
    ``keys`` through ``applyInPandasWithState``.

    Per trigger and key: load the state or make a new one, concatenate
    the non-empty chunks, stable-sort them by ``order_col``, read ``cols``
    with :func:`_pandas_values`, drop the values ``keep`` masks out (the
    stream's own drop rule: a bad record must not wedge a checkpointed
    query by raising on every replay), update, then store the state row
    ``(*store.dump(state), *counters)``. Each counter is a bigint that
    grows by ``counters[name](rows, values)``. ``emit(key, state,
    counters)`` returns the output rows, or None.

    ``timeout(key)`` (epoch ms) makes it an append-mode event-time
    operator: an update arms that timeout and emits nothing; a timed-out
    key is emitted and evicted."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if order_col is not None and order_col not in src.columns:
        raise ValueError(
            f"{where}: order_col {order_col!r} not in the stream "
            f"({src.columns}) — rows within a trigger would reach the "
            f"sketch in Arrow-chunk order, so the result would silently "
            f"depend on chunking")
    counters = counters or {}
    n_c = len(counters)
    state_schema = ", ".join([store.schema]
                             + [f"{c} bigint" for c in counters])

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            row = tuple(state.get)
            s = store.load(row[:len(row) - n_c])
            ctr = [int(c) for c in row[len(row) - n_c:]]
        else:
            s, ctr = store.new(), [0] * n_c
        if state.hasTimedOut:
            state.remove()
        else:
            chunks = [pdf for pdf in pdfs if len(pdf)]
            if chunks:
                rows = pd.concat(chunks, ignore_index=True)
                if order_col is not None:
                    rows = rows.sort_values(order_col, kind="stable")
                values = _pandas_values(rows[cols], store.dtype, where)
                if keep is not None:
                    values = values[keep(values)]
                store.update(s, values)
                ctr = [c + f(rows, values)
                       for c, f in zip(ctr, counters.values())]
            state.update((*store.dump(s), *ctr))
            if timeout is not None:
                state.setTimeoutTimestamp(timeout(key))
                return
        out = emit(key, s, ctr)
        if out is not None:
            yield out

    return src.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema,
        "update" if timeout is None else "append",
        GroupStateTimeout.NoTimeout if timeout is None
        else GroupStateTimeout.EventTimeTimeout)


def hll_state_stream(stream_df, group_col: str, tokens_col: str = "tokens",
                     p: int = 12):
    """(group, est_distinct, n_docs, n_tokens) per trigger per updated key.
    NULL tokens cells count as docs with no tokens (a poison row that
    raised would be REPLAYED from the checkpoint on every restart); NULL
    token elements drop, as in the batch build.

    Usage::

        out = hll_state_stream(stream, "source", "tokens", p=12)
        q = (out.writeStream.outputMode("update").format("memory")
                .queryName("live").start())
    """
    return _fold(
        stream_df, [group_col], "hll_state_stream", _kind_store("hll", p=p),
        tokens_col,
        lambda key, s, c: pd.DataFrame({
            group_col: [key[0]], "est_distinct": [hll.card(s.t)],
            "n_docs": [c[0]], "n_tokens": [c[1]]}),
        f"{group_col} string, est_distinct double, n_docs bigint, "
        "n_tokens bigint",
        counters={"n_docs": lambda rows, v: len(rows),
                  "n_tokens": lambda rows, v: len(v)})


def lossy_state_stream(stream_df, group_col: str, tokens_col: str = "tokens",
                       support: float = 0.01,
                       error_tolerance: float = 0.001,
                       order_col: str = "doc_id"):
    """Streaming heavy hitters: per-group single-stream lossy counting
    (reference countish/lossy.ml semantics, core/countish.py quirks kept)
    whose summary lives in the state store as parallel (token, f, delta)
    arrays + n — KB-sized regardless of token volume.

    Each trigger extends the SAME counter, so the state after k triggers
    equals a batch counter fed the concatenated stream (asserted vs the
    numpy counter in tests, including across a query restart). Rows within
    a trigger are processed in ``order_col`` order, making the per-trigger
    update deterministic under Arrow chunking (a stream without
    ``order_col`` raises ValueError at construction); NULL tokens cells
    and NULL token elements drop. Emission per trigger is the current
    report: tokens with ``(f + delta)/n >= support`` as
    (group, token, est_freq, f, n) in update mode.
    """
    from ..core.countish import LossyCounter

    def load(head):
        toks, fs, deltas, n = head
        lc = LossyCounter(support, error_tolerance)
        lc.n = int(n)
        lc.f = {int(t): float(v) for t, v in zip(toks, fs)}
        lc.delta = {int(t): float(v) for t, v in zip(toks, deltas)}
        return lc

    def dump(lc):
        items = sorted(lc.f)
        return ([int(t) for t in items], [float(lc.f[t]) for t in items],
                [float(lc.delta[t]) for t in items], lc.n)

    def emit(key, lc, _):
        n = float(lc.n) if lc.n else 1.0
        rep = [(t, (lc.f[t] + lc.delta[t]) / n, int(lc.f[t]), lc.n)
               for t in sorted(lc.f) if (lc.f[t] + lc.delta[t]) / n >= support]
        return pd.DataFrame({group_col: [key[0]] * len(rep),
                             "token": [r[0] for r in rep],
                             "est_freq": [r[1] for r in rep],
                             "f": [r[2] for r in rep],
                             "n": [r[3] for r in rep]})

    store = _Store("tokens array<bigint>, fs array<double>, "
                   "deltas array<double>, n bigint", np.int64,
                   lambda: LossyCounter(support, error_tolerance), load,
                   dump, lambda lc, v: lc.observe_batch(v))
    return _fold(stream_df, [group_col], "lossy_state_stream", store,
                 tokens_col, emit,
                 f"{group_col} string, token bigint, est_freq double, "
                 "f bigint, n bigint", order_col=order_col)


def moments_state_stream(stream_df, group_col: str,
                         value_col: str = "value",
                         order_col: str = "event_id"):
    """Streaming running moments: per-group count + error-free dd sums of
    x..x^4 (core/doubledouble.Moments) living in the state store as its
    76-byte ``mom`` wire bytes — the streaming profile of a value column
    (live mean / variance / skew / kurtosis per key), exactly-once via
    the engine's state checkpointing.

    Each trigger extends the SAME summary, so after k triggers the state
    equals a batch Moments fed the concatenated per-trigger streams
    (asserted byte-for-byte in tests — ``order_col`` sorts rows within a
    trigger so the dd reduction order is deterministic under Arrow
    chunking; NULL values drop, matching the batch build). Emission per
    trigger: (group, n, mean, variance, skew, kurtosis) in update mode.
    """

    def emit(key, m, _):
        n, mean, var, skew, kurt = m.stats()
        return pd.DataFrame({group_col: [key[0]], "n": [n],
                             "mean": [mean], "variance": [var],
                             "skew": [skew], "kurtosis": [kurt]})

    return _fold(stream_df, [group_col], "moments_state_stream",
                 _kind_store("mom"), value_col, emit,
                 f"{group_col} string, n bigint, mean double, "
                 "variance double, skew double, kurtosis double",
                 order_col=order_col)


def _quantile_rows(group_col: str, qs, emit_state: bool, estimates):
    """Emission of the quantile streams: one ``(group, n, q, est)`` row
    per requested quantile, plus the state bytes when ``emit_state``;
    nothing for a sketch with no values yet (quantiles undefined)."""

    def emit(key, s, _):
        if not s.n:
            return None
        out = {group_col: key[0], "n": s.n, "q": list(qs),
               "est": estimates(s)}
        if emit_state:
            out["sketch"] = [s.to_bytes()] * len(qs)
        return pd.DataFrame(out)

    schema = f"{group_col} string, n bigint, q double, est double"
    return emit, schema + (", sketch binary" if emit_state else "")


def ddsketch_state_stream(stream_df, group_col: str,
                          value_col: str = "value", alpha: float = 0.01,
                          qs: "tuple[float, ...]" = (0.25, 0.5, 0.9),
                          emit_state: bool = False):
    """Streaming running quantiles: one DDSketch (core/ddsketch.py,
    Masson et al. VLDB 2019) per group living in the state store.

    DDSketch is the ORDER-INSENSITIVE quantile kind — its state is a pure
    log-bucket histogram and merge is bucket-wise count addition — so
    after any number of triggers the state bytes are EXACTLY the batch
    build over the concatenated stream (asserted byte-for-byte in
    tests/test_ddsketch.py): no order column, no Arrow-chunk sensitivity,
    unlike the kll/tdigest kinds whose compactions are order-dependent.
    Consequently every emitted estimate is the one
    ``sql_oracles.dd_quantile_sql`` recomputes value-exactly — the only
    streaming quantile surface whose numbers a SQL engine can reproduce
    bit-for-bit.

    Emission per trigger: one row per requested quantile
    ``(group, n, q, est)``. NULL values drop (matching the batch build's
    isNotNull filter); negative and non-finite values drop too, where the
    batch build raises (in a stream the raise would wedge the query: the
    checkpointed batch retries and re-fails). A group whose values so far
    all dropped keeps its state but emits nothing (quantiles of an empty
    sketch are undefined). State size is bounded by log_gamma(max/min)
    buckets (~KB at alpha=0.01) regardless of stream length.
    ``emit_state=True`` additionally emits the serialized sketch bytes on
    every row — the byte-identity claim is asserted against the batch
    build through this surface in tests."""
    emit, out_schema = _quantile_rows(
        group_col, qs, emit_state, lambda s: [s.quantile(q) for q in qs])
    return _fold(stream_df, [group_col], "ddsketch_state_stream",
                 _kind_store("dd", alpha=alpha), value_col, emit,
                 out_schema, keep=_finite_nonneg)


def req_state_stream(stream_df, group_col: str, value_col: str = "value",
                     k: int = 32, qs: "tuple[float, ...]" = (0.9, 0.99),
                     order_col: str = "event_id",
                     emit_state: bool = False):
    """Streaming TAIL quantiles: one REQ sketch (core/req.py, PODS 2021)
    per group in the state store — the live p99/p999 surface whose rank
    error shrinks multiplicatively toward the tail and whose running
    maximum is EXACT.

    REQ compaction is order-sensitive (like kll, unlike dd), so
    ``order_col`` sorts rows within each trigger to pin the update order
    under Arrow chunking; the result is deterministic given the trigger
    split, and the PODS'21 rank guarantee holds for the concatenated
    stream regardless (gated in the driver query by multiplicative
    rank-band booleans against the exact batch quantiles). NULL values
    drop, matching the batch build. Emission per trigger: one row per
    requested quantile ``(group, n, q, est)``; ``emit_state=True`` adds
    the serialized sketch bytes per row so tests can assert the
    state == order-pinned batch twin byte contract directly."""
    emit, out_schema = _quantile_rows(
        group_col, qs, emit_state, lambda s: s.quantiles(list(qs)))
    return _fold(stream_df, [group_col], "req_state_stream",
                 _kind_store("req", k=k), value_col, emit, out_schema,
                 order_col=order_col)


def windowed_hll_stream(stream_df, ts_col: str, group_col: str,
                        key_col: str, window: str = "1 hour",
                        watermark: str = "10 minutes", p: int = 12):
    """Event-time tumbling-window distinct estimates with WATERMARK-driven
    finalization: state is keyed by (group, window); when the watermark
    passes a window's end, its sketch is finalized, emitted once (append
    mode) and evicted from the state store. Late rows behind the watermark
    are dropped by Spark before they reach the operator — the standard
    late-data contract, here applied to a custom sketch aggregate. NULL
    keys drop but count toward ``n_rows``.

    Returns an append-mode stream of
    (group, win_start, win_end, est_distinct, n_rows).
    """
    from pyspark.sql import functions as F

    # Window bounds reach the state function as NAIVE datetimes rendered in
    # the SESSION timezone (withWatermark only accepts TIMESTAMP — Spark
    # rejects TIMESTAMP_NTZ event time with EVENT_TIME_IS_NOT_ON_TIMESTAMP_
    # TYPE, so LTZ is the only case). datetime.timestamp() would interpret
    # them in the worker's OS timezone instead; localize explicitly with
    # the session tz captured on the driver. Offset styles ('+08:00',
    # 'GMT+8') are valid session tzs that ZoneInfo rejects, hence the
    # fallback parser.
    import datetime as _dt
    import re as _re

    try:
        session_tz = stream_df.sparkSession.conf.get(
            "spark.sql.session.timeZone")
    except Exception:
        session_tz = None

    def _tzinfo(name):
        try:
            from zoneinfo import ZoneInfo

            return ZoneInfo(name)
        except Exception:
            m = _re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?",
                              name or "")
            if m:
                sign = 1 if m.group(1) == "+" else -1
                return _dt.timezone(sign * _dt.timedelta(
                    hours=int(m.group(2)), minutes=int(m.group(3) or 0)))
            if name in ("UTC", "GMT", "Z", "Etc/UTC"):
                return _dt.timezone.utc
            # fail FAST on the driver: a silent UTC fallback would finalize
            # every window hours off (or crash workers on a timeout below
            # the watermark)
            raise ValueError(
                f"cannot resolve session timezone {name!r} for event-time "
                f"timeouts (no tzdata?); set spark.sql.session.timeZone to "
                f"a resolvable zone or a fixed offset")

    tz = _tzinfo(session_tz) if session_tz else _dt.timezone.utc

    def _epoch_ms(naive_dt) -> int:
        # fold=1: at a DST fall-back the naive window end is ambiguous
        # (two instants, 1h apart). Resolve to the LATER one — a timeout
        # an hour late just delays the append emission by an hour once a
        # year, while the earlier instant would fire BEFORE the watermark
        # truly passed (emitting a window missing an hour of data, or
        # crashing on setTimeoutTimestamp-below-watermark when the state
        # is recreated).
        return int(naive_dt.replace(tzinfo=tz, fold=1).timestamp() * 1000)

    # the watermarked event-time column must survive into the stateful
    # operator's child plan, so keep ts_col in the projection
    src = (stream_df
           .withWatermark(ts_col, watermark)
           .withColumn("win", F.window(ts_col, window))
           .select(group_col, F.col("win.start").alias("win_start"),
                   F.col("win.end").alias("win_end"), key_col, ts_col))

    return _fold(
        src, [group_col, "win_start", "win_end"], "windowed_hll_stream",
        _kind_store("hll", p=p), key_col,
        lambda key, s, c: pd.DataFrame({
            group_col: [key[0]], "win_start": [key[1]],
            "win_end": [key[2]], "est_distinct": [hll.card(s.t)],
            "n_rows": [c[0]]}),
        f"{group_col} string, win_start timestamp, win_end timestamp, "
        "est_distinct double, n_rows bigint",
        counters={"n_rows": lambda rows, v: len(rows)},
        # finalize when the event-time watermark passes the window end
        timeout=lambda key: _epoch_ms(key[2]))


def kll_drift_stream(stream_df, group_col: str, baseline: "dict[str, bytes]",
                     value_col: str = "value", k: int = 200):
    """Live distribution-drift monitor — the streaming face of
    ``operators/drift.py``: one KLL per group lives in the state store;
    every trigger emits the two-sample KS statistic between the group's
    LIVE sketch and a pinned BASELINE sketch (``baseline``: group key ->
    serialized KLL blob, e.g. a ``build_sketches`` pass over the
    reference corpus). The ingest-monitoring question "has this source's
    value distribution moved off the reference" answered per micro-batch
    with the KLL rank-guarantee error budget
    ``|ks - ks_exact| <= eps_live + eps_baseline``.

    Emission per trigger: ``(group, n, ks)`` for groups present in the
    baseline (a group with no baseline accumulates state silently — it
    has nothing to compare against; pin a baseline and the next trigger
    starts emitting). NULL/NaN values drop (KLL skips NaN); +/-inf drops
    here too — in a stream a poisoned tail quantile would wedge every
    subsequent KS, the same loud-batch/quiet-stream split as
    ``ddsketch_state_stream``. The baseline dict rides the task closure:
    KB per group, so bound the group count (~10^4 keys = ~10 MB) — for
    larger keyspaces broadcast a map-side join table instead.

    KLL compaction is order-sensitive, so the state bytes are
    deterministic per trigger schedule, not byte-stable across replans —
    the emitted KS is ESTIMATE-level gated (the guarantee band), exactly
    like the batch ``ks_sketch_report``."""
    from ..operators.drift import kll_ks

    def emit(key, s, _):
        base = baseline.get(key[0])
        if s.n and base is not None:
            return pd.DataFrame({group_col: [key[0]], "n": [s.n],
                                 "ks": [kll_ks(s.to_bytes(), base)]})
        return None

    return _fold(stream_df, [group_col], "kll_drift_stream",
                 _kind_store("kll", k=k, seed=7), value_col, emit,
                 f"{group_col} string, n bigint, ks double",
                 keep=np.isfinite)


def _dd_pair_stream(stream_df, group_col, baseline, value_col, alpha,
                    where, stat, pair):
    """The dd drift monitors: ``(group, n, n_bins, <stat>)`` from
    ``pair(live, baseline)`` -> (n_bins, value), for groups with a
    baseline."""

    def emit(key, s, _):
        base = baseline.get(key[0])
        if s.n and base is not None:
            n_bins, val = pair(s, get_kind("dd").load(bytes(base)))
            return pd.DataFrame({group_col: [key[0]], "n": [int(s.n)],
                                 "n_bins": [n_bins], stat: [val]})
        return None

    return _fold(stream_df, [group_col], where,
                 _kind_store("dd", alpha=alpha), value_col, emit,
                 f"{group_col} string, n bigint, n_bins bigint, "
                 f"{stat} double", keep=_finite_nonneg)


def dd_psi_stream(stream_df, group_col: str, baseline: "dict[str, bytes]",
                  value_col: str = "value", alpha: float = 0.25,
                  smooth: float = 0.5):
    """Live PSI monitor — the streaming face of
    ``operators/drift.py psi_sketch_report``: one DDSketch per group in
    the state store; every trigger emits the Population Stability Index
    between the group's LIVE histogram and a pinned BASELINE blob
    (group key -> serialized DDSketch at the SAME alpha). Because
    DDSketch merges are order-insensitive and bucket counts are exact
    integers, the live state equals a batch build over everything
    ingested so far — the streamed PSI is the EXACT PSI of the
    alpha-binning, not an estimate (value-gated round-6 in the driver
    query, unlike the band-gated KLL/KS stream).

    Same contracts as ``kll_drift_stream``: no-baseline groups
    accumulate silently; NULL/NaN/±inf AND negative values drop
    (DDSketch raises on them — in a stream that wedges the checkpointed
    batch forever, the ddsketch_state_stream posture); the baseline
    dict rides the task closure (KB per group — bound the keyspace).
    Emits ``(group, n, n_bins, psi)`` per trigger."""
    from ..operators.drift import dd_psi_pair

    return _dd_pair_stream(stream_df, group_col, baseline, value_col, alpha,
                           "dd_psi_stream", "psi",
                           lambda live, base: dd_psi_pair(live, base, smooth))


def priority_sample_stream(stream_df, group_col: str, k: int,
                           weight_col: str = "w", id_col: str = "doc_id",
                           seed: int = 0):
    """Live mergeable weighted sample — the streaming face of
    ``sketch_build.build_priority_sample``: one PrioritySample top-(k+1)
    state (core/prioritysample.py) per group in the state store.
    Priorities are the SAME deterministic JVM-side md5 chain as every
    batch path (splits._priority_inputs), added here as a projection
    BEFORE the stateful groupBy. The state is order-insensitive (the
    top-(k+1) of the multiset seen so far), so the final-trigger sample,
    tau, and every DLT subset-sum estimate EQUAL a batch build over
    everything ingested — the gate checks tau and the total-weight
    estimate VALUE-exactly against the batch SQL chain (same class as
    the dd/PSI streams, stronger than the band-gated KLL/KS stream).

    Contracts: ids and weights must be INTEGER COLUMNS — checked against
    the stream schema at construction time (plan-time fail-fast, not a
    wedged checkpointed batch; inside a batch, NULL-promoted float64
    values of a long column convert back exactly, or raise from 2^53 on).
    NULL id/weight rows drop and do not count toward n_seen; zero weights
    drop inside the core state and cannot bias estimates. Emits
    ``(group, n_seen, n_sample, tau, est_total)`` per trigger; est_total
    is the DLT estimate of the TOTAL ingested weight (the subset-sum
    estimator at S = everything).
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from ..operators.splits import _priority_inputs

    int_types = (ByteType, ShortType, IntegerType, LongType)
    for c in (id_col, weight_col):
        if not isinstance(stream_df.schema[c].dataType, int_types):
            raise ValueError(
                f"priority_sample_stream: column {c!r} must be an integer "
                f"type, got {stream_df.schema[c].dataType}")

    _, prio = _priority_inputs(id_col, weight_col, seed)

    def emit(key, s, c):
        if not c[0]:
            return None
        return pd.DataFrame({group_col: [key[0]], "n_seen": [c[0]],
                             "n_sample": [len(s.items())], "tau": [s.tau],
                             "est_total": [s.estimate_total()]})

    return _fold(stream_df.withColumn("_prio", prio), [group_col],
                 "priority_sample_stream", _kind_store("ps", k=k),
                 [id_col, weight_col, "_prio"], emit,
                 f"{group_col} string, n_seen bigint, n_sample bigint, "
                 "tau double, est_total double",
                 counters={"n_seen": lambda rows, v: len(v)})


def dd_ks_stream(stream_df, group_col: str, baseline: "dict[str, bytes]",
                 value_col: str = "value", alpha: float = 0.25):
    """Live binned-KS monitor — the VALUE-exact sibling of
    ``kll_drift_stream`` (which band-gates the TRUE KS): one DDSketch
    per group in the state store; every trigger emits the two-sample KS
    of the alpha-quantized distributions between the group's LIVE
    histogram and a pinned BASELINE blob (operators/drift.dd_ks_pair —
    integer bucket cumsums, exact divisions, max; a deterministic lower
    bound of the true KS, exact for the binning). dd state is
    order-insensitive, so the final-trigger statistic equals the batch
    chain bit-for-bit (sql_oracles.dd_ks_sql). Same contracts as
    dd_psi_stream: no-baseline groups accumulate silently; NULL/NaN/inf
    and negative values drop; the baseline dict rides the task closure
    (KB per group). Emits ``(group, n, n_bins, ks)`` per trigger."""
    from ..operators.drift import dd_ks_pair

    return _dd_pair_stream(stream_df, group_col, baseline, value_col, alpha,
                           "dd_ks_stream", "ks", dd_ks_pair)
