"""Distributed two-level sketch build (SURVEY.md §3.2 lifecycle).

Pipeline shape::

    df.select(group_cols + value_cols)           # Catalyst prunes the scan
      .mapInArrow(partial_builder, ...)          # level 1: per-partition
                                                 #   vectorized numpy updates
      [.groupBy(group, name, salt).applyInArrow] # level 2a: fan-in merge,
                                                 #   only when needed
      .groupBy(group, name).applyInArrow         # level 2b: final merge

Level 1 turns token-scale data into sketch-scale rows (one KB-sized state
per (input partition x group x spec)); only sketch-sized rows ever shuffle.
The merge takes ONE stage when the caller shows that no (group, spec) gets
more than ``fanout`` partial rows: the partition count of the level-1
input, read from its plan, or the native reader's ``n_tasks``. Otherwise
(a larger or unknown bound) the salted level 2a first cuts any single
reducer's fan-in to ``fanout`` rows, so the plan survives 100k input
partitions (1000-executor scale) without a single-task funnel. HLL/CMS/Bloom
merges are exact and associative, so the result is BIT-IDENTICAL to a
single-threaded build regardless of partitioning or merge shape
(tests/test_spark_pipeline.py and tests/test_sketch_kinds.py assert this
parity).

Per-partition metrics (partition id, rows, values, build time) ride along in
the partial rows and survive aggregation as sums — the lineage/metrics
surface the checkpoint layer (plans/checkpoint.py) persists.

Per-batch grouping cost: one row argsort + one take per batch, one read per
column (:func:`_read`), then O(1) slices per group — no per-group rescans.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JError
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..core import hll
from ..core.bits import U64
from ..core.bloom import Bloom
from ..core.cuckoo import Cuckoo
from ..core.countmin import CountMin
from ..core.countsketch import CountSketch
from ..core.doubledouble import DDSum, Moments
from ..core.kll import KLL
from ..core.req import REQ
from ..core.freqdirs import FrequentDirections
from ..core.ddsketch import DDSketch
from ..core.kmv import KMV
from ..core.minhash import MinHashSig
from ..core.misragries import MisraGries
from ..core.prioritysample import PrioritySample
from ..core.tdigest import TDigest


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build.

    kind: a key of :data:`KINDS`, the kind table (its rows list every kind
          with its constructor defaults, input class and merge contract).
    column: source column — array<int*> token sequences or a numeric
            scalar column for most kinds, an array<float*> vector column
            for 'fd' (each row one input vector; fixed dim, non-null,
            NaN-free by contract), a struct of the row fields for the
            weighted-rows kinds 'dw' and 'ps'.
    params: kind-specific constructor arguments, via
            ``SketchSpec.of(name, kind, column, p=14)``; omitted ones take
            the defaults in the kind's :data:`KINDS` row.
    """

    name: str
    kind: str
    column: str
    params: "frozenset[tuple]" = field(default_factory=frozenset)

    def __post_init__(self):
        get_kind(self.kind)

    @staticmethod
    def of(name: str, kind: str, column: str, **params) -> "SketchSpec":
        return SketchSpec(name, kind, column, frozenset(params.items()))

    @property
    def p(self) -> dict:
        return dict(self.params)


_CHUNK = 1 << 16   # cache-block hash kernels: wang64/scatter temporaries stay
# L2-resident (measured 3x single-core vs full-width passes)
_VOCAB_LIMIT = 1 << 22  # dictionary-update fast path bound (16 MB bincount)
_HIST_MIN = 8192  # fewer values: a histogram costs more than it saves
# bincount slots per value a histogram may span: at 4 a bincount costs
# about one raw hll update of the same values (measured at 8,192 to
# 262,144 values); sparser ids take the raw update, never a bincount as
# long as their largest id
_HIST_SPAN = 4
_NATIVE_BATCH_ROWS = 1 << 16  # rows per batch the native reader feeds


_TAIL_FIELDS = [
    StructField("sketch_name", StringType(), False),
    StructField("sketch", BinaryType(), False),
    StructField("n_rows", LongType(), False),
    StructField("n_values", LongType(), False),
    StructField("part_id", IntegerType(), False),
    StructField("build_us", LongType(), False),
]


def _read(col: pa.Array, bounds: np.ndarray):
    """THE value reader: ``col`` (rows sorted by group; group g is rows
    ``bounds[g]:bounds[g + 1]``) read to ``(values, value_bounds)``, where
    group g's values are ``values[value_bounds[g]:value_bounds[g + 1]]``.

    List cells flatten (a NULL cell holds nothing); scalar cells are the
    values. NULL elements and float NaN drop, filtered at the Arrow level
    so an int64 column never passes through a nullable-float conversion
    (|v| > 2^53 would mangle). A struct column (the weighted-rows input)
    reads to a record array of its fields, and a row drops when any field
    is NULL or NaN — one joint filter."""
    if pa.types.is_struct(col.type):
        fields = col.flatten()
    elif pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        if col.null_count:
            lens = pc.fill_null(pc.list_value_length(col), 0).to_numpy()
            offsets = np.concatenate([[0], np.cumsum(lens)])
        else:
            offsets = col.offsets.to_numpy()
            offsets = offsets - offsets[0]
        bounds = offsets[bounds]
        fields = [col.flatten()]
    else:
        fields = [col]
    keep = None
    for f in fields:
        if pa.types.is_floating(f.type):   # a NULL reads as NaN
            ok = ~np.isnan(f.to_numpy(zero_copy_only=False))
        elif f.null_count:
            ok = f.is_valid().to_numpy(zero_copy_only=False)
        else:
            continue
        keep = ok if keep is None else keep & ok
    if keep is not None and not keep.all():
        fields = [f.filter(pa.array(keep)) for f in fields]
        kept = np.zeros(len(keep) + 1, dtype=np.int64)
        np.cumsum(keep, out=kept[1:])
        bounds = kept[bounds]
    cols = [f.to_numpy(zero_copy_only=False) for f in fields]
    if pa.types.is_struct(col.type):
        return np.rec.fromarrays(cols), bounds
    return cols[0], bounds


def _histogram(values: np.ndarray):
    """(distinct keys as u64, counts) of one group's values, or None when
    a histogram does not pay: fewer than ``_HIST_MIN`` values, non-integer
    values, a negative one, ``max + 1 >= _VOCAB_LIMIT``, or ids too sparse
    for their count (``max + 1 > _HIST_SPAN * len(values)``). Dense small
    non-negative ids (BPE-style vocabularies) repeat many times per
    batch, and the histogram-taking kinds fold each distinct key once
    with its multiplicity — byte-exact against the raw stream."""
    if len(values) < _HIST_MIN or values.dtype.kind not in "iu":
        return None
    vmax = int(values.max())
    if (vmax + 1 >= _VOCAB_LIMIT or vmax + 1 > _HIST_SPAN * len(values)
            or int(values.min()) < 0):
        return None
    counts = np.bincount(values.astype(np.intp, copy=False))
    keys = np.flatnonzero(counts)
    return keys.astype(np.int64).view(U64), counts[keys]


def _exact_int64(values: np.ndarray, name: str, where: str) -> np.ndarray:
    """``values`` as int64, or a ValueError naming ``name``: the one int64
    exactness guard. Spark's Arrow->pandas hop promotes a nullable bigint
    column to float64; from 2^53 on, low bits are lost before user code
    sees them, and the mangled float still round-trips cleanly, so a float
    passes only when every |value| < 2^53 (where int->float->int is
    injective) and it is integral. Unsigned values must be < 2^63, which a
    bare cast would wrap negative."""
    if values.dtype.kind == "u" and len(values) and \
            int(values.max()) > np.iinfo(np.int64).max:
        raise ValueError(
            f"{where}: column {name!r} holds unsigned values >= 2^63 "
            "that cannot be represented as int64")
    if values.dtype.kind in "iu":
        return values.astype(np.int64, copy=False)
    if np.any(np.abs(values) >= float(1 << 53)):
        raise ValueError(
            f"{where}: column {name!r} arrived float64 (pandas NULL "
            "promotion) with |values| >= 2^53 — low bits may already be "
            "lost upstream and exactness cannot be verified here; filter "
            "NULLs upstream so the column stays int64, or keep it below "
            "2^53")
    as_int = values.astype(np.int64)
    if not np.array_equal(as_int.astype(values.dtype), values):
        raise ValueError(
            f"{where}: column {name!r} holds non-integral float values")
    return as_int


def _typed(values: np.ndarray, dtype, name: str, where: str) -> np.ndarray:
    if values.dtype.kind == "O":  # None elements of object cells
        values = np.array(values[pd.notna(values)].tolist())
    if values.dtype.kind == "f":
        values = values[~np.isnan(values)]
    if dtype is np.int64:
        return _exact_int64(values, name, where)
    return values.astype(dtype, copy=False)


def _pandas_values(cells: "pd.Series | pd.DataFrame", dtype,
                   where: str) -> np.ndarray:
    """The pandas twin of :func:`_read`, for the stateful streams only
    (Spark has no Arrow form of ``applyInPandasWithState``): one column of
    a stream trigger read to the value vector a kind's update takes, under
    the batch build's contract. NULL cells drop; array cells concatenate,
    and their NULL or NaN elements drop; int64 values pass
    :func:`_exact_int64`. A tuple ``dtype`` (a :attr:`Kind.dtype` of the
    weighted-rows kinds) reads struct rows — a Series of dict cells or a
    DataFrame of the fields, one dtype per field — into a record array; a
    row with a NULL or NaN field drops."""
    if isinstance(dtype, tuple):
        if isinstance(cells, pd.Series):
            cells = pd.DataFrame([r for r in cells if r is not None])
        rows = cells.dropna()
        if not len(rows):
            return np.empty(0)
        return np.rec.fromarrays([
            _typed(rows[c].to_numpy(), d, c, where)
            for c, d in zip(rows.columns, dtype)])
    kept = cells.dropna()
    if len(kept) and isinstance(kept.iloc[0], (list, tuple, np.ndarray)):
        values = np.concatenate([np.asarray(v) for v in kept])
    else:
        values = kept.to_numpy()
    return _typed(values, dtype, cells.name, where)


# -- the kind table ----------------------------------------------------------

def _int_keys(state, values: np.ndarray) -> np.ndarray:
    if values.dtype.kind == "f":
        # astype would TRUNCATE floats (1.1 and 1.9 both -> key 1),
        # silently collapsing distinct values; key kinds take integer
        # keys by contract — hash float bits explicitly if that is what
        # you mean
        raise ValueError(
            f"{type(state).__name__} sketch over a float column: key "
            f"kinds need integer keys (cast, or hash the bit pattern)")
    return values.astype(np.int64, copy=False)


def _update_hashed(state, values: np.ndarray) -> None:
    # a batch of dense small non-negative ids (BPE-style vocabularies)
    # touches each id many times: folding ONCE PER DISTINCT id with its
    # multiplicity is byte-exact (max-merge HLL, weighted count-min add,
    # idempotent Bloom/KMV/MinHash) and cuts hash traffic by the
    # batch/vocab ratio
    hist = _histogram(values)
    if hist is not None:
        state.update_batch(*hist)
        return
    keys = _int_keys(state, values).view(U64)
    for s in range(0, len(keys), _CHUNK):
        state.update_batch(keys[s:s + _CHUNK])


def _update_counted(state, values: np.ndarray) -> None:
    # one exact-histogram absorb per batch — the same state transition
    # as the update from _histogram (same histogram)
    state.update_batch(_int_keys(state, values))


def _update_counted_hist(state, keys: np.ndarray, counts: np.ndarray):
    # dense small non-negative ints: the u64 view equals the original
    # int64 values, so counting the view verbatim is exact
    state.update_batch(keys.view(np.int64), counts)


def _update_multiset(state, values: np.ndarray) -> None:
    # no histogram: duplicates occupy slots by the multiset contract
    state.update_batch(_int_keys(state, values).view(U64))


def _update_matrix(state, values: np.ndarray) -> None:
    # the vector column arrives element-flattened; the fixed dim from the
    # state recovers the (rows, dim) shape. A non-multiple length means
    # ragged vectors or dropped null/NaN elements — corrupt input for a
    # matrix sketch, so fail loudly instead of shearing every subsequent
    # row by one element.
    dim = state.dim
    if len(values) % dim:
        raise ValueError(
            f"fd sketch: {len(values)} elements is not a multiple of "
            f"dim={dim} (ragged, null or NaN vector elements?)")
    state.update_batch(values.astype(np.float64, copy=False).reshape(-1, dim))


@dataclass(frozen=True)
class Input:
    """An input class: how one group's values reach a state — the
    raw-stream update, the update from a :func:`_histogram` of the values
    when the kind has one, and the dtype the pandas reader reads a column
    to (None: struct rows, typed per field by the kind)."""

    update: Callable
    update_counts: "Callable | None" = None
    dtype: "type | None" = np.int64


HASHED = Input(_update_hashed, lambda st, k, c: st.update_batch(k, c))
COUNTED = Input(_update_counted, _update_counted_hist)
MULTISET = Input(_update_multiset)
VALUES = Input(lambda st, v: st.update_batch(v.astype(np.float64)),
               dtype=np.float64)
MATRIX = Input(_update_matrix, dtype=np.float64)
ROWS = Input(lambda st, rows: st.update_batch(
    *(rows[f] for f in rows.dtype.names)), dtype=None)


@dataclass(frozen=True)
class Kind:
    """One sketch kind: ``new(params)`` builds an empty state (defaults in
    the table), ``load(bytes)`` reads every encoding the kind emits,
    ``input`` is its input class, and ``exact_merge`` says merges are
    byte-exact at any fan-in and order — so a merged state equals a
    single-stream build (hll max / cms + / bloom OR / kmv bottom-k union /
    minhash min / dd bucket sums / ps top-(k+1)); the other kinds compact
    or decrement order-dependently. ``fields`` types the struct fields of
    the weighted-rows kinds for the pandas reader."""

    new: Callable
    load: Callable
    input: Input
    exact_merge: bool
    fields: tuple = ()

    @property
    def dtype(self):
        """What :func:`_pandas_values` reads this kind's column to."""
        return self.fields or self.input.dtype

    def update(self, state, values) -> None:
        if len(values):
            self.input.update(state, values)

    def update_counts(self, state, keys, counts) -> None:
        if len(keys):
            self.input.update_counts(state, keys, counts)

    def merge(self, blobs: "list[bytes]") -> bytes:
        """Fold serialized states into one, re-emitted in the public wire
        format (every merge output, never a between-stage encoding)."""
        acc = self.load(blobs[0])
        for b in blobs[1:]:
            acc.merge(self.load(b))
        return acc.to_bytes()


KINDS = {
    # 'error' is the reference surface: make ~error (hll.ml:26-32, Q1)
    "hll": Kind(lambda p: hll.HLL(hll.make(p["error"]) if "error" in p
                                  else hll.make_p(p.get("p", 14))),
                hll.HLL.from_bytes, HASHED, True),
    "cms": Kind(lambda p: CountMin(p.get("depth", 5), p.get("width", 8192),
                                   p.get("seed", 7)),
                CountMin.from_bytes, HASHED, True),
    "csk": Kind(lambda p: CountSketch(p.get("depth", 5),
                                      p.get("width", 8192), p.get("seed", 7)),
                CountSketch.from_bytes, HASHED, True),
    "bloom": Kind(lambda p: Bloom(p.get("m", 1 << 20), p.get("k", 7),
                                  p.get("seed", 7)),
                  Bloom.from_bytes, HASHED, True),
    "kmv": Kind(lambda p: KMV(p.get("k", 256)), KMV.from_bytes, HASHED, True),
    "mh": Kind(lambda p: MinHashSig(p.get("k", 64), p.get("seed", 7)),
               MinHashSig.from_bytes, HASHED, True),
    "mg": Kind(lambda p: MisraGries(p.get("k", 256)),
               MisraGries.from_bytes, COUNTED, False),
    # deletable membership with MULTISET semantics: size n_buckets for
    # TOTAL insertions via cuckoo.params_for; raises loudly past capacity
    "ckf": Kind(lambda p: Cuckoo(p.get("n_buckets", 1 << 16),
                                 p.get("fp_bits", 16), p.get("seed", 7)),
                Cuckoo.from_bytes, MULTISET, False),
    "kll": Kind(lambda p: KLL(p.get("k", 200), seed=p.get("seed", 42)),
                KLL.from_bytes, VALUES, False),
    "tdigest": Kind(lambda p: TDigest(p.get("delta", 200)),
                    TDigest.from_bytes, VALUES, False),
    # REQ (PODS'21): relative TAIL rank error, order-sensitive like kll
    "req": Kind(lambda p: REQ(p.get("k", 32), seed=p.get("seed", 42)),
                REQ.from_bytes, VALUES, False),
    # DDSketch: a bucket histogram, so order-INsensitive unlike kll
    "dd": Kind(lambda p: DDSketch(p.get("alpha", 0.01)),
               DDSketch.from_bytes, VALUES, True),
    "ddsum": Kind(lambda p: DDSum(), DDSum.from_bytes, VALUES, False),
    "mom": Kind(lambda p: Moments(), Moments.from_bytes, VALUES, False),
    "fd": Kind(lambda p: FrequentDirections(p.get("ell", 16), p["dim"]),
               FrequentDirections.from_bytes, MATRIX, False),
    # weighted rows: struct<value, integer weight> (build_dd_weighted)
    "dw": Kind(lambda p: DDSketch(p.get("alpha", 0.01)),
               DDSketch.from_bytes, ROWS, True, (np.float64, np.int64)),
    # weighted rows: struct<id, weight, priority> (build_priority_sample)
    "ps": Kind(lambda p: PrioritySample(p["k"]),
               PrioritySample.from_bytes, ROWS, True,
               (np.int64, np.int64, np.float64)),
}


def get_kind(name: str) -> Kind:
    try:
        return KINDS[name]
    except KeyError:
        raise ValueError(f"unknown sketch kind {name!r}") from None


def build_sketches(df: DataFrame, specs: "list[SketchSpec]",
                   group_cols: "list[str] | None" = None,
                   fanout: int = 32) -> DataFrame:
    """Build all ``specs`` over ``df``, optionally grouped by ``group_cols``.

    Returns DataFrame[group_cols..., sketch_name, sketch, n_rows, n_values,
    part_id(-1 after merge), build_us(summed)], one row per (group, spec).
    The merge takes one stage when ``df``'s partition count, read from its
    plan without a Spark job, is at most ``fanout`` (:func:`merge_partials`).
    """
    return _build(df, specs, group_cols, fanout, None)


def _build(df: DataFrame, specs: "list[SketchSpec]",
           group_cols: "list[str] | None", fanout: int,
           max_rows_per_key: "int | None") -> DataFrame:
    """:func:`build_sketches` with the merge bound of
    :func:`merge_partials` given; None reads it from the plan (each
    level-1 task emits at most one row per (group, spec))."""
    group_cols = list(group_cols or [])
    specs = list(specs)
    value_cols = sorted({s.column for s in specs})
    src = df.select(*group_cols, *value_cols)

    out_schema = StructType([src.schema[c] for c in group_cols] + _TAIL_FIELDS)
    kind_of = {s.name: s.kind for s in specs}

    def partial_builder(batches):
        acc = _Accumulator(specs, group_cols, out_schema)
        for batch in batches:
            acc.feed(batch)
        rb = acc.flush()
        if rb is not None:
            yield rb

    partials = src.mapInArrow(partial_builder, out_schema)
    if max_rows_per_key is None:
        max_rows_per_key = _partition_count(src)
    return merge_partials(partials, kind_of, group_cols, fanout,
                          max_rows_per_key)


def _partition_count(df: DataFrame) -> "int | None":
    """How many partitions ``df`` has, from its physical plan and without
    starting a Spark job; None when that is not known up front.

    A shuffle reached from the top through one-child nodes gives its own
    partition count: those nodes keep or reduce the partitioning, and
    adaptive execution may coalesce the shuffle but splits it only when
    rebalancing. A plan with no Exchange (an adaptive plan runs its
    shuffles, a broadcast runs a job), no subquery and no cached relation
    (its buffers build from their own plan) is executed to its RDD, which
    runs no job, for that RDD's partition count. Anything else is
    unknown."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
    except (AttributeError, Py4JError):   # Spark Connect; a streaming plan
        return None
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    node = plan
    while node.children().length() == 1 and \
            "Exchange" not in node.nodeName():
        node = node.children().apply(0)
    if node.getClass().getSimpleName() == "ShuffleExchangeExec":
        if "REBALANCE" in node.shuffleOrigin().toString():
            return None
        return int(node.numPartitions())
    if _plan_has(plan, ("Exchange", "InMemoryTableScan")) or \
            plan.subqueriesAll().length():
        return None
    return int(plan.execute().getNumPartitions())


def _plan_has(node, names: "tuple[str, ...]") -> bool:
    if any(n in node.nodeName() for n in names):
        return True
    kids = node.children()
    return any(_plan_has(kids.apply(i), names) for i in range(kids.length()))


def _batch_group_codes(batch: pa.RecordBatch, group_cols: "list[str]"):
    """(codes, gkeys) for one Arrow batch — THE group encoding of the
    per-partition builder (_Accumulator). Single non-null group
    column rides Arrow dictionary_encode C-side; the general path
    factorizes with use_na_sentinel=False so NULL group values form a
    REAL group, normalized NaN->None so the key is stable across batches
    (NaN != NaN would fragment dict state AND crash the Arrow flush when
    a float NaN lands in a string group field)."""
    if (len(group_cols) == 1
            and batch.column(group_cols[0]).null_count == 0
            and not pa.types.is_floating(batch.column(group_cols[0]).type)):
        # single non-null group column: Arrow dictionary_encode gives
        # codes + uniques C-side (pandas to_pandas + factorize on a
        # string column costs ~0.5 us/row of pure Python-object churn).
        # Float group columns are excluded: a NaN is a VALUE to Arrow but
        # norm() below folds it into the NULL group — routing floats
        # through factorize keeps the same logical key whichever path a
        # batch takes.
        enc = batch.column(group_cols[0]).dictionary_encode()
        codes = enc.indices.to_numpy().astype(np.int64, copy=False)
        return codes, [(u,) for u in enc.dictionary.to_pylist()]
    if group_cols:
        gdf = pd.DataFrame(
            {c: batch.column(c).to_pandas() for c in group_cols})
        key_obj = (pd.MultiIndex.from_frame(gdf) if len(group_cols) > 1
                   else gdf[group_cols[0]])
        # use_na_sentinel=False: null group values form a real group
        # (otherwise factorize emits -1 codes and null rows vanish)
        codes, uniques = pd.factorize(key_obj, sort=False,
                                      use_na_sentinel=False)

        def norm(v):
            # NaN != NaN would fragment dict state across batches
            return None if not isinstance(v, (tuple, list, np.ndarray)) \
                and pd.isna(v) else v

        gkeys = [tuple(norm(x) for x in u) if isinstance(u, tuple)
                 else (norm(u),) for u in uniques]
        return codes, gkeys
    return np.zeros(batch.num_rows, dtype=np.int64), [()]


def _grouped_reads(batch: pa.RecordBatch, group_cols: "list[str]",
                   value_cols: "list[str]"):
    """(gkeys, bounds, reads) of one batch: its rows sorted by group once
    (one stable argsort of the :func:`_batch_group_codes` codes, one take
    of ``value_cols``; group g is rows ``bounds[g]:bounds[g + 1]`` in
    batch order), then each value column read once by :func:`_read` into
    ``reads[column] = (values, value_bounds)``."""
    codes, gkeys = _batch_group_codes(batch, group_cols)
    cols = batch.select(value_cols)
    if len(gkeys) > 1:
        order = np.argsort(codes, kind="stable")
        bounds = np.searchsorted(codes[order], np.arange(len(gkeys) + 1))
        cols = cols.take(order)
    else:
        bounds = np.array([0, batch.num_rows])
    return gkeys, bounds, {c: _read(cols.column(c), bounds)
                           for c in value_cols}


class _Accumulator:
    """Per-task partial-sketch state shared by every build path (the
    DataFrame path, the native-reader path, the weighted-rows builders):
    feed Arrow RecordBatches, flush one partial-rows batch."""

    def __init__(self, specs, group_cols, out_schema):
        self.specs = [(s, get_kind(s.kind)) for s in specs]
        self.group_cols = group_cols
        self.out_schema = out_schema
        self.value_cols = sorted({s.column for s in specs})
        # a column consumed ONLY by kinds with a histogram update takes
        # one histogram per group, fed to all of them (quantile/sum
        # sketches need the raw stream)
        self.countable = {c: all(k.input.update_counts for s, k in self.specs
                                 if s.column == c)
                          for c in self.value_cols}
        self.states: dict = {}   # (gkey, spec_name) -> state
        self.counts: dict = {}   # (gkey, spec_name) -> [rows, values]
        self.t0: "float | None" = None   # set by the first non-empty feed

    def feed(self, batch: pa.RecordBatch) -> None:
        """Fold one batch, grouped and read by :func:`_grouped_reads`."""
        if batch.num_rows == 0:
            return
        if self.t0 is None:
            self.t0 = time.monotonic()
        gkeys, bounds, reads = _grouped_reads(batch, self.group_cols,
                                              self.value_cols)
        for g, gkey in enumerate(gkeys):
            group: dict = {}   # column -> (values, histogram or None)
            for spec, kind in self.specs:
                c = spec.column
                if c not in group:
                    values, vbounds = reads[c]
                    gvals = values[vbounds[g]:vbounds[g + 1]]
                    group[c] = (gvals, _histogram(gvals) if self.countable[c]
                                else None)
                gvals, hist = group[c]
                key = (gkey, spec.name)
                st = self.states.get(key)
                if st is None:
                    st = self.states.setdefault(key, kind.new(spec.p))
                cnt = self.counts.setdefault(key, [0, 0])
                cnt[0] += int(bounds[g + 1] - bounds[g])
                cnt[1] += len(gvals)
                if hist is not None:
                    kind.update_counts(st, *hist)
                else:
                    kind.update(st, gvals)

    def flush(self) -> "pa.RecordBatch | None":
        """One partial-rows RecordBatch, or None when nothing was fed.

        A state may offer a smaller between-stage encoding
        (``to_partial_bytes``: sparse HLL registers keep shuffle volume
        proportional to register fill); its kind's loader reads it and
        every merge re-emits the public wire format.

        build_us is the task's wall time from its first non-empty
        :meth:`feed` to this flush — the wait for the scan's first batch
        is not sketch work and is left out — apportioned across the
        emitted rows (remainder on the first), so SUM(build_us) over any
        row set equals total build wall time; stamping the full elapsed
        on every (group, spec) row would overcount by rows-per-task once
        the metrics table is aggregated."""
        if not self.states:
            return None
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        elapsed_us = int((time.monotonic() - self.t0) * 1e6)
        share, rem = divmod(elapsed_us, len(self.states))
        out: dict = {f.name: [] for f in self.out_schema.fields}
        for (gkey, name), st in self.states.items():
            for c, v in zip(self.group_cols, gkey):
                out[c].append(v)
            out["sketch_name"].append(name)
            out["sketch"].append(
                getattr(st, "to_partial_bytes", st.to_bytes)())
            n_rows, n_values = self.counts[(gkey, name)]
            out["n_rows"].append(n_rows)
            out["n_values"].append(n_values)
            out["part_id"].append(pid)
            out["build_us"].append(share + (rem if not out["build_us"]
                                            else 0))
        return pa.RecordBatch.from_pydict(
            out, schema=to_arrow_schema(self.out_schema))


# Arrow types of parquet columns that Spark reads as the type
# from_arrow_type gives them
_PLAIN_ARROW = (pa.types.is_boolean, pa.types.is_signed_integer,
                pa.types.is_float32, pa.types.is_float64, pa.types.is_string,
                pa.types.is_large_string, pa.types.is_binary,
                pa.types.is_date32, pa.types.is_decimal128)


def build_sketches_from_files(spark, files: "list[str]",
                              specs: "list[SketchSpec]",
                              group_cols: "list[str] | None" = None,
                              fanout: int = 32,
                              n_tasks: "int | None" = None,
                              use_threads: "bool | None" = None
                              ) -> DataFrame:
    """Native-reader variant: Python workers read the parquet FILES directly
    with pyarrow, skipping the JVM nested-column decode + Arrow-IPC hop
    (measured ~20x faster per file for array<int32> token columns).

    Trade-off vs build_sketches: bypasses Catalyst's scan (no predicate
    pushdown / row-group pruning), so use it for FULL-SCAN sketch jobs over
    known file lists — exactly the bench/checkpoint workload, where the file
    list comes from a snapshot manifest anyway. Parallelism: ``n_tasks``
    concurrent readers (default one per file), each folding its file
    subset into ONE partial row. On a bandwidth-bound host fewer, fatter
    readers win (the decode is a memory-stream workload: 8 concurrent
    decoders saturate a single-socket bus; 32 thrash it) — on a real
    multi-executor cluster set n_tasks ~ total executor cores, the same
    sizing rule as any scan. Partial rows and everything downstream are
    identical to build_sketches (byte parity asserted in tests).

    The output schema is probed from the footer of ``files[0]``, read on
    the driver, so building the DataFrame starts no Spark job; every task
    checks each of its files against that probe (needed columns present,
    same Arrow types) and raises a ValueError naming the file that
    drifted. Each task emits one partial row per (group, spec), so the
    merge takes one stage when ``n_tasks <= fanout``."""
    import pyarrow.parquet as pq

    group_cols = list(group_cols or [])
    specs = list(specs)
    value_cols = sorted({s.column for s in specs})
    kind_of = {s.name: s.kind for s in specs}

    # the first file's footer, read on the driver: spark.read.parquet
    # would start a schema-inference job for it
    need_cols = group_cols + value_cols
    probe = pq.read_schema(files[0])
    absent = [c for c in need_cols if c not in probe.names]
    if absent:
        raise ValueError(f"build_sketches_from_files: {files[0]}: no "
                         f"column {absent[0]!r}")
    want = {c: probe.field(c).type for c in need_cols}
    if all(any(is_type(want[c]) for is_type in _PLAIN_ARROW)
           for c in group_cols):
        group_fields = [StructField(c, from_arrow_type(want[c]))
                        for c in group_cols]
    else:   # timestamps, unsigned or nested: Spark's own parquet reading
        group_fields = list(spark.read.parquet(files[0])
                            .select(*group_cols).schema)
    out_schema = StructType(group_fields + _TAIL_FIELDS)

    if n_tasks is None:
        n_tasks = len(files)
    n_tasks = max(1, min(n_tasks, len(files)))
    # RoundRobinPartitioning spreads the file rows evenly over n_tasks
    # partitions; each task streams its subset sequentially
    paths_df = (spark.createDataFrame([(f,) for f in files], "path string")
                .repartition(n_tasks))

    if use_threads is None:
        # an Arrow decode thread-pool per concurrent task oversubscribes
        # the box when tasks ~ cores (measured 6x wall blowup under load
        # at 64 tasks); with FEW fat readers the idle cores belong to the
        # decoder, so threads help. The crossover is the executor-core
        # budget: threads on only when readers use <= half the cores.
        # An unknown budget (Spark Connect; dynamic allocation before any
        # executor registers) keeps them off: the driver's own core count
        # says nothing about the executors.
        try:
            slots = int(spark.sparkContext.defaultParallelism)
        except Exception:
            slots = 0
        use_threads = n_tasks * 2 <= slots

    def worker(batches):
        acc = _Accumulator(specs, group_cols, out_schema)
        for b in batches:
            for path in b.column("path").to_pylist():
                got = pq.read_schema(path)
                for c, t in want.items():
                    if c not in got.names or got.field(c).type != t:
                        found = (got.field(c).type if c in got.names
                                 else "missing")
                        raise ValueError(
                            f"build_sketches_from_files: {path}: column "
                            f"{c!r} is {found}, but {files[0]} has {t}")
                tbl = pq.read_table(path, columns=need_cols,
                                    use_threads=use_threads)
                for rb in tbl.to_batches(max_chunksize=_NATIVE_BATCH_ROWS):
                    acc.feed(rb)
        out = acc.flush()
        if out is not None:
            yield out

    partials = paths_df.mapInArrow(worker, out_schema)
    # one partial row per (group, spec) per task; n_tasks is not read from
    # the plan: that would run the repartition's shuffle as a job
    return merge_partials(partials, kind_of, group_cols, fanout, n_tasks)


def build_sketches_deterministic(df: DataFrame, specs: "list[SketchSpec]",
                                 group_cols: "list[str] | None" = None,
                                 order_cols: "list[str] | None" = None
                                 ) -> DataFrame:
    """Deterministic single-stream variant for order-sensitive sketches
    (KLL / t-digest / ddsum): each group's rows are routed to ONE partition
    and sorted by ``order_cols`` before the build, so the update sequence —
    and therefore the serialized sketch BYTES — is identical across runs
    and input partitionings (asserted in test_spark_pipeline.py).

    ``order_cols`` need only make the update VALUES deterministic: sorting
    by the sketched value columns themselves suffices (rows tied on the
    full sort key feed identical values, so tie order cannot change the
    state).

    This is the calibration/reproducibility path: one task per group, so
    use it when per-group data fits a task (or for golden-file tests); the
    production path stays :func:`build_sketches`, whose order-sensitive
    results are deterministic per partitioning and estimate-bound-gated.
    Order-insensitive kinds (hll/cms/bloom/kmv/mh/dd) produce the same
    bytes on both paths.
    """
    group_cols = list(group_cols or [])
    order_cols = list(order_cols or [])
    if group_cols:
        routed = df.repartition(*[F.col(c) for c in group_cols])
    else:
        routed = df.coalesce(1)
    routed = routed.sortWithinPartitions(*(group_cols + order_cols))
    # every group lives in exactly one sorted partition -> its level-1
    # partial is the complete sketch, one row per merge key: one stage
    return _build(routed, specs, group_cols, 1, 1)


def merge_partials(partials: DataFrame, kind_of: "dict[str, str]",
                   group_cols: "list[str]", fanout: int = 32,
                   max_rows_per_key: "int | None" = None) -> DataFrame:
    """Associative merge of partial-sketch rows to one row per
    (group_cols, sketch_name), with part_id -1 and the counters summed.

    ``max_rows_per_key`` is the most partial rows any (group, spec) can
    get, a fact the caller already holds and reads without a Spark job:
    the level-1 partition count (:func:`build_sketches`), ``n_tasks``
    (:func:`build_sketches_from_files`), the lineage-file count
    (plans/checkpoint.py) or the batch count (streaming/incremental.py).
    When it is at most ``fanout``, one ``groupBy(group_cols +
    sketch_name)`` stage merges everything. When it is larger or None
    (unknown; the sketch cube, whose coarse cells take many rows), a
    salted level 2a over ``part_id mod fanout`` first bounds every
    reducer's fan-in to ``fanout`` rows, then level 2b merges those."""
    merge_keys = group_cols + ["sketch_name"]
    schema = partials.schema
    arrow_schema = to_arrow_schema(schema)

    def merge_group(tbl: pa.Table) -> pa.Table:
        kind = get_kind(kind_of[tbl["sketch_name"][0].as_py()])
        head = tbl.slice(0, 1)
        cols = dict(zip(head.column_names, head.columns))
        cols["sketch"] = [kind.merge(tbl["sketch"].to_pylist())]
        for c in ("n_rows", "n_values", "build_us"):
            cols[c] = [pc.sum(tbl[c]).as_py()]
        cols["part_id"] = [-1]
        return pa.Table.from_pydict(
            {f.name: cols[f.name] for f in arrow_schema}).cast(arrow_schema)

    if max_rows_per_key is None or max_rows_per_key > fanout:
        partials = (partials
                    .withColumn("_salt",
                                F.pmod(F.col("part_id"), F.lit(fanout)))
                    .groupBy(*merge_keys, "_salt")
                    .applyInArrow(merge_group, schema))
    return partials.groupBy(*merge_keys).applyInArrow(merge_group, schema)


def build_dd_weighted(df: DataFrame, value_col: str, weight_col: str,
                      group_cols: "list[str] | None" = None,
                      alpha: float = 0.01, name: str = "dw",
                      fanout: int = 32) -> DataFrame:
    """Per-group WEIGHTED DDSketch build: each row's ``value_col`` counts
    ``weight_col`` times (integer weights >= 0), answering weighted
    quantiles — "the value a random unit of WEIGHT lives at", e.g. the
    doc-length distribution as experienced by a random token when
    weight = token count.

    Same 10^12-row shape as :func:`build_sketches`: the (value, weight)
    pairs fold into KB bucket histograms in the scan stage (mapInArrow,
    narrow — the payload never shuffles) and only sketch-sized partial
    rows ride the bounded-fan-in merge. DDSketch state is a
    pure bucket histogram, so the result is BYTE-IDENTICAL to a
    single-stream weighted build under any partitioning, and the weighted
    estimator is value-exactly SQL-reproducible
    (sql_oracles.dd_quantile_sql with ``weight_col=``).

    Rows where value or weight is NULL are dropped (counted in n_rows,
    not n_values); zero weights fold as no-ops; negative weights raise.
    NULL group values form a real group (same contract as
    build_sketches). A group whose MERGED state is empty (every pair
    NULL or zero-weight) emits NO result row — matching the SQL twin,
    where the w > 0 filter leaves no group to aggregate, and keeping
    downstream quantile reads from hitting an empty sketch; the filter
    runs on the merged KB rows, so per-partition metrics of surviving
    groups stay exact. Output schema matches
    build_sketches: [group_cols..., sketch_name, sketch, n_rows,
    n_values, part_id, build_us] with n_values = the number of non-null
    (value, weight) pairs folded (the total WEIGHT is the sketch's own
    n, read via ``functions.dd_stats_col(...)['n']``).
    """
    from ..functions.estimates import dd_stats_col

    group_cols = list(group_cols or [])
    src = df.select(*group_cols,
                    F.struct(value_col, weight_col).alias("_rows"))
    merged = build_sketches(src, [SketchSpec.of(name, "dw", "_rows",
                                                alpha=alpha)],
                            group_cols, fanout)
    return merged.where(dd_stats_col("sketch").getField("n") > 0)


def build_priority_sample(df: DataFrame, k: int, weight_col: str,
                          group_cols: "list[str] | None" = None,
                          id_col: str = "doc_id", seed: int = 0,
                          name: str = "ps", fanout: int = 32) -> DataFrame:
    """WINDOW-FREE distributed priority sampling: per group, the
    mergeable top-(k+1) state (core/prioritysample.PrioritySample) built
    through the same two-level bounded-fan-in pipeline as every other
    sketch kind. Each partition folds its rows into a KB-sized
    (id, weight, priority) list; the tree merge keeps the global
    top-(k+1) — so a group holding most of a 10^12-row corpus spreads
    over ALL its partitions instead of pinning one row_number reducer
    (the degenerate-group regime splits.priority_sample documents as its
    scale limit; its two-pass pre-prune IS this operator).

    Priorities are the identical JVM-side md5 chain as the window path
    (splits._priority_inputs), so the sample, tau, and every downstream
    DLT subset-sum estimate match splits.priority_sample_estimate
    bit-for-bit (asserted in test_prioritysample_build.py) and stay
    value-exact vs the DuckDB twin. Ids must be integers (the int64
    north-rule payload contract; string ids stay on the window path).
    Rows with NULL id/weight drop (n_rows counts them, n_values not);
    zero weights cannot bias estimates (dropped in the core state).
    NULL group values form a real group (build_sketches contract); a
    group whose MERGED sample is empty (no positive-weight rows) emits
    NO result row — matching the SQL twin, whose ranked CTE has no row
    for it.
    """
    from ..functions.estimates import ps_items_col
    from .splits import _priority_inputs

    group_cols = list(group_cols or [])
    _, prio = _priority_inputs(id_col, weight_col, seed)
    src = df.select(*group_cols,
                    F.struct(F.col(id_col).alias("_id"),
                             F.col(weight_col).alias("_w"),
                             prio.alias("_prio")).alias("_rows"))
    merged = build_sketches(src, [SketchSpec.of(name, "ps", "_rows", k=k)],
                            group_cols, fanout)
    return merged.where(F.size(ps_items_col("sketch")) > 0)
