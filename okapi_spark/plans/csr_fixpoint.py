"""One runner for every csr fixpoint: a dst-sorted CSR layout + NumPy state.

PageRank, SybilRank, connected components, LPA and SSSP/MSSP reduce
their ``mode="csr"`` to a ``Fixpoint`` spec of pure NumPy functions
over a |V|-indexed state (a dict of arrays whose last axis is the
position in the sorted vertex-id array):

* ``init(ids)`` builds the round-0 state on the driver;
* ``resolve(blk, ids)`` derives a block's round-invariant arrays
  (memoized with the block);
* ``step(state, blk, res)`` runs one round over one block and returns
  a part — every in-edge of a dst lives in ONE block, so a part is
  final for its dsts;
* ``merge(state, parts)`` folds the parts into the next state plus a
  metrics dict; ``halt(metrics, history)`` decides from the metrics;
* ``output(ids, state)`` decodes the state into the result rows.

The runner owns everything else, and places the loop by |E|:

* **local** (|E| ≤ ``_FUSE_MAX_EDGES``): ``local`` collects
  ``spec.frame()`` once through Arrow into the driver — one dst-sorted
  block, its sorted vertex ids and the ``resolve`` arrays, memoized on
  the Graph — and every round runs in-process. Inside the window a
  round is milliseconds of single-core NumPy, so a Spark job per call
  (scheduling, Python workers, block staging) would be nearly all of
  its cost; a warm call runs no Spark job at all.
* **staged** (beyond the window): ``stage`` packs the edges as P
  dst-hashed (pmod(xxhash64(dst), P)), dst-sorted memmapped blocks once
  per Graph (csr_blocks), and each round is one job over
  ``choose_task_count`` tasks that return their per-block parts for
  the driver to merge.

Both placements run one loop body over the same step/merge functions,
and both packs sort a block by (dst, src, value columns), so a dst's
segment holds the same rows in the same order wherever it was packed:
the placements are bit-identical. With a ``CheckpointStore`` the
driver writes the state after every round as ``(id, <state cols>)``
parquet at the store's superstep path, committed by the store's
ledger — no Spark job; a re-run resumes from the ledger tip in either
placement, and a halted tip returns the stored state with no layout
and no edge pass. Every broadcast is destroyed in a ``finally``.
"""

from __future__ import annotations

import itertools
import os
import pickle
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from okapi_spark.bsp import BSPResult, CheckpointStore, no_adaptive
from okapi_spark.plans import broadcast
from okapi_spark.plans.csr_blocks import (
    choose_task_count, cleanup_blocks, default_block_dir, load_block,
    pid_frame, resolved_arrays, stage_blocks,
)

# Up to this many edges every round runs in the driver on the local
# layout: a per-round mapInPandas job costs a FLOOR (~0.35-0.6s measured
# at 32 cores: scheduling + Python round trip + Arrow collect) that
# dwarfs the single-core kernel (8M edges ≈ 120ms/round); past it,
# per-round jobs with one task per ~2M edges win back the parallelism.
# Re-measured on 4 cores (BENCH.md "csr placement window").
_FUSE_MAX_EDGES = 8_000_000

# driver-side monotonic namespace for staged block files — NOT
# id(graph), which CPython reuses after GC
_EPOCH_COUNTER = itertools.count(1)

_GATHER_PANDAS_MAX_ROWS = 1_000_000

def plan(mode: str, graph, frame: tuple | None, P: int, store: CheckpointStore | None,
         state_broadcast: bool | None, what: str, row_bytes: int, scatter: bool = True,
         **conditions: bool) -> dict:
    """The one broadcast gate of the iterative operators, and the plan
    record of a call (``BSPResult.plan``): the requested and resolved
    mode, the csr ``placement``, the sql ``layout`` and the gate values
    behind them. ``row_bytes`` is the operator's per-vertex state
    estimate; ``state_bytes`` = |V|·``row_bytes`` against
    ``state_budget_bytes`` (plans/broadcast.py) is the comparison that
    decides, wherever the state goes — held (and beyond the fuse window
    broadcast) by the csr runner, or broadcast by the sql scatter plan.

    ``mode="auto"`` resolves to "csr" when the fixpoint is fusable — no
    checkpoint store, no explicit ``state_broadcast`` (a sql-plan knob:
    the caller asked for a sql layout), |E| inside the fuse window (the
    whole fixpoint in the driver) and the state inside the budget — and
    every operator-specific entry of ``conditions`` holds; else to
    "sql". An explicit "sql"/"csr" is kept as asked, but an explicit
    "csr" whose ``what`` state would not fit the budget is rejected.

    A "csr" call's ``placement`` is "local" inside the fuse window (on
    an operator with a local layout) else "staged"; a "sql" call's
    ``layout`` is the scatter plan's "broadcast" when the state fits
    (or ``state_broadcast`` asks for it) else "salted" — None for an
    operator without a scatter plan (``scatter=False``: SSSP/MSSP).

    ``frame`` is the operator's csr frame as ``(name, frame)``; None
    for an operator with no local placement (Spinner). A csr candidate
    inside the window counts |V| from its local layout — the gather the
    run reads anyway — so only scatter and staged calls build the
    persisted vertex dictionary (the scatter plans' state0 and the
    staged id gather both read it); the others count |V| directly."""
    n_edges = graph.num_edges()
    auto_ok = store is None and state_broadcast is None and all(conditions.values())
    local_ok = frame is not None and n_edges <= _FUSE_MAX_EDGES
    if local_ok and (mode == "csr" or (mode == "auto" and auto_ok)):
        n = len(local(graph, *frame).ids)
    else:
        if frame is not None and (scatter or mode == "csr"):
            graph.vertices_by_id(P)
        n = graph.num_vertices()  # counts through the dictionary when it exists
    rec = {
        "requested": mode,
        "n_edges": n_edges,
        "fuse_max_edges": _FUSE_MAX_EDGES,
        "state_bytes": n * row_bytes,
        "state_budget_bytes": broadcast.STATE_BROADCAST_BUDGET_BYTES,
        "store": store is not None,
        "state_broadcast": state_broadcast,
        **conditions,
    }
    fits = rec["state_bytes"] <= rec["state_budget_bytes"]
    if mode == "csr" and not fits:
        raise ValueError(
            f"mode='csr' holds the full {what} state on the driver and broadcasts it "
            f"beyond the fuse window; its {rec['state_bytes']} bytes exceed the broadcast "
            f"budget of {rec['state_budget_bytes']} bytes. Use mode='sql'."
        )
    fusable = auto_ok and n_edges <= _FUSE_MAX_EDGES and fits
    rec["resolved"] = ("csr" if fusable else "sql") if mode == "auto" else mode
    rec["placement"] = ("local" if local_ok else "staged") if rec["resolved"] == "csr" else None
    rec["layout"] = None
    if rec["resolved"] == "sql" and scatter:
        rec["layout"] = "broadcast" if (fits if state_broadcast is None else state_broadcast) else "salted"
    return rec


def positions(blk, ids) -> dict:
    """The default ``resolve``: gather (src) and scatter (dst) positions
    into the sorted id array — dst-sorted blocks give sorted ``dpos``."""
    return {"spos": np.searchsorted(ids, blk["src"]), "dpos": np.searchsorted(ids, blk["dst"])}


def locate(ids, keys) -> tuple:
    """(positions, present mask) of ``keys`` in the sorted ``ids`` — one
    vectorized pass."""
    pos = np.searchsorted(ids, keys)
    present = pos < len(ids)
    present[present] = ids[pos[present]] == keys[present]
    return pos, present


@dataclass
class Fixpoint:
    name: str  # layout name (memo key + staged file tag)
    frame: Callable[[], DataFrame]  # (src, dst, <value cols>) to lay out
    init: Callable
    step: Callable
    merge: Callable
    output: Callable
    schema: str
    resolve: Callable = positions
    halt: Callable | None = None
    id_cols: tuple = ()  # state arrays holding positions, checkpointed as ids


def _sorted_block(cols: dict) -> tuple:
    """``(block, ids)``: every column sorted by (dst, src, value columns)
    — a canonical row order, so a dst's segment holds the same rows in
    the same order whichever placement packed it, and segment
    reductions are bit-identical across placements — plus the block's
    sorted vertex ids ``np.unique(src ∪ dst)``. The (dst, src) order is
    one stable argsort of their dense-position key; only duplicate
    (src, dst) rows need the value columns, in a full lexsort."""
    cols = {c: np.asarray(a, dtype="int64" if c in ("src", "dst") else "float64") for c, a in cols.items()}
    m = len(cols["dst"])
    ids, inv = np.unique(np.concatenate([cols["dst"], cols["src"]]), return_inverse=True)
    key = inv[:m] * len(ids) + inv[m:]
    order = np.argsort(key, kind="stable")
    vals = [a for c, a in cols.items() if c not in ("src", "dst")]
    k = key[order]
    if vals and np.any(k[1:] == k[:-1]):
        order = np.lexsort([*reversed(vals), key])
    return {c: a[order] for c, a in cols.items()}, ids


def _pack(pdf) -> dict:
    """Per-partition pack (runs once inside ``stage_blocks``): the
    staged columns in the canonical (dst, src, value) order."""
    return _sorted_block({c: pdf[c].to_numpy() for c in pdf.columns if c != "pid"})[0]


def _read_only(arrays: dict) -> dict:
    for a in arrays.values():
        a.setflags(write=False)
    return arrays


@dataclass
class Local:
    """The in-window layout: one dst-sorted block over every edge, its
    sorted vertex ids, and the ``resolve`` arrays by resolve name.
    Read-only, like the staged memmaps."""

    block: dict
    ids: np.ndarray
    res: dict = field(default_factory=dict)

    def resolved(self, resolve: Callable) -> dict:
        if resolve.__name__ not in self.res:
            self.res[resolve.__name__] = _read_only(dict(resolve(self.block, self.ids)))
        return self.res[resolve.__name__]


def local(graph, name: str, frame: Callable[[], DataFrame]) -> Local:
    """The local layout of ``frame()`` ONCE per (Graph, name): one Arrow
    collect into the driver, packed like a staged block. The frames are
    projections of the edge set, so the ids are V — the Graph's |V|
    memo is filled from them. Released by ``Graph.unpersist()``."""
    def build() -> Local:
        with no_adaptive(graph.edges.sparkSession):
            t = frame().toArrow()
        blk, ids = _sorted_block({c: t.column(c).to_numpy() for c in t.column_names})
        if graph._num_vertices is None:
            graph._num_vertices = len(ids)
        ids.setflags(write=False)
        return Local(_read_only(blk), ids)

    return graph.derived(("csr_local", name), build, cleanup=lambda v: None)


def stage(graph, name: str, frame: Callable[[], DataFrame], P: int) -> tuple:
    """Stage ``frame()`` as P dst-hashed, dst-sorted blocks ONCE per
    (Graph, name, P) — one pass over the edges, the I/O shape of a
    shuffle map write; rounds never scan or re-ship the edge table.
    Memoized on the Graph (Graph.unpersist()/atexit reclaim the files).
    Returns ``(tag, epoch, block_dir)``."""
    def build():
        spark = graph.edges.sparkSession
        epoch = next(_EPOCH_COUNTER)
        by_pid = (
            frame()
            .withColumn("pid", F.pmod(F.xxhash64("dst"), F.lit(P)).cast("int"))
            .repartition(P, "pid")
        )
        bdir = default_block_dir(spark)
        with no_adaptive(spark):
            staged = stage_blocks(by_pid, P, _pack, name, epoch, bdir)
        assert staged == graph.num_edges(), f"staged {staged} rows != |E|={graph.num_edges()}"
        return name, epoch, bdir

    return graph.derived(("csr_blocks", name, P), build, cleanup=lambda v: cleanup_blocks(v[2]))


def ids_sorted(graph, P: int):
    """Memoized driver-side sorted vertex-id array of the staged
    placement (the local one takes its ids from its own gather): the
    |V|·8B payload the state broadcast already budgets for — held on
    the Graph, no per-call gather job."""
    return graph.derived(
        ("ids_sorted",),
        lambda: gather_sorted_arrays(graph.vertices_by_id(P).select("id"), graph.num_vertices(), [])[0],
        cleanup=lambda v: None,
    )


def gather_sorted_arrays(df: DataFrame, n_rows: int | None, cols: list[tuple[str, str]]) -> tuple:
    """Returns ``(ids, [arr, ...])`` with every array id-sorted on the
    SAME stable order (value columns stay row-aligned). ``cols`` is a
    list of ``(column, numpy dtype)``.

    Below ``_GATHER_PANDAS_MAX_ROWS`` the plain Arrow collect wins (the
    mapInArrow pack pays a Python-worker round per partition, measured
    ~+0.4s at |V|=20k). Above it each partition packs and SORTS its rows
    into raw NumPy buffers inside ``mapInArrow``: the driver receives one
    binary blob per partition, no per-row objects, and merges the
    presorted runs."""
    import pyarrow as pa

    names = [c for c, _ in cols]
    dtypes = [np.dtype(d) for _, d in cols]
    if n_rows is not None and n_rows <= _GATHER_PANDAS_MAX_ROWS:
        pdf = df.select("id", *names).toPandas()
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        return ids[order], [pdf[c].to_numpy().astype(dt, copy=False)[order] for c, dt in zip(names, dtypes)]

    def pack(batches):
        ids, vals = [], [[] for _ in names]
        for b in batches:
            ids.append(b.column("id").to_numpy(zero_copy_only=False))
            for j, c in enumerate(names):
                vals[j].append(b.column(c).to_numpy(zero_copy_only=False))
        if ids:
            i = np.concatenate(ids)
            o = np.argsort(i, kind="stable")
            arrays = [pa.array([i[o].tobytes()])]
            for j, dt in enumerate(dtypes):
                arrays.append(pa.array([np.concatenate(vals[j])[o].astype(dt).tobytes()]))
            yield pa.RecordBatch.from_arrays(arrays, names=["ids"] + [f"v{j}" for j in range(len(names))])

    schema = ", ".join(["ids binary"] + [f"v{j} binary" for j in range(len(names))])
    blobs = df.select(F.col("id").cast("long").alias("id"), *names).mapInArrow(pack, schema).collect()
    ids = np.concatenate([np.frombuffer(b.ids, dtype=np.int64) for b in blobs] or [np.array([], dtype=np.int64)])
    out = [
        np.concatenate([np.frombuffer(getattr(b, f"v{j}"), dtype=dt) for b in blobs] or [np.array([], dtype=dt)])
        for j, dt in enumerate(dtypes)
    ]
    order = np.argsort(ids, kind="stable")
    return ids[order], [a[order] for a in out]


def _open_blocks(spec: Fixpoint, layout: tuple, pdf_iter, b_ids) -> list:
    """Worker side: this task's (block, resolved arrays) pairs."""
    tag, epoch, bdir = layout
    out = []
    for pdf in pdf_iter:
        for pid in pdf["pid"].tolist():
            blk = load_block(tag, epoch, int(pid), bdir)
            if blk is not None:
                res = resolved_arrays(
                    tag, epoch, int(pid), bdir, spec.resolve.__name__,
                    lambda: spec.resolve(blk, b_ids.value),
                )
                out.append((blk, res))
    return out


def _shippable(spec: Fixpoint) -> Fixpoint:
    # tasks get the round functions only — frame/init/output may close
    # over DataFrames, which cannot ship to a worker
    return replace(spec, frame=None, init=None, output=None)


def _round(spec: Fixpoint, state: dict, parts: list, history: list) -> tuple:
    state, m = spec.merge(state, parts)
    m["_halted"] = bool(spec.halt is not None and spec.halt(m, history))
    return state, m


def round_job(spark, spec: Fixpoint, layout: tuple, P: int, k: int, b_ids, b_state) -> DataFrame:
    """One per-round job: a P-row Range sliced over ``k`` tasks, each
    returning the pickled parts of its blocks — no shuffle, no edge
    scan, the state rides the broadcast ``b_state``."""
    spec = _shippable(spec)

    def kernel(pdf_iter):
        state = b_state.value
        parts = [spec.step(state, blk, res) for blk, res in _open_blocks(spec, layout, pdf_iter, b_ids)]
        yield pd.DataFrame({"blob": [pickle.dumps(parts, protocol=5)]})

    return pid_frame(spark, P, k).mapInPandas(kernel, schema="blob binary")


def _write_state(store: CheckpointStore, ss: int, spec: Fixpoint, ids, state: dict) -> None:
    """The state as ``(id, <state cols>)`` parquet (a (k, |V|) array is a
    k-list column) at the store's superstep path, written from the
    driver with pyarrow — the store is a driver-local directory, and a
    Spark write would cost a job (plus a schema-inference job to
    re-read) per checkpoint. tmp + atomic rename, like every store
    write; the ledger line that commits it is appended after."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {"id": pa.array(ids)}
    for k, a in state.items():
        a = ids[a] if k in spec.id_cols else a
        cols[k] = pa.FixedSizeListArray.from_arrays(a.T.ravel(), a.shape[0]) if a.ndim == 2 else pa.array(a)
    path = store.state_path(ss)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(pa.table(cols), os.path.join(path, ".part-0.tmp"))
    os.replace(os.path.join(path, ".part-0.tmp"), os.path.join(path, "part-0.parquet"))


def _read_state(store: CheckpointStore, ss: int, spec: Fixpoint) -> tuple:
    import pyarrow.parquet as pq

    t = pq.read_table(store.state_path(ss))
    ids = t.column("id").to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    if not len(ids):
        return ids, spec.init(ids)
    state = {}
    for k in t.column_names[1:]:
        col = t.column(k).combine_chunks()
        if hasattr(col, "flatten"):  # list column: one k-vector per vertex
            a = col.flatten().to_numpy(zero_copy_only=False).reshape(len(ids), -1)[order].T.copy()
        else:
            a = col.to_numpy(zero_copy_only=False)[order]
        state[k] = np.searchsorted(ids, a) if k in spec.id_cols else a
    return ids, state


@contextmanager
def _placement(graph, spec: Fixpoint, P: int, ids):
    """Yields this call's ``parts(state)``: one round's step over the
    local block in the driver inside the fuse window, else one
    per-round job over the staged blocks (its id broadcast destroyed on
    exit)."""
    n_edges = graph.num_edges()
    if n_edges <= _FUSE_MAX_EDGES:
        lay = local(graph, spec.name, spec.frame)
        blk, res = lay.block, lay.resolved(spec.resolve)
        yield lambda state: [spec.step(state, blk, res)] if len(blk["dst"]) else []
        return
    spark = graph.edges.sparkSession
    sc = spark.sparkContext
    layout = stage(graph, spec.name, spec.frame, P)
    k = choose_task_count(n_edges, P)
    b_ids = sc.broadcast(ids)

    def parts(state: dict) -> list:
        b_state = sc.broadcast(state)
        try:
            blobs = round_job(spark, spec, layout, P, k, b_ids, b_state).collect()
        finally:
            b_state.destroy()
        return [p for r in blobs for p in pickle.loads(r.blob)]

    try:
        with no_adaptive(spark):
            yield parts
    finally:
        b_ids.destroy()


def run(graph, spec: Fixpoint, max_rounds: int, P: int, store: CheckpointStore | None = None) -> BSPResult:
    """Run ``spec`` to halt or ``max_rounds``; resumes from ``store``."""
    spark = graph.edges.sparkSession
    n_edges = graph.num_edges()

    def vertex_ids():
        if n_edges <= _FUSE_MAX_EDGES:
            return local(graph, spec.name, spec.frame).ids
        return ids_sorted(graph, P)

    start, log, ids = 0, [], None
    if store is not None and (tip := store.latest()) is not None:
        ids, state = _read_state(store, int(tip["superstep"]), spec)
        log = [e["metrics"] | {"superstep": e["superstep"]} for e in store.lineage()]
        start = int(tip["superstep"]) + 1
        if tip["metrics"].get("_halted"):
            return _result(spark, spec, ids, state, start, log)
        if not np.array_equal(ids, vertex_ids()):
            raise ValueError("checkpointed state does not match this graph's vertex set")
    if ids is None:
        ids = vertex_ids()
        state = spec.init(ids)
    if start >= max_rounds:  # nothing left to run: no layout, no job
        return _result(spark, spec, ids, state, start, log)
    with _placement(graph, spec, P, ids) as parts:
        for ss in range(start, max_rounds):
            t0 = time.time()
            state, m = _round(spec, state, parts(state), log)
            m["edges_processed"] = n_edges
            if store is not None:
                _write_state(store, ss, spec, ids, state)
                store.log(ss, len(ids), m)
            log.append(m | {"superstep_sec": time.time() - t0, "superstep": ss})
            if m["_halted"]:
                break
    return _result(spark, spec, ids, state, log[-1]["superstep"] + 1 if log else start, log)


def _result(spark, spec: Fixpoint, ids, state: dict, supersteps: int, log: list) -> BSPResult:
    converged = bool(log and log[-1].get("_halted"))
    df = spark.createDataFrame(spec.output(ids, state), schema=spec.schema)
    return BSPResult(df, supersteps, converged, log)
