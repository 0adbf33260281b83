"""Triangle counting & enumeration — graphs/Triangles.java:35-371.

The reference runs 4 message-passing supersteps (PropagateId to
higher-id neighbors → ForwardId → CloseTrianglesAndCount), counting
each unique triangle once at its MAXIMUM-id vertex (:131-151).

Spark-first this is not iterative at all: orient each undirected edge
toward its higher-DEGREE endpoint (ties by id) — the node-iterator++
total order — self-join on the pivot to build wedges, and left-semi
join the closing pair against the oriented edge set — two shuffles
total, whole-stage codegen'd joins, no Python. Exact by construction:
each triangle is enumerated exactly once at its lowest-ordered vertex
(replacing the reference's id-ordering message discipline, :76-83,
:100-110); output rows are re-sorted to (low, mid, high) BY ID so
downstream per-vertex placement semantics (max-id vertex) are
unchanged.

Why degree order and not id order: the wedge count is Σ_v C(out(v),2)
and degree-orientation minimizes it (out(v) ≤ O(√E) for any graph;
hubs get out ≈ 0 because all their edges point INTO them). With id
order a power-law hub that happens to have a small id keeps its whole
edge list outgoing — measured on 60M Zipf edges: the id-ordered plan
shuffles ~10⁹ wedge rows into the semi-join and goes disk-bound (flat
305s wall at BOTH 8 and 32 cores); the degree-ordered plan's wedge set
is orders of magnitude smaller (BENCH.md round-3).

For extreme cases the ``chunks`` knob (ScalableSemimetric.java:67-113
megastep precedent) processes pivot-vertex slices in passes.

This is the engine's only triangle enumeration: Jaccard, Adamic-Adar,
the clustering coefficient (similarity.py) and semimetric edges
(semimetric.py) read ``triangles_df``, so all of them share the
Graph-memoized oriented edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from okapi_spark.graph.graph import Graph
from okapi_spark.plans import broadcast


def _canonical(graph: Graph) -> DataFrame:
    """Undirected canonical edge set: one row (u, v, w) per unordered
    pair {u, v}, u < v, with w the pair's largest edge weight.

    For a ``symmetric_distinct`` graph (induced/symmetrized edge sets)
    this is the free filter ``src < dst`` — no aggregate shuffle of the
    edge table, and both directions carry the same weight; otherwise
    fall back to least/greatest + max aggregate. Callers that read only
    (u, v) let the optimizer prune the max to a plain distinct."""
    if graph.symmetric_distinct:
        return graph.edges.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v"), F.col("weight").alias("w")
        )
    return (
        graph.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "weight",
        )
        .groupBy("u", "v")
        .agg(F.max("weight").alias("w"))
    )


def _degree_table(graph: Graph, e: DataFrame) -> DataFrame:
    """(x, d) undirected degree of every canonical-edge endpoint. For
    a ``symmetric_distinct`` graph out-degree == degree (both
    directions present exactly once), so no canonical-set union."""
    if graph.symmetric_distinct:
        return graph.edges.groupBy(F.col("src").alias("x")).agg(F.count("*").alias("d"))
    return (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )


def _degree_source(graph: Graph, e: DataFrame) -> tuple[DataFrame, list]:
    """(deg, extras) — for ``symmetric_distinct`` graphs the degree
    table is a free projection of the MEMOIZED (src, out_deg, wsum)
    census (Graph.degree_weights — round 6), shared with PageRank and
    the salted layouts instead of re-aggregated per call; otherwise
    the per-call canonical-union aggregate, persisted and owned by the
    caller via ``extras``."""
    from pyspark.storagelevel import StorageLevel

    if graph.symmetric_distinct:
        deg = graph.derived(
            ("tri_deg",),
            lambda: graph.degree_weights().select(
                F.col("src").alias("x"), F.col("out_deg").alias("d")
            ),
            cleanup=lambda v: None,  # projection of the memoized census
        )
        return deg, []
    deg = _degree_table(graph, e).persist(StorageLevel.MEMORY_AND_DISK)
    return deg, [deg]


class _BroadcastHandle:
    """Adapter so a ``sc.broadcast`` rides the oriented-plan extras
    list (whose members are released via ``unpersist()``)."""

    def __init__(self, b):
        self._b = b

    def unpersist(self) -> None:
        self._b.destroy()


def _oriented(
    graph: Graph, deg_broadcast: bool | str | None = None
) -> tuple[DataFrame, list]:
    """Degree-ordered orientation of the canonical edge set: one row
    per unordered pair {a, b}, directed (u → v) with (deg(u), u) <
    (deg(v), v), carrying deg(v) for downstream ordering of wedge
    endpoints. Degree = undirected neighbor count.

    Returns ``(oriented, [deg_handle])`` — the degree table is
    persisted (it feeds both join legs and the broadcast gate's count)
    and must be released by the caller once the oriented set is
    materialized.

    The two degree lookups are BROADCAST joins when the |V|-row table
    fits the ONE-SHOT byte budget (64MB ≈ 2M vertices at 32B/row) —
    orientation then adds ZERO |E|-row exchanges on top of the one
    map-side-combined degree groupBy, and Spark's ReuseExchange dedupes
    the two builds into one (structurally asserted in test_plans.py).

    The one-shot budget is deliberately 4× tighter than the iterative
    operators' 256MB state-broadcast budget, and it is MEASURED, not
    assumed (BENCH.md "Triangle orientation broadcast A/B"): a
    per-superstep broadcast amortizes its serial driver-side relation
    build over many rounds, but this plan uses it exactly twice — at
    |V| = 6M (192MB relation, 60M-edge run) the build made orientation
    ~2× SLOWER than the shuffle path on both 2 and 8 executor JVMs,
    while at gate/bench shapes (|V| ≤ 240k) the broadcast wins
    outright. Past the budget the shuffle_hash fallback builds on the
    degree side and streams the edges (SMJ would sort the edge set
    twice); it re-exchanges the edge set once per endpoint — the
    provable minimum for annotating both endpoint degrees without a
    broadcast — and is pinned at the chassis raw-shuffle ceiling in
    the scaling decomposition (0.31-0.36 vs control 0.343). Callers
    with edge-exchange-dominated shapes (|E|/|V| ≫ 12, where the
    measured crossover sits) can force ``deg_broadcast=True``.

    Between the two budgets sits the ARRAY mode
    (``deg_broadcast="array"``, auto-gated at 16B/vertex vs 256MB):
    a packed numpy degree array through ``sc.broadcast`` + vectorized
    ``searchsorted`` in ``mapInArrow`` — still zero edge exchanges but
    without the driver-side hash-relation build that made the
    relation broadcast lose at |V| = 6M (see ``_oriented_array``)."""
    e = _canonical(graph)
    # the |V|-row table feeds both join legs (and the gate's count
    # action): memoized census projection for symmetric graphs, else a
    # per-call persist owned through the extras list
    deg, extras = _degree_source(graph, e)
    if deg_broadcast is None:
        n = deg.count()
        if n * 32 <= broadcast.ONE_SHOT_BROADCAST_BUDGET_BYTES:
            deg_broadcast = True
        elif n * 16 <= broadcast.STATE_BROADCAST_BUDGET_BYTES:
            deg_broadcast = "array"
        else:
            deg_broadcast = False
    if deg_broadcast == "array":
        return _oriented_array(graph, e.select("u", "v"), deg, extras)
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    if deg_broadcast:
        j = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    else:
        j = e.join(du.hint("shuffle_hash"), "u").join(dv.hint("shuffle_hash"), "v")
    flip = F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("du"), F.col("u"))
    oriented = j.select(
        F.when(flip, F.col("v")).otherwise(F.col("u")).alias("u"),
        F.when(flip, F.col("u")).otherwise(F.col("v")).alias("v"),
        F.when(flip, F.col("du")).otherwise(F.col("dv")).alias("dv"),
    )
    return oriented, extras


def _oriented_array(
    graph: Graph, e: DataFrame, deg: DataFrame, extras: list
) -> tuple[DataFrame, list]:
    """Zero-exchange orientation via a packed-array degree broadcast.

    The |V|-row degree table is gathered executor-side into two sorted
    int64 numpy arrays (ids, degrees — the same ``mapInArrow`` pack
    csr fixpoint runner's gather, csr_fixpoint.gather_sorted_arrays) and
    shipped once through ``sc.broadcast`` torrent transport. The
    orientation itself is then a map: each Arrow batch of canonical
    (u, v) rows looks both degrees up with a vectorized
    ``np.searchsorted`` and emits the flipped row — no edge exchange,
    no driver-side hash-relation build (the two serial floors the
    measured A/B attributed the broadcast plan's 2x absolute loss to at
    |V|=6M, BENCH.md "Triangle orientation broadcast A/B").

    Total order is identical to the join paths: (deg, id) ascending,
    so the three modes produce the same oriented set (equivalence
    pytest). ``extras`` (the caller's degree handles, empty for the
    graph-memoized census) are returned with the broadcast handle."""
    import numpy as np
    import pyarrow as pa

    from okapi_spark.plans.csr_fixpoint import gather_sorted_arrays

    ids, (degs,) = gather_sorted_arrays(
        deg.select(F.col("x").alias("id"), "d"), deg.count(), [("d", "int64")]
    )
    sc = graph.edges.sparkSession.sparkContext
    b = sc.broadcast((ids, degs))

    def orient(batches):
        bids, bdegs = b.value
        for batch in batches:
            u = batch.column("u").to_numpy(zero_copy_only=False)
            v = batch.column("v").to_numpy(zero_copy_only=False)
            du = bdegs[np.searchsorted(bids, u)]
            dv = bdegs[np.searchsorted(bids, v)]
            flip = (dv < du) | ((dv == du) & (v < u))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.where(flip, v, u)),
                    pa.array(np.where(flip, u, v)),
                    pa.array(np.where(flip, du, dv)),
                ],
                names=["u", "v", "dv"],
            )

    oriented = e.mapInArrow(orient, "u long, v long, dv long")
    return oriented, [*extras, _BroadcastHandle(b)]


def triangles_df(graph: Graph, chunks: int = 1) -> DataFrame:
    """All triangles as rows (low, mid, high), low < mid < high (by id).
    The oriented edge set behind the plan stays memoized on the Graph
    until ``Graph.unpersist()``."""
    return _triangles_plan(graph, chunks)


def _oriented_memo(graph: Graph) -> DataFrame:
    """The persisted oriented edge set, memoized on the Graph: it feeds
    THREE plan legs (both wedge sides + the closing semi-join);
    uncached it is recomputed per leg — its canonical-distinct + degree
    joins dominated the whole job (measured 65s of a 238s run, ×3).
    Repeated triangle/coefficient calls on one Graph reuse it;
    ``Graph.unpersist()`` releases it with its degree table."""
    from pyspark.storagelevel import StorageLevel

    def build():
        o_df, extras = _oriented(graph)
        return o_df.persist(StorageLevel.MEMORY_AND_DISK), extras

    def release(v):
        o_c, extras_c = v
        o_c.unpersist()
        for df in extras_c:
            df.unpersist()

    return graph.derived(("tri_oriented",), build, cleanup=release)[0]


def _triangles_plan(graph: Graph, chunks: int = 1) -> DataFrame:
    """The sql wedge plan: (low, mid, high) rows over the memoized
    oriented edge set."""
    o = _oriented_memo(graph)
    wedges_parts = []
    for c in range(chunks):
        e1 = o.alias("e1")
        if chunks > 1:
            e1 = e1.filter(F.pmod(F.xxhash64(F.col("u")), F.lit(chunks)) == c)
        # unordered out-pair {b, c} of pivot a, taken once via the same
        # (deg, id) total order the orientation uses — so the closing
        # pair (e1.v → e2.v) is already in oriented form
        # shuffle_hash: hash-build one |E|-row side, stream the other —
        # SMJ would SORT the wedge output's inputs; with degree capping
        # the per-key groups are tiny, so the hash probe is cheap
        w = e1.join(
            o.alias("e2").hint("shuffle_hash"),
            (F.col("e1.u") == F.col("e2.u"))
            & (
                F.struct(F.col("e1.dv"), F.col("e1.v"))
                < F.struct(F.col("e2.dv"), F.col("e2.v"))
            ),
            "inner",
        ).select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
        wedges_parts.append(w)
    wedges = wedges_parts[0]
    for w in wedges_parts[1:]:
        wedges = wedges.unionByName(w)
    # hash-build on the |E|-row closing side and STREAM the (much
    # larger) wedge set — never sort the wedges. Round-6 NEGATIVE
    # result (kept for the record): broadcasting the closing side to
    # remove the wedge exchange was tried and MEASURED SLOWER at the
    # bench shape (5.5s → 7.6-10s min-of-3; the serial 1.2M-row
    # broadcast-relation build + ship costs more than the 32-way
    # wedge exchange it saves) — see OPTIMIZATION_r06.md.
    closing = o.select(F.col("u").alias("b"), F.col("v").alias("c")).hint("shuffle_hash")
    tri = wedges.join(closing, ["b", "c"], "left_semi")
    # codegen'd min/median/max, not array_sort: the optimizer pushes the
    # inferred not-null filters of downstream joins on (low, mid, high)
    # into the wedge join, where an interpreted array_sort ran once per
    # WEDGE (measured ~16s of 41M wedges at sf0.1, semimetric's joins)
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    return tri.select(
        F.least(a, b, c).alias("low"),
        F.greatest(F.least(a, b), F.least(F.greatest(a, b), c)).alias("mid"),
        F.greatest(a, b, c).alias("high"),
    )


def triangle_count(
    graph: Graph,
    chunks: int = 1,
    mode: str = "auto",
    num_partitions: int | None = None,
    block_dir: str | None = None,
) -> int:
    """Total unique triangles.

    ``mode="auto"`` (default, round 6): the csr count whenever it
    applies — in the driver inside the csr fuse window, else the
    staged-kernel count (zero wedge exchange) whenever its 16B/vertex
    rank-relabel broadcast fits the one-shot array budget (≈16M
    vertices) — else the sql wedge plan,
    which remains the cluster-scale path. This is the same
    auto-physical-strategy pattern as PageRank's broadcast-vs-salted
    gate; both plans produce the identical exact count (parity-tested,
    and both gate rows are hash-checked against the same oracle).
    An explicit ``chunks`` > 1 requests the sql plan's staged wedge
    passes, so auto defers to sql there.

    ``mode="sql"``: the two-join wedge plan above.
    ``mode="csr"``: the wedge-probe kernel (see
    ``_triangle_count_csr``) over one gathered key array in the driver
    inside the fuse window (no Spark job once gathered), over resident
    staged blocks beyond it or with an explicit ``block_dir`` — same
    count, zero wedge shuffle."""
    if mode == "auto" and chunks == 1:
        try:
            n, _phases = _triangle_count_csr(
                graph, num_partitions=num_partitions, block_dir=block_dir
            )
            return n
        except ValueError:
            mode = "sql"  # |V| past the rank-broadcast envelope
    if mode == "csr":
        n, _phases = _triangle_count_csr(
            graph, num_partitions=num_partitions, block_dir=block_dir
        )
        return n
    return _triangles_plan(graph, chunks).count()


# ---------------------------------------------------------------------------
# mode="csr": resident staged-block triangle counting
# ---------------------------------------------------------------------------
#
# The sql plan's scale cost is the WEDGE EXCHANGE: the Σ C(out(v),2)
# wedge rows (≈ |E|·avg_outdeg — 600M rows / ~14GB at the 60M-edge
# scaling shape) are shuffled into the closing semi-join's hash probe.
# The csr mode never materializes a wedge row in Spark at all, and
# pays exactly ONE |E|-scale exchange end to end:
#
# 1. RANK RELABEL + ORIENT (map-side, fused): the |V|-row degree
#    table is gathered into packed arrays and each vertex is assigned
#    its RANK in the (deg, id) total order (a broadcast + vectorized
#    searchsorted/argsort — no driver hash relation). Every canonical
#    edge maps to (min(rank), max(rank)): that IS the degree
#    orientation, ids are dense [0, |V|) by construction (hashed /
#    negative / sparse ids need no special path), and the dv column
#    disappears from the exchange — 2 int64s per edge row.
# 2. STAGE (the one exchange): partition by pivot (pid = u % P — u is
#    a dense rank, so plain mod is balanced and NumPy-computable) and
#    write per-partition blocks (plans/csr_blocks.py, memmapped; the
#    OS page cache is the shared per-node block cache) holding ONE
#    array: mkeys = sorted u·|V| + v. Both faces of the block derive
#    from it at load time — CSR over pivots (u = k // |V| is sorted;
#    neighbors k % |V| ascend within a segment, and ascending rank IS
#    the orientation order, so in-segment pair (i < j) is already the
#    oriented closing edge n_i → n_j) and the membership index
#    (sorted keys; a probe key routes to block (key // |V|) % P).
#    |E|, |V| come from the degree table (Σdeg = 2·|E_canonical|), so
#    this exchange is the oriented set's only consumer and the
#    canonicalize → relabel → orient maps fuse into its map side.
# 3. PROBE (zero-exchange): one P-row ``mapInPandas`` job; each task
#    enumerates its pivot segments' out-pairs in vectorized NumPy
#    (degree-bucketed repeat/gather; hub pivots fall back to tail
#    slices so no O(d²) index table is built for d ≈ √E) and
#    membership-probes the closing keys with ``np.searchsorted`` —
#    wedges live only in registers/L2, nothing |wedges|-sized is ever
#    exchanged, written, or even held in memory (bounded
#    ``_PROBE_CHUNK`` slabs).
#
# Deployment envelope (documented, gated): every node must be able to
# page-cache the |E|·8B membership keys (60M edges = 480MB; 10⁹ edges
# = 8GB — the classic per-node-adjacency regime), and the rank
# relabel broadcasts 16B/vertex (ids + ranks), gated at the 256MB
# one-shot array budget ≈ 16M vertices — strictly inside the
# membership envelope. Past either limit the sql plan remains the
# cluster-scale path, exactly like the other operators' csr/sql mode
# splits. Measured (BENCH.md round-5): the probe phase — the only
# |wedge|-scale term — runs in ~2-3s where the sql join pair takes
# 24-36s (2 executor JVMs, 60M edges), leaving the job pinned at the
# chassis's raw-exchange ceiling; 2.3s vs 9.3s sql at 5M edges warm.

# probe slab size: bounds kernel working memory at ~3·8B·4M ≈ 100MB
# per task while keeping each searchsorted call long enough to
# amortize its setup
_PROBE_CHUNK = 4_000_000
# degree-bucket vectorized path cap: C(d,2) index tables above ~4M
# pairs would cost O(d²) memory per bucket; hubs (d up to O(√E) under
# degree orientation) take the per-(segment, i) tail-slice path whose
# python-loop count is Σ_hub d_hub ≪ wedge count
_PAIR_BUCKET_CAP = 1 << 22

# probe-job task sizing: the probe's work unit is WEDGES (≈ |E|·avg
# outdeg), not edge rows, so csr_blocks.choose_task_count's 2M-edge
# target starves it — at the bench shape (1.2M oriented edges, 36M
# wedges) it picked ONE task and ran the whole enumeration serially
# (round-6 measured: 4.6-6s probe). One probe task per ~50k oriented
# edges keeps every task's wedge slab well above the Python job floor
# while engaging all cores from ~1.6M edges up.
_PROBE_TASK_EDGES = 50_000


def _tri_wedge_pack(pdf, M: int):
    """Per-partition pivot block (runs once inside ``stage_blocks``):
    the single sorted u·M+v key array. Rank-relabeled ids make this
    both block faces at once — sorting the combined key sorts by
    (u, v), v-ascending within a pivot segment IS the orientation
    order, and the sorted keys are the membership index."""
    import numpy as np

    u = pdf["u"].to_numpy(np.int64)
    v = pdf["v"].to_numpy(np.int64)
    return {"mkeys": np.sort(u * M + v)}


def _member_hits(karr, probes) -> int:
    """How many of ``probes`` occur in the sorted key array ``karr``."""
    import numpy as np

    pos = np.searchsorted(karr, probes)
    ok = pos < karr.size
    return int(np.count_nonzero(np.asarray(karr[pos[ok]]) == probes[ok])) if ok.any() else 0


def _probe_membership(keys, M: int, P: int, epoch: int, block_dir: str) -> int:
    """How many of ``keys`` exist in the staged oriented edge set: route
    each key to the pivot block (key // M) % P, binary-search that
    block's sorted ``mkeys``. Every task may open every block — the
    memmap pages are shared node-wide through the OS page cache."""
    import numpy as np

    from okapi_spark.plans.csr_blocks import load_block

    hits = 0
    blkid = (keys // M) % P
    for p in np.unique(blkid):
        mblk = load_block("triw", epoch, int(p), block_dir)
        if mblk is not None:
            hits += _member_hits(mblk["mkeys"], keys[blkid == p])
    return hits


def _count_wedge_block(mkeys, M: int, probe) -> int:
    """Closed-wedge count of one pivot block: derive the pivot CSR
    from the sorted key array (u = k // M ascends; neighbors k % M
    ascend within a segment, which is the orientation order), then
    enumerate out-pairs per segment (degree-bucketed vectorized
    gather; hub tail-slices past ``_PAIR_BUCKET_CAP``), buffer
    closing keys into ``_PROBE_CHUNK`` slabs, and count each slab's
    members with ``probe(keys)`` — the staged blocks' routed lookup
    or the local key array's."""
    import numpy as np

    k = np.asarray(mkeys)
    u = k // M
    nbr = k % M
    _, start = np.unique(u, return_index=True)
    indptr = np.append(start, u.size).astype(np.int64)
    deg = np.diff(indptr)
    starts = indptr[:-1]
    state = {"buf": [], "buffered": 0, "hits": 0}

    def flush():
        if not state["buf"]:
            return
        keys = (
            np.concatenate(state["buf"]) if len(state["buf"]) > 1 else state["buf"][0]
        )
        state["buf"], state["buffered"] = [], 0
        state["hits"] += probe(keys)

    def push(keys):
        state["buf"].append(keys)
        state["buffered"] += keys.size
        if state["buffered"] >= _PROBE_CHUNK:
            flush()

    for d in np.unique(deg).tolist():
        d = int(d)
        if d < 2:
            continue
        segs = starts[deg == d]
        npairs = d * (d - 1) // 2
        if npairs <= _PAIR_BUCKET_CAP:
            i_idx, j_idx = np.triu_indices(d, k=1)
            step = max(1, _PROBE_CHUNK // npairs)
            for s0 in range(0, segs.size, step):
                ss = segs[s0 : s0 + step, None]
                b = nbr[ss + i_idx[None, :]].ravel().astype(np.int64)
                c = nbr[ss + j_idx[None, :]].ravel().astype(np.int64)
                push(b * M + c)
        else:
            for s in segs.tolist():
                seg = np.asarray(nbr[s : s + d], dtype=np.int64)
                for i in range(d - 1):
                    push(seg[i] * M + seg[i + 1 :])
    flush()
    return state["hits"]


def _tri_csr_kernel(M: int, P: int, epoch: int, block_dir: str):
    def kernel(pdfs):
        import pandas as pd

        from okapi_spark.plans.csr_blocks import load_block

        total = 0
        for pdf in pdfs:
            for pid in pdf["pid"].tolist():
                blk = load_block("triw", epoch, int(pid), block_dir)
                if blk is None:
                    continue
                total += _count_wedge_block(
                    blk["mkeys"], M,
                    lambda keys: _probe_membership(keys, M, P, epoch, block_dir),
                )
        yield pd.DataFrame({"n": [total]})

    return kernel


def _wedge_keys(blk, ids) -> dict:
    """The in-window pivot layout as a ``resolve`` of the shared local
    (src, dst, w) layout (``components.weight_layout`` — the gather CC,
    weighted LPA and SSSP already hold): self-loops dropped, each
    unordered position pair once (``min·|V|+max``), positions
    rank-relabeled by the same (deg, id) order the staged path
    broadcasts, packed as the single sorted u·M+v key array (both block
    faces at once, see ``_tri_wedge_pack``)."""
    import numpy as np

    M = len(ids)  # ranks are dense [0, |V|)
    a, b = np.searchsorted(ids, blk["src"]), np.searchsorted(ids, blk["dst"])
    keep = a != b
    pairs = np.unique(np.minimum(a[keep], b[keep]) * M + np.maximum(a[keep], b[keep]))
    lo, hi = pairs // M, pairs % M
    rank = np.empty(M, dtype=np.int64)
    # positions ascend with ids, so a stable degree sort breaks ties by id
    rank[np.argsort(np.bincount(np.concatenate([lo, hi]), minlength=M), kind="stable")] = np.arange(M)
    ru, rv = rank[lo], rank[hi]
    return {"mkeys": np.sort(np.minimum(ru, rv) * M + np.maximum(ru, rv))}


def _triangle_count_csr(
    graph: Graph,
    num_partitions: int | None = None,
    block_dir: str | None = None,
) -> tuple[int, dict]:
    """(count, phase_timings) — see the mode="csr" block comment.

    With |E| inside the csr fuse window (csr_fixpoint._FUSE_MAX_EDGES)
    and no explicit ``block_dir`` the count runs in the driver: the
    pivot key array (``_wedge_keys``) is resolved once per Graph from
    the shared local (src, dst, w) layout and the wedge enumeration
    probes it directly — a warm count, or a first count after CC,
    weighted LPA or SSSP gathered that layout, runs no Spark job
    (phases ``gather_sec``, ``probe_sec``).

    Beyond the window the staged pivot/membership layout is MEMOIZED on the
    Graph (key ``("tri_blocks", P)``) when the caller does not supply
    an explicit ``block_dir`` — like the scatter layouts it is a pure
    physical layout of the immutable edge set, so repeated counts on one Graph
    pay the deg/orient/stage phases once (``deg_sec``/``stage_sec``
    report 0.0 on reuse); Graph.unpersist()/atexit reclaim the files.
    The probe job is sized by ``_PROBE_TASK_EDGES`` (wedge-scale work),
    not the 2M-edge superstep target that serialized it before."""
    import functools
    import time

    from pyspark.storagelevel import StorageLevel

    from okapi_spark.bsp import no_adaptive
    from okapi_spark.plans.csr_fixpoint import _EPOCH_COUNTER, gather_sorted_arrays
    from okapi_spark.plans.csr_blocks import (
        cleanup_blocks,
        default_block_dir,
        pid_frame,
        stage_blocks,
    )

    from okapi_spark.plans import csr_fixpoint as fx

    if block_dir is None and graph.num_edges() <= fx._FUSE_MAX_EDGES:
        from okapi_spark.operators.components import weight_layout

        t0 = time.time()
        lay = fx.local(graph, *weight_layout(graph))
        mkeys = lay.resolved(_wedge_keys)["mkeys"]
        t1 = time.time()
        n = 0 if not mkeys.size else _count_wedge_block(
            mkeys, len(lay.ids), functools.partial(_member_hits, mkeys))
        return n, {"gather_sec": round(t1 - t0, 2), "probe_sec": round(time.time() - t1, 2)}

    spark = graph.edges.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    timings = {"deg_sec": 0.0, "stage_sec": 0.0}

    def build():
        """deg census → rank relabel → the ONE staging exchange.
        Returns (block_dir, epoch, M, m) or None for an empty graph."""
        t0 = time.time()
        epoch = next(_EPOCH_COUNTER)
        e = _canonical(graph)
        deg, deg_extras = _degree_source(graph, e)
        try:
            # |E| and |V| come from the |V|-row degree table (Σdeg counts
            # each canonical edge at both endpoints), so the oriented set
            # is consumed exactly ONCE — by the staging exchange — and
            # canonicalize → rank-relabel → orient fuse into its map side;
            # nothing |E|-sized is persisted or scanned twice.
            row = deg.agg(F.sum("d"), F.count("*")).collect()[0]
            if row[0] is None:
                timings["deg_sec"] = round(time.time() - t0, 2)
                return None
            # Σdeg counts each canonical edge at both endpoints — plus,
            # on a symmetric graph's memoized census, each self-loop
            # once; the canonical set (src < dst) stages no self-loop
            sum_d, nv = int(row[0]), int(row[1])
            M = nv  # ranks are dense [0, |V|) by construction
            if nv * 16 > broadcast.STATE_BROADCAST_BUDGET_BYTES:
                raise ValueError(
                    f"mode='csr' rank-relabels vertices through a packed-array "
                    f"degree broadcast (16B/vertex); |V|={nv} exceeds the state broadcast "
                    "budget — use mode='sql' at cluster-scale |V|."
                )
            import numpy as np

            ids_arr, (degs_arr,) = gather_sorted_arrays(
                deg.select(F.col("x").alias("id"), "d"), nv, [("d", "int64")]
            )
            ranks = np.empty(nv, dtype=np.int64)
            ranks[np.lexsort((ids_arr, degs_arr))] = np.arange(nv, dtype=np.int64)
            bmap = spark.sparkContext.broadcast((ids_arr, ranks))

            def _orient_ranked(batches):
                import numpy as np
                import pyarrow as pa

                sids, rk = bmap.value
                for batch in batches:
                    u = batch.column("u").to_numpy(zero_copy_only=False)
                    v = batch.column("v").to_numpy(zero_copy_only=False)
                    ru = rk[np.searchsorted(sids, u)]
                    rv = rk[np.searchsorted(sids, v)]
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(np.minimum(ru, rv)), pa.array(np.maximum(ru, rv))],
                        names=["u", "v"],
                    )

            t1 = time.time()
            timings["deg_sec"] = round(t1 - t0, 2)
            bdir = block_dir or default_block_dir(spark)
            try:
                with no_adaptive(spark):
                    w = (
                        e.select("u", "v").mapInArrow(_orient_ranked, "u long, v long")
                        .withColumn("pid", F.pmod(F.col("u"), F.lit(P)).cast("int"))
                        .repartition(P, "pid")
                    )
                    staged = stage_blocks(
                        w, P, functools.partial(_tri_wedge_pack, M=M),
                        "triw", epoch, bdir,
                    )
                m = staged
                assert 2 * m == sum_d or (graph.symmetric_distinct and 2 * m < sum_d), (
                    f"staged {m} rows vs degree sum {sum_d}"
                )
            finally:
                # the relabel broadcast only feeds the staging pass
                bmap.destroy()
            timings["stage_sec"] = round(time.time() - t1, 2)
            return bdir, epoch, M, m
        finally:
            for df in deg_extras:
                df.unpersist()

    if block_dir is None:
        layout = graph.derived(
            ("tri_blocks", P), build,
            cleanup=lambda v: cleanup_blocks(v[0]) if v else None,
        )
    else:
        layout = build()  # caller owns the explicit dir; no memo, no cleanup
    if layout is None:
        return 0, {**timings, "probe_sec": 0.0}
    bdir, epoch, M, m = layout

    t2 = time.time()
    k_tasks = min(P, max(1, m // _PROBE_TASK_EDGES))
    total = (
        pid_frame(spark, P, k_tasks)
        .mapInPandas(_tri_csr_kernel(M, P, epoch, bdir), "n long")
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    return int(total or 0), {**timings, "probe_sec": round(time.time() - t2, 2)}


def triangle_count_per_vertex(graph: Graph, chunks: int = 1) -> DataFrame:
    """(id, triangles) — count placed at the max-id vertex of each
    triangle, matching TriangleCount output (Triangles.java:131-151;
    null-valued vertices dropped per TriangleOutputFormat :323-370).
    The aggregate is materialized (localCheckpoint)."""
    return (
        _triangles_plan(graph, chunks)
        .groupBy(F.col("high").alias("id"))
        .agg(F.count("*").alias("triangles"))
        .localCheckpoint(eager=True)
    )


def triangles_per_vertex_all(graph: Graph) -> DataFrame:
    """(id, triangles) counting each triangle at ALL three corners —
    the building block for clustering coefficient
    (graphs/ClusteringCoefficient.java:89-192). Materialized
    (localCheckpoint)."""
    corners = _triangles_plan(graph).select(F.explode(F.array("low", "mid", "high")).alias("id"))
    return corners.groupBy("id").agg(F.count("*").alias("triangles")).localCheckpoint(eager=True)
