"""Resident CSR block staging: the beyond-window csr placement.

Inside the csr fuse window (``csr_fixpoint._FUSE_MAX_EDGES``) the csr
operators gather their edge frame into the driver and stage nothing
(``csr_fixpoint.local``); this module is the scale path past it, where
one core can no longer run a round in a few hundred milliseconds.

The first csr implementation drove every superstep with
``edges.groupBy("pid").applyInPandas(kernel)``: Spark streamed the full
edge partition JVM -> Arrow -> pandas on every superstep before the
kernel could hit its cache — the transfer was paid and thrown away
(measured at 60M edges: ~5-8x slower per superstep than the
zero-exchange sql plan, BENCH.md "LPA csr kernel").

This module materializes each pid-partition's PACKED adjacency arrays
once — one pass over the edges, the same I/O shape as a shuffle map
write — as raw ``.npy`` files, and then drives each superstep with a
P-row ``spark.range(P, numPartitions=P)`` + ``mapInPandas`` job:
partition i carries exactly the integer i, and the kernel opens block
i with ``np.load(mmap_mode="r")``. After setup, ZERO edge bytes move
per superstep; the only per-superstep traffic is the broadcast state.

Why memmap instead of an in-worker dict of arrays: Spark's Python
workers are per-core processes, and a worker-resident cache would hold
up to P blocks in EACH of W workers (O(P·W) RAM at scale — measured
as an executor OOM crash-loop at 240M edges / 8 executor JVMs).
``mmap_mode="r"`` makes the OS page cache the single shared,
kernel-evictable block cache per node: every worker maps the same
physical pages, a cold read streams from disk once, and re-reads are
memory-speed with no copy and no CRC pass.

``block_dir`` must be readable by every executor:

* local / local-cluster masters (this sandbox, and any single-box
  deployment): the default driver tempdir is shared by construction.
* multi-node cluster: pass a DFS path (HDFS/NFS/fuse mount).

Blocks are keyed by a per-layout epoch so block sets cannot collide.
A staged set is memoized on its Graph and its directory is removed by
``Graph.unpersist()``, with an atexit sweep as the backstop; default
staging dirs are named after their owner pid, and each new one first
removes the dirs whose owner is dead (a SIGKILL or OOM kill skips
atexit).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame

# Worker-global handle cache: (tag, epoch, pid) -> dict of memmapped
# numpy arrays. Handles are a few KB each (the data pages live in the
# shared OS page cache); stale epochs are pruned on first touch so
# reused workers stay bounded.
_BLOCK_CACHE: dict = {}


# ~2M rows of kernel work per superstep TASK keeps the task well above
# the ~15-20ms-per-task Python/Arrow job floor (measured: a 32-task
# mapInPandas round costs ~0.55s even with trivial kernels, vs ~0.1s
# at 2 tasks). Staging always writes one block per partition — its
# bottleneck is the opposite (the pandas pack wants full parallelism)
# — and a superstep task simply reads several blocks when the graph
# is small (the kernel loops over the pids in its slice).
_TARGET_BLOCK_ROWS = 2_000_000


def choose_task_count(n_edges: int, max_tasks: int) -> int:
    """Fewer superstep tasks when the graph is small: per-superstep
    cost has a fixed per-TASK floor, so a small graph fanned out to
    every core is overhead-bound; at scale the count is capped by the
    session's parallelism (one task per core)."""
    return max(1, min(max_tasks, -(-n_edges // _TARGET_BLOCK_ROWS)))


# every staging dir this process created and has not yet cleaned —
# block sets memoized on a Graph (reused across operator calls) are
# released by Graph.unpersist(), with this atexit sweep as the leak
# backstop for graphs that are never unpersisted (tests, REPLs)
_LIVE_DIRS: set[str] = set()


def _cleanup_all_dirs() -> None:
    for d in list(_LIVE_DIRS):
        shutil.rmtree(d, ignore_errors=True)
    _LIVE_DIRS.clear()


atexit.register(_cleanup_all_dirs)


# staging dirs are named okapi_csr_blocks_pid<owner pid>_<random>: the
# atexit sweep never runs on SIGKILL or an OOM kill, so each new dir
# first removes the ones whose owner is gone
_DIR_PREFIX = "okapi_csr_blocks_"
_OWNER = re.compile(re.escape(_DIR_PREFIX) + r"pid(\d+)_")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        return True
    return True


def _sweep_orphan_dirs(root: str) -> list[str]:
    """Remove the staging dirs under ``root`` whose owner pid is dead
    (assumes ``root`` is not shared across pid namespaces); returns
    them."""
    gone = []
    for name in os.listdir(root):
        m = _OWNER.match(name)
        if m and not _pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            gone.append(name)
    return gone


def default_block_dir(spark) -> str:
    """A fresh staging directory every executor of this deployment can
    read, named after its owner pid; orphans of dead owners under the
    same tempdir are swept first. Local masters share the driver's
    filesystem; for a real multi-node master the caller must supply a
    DFS path explicitly — refusing is better than silently staging to
    a driver-only disk."""
    master = spark.sparkContext.master
    if not (master.startswith("local") or master.startswith("local-cluster")):
        raise ValueError(
            f"csr block staging needs a shared block_dir on master={master!r}; "
            "pass block_dir=<DFS path> (the default driver tempdir is only "
            "visible cluster-wide under local/local-cluster masters)"
        )
    _sweep_orphan_dirs(tempfile.gettempdir())
    d = tempfile.mkdtemp(prefix=f"{_DIR_PREFIX}pid{os.getpid()}_")
    _LIVE_DIRS.add(d)
    return d


def stage_blocks(
    edges_by_pid: DataFrame,
    num_partitions: int,
    pack_fn,
    tag: str,
    epoch: int,
    block_dir: str,
) -> int:
    """One pass over the pid-partitioned edges: pack each partition with
    ``pack_fn(pandas_df) -> dict[str, np.ndarray]`` and ``_save`` it as
    block ``{block_dir}/{tag}-{epoch}-{pid}``. Returns the total edge-row
    count staged (caller asserts it against the graph's edge count)."""
    import pandas as pd

    def writer(key, pdf):
        pid = int(key[0])
        _save(os.path.join(block_dir, f"{tag}-{epoch}-{pid}"), pack_fn(pdf))
        return pd.DataFrame({"pid": [pid], "n": [len(pdf)]})

    counts = edges_by_pid.groupBy("pid").applyInPandas(
        writer, schema="pid int, n long"
    ).collect()
    return int(sum(r.n for r in counts))


def load_block(tag: str, epoch: int, pid: int, block_dir: str):
    """Worker-side block open: cached memmap handles, else ``_open`` —
    the data pages come from the node's shared OS page cache, not a
    per-worker copy. None for a pid that owns no edges."""
    key = (tag, epoch, pid)
    blk = _BLOCK_CACHE.get(key)
    if blk is None:
        blk = _open(os.path.join(block_dir, f"{tag}-{epoch}-{pid}"))
        if blk is None:
            return None
        _prune_stale(tag, epoch)
        _BLOCK_CACHE[key] = blk
    return blk


def _save(base: str, arrays: dict) -> None:
    """Write each array to ``{base}.{key}.npy`` (tmp + atomic rename),
    the ``.keys`` manifest LAST: no reader sees a half-written set."""
    import numpy as np

    for k, arr in arrays.items():
        tmp = f"{base}.{k}.npy.tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            np.save(f, np.ascontiguousarray(arr))
        os.replace(tmp, f"{base}.{k}.npy")
    mtmp = f"{base}.keys.tmp{os.getpid()}"
    with open(mtmp, "w") as f:
        f.write("\n".join(arrays))
    os.replace(mtmp, f"{base}.keys")


def _open(base: str):
    """Memmap (read-only) every array of a set written by ``_save``;
    None when its manifest does not exist."""
    import numpy as np

    if not os.path.exists(base + ".keys"):
        return None
    with open(base + ".keys") as f:
        keys = [k for k in f.read().split("\n") if k]
    return {k: np.load(f"{base}.{k}.npy", mmap_mode="r") for k in keys}


def _prune_stale(tag: str, epoch: int) -> None:
    # prune only this TAG's older epochs: block sets of different
    # operators live concurrently on a memoizing Graph, and evicting
    # each other's handles would force a reopen on every touch
    for k in [k for k in _BLOCK_CACHE if k[0] == tag and k[1] != epoch]:
        _BLOCK_CACHE.pop(k, None)


def resolved_arrays(tag: str, epoch: int, pid: int, block_dir: str, name: str, builder):
    """Memoize a kernel's superstep-invariant DERIVATIVES of a staged
    block (e.g. the ``searchsorted`` gather/scatter position arrays,
    which are pure functions of the block plus the graph's sorted
    vertex-id array) as the sidecar set ``name`` in the staging dir.

    Spark's per-core Python workers give a block no task affinity
    across jobs — a worker-global cache of the resolved arrays would
    miss on most repeat calls (measured: the pre-resolve is ~0.4s of a
    warm lpa_4 call at 2.4M edges). Files in
    the shared staging dir are worker-agnostic: the first toucher
    resolves and writes (a concurrent writer produces identical bytes),
    then re-opens, so every caller gets read-only memmaps from the OS
    page cache. Cleaned up with the block dir."""
    key = (tag + "#" + name, epoch, pid)
    v = _BLOCK_CACHE.get(key)
    if v is None:
        base = os.path.join(block_dir, f"{tag}-{epoch}-{pid}.{name}")
        v = _open(base)
        if v is None:
            _save(base, builder())
            v = _open(base)
        _prune_stale(key[0], epoch)
        _BLOCK_CACHE[key] = v
    return v


def pid_frame(spark, num_blocks: int, num_tasks: int | None = None) -> DataFrame:
    """P-row driver for the per-superstep job: ``spark.range`` slices
    the P block ids over ``num_tasks`` partitions — no shuffle, no
    edge scan. With ``num_tasks < num_blocks`` each task's kernel
    iterates several blocks (small-graph case: fewer tasks beat the
    per-task job floor); default one task per block."""
    from pyspark.sql import functions as F

    return spark.range(0, num_blocks, 1, num_tasks or num_blocks).select(
        F.col("id").cast("int").alias("pid")
    )


def cleanup_blocks(block_dir: str) -> None:
    shutil.rmtree(block_dir, ignore_errors=True)
    _LIVE_DIRS.discard(block_dir)
