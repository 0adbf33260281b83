"""The engine's broadcast byte budgets — the one place they live.

Every broadcast-or-shuffle switch is sized in BYTES, not rows — a
20M-row gate ships ~500MB+ of broadcast relation to every executor,
which is well past what a 4-8GB executor tolerates. A caller compares
its row-byte estimate × rows against one of two budgets:

* ``STATE_BROADCAST_BUDGET_BYTES`` (256MB) — an iterative operator's
  |V|-row state (csr_fixpoint.plan: PageRank, SybilRank, CC, LPA,
  Spinner, SSSP/MSSP; row estimates are the unsafe-row payload plus
  broadcast hash-relation overhead, ~2x), re-shipped once per
  superstep, and the triangle count's packed-array rank broadcast
  (16B/vertex through ``sc.broadcast``: no driver-side hash-relation
  build). Comfortably inside a default 1g broadcast/storage headroom.
* ``ONE_SHOT_BROADCAST_BUDGET_BYTES`` (64MB, ≈2M vertices at 32B) — a
  broadcast hash relation the driver builds for one or two joins: the
  triangle orientation's degree relation (BENCH.md "Triangle
  orientation broadcast A/B": the serial relation build pays off
  against only two join uses far below the iterative budget), and the
  k-core dead set and b-matching saturated set anti-joins (16B/row).

Tests trip a gate by monkeypatching a budget here; callers read it
through this module at call time.
"""

from __future__ import annotations

STATE_BROADCAST_BUDGET_BYTES = 256 * 1024 * 1024
ONE_SHOT_BROADCAST_BUDGET_BYTES = 64 * 1024 * 1024
