"""Byte-budget gate for the zero-exchange state-broadcast plans.

The iterative operators' sql plans (PageRank, SybilRank, CC, LPA and
Spinner, all through plans/scatter.py) have two physical strategies:
broadcast the full |V|-row vertex state into the scatter layout's edge
scan (zero shuffle exchanges per superstep), or the shuffle fallback
(scatter's salted (src, salt) layout). The switch must be sized
in BYTES, not rows — a 20M-row gate ships ~500MB+ of broadcast hash
relation to every executor every superstep, which is well past what a
4-8GB executor tolerates (k-core learned this first: kcore.py's
BROADCAST_DEAD_BYTES). Budget default 256MB: comfortably inside a
default 1g broadcast/storage headroom, re-shipped once per superstep.

Row-byte estimates are the unsafe-row payload plus broadcast
hash-relation overhead (~2x), per operator: (id, comp/rank/label) ~
32B, Spinner's (id, deg, wdeg, part) ~ 40B.
"""

from __future__ import annotations

STATE_BROADCAST_BUDGET_BYTES = 256 * 1024 * 1024


def auto_state_broadcast(
    n_rows: int,
    row_bytes: int,
    rows_override: int | None = None,
    budget_bytes: int | None = None,
) -> bool:
    """True -> take the broadcast plan.

    ``rows_override`` preserves the explicit row-count knob (callers
    passing ``broadcast_threshold=N`` get exactly the old behavior);
    by default the decision is estimated bytes vs the 256MB budget.
    """
    return n_rows * row_bytes <= state_budget_bytes(row_bytes, rows_override, budget_bytes)


def state_budget_bytes(
    row_bytes: int, rows_override: int | None = None, budget_bytes: int | None = None
) -> int:
    """The byte budget ``auto_state_broadcast`` compares against: the
    explicit row-count knob in bytes when given, else the budget."""
    if rows_override is not None:
        return rows_override * row_bytes
    return budget_bytes or STATE_BROADCAST_BUDGET_BYTES
