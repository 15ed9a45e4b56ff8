"""Independent SCD1 reference for the CDC workload, in plain Python.

Applies the change files in arrival order, one file per batch, with the
contract the state table promises:

* within a batch, the row with the highest ``seq`` wins per key, and on
  equal ``seq`` the highest ``change_id`` (the tie-breaker);
* against the stored state, the batch winner replaces the stored row when
  its ``seq`` is at least the stored one (a newer change, or a re-delivery
  of the same sequence);
* a delete (``op == 'D'``) is kept as a tombstone, so a late upsert with
  an older ``seq`` loses to it; readers see live rows only.
"""

from __future__ import annotations

from collections.abc import Iterable

PAYLOAD = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")


class Scd1Reference:
    def __init__(self) -> None:
        self._state: dict[int, dict] = {}

    def apply(self, batch: Iterable[dict]) -> None:
        winners: dict[int, dict] = {}
        for r in batch:
            k = r["o_orderkey"]
            w = winners.get(k)
            if w is None or (r["seq"], r["change_id"]) > (w["seq"], w["change_id"]):
                winners[k] = r
        for k, r in winners.items():
            cur = self._state.get(k)
            if cur is None or r["seq"] >= cur["seq"]:
                self._state[k] = r

    def get(self, key: int) -> tuple | None:
        """The live row of ``key`` as ``(key, payload..., seq, change_id)``."""
        r = self._state.get(key)
        if r is None or r["op"] == "D":
            return None
        return (key, *(r[c] for c in PAYLOAD), r["seq"], r["change_id"])

    def rows(self) -> list[tuple]:
        return sorted(t for t in map(self.get, self._state) if t is not None)
