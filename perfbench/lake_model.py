"""In-harness model of the corpus table that ``corpus_curation``
commits shards to: the rows every read of the real table must return,
kept as plain Python."""

from __future__ import annotations


class LakeModel:
    """Rows keyed by their first column; mirrors append / merge /
    delete. ``value`` is the index of the integer column that range
    aggregates sum."""

    def __init__(self, rows, value: int):
        self.value = value
        self.rows: dict[int, tuple] = {}
        self.append(rows)

    def append(self, rows) -> None:
        for r in rows:
            if r[0] in self.rows:
                raise ValueError(f"append of existing key {r[0]}")
            self.rows[r[0]] = tuple(r)

    def merge(self, rows) -> None:
        """Upsert by key: matched keys are replaced, new keys inserted."""
        for r in rows:
            self.rows[r[0]] = tuple(r)

    def delete_range(self, lo: int, hi: int) -> int:
        """Delete keys in ``[lo, hi)``; returns rows deleted."""
        gone = [k for k in self.rows if lo <= k < hi]
        for k in gone:
            del self.rows[k]
        return len(gone)

    def point(self, key: int) -> list[tuple]:
        """The row with this key, if any."""
        return [self.rows[key]] if key in self.rows else []

    def range_agg(self, lo: int, hi: int) -> tuple[int, int]:
        """(row count, sum of the value column) over keys in ``[lo, hi)``."""
        sel = [r for k, r in self.rows.items() if lo <= k < hi]
        return len(sel), sum(int(r[self.value]) for r in sel)
