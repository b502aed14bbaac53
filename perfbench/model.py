"""Sequential reference model and the order-independent table hash.

The model is a plain dict from primary key to the latest row image:
events apply one at a time in log order, last write wins, a delete drops
the key. Each workload's final sink table must hash equal to the model.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable

from .gen import Event


class LwwModel:
    """Last-write-wins table state over a change log.

    ``project`` maps a source row to the sink row, or to ``None`` when
    the pipeline's filter drops it; it must keep the key in position 0
    and may depend only on columns that never change for a key, so a
    filtered key is filtered in every image."""

    def __init__(self, rows: Iterable[tuple] = (),
                 project: Callable[[tuple], tuple | None] | None = None):
        self.project = project or (lambda row: row)
        self.rows: dict[int, tuple] = {}
        for row in rows:
            self._put(row)

    def _put(self, row: tuple) -> None:
        out = self.project(row)
        if out is not None:
            self.rows[out[0]] = out

    def apply(self, events: Iterable[Event]) -> None:
        for e in events:
            if e.op == "D":
                self.rows.pop(e.key, None)
            else:
                self._put(e.after)

    def get(self, key: int) -> tuple | None:
        return self.rows.get(key)

    def digest(self) -> tuple[int, int]:
        return table_digest(self.rows.values())


def _norm(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def row_digest(row: tuple) -> int:
    h = hashlib.blake2b("\x1f".join(map(_norm, row)).encode(),
                        digest_size=8)
    return int.from_bytes(h.digest(), "little")


def table_digest(rows: Iterable[tuple]) -> tuple[int, int]:
    """(row count, sum of per-row 64-bit digests mod 2**64): equal for
    equal multisets of rows, whatever their order."""
    n, acc = 0, 0
    for row in rows:
        n += 1
        acc = (acc + row_digest(row)) & 0xFFFFFFFFFFFFFFFF
    return n, acc


def frame_rows(df, names: list[str]) -> list[tuple]:
    """Collect a Spark DataFrame's ``names`` columns as row tuples, via
    Arrow so bigint and double values keep their exact Python types."""
    table = df.select(*names).toArrow()
    cols = [table.column(n).to_pylist() for n in names]
    return list(zip(*cols))
