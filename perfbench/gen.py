"""Seeded change-stream generator and the wire encoders the workloads feed.

One :class:`ChangeGen` draws an initial table and a log of change events
from a seed. The same seed and parameters always give the same events,
and the encoders turn them into byte-identical source segments:

* MySQL binlog v4 segments (one rows event per change, ``log_pos``
  strictly increasing across segments, so the decoder's
  ``__seq = log_pos * 2 (+1)`` orders every change);
* framed pgoutput segments (REPLICA IDENTITY FULL, one message per
  change, LSN strictly increasing);
* a DuckDB source table holding the initial rows.

Keys are drawn from a Zipf distribution over a seeded permutation of the
key space, so hot keys are scattered rather than clustered at low ids.
"""

from __future__ import annotations

import bisect
import os
import random
import string
from dataclasses import asdict, dataclass
from typing import NamedTuple

REGIONS = ("emea", "apac", "amer", "latam", "anz")
STATUSES = ("new", "paid", "packed", "shipped", "returned", "closed")
NOTE_LEN = 16


@dataclass(frozen=True)
class Params:
    """What a workload's change stream looks like."""

    n_keys: int          # keys in the initial table
    skew: float          # Zipf exponent over key ranks (0 = uniform)
    insert: float        # op mix: shares of inserts, updates, deletes
    update: float
    delete: float
    width: int           # extra 16-character text columns per row
    batch_rows: int      # change events per log segment (one micro-batch)
    batches: int         # log segments

    def describe(self) -> dict:
        return asdict(self)


class Event(NamedTuple):
    op: str              # "I", "U" or "D"
    key: int
    before: tuple | None  # full row image before the change (U, D)
    after: tuple | None   # full row image after the change (I, U)


def columns(width: int) -> list[tuple[str, str]]:
    """(name, Spark SQL type) of a generated row, in wire order."""
    return ([("id", "bigint"), ("user_id", "bigint"), ("region", "string"),
             ("status", "string"), ("qty", "bigint"), ("amount", "double")]
            + [(f"note{i}", "string") for i in range(1, width + 1)])


def schema_ddl(width: int) -> str:
    return ", ".join(f"{n} {t}" for n, t in columns(width))


class ChangeGen:
    """Draws the initial rows and the change log for one seed."""

    def __init__(self, seed: int, params: Params):
        self.p = params
        self.rng = random.Random(seed)
        keys = list(range(params.n_keys))
        self.rng.shuffle(keys)
        self.rank_to_key = keys
        weights = [1.0 / (r ** params.skew)
                   for r in range(1, params.n_keys + 1)]
        self.cum = []
        acc = 0.0
        for w in weights:
            acc += w
            self.cum.append(acc)
        self.next_key = params.n_keys
        self.live: dict[int, tuple] = {}

    def _row(self, key: int) -> tuple:
        r = self.rng
        notes = tuple("".join(r.choices(string.ascii_lowercase, k=NOTE_LEN))
                      for _ in range(self.p.width))
        return (key, key * 7919 % 100_000, REGIONS[key % len(REGIONS)],
                r.choice(STATUSES), r.randrange(1000),
                r.randrange(1_000_000) / 100) + notes

    def _zipf_key(self) -> int:
        u = self.rng.random() * self.cum[-1]
        return self.rank_to_key[bisect.bisect_left(self.cum, u)]

    def initial(self) -> list[tuple]:
        """The initial table: one row per key of the key space."""
        rows = [self._row(k) for k in range(self.p.n_keys)]
        self.live = {row[0]: row for row in rows}
        return rows

    def log(self, bulk: frozenset[int] = frozenset()
            ) -> list[list[Event]]:
        """The change log, one list of events per segment. An update or
        delete that draws a key not currently live re-inserts it instead,
        so delete-then-reinsert of hot keys happens naturally. The
        segments numbered in ``bulk`` are bulk loads instead: one insert
        of a new key per key of the initial table."""
        p = self.p
        ops = ("I", "U", "D")
        mix = (p.insert, p.update, p.delete)
        out = []
        for i in range(p.batches):
            if i in bulk:
                keys = range(self.next_key, self.next_key + p.n_keys)
                self.next_key += p.n_keys
                rows = [self._row(k) for k in keys]
                self.live.update((r[0], r) for r in rows)
                out.append([Event("I", r[0], None, r) for r in rows])
                continue
            batch = []
            for op in self.rng.choices(ops, weights=mix, k=p.batch_rows):
                if op == "I":
                    key = self.next_key
                    self.next_key += 1
                else:
                    key = self._zipf_key()
                cur = self.live.get(key)
                if cur is None:
                    new = self._row(key)
                    self.live[key] = new
                    batch.append(Event("I", key, None, new))
                elif op == "D":
                    del self.live[key]
                    batch.append(Event("D", key, cur, None))
                else:
                    new = self._row(key)
                    self.live[key] = new
                    batch.append(Event("U", key, cur, new))
            out.append(batch)
        return out


def op_counts(batches: list[list[Event]]) -> dict:
    counts = {"I": 0, "U": 0, "D": 0}
    for b in batches:
        for e in b:
            counts[e.op] += 1
    return counts


# -- MySQL binlog ----------------------------------------------------------

BINLOG_TABLE_ID = 42
BINLOG_POS_STEP = 1000   # log_pos advance per event; keeps u32 headroom


def _binlog_cols(width: int):
    from flink_cdc_dsql_master_spark.binlog import (MYSQL_TYPE_DOUBLE,
                                                    MYSQL_TYPE_LONGLONG,
                                                    MYSQL_TYPE_VARCHAR)

    kinds = {"bigint": (MYSQL_TYPE_LONGLONG, None),
             "string": (MYSQL_TYPE_VARCHAR, 64),
             "double": (MYSQL_TYPE_DOUBLE, None)}
    return [kinds[t] for _, t in columns(width)]


class BinlogEncoder:
    """Encodes segments of one binlog; ``log_pos`` continues across them."""

    def __init__(self, db: str, table: str, width: int):
        self.db, self.table = db, table
        self.cols = _binlog_cols(width)
        self.pos = 4 * BINLOG_POS_STEP

    def _advance(self) -> int:
        self.pos += BINLOG_POS_STEP
        return self.pos

    def _head(self) -> bytes:
        from flink_cdc_dsql_master_spark.binlog import (MAGIC, encode_fde,
                                                        encode_table_map)

        return (MAGIC + encode_fde(120)
                + encode_table_map(BINLOG_TABLE_ID, self.db, self.table,
                                   self.cols, self._advance()))

    def events(self, batch: list[Event]) -> bytes:
        from flink_cdc_dsql_master_spark.binlog import (encode_delete_rows,
                                                        encode_update_rows,
                                                        encode_write_rows)

        parts = [self._head()]
        for e in batch:
            pos = self._advance()
            if e.op == "I":
                parts.append(encode_write_rows(
                    BINLOG_TABLE_ID, self.cols, [list(e.after)], pos))
            elif e.op == "U":
                parts.append(encode_update_rows(
                    BINLOG_TABLE_ID, self.cols,
                    [(list(e.before), list(e.after))], pos))
            else:
                parts.append(encode_delete_rows(
                    BINLOG_TABLE_ID, self.cols, [list(e.before)], pos))
        return b"".join(parts)


# -- pgoutput --------------------------------------------------------------

PG_OID = 16401
_PG_TYPE_OIDS = {"bigint": 20, "string": 25, "double": 701}
PG_LSN_STEP = 64


def _pg_text(v) -> str:
    return repr(v) if isinstance(v, float) else str(v)


class PgoutputEncoder:
    """Encodes framed pgoutput segments; the LSN continues across them."""

    def __init__(self, namespace: str, table: str, width: int):
        self.namespace, self.table = namespace, table
        self.cols = [(n, n == "id", _PG_TYPE_OIDS[t])
                     for n, t in columns(width)]
        self.lsn = 0x1000000

    def _advance(self) -> int:
        self.lsn += PG_LSN_STEP
        return self.lsn

    def _relation(self) -> tuple[int, bytes]:
        from flink_cdc_dsql_master_spark.pgoutput import encode_relation

        return (self._advance(), encode_relation(
            PG_OID, self.namespace, self.table, self.cols, identity="f"))

    def inserts(self, rows: list[tuple]) -> bytes:
        return self.events([Event("I", r[0], None, r) for r in rows])

    def events(self, batch: list[Event]) -> bytes:
        from flink_cdc_dsql_master_spark.pgoutput import (encode_delete,
                                                          encode_frames,
                                                          encode_insert,
                                                          encode_update)

        msgs = [self._relation()]
        for e in batch:
            lsn = self._advance()
            if e.op == "I":
                msg = encode_insert(PG_OID, [_pg_text(v) for v in e.after])
            elif e.op == "U":
                msg = encode_update(PG_OID, [_pg_text(v) for v in e.after],
                                    [_pg_text(v) for v in e.before], "O")
            else:
                msg = encode_delete(PG_OID,
                                    [_pg_text(v) for v in e.before], "O")
            msgs.append((lsn, msg))
        return encode_frames(msgs)


# -- DuckDB source table ---------------------------------------------------

def write_duckdb_table(path: str, table: str, width: int,
                       rows: list[tuple]) -> None:
    """Create ``table`` in a fresh DuckDB file holding ``rows``."""
    import duckdb
    import pandas as pd

    if os.path.exists(path):
        os.remove(path)
    cols = columns(width)
    sql_types = {"bigint": "BIGINT", "string": "VARCHAR",
                 "double": "DOUBLE"}
    con = duckdb.connect(path)
    try:
        con.execute(f"CREATE TABLE {table} ("
                    + ", ".join(f"{n} {sql_types[t]}" for n, t in cols)
                    + ", PRIMARY KEY (id))")
        frame = pd.DataFrame(rows, columns=[n for n, _ in cols])
        con.register("frame", frame)
        con.execute(f"INSERT INTO {table} SELECT * FROM frame")
        con.unregister("frame")
    finally:
        con.close()


def write_segments(directory: str, blobs: list[bytes], suffix: str,
                   first: int, mtime_base: int) -> None:
    """Write segments ``first, first + 1, ...`` as one file each. Segment
    ``i`` gets modification time ``mtime_base + i``, because Spark's file
    source orders a backlog by modification time."""
    os.makedirs(directory, exist_ok=True)
    for i, blob in enumerate(blobs, start=first):
        path = os.path.join(directory, f"seg{i:05d}{suffix}")
        with open(path, "wb") as f:
            f.write(blob)
        os.utime(path, (mtime_base + i, mtime_base + i))
