"""Seeded operation streams and the expectation models they are checked
against.

Everything here is pure Python: the op stream for a seed is fixed before
the program sees any of it, and the expected result of every op is
computed from the models below, outside the timed loop.

Cells are compared in one canonical form: ``(family, qualifier, ts,
vtype, value)``.
"""

from __future__ import annotations

import bisect
import math
import random
from collections import Counter
from decimal import Decimal

PREFIX_COLUMN = "o:totalprice"

#: kv_read op mix, per block of 20 ops: the shares the workload promises
#: hold exactly at every block boundary
READ_BLOCK = (
    ("get", 7),  # 35 %
    ("multi_get", 3),  # 15 %
    ("prefix", 4),  # 20 %
    ("range", 3),  # 15 %
    ("count", 3),  # 15 %
)
MULTI_GET_KEYS = 16
RANGE_ROW_LIMIT = 20
#: range scans cover this many keys from their start (inclusive end),
#: far more than the row limit returns
RANGE_SPAN = 1000
#: prefix scans drop this many trailing key digits (10**n keys covered)
PREFIX_DROP = 2
COUNT_DROP = 3

#: kv_mixed: written family, its version limit, and the batch shape
WRITE_FAMILY = "w"
VERSION_LIMIT = 2
WRITE_ROWS = 200
WRITE_QUALIFIERS = ("c0", "c1", "c2", "c3", "c4")  # 200 x 5 = 1000 cells
#: rows the batches write to: 200 of 500 per batch, so consecutive batches
#: overlap (shadowing) and columns gather versions (GC)
HOT_ROWS = 500
#: kv_mixed runs in cycles of ``CYCLE_ROUNDS`` rounds. A round is one
#: write batch, one compaction-worker call and ``READS_PER_ROUND`` reads.
#: With the worker thresholds below, round 1's write drives a minor fold
#: and round 2's a major one; ``ROUND_EXTRAS`` then adds a row delete
#: (round 3) and version GC (round 4), which both rewrite the whole table.
#: Every cycle thus runs every maintenance path once, and GC runs after
#: five batches have stacked three timestamps on some columns.
CYCLE_ROUNDS = 5
READS_PER_ROUND = 2
#: the reads of one cycle, in order: the kv_read mix rounded to ten ops
#: (4 get, 1 multi-get, 2 prefix, 2 range, 1 count). The order is fixed so
#: that each read meets the same chain state whatever the seed; the seed
#: picks the keys.
CYCLE_READS = ("get", "prefix", "multi_get", "get", "range", "count", "get", "prefix", "range", "get")
ROUND_EXTRAS = {3: "delete", 4: "gc"}
L0_THRESHOLD = 2
MINOR_FANIN = 2


def row_key(k: int) -> str:
    return f"order#{k:012d}"


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}/{stream}")


class ReadOps:
    """The kv_read op stream: blocks of 20 ops in the ``READ_BLOCK`` mix,
    shuffled per block. Point-read keys are drawn from the whole key
    space, so about one in ten is absent."""

    def __init__(self, seed: int, key_space: int, stream: str = "reads"):
        self.rng = _rng(seed, stream)
        self.key_space = key_space
        self._block: list[str] = []

    def _key(self) -> str:
        return row_key(self.rng.randrange(self.key_space))

    def next(self) -> dict:
        if not self._block:
            self._block = [kind for kind, n in READ_BLOCK for _ in range(n)]
            self.rng.shuffle(self._block)
        return self.make(self._block.pop())

    def make(self, kind: str) -> dict:
        if kind == "get":
            return {"op": "get", "key": self._key()}
        if kind == "multi_get":
            return {"op": "multi_get", "keys": [self._key() for _ in range(MULTI_GET_KEYS)]}
        if kind == "prefix":
            return {"op": "prefix", "prefix": self._key()[:-PREFIX_DROP]}
        if kind == "range":
            k = self.rng.randrange(self.key_space)
            return {"op": "range", "start": row_key(k), "end": row_key(k + RANGE_SPAN)}
        return {"op": "count", "prefix": self._key()[:-COUNT_DROP]}


def write_batch(seed: int, i: int, hot_keys: list[int]) -> list[dict]:
    """Write batch ``i``: 1000 cells over 200 distinct hot rows. Pairs of
    consecutive batches share a timestamp, so the second shadows the
    cells the two have in common; the timestamp advances every second
    batch, so columns pile up versions for version GC to trim."""
    rng = _rng(seed, f"write/{i}")
    ts = 1_000 + i // 2
    return [
        {
            "row_key": row_key(k),
            "cells": [
                {
                    "column_key": f"{WRITE_FAMILY}:{q}",
                    "value": {"i64": rng.randrange(1 << 40)},
                    "timestamp": ts,
                }
                for q in WRITE_QUALIFIERS
            ],
        }
        for k in rng.sample(hot_keys, WRITE_ROWS)
    ]


class MixedOps:
    """The kv_mixed op stream, one cycle at a time (see ``CYCLE_ROUNDS``).
    Reads come from the kv_read mix; deletes remove one hot row's
    written family."""

    def __init__(self, seed: int, key_space: int, hot_keys: list[int]):
        self.hot_keys = hot_keys
        self.reads = ReadOps(seed, key_space, stream="mixed-reads")
        self.rng = _rng(seed, "deletes")
        self._round = 0

    def cycle(self) -> list[dict]:
        out = []
        for r in range(CYCLE_ROUNDS):
            out.append({"op": "write", "batch": self._round})
            self._round += 1
            out.append({"op": "compact_worker"})
            out.extend(
                self.reads.make(kind)
                for kind in CYCLE_READS[r * READS_PER_ROUND:(r + 1) * READS_PER_ROUND]
            )
            extra = ROUND_EXTRAS.get(r)
            if extra == "gc":
                out.append({"op": "gc"})
            elif extra == "delete":
                out.append({"op": "delete", "key": row_key(self.rng.choice(self.hot_keys))})
        return out


def warmup_op(kind: str, key_space: int) -> dict:
    """One fixed op of each read kind, run once before timing starts."""
    return ReadOps(0, key_space, stream=f"warmup/{kind}").make(kind)


def hot_keys(seed: int, keys: list[int]) -> list[int]:
    """The rows kv_mixed writes to: a seeded sample of present keys."""
    return sorted(_rng(seed, "hot").sample(keys, min(HOT_ROWS, len(keys))))


# -- expectation model -------------------------------------------------------


class CellModel:
    """The table as the workload has shaped it: the loaded orders family
    (from DuckDB over the generated parquet) plus a model of every write,
    delete and GC applied to the written family."""

    def __init__(self, base_cells: dict[str, list[tuple]]):
        self.base = base_cells
        self.keys = sorted(base_cells)
        self.written: dict[str, dict[tuple[str, int], int]] = {}

    def cells(self, key: str, family: str | None = None) -> list[tuple]:
        out = []
        if family in (None, "o"):
            out.extend(self.base.get(key, ()))
        if family in (None, WRITE_FAMILY):
            for (q, ts), v in self.written.get(key, {}).items():
                out.append((WRITE_FAMILY, q, ts, "i64", v))
        return out

    def apply_write(self, items: list[dict]) -> int:
        n = 0
        for item in items:
            row = self.written.setdefault(item["row_key"], {})
            for c in item["cells"]:
                q = c["column_key"].split(":", 1)[1]
                row[(q, c["timestamp"])] = c["value"]["i64"]
                n += 1
        return n

    def apply_delete(self, key: str) -> int:
        return len(self.written.pop(key, {}))

    def apply_gc(self) -> int:
        deleted = 0
        for row in self.written.values():
            by_q: dict[str, list[int]] = {}
            for q, ts in row:
                by_q.setdefault(q, []).append(ts)
            for q, tss in by_q.items():
                for ts in sorted(tss, reverse=True)[VERSION_LIMIT:]:
                    del row[(q, ts)]
                    deleted += 1
        return deleted

    def live_cells(self) -> int:
        return sum(len(v) for v in self.base.values()) + sum(
            len(v) for v in self.written.values()
        )

    def logical_bytes(self) -> int:
        return sum(
            cell_bytes(k, c) for k, cells in self.base.items() for c in cells
        ) + sum(
            cell_bytes(k, c) for k in self.written for c in self.cells(k, WRITE_FAMILY)
        )

    # expected results, in the canonical shapes ``normalize_rows`` makes

    def _rows(self, keys, family=None, qualifier=None) -> list[tuple]:
        out = []
        for k in keys:
            cells = [
                c
                for c in self.cells(k, family)
                if qualifier is None or c[1] == qualifier
            ]
            if cells:
                out.append(canonical_row(k, cells))
        return out

    def _prefix_keys(self, prefix: str) -> list[str]:
        lo = bisect.bisect_left(self.keys, prefix)
        hi = bisect.bisect_left(self.keys, prefix + "\U0010ffff")
        return self.keys[lo:hi]

    def expect(self, op: dict):
        kind = op["op"]
        if kind == "get":
            return self._rows([op["key"]])
        if kind == "multi_get":
            return self._rows(sorted(set(op["keys"])))
        if kind == "prefix":
            fam, qual = PREFIX_COLUMN.split(":")
            return self._rows(self._prefix_keys(op["prefix"]), fam, qual)
        if kind == "range":
            lo = bisect.bisect_left(self.keys, op["start"])
            hi = bisect.bisect_right(self.keys, op["end"])
            return self._rows(self.keys[lo:hi])[:RANGE_ROW_LIMIT]
        if kind == "count":
            keys = self._prefix_keys(op["prefix"])
            n_cells = sum(len(self.cells(k)) for k in keys)
            return (len(keys), n_cells)
        raise ValueError(f"no expectation for op {kind!r}")


def cell_bytes(key: str, cell: tuple) -> int:
    """Logical size of one cell: key, family and qualifier bytes, an
    8-byte timestamp, and the value (8 bytes for numbers)."""
    fam, qual, _ts, _vtype, value = cell
    size = len(key) + len(fam) + len(qual) + 8
    return size + (len(value.encode()) if isinstance(value, str) else 8)


def batch_logical_bytes(items: list[dict]) -> int:
    """Logical bytes of a write batch (see ``cell_bytes``)."""
    return sum(
        cell_bytes(it["row_key"], tuple(c["column_key"].split(":", 1)) + (0, "i64", 0))
        for it in items
        for c in it["cells"]
    )


def canonical_row(key: str, cells: list[tuple]) -> tuple:
    """A row as (key, ((family, qualifier, ((ts, vtype, value), ...)), ...))
    with columns sorted and versions newest first."""
    cols: dict[tuple[str, str], list[tuple]] = {}
    for fam, qual, ts, vtype, value in cells:
        cols.setdefault((fam, qual), []).append((ts, vtype, value))
    return (
        key,
        tuple(
            (fam, qual, tuple(sorted(v, key=lambda c: -c[0])))
            for (fam, qual), v in sorted(cols.items())
        ),
    )


_VCOL = {
    "string": "v_str",
    "boolean": "v_bool",
    "byte": "v_byte",
    "i32": "v_i32",
    "i64": "v_i64",
    "f32": "v_f32",
    "f64": "v_f64",
}


def normalize_rows(rows) -> list[tuple]:
    """Collected nested rows (``row_key``, ``columns``) in canonical form,
    keeping the program's row order and version order."""
    out = []
    for r in rows:
        cols = []
        for fam, qmap in sorted(r["columns"].items()):
            for qual, versions in sorted(qmap.items()):
                cols.append(
                    (
                        fam,
                        qual,
                        tuple((c["time"], c["vtype"], c[_VCOL[c["vtype"]]]) for c in versions),
                    )
                )
        out.append((r["row_key"], tuple(cols)))
    return out


# -- analytics result comparison ---------------------------------------------


def _norm_value(v):
    """Type-tagged, exact normalization: a result must match its oracle in
    type and value, not just numerically."""
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_norm_value(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((str(k), _norm_value(x)) for k, x in v.items())))
    return (type(v).__name__, repr(v))


def result_multiset(rows, columns: list[str]) -> Counter:
    """Order-insensitive multiset of rows, columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm_value(r[i]) for i in order) for r in rows)


def compare_result(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the program's result equals the oracle's, else why not."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != {len(want_rows)}"
    got = result_multiset([tuple(r) for r in got_rows], list(got_cols))
    want = result_multiset(want_rows, list(want_cols))
    if got != want:
        return f"values differ, e.g. {list((got - want).items())[:1]} vs {list((want - got).items())[:1]}"
    return None
