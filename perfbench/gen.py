"""Seeded input generator and independent expected-output oracle.

Only numpy, pandas and the standard library are used here: nothing in this
module imports the program under test, so the oracle is a second,
independent statement of what the program must output.

Cell model (one Cassandra table, wide rows):
  partition = key + partition deletion + cells sorted by name
  cell      = name, kind (LIVE/DELETED/EXPIRING/COUNTER), writeTime, value

Reference quirks the oracle keeps (FIXTURES.md F-1/F-2):
  * a partition with a partition-level tombstone emits nothing;
  * only LIVE cells survive -- EXPIRING cells are dropped whether or not
    their TTL has run out, and so are DELETED and COUNTER cells;
  * a live partition whose cells are all filtered still emits a Row with
    an empty column list.
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

LIVE, DELETED, EXPIRING, COUNTER = 0, 1, 2, 3
KIND_NAMES = ("LIVE", "DELETED", "EXPIRING", "COUNTER")
# ~16 % of cells are not LIVE; with ~2 % of partitions deleted, ~18 % of
# the cells on disk are dead
KIND_P = (0.84, 0.08, 0.06, 0.02)
PARTITION_DELETE_P = 0.02
LIVE_LDT = 0x7FFFFFFF
LIVE_MARKED = -(1 << 63)
BASE_TS = 1_700_000_000_000_000
# the largest share of cells sits in one file, the rest tier down; seven
# files is more than the cores of a small host, so the scan has more
# files than task slots and the biggest file's writer sets the job time
CONVERT_SHARES = (0.50, 0.16, 0.11, 0.08, 0.06, 0.05, 0.04)
# compaction input: generation 1 and three rewriting generations
GENERATIONS = 4
REWRITE_SHARE = 0.4
# lookups: the share of requests for stored keys
PRESENT_SHARE = 0.8


@dataclass
class SSTable:
    """One generated sstable, columnar, partitions in decorated order
    (md5 digest, then key bytes -- the writer's required order)."""
    generation: int
    keys: list            # bytes per partition
    deleted: np.ndarray   # bool per partition
    marked_at: np.ndarray  # int64 per partition (LIVE_MARKED if live)
    counts: np.ndarray    # int64 cells per partition
    names: list           # bytes per cell
    kinds: np.ndarray     # int8 per cell
    ts: np.ndarray        # int64 per cell
    values: list          # bytes per cell (b"" for DELETED)
    ttl: np.ndarray       # int32 per cell (EXPIRING only)
    lexp: np.ndarray      # int32 per cell (EXPIRING only)

    @property
    def sstable_id(self) -> str:
        return f"ks-cf-ka-{self.generation}"

    @property
    def n_cells(self) -> int:
        return len(self.names)


def _decorated_order(keys: list) -> list:
    return sorted(range(len(keys)),
                  key=lambda i: (hashlib.md5(keys[i]).digest(), keys[i]))


def _key(i: int) -> bytes:
    return b"pk%08d" % i


def _names(rng, counts: np.ndarray) -> list:
    """Strictly increasing fixed-width names within each partition."""
    inc = rng.integers(1, 4, size=int(counts.sum()))
    csum = np.cumsum(inc)
    starts = np.cumsum(counts) - counts
    base = np.repeat(csum[starts] - inc[starts], counts)
    return [b"c%07d" % v for v in (csum - base).tolist()]


def _values(rng, n: int) -> list:
    lens = rng.integers(4, 65, size=n)
    blob = rng.bytes(int(lens.sum()))
    ends = np.cumsum(lens)
    return [blob[e - ln:e] for e, ln in zip(ends.tolist(), lens.tolist())]


def _sstable(rng, generation: int, key_ids: np.ndarray, counts: np.ndarray,
             ts_base: int, names: list | None = None) -> SSTable:
    keys = [_key(int(k)) for k in key_ids]
    n = int(counts.sum())
    if names is None:
        names = _names(rng, counts)
    kinds = rng.choice(4, size=n, p=KIND_P).astype(np.int8)
    ts = ts_base + rng.integers(0, 1_000_000_000, size=n)
    values = _values(rng, n)
    for i in np.flatnonzero(kinds == DELETED).tolist():
        values[i] = b""
    expiring = kinds == EXPIRING
    ttl = np.where(expiring, rng.integers(60, 86_400, size=n), 0)
    # both expired (past) and unexpired (far future) TTL cells: the
    # program must drop them alike
    lexp = np.where(expiring,
                    np.where(rng.random(n) < 0.5, 1_000_000, 2_000_000_000),
                    0)
    deleted = rng.random(len(keys)) < PARTITION_DELETE_P
    marked = np.where(deleted, ts_base + rng.integers(0, 1_000_000_000,
                                                      size=len(keys)),
                      LIVE_MARKED)
    order = _decorated_order(keys)
    starts = np.cumsum(counts) - counts
    cell_idx = np.concatenate(
        [np.arange(starts[i], starts[i] + counts[i]) for i in order]
    ) if n else np.zeros(0, dtype=np.int64)
    return SSTable(
        generation=generation,
        keys=[keys[i] for i in order],
        deleted=deleted[order],
        marked_at=marked[order].astype(np.int64),
        counts=counts[order].astype(np.int64),
        names=[names[i] for i in cell_idx.tolist()],
        kinds=kinds[cell_idx],
        ts=ts[cell_idx].astype(np.int64),
        values=[values[i] for i in cell_idx.tolist()],
        ttl=ttl[cell_idx].astype(np.int32),
        lexp=lexp[cell_idx].astype(np.int32),
    )


def _narrow_counts(rng, n_parts: int) -> np.ndarray:
    return (1 + rng.poisson(7, size=n_parts)).astype(np.int64)


def convert_corpus(seed: int, n_cells: int, n_wide: int = 3,
                   wide_cells: tuple = (1500, 4000)) -> list:
    """Size-tiered sstables over one key space; keys recur across files.

    Partitions are mostly narrow (~8 cells) plus `n_wide` wide ones
    spread over the files, each wide enough to span several 64 KiB
    promoted-index blocks."""
    rng = np.random.default_rng([seed, 1])
    wide = rng.integers(wide_cells[0], wide_cells[1], size=n_wide)
    narrow_cells = n_cells - int(wide.sum())
    parts_per_file = [max(1, round(narrow_cells * s / 8))
                      for s in CONVERT_SHARES]
    universe = int(sum(parts_per_file) * 1.25)
    tables = []
    for f, n_parts in enumerate(parts_per_file):
        key_ids = rng.choice(universe, size=n_parts, replace=False)
        counts = _narrow_counts(rng, n_parts)
        # wide partitions get keys outside the narrow range
        mine = [w for w in range(n_wide) if w % len(parts_per_file) == f]
        if mine:
            key_ids = np.concatenate(
                [key_ids, universe + np.array(mine)])
            counts = np.concatenate([counts, wide[mine]])
        tables.append(_sstable(rng, f + 1, key_ids, counts,
                               BASE_TS + f * 1_000_000_000))
    return tables


def compact_corpus(seed: int, n_keys: int) -> list:
    """Overlapping generations of one key space: generation 1 holds every
    key; each later generation rewrites REWRITE_SHARE of the keys --
    mostly names that already exist, with newer writeTimes, plus a few
    new names -- so last-write-wins decides a large share of cells."""
    rng = np.random.default_rng([seed, 2])
    counts1 = _narrow_counts(rng, n_keys)
    names1 = _names(rng, counts1)
    starts1 = np.cumsum(counts1) - counts1
    tables = [_sstable(rng, 1, np.arange(n_keys), counts1, BASE_TS, names1)]
    for g in range(2, GENERATIONS + 1):
        key_ids = np.sort(rng.choice(n_keys, size=int(n_keys * REWRITE_SHARE),
                                     replace=False))
        counts, names = [], []
        for k in key_ids.tolist():
            own = names1[starts1[k]:starts1[k] + counts1[k]]
            keep = [nm for nm in own if rng.random() < 0.6]
            extra = [b"n%d%06d" % (g, j) for j in range(int(rng.integers(0, 3)))]
            picked = sorted(set(keep + extra)) or [own[0]]
            counts.append(len(picked))
            names.extend(picked)
        # newer generations write later, with overlap so that an older
        # generation sometimes still wins a cell
        tables.append(_sstable(rng, g, key_ids, np.array(counts, np.int64),
                               BASE_TS + (g - 1) * 400_000_000, names))
    return tables


def lookup_keys(seed: int, tables: list, n: int) -> list:
    """The lookup request stream: PRESENT_SHARE of requests ask for
    stored keys -- 80 % of those for a hot fifth of the keys, the rest
    for the others, uniformly within each group, so no single key's
    cost dominates a run -- and the rest ask for keys no file holds,
    which the bloom filter should reject at planning time."""
    rng = np.random.default_rng([seed, 3])
    present = sorted({k for t in tables for k in t.keys})
    order = rng.permutation(len(present))
    n_hot = max(1, len(present) // 5)
    hot = rng.random(n) < 0.8
    pick = np.where(hot, rng.integers(0, n_hot, size=n),
                    rng.integers(n_hot, len(present), size=n))
    absent = rng.random(n) >= PRESENT_SHARE
    miss_ids = rng.integers(0, 10**8, size=n)
    return [b"zz%08d" % int(m) if a else present[int(order[p])]
            for a, p, m in zip(absent.tolist(), pick.tolist(),
                               miss_ids.tolist())]


# --------------------------------------------------------------------------
# oracle
# --------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _pb_len(tag: int, payload: bytes) -> bytes:
    return bytes((tag,)) + _varint(len(payload)) + payload if payload else b""


def live_rows(t: SSTable) -> list:
    """The rows the convert sink must write for `t`, in key-byte order:
    [(key, [(name, value, writeTime) of its LIVE cells, in name order])]
    for every partition without a partition tombstone."""
    starts = (np.cumsum(t.counts) - t.counts).tolist()
    live = (t.kinds == LIVE).tolist()
    ts = t.ts.tolist()
    rows = []
    for i in sorted(range(len(t.keys)), key=lambda j: t.keys[j]):
        if t.deleted[i]:
            continue
        cells = range(starts[i], starts[i] + int(t.counts[i]))
        rows.append((t.keys[i], [(t.names[c], t.values[c], ts[c])
                                 for c in cells if live[c]]))
    return rows


def expected_pb_stream(t: SSTable) -> bytes:
    """The uncompressed delimited-protobuf stream the convert sink must
    write for `t` (sstable.proto: Row{key=1, repeated Column columns=2},
    Column{name=1, value=2, fixed64 writeTime=3}; proto3 omits defaults)."""
    out = []
    for key, cells in live_rows(t):
        cols = []
        for name, value, wt in cells:
            col = (_pb_len(0x0A, name) + _pb_len(0x12, value)
                   + (b"\x19" + struct.pack("<Q", wt & (2**64 - 1))
                      if wt else b""))
            cols.append(b"\x12" + _varint(len(col)) + col)
        body = _pb_len(0x0A, key) + b"".join(cols)
        out.append(_varint(len(body)) + body)
    return b"".join(out)


def live_cell_count(tables: list) -> int:
    """LIVE cells of live partitions: the cells the live filter emits,
    and the compaction's candidate set."""
    return sum(int((np.repeat(~t.deleted, t.counts)
                    & (t.kinds == LIVE)).sum()) for t in tables)


def key_index(tables: list) -> dict:
    """key -> [(table, partition index)] over all files."""
    idx: dict = {}
    for t in tables:
        for i, k in enumerate(t.keys):
            idx.setdefault(k, []).append((t, i))
    return idx


def expected_lookup(index: dict, key: bytes) -> list:
    """Sorted canonical rows a full-schema point read of `key` returns:
    one PARTITION marker per file holding the key, then every stored
    cell (all kinds) as (sstable_id, kind, name, writeTime, value,
    partition_live). DELETED cells carry no value."""
    rows = []
    for t, i in index.get(key, ()):
        start = int(np.sum(t.counts[:i]))
        live = not bool(t.deleted[i])
        rows.append((t.sstable_id, "PARTITION", b"", int(t.marked_at[i]),
                     None, live))
        for c in range(start, start + int(t.counts[i])):
            kind = int(t.kinds[c])
            rows.append((t.sstable_id, KIND_NAMES[kind], t.names[c],
                         int(t.ts[c]),
                         None if kind == DELETED else t.values[c], live))
    return sorted(rows, key=row_order)


def row_order(r):
    return (r[0], r[1], r[2], r[3], r[4] or b"", r[5])


def canonical_lookup_rows(rows) -> list:
    """Same canonical form from the program's collected Spark rows."""
    out = [(r["sstable_id"], r["cell_kind"], bytes(r["name"] or b""),
            int(r["writeTime"]),
            None if r["cell_kind"] == "DELETED" or r["value"] is None
            else bytes(r["value"]),
            bool(r["partition_deletion_live"]))
           for r in rows]
    return sorted(out, key=row_order)


def expected_compaction(tables: list) -> pd.DataFrame:
    """Last-write-wins winners the compaction must keep: among LIVE cells
    of live partitions, per (key, name) the greatest (writeTime, origin
    sstable_id, value). Sorted by (key, name)."""
    df = pd.concat([pd.DataFrame({
        "sstable_id": t.sstable_id,
        "key": np.repeat(np.array(t.keys, dtype=object), t.counts),
        "partition_live": np.repeat(~t.deleted, t.counts),
        "name": np.array(t.names, dtype=object),
        "kind": t.kinds,
        "writeTime": t.ts,
        "value": np.array(t.values, dtype=object),
    }) for t in tables], ignore_index=True)
    df = df[df["partition_live"] & (df["kind"] == LIVE)]
    df = df.sort_values(["key", "name", "writeTime", "sstable_id", "value"],
                        ascending=[True, True, False, False, False],
                        kind="mergesort")
    win = df.drop_duplicates(["key", "name"], keep="first")
    return win[["key", "name", "value", "writeTime"]].reset_index(drop=True)
