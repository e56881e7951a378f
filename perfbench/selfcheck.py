"""Self-checks of the benchmark's own generator and oracle.

* A tiny hand-built input whose expected outputs are written out by hand
  below: the convert oracle's protobuf bytes, the lookup rows and the
  last-write-wins winners.
* The generators are deterministic: the same seed gives the same inputs,
  another seed gives other inputs.

Every benchmark run calls run_all() and counts a failure as a failed
operation. Run standalone: python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import sys

import numpy as np

import gen


def _table(generation: int, parts: list) -> gen.SSTable:
    """parts: (key, marked_at or None, [(name, kind, ts, value, lexp)])"""
    cells = [c for _, _, cs in parts for c in cs]
    return gen.SSTable(
        generation=generation,
        keys=[k for k, _, _ in parts],
        deleted=np.array([m is not None for _, m, _ in parts]),
        marked_at=np.array([gen.LIVE_MARKED if m is None else m
                            for _, m, _ in parts], dtype=np.int64),
        counts=np.array([len(cs) for _, _, cs in parts], dtype=np.int64),
        names=[c[0] for c in cells],
        kinds=np.array([c[1] for c in cells], dtype=np.int8),
        ts=np.array([c[2] for c in cells], dtype=np.int64),
        values=[c[3] for c in cells],
        ttl=np.array([60 if c[1] == gen.EXPIRING else 0 for c in cells],
                     dtype=np.int32),
        lexp=np.array([c[4] for c in cells], dtype=np.int32))


L, D, E, C = gen.LIVE, gen.DELETED, gen.EXPIRING, gen.COUNTER
# a: live partition -- one LIVE cell survives; the unexpired EXPIRING and
#    the DELETED cell are dropped
# b: deleted partition -- nothing is emitted, not even its LIVE cell
# c: live partition whose cells are all dropped (expired TTL, counter)
#    -- still emits a Row with no columns
TINY = _table(1, [
    (b"a", None, [(b"n1", L, 5, b"v1", 0), (b"n2", E, 6, b"v2", 2_000_000_000),
                  (b"n3", D, 7, b"", 0)]),
    (b"b", 9, [(b"n1", L, 8, b"x", 0)]),
    (b"c", None, [(b"n1", E, 3, b"y", 1_000), (b"n2", C, 4, b"z", 0)]),
])
TINY_PB = (b"\x16"                       # Row frame: 22 bytes
           b"\x0a\x01a"                  # key = "a"
           b"\x12\x11"                   # column, 17 bytes
           b"\x0a\x02n1\x12\x02v1"       # name = "n1", value = "v1"
           b"\x19" + (5).to_bytes(8, "little")  # writeTime = 5 (fixed64)
           + b"\x03\x0a\x01c")           # Row frame: key "c", no columns


def check_convert_oracle() -> bool:
    return (gen.expected_pb_stream(TINY) == TINY_PB
            and gen.live_cell_count([TINY]) == 1)


def check_lookup_oracle() -> bool:
    idx = gen.key_index([TINY])
    sid = TINY.sstable_id
    want_a = sorted([
        (sid, "PARTITION", b"", gen.LIVE_MARKED, None, True),
        (sid, "LIVE", b"n1", 5, b"v1", True),
        (sid, "EXPIRING", b"n2", 6, b"v2", True),
        (sid, "DELETED", b"n3", 7, None, True),
    ], key=gen.row_order)
    want_b = sorted([
        (sid, "PARTITION", b"", 9, None, False),
        (sid, "LIVE", b"n1", 8, b"x", False),
    ], key=gen.row_order)
    return (gen.expected_lookup(idx, b"a") == want_a
            and gen.expected_lookup(idx, b"b") == want_b
            and gen.expected_lookup(idx, b"absent") == [])


def check_lww_oracle() -> bool:
    # n1: the newer writeTime wins; n2: equal writeTimes, the greater
    # sstable id wins; generation 3 deletes the partition, which drops
    # only its own cells (tombstones are not carried by the compaction)
    g1 = _table(1, [(b"k", None, [(b"n1", L, 10, b"old", 0),
                                  (b"n2", L, 10, b"p", 0)])])
    g2 = _table(2, [(b"k", None, [(b"n1", L, 20, b"new", 0),
                                  (b"n2", L, 10, b"a", 0)])])
    g3 = _table(3, [(b"k", 99, [(b"n1", L, 30, b"dead", 0)])])
    win = gen.expected_compaction([g1, g2, g3])
    got = list(zip(win["key"], win["name"], win["value"], win["writeTime"]))
    return (got == [(b"k", b"n1", b"new", 20), (b"k", b"n2", b"a", 10)]
            and gen.live_cell_count([g1, g2, g3]) == 4)


def _fingerprint(tabs: list) -> tuple:
    return tuple((t.generation, tuple(t.keys), tuple(t.names),
                  tuple(t.values), t.ts.tobytes(), t.kinds.tobytes(),
                  t.deleted.tobytes(), t.counts.tobytes()) for t in tabs)


def check_deterministic(seed: int = 11) -> bool:
    def conv(s):
        return _fingerprint(gen.convert_corpus(s, 3000, n_wide=1,
                                               wide_cells=(300, 400)))

    def comp(s):
        return _fingerprint(gen.compact_corpus(s, 200))

    a = gen.convert_corpus(seed, 3000)
    same = (conv(seed) == conv(seed) and comp(seed) == comp(seed)
            and gen.lookup_keys(seed, a, 50) == gen.lookup_keys(seed, a, 50))
    differs = conv(seed) != conv(seed + 1) and comp(seed) != comp(seed + 1)
    return same and differs


def run_all() -> list:
    return [(f.__name__, f()) for f in (check_convert_oracle,
                                        check_lookup_oracle,
                                        check_lww_oracle,
                                        check_deterministic)]


if __name__ == "__main__":
    results = run_all()
    for name, ok in results:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    sys.exit(0 if all(ok for _, ok in results) else 1)
