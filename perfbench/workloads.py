"""Workloads, checks and layer probes. Everything that calls the program
lives here; run.py only parses arguments and prepares the environment.

Each workload has a set-up (fixture generation + write, the oracle's
answer), one operation that the measurement loop repeats, and a check
of every operation's output against the oracle in gen.py. Traced runs
add operations wrapped in spans and the layer probes (LayerProbes).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import os
import resource
import shutil
import statistics
import struct
import time

import numpy as np

import gen
import selfcheck
from spans import Tracer

# convert input: ~150k cells in 7 size-tiered lz4 sstables (about 7 MB
# of Data.db) -- a convert takes a couple of seconds on four cores, so a
# run of a few seconds still measures several of them
CONVERT_CELLS = 150_000
# compact input: generation 1 holds every key, three later generations
# rewrite 40 % of the keys each (about 170k cells)
COMPACT_KEYS = 12_000
FIXTURES = {"convert": lambda seed: gen.convert_corpus(seed, CONVERT_CELLS),
            "compact": lambda seed: gen.compact_corpus(seed, COMPACT_KEYS)}
FIXTURE_REPEATS = 3
MIN_OPS = 3
# the catalog probe: queries over every plan family the catalog offers,
# each checked against the program's DuckDB oracle SQL, on a copy of the
# fixed TPC-H-style test tables at scale factor 0.01 (testdata/)
CATALOG_QUERIES = ("tpch_q1_pricing", "tpch_q5_supplier_volume",
                   "events_sessionize", "docs_minhash_lsh",
                   "emb_cosine_topk", "mm_png_decode", "sst_lww_dedup")
CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "testdata", "sf0.01")
PARTITION_LDT = 1_600_000_000
LZ4 = "lz4"


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _data_bytes(d: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(d, "**", "*-Data.db"), recursive=True))


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


def writer_columns(t: gen.SSTable) -> tuple[list, list, list]:
    """A generated table's cells in the program's writer/encoder input
    convention: (partition deletions, values, prefixes). DELETED cells
    carry their local deletion time as the value; EXPIRING and COUNTER
    cells carry their kind-specific bytes as the prefix."""
    kinds = t.kinds.tolist()
    deletions = [(PARTITION_LDT, m) if d else (gen.LIVE_LDT, gen.LIVE_MARKED)
                 for d, m in zip(t.deleted.tolist(), t.marked_at.tolist())]
    values = [struct.pack(">i", PARTITION_LDT) if k == gen.DELETED else v
              for k, v in zip(kinds, t.values)]
    prefixes = [struct.pack(">ii", a, b) if k == gen.EXPIRING
                else struct.pack(">q", 0) if k == gen.COUNTER else b""
                for k, a, b in zip(kinds, t.ttl.tolist(), t.lexp.tolist())]
    return deletions, values, prefixes


def write_sstables(tables: list, out_dir: str) -> None:
    """Write generated tables with the program's stream writer (lz4)."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        SSTableStreamWriter)

    for t in tables:
        deletions, values, prefixes = writer_columns(t)
        w = SSTableStreamWriter(out_dir, t.generation, compression=LZ4)
        try:
            w.write_partitions_block(t.keys, deletions, t.counts, t.names,
                                     t.kinds, t.ts, values, prefixes)
            w.close()
        except BaseException:
            w.abort()
            raise


def _digest_dir(d: str, pattern: str = "*-Data.db") -> str:
    h = hashlib.sha1()
    for p in sorted(glob.glob(os.path.join(d, pattern))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class JobCounter:
    """Spark jobs, stages and tasks of one operation, from the status
    tracker, by tagging the operation's jobs with a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextlib.contextmanager
    def group(self):
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, gid)
        out = {}
        try:
            yield out
        finally:
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    sinfo = st.getStageInfo(s)
                    if sinfo is not None:
                        stages += 1
                        tasks += sinfo.numTasks
            out.update(jobs=len(jobs), stages=stages, tasks=tasks)


class Bench:
    """One benchmark run: the Spark session, the fixtures and the
    counters every workload shares."""

    def __init__(self, seed: int, seconds: int, traced: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.tracer = Tracer(traced)
        self.spark = None
        self.jobs = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict = {}
        self.fixtures: dict = {}
        self.fixture_times: list = []
        self.op_counts: list = []
        self.timings: dict = {}
        self._stopped: list = []
        self._out_n = 0

    # -- bookkeeping ------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def out_dir(self, tag: str) -> str:
        self._out_n += 1
        return os.path.join(self.work, f"out-{tag}-{self._out_n}")

    # -- session ----------------------------------------------------------
    def start_session(self, cpus: int, span: str = "session.start") -> None:
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        from cassandra_sstable_to_protocolbuf_spark.session import (
            ensure_shipped, get_spark)

        with self.tracer.span(span):
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            ensure_shipped(self.spark)
        self.jobs = JobCounter(self.spark)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            # keep the object alive: the program memoises per-session
            # work by id(session), and a recycled id would skip it
            self._stopped.append(self.spark)
            self.spark = None

    def shutdown(self) -> float:
        """Stop Spark and the JVM, wait for it, and return the peak RSS
        in MB of this process plus its largest child (the JVM)."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        child = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
        return (own + child) / 1024.0

    # -- fixtures ---------------------------------------------------------
    def make_fixture(self, kind: str) -> tuple[list, str]:
        """Generate + write the input set `kind` (FIXTURES) FIXTURE_REPEATS
        times into fresh directories, recording each generate+write time;
        returns (tables, dir of the first copy). Every copy must be
        byte-identical: the generator and the writer are deterministic
        for a seed."""
        digests = []
        for r in range(FIXTURE_REPEATS):
            d = os.path.join(self.work, f"fixture-{kind}-{r}")
            t = time.perf_counter()
            with self.tracer.span("session.fixture_write"):
                tabs = FIXTURES[kind](self.seed)
                write_sstables(tabs, d)
            self.fixture_times.append(time.perf_counter() - t)
            digests.append(_digest_dir(d))
            if r == 0:
                self.fixtures[kind] = (tabs, d)
            else:
                shutil.rmtree(d, ignore_errors=True)
        self.check(len(set(digests)) == 1,
                   f"{kind} fixture differs between repeats of one seed")
        return self.fixtures[kind]

    def fixture(self, kind: str) -> tuple[list, str]:
        """The input set `kind`, written once, untimed, unless the run's
        workload already wrote it."""
        if kind not in self.fixtures:
            tabs = FIXTURES[kind](self.seed)
            d = os.path.join(self.work, f"fixture-{kind}")
            write_sstables(tabs, d)
            self.fixtures[kind] = (tabs, d)
        return self.fixtures[kind]


# --------------------------------------------------------------------------
# operations and checks
# --------------------------------------------------------------------------

def convert_op(in_dir: str, out_dir: str) -> int:
    from cassandra_sstable_to_protocolbuf_spark.__main__ import convert

    with contextlib.redirect_stdout(io.StringIO()):
        return convert(in_dir, out_dir)


def convert_cells(b: Bench, in_dir: str):
    """The live-cell frame the convert CLI feeds its sink."""
    from pyspark.sql import functions as F

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    return read_native_cells(b.spark, in_dir, live_only=True).select(
        "sstable_id", "key", "name", "value", "writeTime", "cell_kind",
        F.lit(None).cast("boolean").alias("ttl_expired"),
        "partition_deletion_live")


def check_convert(b: Bench, tabs: list, expected: dict, out_dir: str) -> None:
    import pyarrow as pa

    files = sorted(os.listdir(out_dir))
    ok = files == sorted(f"{t.sstable_id}-Data.db.proto.zst" for t in tabs)
    for t in tabs:
        if not ok:
            break
        with pa.input_stream(os.path.join(
                out_dir, f"{t.sstable_id}-Data.db.proto.zst"),
                compression="zstd") as f:
            ok = f.read() == expected[t.sstable_id]
    b.check(ok, f"convert output differs from the oracle in {out_dir}")


def lookup_df(b: Bench, in_dir: str, key: bytes):
    from pyspark.sql import functions as F

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    return read_native_cells(b.spark, in_dir).filter(F.col("key") == key)


def count_splits(b: Bench, in_dir: str, key: bytes | None = None,
                 live_only: bool = False) -> int:
    """Splits the native source plans for a scan of in_dir (with `key =`
    pushed down when given), asked through the DataSource API exactly
    as Spark's planner asks it. Zero when every file is pruned."""
    from pyspark.sql.datasource import EqualTo

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        SSTableNativeDataSource)

    ds = SSTableNativeDataSource({
        "path": in_dir, "liveonly": str(live_only).lower(),
        "scanparallelism": str(b.spark.sparkContext.defaultParallelism)})
    reader = ds.reader(ds.schema())
    if key is not None:
        list(reader.pushFilters([EqualTo(("key",), key)]))
    return len(reader.partitions())


def check_lookup(b: Bench, index: dict, key: bytes, rows) -> None:
    b.check(gen.canonical_lookup_rows(rows) == gen.expected_lookup(index, key),
            f"lookup of {key!r} differs from the oracle")


def compact_op(b: Bench, in_dir: str, out_dir: str):
    from cassandra_sstable_to_protocolbuf_spark import compaction

    return compaction.compact(b.spark, in_dir, out_dir,
                              compression=LZ4).collect()


def check_compact(b: Bench, expected, out_dir: str) -> bool:
    """Read the compacted sstables back with the program's reader and
    compare with the LWW winners."""
    from pyspark.sql import functions as F

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    got = (read_native_cells(b.spark, out_dir, live_only=True)
           .filter(F.col("cell_kind") == "LIVE")
           .select("key", "name", "value", "writeTime").toPandas())
    got = got.sort_values(["key", "name"], kind="mergesort").reset_index(
        drop=True)
    ok = (len(got) == len(expected)
          and got["key"].map(bytes).tolist() == expected["key"].tolist()
          and got["name"].map(bytes).tolist() == expected["name"].tolist()
          and got["value"].map(bytes).tolist() == expected["value"].tolist()
          and got["writeTime"].tolist() == expected["writeTime"].tolist())
    return b.check(ok, f"compaction output differs from the LWW oracle in "
                   f"{out_dir}")


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Workload:
    """set_up() writes the inputs and computes the oracle's answer; op()
    runs one operation and returns a callable that checks its output.
    The first operation is cold and counts in set-up time; `warm_ops`
    more run, checked but untimed, before the measurement. On a 4-core
    host a convert keeps getting faster for about eight operations
    (2.4 s -> 1.95 s) as the JVM compiles its hot paths; the warm-up
    takes the steep part and the median absorbs the tail."""

    warm_ops = 0

    def __init__(self, b: Bench):
        self.b = b

    def set_up(self) -> None:
        raise NotImplementedError

    def op(self):
        raise NotImplementedError

    def splits(self) -> int:
        return count_splits(self.b, self.in_dir, live_only=True)


class Convert(Workload):
    warm_ops = 4

    def set_up(self) -> None:
        self.tabs, self.in_dir = self.b.make_fixture("convert")
        self.expected = {t.sstable_id: gen.expected_pb_stream(t)
                         for t in self.tabs}

    def op(self):
        out = self.b.out_dir("convert")
        rc = convert_op(self.in_dir, out)

        def verify():
            self.b.check(rc == 0, "convert exit code")
            check_convert(self.b, self.tabs, self.expected, out)
            shutil.rmtree(out, ignore_errors=True)
        return verify


class Compact(Workload):
    warm_ops = 2

    def set_up(self) -> None:
        self.tabs, self.in_dir = self.b.make_fixture("compact")
        self.expected = gen.expected_compaction(self.tabs)
        self.checked = None  # digest of the output checked against the oracle

    def op(self):
        out = self.b.out_dir("compact")
        compact_op(self.b, self.in_dir, out)

        def verify():
            # outputs are read back and checked against the LWW oracle
            # until one passes; the compaction is deterministic, so every
            # later output must equal that one byte for byte
            got = _digest_dir(out, "*")
            if self.checked is None:
                if check_compact(self.b, self.expected, out):
                    self.checked = got
            else:
                self.b.check(got == self.checked,
                             f"compaction output in {out} differs from the "
                             "checked first output")
            shutil.rmtree(out, ignore_errors=True)
        return verify


WORKLOADS = {"convert": Convert, "compact": Compact}


# --------------------------------------------------------------------------
# measurement
# --------------------------------------------------------------------------

def measure(b: Bench, w: Workload) -> tuple[list, list]:
    """Repeat the workload's operation for b.seconds of operation time
    (at least MIN_OPS times). Untraced runs time plain operations only.
    Traced runs alternate plain operations and operations inside an
    `op` span and a Spark job group, so the difference of their medians
    is the tracing overhead. Each output is checked after its timer
    stops."""
    plain, traced = [], []
    i = 0
    while (sum(plain) + sum(traced) < b.seconds or len(plain) < MIN_OPS
           or (b.traced and len(traced) < MIN_OPS)):
        tr = b.traced and i % 2 == 1
        i += 1
        if not tr:
            t = time.perf_counter()
            verify = w.op()
            plain.append(time.perf_counter() - t)
        else:
            with b.jobs.group() as jc:
                t = time.perf_counter()
                with b.tracer.span("op", b.tracer.new_op()) as sp:
                    verify = w.op()
                traced.append(time.perf_counter() - t)
            jc["splits"] = w.splits()
            sp["counts"].update(jc)
            b.op_counts.append(jc)
        verify()
    return plain, traced


# --------------------------------------------------------------------------
# layer probes (traced runs only; identical on every workload)
# --------------------------------------------------------------------------

class LayerProbes:
    """Times each layer from outside by calling its public functions on
    the convert and compact input sets, then runs the catalog probe and
    a serial local[1] convert. Records into b.layer: name -> (value,
    unit)."""

    def __init__(self, b: Bench, w: Workload):
        self.b = b
        self.w = w
        self.tabs, self.in_dir = b.fixture("convert")
        self.expected = w.expected if isinstance(w, Convert) else {
            t.sstable_id: gen.expected_pb_stream(t) for t in self.tabs}
        self.in_bytes = _data_bytes(self.in_dir)
        # compaction probes run on overlapping generations of one key
        # space, where last-write-wins decides a large share of cells
        self.ctabs, self.c_dir = b.fixture("compact")
        self.lww = (w.expected if isinstance(w, Compact)
                    else gen.expected_compaction(self.ctabs))

    def put(self, name: str, value, unit: str) -> None:
        self.b.layer[name] = (value, unit)

    def timed(self, name: str, fn, reps: int = 1) -> tuple[float, object]:
        """Median wall time of `reps` calls of fn, one span each; returns
        (seconds, last result)."""
        times, res = [], None
        for _ in range(reps):
            t = time.perf_counter()
            with self.b.tracer.span(name, self.b.tracer.new_op()):
                res = fn()
            times.append(time.perf_counter() - t)
        return _median(times), res

    def run_all(self) -> None:
        # warm the path the run's workload did not, so probes time warm calls
        if not isinstance(self.w, Convert):
            out = self.b.out_dir("probe-warm")
            self.b.check(convert_op(self.in_dir, out) == 0, "convert exit")
            check_convert(self.b, self.tabs, self.expected, out)
        if not isinstance(self.w, Compact):
            out = self.b.out_dir("probe-warm")
            compact_op(self.b, self.c_dir, out)
            check_compact(self.b, self.lww, out)
        for probe in (self.scan, self.pb_sink, self.writer_sink,
                      self.compaction, self.lookups, self.kernels,
                      self.catalog, self.serial):
            probe()

    # -- sources.sstable_native reader + operators.tombstones -----------
    def scan(self) -> None:
        from pyspark.sql import functions as F

        from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
            read_native_cells)

        sp = self.b.spark
        s, _ = self.timed("sstable_native.scan", lambda: read_native_cells(
            sp, self.in_dir, live_only=True).write.format("noop")
            .mode("overwrite").save(), reps=2)
        self.put("sstable_native.scan_s", s, "s")
        self.put("sstable_native.scan_mb_per_s", self.in_bytes / 1e6 / s,
                 "MB/s")
        live = (read_native_cells(sp, self.in_dir, live_only=True)
                .filter(F.col("cell_kind") == "LIVE").count())
        self.b.check(live == gen.live_cell_count(self.tabs),
                     "live cell count differs from the generator's")
        self.put("tombstones.live_cell_ratio",
                 live / sum(t.n_cells for t in self.tabs), "ratio")

    # -- sources.sstable_pb + protowire (the convert sink) ----------------
    def pb_sink(self) -> None:
        from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
            write_cells_pb)

        cells = convert_cells(self.b, self.in_dir).persist()
        cells.count()
        sink_s, max_s, metrics = [], [], None
        for _ in range(2):
            out = self.b.out_dir("sink")
            s, metrics = self.timed("sstable_pb.sink", lambda: write_cells_pb(
                cells, out).collect())
            sink_s.append(s)
            max_s.append(max(float(m.seconds) for m in metrics))
            check_convert(self.b, self.tabs, self.expected, out)
        cells.unpersist()
        self.put("sstable_pb.sink_s", _median(sink_s), "s")
        self.put("sstable_pb.max_file_sink_s", _median(max_s), "s")
        comp = sum(m.compressed_bytes for m in metrics)
        self.put("sstable_pb.zstd_ratio",
                 comp / sum(m.raw_bytes for m in metrics), "ratio")
        self.put("convert.output_ratio", comp / self.in_bytes, "ratio")

    # -- sources.sstable_native writer (the compaction sink) --------------
    def writer_sink(self) -> None:
        from pyspark.sql import functions as F

        from cassandra_sstable_to_protocolbuf_spark import compaction as C
        from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
            read_native_cells, write_cells_as_sstables)

        n_out = C.derive_n_outputs(C.logical_data_bytes(
            C.input_data_files(self.c_dir)))
        flat = (read_native_cells(self.b.spark, self.c_dir, live_only=True)
                .filter(F.col("cell_kind") == "LIVE")
                .select(F.concat_ws("-", F.lit("compacted"),
                                    C.token_shard(F.col("key"), n_out))
                        .alias("sstable_id"),
                        "key", "name", "value", "writeTime",
                        F.lit("LIVE").alias("cell_kind"),
                        F.lit(None).cast("boolean").alias("ttl_expired"),
                        F.lit(True).alias("partition_deletion_live"),
                        F.col("sstable_id").alias("_lww_src"))).persist()
        self.candidates = flat.count()
        self.b.check(self.candidates == gen.live_cell_count(self.ctabs),
                     "compaction candidate count differs from the oracle")
        out = self.b.out_dir("writer")
        s, _ = self.timed("sstable_native.writer_sink",
                          lambda: write_cells_as_sstables(
                              flat, out, compression=LZ4,
                              lww_by="_lww_src").collect())
        flat.unpersist()
        check_compact(self.b, self.lww, out)
        self.put("sstable_native.writer_sink_s", s, "s")

    # -- compaction --------------------------------------------------------
    def compaction(self) -> None:
        out = self.b.out_dir("compaction")
        s, metrics = self.timed("compaction.compact",
                                lambda: compact_op(self.b, self.c_dir, out))
        check_compact(self.b, self.lww, out)
        written = sum(m.n_cells for m in metrics)
        self.put("compaction.compact_s", s, "s")
        self.put("compaction.n_outputs", len(metrics), "count")
        self.put("compaction.bytes_written", _dir_bytes(out), "bytes")
        self.put("compaction.space_ratio",
                 _data_bytes(out) / _data_bytes(self.c_dir), "ratio")
        self.put("compaction.lww_drop_ratio",
                 (self.candidates - written) / self.candidates, "ratio")

    # -- point lookups: build / plan / execute, splits, bloom -------------
    def lookups(self) -> None:
        b = self.b
        index = gen.key_index(self.tabs)
        stream = gen.lookup_keys(b.seed, self.tabs, 400)
        present = [k for k in stream if k in index][:4]
        absent = [k for k in stream if k not in index][:4]
        splits = {}
        for key in present + absent:
            with b.tracer.span("lookup", b.tracer.new_op()):
                with b.tracer.span("sstable_native.build"):
                    df = lookup_df(b, self.in_dir, key)
                with b.tracer.span("sstable_native.plan"):
                    df._jdf.queryExecution().executedPlan()
                with b.tracer.span("sstable_native.exec"):
                    rows = df.collect()
            splits[key] = count_splits(b, self.in_dir, key=key)
            check_lookup(b, index, key, rows)
        for part in ("build", "plan", "exec"):
            self.put(f"sstable_native.{part}_ms", _median(
                b.tracer.durations(f"sstable_native.{part}")) * 1e3, "ms")
        self.put("sstable_native.lookup_splits",
                 _median([splits[k] for k in present]), "count")
        self.put("sstable_native.bloom_skip_ratio",
                 sum(splits[k] == 0 for k in absent) / len(absent), "ratio")

    # -- single-core kernels (in-process, no Spark) -----------------------
    def kernels(self) -> None:
        import pyarrow as pa

        from cassandra_sstable_to_protocolbuf_spark import protowire
        from cassandra_sstable_to_protocolbuf_spark.sources import cellcodec
        from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
            open_data_file)

        t = max(self.tabs, key=lambda x: x.n_cells)
        f, _ = open_data_file(os.path.join(
            self.in_dir, f"{t.sstable_id}-Data.db"))
        with f:
            buf = f.read()

        def decode():
            regs, parts = cellcodec._Registers(), []
            cellcodec.decode_partitions(buf, 0, len(buf), regs, parts)
            return cellcodec.registers_to_arrow(buf, regs, parts,
                                                t.sstable_id, False)

        batch = self.kernel("cellcodec.decode", decode, len(buf))
        self.b.check(batch.num_rows == t.n_cells + len(t.keys),
                     "cellcodec decode row count")

        dels, vals, pre = writer_columns(t)
        block = self.kernel("cellcodec.encode", lambda: bytes(
            cellcodec.encode_cells_block(t.keys, dels, t.counts, t.names,
                                         t.kinds, t.ts, vals, pre)[0]),
            len(buf))
        self.b.check(block == buf, "cellcodec encode differs from Data.db")

        rows = gen.live_rows(t)  # the sink's input, in its order
        keys = [k for k, _ in rows]
        counts = [len(cols) for _, cols in rows]
        names = [c[0] for _, cols in rows for c in cols]
        values = [c[1] for _, cols in rows for c in cols]
        wts = [c[2] for _, cols in rows for c in cols]

        def flat(xs):
            return (np.frombuffer(b"".join(xs), dtype=np.uint8),
                    np.array([len(x) for x in xs], dtype=np.int64))

        (kd, kl), (nd, nl), (vd, vl) = flat(keys), flat(names), flat(values)
        expected = self.expected[t.sstable_id]
        stream = self.kernel("protowire.encode", lambda: bytes(
            protowire.encode_rows_block_bufs(kd, kl, counts, nd, nl, vd, vl,
                                             wts)), len(expected))
        self.b.check(stream == expected, "protowire encode differs")
        self.kernel("zstd.compress", lambda: pa.compress(
            expected, codec="zstd", asbytes=True), len(expected))

    def kernel(self, name: str, fn, n_bytes: int, min_s: float = 0.3):
        """Repeat fn for at least min_s; records median MB/s of n_bytes
        moved per call and the bytes themselves."""
        times, res = [], None
        while sum(times) < min_s or len(times) < 3:
            t = time.perf_counter()
            with self.b.tracer.span(name, self.b.tracer.new_op()):
                res = fn()
            times.append(time.perf_counter() - t)
        self.put(f"{name}_mb_per_s", n_bytes / 1e6 / _median(times), "MB/s")
        self.put(f"{name}_bytes", n_bytes, "bytes")
        return res

    # -- plans: the catalog queries, checked against DuckDB --------------
    def catalog(self) -> None:
        import __spark_entry__ as entry

        from cassandra_sstable_to_protocolbuf_spark.oracle import (
            compare, duck_connection)

        sf = CATALOG_DIR
        # the tables are fixed: the seed only changes the query order
        order = list(CATALOG_QUERIES)
        np.random.default_rng([self.b.seed, 5]).shuffle(order)
        qs, osql = entry.queries(), entry.oracle_sql()
        sp = self.b.spark
        con = duck_connection(sf)
        try:
            for q in order:  # cold pass, checked
                try:
                    compare(qs[q](sp, sf).toPandas(),
                            con.execute(osql[q]).df(), q)
                    self.b.check(True, q)
                except AssertionError as e:
                    self.b.check(False, f"{q}: {str(e)[:200]}")
        finally:
            con.close()
        total = 0.0
        for q in order:  # warm pass, timed
            with self.b.tracer.span(f"plans.{q}", self.b.tracer.new_op()):
                t0 = time.perf_counter()
                df = qs[q](sp, sf)
                df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            self.put(f"plans.{q}.plan_ms", (t1 - t0) * 1e3, "ms")
            self.put(f"plans.{q}.exec_s", t2 - t1, "s")
            total += t2 - t0
        self.put("plans.catalog_s", total, "s")

    # -- convert on one core: the scaling baseline ------------------------
    def serial(self) -> None:
        b = self.b
        b.stop_session()
        b.start_session(1, span="session.restart")
        tiny = gen.convert_corpus(b.seed, 3000, n_wide=0)[:2]
        tiny_dir = os.path.join(b.work, "fixture-tiny")
        write_sstables(tiny, tiny_dir)
        b.check(convert_op(tiny_dir, b.out_dir("tiny")) == 0, "convert exit")
        out = b.out_dir("serial")
        s, rc = self.timed("convert.serial",
                           lambda: convert_op(self.in_dir, out))
        b.check(rc == 0, "convert exit code")
        check_convert(b, self.tabs, self.expected, out)
        self.put("convert.serial_s", s, "s")


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

# per-operation counts of the workload's traced operations
COUNT_METRICS = {"jobs": "spark.jobs", "stages": "spark.stages",
                 "tasks": "spark.tasks", "splits": "sstable_native.splits"}


def run(workload: str, seed: int, seconds: int, traced: bool, work: str,
        t_start: float) -> tuple[dict, Bench]:
    b = Bench(seed, seconds, traced, work)
    w = WORKLOADS[workload](b)
    try:
        b.start_session(len(os.sched_getaffinity(0)))
        # interpreter start, imports and the JVM launch all count
        start_s = time.perf_counter() - t_start
        w.set_up()
        fixture_s = _median(b.fixture_times)
        # set-up time counts the program's work only: session start, one
        # fixture write and the cold first operation; the oracle, the
        # fixture digests and the output checks stay outside it
        t = time.perf_counter()
        with b.tracer.span("session.cold_op", b.tracer.new_op()):
            verify = w.op()
        cold_s = time.perf_counter() - t
        verify()
        for _ in range(w.warm_ops):
            w.op()()
        plain, traced_ops = measure(b, w)
        b.timings = {"start_s": start_s, "fixture_s": b.fixture_times,
                     "cold_s": cold_s, "op_s": plain,
                     "traced_op_s": traced_ops}
        if traced:
            LayerProbes(b, w).run_all()
    finally:
        peak_mb = b.shutdown()
    for name, ok in selfcheck.run_all():
        b.check(ok, f"self-check {name}")
    if not traced:
        metrics = {
            "setup_s": (start_s + fixture_s + cold_s, "s"),
            "op_ms": (_median(plain) * 1e3, "ms"),
        }
    else:
        metrics = dict(b.layer)
        metrics.update({
            "session.start_s": (start_s, "s"),
            "session.peak_rss_mb": (peak_mb, "MB"),
            "session.fixture_write_s": (fixture_s, "s"),
            "session.cold_op_s": (cold_s, "s"),
            "trace.overhead_ms": ((_median(traced_ops) - _median(plain))
                                  * 1e3, "ms"),
        })
        for k, name in COUNT_METRICS.items():
            metrics[name] = (_median([c[k] for c in b.op_counts]), "count")
    return {k: {"value": float(v), "unit": u}
            for k, (v, u) in metrics.items()}, b


def trace_report(b: Bench) -> dict:
    """What a traced run writes beside its result: every span, each
    layer's self time, and the per-operation counts with whether each
    repeated exactly across the run's operations."""
    counts = {}
    for k, name in COUNT_METRICS.items():
        vals = [c[k] for c in b.op_counts]
        counts[name] = {"values": vals,
                        "repeats_exactly": len(set(vals)) <= 1}
    return {"spans": b.tracer.spans, "self_time_s": b.tracer.self_times(),
            "counts": counts, "errors": b.errors}
