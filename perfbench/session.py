"""One Spark session of a benchmark run, in its own process.

    python3 perfbench/session.py <config.json> <result.json>

The parent (run.py) starts this once per session so that every session
pays a cold JVM start. Once the result file is written, the parent ends
the session's processes (this one, the driver JVM and its Python
workers). The session times set-up, runs the workload's jobs in a closed
loop (each job starts when the previous one returns), checks every
output outside the timed region, and writes its measurements to
``result.json``. Nothing is printed to stdout: the parent's stdout
carries only the benchmark's result line.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import threading
import time
import traceback

import numpy as np

OPS = ("encode", "decode", "filtered")
# the timed operations of one iteration, in order. The filtered decode is
# the shortest job and its time the most jittery, so it runs twice: the
# loop then holds twice as many of its samples for the median.
ITERATION = ("encode", "filtered", "decode", "filtered")
# measured iterations per loop, however short ``loop_seconds`` is: the
# median of 3 samples drops one disturbed sample
MIN_ITERS = 3


# -- process-tree RSS ---------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    """RSS of every descendant of ``pid``: the driver JVM started by
    this process plus the Python workers the JVM forks."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler(threading.Thread):
    """Samples the session's process-tree RSS every 100 ms; ``take``
    returns the peak since the previous ``take``."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self._stop_evt = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(0.1):
            rss = tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


# -- fault injection (benchmark self-tests only) ------------------------------

def _flip_one_frame(batches):
    """Flip one byte in the first frame of partition 0: the corrupted
    frame must surface as a failed decode."""
    import pyarrow as pa
    from pyspark import TaskContext

    first = TaskContext.get().partitionId() == 0
    for b in batches:
        if first and b.num_rows:
            frames = b.column("frame").to_pylist()
            blob = bytearray(frames[0])
            blob[len(blob) // 2] ^= 0xFF
            frames[0] = bytes(blob)
            cols = [pa.array(frames, pa.binary()) if n == "frame" else b.column(n)
                    for n in b.schema.names]
            b = pa.RecordBatch.from_arrays(cols, schema=b.schema)
            first = False
        yield b


# -- output checks --------------------------------------------------------------

def _normalized(table, columns):
    """Columns in a form two tables compare on: timestamps as int64
    (the decoded side carries the session time zone, the source none)."""
    import pyarrow as pa

    out = []
    for c in columns:
        col = table.column(c)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        out.append(col)
    return pa.table(out, names=columns)


def _predicate_mask(table, predicate):
    import pyarrow.compute as pc

    col, op, payload = predicate
    if op == "between":
        lo, hi = payload
        return pc.and_(pc.greater_equal(table[col], lo), pc.less_equal(table[col], hi))
    if op == "==":
        return pc.equal(table[col], payload)
    raise ValueError(f"unsupported predicate {predicate!r}")


class FileWorkload:
    """Parquet files -> encode_parquet -> EncodedTable.commit, then the
    no-shuffle sink decodes the committed table, in full and filtered."""

    def __init__(self, spark, spec: dict, work: str, fault: str):
        import pyarrow.parquet as pq

        self.spark = spark
        self.spec = spec
        self.table = spec["name"]
        self.root = os.path.join(work, "encoded")
        self.out = os.path.join(work, "decoded")
        self.out_f = os.path.join(work, "decoded_filtered")
        self.fault = fault
        # unit order (sorted files, row groups in order) is the decoded
        # (part_id, row_id) order
        src = pq.read_table(sorted(spec["paths"]))
        self.expected = _normalized(src, spec["columns"])
        self.expected_f = self.expected.filter(
            _predicate_mask(self.expected, spec["predicate"]))
        if fault == "value":
            self.expected = _bump_first(self.expected)
        self.raw_bytes = 0
        self.enc_bytes = 0

    def reset(self) -> None:
        for d in (self.root, self.out, self.out_f):
            shutil.rmtree(d, ignore_errors=True)

    def encode(self):
        from chimp_spark import engine

        enc = engine.encode_parquet(self.spark, self.spec["paths"], table_name=self.table)
        if self.fault == "frame":
            enc = enc.mapInArrow(_flip_one_frame, engine.ENC_DDL)
        return engine.EncodedTable(self.root).commit(self.spark, enc, self.table, mode="scan")

    def decode(self):
        from chimp_spark import engine

        return engine.decode_table_to_parquet(
            self.spark, self.root, self.spec["columns"], self.spec["ddl"], self.out,
            table=self.table, mode="overwrite")

    def filtered(self):
        from chimp_spark import engine

        p = self.spec["predicate"]
        return engine.decode_table_to_parquet(
            self.spark, self.root, self.spec["columns"], self.spec["ddl"], self.out_f,
            table=self.table, mode="overwrite", predicate=(p[0], p[1], _payload(p)))

    def check(self, op: str, res, full: bool) -> bool:
        from chimp_spark import engine

        if op == "encode":
            entries = [e for e in engine.EncodedTable(self.root).manifest_entries()
                       if e["part_id"] >= 0]
            self.raw_bytes = sum(e["raw_bytes"] for e in entries)
            self.enc_bytes = sum(e["enc_bytes"] for e in entries)
            # manifest rows count values: rows x columns
            return (sum(e["rows"] for e in entries)
                    == self.expected.num_rows * len(self.spec["columns"]))
        want = self.expected if op == "decode" else self.expected_f
        return res["rows"] == want.num_rows and self._same(
            self.out if op == "decode" else self.out_f, want)

    def _same(self, out_dir: str, want) -> bool:
        import pyarrow.parquet as pq

        got = pq.read_table(out_dir).sort_by([("part_id", "ascending"),
                                              ("row_id", "ascending")])
        return _normalized(got, self.spec["columns"]).equals(want)


class SeriesWorkload:
    """A cached DataFrame -> encode_dataframe, then decode_table with a
    per-series aggregate, and a zone-map pruned decode_column of ``v``."""

    def __init__(self, spark, spec: dict, work: str, fault: str):
        import pyarrow.parquet as pq

        self.spark = spark
        self.spec = spec
        self.fault = fault
        self.df = spark.read.parquet(*spec["paths"]).cache()
        self.df.count()
        self.enc = None
        self.per_series = {int(k): v for k, v in spec["meta"]["per_series"].items()}
        self.source = _normalized(pq.read_table(spec["paths"]), spec["columns"])
        if fault == "value":
            self.source = _bump_first(self.source, "v")
            s0 = min(self.per_series)
            mn, mx, sm, n = self.per_series[s0]
            self.per_series[s0] = (mn - 1.0, mx, sm, n)
        # per-series fingerprint of every source row, in Spark, once
        self.fingerprints = {r["series_id"]: (r["fp_sum"], r["fp_xor"]) for r in
                             self.df.groupBy("series_id").agg(*_row_fingerprint()).collect()}
        v = self.source.column("v").to_numpy()
        lo, hi = spec["predicate"][2]
        self.band = np.sort(v[(v >= lo) & (v <= hi)])
        self.raw_bytes = 0
        self.enc_bytes = 0

    def reset(self) -> None:
        if self.enc is not None:
            self.enc.unpersist()
            self.enc = None

    def encode(self):
        from chimp_spark import engine

        enc = engine.encode_dataframe(self.df, self.spec["columns"], table_name="float_series")
        if self.fault == "frame":
            enc = enc.mapInArrow(_flip_one_frame, engine.ENC_DDL)
        self.enc = enc.persist()
        return self.enc.count()

    def decode(self):
        from pyspark.sql import functions as F

        from chimp_spark import engine

        dec = engine.decode_table(self.enc, self.spec["columns"], self.spec["ddl"])
        return dec.groupBy("series_id").agg(
            F.min("v").alias("mn"), F.max("v").alias("mx"),
            F.sum("v").alias("sm"), F.count("*").alias("n"), *_row_fingerprint()).collect()

    def filtered(self):
        from pyspark.sql import functions as F

        from chimp_spark import engine

        lo, hi = self.spec["predicate"][2]
        col = engine.decode_column(self.enc, "v", "double", value_range=(lo, hi))
        return col.filter((F.col("value") >= lo) & (F.col("value") <= hi)) \
            .select("value").toArrow()

    def check(self, op: str, res, full: bool) -> bool:
        from pyspark.sql import functions as F

        if op == "encode":
            agg = self.enc.agg(F.sum("raw_bytes").alias("r"), F.sum("enc_bytes").alias("e"),
                               F.count("*").alias("c")).collect()[0]
            self.raw_bytes, self.enc_bytes = agg["r"], agg["e"]
            return agg["c"] == res and (not full or self._rows_match())
        if op == "decode":
            got = {r["series_id"]: r for r in res}
            if set(got) != set(self.per_series):
                return False
            return all(
                got[s]["mn"] == w[0] and got[s]["mx"] == w[1] and got[s]["n"] == w[3]
                and _close(got[s]["sm"], w[2])
                and (got[s]["fp_sum"], got[s]["fp_xor"]) == self.fingerprints[s]
                for s, w in self.per_series.items())
        got = np.sort(res.column("value").to_numpy())
        return got.size == self.band.size and bool(
            (got.view(np.int64) == self.band.view(np.int64)).all())

    def _rows_match(self) -> bool:
        """Every decoded row against its source row, bit for bit."""
        import pyarrow.compute as pc

        from chimp_spark import engine

        cols = self.spec["columns"]
        got = engine.decode_table(self.enc, cols, self.spec["ddl"]).toArrow()
        got = _normalized(got.sort_by([("series_id", "ascending"), ("ts", "ascending")]), cols)
        if got.num_rows != self.source.num_rows:
            return False
        for c in cols:
            a, b = got.column(c), self.source.column(c)
            if c == "v":  # compare bits: -0.0 and NaN payloads count
                a = pc.cast(a, "float64").combine_chunks().view("int64")
                b = pc.cast(b, "float64").combine_chunks().view("int64")
            if not a.equals(b):
                return False
        return True

    def encode_ns(self) -> int:
        from pyspark.sql import functions as F

        return int(self.enc.agg(F.sum("encode_ns")).collect()[0][0])


def _row_fingerprint():
    """Order-independent fingerprint of a group's (ts, v) rows: the sum
    of the low 32 bits and the xor of each row's 64-bit hash. A wrong,
    moved, missing or extra row changes it, whatever the row order."""
    from pyspark.sql import functions as F

    h = F.xxhash64("ts", "v")
    return [F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("fp_sum"),
            F.bit_xor(h).alias("fp_xor")]


def _payload(predicate):
    p = predicate[2]
    return tuple(p) if isinstance(p, list) else p


def _close(a: float, b: float) -> bool:
    # sums of doubles depend on the order of addition
    return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0)


def _bump_first(table, col: str | None = None):
    """The same table with one value changed: a decoded output compared
    against it must fail."""
    import pyarrow as pa
    import pyarrow.compute as pc

    name = col or next(f.name for f in table.schema
                       if pa.types.is_integer(f.type) or pa.types.is_floating(f.type))
    arr = table.column(name).combine_chunks()
    bumped = pa.concat_arrays([pc.add(arr.slice(0, 1), pa.scalar(1, arr.type)), arr.slice(1)])
    return table.set_column(table.schema.get_field_index(name), name, bumped)


# -- the session ------------------------------------------------------------------

class Spans:
    """Spans recorded around calls into the program: (name, start, end)
    relative to the session start, kept in memory until the end."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.items: list[tuple[str, float, float]] = []

    def timed(self, name: str, fn, *args, **kwargs):
        start = time.perf_counter()
        out = fn(*args, **kwargs)
        self.items.append((name, start - self.t0, time.perf_counter() - self.t0))
        return out

    def last(self) -> float:
        name, start, end = self.items[-1]
        return end - start


def _first_job(spark, cpus: int) -> None:
    """The first completed job: ships the package, forks the Python
    workers and loads the native kernels, through a public entry point."""
    from pyspark.sql import functions as F

    from chimp_spark import engine

    df = spark.range(0, cpus * 4096, numPartitions=cpus)
    engine.encode_dataframe(df, table_name="setup").agg(F.count("*")).collect()


def run_session(cfg: dict) -> dict:
    sys.path.insert(0, cfg["root"])
    from chimp_spark import engine

    spans = Spans()
    res: dict = {"attempted": 0, "failed": 0, "errors": [], "check_s": 0.0}
    spark = spans.timed("core.get_spark", engine.get_spark, cpus=cfg["cpus"],
                        driver_memory=cfg["driver_memory"], app="perfbench")
    try:
        sc = spark.sparkContext
        res["app_id"] = sc.applicationId
        sc.setJobGroup("setup", "set-up")
        spans.timed("core.first_job", _first_job, spark, cfg["cpus"])
        res["setup"] = {"get_spark_s": spans.items[0][2] - spans.items[0][1],
                        "first_job_s": spans.last()}
        if cfg["probe_only"]:
            res["frames_sha256"] = _identity_digests(spark, cfg)
            return res
        spec = cfg["spec"]
        work = cfg["session_dir"]
        kind = SeriesWorkload if spec["name"] == "float_series" else FileWorkload
        w = kind(spark, spec, work, cfg["fault"])

        sampler = RssSampler()
        sampler.start()
        times: dict[str, list[float]] = {op: [] for op in OPS}
        ratios, rss = [], []

        def iteration(tag: str, full: bool) -> None:
            w.reset()
            # start every iteration from a collected heap and with no dirty
            # pages, so neither its times nor its peak RSS carry the
            # previous iteration's garbage or disk writeback
            sc._jvm.java.lang.System.gc()
            os.sync()
            sampler.take()
            for op in ITERATION:
                res["attempted"] += 1
                try:
                    out = spans.timed(f"{tag}.{op}", getattr(w, op))
                    dt = spans.last()
                    t_check = time.perf_counter()
                    ok = w.check(op, out, full)
                    res["check_s"] += time.perf_counter() - t_check
                except Exception as e:  # noqa: BLE001 — a failed job is a result
                    traceback.print_exc()
                    res["errors"].append(f"{op}: {type(e).__name__}: {str(e)[:200]}")
                    ok = False
                else:
                    if not ok:
                        res["errors"].append(f"{op}: output differs from its source")
                if not ok:
                    res["failed"] += 1
                    if op == "encode":  # nothing to decode
                        res["attempted"] += len(ITERATION) - 1
                        res["failed"] += len(ITERATION) - 1
                        break
                elif tag == "loop":
                    times[op].append(dt)
                    if op == "encode":
                        ratios.append(w.raw_bytes / max(w.enc_bytes, 1))
                    elif op == "decode" and isinstance(out, dict):
                        res["rows_out"] = out["rows"]
                    elif op == "filtered" and isinstance(out, dict):
                        res["audit"] = out["audit"]
            if tag == "loop":
                rss.append(sampler.take())

        sc.setJobGroup("warm", "warm-up")
        # two warm-up iterations: after one, the JVM's compiled code is
        # still settling and the first loop samples run slow
        iteration("warm", full=cfg["full_check"])
        iteration("warm", full=False)
        sc.setJobGroup("loop", "measured loop")
        t_loop = time.perf_counter()
        n_iter = 0
        while n_iter < MIN_ITERS or time.perf_counter() - t_loop < cfg["loop_seconds"]:
            iteration("loop", full=False)
            n_iter += 1
        res["loop_s"] = time.perf_counter() - t_loop
        sampler.stop()
        res.update(iterations=n_iter, times=times, ratios=ratios, rss=rss,
                   raw_bytes=w.raw_bytes, enc_bytes=w.enc_bytes)
        if cfg["trace"]:
            sc.setJobGroup("probe", "layer probes")
            res["probes"] = _probes(spark, w, spec, cfg, spans)
            res["frames_sha256"] = _identity_digests(spark, cfg)
        res["spans"] = spans.items
        return res
    finally:
        if cfg["trace"]:  # flushes the event log
            spark.stop()


def _probes(spark, w, spec: dict, cfg: dict, spans: Spans) -> dict:
    """Layer probes run after the measured loop, each a span around one
    public call: the layer's own time without the calls it shares a job
    with in the loop."""
    from pyspark.sql import functions as F

    from chimp_spark import engine

    out: dict = {}
    if isinstance(w, FileWorkload):
        units = engine.parquet_work_units(engine.resolve_paths(spec["paths"]), spark)
        out["work_units"] = len(units)
        enc = engine.encode_parquet(spark, spec["paths"], table_name=w.table).persist()
        ns = spans.timed("probe.encode_parquet",
                         lambda: enc.agg(F.sum("encode_ns")).collect()[0][0])
        out["encode_parquet_s"] = spans.last()
        out["encode_ns"] = int(ns)
        root = os.path.join(cfg["session_dir"], "probe_commit")
        t = engine.EncodedTable(root)
        spans.timed("probe.commit", t.commit, spark, enc, w.table, mode="scan")
        out["commit_s"] = spans.last()
        out["data_files"] = len(t.data_files())
        enc.unpersist()
        # the sink's output schema needs Spark to parse the DDL; the
        # parent's single-core sink-write pass uses it
        from chimp_spark.engine import sink

        schema = sink._out_schema(spec["columns"], spec["ddl"], True)
        out["sink_schema"] = schema.serialize().to_pybytes().hex()
    else:
        out["encode_ns"] = w.encode_ns()

        def identity(batches):
            yield from batches

        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in w.df.schema.fields)
        spans.timed("probe.arrow_passthrough",
                    lambda: w.df.mapInArrow(identity, schema).count())
        out["arrow_passthrough_s"] = spans.last()
    return out


def frames_sha256(spark, spec: dict, work: str) -> str:
    """SHA-256 over every frame the engine writes for ``spec``, with its
    (column, part_id, chunk_id) key, in that order: the frames of the
    committed EncodedTable for a file workload, and the frames of the
    encoded DataFrame for float_series.

    The DataFrame is a union of one-file reads, one partition per file,
    so its partitions do not depend on the core count as a multi-file
    read's split packing does. The scan path's FSST tables depend on
    which units a Python worker encoded before, so the digest holds on
    hosts with at least as many cores as the identity input has units
    (2), where every unit gets a fresh worker."""
    from functools import reduce

    import pyarrow.parquet as pq
    from pyspark.sql import DataFrame

    from chimp_spark import engine

    keys = ["column", "part_id", "chunk_id"]
    if spec["name"] == "float_series":
        df = reduce(DataFrame.union, [spark.read.parquet(p) for p in sorted(spec["paths"])])
        enc = engine.encode_dataframe(df, spec["columns"], table_name="identity")
        frames = enc.select(*keys, "frame").toArrow()
    else:
        t = engine.EncodedTable(os.path.join(work, f"identity_{spec['name']}"))
        t.commit(spark, engine.encode_parquet(spark, spec["paths"], table_name="identity"),
                 "identity", mode="scan")
        frames = pq.read_table(t.data_files(), columns=keys + ["frame"])
    h = hashlib.sha256()
    for row in frames.sort_by([(k, "ascending") for k in keys]).to_pylist():
        h.update(f"{row['column']}/{row['part_id']}/{row['chunk_id']}:".encode())
        h.update(row["frame"])
    return h.hexdigest()


def _identity_digests(spark, cfg: dict) -> dict[str, str]:
    spark.sparkContext.setJobGroup("identity", "frame identity")
    return {spec["name"]: frames_sha256(spark, spec, cfg["session_dir"])
            for spec in cfg["identity"]}


def main() -> None:
    cfg_path, out_path = sys.argv[1], sys.argv[2]
    os.dup2(2, 1)  # the JVM and any library print go to stderr
    sys.stdout = sys.stderr
    with open(cfg_path) as f:
        cfg = json.load(f)
    if cfg["trace"]:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{cfg['eventlog_dir']} "
            f"--conf spark.eventLog.compress=false "
            + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"))
    res = run_session(cfg)
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, out_path)
    # the parent ends the JVM and the workers once this process exits
    os._exit(0)


if __name__ == "__main__":
    main()
