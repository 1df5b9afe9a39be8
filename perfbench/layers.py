"""Per-layer metrics of a traced run.

Three sources, all measured from outside the program:

- the two sessions' spans and probes (session.py): set-up, the
  DataFrame path, the scan path, the commit and the decode sink;
- single-core passes in this process over the workload's own chunks,
  each timing calls into one module's functions: framing,
  selector, the codecs, a pyarrow row-group read and the decode sink's
  shard writer;
- the traced session's Spark event log, parsed offline into per-task
  JVM numbers for the jobs of the measured loop.

``framing.frames_identical`` compares the digest of every frame the
engine writes for a fixed identity input (seed IDENTITY_SEED, scale
IDENTITY_SCALE; computed in the traced session, see
``session.frames_sha256``) with the digest stored in frames.json, so a
change that alters any encoded byte, or the chunking, shows as a DIFF;
``run.py --record-frames`` stores new digests.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
FRAMES_FILE = os.path.join(HERE, "frames.json")
IDENTITY_SEED = 20_261_017
IDENTITY_SCALE = 0.05

# Every codec one of the workloads selects, plus the f64 trial set.
CODECS = ("const", "rle", "for_bitpack", "gcd_for", "delta_bp", "dec_for", "dict",
          "fsst", "deflate", "chimp", "chimpn", "patas", "xor_split", "bss")

_FIXED = [
    ("core.get_spark_s", "s", "lower"),
    ("core.first_job_s", "s", "lower"),
    ("core.encode_dataframe_s", "s", "lower"),
    ("core.decode_table_s", "s", "lower"),
    ("core.arrow_passthrough_s", "s", "lower"),
    ("scan.encode_parquet_s", "s", "lower"),
    ("scan.work_units", "count", "higher"),
    ("scan.row_group_read_s", "s", "lower"),
    ("manifest.commit_s", "s", "lower"),
    ("manifest.data_files", "count", "lower"),
    ("sink.decode_s", "s", "lower"),
    ("sink.filtered_decode_s", "s", "lower"),
    ("sink.frame_read_fraction", "ratio", "lower"),
    ("sink.rows_out", "count", "higher"),
    ("sink.parquet_write_s", "s", "lower"),
    ("framing.chunks", "count", "lower"),
    ("framing.encode_chunk_mbps", "MB/s", "higher"),
    ("framing.decode_chunk_mbps", "MB/s", "higher"),
    ("framing.checksum_mbps", "MB/s", "higher"),
    ("framing.kernel_share", "ratio", "higher"),
    ("framing.frames_identical", "count", "higher"),
    ("selector.choose_ms_per_chunk", "ms", "lower"),
    ("selector.share_of_encode", "ratio", "lower"),
    ("selector.candidates_per_chunk", "count", "lower"),
]
_TAIL = [
    ("codecs.fsst.train_ms", "ms", "lower"),
    ("native.loaded", "count", "higher"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_ms_p50", "ms", "lower"),
    ("spark.task_ms_max", "ms", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.result_bytes", "bytes", "lower"),
    ("host.steal_pct", "%", "lower"),
    ("host.probe_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]
PER_LAYER = (
    _FIXED
    + [(f"selector.chunks.{c}", "count", "higher") for c in CODECS]
    + [(f"codecs.{c}.{d}_mbps", "MB/s", "higher") for c in CODECS for d in ("encode", "decode")]
    + _TAIL
)


# -- chunks ---------------------------------------------------------------------

def iter_chunks(paths: list[str], columns: list[str]):
    """(column, part_id, chunk_id, row_start, array) in the scan path's
    chunking: part_id is the (sorted file, row group) unit, chunks of
    the engine's chunk size within it."""
    from chimp_spark.engine import DEFAULT_CHUNK_ROWS

    unit = 0
    for path in sorted(paths):
        pf = pq.ParquetFile(path)
        for rg in range(pf.metadata.num_row_groups):
            t = pf.read_row_group(rg, columns=columns)
            for k, off in enumerate(range(0, max(t.num_rows, 1), DEFAULT_CHUNK_ROWS)):
                sl = t.slice(off, DEFAULT_CHUNK_ROWS)
                for c in columns:
                    yield c, unit, k, off, sl.column(c).combine_chunks()
            unit += 1


def read_frames(name: str) -> str | None:
    try:
        with open(FRAMES_FILE) as f:
            return json.load(f).get(name)
    except FileNotFoundError:
        return None


def record_frames(digests: dict[str, str]) -> None:
    with open(FRAMES_FILE, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")


# -- single-core passes -------------------------------------------------------------

def _selector_input(arr: pa.Array):
    """The values framing hands the selector: valid values as numpy
    (timestamps as int64) or a string block (offsets, data)."""
    from chimp_spark.framing import _string_block, dtype_of_arrow

    dtype = dtype_of_arrow(arr.type)
    dense = arr.drop_null() if arr.null_count else arr
    if dtype in ("str", "bin"):
        return dtype, _string_block(dense)
    if pa.types.is_timestamp(dense.type):
        dense = dense.cast(pa.int64())
    return dtype, np.ascontiguousarray(np.asarray(dense))


def single_core(spec, scratch: str, sink_schema: pa.Schema | None) -> dict:
    from chimp_spark import selector
    from chimp_spark.codecs import fsst
    from chimp_spark.framing import checksum_of, decode_chunk, encode_chunk

    enc_s = dec_s = sum_s = sel_s = 0.0
    raw = 0
    n_chunks = 0
    cands = 0
    picked: dict[str, int] = {}
    codec_raw: dict[str, int] = {}
    codec_enc: dict[str, float] = {}
    codec_dec: dict[str, float] = {}
    caches: dict[str, dict] = {}
    sel_caches: dict[str, dict] = {}
    # the frames as encoded rows, for the sink-write pass
    frames: dict[str, list] = {k: [] for k in ("part_id", "chunk_id", "row_start",
                                                "column", "checksum", "frame")}
    f64_trials = f64_chunks = 0
    fsst_sample = None
    for c, unit, k, row_start, arr in iter_chunks(spec.paths, spec.columns):
        t0 = time.perf_counter()
        blob, meta = encode_chunk(arr, codec="auto", cache=caches.setdefault(c, {}))
        t1 = time.perf_counter()
        out = decode_chunk(blob)
        t2 = time.perf_counter()
        checksum_of(out)
        t3 = time.perf_counter()
        enc_s += t1 - t0
        dec_s += t2 - t1
        sum_s += t3 - t2
        raw += meta.raw_bytes
        n_chunks += 1
        for key, v in (("part_id", unit), ("chunk_id", k), ("row_start", row_start),
                       ("column", c), ("checksum", meta.checksum), ("frame", blob)):
            frames[key].append(v)
        picked[meta.codec] = picked.get(meta.codec, 0) + 1
        reason = meta.reason.split(";", 1)[-1]
        cands += len(reason.split(",")) if "=" in reason else 1
        if meta.codec == "fsst" and fsst_sample is None:
            fsst_sample = [v.encode() for v in arr.slice(0, 256).to_pylist()]
        if meta.dtype == "f64":
            f64_chunks += 1
            f64_trials += all(f"{x}=" in meta.reason
                              for x in ("chimp", "chimpn", "patas", "xor_split", "bss"))

        dtype, vals = _selector_input(arr)
        t0 = time.perf_counter()
        if dtype in ("str", "bin"):
            selector.choose_codec_string(*vals, sel_caches.setdefault(c, {}))
        elif dtype != "bool":
            selector.choose_codec(vals, dtype)
        sel_s += time.perf_counter() - t0

        t0 = time.perf_counter()
        encode_chunk(arr, codec=meta.codec, cache=caches[c])
        codec_enc[meta.codec] = codec_enc.get(meta.codec, 0.0) + time.perf_counter() - t0
        codec_dec[meta.codec] = codec_dec.get(meta.codec, 0.0) + t2 - t1
        codec_raw[meta.codec] = codec_raw.get(meta.codec, 0) + meta.raw_bytes

    out = {
        "framing.chunks": n_chunks,
        "framing.encode_chunk_mbps": raw / enc_s / 1e6,
        "framing.decode_chunk_mbps": raw / dec_s / 1e6,
        "framing.checksum_mbps": raw / sum_s / 1e6,
        "selector.choose_ms_per_chunk": sel_s / n_chunks * 1e3,
        "selector.share_of_encode": sel_s / enc_s,
        "selector.candidates_per_chunk": cands / n_chunks,
        "codecs.fsst.train_ms": 0.0,
        "scan.row_group_read_s": 0.0,
        "sink.parquet_write_s": 0.0,
    }
    for c in CODECS:
        out[f"selector.chunks.{c}"] = picked.get(c, 0)
        r = codec_raw.get(c, 0)
        out[f"codecs.{c}.encode_mbps"] = r / codec_enc[c] / 1e6 if r else 0.0
        out[f"codecs.{c}.decode_mbps"] = r / codec_dec[c] / 1e6 if r else 0.0
    if fsst_sample:
        t0 = time.perf_counter()
        fsst.train(fsst_sample)
        out["codecs.fsst.train_ms"] = (time.perf_counter() - t0) * 1e3
    if spec.name != "float_series":
        t0 = time.perf_counter()
        for path in sorted(spec.paths):
            pf = pq.ParquetFile(path)
            for rg in range(pf.metadata.num_row_groups):
                pf.read_row_group(rg)
        out["scan.row_group_read_s"] = time.perf_counter() - t0
        out["sink.parquet_write_s"] = _sink_write_s(spec, frames, scratch, sink_schema)
    out["_picked"] = picked
    out["_f64"] = (f64_trials, f64_chunks)
    return out


def _sink_write_s(spec, frames: dict[str, list], scratch: str, schema: pa.Schema) -> float:
    """The decode sink's shard writer, with the sink's default settings
    and output schema, over the decoded groups of the workload's frames.
    Only add/close is timed; the groups are decoded before."""
    from chimp_spark.engine import sink
    from chimp_spark.engine.core import iter_decoded_groups

    enc = pa.table({"run_id": pa.array(["single-core"] * len(frames["frame"])), **frames})
    out_types = {f.name: f.type for f in schema}
    batches = list(iter_decoded_groups(enc.to_batches(), spec.columns, out_types))
    w = sink._ShardWriter(scratch, 0, schema, "snappy", 1 << 20)
    t0 = time.perf_counter()
    for rb in batches:
        w.add(rb)
    path, _rows, _bytes = w.close()
    dt = time.perf_counter() - t0
    os.remove(path)
    return dt


# -- Spark event log ------------------------------------------------------------------

def spark_metrics(eventlog_dir: str, app_id: str, iterations: int) -> dict:
    """Per-task JVM numbers of the measured loop's jobs (job group
    'loop'), as totals per loop iteration and task-time percentiles."""
    # one file per application, or a directory of rolled files
    # events_<n>_<app> (Spark 4's default)
    paths = glob.glob(os.path.join(eventlog_dir, app_id)) or sorted(
        glob.glob(os.path.join(eventlog_dir, f"eventlog_v2_{app_id}", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {eventlog_dir}")
    stage_group: dict[int, str] = {}
    tasks = []
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    loop = [t for t in tasks if stage_group.get(t["Stage ID"]) == "loop"]
    dur = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in loop]
    m = [t.get("Task Metrics") or {} for t in loop]
    it = max(iterations, 1)
    p50 = statistics.median(dur) if dur else 0.0
    return {
        "spark.tasks": len(loop) / it,
        "spark.task_ms_p50": p50,
        "spark.task_ms_max": max(dur, default=0),
        "spark.task_skew": max(dur, default=0) / p50 if p50 else 0.0,
        "spark.executor_run_s": sum(x.get("Executor Run Time", 0) for x in m) / 1e3 / it,
        "spark.executor_cpu_s": sum(x.get("Executor CPU Time", 0) for x in m) / 1e9 / it,
        "spark.gc_s": sum(x.get("JVM GC Time", 0) for x in m) / 1e3 / it,
        "spark.shuffle_write_bytes": sum(
            (x.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for x in m) / it,
        "spark.result_bytes": sum(x.get("Result Size", 0) for x in m) / it,
    }


# -- assembly -------------------------------------------------------------------------

def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(spec, plain: dict, traced: dict, cfg: dict, host: dict, native: bool) -> dict:
    probes = traced["probes"]
    times = {op: _med(v) for op, v in traced["times"].items()}
    base = {op: _med(v) for op, v in plain["times"].items()}
    series = spec.name == "float_series"
    scratch = os.path.join(cfg["run_dir"], "layers")
    os.makedirs(scratch, exist_ok=True)
    cores = cfg["cpus"]
    m = {
        "core.get_spark_s": _med([s["setup"]["get_spark_s"] for s in (plain, traced)]),
        "core.first_job_s": _med([s["setup"]["first_job_s"] for s in (plain, traced)]),
        "core.encode_dataframe_s": times["encode"] if series else 0.0,
        "core.decode_table_s": times["decode"] if series else 0.0,
        "core.arrow_passthrough_s": probes.get("arrow_passthrough_s", 0.0),
        "scan.encode_parquet_s": probes.get("encode_parquet_s", 0.0),
        "scan.work_units": probes.get("work_units", 0),
        "manifest.commit_s": probes.get("commit_s", 0.0),
        "manifest.data_files": probes.get("data_files", 0),
        "sink.decode_s": 0.0 if series else times["decode"],
        "sink.filtered_decode_s": 0.0 if series else times["filtered"],
        "sink.frame_read_fraction": 0.0,
        "sink.rows_out": 0 if series else traced.get("rows_out", 0),
    }
    if not series:
        a = traced["audit"]
        m["sink.frame_read_fraction"] = a["frame_bytes_read"] / max(a["frame_bytes_total"], 1)
    # the encode's summed kernel time against its wall time on all cores:
    # the probe's encode without commit, or the loop's encode_dataframe
    wall = times["encode"] if series else probes["encode_parquet_s"]
    m["framing.kernel_share"] = probes["encode_ns"] / 1e9 / (wall * cores) if wall else 0.0
    sink_schema = probes.get("sink_schema")
    sc = single_core(spec, scratch, sink_schema and pa.ipc.read_schema(
        pa.py_buffer(bytes.fromhex(sink_schema))))
    picked = sc.pop("_picked")
    f64_trials, f64_chunks = sc.pop("_f64")
    m.update(sc)

    digest = traced["frames_sha256"][spec.name]
    stored = read_frames(spec.name)
    identical = digest == stored
    m["framing.frames_identical"] = int(identical)
    m["native.loaded"] = int(native)
    m.update(spark_metrics(cfg["eventlog_dir"], traced["app_id"], traced["iterations"]))
    m["host.steal_pct"] = host["steal_pct"]
    m["host.probe_ms"] = host["probe_ms"]
    m["trace.overhead_pct"] = (100.0 * (sum(times.values()) / sum(base.values()) - 1.0)
                               if sum(base.values()) else 0.0)
    units = {name: unit for name, unit, _ in PER_LAYER}
    metrics = {name: float(m[name]) for name, _, _ in PER_LAYER}
    return {
        "metrics": metrics,
        "units": units,
        "frames_sha256": digest,
        "frame_identity": ("IDENTICAL" if identical else "DIFF")
        + f" (stored {stored[:16] if stored else 'none'}...)",
        "codec_mix": picked,
        "f64_full_trials": f"{f64_trials}/{f64_chunks} f64 chunks",
    }
