"""Host-sized benchmark of chimp_spark: encode, decode and stored bytes.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: lineitem and float_series
(see perfbench/README.md for why each is here). The run generates its
inputs from ``--seed``, starts Spark on local[<cores of this host>] in a
child process, runs the workload's encode, decode and filtered-decode
jobs in a closed loop for ``--seconds``, checks every output against its
source outside the timed region, and prints one JSON line as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs an
untraced session and then a traced one (Spark event log on, spans
around each call into the program, layer probes, single-core layer
rates) and reports the per-layer metrics. A human-readable table of
every metric, with its unit, goes to stderr. Everything the run writes
stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# time the sessions of one run may take, on top of 3 x --seconds
SESSION_BUDGET_S = 100

E2E_UNITS = {
    "setup_s": "s", "encode_mbps": "MB/s", "decode_mbps": "MB/s",
    "filtered_decode_s": "s", "compression_ratio": "raw/frame",
    "peak_rss_mb": "MB",
}


def host_resources() -> tuple[int, str]:
    """(cores, driver heap) for this host: every core this process may
    run on, and a quarter of physical memory capped at 4 GB, which
    leaves room for the Python workers and the page cache."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(min(mem_kb // 1024 // 4, 4096), 1024)
    return cpus, f"{heap_mb}m"


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def probe_ms() -> float:
    """A fixed single-core integer kernel (median of 3, ~30 ms each on
    an idle core). A high value marks a run disturbed by other load;
    it is recorded, never waited on."""
    import numpy as np

    x = np.arange(1_000_000, dtype=np.uint64)
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        y = x.copy()
        for _i in range(40):
            y = y * np.uint64(0x9E3779B97F4A7C15) ^ (y >> np.uint64(13))
        samples.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(samples)


def _setup_env() -> None:
    """Content-hashed caches (the native kernel build, the shipped
    package zip) live in WORK/tmp and are reused across runs."""
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _session_env(tmp: str, marker: str) -> dict:
    """Everything a session's JVM and workers write goes under ``tmp``;
    ``marker`` is inherited by every process of the session, including
    the Python worker daemon, which leaves the session's process group."""
    for d in ("spark-local", "hadoop"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    return {
        **os.environ,
        "PERFBENCH_SESSION": marker,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (f"--conf spark.hadoop.hadoop.tmp.dir="
                                f"{os.path.join(tmp, 'hadoop')} pyspark-shell"),
    }


def _marked_pids(marker: str) -> list[int]:
    needle = f"PERFBENCH_SESSION={marker}".encode()
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if needle in f.read().split(b"\0"):
                        pids.append(int(d))
            except OSError:
                continue
    return pids


def _end_session(marker: str) -> None:
    """Kill every process of a session and wait until all have ended."""
    while pids := _marked_pids(marker):
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_session(name: str, cfg: dict, deadline: float) -> dict:
    """Run one session (session.py) in its own process and return its
    result. Once the result is written the session's work is done, so
    its JVM and workers are killed instead of waiting for their exit."""
    base = os.path.join(cfg["run_dir"], name)
    os.makedirs(base)
    cfg = {**cfg, "session_dir": base}
    cfg_path, out_path = base + ".cfg.json", base + ".result.json"
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    marker = f"{os.getpid()}-{name}"
    t_launch = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "session.py"), cfg_path, out_path],
        stdout=sys.stderr, env=_session_env(os.path.join(base, "tmp"), marker),
    )
    try:
        proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        pass
    finally:
        _end_session(marker)
        proc.wait()
    print(f"perfbench: session {name} wall {time.monotonic() - t_launch:.1f}s", file=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(out_path):
        raise RuntimeError(f"session {name} failed (exit {proc.returncode})")
    with open(out_path) as f:
        return json.load(f)


def e2e_metrics(main: dict, setup_samples: list[float]) -> dict:
    med = {op: statistics.median(v) if v else 0.0 for op, v in main["times"].items()}
    raw = main["raw_bytes"]
    return {
        "setup_s": statistics.median(setup_samples),
        "encode_mbps": raw / med["encode"] / 1e6 if med["encode"] else 0.0,
        "decode_mbps": raw / med["decode"] / 1e6 if med["decode"] else 0.0,
        "filtered_decode_s": med["filtered"],
        "compression_ratio": statistics.median(main["ratios"]) if main["ratios"] else 0.0,
        "peak_rss_mb": statistics.median(main["rss"]) / 1e6 if main["rss"] else 0.0,
    }


def report(title: str, metrics: dict, units: dict, extra: dict) -> None:
    lines = [f"== perfbench {title} =="]
    for k, v in metrics.items():
        lines.append(f"  {k:34s} {v:14.4f}  {units[k]}")
    for k, v in extra.items():
        lines.append(f"  {k:34s} {v}")
    print("\n".join(lines), file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the default (self-tests use 0.01)")
    ap.add_argument("--fault", choices=("none", "frame", "value"), default="none",
                    help="self-tests: corrupt one frame or one expected value")
    ap.add_argument("--record-frames", action="store_true",
                    help="store the current frame digests as the reference and exit")
    args = ap.parse_args(argv)
    if not args.record_frames and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isfile(os.path.join(ROOT, "chimp_spark", "__init__.py")):
        print(f"perfbench: no chimp_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _setup_env()
    import layers
    import workloads

    if not args.record_frames and args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.monotonic()
    stat0 = _cpu_times()
    host = {"probe_ms_start": probe_ms()}
    from chimp_spark import _native

    native = _native.get() is not None  # the content-hashed C build, before timing

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # the fixed inputs whose frames framing.frames_identical compares
    names = workloads.WORKLOADS if args.record_frames else [args.workload] * args.trace
    identity = [workloads.generate(name, layers.IDENTITY_SEED, layers.IDENTITY_SCALE,
                                   os.path.join(run_dir, "identity", name)).__dict__
                for name in names]
    spec = None if args.record_frames else workloads.generate(
        args.workload, args.seed, args.scale, os.path.join(run_dir, "input"))
    os.sync()  # the inputs' writeback must not land in a timed region
    cpus, heap = host_resources()
    cfg = {"root": ROOT, "run_dir": run_dir, "spec": spec and spec.__dict__, "cpus": cpus,
           "driver_memory": heap, "loop_seconds": args.seconds, "fault": args.fault,
           "trace": False, "probe_only": False, "full_check": True, "identity": [],
           "eventlog_dir": os.path.join(run_dir, "eventlog")}
    deadline = time.monotonic() + SESSION_BUDGET_S + 3 * (args.seconds or 0)
    if args.record_frames:
        rec = run_session("record", {**cfg, "probe_only": True, "identity": identity}, deadline)
        layers.record_frames(rec["frames_sha256"])
        shutil.rmtree(run_dir, ignore_errors=True)
        return 0

    # Two sessions, each with a cold JVM, give two set-up samples. In an
    # untraced run the first only sets up; in a traced run both run the
    # loop for half the time, and the second is traced.
    if args.trace:
        os.makedirs(cfg["eventlog_dir"])
        half = {**cfg, "loop_seconds": args.seconds / 2}
        first = run_session("untraced", half, deadline)
        second = run_session("traced", {**half, "trace": True, "full_check": False,
                                        "identity": identity}, deadline)
        plain = first
    else:
        first = run_session("setup", {**cfg, "probe_only": True}, deadline)
        second = plain = run_session("main", cfg, deadline)
    sessions = [first, second]
    setup_samples = [s["setup"]["get_spark_s"] + s["setup"]["first_job_s"] for s in sessions]
    host["steal_pct"] = steal_pct(stat0, _cpu_times())
    host["probe_ms"] = probe_ms()

    attempted = sum(s["attempted"] for s in sessions)
    failed = sum(s["failed"] for s in sessions)
    e2e = e2e_metrics(plain, setup_samples)
    extra = {
        "error_rate (failed/attempted)": f"{failed / max(attempted, 1):.4f}",
        "attempted": attempted, "failed": failed,
        "iterations": plain["iterations"], "cpus": cpus, "driver_memory": heap,
        "op times (s)": {op: [round(t, 3) for t in v] for op, v in plain["times"].items()},
        "setup samples (s)": [round(x, 3) for x in setup_samples],
        "check time (s)": round(plain["check_s"], 2),
        "peak RSS per iteration (MB)": [round(x / 1e6) for x in plain["rss"]],
        "host.steal_pct": f"{host['steal_pct']:.3f}",
        "host.probe_ms": f"{host['probe_ms']:.2f} (start {host['probe_ms_start']:.2f})",
    }
    for s in sessions:
        for err in s["errors"]:
            print(f"perfbench: failed op: {err}", file=sys.stderr)

    if args.trace:
        per_layer = layers.per_layer(spec, first, second, cfg, host, native)
        metrics, units = per_layer["metrics"], per_layer["units"]
        extra["framing.frames_sha256"] = per_layer["frames_sha256"]
        extra["frame identity"] = per_layer["frame_identity"]
        extra["codec mix (single core)"] = per_layer["codec_mix"]
        extra["f64 chunks with the full trial set"] = per_layer["f64_full_trials"]
        report(f"{args.workload} seed={args.seed} traced (end-to-end of the untraced session)",
               e2e, E2E_UNITS, {})
    else:
        metrics, units = e2e, E2E_UNITS
    report(f"{args.workload} seed={args.seed} trace={args.trace}", metrics, units, extra)

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "scale": args.scale, "metrics": metrics, "host": host,
              "attempted": attempted, "failed": failed, "op_times": plain["times"],
              "setup_samples": setup_samples, "wall_s": time.monotonic() - t_start}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if args.trace:
        # the spans of both sessions: (name, start s, end s) from session start
        with open(os.path.join(WORK, "last_trace.json"), "w") as f:
            json.dump({**record, "frames_sha256": per_layer["frames_sha256"],
                       "spans": {"untraced": first["spans"], "traced": second["spans"]}},
                      f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
