"""Seeded input generators for the benchmark's two workloads.

Each generator writes parquet files under ``out_dir`` from ``seed`` and
``scale`` alone (same arguments, same bytes) and returns a ``Spec``: the
file list, the decoded columns with their Spark DDL, and the predicate
of the workload's filtered decode. The program under test sees only
these files.

Sizes at scale 1 are chosen for a 4-core / 15 GB host: every input fits
in RAM and in the page cache, and one encode or decode job takes about
a second on local[4].
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORKLOADS = ("lineitem", "float_series")
ROW_GROUP = 65_536

# Start of the TPC-H ship-date range (1992-01-02) in microseconds.
_SHIP_EPOCH_US = 694_310_400 * 1_000_000
_DAY_US = 86_400 * 1_000_000


@dataclass
class Spec:
    name: str
    paths: list[str]
    columns: list[str]
    ddl: str
    predicate: tuple
    meta: dict = field(default_factory=dict)


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOADS.index(name)])


def generate(name: str, seed: int, scale: float, out_dir: str) -> Spec:
    os.makedirs(out_dir, exist_ok=True)
    return {"lineitem": lineitem, "float_series": float_series}[name](seed, scale, out_dir)


def lineitem(seed: int, scale: float, out_dir: str) -> Spec:
    """TPC-H-shaped lineitem, written as ``reps`` replicas of one base
    table. Each replica starts at a seeded row offset into the base, so
    chunk boundaries move with the seed, and its order keys are shifted
    past the previous replica's, so replicas hold distinct orders. Rows
    are sorted by order key, as dbgen writes them. Every double is a
    decimal, so the f64 chunks take the decimal branch of the selector
    and no XOR codec runs; ``l_comment`` is short free text for FSST."""
    rng = _rng(seed, "lineitem")
    reps = 2
    # 2 row groups per replica: 4 scan units, one encode task each on
    # local[4], then one decode task per committed data file
    n = max(int(2 * ROW_GROUP * scale), 2_000)
    total = n + n // 4
    n_orders = total // 4 + 1_000
    lines = rng.integers(1, 8, n_orders)
    okeys = np.cumsum(rng.integers(1, 5, n_orders)).astype(np.int64)
    orderkey = np.repeat(okeys, lines)[:total]
    first = np.repeat(np.cumsum(lines) - lines, lines)[:total]
    linenumber = (np.arange(total) - first + 1).astype(np.int32)
    partkey = rng.integers(1, 20_001, total).astype(np.int64)
    suppkey = rng.integers(1, 1_001, total).astype(np.int64)
    qty = rng.integers(1, 51, total)
    retail_cents = 90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)
    base = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": partkey,
        "l_suppkey": suppkey,
        "l_linenumber": linenumber,
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": (qty * retail_cents) / 100.0,
        "l_discount": rng.integers(0, 11, total) / 100.0,
        "l_tax": rng.integers(0, 9, total) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, total)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, total)]),
        "l_shipdate": pa.array(
            _SHIP_EPOCH_US + rng.integers(0, 2_526, total) * _DAY_US, pa.timestamp("us")
        ),
        "l_comment": _text_block(rng, total, 2, 8),
    })
    paths = []
    offsets = [int(rng.integers(0, total - n + 1)) for _ in range(reps)]
    for r, off in enumerate(offsets):
        t = base.slice(off, n)
        t = t.set_column(0, "l_orderkey", pc.add(t["l_orderkey"], int(r * (okeys[-1] + 1))))
        p = os.path.join(out_dir, f"lineitem-{r:03d}.parquet")
        pq.write_table(t, p, row_group_size=ROW_GROUP)
        paths.append(p)
    # the keys of rows 10%..40% of replica 0: all inside its first row
    # group, so the zone maps prune 3 of the 4 chunk groups
    lo = int(orderkey[offsets[0] + n // 10])
    hi = int(orderkey[offsets[0] + n * 4 // 10])
    cols = base.column_names
    ddl = ("l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
           "l_quantity double, l_extendedprice double, l_discount double, "
           "l_tax double, l_returnflag string, l_linestatus string, "
           "l_shipdate timestamp, l_comment string")
    return Spec("lineitem", paths, cols, ddl,
                ("l_orderkey", "between", (lo, hi)))


def _vocabulary() -> list[str]:
    """A fixed vocabulary of ~1500 pseudo-words made of common
    syllables: substrings repeat across words, which is what FSST's
    symbol table captures, so FSST wins the text chunks."""
    rng = np.random.default_rng(0)
    syllables = ["ka", "ri", "to", "mo", "ne", "sa", "lu", "pe", "di", "zo", "ga", "bi",
                 "fu", "ye", "xo", "ch", "th", "st", "er", "an", "ing", "ly", "ou", "ea"]
    return sorted({"".join(rng.choice(syllables, rng.integers(1, 4))) for _ in range(3000)})


def _text_block(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """``n`` strings of ``lo`` to ``hi - 1`` Zipf-weighted words, joined
    by Arrow kernels (no per-string Python loop)."""
    vocab = _vocabulary()
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    words = rng.integers(lo, hi, n)
    ids = rng.choice(len(vocab), int(words.sum()), p=weights / weights.sum())
    offsets = np.concatenate([[0], np.cumsum(words)]).astype(np.int32)
    tokens = pa.array(vocab).take(pa.array(ids))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), tokens), " ")


def float_series(seed: int, scale: float, out_dir: str) -> Spec:
    """Sensor-style series: ``series_id``, microsecond ``ts`` with
    jitter, and ``v``, a full-precision double random walk (not a
    decimal). Three in four series vary slowly (steps of 0.01), the
    rest are noisy (steps of 1.0). Each file holds whole series in
    order, so a Spark partition is a run of consecutive points."""
    rng = _rng(seed, "float_series")
    n_series = 32
    per_series = max(int(65_536 * scale), 1_000)
    n_files = 8
    paths = []
    expected = {}
    all_v = []
    t0 = 1_700_000_000_000_000 + int(rng.integers(0, 10**12))
    for f in range(n_files):
        parts = []
        for s in range(f * n_series // n_files, (f + 1) * n_series // n_files):
            noisy = s % 4 == 3
            step = 1.0 if noisy else 0.01
            v = rng.uniform(10.0, 30.0) + np.cumsum(rng.normal(0.0, step, per_series))
            ts = t0 + np.arange(per_series, dtype=np.int64) * 1_000_000 \
                + rng.integers(0, 1_000, per_series)
            parts.append(pa.table({
                "series_id": np.full(per_series, s, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "v": v,
            }))
            expected[s] = (float(v.min()), float(v.max()), float(v.sum()), per_series)
            all_v.append(v)
        p = os.path.join(out_dir, f"series-{f:03d}.parquet")
        pq.write_table(pa.concat_tables(parts), p, row_group_size=ROW_GROUP)
        paths.append(p)
    lo, hi = (float(x) for x in np.quantile(np.concatenate(all_v), [0.45, 0.55]))
    return Spec("float_series", paths, ["series_id", "ts", "v"],
                "series_id long, ts timestamp, v double",
                ("v", "between", (lo, hi)), meta={"per_series": expected})
