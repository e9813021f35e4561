"""Seeded input generators for the benchmark.

Everything here runs in numpy in the benchmark's own process: the engine
only ever sees the files and call arguments these functions produce.

``sample_stream`` writes a day-partitioned Prometheus-shaped sample stream
of ``DAYS`` days and about ``samples_per_day`` samples a day:

* ``N_SERIES`` series keyed ``metric{cluster,instance,node,node_type,
  resource_type}``; ``HOT_FRAC`` of them are hot and carry ``HOT_SHARE``
  of the samples;
* every series that is active on a day emits one burst at a 1 s cadence
  with +-100 ms of jitter, and about 5% of the steps are 5-120 s gaps;
* gauges walk randomly, counters climb with rare resets to 0;
* a small share of rows carry NaN/Inf/out-of-range values or malformed
  series keys, so the engine's reject path runs.

The engine input (``series_key, ts, value, part``) goes to one parquet file
per day under ``<dir>/input``. The same rows plus ``ts_ms`` and an ``ok``
flag (the row passes the engine's validity rules) go to
``<dir>/truth.parquet`` for the checks; the engine never reads that file.

``dashboard_mix`` draws one pass over a fixed set of dashboard panels
(``Engine`` calls) with seeded time windows, matcher values and order.

``suite_tables`` writes the registry tables the benchmark's queries read
(``events``, the orders star, ``documents`` and ``embeddings``) at about
the size of the registry's smallest fixture scale, one parquet file each.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
#: 2026-01-05 00:00:00 UTC, a Monday
BASE_MS = 1_767_571_200_000

_RESOURCES = (
    ("CachePerfStats", "gets"),
    ("CachePerfStats", "puts"),
    ("DistributionStats", "sentBytes"),
    ("VMStats", "cpuActive"),
    ("StatSampler", "sampleTime"),
    ("PartitionedRegionStats", "bucketCount"),
)
_NODE_TYPES = ("server", "locator", "gateway")
_CLUSTERS = ("production", "staging")
N_NODES = 64

#: shape of the generated sample stream. The write workload's volume keeps
#: a benchmark run under a minute on a 4-core host (a cycle there took
#: 38-44 s at this volume and 49-50 s at twice it); the read workload's
#: store is smaller, because its raw panels decode the whole store on
#: every call.
N_SERIES = 20_000
DAYS = 7
SAMPLES_PER_DAY = 75_000
STORE_SAMPLES_PER_DAY = 25_000
HOT_FRAC = 0.01
HOT_SHARE = 0.5
BAD_VALUE_FRAC = 0.002
BAD_KEY_ROWS = 40


@dataclass(frozen=True)
class Stream:
    """Where a generated stream lives and what it holds."""

    input_dir: str
    truth_path: str
    days: list[str]
    rows: int
    accepted: int
    day_accepted: list[int]


def series_keys(n: int, rng: np.random.Generator) -> list[str]:
    res = rng.integers(0, len(_RESOURCES), n)
    node = rng.integers(0, N_NODES, n)
    keys = []
    for i in range(n):
        rt, stat = _RESOURCES[res[i]]
        nt = _NODE_TYPES[node[i] % 3]
        keys.append(
            f"gemfire_{rt.lower()}_{stat.lower()}{{cluster={_CLUSTERS[node[i] % 2]},"
            f"instance=i{i:05d},node={nt}-{node[i]:02d},node_type={nt},"
            f"resource_type={rt}}}"
        )
    return keys


def _segment_cumsum(x: np.ndarray, start: np.ndarray) -> np.ndarray:
    """Cumulative sum of ``x`` restarting (at 0) wherever ``start`` is set."""
    c = np.cumsum(x)
    idx = np.arange(len(x))
    last = np.maximum.accumulate(np.where(start, idx, 0))
    return c - c[last]


def _day(
    rng: np.random.Generator,
    day_start: int,
    mean: np.ndarray,
    is_counter: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(series index, ts_ms, value) of one day: one burst per active series."""
    counts = rng.poisson(mean)
    sidx = np.repeat(np.arange(len(mean), dtype=np.int32), counts)
    n = len(sidx)
    first = np.zeros(n, dtype=bool)
    first[np.cumsum(counts)[counts > 0] - counts[counts > 0]] = True
    steps = np.full(n, 1000, dtype=np.int64)
    gaps = rng.random(n) < 0.05
    steps[gaps] = rng.integers(5, 121, int(gaps.sum())) * 1000
    steps[first] = 0
    offs = _segment_cumsum(steps, first)
    # burst start: anywhere that keeps the whole burst inside the day
    span = np.zeros(len(mean), dtype=np.int64)
    np.maximum.at(span, sidx, offs)
    room = DAY_MS - span - 400
    start = 200 + (rng.random(len(mean)) * room).astype(np.int64)
    ts = day_start + start[sidx] + offs + rng.integers(-100, 101, n)
    # counters: non-negative increments, rare resets back to 0
    reset = first | (rng.random(n) < 0.002)
    counter = _segment_cumsum(rng.integers(0, 50, n).astype(np.float64), reset)
    gauge = np.round(50 + _segment_cumsum(rng.normal(0, 1, n), first), 3)
    value = np.where(is_counter[sidx], counter, gauge)
    return sidx, ts, value


def sample_stream(out_dir: str, seed: int, samples_per_day: int = SAMPLES_PER_DAY) -> Stream:
    rng = np.random.default_rng(seed)
    keys = np.asarray(series_keys(N_SERIES, rng), dtype=object)
    n_hot = max(1, int(N_SERIES * HOT_FRAC))
    is_hot = np.zeros(N_SERIES, dtype=bool)
    is_hot[rng.choice(N_SERIES, n_hot, replace=False)] = True
    is_counter = rng.random(N_SERIES) < 0.5
    mean = np.where(
        is_hot,
        samples_per_day * HOT_SHARE / n_hot,
        samples_per_day * (1 - HOT_SHARE) / (N_SERIES - n_hot),
    )
    # malformed keys: over-long, or mostly unprintable
    bad_keys = np.asarray(
        [
            ("x" * 201) if i % 2 else f"\x01\x02\x03\x04m{{{i}}}"
            for i in range(BAD_KEY_ROWS)
        ],
        dtype=object,
    )
    in_dir = os.path.join(out_dir, "input")
    os.makedirs(in_dir, exist_ok=True)
    truth, day_names, day_accepted = [], [], []
    for d in range(DAYS):
        day_start = BASE_MS + d * DAY_MS
        part = np.datetime_as_string(np.datetime64(day_start, "ms"), unit="D")
        day_names.append(str(part))
        sidx, ts, value = _day(rng, day_start, mean, is_counter)
        ok = np.ones(len(value), dtype=bool)
        bad = np.flatnonzero(rng.random(len(value)) < BAD_VALUE_FRAC)
        value[bad] = rng.choice([np.nan, np.inf, -np.inf, 1e16], len(bad))
        ok[bad] = False
        key = np.concatenate([keys[sidx], bad_keys])
        ts = np.concatenate(
            [ts, day_start + 1000 + np.arange(BAD_KEY_ROWS, dtype=np.int64)]
        )
        value = np.concatenate([value, np.ones(BAD_KEY_ROWS)])
        ok = np.concatenate([ok, np.zeros(BAD_KEY_ROWS, dtype=bool)])
        day_accepted.append(int(ok.sum()))
        order = np.argsort(ts, kind="stable")
        tbl = pa.table(
            {
                "series_key": pa.array(key[order], pa.string()),
                "ts": pa.array(ts[order], pa.timestamp("ms", tz="UTC")),
                "value": pa.array(value[order], pa.float64()),
                "part": pa.array([str(part)] * len(order), pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(in_dir, f"day-{part}.parquet"))
        truth.append(
            tbl.append_column("ts_ms", pa.array(ts[order], pa.int64()))
            .append_column("ok", pa.array(ok[order]))
        )
    all_truth = pa.concat_tables(truth)
    truth_path = os.path.join(out_dir, "truth.parquet")
    pq.write_table(all_truth, truth_path)
    return Stream(
        in_dir, truth_path, day_names, all_truth.num_rows,
        sum(day_accepted), day_accepted,
    )


# -- dashboard mix ------------------------------------------------------

_STEPS = {"5m": 300_000, "1h": 3_600_000, "1d": 86_400_000}
#: steps per panel window: 1 h of 5m buckets, 1 day of 1h buckets, 7 days
_WIDTH = {"5m": 12, "1h": 24, "1d": 7}

#: the dashboard's tier panels: (kind, agg, step, by, matcher label, values).
#: A panel fixes the call's shape; the seed draws its time window and the
#: matcher's value, so every pass compiles the same plans and passes of
#: different seeds do comparable work.
TIER_PANELS = (
    ("range_query", "sum", "5m", [], "node_type", ("server", "locator", "gateway")),
    ("range_query", "avg", "1h", ["node"], None, ()),
    ("range_query", "max", "1d", ["series_key"], "node", tuple(
        f"=~{t}-0[0-9]" for t in ("server", "locator", "gateway"))),
    ("range_query", "count", "1h", ["node_type"], "__name__", (
        "gemfire_cacheperfstats_gets", "gemfire_vmstats_cpuactive")),
    ("topk", None, "1h", None, None, ()),
    ("instant", None, "5m", None, None, ()),
)
#: raw panels, which decode the whole 2h chunks table
RAW_PANELS = (
    ("rate", {"step": "5m", "by": ["node"]}),
    ("gapfilled", {"step_s": 86_400, "method": "locf"}),
)


def _window(rng: np.random.Generator, step: str) -> tuple[int, int]:
    """A step-aligned [start, end) panel window inside the stream."""
    step_ms = _STEPS[step]
    width = min(_WIDTH[step], DAYS * DAY_MS // step_ms)
    first = int(rng.integers(0, DAYS * DAY_MS // step_ms - width + 1))
    return BASE_MS + first * step_ms, BASE_MS + (first + width) * step_ms


def _tier_call(rng: np.random.Generator, panel) -> tuple[str, dict]:
    kind, agg, step, by, label, values = panel
    start, end = _window(rng, step)
    if kind == "range_query":
        matchers = {label: str(rng.choice(values))} if label else None
        return kind, {"agg": agg, "step": step, "by": by, "start_ms": start,
                      "end_ms": end, "matchers": matchers}
    if kind == "topk":
        return kind, {"k": 5, "step": step, "start_ms": start, "end_ms": end}
    return kind, {"at_ms": int(rng.integers(start, end)), "lookback_s": 3600}


def warm_calls(rng: np.random.Generator) -> list[tuple[str, dict]]:
    """One call of every tier panel."""
    return [_tier_call(rng, p) for p in TIER_PANELS]


def dashboard_mix(rng: np.random.Generator) -> list[tuple[str, dict]]:
    """One pass: every panel once, with seeded windows and matcher values,
    in seeded order."""
    calls = [_tier_call(rng, p) for p in TIER_PANELS] + [
        (kind, dict(kw)) for kind, kw in RAW_PANELS
    ]
    order = rng.permutation(len(calls))
    return [calls[i] for i in order]


# -- query registry tables ----------------------------------------------

#: rows per table: the registry's smallest fixture scale, with more events
SUITE_ROWS = {
    "events": 4000, "orders": 1500, "customer": 150, "documents": 500,
    "embeddings": 500,
}
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_LANGS = ("en", "fr", "es", "zh", "de")
#: 2024-01-01 and 1995-01-02, in microseconds
_EVENTS_US = 1_704_067_200_000_000
_ORDERS_US = 789_004_800_000_000
_DAY_US = 86_400_000_000


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Values with two decimals, as the fixtures hold them."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts_us(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def suite_tables(out_dir: str, seed: int) -> str:
    """Write the registry's input tables; returns the directory a query
    takes as its ``sf_dir``.

    Event timestamps are distinct (the rate query orders by them), about a
    tenth of the documents are near-copies of another document (one word
    changed, ``dup`` appended) so the near-duplicate operators find pairs,
    and embeddings are unit vectors around ten labelled centroids."""
    rng = np.random.default_rng(seed)
    n = SUITE_ROWS
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    gaps = rng.integers(1, 2 * 30 * _DAY_US // n["events"], n["events"])
    put("events", {
        "event_id": pa.array(np.arange(n["events"]), pa.int64()),
        "ts": _ts_us(_EVENTS_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 15, n["events"]), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n["events"]), pa.string()),
        "value": pa.array((np.floor(rng.exponential(6000.0, n["events"])) + 1) / 100.0,
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
                          pa.string()),
    })
    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n["customer"]), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n["customer"]), pa.string()),
    })
    days = rng.integers(0, 2500, n["orders"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n["orders"]), pa.string()),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n["orders"]), pa.float64()),
        "o_orderdate": _ts_us(_ORDERS_US + days * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n["orders"]), pa.string()),
    })
    texts = []
    for i in range(n["documents"]):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            words.append("dup")
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": pa.array(np.arange(n["documents"]), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n["documents"], p=(0.4, 0.15, 0.15, 0.15, 0.15)),
                         pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n["documents"])],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    k = n["embeddings"]
    label = rng.integers(0, 10, k)
    centroids = rng.normal(0, 1, (10, 64))
    vec = centroids[label] + rng.normal(0, 0.8, (k, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return out_dir
