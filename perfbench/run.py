#!/usr/bin/env python3
"""Benchmark runner for the TSDB engine (write path and read API).

    python3 perfbench/run.py --workload write_skewed --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads (closed loop, one client):

* ``write_skewed`` ingests a generated 7-day stream (``gen.sample_stream``,
  about half a million samples) into a fresh store with one
  ``run_from_samples`` call (each day commits with lineage), then compacts
  it once (``jobs.compact``). One such cycle is the loop's unit; cycles
  repeat until ``--seconds`` pass.
* ``read_dashboard`` reads a store the engine built from the same kind of
  stream (``read_store``). A pass is one round of seeded ``api.Engine``
  calls (``gen.dashboard_mix``: 6 tier panels, 2 raw-chunk panels)
  followed by one round of ``SUITE``, queries of the registry's headline
  set (``bench.HEADLINE``) on generated tables (``gen.suite_tables``), in
  seeded order. Passes repeat until ``--seconds`` pass.

End-to-end metrics, the same on both workloads: ``setup_s`` (session
start and input generation; on ``read_dashboard`` also the store check and
an untimed warm-up, one call of every tier panel and one cold round of the
suite; a missing read store is built before the clock starts),
``op_p50_ms`` (median engine call: ingest and
compaction, or dashboard calls and suite queries with their action),
``loop_s`` (median cycle or pass) and ``peak_pss_mb`` (JVM plus Python
workers). Workload-specific figures (ingest and compaction samples/s,
chunk bytes per sample, tier and raw query latencies, suite pass time,
failed_frac) are printed as extra lines before the result.

After the loop the runner checks the outputs (row reconciliation, tier and
chunk sample counts, lineage, tier queries against DuckDB over the
generated samples, and each suite query's value hash against its DuckDB
oracle from ``ORACLES``), counts every mismatch as a failure, and prints
each metric by name and unit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's layers in spans
and reports the per-layer metrics, and writes the span document to
``.perfbench_out/trace-<workload>-<seed>.json``. Untraced runs record
their ``loop_s`` in ``.perfbench_out/untraced-loops.jsonl``; a traced run
divides its own loop time by the median of those records (same workload,
same seed where there is one) to give ``trace.overhead_ratio``; the ratio
reads 0 when the file holds no record of the workload.

This benchmark is separate from ``bench.py``, the repository's frozen
harness for the query registry.

The runner pins its environment before Spark starts: cores
(``SPARK_GRAFT_CPUS``, at most 4), Spark heap (``SPARK_DRIVER_MEM``), and
scratch, temp and Spark local directories inside ``.perfbench_work``; it
puts the repository root on ``PYTHONPATH`` so the pyspark workers can
import the engine. It exits with code 2 and prints no result when the
engine's sources are not next to it.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import ProcSampler, Tracer  # noqa: E402

WORKLOADS = ("write_skewed", "read_dashboard")
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
#: seed of the stream behind the read workload's store
STORE_SEED = 20260105
#: read stores kept in ``.perfbench_cache`` (most recently used first), so
#: two engine versions run in turn in one checkout each keep their store
KEEP_STORES = 2
TIER_KINDS = ("range_query", "topk", "instant")
RAW_KINDS = ("rate", "gapfilled")
#: headline registry queries of the read pass, one per family the
#: dashboard panels do not reach: chunk codec round trip, dimension joins,
#: MinHash-LSH near-dup (through ``cachereg.cached``), text tokens and IVF
#: nearest neighbours
SUITE = (
    "chunk_roundtrip_salted", "revenue_by_region", "minhash_lsh_dups",
    "token_counts", "ivf_ann_topk",
)
OUT = os.path.join(ROOT, ".perfbench_out")
UNTRACED_LOOPS = os.path.join(OUT, "untraced-loops.jsonl")

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "loop_s": "s",
    "peak_pss_mb": "MB",
}

_TABLES = ("rejects", "rollup_5m", "rollup_1h", "rollup_1d", "chunks", "chunks_1d")
_GROUPS = (
    "checkpoint.materialize.rollup",
    "checkpoint.materialize.chunks",
    "checkpoint.materialize.chunks_1d",
    "checkpoint.write",
    "checkpoint.bookkeeping",
    "pipeline.self",
    "compact.self",
    "api.tier",
    "api.raw",
    "suite",
)
_GROUP_STATS = {
    "python_worker_cpu_s": "s",
    "jvm_cpu_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "gc_s": "s",
    "tasks": "count",
}

#: Per-layer metrics (``--trace 1``), zero where a workload does not reach
#: the layer. What each should move: materialize.chunks (and its
#: python_worker_cpu_s), materialize.rollup_* and pipeline.self_s move
#: write_skewed op_p50_ms and loop_s through ingest; materialize.chunks_1d
#: and compact.* move write_skewed loop_s through compaction; codec changes
#: also move chunks*.bytes_per_sample; api.rate/gapfilled exec_ms and
#: chunks.decode_chunks_s move read_dashboard loop_s; the tier kinds'
#: api.*.exec_ms and input_bytes move read_dashboard op_p50_ms. Expected
#: zero effects: an encode-only change leaves the tier panels flat, and an
#: ingest change that writes the same bytes leaves read_dashboard flat.
#: suite.* and cachereg.hit_ratio move read_dashboard loop_s through the
#: suite round; of the suite, only chunk_roundtrip_salted runs the codecs.
PER_LAYER: dict[str, str] = {}
for _t in _TABLES[1:]:
    PER_LAYER[f"checkpoint.materialize.{_t}_s"] = "s"
for _t in _TABLES:
    PER_LAYER[f"checkpoint.write.{_t}_s"] = "s"
    PER_LAYER[f"checkpoint.write.{_t}_bytes"] = "B"
PER_LAYER.update({
    "checkpoint.lineage_s": "s",
    "checkpoint.completed_parts_s": "s",
    "chunks.encode_chunks_s": "s",
    "chunks.recode_chunks_s": "s",
    "chunks.decode_chunks_s": "s",
    "pipeline.self_s": "s",
    "compact.self_s": "s",
    "compact.batches": "count",
    "pipeline.samples_per_s": "samples/s",
    "compact.samples_per_s": "samples/s",
    "chunks.bytes_per_sample": "B",
    "chunks_1d.bytes_per_sample": "B",
})
for _g in _GROUPS:
    for _s, _u in _GROUP_STATS.items():
        PER_LAYER[f"{_g}.{_s}"] = _u
for _k in TIER_KINDS + RAW_KINDS:
    PER_LAYER[f"api.{_k}.build_ms"] = "ms"
    PER_LAYER[f"api.{_k}.exec_ms"] = "ms"
    PER_LAYER[f"api.{_k}.input_bytes"] = "B"
for _q in SUITE:
    PER_LAYER[f"suite.{_q}.build_s"] = "s"
    PER_LAYER[f"suite.{_q}.exec_s"] = "s"
PER_LAYER.update({
    "suite.pass_s": "s",
    "cachereg.hit_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.coverage": "ratio",
    "trace.spans": "count",
    "trace.loop_s": "s",
})


def pin_env(work: str) -> None:
    """Everything Spark, the JVM and the workers write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.retainedStages=100000 "
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.sql.warehouse.dir=" + os.path.join(work, "warehouse") + " "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


class Run:
    """State of one benchmark run: ops, checks and (optionally) spans."""

    def __init__(self, seconds: float, work: str):
        self.seconds = seconds
        self.work = work
        self.tracer: Tracer | None = None  # set when the traced part starts
        self.ops: list[tuple[str, float]] = []  # (kind, wall s)
        self.loops: list[float] = []
        self.checks = 0
        self.failures: list[str] = []
        self.info: dict[str, float] = {}
        self.loop_wall = 0.0

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def start_trace(self, tracer: Tracer | None) -> None:
        """Spans cover the measured loop only, not set-up, warm-up or the
        checks after it."""
        if tracer is not None:
            self.tracer = tracer
            tracer.install(SUITE)

    def end_loop(self, t_loop: float) -> None:
        self.loop_wall = time.perf_counter() - t_loop
        if self.tracer is not None:
            self.tracer.uninstall()

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)


# -- checks shared by both workloads ------------------------------------


def check_store(run: Run, root: str, stream: gen.Stream, rejected: int,
                compacted: bool) -> None:
    """Row reconciliation, per-table sample counts and lineage days of one
    store, read back with DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        def one(sql: str):
            return con.execute(sql).fetchone()[0]

        def tbl(name: str) -> str:
            return f"read_parquet('{os.path.join(root, name)}/*/*.parquet')"

        run.check(stream.accepted + rejected == stream.rows,
                  f"accepted {stream.accepted} + rejected {rejected} != rows {stream.rows}")
        n5 = one(f"SELECT sum(cnt) FROM {tbl('rollup_5m')}")
        run.check(n5 == stream.accepted, f"sum(cnt) rollup_5m {n5} != {stream.accepted}")
        nch = one(f"SELECT sum(n) FROM {tbl('chunks')}")
        run.check(nch == stream.accepted, f"sum(n) chunks {nch} != {stream.accepted}")
        want_tables = ["chunks"]
        if compacted:
            n1d = one(f"SELECT sum(n) FROM {tbl('chunks_1d')}")
            run.check(n1d == stream.accepted,
                      f"sum(n) chunks_1d {n1d} != {stream.accepted}")
            want_tables.append("chunks_1d")
        lineage = os.path.join(root, "_lineage", "*.parquet")
        for t in want_tables:
            days = {
                r[0] for r in con.execute(
                    f"SELECT DISTINCT part FROM read_parquet('{lineage}') "
                    f"WHERE \"table\" = '{t}'"
                ).fetchall()
            }
            run.check(days == set(stream.days), f"lineage of {t} misses {set(stream.days) - days}")
    finally:
        con.close()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


# -- write_skewed --------------------------------------------------------


def write_skewed(run: Run, spark, stream: gen.Stream, samples) -> None:
    from jobs import compact, pipeline

    ingest_s = compact_s = 0.0
    ingested = compacted = 0
    t_loop = time.perf_counter()
    for k in itertools.count():
        root = os.path.join(run.work, f"store-{k}")
        t_cycle = t0 = time.perf_counter()
        with run.span("pipeline"):
            written = pipeline.run_from_samples(spark, root, samples, job_id=f"cycle{k}")
        dt = time.perf_counter() - t0
        run.ops.append(("ingest", dt))
        ingest_s += dt
        ingested += stream.accepted
        rejected = written.get("rejected", 0)
        t0 = time.perf_counter()
        with run.span("compact"):
            done = compact.compact(spark, root, job_id=f"compact{k}")
        dt = time.perf_counter() - t0
        run.ops.append(("compact", dt))
        compact_s += dt
        compacted += done.get("samples", 0)
        run.loops.append(time.perf_counter() - t_cycle)
        run.check(done.get("samples") == stream.accepted,
                  f"compact reported {done.get('samples')} samples, want {stream.accepted}")
        if time.perf_counter() - t_loop >= run.seconds:
            break
    run.end_loop(t_loop)
    check_store(run, root, stream, rejected, compacted=True)
    run.info.update({
        "ingest_samples_per_s": ingested / ingest_s,
        "compact_samples_per_s": compacted / compact_s,
        "chunk_bytes_per_sample": dir_bytes(os.path.join(root, "chunks_1d")) / stream.accepted,
        "chunk_2h_bytes_per_sample": dir_bytes(os.path.join(root, "chunks")) / stream.accepted,
    })


# -- read_dashboard ------------------------------------------------------


def _oracle(con, kind: str, kw: dict) -> dict:
    """The tier call's expected result, computed by DuckDB from the raw
    generated samples: {(group key..., bucket): value}."""
    def label(name: str) -> str:
        if name == "__name__":
            return "regexp_extract(series_key, '^([^{]+)', 1)"
        if name == "series_key":
            return "series_key"
        return f"regexp_extract(series_key, '[{{,]{name}=([^,}}]+)', 1)"

    micro = "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"
    if kind == "instant":
        lo = kw["at_ms"] - kw["lookback_s"] * 1000
        rows = con.execute(
            "SELECT series_key, arg_max(value, ts_ms), max(ts_ms) FROM truth "
            "WHERE ok AND (ts_ms // 300000) * 300000 <= ? "
            "AND (ts_ms // 300000) * 300000 > ? GROUP BY 1",
            [kw["at_ms"], lo],
        ).fetchall()
        return {(r[0],): (r[1], r[2]) for r in rows}
    step = gen._STEPS[kw["step"]]
    bucket = f"(ts_ms // {step}) * {step}"
    where = [f"ok AND {bucket} >= {kw['start_ms']} AND {bucket} < {kw['end_ms']}"]
    if kind == "topk":
        rows = con.execute(
            f"SELECT series_key, sum({micro}) AS s FROM truth WHERE {where[0]} "
            "GROUP BY 1 ORDER BY s DESC, series_key ASC LIMIT ?",
            [kw["k"]],
        ).fetchall()
        return {(r[0],): r[1] for r in rows}
    for lab, want in (kw["matchers"] or {}).items():
        if want.startswith("=~"):
            where.append(f"regexp_full_match({label(lab)}, '{want[2:]}')")
        else:
            where.append(f"{label(lab)} = '{want}'")
    agg = {
        "sum": f"sum({micro})",
        "max": "max(value)",
        "count": "count(*)",
        "avg": f"CAST(sum({micro}) AS DOUBLE) / CAST(count(*) AS DOUBLE)",
    }[kw["agg"]]
    keys = [label(b) for b in kw["by"]]
    sel = ", ".join(keys + [bucket, agg])
    grp = ", ".join(str(i + 1) for i in range(len(keys) + 1))
    rows = con.execute(
        f"SELECT {sel} FROM truth WHERE {' AND '.join(where)} GROUP BY {grp}"
    ).fetchall()
    return {tuple(r[:-1]): r[-1] for r in rows}


def _got(kind: str, kw: dict, rows) -> dict:
    if kind == "instant":
        return {(r["series_key"],): (r["value"], r["as_of_ms"]) for r in rows}
    if kind == "topk":
        return {(r["series_key"],): r["sum_micro"] for r in rows}
    return {tuple(r[b] for b in kw["by"]) + (r["bucket_ms"],): r[kw["agg"]] for r in rows}


def _same(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k, v in a.items():
        w = b[k]
        if isinstance(v, float) or isinstance(w, float):
            if abs(v - w) > 1e-9 * max(1.0, abs(w)):
                return False
        elif v != w:
            return False
    return True


def _call(run: Run, eng, kind: str, kw: dict, keep: bool):
    """One Engine call, build plus action; returns collected rows when the
    call is a checked tier call."""
    t0 = time.perf_counter()
    with run.span(f"api.{kind}"):
        df = getattr(eng, kind)(**kw)
        with run.span(f"api.{kind}.exec"):
            if kind in RAW_KINDS:
                df.write.format("noop").mode("overwrite").save()
                rows = None
            else:
                rows = df.collect()
    run.ops.append((kind, time.perf_counter() - t0))
    return rows if keep else None


def suite_call(run: Run, spark, name: str, sf_dir: str, keep: bool = False):
    """One registry query, build plus a full execution: into a noop sink,
    or collected when ``keep`` (the result is returned for the checks)."""
    from gfs_to_prometheus_spark.queries import QUERIES

    t0 = time.perf_counter()
    with run.span(f"suite.{name}"):
        df = QUERIES[name](spark, sf_dir)
        with run.span(f"suite.{name}.exec"):
            if keep:
                rows = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                rows = None
    run.ops.append(("suite", time.perf_counter() - t0))
    return rows


def _value_hash(pdf) -> str:
    """The registry's value hash: column-name-sorted, row-sorted CSV."""
    import hashlib

    cols = sorted(pdf.columns)
    pdf = pdf[cols].sort_values(cols, ignore_index=True)
    return hashlib.md5(pdf.to_csv(index=False, float_format="%.17g").encode()).hexdigest()


def check_suite(run: Run, sf_dir: str, results: dict) -> None:
    """Each suite query's rows (collected in the untimed cold round)
    against its DuckDB oracle."""
    import duckdb

    from gfs_to_prometheus_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in gen.SUITE_ROWS.keys() | {"region", "nation"}:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in SUITE:
            got = results[name]
            want = con.sql(ORACLES[name]).df()
            run.check(len(got) > 0 and len(got) == len(want)
                      and _value_hash(got) == _value_hash(want),
                      f"suite {name}: {len(got)} rows differ from its oracle ({len(want)} rows)")
    finally:
        con.close()


def read_dashboard(run: Run, spark, stream: gen.Stream, eng, sf_dir: str, rng) -> None:
    import duckdb

    to_check: list[tuple[str, dict, list]] = []
    suite_s: list[float] = []
    t_loop = time.perf_counter()
    first = True
    while True:
        t_pass = time.perf_counter()
        for kind, kw in gen.dashboard_mix(rng):
            rows = _call(run, eng, kind, kw, first and kind in TIER_KINDS)
            if rows is not None:
                to_check.append((kind, kw, rows))
        t_suite = time.perf_counter()
        for i in rng.permutation(len(SUITE)):
            suite_call(run, spark, SUITE[i], sf_dir)
        now = time.perf_counter()
        suite_s.append(now - t_suite)
        run.loops.append(now - t_pass)
        first = False
        if now - t_loop >= run.seconds:
            break
    run.end_loop(t_loop)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{stream.truth_path}')")
        for kind, kw, rows in to_check:
            want = _oracle(con, kind, kw)
            run.check(_same(_got(kind, kw, rows), want),
                      f"{kind} {kw} differs from DuckDB")
    finally:
        con.close()
    tier = [dt for k, dt in run.ops if k in TIER_KINDS]
    raw = [dt for k, dt in run.ops if k in RAW_KINDS]
    run.info.update({
        "tier_query_p50_ms": statistics.median(tier) * 1e3,
        "tier_query_p90_ms": statistics.quantiles(tier, n=10, method="inclusive")[8] * 1e3,
        "raw_query_p50_ms": statistics.median(raw) * 1e3,
        "suite_pass_s": statistics.median(suite_s),
    })


def _source_digest() -> str:
    """Hash of every source file that shapes the read store."""
    import hashlib

    h = hashlib.sha256(str(STORE_SEED).encode())
    paths = [os.path.join(HERE, "gen.py")]
    for top in ("gfs_to_prometheus_spark", "jobs"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + f.read())
    return h.hexdigest()[:16]


def build_store(spark, final: str) -> None:
    """Build the read workload's store at ``final``: one
    ``run_from_samples`` over every day of a fixed-seed stream. Keeps the
    ``KEEP_STORES`` most recently used stores in the cache directory."""
    from jobs import pipeline

    tmp = f"{final}.tmp-{os.getpid()}"
    built = gen.sample_stream(tmp, STORE_SEED, gen.STORE_SAMPLES_PER_DAY)
    written = pipeline.run_from_samples(
        spark, os.path.join(tmp, "store"),
        spark.read.parquet(built.input_dir), job_id="read-store",
    )
    meta = {
        "days": built.days, "rows": built.rows, "accepted": built.accepted,
        "day_accepted": built.day_accepted,
        "rejected": written.get("rejected", 0),
    }
    with open(os.path.join(tmp, "stream.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run finished it first
        shutil.rmtree(tmp, ignore_errors=True)
    cache = os.path.dirname(final)
    stores = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache) if ".tmp-" not in d),
        key=os.path.getmtime, reverse=True,
    )
    for old in stores[KEEP_STORES:]:
        shutil.rmtree(old, ignore_errors=True)


def ensure_store() -> str:
    """Path of the read workload's store, built first if it is missing.

    The store is keyed by the engine and generator sources, so an edited
    engine never reads a store an older one wrote. A missing store is
    built by a child process with a Spark session of its own, which ends
    before this run's set-up clock and memory sampling start: every read
    run measures the same work, whether or not it found the store."""
    final = os.path.join(ROOT, ".perfbench_cache", f"read-store-{_source_digest()}")
    if os.path.exists(os.path.join(final, "stream.json")):
        os.utime(final)  # most recently used
        return final
    os.makedirs(os.path.dirname(final), exist_ok=True)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", "read_dashboard",
         "--seed", "0", "--seconds", "0", "--build-store", final],
        stdout=sys.stderr,
    )
    try:
        rc = child.wait()
    finally:
        if child.poll() is None:  # this run was stopped while building
            child.terminate()
            try:
                child.wait(timeout=60)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
    if rc != 0:
        raise RuntimeError(f"building the read store failed with code {rc}")
    return final


def read_store(final: str) -> tuple[gen.Stream, str, int]:
    """The stream a read store holds, the store's root and its rejected
    rows. Each run's ``--seed`` draws the query mix, not the store."""
    with open(os.path.join(final, "stream.json")) as f:
        meta = json.load(f)
    stream = gen.Stream(
        os.path.join(final, "input"), os.path.join(final, "truth.parquet"),
        meta["days"], meta["rows"], meta["accepted"], meta["day_accepted"],
    )
    return stream, os.path.join(final, "store"), meta["rejected"]


# -- per-layer figures from the spans ----------------------------------


def _group(tr: Tracer, i: int) -> str:
    """The resource group a span's own stages and CPU are charged to."""
    j: int | None = i
    while j is not None:  # an api.* or suite.* ancestor owns the whole call
        name = tr.spans[j].name
        if name.startswith("api."):
            return "api.raw" if name.split(".")[1] in RAW_KINDS else "api.tier"
        if name.startswith("suite."):
            return "suite"
        j = tr.spans[j].parent
    name = tr.spans[i].name
    if name.startswith("checkpoint.materialize.rollup"):
        return "checkpoint.materialize.rollup"
    if name.startswith("checkpoint.materialize."):
        return name if name in _GROUPS else "checkpoint.bookkeeping"
    if name.startswith("checkpoint.write."):
        return "checkpoint.write"
    if name in ("pipeline", "compact"):
        return f"{name}.self"
    return "checkpoint.bookkeeping"


def per_layer(run: Run, untraced_loop_s: float | None) -> dict[str, float]:
    tr = run.tracer
    out = dict.fromkeys(PER_LAYER, 0.0)
    walls: dict[str, list[float]] = {}  # api/suite build and exec spans
    inputs: dict[str, list[float]] = {}
    for i, sp in enumerate(tr.spans):
        name = sp.name
        if name.startswith("checkpoint.materialize.") or name in (
            "checkpoint.lineage", "checkpoint.completed_parts"
        ) or name.startswith("chunks."):
            key = f"{name}_s"
            if key in out:
                out[key] += sp.wall
            if name == "checkpoint.materialize.chunks_1d":
                out["compact.batches"] += 1
        elif name.startswith("checkpoint.write."):
            out[f"{name}_s"] += sp.wall
            out[f"{name}_bytes"] += sp.stages["output_bytes"]
        elif name == "pipeline":
            out["pipeline.self_s"] += tr.self_wall(i)
        elif name == "compact":
            out["compact.self_s"] += tr.self_wall(i)
        elif name.startswith(("api.", "suite.")):
            parts = name.split(".")
            if len(parts) == 3:
                walls.setdefault(name, []).append(sp.wall)
            elif parts[0] == "api":
                sub = [j for j in range(len(tr.spans)) if _descends(tr, j, i)]
                inputs.setdefault(parts[1], []).append(
                    sum(tr.spans[j].stages["input_bytes"] for j in sub)
                )
        g = _group(tr, i)
        jvm, py = tr.self_cpu(i)
        out[f"{g}.python_worker_cpu_s"] += py
        out[f"{g}.jvm_cpu_s"] += jvm
        for s in ("shuffle_write_bytes", "spill_bytes", "gc_s", "tasks"):
            out[f"{g}.{s}"] += sp.stages[s]
    for name, xs in walls.items():
        if name.startswith("api."):
            out[f"{name}_ms"] = statistics.median(xs) * 1e3
        else:
            out[f"{name}_s"] = statistics.median(xs)
    for kind, xs in inputs.items():
        out[f"api.{kind}.input_bytes"] = statistics.median(xs)
    if "ingest_samples_per_s" in run.info:  # write_skewed
        out["pipeline.samples_per_s"] = run.info["ingest_samples_per_s"]
        out["compact.samples_per_s"] = run.info["compact_samples_per_s"]
        out["chunks.bytes_per_sample"] = run.info["chunk_2h_bytes_per_sample"]
        out["chunks_1d.bytes_per_sample"] = run.info["chunk_bytes_per_sample"]
    else:
        out["suite.pass_s"] = run.info["suite_pass_s"]
        out["cachereg.hit_ratio"] = tr.cache_hits / max(tr.cache_calls, 1)
    top = sum(sp.wall for sp in tr.spans if sp.parent is None)
    out["trace.coverage"] = top / run.loop_wall
    out["trace.loop_s"] = statistics.median(run.loops)
    if untraced_loop_s:
        out["trace.overhead_ratio"] = out["trace.loop_s"] / untraced_loop_s
    out["trace.spans"] = len(tr.spans)
    return out


def _descends(tr: Tracer, j: int, i: int) -> bool:
    while j is not None:
        if j == i:
            return True
        j = tr.spans[j].parent
    return False


def recorded_loop_s(workload: str, seed: int) -> float | None:
    """Median loop_s of the untraced runs recorded in this checkout: of
    the same seed if there are any, else of every seed."""
    try:
        with open(UNTRACED_LOOPS) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return None
    mine = [r for r in recs if r["workload"] == workload]
    same = [r["loop_s"] for r in mine if r["seed"] == seed]
    xs = same or [r["loop_s"] for r in mine]
    return statistics.median(xs) if xs else None


# -- entry point ---------------------------------------------------------


def stop_spark(spark, sampler: ProcSampler) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until no process this run started is left."""
    from pyspark import SparkContext

    from py4j.protocol import Py4JError

    gw = SparkContext._gateway
    try:
        spark.stop()
    except Py4JError:  # gateway already broken (a signal interrupted a call)
        print("spark.stop() failed; ending the JVM directly", file=sys.stderr)
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while sampler.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in sampler.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-store", help=argparse.SUPPRESS)
    args = ap.parse_args()
    seed = args.seed % 2**63  # numpy generators take non-negative seeds

    missing = [d for d in ("gfs_to_prometheus_spark", "jobs")
               if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"engine sources not found next to the benchmark: {missing}",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    store = None
    if args.workload == "read_dashboard" and not args.build_store:
        store = ensure_store()
    t_setup = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_env(work)
    sys.path.insert(0, ROOT)
    import numpy as np

    untraced_loop_s = recorded_loop_s(args.workload, args.seed) if args.trace else None
    sampler = ProcSampler()
    sampler.start()
    tracer = Tracer(args.workload, sampler) if args.trace else None
    spark = None
    try:
        from gfs_to_prometheus_spark.session import get_spark

        spark = get_spark(app=f"perfbench-{args.workload}", cpus=CPUS)
        if args.build_store:
            build_store(spark, args.build_store)
            return 0
        run = Run(args.seconds, work)
        if args.workload == "write_skewed":
            stream = gen.sample_stream(os.path.join(work, "gen"), seed)
            samples = spark.read.parquet(stream.input_dir)
            setup_s = time.perf_counter() - t_setup
            run.start_trace(tracer)
            write_skewed(run, spark, stream, samples)
        else:
            from gfs_to_prometheus_spark.api import Engine

            stream, root, rejected = read_store(store)
            check_store(run, root, stream, rejected, compacted=False)
            eng = Engine(spark, root)
            sf_dir = gen.suite_tables(os.path.join(work, "suite"), seed)
            # untimed warm-up: one call per tier panel and one round of the
            # suite (whose results the checks use), so the measured pass
            # reuses each plan's generated code (and the suite's pooled
            # caches) instead of compiling it. The calls run side by side,
            # one per core, to keep set-up short. The raw panels stay cold:
            # warming them costs more set-up time than their compilation
            # adds to the pass.
            with ThreadPoolExecutor(CPUS) as pool:
                warm = [pool.submit(_call, run, eng, kind, kw, False)
                        for kind, kw in gen.warm_calls(np.random.default_rng(seed + 1))]
                cold = {name: pool.submit(suite_call, run, spark, name, sf_dir, True)
                        for name in SUITE}
            for f in warm:
                f.result()
            results = {name: f.result() for name, f in cold.items()}
            run.ops.clear()
            setup_s = time.perf_counter() - t_setup
            run.start_trace(tracer)
            read_dashboard(run, spark, stream, eng, sf_dir, np.random.default_rng(seed))
            check_suite(run, sf_dir, results)
        if tracer:
            tracer.attach_stages(spark)
    finally:
        try:
            if spark is not None:
                stop_spark(spark, sampler)
        finally:
            sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run is still using it
                pass

    attempted = len(run.ops) + run.checks
    failed = len(run.failures)
    info = dict(run.info, failed_frac=failed / attempted)
    os.makedirs(OUT, exist_ok=True)
    if args.trace:
        metrics = per_layer(run, untraced_loop_s)
        units = PER_LAYER
        doc = tracer.document()
        doc["per_layer"] = metrics
        path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(doc, f)
        print(f"trace document: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(dt for _, dt in run.ops) * 1e3,
            "loop_s": statistics.median(run.loops),
            "peak_pss_mb": sampler.peak_pss / 2**20,
        }
        units = END_TO_END
        if failed == 0:
            with open(UNTRACED_LOOPS, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                    "loop_s": metrics["loop_s"]}) + "\n")
    for name, value in info.items():
        print(f"{args.workload} {name} {value:.6g}")
    for name, value in metrics.items():
        print(f"{args.workload} {name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
