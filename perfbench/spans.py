"""Process sampling and layer spans for the benchmark.

``ProcSampler`` walks this process's descendants in ``/proc``: the JVM
(``java``) and the pyspark daemon plus its forked Python workers. It gives
their summed proportional set size (PSS, which splits the pages forked
workers share instead of counting them once per worker; a thread polls it
for the peak) and the CPU seconds of each side. Worker CPU includes the
daemon's ``cutime/cstime``, so it stays monotone when workers exit.

``Tracer`` records spans in memory. ``install`` wraps the module
attributes the engine looks up at call time (``checkpoint.*``,
``chunks.*``, ``api.Engine.*``, ``cachereg.cached`` and the registry's
``QUERIES`` entries) so each call becomes a span, and ``uninstall``
restores them. It also counts ``cachereg.cached`` calls that reused a
pooled frame (the call returns without caching anything). Spark stage metrics are read once, after the
measured work, from the ``AppStatusStore`` (it is kept with the UI off),
and each stage is charged to the innermost span open when it was
submitted. A span's self figures are its own minus those of its children.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may contain spaces: split after its closing parenthesis
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


class ProcSampler:
    """Memory and CPU of the JVM and Python workers this process started."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_pss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def descendants(self) -> dict[int, list[str]]:
        parent: dict[int, int] = {}
        stats: dict[int, list[str]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                parent[int(name)] = int(st[2])
        out: dict[int, list[str]] = {}
        frontier = [os.getpid()]
        while frontier:
            p = frontier.pop()
            for child, pp in parent.items():
                if pp == p and child not in out:
                    out[child] = stats[child]
                    frontier.append(child)
        return out

    def pss_bytes(self) -> int:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:  # exited between listing and reading
                pass
        return total

    def cpu_s(self) -> tuple[float, float]:
        """(JVM CPU s, Python worker CPU s) so far."""
        jvm = py = 0.0
        for st in self.descendants().values():
            # fields after comm: state=1, utime=12, stime=13, cutime=14, cstime=15
            own = (int(st[12]) + int(st[13])) / _TICK
            reaped = (int(st[14]) + int(st[15])) / _TICK
            if st[0] == "java":
                jvm += own
            elif st[0].startswith("python"):
                py += own + reaped
        return jvm, py

    def _poll(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_pss = max(self.peak_pss, self.pss_bytes())

    def start(self) -> None:
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_pss = max(self.peak_pss, self.pss_bytes())


STAGE_FIELDS = (
    "tasks", "jvm_task_cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes",
)


@dataclass
class Span:
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    cpu0: tuple[float, float] = (0.0, 0.0)
    cpu1: tuple[float, float] = (0.0, 0.0)
    stages: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0)
    )

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans plus the wrappers that open them."""

    def __init__(self, workload: str, sampler: ProcSampler):
        self.workload = workload
        self.sampler = sampler
        self.spans: list[Span] = []
        self.cache_calls = 0
        self.cache_hits = 0
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._pending_materialize: int | None = None

    # -- spans ---------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self._open[-1] if self._open else None
        cpu = self.sampler.cpu_s()
        self.spans.append(Span(name, parent, time.time(), cpu0=cpu))
        self._open.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, i: int) -> None:
        span = self.spans[i]
        span.end = time.time()
        span.cpu1 = self.sampler.cpu_s()
        self._open.remove(i)

    @contextlib.contextmanager
    def span(self, name: str):
        i = self.begin(name)
        try:
            yield i
        finally:
            self.end(i)

    # -- wrappers ------------------------------------------------------

    @staticmethod
    def _set(owner: object, attr: str, value) -> None:
        if isinstance(owner, dict):
            owner[attr] = value
        else:
            setattr(owner, attr, value)

    def _wrap(self, owner: object, attr: str, name_of) -> None:
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            i = self.begin(name_of(args, kwargs))
            try:
                return orig(*args, **kwargs)
            finally:
                self.end(i)
                self._after(i, attr)

        self._set(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def _after(self, i: int, attr: str) -> None:
        # _commit materializes the frame (partition_stats) right before it
        # writes it: the materialize span takes the name of that write
        if attr == "partition_stats":
            self._pending_materialize = i
        elif attr == "write_partitioned":
            if self._pending_materialize is not None:
                table = self.spans[i].name.rsplit(".", 1)[1]
                self.spans[self._pending_materialize].name = (
                    f"checkpoint.materialize.{table}"
                )
            self._pending_materialize = None

    def _count_cache(self) -> None:
        from gfs_to_prometheus_spark.operators import cachereg

        orig = cachereg.cached

        @functools.wraps(orig)
        def counted(df, *args, **kwargs):
            before = df.is_cached
            out = orig(df, *args, **kwargs)
            self.cache_calls += 1
            # a pooled reuse returns the frame without calling cache()
            self.cache_hits += not before and not out.is_cached
            return out

        cachereg.cached = counted
        self._patched.append((cachereg, "cached", orig))

    def install(self, queries: tuple[str, ...] = ()) -> None:
        """Wrap the engine's layers; ``queries`` names the registry
        entries to wrap as ``suite.<name>.build`` spans."""
        from gfs_to_prometheus_spark import api, checkpoint, chunks
        from gfs_to_prometheus_spark.operators import cachereg
        from gfs_to_prometheus_spark.queries import QUERIES

        def table_arg(args, kwargs):
            return kwargs.get("table", args[2] if len(args) > 2 else "?")

        self._wrap(checkpoint, "partition_stats", lambda a, k: "checkpoint.materialize")
        self._wrap(
            checkpoint, "write_partitioned",
            lambda a, k: f"checkpoint.write.{table_arg(a, k)}",
        )
        self._wrap(checkpoint, "append_lineage", lambda a, k: "checkpoint.lineage")
        self._wrap(
            checkpoint, "completed_parts", lambda a, k: "checkpoint.completed_parts"
        )
        for fn in ("encode_chunks", "recode_chunks", "decode_chunks"):
            self._wrap(chunks, fn, lambda a, k, fn=fn: f"chunks.{fn}")
        for m in ("range_query", "topk", "instant", "rate", "gapfilled"):
            self._wrap(api.Engine, m, lambda a, k, m=m: f"api.{m}.build")
        for q in queries:
            self._wrap(QUERIES, q, lambda a, k, q=q: f"suite.{q}.build")
        self._count_cache()
        self._wrap(cachereg, "cached", lambda a, k: "cachereg.cached")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            self._set(owner, attr, orig)

    # -- Spark stages --------------------------------------------------

    def attach_stages(self, spark) -> int:
        """Charge every completed stage to the innermost span open at its
        submission. Returns the number of stages charged."""
        store = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        it = stages.iterator()
        charged = 0
        by_start = sorted(range(len(self.spans)), key=lambda j: self.spans[j].start)
        while it.hasNext():
            s = it.next()
            sub = s.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1000.0
            owner = None
            for j in by_start:  # innermost = latest-starting span covering t
                sp = self.spans[j]
                if sp.start > t:
                    break
                if sp.start <= t < sp.end:
                    owner = j
            if owner is None:
                continue
            st = self.spans[owner].stages
            st["tasks"] += s.numTasks()
            st["jvm_task_cpu_s"] += s.executorCpuTime() / 1e9
            st["gc_s"] += s.jvmGcTime() / 1e3
            st["shuffle_write_bytes"] += s.shuffleWriteBytes()
            st["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            st["input_bytes"] += s.inputBytes()
            st["output_bytes"] += s.outputBytes()
            charged += 1
        return charged

    # -- derived figures -----------------------------------------------

    def children(self, i: int) -> list[int]:
        return [j for j, s in enumerate(self.spans) if s.parent == i]

    def self_wall(self, i: int) -> float:
        return self.spans[i].wall - sum(self.spans[j].wall for j in self.children(i))

    def self_cpu(self, i: int) -> tuple[float, float]:
        """CPU seconds of the span minus its children's, floored at 0: the
        /proc counters tick in 10 ms steps, so a short span can read a few
        ticks less than its children."""
        sp = self.spans[i]
        jvm = sp.cpu1[0] - sp.cpu0[0]
        py = sp.cpu1[1] - sp.cpu0[1]
        for j in self.children(i):
            c = self.spans[j]
            jvm -= c.cpu1[0] - c.cpu0[0]
            py -= c.cpu1[1] - c.cpu0[1]
        return max(jvm, 0.0), max(py, 0.0)

    def document(self) -> dict:
        """All spans as one JSON-ready document."""
        return {
            "workload": self.workload,
            "spans": [
                {
                    "id": i,
                    "name": s.name,
                    "start": round(s.start, 6),
                    "end": round(s.end, 6),
                    "parent": s.parent,
                    "workload": self.workload,
                    "self_s": round(self.self_wall(i), 6),
                    "self_jvm_cpu_s": round(self.self_cpu(i)[0], 3),
                    "self_python_worker_cpu_s": round(self.self_cpu(i)[1], 3),
                    "stages": s.stages,
                }
                for i, s in enumerate(self.spans)
            ],
        }
