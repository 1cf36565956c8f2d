"""Layer-attributed tracing from outside the program.

Spans are recorded around calls into the package's public functions (one
layer per subpackage), around the registry query functions and around
``DataFrame.localCheckpoint``/``cache``/``persist``. Spark jobs come from the
status store, SQL metrics from the SQL status store and streaming epochs from
a ``StreamingQueryListener``; all are read after the timed region and
attached to spans by timestamp.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "realestatedeals_spark"
LAYERS = ("operators", "functions", "io", "streaming", "util", "session")
PIN_METHODS = ("localCheckpoint", "cache", "persist")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int = -1
    qid: int = -1
    skipped: bool = False  # spread_by_id returned its input unchanged


class Tracer:
    """Records spans in memory; ``install`` wraps the layer functions."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.qid = -1
        self.root = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        # Spans are timed on the monotonic clock, placed on the wall clock
        # (which Spark's timestamps use) through one anchor, so a clock step
        # during the run cannot stretch or reorder spans.
        self._wall0 = time.time()
        self._mono0 = time.perf_counter()

    def now(self) -> float:
        return self._wall0 + (time.perf_counter() - self._mono0)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self.root
        span = Span(name, layer, self.now(), parent=parent, qid=self.qid)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = self.now()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def query(self, qid: int, name: str) -> int:
        """Open the root span of one query execution."""
        self.qid = qid
        self.root = -1
        self._stack().clear()
        self.root = self.open(name, "query")
        return self.root

    def end_query(self, idx: int) -> None:
        self.close(idx)
        self.root = -1

    def _wrap(self, fn, name: str, layer: str):
        tracer = self
        is_spread = name == "util.spread_by_id"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name, layer)
            try:
                out = fn(*args, **kwargs)
                if is_spread and args and out is args[0]:
                    tracer.spans[idx].skipped = True
                return out
            finally:
                tracer.close(idx)

        return wrapper

    def install(self, query_fns: dict[str, object]) -> dict[str, object]:
        """Wrap every public function of the layer modules, rebinding each
        name that any loaded package module imported with ``from … import``;
        wrap the pin methods; return wrapped registry query functions.

        ``functools.wraps`` keeps each wrapper's module and qualified name,
        and the module attribute is rebound to the wrapper, so cloudpickle
        still pickles a wrapped function by reference when a UDF closes over
        it; Python workers import the unwrapped original.
        """
        originals: dict[int, object] = {}
        for modname in _layer_modules():
            mod = importlib.import_module(modname)
            layer = modname.split(".")[1]
            for attr, obj in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != modname
                    or hasattr(obj, "evalType")  # a pandas/Python UDF
                ):
                    continue
                short = modname[len(PACKAGE) + 1 :]
                originals[id(obj)] = self._wrap(obj, f"{short}.{attr}", layer)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None:
                    self._restore.append((mod, attr, obj))
                    setattr(mod, attr, wrapper)
        for meth in PIN_METHODS:
            orig = getattr(ClassicDataFrame, meth)
            self._restore.append((ClassicDataFrame, meth, orig))
            setattr(ClassicDataFrame, meth, self._wrap(orig, f"pin.{meth}", "util"))
        return {
            name: self._wrap(fn, "construct", "plans") for name, fn in query_fns.items()
        }

    def uninstall(self) -> None:
        for owner, attr, obj in reversed(self._restore):
            setattr(owner, attr, obj)
        self._restore.clear()


def _layer_modules() -> list[str]:
    names = []
    for layer in LAYERS:
        modname = f"{PACKAGE}.{layer}"
        mod = importlib.import_module(modname)
        names.append(modname)
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__, modname + "."):
                names.append(info.name)
    return names


class EpochListener(StreamingQueryListener):
    """Collects every streaming progress event (one per micro-batch)."""

    def __init__(self) -> None:
        super().__init__()
        self.epochs: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        rec = {
            "start": ts,
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        }
        with self._lock:
            self.epochs.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def since(self, t0: float) -> list[dict]:
        with self._lock:
            return [e for e in self.epochs if e["start"] >= t0 and "addBatch" in e["ms"]]

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until the asynchronous listener bus stops delivering."""
        deadline = time.monotonic() + timeout
        n = -1
        while time.monotonic() < deadline:
            with self._lock:
                cur = len(self.epochs)
            if cur == n:
                return
            n = cur
            time.sleep(0.3)


@dataclass
class Job:
    id: int
    start: float
    end: float
    tasks: int
    failed_tasks: int
    stages: list[int] = field(default_factory=list)


def max_job_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    return max((seq.apply(i).jobId() for i in range(seq.size())), default=-1)


def read_jobs(spark, after_id: int) -> list[Job]:
    """Jobs with id > ``after_id`` from the status store (times in epoch s)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    jobs = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() <= after_id:
            continue
        sub, comp = j.submissionTime(), j.completionTime()
        start = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
        end = comp.get().getTime() / 1000 if comp.isDefined() else start
        ids = j.stageIds()
        jobs.append(
            Job(
                j.jobId(), start, end, j.numTasks(), j.numFailedTasks(),
                [ids.apply(k) for k in range(ids.size())],
            )
        )
    return sorted(jobs, key=lambda j: j.id)


STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
    "inputBytes", "outputBytes", "outputRecords",
)


def read_stages(spark, stage_ids: set[int]) -> dict[int, dict]:
    """Task-metric totals of the executed (non-skipped) stages named."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    seq = store.stageList(empty, False, False, sc._gateway.new_array(sc._jvm.double, 0), empty)
    out: dict[int, dict] = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid not in stage_ids or s.status().toString() == "SKIPPED":
            continue
        rec = {f: getattr(s, f)() for f in STAGE_FIELDS}
        prev = out.get(sid)
        if prev:  # a retried stage: sum its attempts
            rec = {f: prev[f] + rec[f] for f in STAGE_FIELDS}
        out[sid] = rec
    return out


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: the total, in bytes / seconds / units."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def read_python_metrics(spark, t0: float) -> list[dict]:
    """Rows, bytes and worker seconds of the Arrow/pandas-UDF plan nodes of
    each SQL execution submitted at or after ``t0`` (epoch s)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    ex = sql.executionsList()
    out = []
    for i in range(ex.size()):
        e = ex.apply(i)
        start = e.submissionTime() / 1000
        if start < t0:
            continue
        eid = e.executionId()
        values = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        rec = {"start": start, "rows": 0.0, "bytes": 0.0, "seconds": 0.0}
        for k in range(nodes.size()):
            ms = nodes.apply(k).metrics()
            named = {ms.apply(j).name(): ms.apply(j).accumulatorId() for j in range(ms.size())}
            if "data sent to Python workers" not in named:
                continue

            def val(name: str) -> float:
                v = values.get(named[name]) if name in named else None
                return parse_metric(v.get()) if v is not None and v.isDefined() else 0.0

            rec["rows"] += val("number of output rows")
            rec["bytes"] += val("data sent to Python workers") + val(
                "data returned from Python workers"
            )
            rec["seconds"] += val("time to run Python workers")
        out.append(rec)
    return out


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(i, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


def innermost(spans: list[Span], t: float) -> int:
    """Index of the latest-opened span whose interval contains ``t``."""
    best = -1
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and (best < 0 or s.start >= spans[best].start):
            best = i
    return best


def ancestors(spans: list[Span], i: int):
    while i >= 0:
        yield i
        i = spans[i].parent


def root_of(spans: list[Span], i: int) -> int:
    root = -1
    for j in ancestors(spans, i):
        root = j
    return root


def layer_metrics(
    spans: list[Span],
    jobs: list[Job],
    stages: dict[int, dict],
    epochs: list[dict],
    python: list[dict],
    cores: int,
) -> dict[str, float]:
    """Per-layer totals over the given spans, jobs, stages and epochs."""
    selfs = self_times(spans)
    dur = [s.end - s.start for s in spans]
    job_span = [innermost(spans, j.start) for j in jobs]

    def under(i: int, pred) -> bool:
        return any(pred(spans[k]) for k in ancestors(spans, i))

    def outermost(pred) -> list[int]:
        return [
            i for i, s in enumerate(spans)
            if pred(s) and not under(s.parent, pred)
        ]

    m: dict[str, float] = {}
    for part in ("construct", "execute"):
        idx = [i for i, s in enumerate(spans) if s.name == part and s.layer == "plans"]
        m[f"plans.{part}_s"] = sum(dur[i] for i in idx)
        m[f"plans.{part}_jobs"] = sum(
            1 for k in job_span if k >= 0 and under(k, lambda s, p=part: s.name == p)
        )
        if part == "construct":
            m["plans.self_s"] = sum(selfs[i] for i in idx)
    for layer in ("operators", "functions", "io", "streaming", "util", "session"):
        m[f"{layer}.calls"] = len(outermost(lambda s, lay=layer: s.layer == lay))
        m[f"{layer}.self_s"] = sum(selfs[i] for i, s in enumerate(spans) if s.layer == layer)
        m[f"{layer}.jobs"] = sum(1 for k in job_span if k >= 0 and spans[k].layer == layer)
    pins = outermost(lambda s: s.name.startswith("pin."))
    m["util.pins"] = len(pins)
    m["util.pin_s"] = sum(dur[i] for i in pins)
    spread = [s for s in spans if s.name == "util.spread_by_id"]
    m["util.spread_calls"] = len(spread)
    m["util.spread_skip_frac"] = (
        sum(s.skipped for s in spread) / len(spread) if spread else 0.0
    )

    st = list(stages.values())

    def total(f: str) -> float:
        return float(sum(s[f] for s in st))

    m["io.bytes_read"] = total("inputBytes")
    m["io.bytes_written"] = total("outputBytes")
    m["io.records_written"] = total("outputRecords")

    trig = [e["ms"].get("triggerExecution", 0) / 1000 for e in epochs]
    m["streaming.epochs"] = len(epochs)
    m["streaming.input_rows"] = float(sum(e["rows"] for e in epochs))
    m["streaming.trigger_s"] = sum(trig)
    for key, name in (
        ("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
        ("commitOffsets", "commit_offsets_s"), ("queryPlanning", "planning_s"),
        ("getBatch", "get_batch_s"),
    ):
        m[f"streaming.{name}"] = sum(e["ms"].get(key, 0) for e in epochs) / 1000
    in_epoch = sum(
        1 for j in jobs
        for e, t in zip(epochs, trig) if e["start"] <= j.start <= e["start"] + t
    )
    m["streaming.jobs_per_epoch"] = in_epoch / len(epochs) if epochs else 0.0
    stream_roots = {
        root_of(spans, innermost(spans, e["start"])) for e in epochs
    } - {-1}
    m["streaming.outside_s"] = max(0.0, sum(dur[i] for i in stream_roots) - sum(trig))

    job_wall = sum(j.end - j.start for j in jobs)
    run_s = total("executorRunTime") / 1000
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(st)
    m["spark.tasks"] = total("numTasks")
    m["spark.failed_tasks"] = total("numFailedTasks")
    m["spark.job_wall_s"] = job_wall
    m["spark.busy_frac"] = run_s / (job_wall * cores) if job_wall else 0.0
    m["spark.shuffle_read_bytes"] = total("shuffleReadBytes")
    m["spark.shuffle_write_bytes"] = total("shuffleWriteBytes")
    m["spark.spill_bytes"] = total("diskBytesSpilled")
    m["spark.gc_s"] = total("jvmGcTime") / 1000
    m["spark.executor_run_s"] = run_s
    m["spark.executor_cpu_s"] = total("executorCpuTime") / 1e9
    for key in ("rows", "bytes"):
        m[f"spark.python_{key}"] = sum(p[key] for p in python)
    m["spark.python_s"] = sum(p["seconds"] for p in python)
    return m


# Metrics that are ratios or per-epoch averages; every other metric is a
# total and is divided by the number of traced passes.
RATIOS = {"util.spread_skip_frac", "spark.busy_frac", "streaming.jobs_per_epoch"}
