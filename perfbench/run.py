"""Deals-engine benchmark: one workload, one seed, one JSON result line.

Usage, from the repository root:

    python3 perfbench/run.py --workload reference_etl --seed 1 --seconds 6 --trace 0

A run starts the engine's session on ``local[<cores>]``, generates (or reuses)
the seeded input, runs one untimed warm-up pass that also checks every query
against its DuckDB oracle, then runs closed-loop passes over the workload's
query list until ``--seconds`` have elapsed (at least two passes). Every query
execution is timed from the registry call until its one-row digest is back,
and the digest must equal the verified one.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` runs two untraced passes, then traced passes, and prints the
per-layer metrics (per pass) and the tracing overhead. A readable report
precedes the last line; the full artifact (per-query breakdown, spans,
environment) goes to ``.perfbench/runs``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ROWS_ONLY_MIN_ROWS = 1
# Host contention only ever slows a pass down, so the fastest of two or more
# passes is a steadier estimate of the program's own cost than one pass.
MIN_PASSES = 2


def load_tool(name: str):
    """Import ``tools/<name>.py`` (the directory is not a package)."""
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"perfbench_tool_{name}", path)
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot load {path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def isolate(tmp: str, cores: int) -> None:
    """Keep every file the run writes inside the work directory and make
    the package importable by Python workers started outside the repo."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    java_opts = [
        o for o in os.environ.get("JAVA_TOOL_OPTIONS", "").split()
        if not o.startswith("-Djava.io.tmpdir=") and o != "-XX:-UsePerfData"
    ]
    # -XX:-UsePerfData: HotSpot writes its perf-data file under /tmp
    # whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [*java_opts, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    )
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def ensure_inputs(gen_scale, sf: float, seed: int) -> str:
    """Generated parquet for (sf, seed), cached under the work directory."""
    out = os.path.join(WORK, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(out, ".complete")):
        part = f"{out}.part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            gen_scale.generate(sf, part, seed=seed)
        open(os.path.join(part, ".complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(part, out)
    return out


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
    }


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(parents.get(p, ()))
    return out


def peak_rss_mb(pids: list[int]) -> dict[int, float]:
    """Peak resident set (VmHWM, MB) of each of the given live processes."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1]) / 1024
        except OSError:
            continue
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host so far: time the hypervisor gave
    other guests, which shows up here as uniform slowdown."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def percentile(values: list[float], q: float) -> float | None:
    """The q-quantile, reported only when at least 10 samples lie beyond it."""
    if not values:
        return None
    if q == 0.5:
        return statistics.median(values)
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Run:
    """One workload on one seed inside one Spark session."""

    def __init__(self, spark, workload, sf_dir: str, listener):
        from realestatedeals_spark.plans.registry import QUERIES

        self.spark = spark
        self.wl = workload
        self.sf_dir = sf_dir
        self.listener = listener
        self.defs = {n: QUERIES[n] for n in workload.queries}
        self.expected: dict[str, tuple] = {}
        self.problems: dict[str, str] = {}
        self.execs: list[dict] = []
        self.warm_s: dict[str, float] = {}
        self.passes = 0
        self.verify_s = 0.0

    def warm_up(self, oracle) -> float:
        """First execution of every query: its digest (timed, as set-up) and
        its rows against the oracle (untimed). Returns the timed seconds."""
        from perfbench.digest import digest
        from realestatedeals_spark.util import TRAINER_CACHE

        timed = 0.0
        for name, qd in self.defs.items():
            TRAINER_CACHE.clear()
            t0 = time.perf_counter()
            try:
                # Cached so the oracle check below reads the rows this
                # digest hashed instead of running the query again.
                df = qd.fn(self.spark, self.sf_dir).cache()
                d = digest(df)
            except Exception:  # noqa: BLE001 — a failing query is a result
                self.problems[name] = traceback.format_exc(limit=3)
                print(f"# {name}: warm-up FAILED\n{self.problems[name]}", file=sys.stderr)
                continue
            finally:
                self.warm_s[name] = time.perf_counter() - t0
                timed += self.warm_s[name]
            t1 = time.perf_counter()
            try:
                pdf = df.toPandas()
                if len(pdf) != d[0]:
                    reason = f"digest rows {d[0]} != collected rows {len(pdf)}"
                elif qd.oracle is None:
                    reason = (
                        None if len(pdf) >= ROWS_ONLY_MIN_ROWS
                        else f"rows-only query returned {len(pdf)} rows"
                    )
                else:
                    reason = oracle.compare(pdf, qd.oracle)
            except Exception:  # noqa: BLE001
                reason = traceback.format_exc(limit=3)
            df.unpersist(blocking=True)
            self.verify_s += time.perf_counter() - t1
            if reason:
                self.problems[name] = reason
                print(f"# {name}: oracle FAILED: {reason}", file=sys.stderr)
            else:
                self.expected[name] = d
        return timed

    def one_pass(self, fns: dict, tracer=None) -> float:
        """Run every query once, in order; returns the pass wall time."""
        from perfbench.digest import digest
        from realestatedeals_spark.util import TRAINER_CACHE

        t_pass = time.perf_counter()
        pass_no = self.passes
        self.passes += 1
        for name in self.wl.queries:
            TRAINER_CACHE.clear()
            qid = len(self.execs)
            root = tracer.query(qid, name) if tracer else -1
            ok, d = False, None
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                df = fns[name](self.spark, self.sf_dir)
                ex = tracer.open("execute", "plans") if tracer else -1
                try:
                    d = digest(df)
                finally:
                    if tracer:
                        tracer.close(ex)
                ok = name in self.expected and d == self.expected[name]
            except Exception:  # noqa: BLE001
                print(f"# {name}: FAILED\n{traceback.format_exc(limit=3)}", file=sys.stderr)
            dt = time.perf_counter() - t0
            if tracer:
                tracer.end_query(root)
            if d is not None and not ok:
                print(f"# {name}: digest {d} != expected {self.expected.get(name)}", file=sys.stderr)
            self.execs.append(
                {
                    "query": name, "s": dt, "ok": ok, "start": wall0,
                    "pass": pass_no, "traced": tracer is not None,
                }
            )
        return time.perf_counter() - t_pass


def end_to_end(run: Run, passes: list[float], epochs: list[dict], setup_s, rss) -> dict:
    times = [e["s"] for e in run.execs]
    trig = [e["ms"]["triggerExecution"] / 1000 for e in epochs]
    failed = sum(not e["ok"] for e in run.execs)
    return {
        "setup_s": setup_s,
        "pass_s": min(passes),
        "query_p50_s": percentile(times, 0.5),
        "query_p90_s": percentile(times, 0.9),
        "epoch_p50_s": percentile(trig, 0.5),
        "epoch_p90_s": percentile(trig, 0.9),
        "stream_rows_per_s": (sum(e["rows"] for e in epochs) / sum(trig)) if sum(trig) else None,
        "failed_frac": failed / len(run.execs),
        "peak_rss_mb": rss,
    }


E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "epoch_p50_s": "s", "epoch_p90_s": "s", "stream_rows_per_s": "rows/s",
    "failed_frac": "ratio", "peak_rss_mb": "MB",
}


def traced_layers(spark, run: Run, tracer, job_after: int, t0: float, n_passes: int, cores: int):
    """Layer metrics over the traced passes: per pass on average, per query
    (per pass), and for each traced pass on its own."""
    from perfbench import trace as T

    run.listener.settle()
    jobs = T.read_jobs(spark, job_after)
    stages = T.read_stages(spark, {s for j in jobs for s in j.stages})
    epochs = run.listener.since(t0)
    python = T.read_python_metrics(spark, t0)
    spans = tracer.spans

    def root_at(t: float):
        r = T.root_of(spans, T.innermost(spans, t))
        return spans[r] if r >= 0 else None

    def group(pred) -> dict:
        """Layer metrics of the query executions whose root span passes."""
        keep = [i for i in range(len(spans)) if pred(spans[T.root_of(spans, i)])]
        remap = {old: new for new, old in enumerate(keep)}
        sub = [
            T.Span(**{**vars(spans[i]), "parent": remap.get(spans[i].parent, -1)})
            for i in keep
        ]

        def mine(t: float) -> bool:
            r = root_at(t)
            return r is not None and pred(r)

        gjobs = [j for j in jobs if mine(j.start)]
        gstages = {s: stages[s] for j in gjobs for s in j.stages if s in stages}
        return T.layer_metrics(
            sub, gjobs, gstages,
            [e for e in epochs if mine(e["start"])],
            [p for p in python if mine(p["start"])],
            cores,
        )

    def per_pass(m: dict) -> dict:
        return {k: (v if k in T.RATIOS else v / n_passes) for k, v in m.items()}

    pass_of = [e["pass"] for e in run.execs]
    traced = sorted({e["pass"] for e in run.execs if e["traced"]})
    overall = per_pass(group(lambda r: True))
    per_query = {q: per_pass(group(lambda r, q=q: r.name == q)) for q in run.wl.queries}
    each_pass = [group(lambda r, k=k: pass_of[r.qid] == k) for k in traced]
    return overall, per_query, each_pass


def measure(args, workload, bench_spec: dict) -> dict:
    from perfbench.digest import Oracle
    from perfbench.trace import EpochListener, Tracer, max_job_id
    from pyspark import SparkContext
    from realestatedeals_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    isolate(tmp, cores)
    check, gen_scale = load_tool("check"), load_tool("gen_scale")
    load0 = os.getloadavg()
    steal0 = cpu_steal()
    sf_dir = ensure_inputs(gen_scale, workload.sf, args.seed)

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    proc = SparkContext._gateway.proc
    try:
        listener = EpochListener()
        spark.streams.addListener(listener)
        run = Run(spark, workload, sf_dir, listener)
        oracle = Oracle(check, sf_dir, os.path.join(tmp, "duckdb"))
        try:
            setup_s = session_s + run.warm_up(oracle)
        finally:
            oracle.close()

        fns = {n: qd.fn for n, qd in run.defs.items()}
        tracer = None
        untraced_pass = None
        win0 = time.perf_counter()
        if args.trace:
            # The first timed pass still runs colder than later ones, so the
            # untraced baseline for the tracing overhead is the second.
            run.one_pass(fns)
            untraced_pass = run.one_pass(fns)
            tracer = Tracer()
            fns = tracer.install(fns)
        job_after = max_job_id(spark)
        wall0 = time.time()
        passes: list[float] = []
        try:
            # Closed loop: at least MIN_PASSES passes; another only while it
            # is expected to end inside the --seconds window.
            while True:
                passes.append(run.one_pass(fns, tracer))
                elapsed = time.perf_counter() - win0
                if len(passes) >= MIN_PASSES and elapsed + passes[-1] > args.seconds:
                    break
        finally:
            if tracer:
                tracer.uninstall()
        measured_s = time.perf_counter() - win0
        steal = cpu_steal()

        rss_by_pid = peak_rss_mb(process_tree(proc.pid))
        rss = sum(rss_by_pid.values())
        result: dict = {
            "workload": workload.name, "seed": args.seed, "sf": workload.sf,
            "trace": args.trace, "cores": cores, "measured_s": measured_s,
            "passes_s": passes, "session_s": session_s,
            "warm_up_s": run.warm_s, "verify_s": run.verify_s,
            "verified": {q: list(d) for q, d in run.expected.items()},
            "problems": run.problems,
        }
        if args.trace:
            overall, per_query, each_pass = traced_layers(
                spark, run, tracer, job_after, wall0, len(passes), cores
            )
            overall["session.start_s"] = session_s
            overall["trace.overhead_s"] = statistics.median(passes) - untraced_pass
            result.update(
                layers=overall, layers_per_query=per_query, layers_per_pass=each_pass,
                untraced_pass_s=untraced_pass, spans=[vars(sp) for sp in tracer.spans],
            )
            metrics, spec = overall, bench_spec["per_layer"]
        else:
            listener.settle()
            epochs = listener.since(wall0)
            metrics = end_to_end(run, passes, epochs, setup_s, rss)
            spec = bench_spec["end_to_end"]
            result.update(end_to_end=metrics, epochs=epochs)
        result["query_s"] = {
            q: [e["s"] for e in run.execs if e["query"] == q] for q in workload.queries
        }
        result["env"] = {
            "tables": table_rows(sf_dir),
            "nproc": cores,
            "spark_graft": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg(),
            "steal_frac": (steal[0] - steal0[0]) / max(1, steal[1] - steal0[1]),
            "rss_mb": {"jvm": rss_by_pid.get(proc.pid, 0.0), "workers": [
                v for p, v in rss_by_pid.items() if p != proc.pid
            ]},
        }
        result["attempted"] = len(run.execs)
        result["failed"] = sum(not e["ok"] for e in run.execs)
        result["correct"] = result["failed"] == 0 and not run.problems
        result["contract"] = {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec
        }
        return result
    finally:
        stop(spark, proc)
        shutil.rmtree(tmp, ignore_errors=True)


def stop(spark, proc) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    workers = process_tree(proc.pid)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            time.sleep(0.1)


def report(result: dict) -> None:
    print(f"# {result['workload']} seed={result['seed']} sf={result['sf']} "
          f"trace={result['trace']} passes={len(result['passes_s'])} "
          f"executions={result['attempted']} failed={result['failed']}")
    if "end_to_end" in result:
        n_q = result["attempted"]
        n_e = len(result["epochs"])
        for name, value in result["end_to_end"].items():
            n = n_e if name.startswith(("epoch", "stream")) else n_q
            shown = f"{value:.6g}" if value is not None else (
                "n/a (no samples)" if n == 0 else "n/a (<10 samples beyond)"
            )
            print(f"{name:20s} {shown:>14s} {E2E_UNITS[name]:7s} n={n}")
    else:
        for name, value in sorted(result["layers"].items()):
            print(f"{name:28s} {value:16.6g}")
        cols = ("plans.construct_s", "plans.execute_s", "spark.jobs", "spark.tasks",
                "util.pins", "streaming.epochs")
        print(f"{'per query, per pass':28s}" + "".join(f"{c:>20s}" for c in cols))
        for q, m in result["layers_per_query"].items():
            print(f"{q:28s}" + "".join(f"{m[c]:20.6g}" for c in cols))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS.get(args.workload)
    if workload is None:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench_spec = json.load(fh)
    try:
        import realestatedeals_spark.plans  # noqa: F401 — registers the queries
    except ImportError as exc:
        print(f"the engine package is not importable: {exc}", file=sys.stderr)
        return 3

    result = measure(args, workload, bench_spec)
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, f"{workload.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    report(result)
    print(f"# artifact: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["contract"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
