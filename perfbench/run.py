"""Benchmark entry point.

    python3 perfbench/run.py --workload {full_sync,incremental_follow,analytics_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source checkout.  Generates the inputs from
``--seed`` under ``.perfbench/`` in the checkout, starts the engine at
``local[<cpu count>]`` in this process, runs the workload's operations in a
closed loop for ``--seconds`` seconds, checks every operation's output, and
prints a human-readable report followed by one JSON result line.  With
``--trace 1`` Spark's event log is enabled and the result carries the
per-layer metrics instead of the end-to-end ones.  A run writes only
under ``.perfbench/`` in the checkout: its own directory, deleted at exit,
and per workload the last untraced result and the last spans, kept for
the next traced run's overhead figure.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "helium_arango_etl_spark"
SCALE = 0.01
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "session.peak_rss_mb": "MB",
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.driver_only_s": "s",
    "io.input_bytes": "B",
    "io.output_bytes": "B",
    "io.files_written": "count",
    "io.write_amplification": "ratio",
    "io.store_bytes": "B",
    "operators.python_bytes_in": "B",
    "bench.failed_op_ratio": "ratio",
    "trace.op_p50_s": "s",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


# ---------- process tree ----------

class TreeSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            total = 0
            for pid in descendants(os.getpid()) | {os.getpid()}:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * page
                except (OSError, IndexError, ValueError):
                    continue
                self.seen.add(pid)
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.period)


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def wait_gone(pids: set[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive; SIGKILL what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        alive = {p for p in pids if os.path.exists(f"/proc/{p}") and _not_zombie(p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
            pids = alive
            timeout = 0
        time.sleep(0.1)


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------- engine ----------

def hermetic_env(run_dir: str, trace: bool) -> None:
    """Point every temporary location of Python, the JVM and Spark into
    ``run_dir`` and make the engine importable by the Python workers."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # for every JVM spark-submit starts, its launcher included; no
    # hsperfdata file in the system temp directory either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def load_engine() -> SimpleNamespace:
    sys.path.insert(0, ROOT)
    from helium_arango_etl_spark import io, registry, session
    from helium_arango_etl_spark.operators import dedup, graph, similarity, textops
    from helium_arango_etl_spark.plans import sync

    return SimpleNamespace(
        io=io, registry=registry, session=session, sync=sync,
        graph=graph, dedup=dedup, similarity=similarity, textops=textops,
    )


def stop_engine(spark) -> None:
    """Stop Spark, then close the gateway JVM's stdin so it exits, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


# ---------- metrics ----------

def end_to_end(ops, setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "op_p50_s": stats.median([o.latency_s for o in ops])}


def per_layer(ops, tracer, event_log: str, store: str, setup: dict, notes: dict,
              peak_bytes: int) -> tuple[dict, dict]:
    """(per_layer metrics, extra per-layer detail for the report)."""
    import workloads

    counters, jobs, writes = tracing.parse_event_log(event_log)
    zero = dict.fromkeys(tracing.COUNTERS, 0)
    per_op = []
    ops = [o for o in ops if o.span_id is not None]  # an op that raised has no span
    for o in ops:
        root = tracer.spans[o.span_id]
        ids = [s.id for s in tracing.subtree(tracer.spans, o.span_id)]
        c = {k: sum(counters.get(i, zero)[k] for i in ids) for k in tracing.COUNTERS}
        wall = root.end - root.start
        busy = tracing.union_length([iv for i in ids for iv in jobs.get(i, ())], root.start, root.end)
        c["wall_s"] = wall
        c["driver_only_s"] = wall - busy
        per_op.append(c)

    def med(k):
        return stats.median([c[k] for c in per_op])

    cores = cpu_count()
    input_bytes = notes.get("delta_input_bytes") or sum(c["input_bytes"] for c in per_op)
    metrics = {
        # peak RSS varied by more than a tenth between runs, so it is a
        # per-layer number rather than an end-to-end one
        "session.peak_rss_mb": peak_bytes / 2**20,
        "session.import_s": setup["import_s"],
        "session.get_spark_s": setup["get_spark_s"],
        "session.first_job_s": setup["first_job_s"],
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.shuffle_read_bytes": med("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
        "spark.spill_bytes": med("spill_bytes"),
        "spark.executor_run_s": med("executor_run_ms") / 1e3,
        "spark.executor_cpu_s": med("executor_cpu_ns") / 1e9,
        # a mean: most single deltas see no collection at all
        "spark.gc_s": sum(c["gc_ms"] for c in per_op) / len(per_op) / 1e3,
        "spark.core_busy_ratio": stats.median(
            [c["executor_run_ms"] / 1e3 / (c["wall_s"] * cores) for c in per_op]),
        "spark.driver_only_s": med("driver_only_s"),
        "io.input_bytes": med("input_bytes"),
        "io.output_bytes": med("output_bytes"),
        "io.files_written": med("files_written"),
        "io.write_amplification": (
            sum(c["output_bytes"] for c in per_op) / input_bytes if input_bytes else 0.0),
        "io.store_bytes": notes.get("store_bytes", 0),
        "operators.python_bytes_in": med("python_bytes_in"),
        "bench.failed_op_ratio": sum(not o.ok for o in ops) / len(ops),
        "trace.op_p50_s": stats.median([o.latency_s for o in ops]),
    }
    op_spans = sorted((s for o in ops for s in tracing.subtree(tracer.spans, o.span_id)),
                      key=lambda s: s.id)
    detail = {f"layer.{k}.self_s": v / len(ops)
              for k, v in tracing.self_time_by_layer(op_spans).items()}
    by_call: dict[str, float] = {}
    for s in op_spans:
        if s.layer != "bench":
            c = counters.get(s.id, zero)
            for k, v in ((f"{s.layer}.{s.name}_s", s.end - s.start),
                         (f"{s.layer}.{s.name}.stages", c["stages"]),
                         (f"{s.layer}.{s.name}.shuffle_bytes", c["shuffle_write_bytes"])):
                by_call[k] = by_call.get(k, 0) + v
    detail.update({k: v / len(ops) for k, v in by_call.items()})
    in_ops = {s.id for s in op_spans}
    for w in writes:
        coll = workloads.collection_of(w.path, store)
        if w.span in in_ops and coll is not None:
            key = f"plans.sync.write.{coll}_s"
            detail[key] = detail.get(key, 0.0) + (w.end - w.start) / len(ops)
    detail["spark.failed_tasks"] = sum(c["failed_tasks"] for c in per_op)
    return metrics, detail


# report names of one operation's median latency, and the stem of its tail percentile
OP_NAME = {"full_sync": "cycle_s", "incremental_follow": "delta_p50_s", "analytics_mix": "mix_pass_s"}
OP_STEM = {"full_sync": "cycle", "incremental_follow": "delta", "analytics_mix": "mix_pass"}


def workload_detail(workload: str, ops) -> dict[str, tuple[float, str, int]]:
    """Workload-specific end-to-end views, printed in the report."""
    lat = [o.latency_s for o in ops]
    out = {
        "failed_op_ratio": (sum(not o.ok for o in ops) / len(ops), "ratio", len(ops)),
        OP_NAME[workload]: (stats.median(lat), "s", len(lat)),
    }
    tail = stats.tail(lat)
    if tail is not None:
        out[f"{OP_STEM[workload]}_p{tail[0]:g}_s"] = (tail[1], "s", len(lat))
    for k in dict.fromkeys(k for o in ops for k in o.parts):
        v = [o.parts[k] for o in ops if k in o.parts]
        out[k] = (stats.median(v), "s", len(v))
    return out


# ---------- main ----------

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(OP_NAME))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds through the finally below, so the JVM is stopped
    # and the run directory deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE} package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    state_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sampler = TreeSampler()
    sampler.start()
    spark = None
    try:
        hermetic_env(run_dir, bool(args.trace))
        load_before, cpu_before = os.getloadavg(), cpu_times()
        setup = {}
        t = time.perf_counter()
        engine = load_engine()
        import workloads  # imports duckdb; kept out of session.import_s

        setup["import_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark = engine.session.get_spark(app_name="perfbench")
        setup["get_spark_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        setup["first_job_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - _T0

        tracer = tracing.Tracer(bool(args.trace), spark.sparkContext if args.trace else None)
        ctx = workloads.Context(engine, spark, tracer, run_dir, args.seed, SCALE, args.seconds)
        ops = workloads.WORKLOADS[args.workload](ctx)
        stop_engine(spark)
        spark = None
        sampler.stop()
        load_after, steal = os.getloadavg(), steal_share(cpu_before, cpu_times())

        e2e = end_to_end(ops, setup_s)
        detail = workload_detail(args.workload, ops)
        if args.trace:
            layer, extra = per_layer(
                ops, tracer, tracing.find_event_log(os.path.join(run_dir, "eventlog")),
                os.path.join(run_dir, "store"), setup, ctx.notes, sampler.peak_bytes)
            tracer.write(os.path.join(state_dir, f"spans-{args.workload}.json"))
            last = _read_json(os.path.join(state_dir, f"last-{args.workload}.json"))
            if last:
                extra["trace.overhead_s"] = layer["trace.op_p50_s"] - last["op_p50_s"]
            detail.update({k: (v, "", len(ops)) for k, v in extra.items()})
            result_metrics = {k: (layer[k], u) for k, u in PER_LAYER.items()}
        else:
            _write_json(os.path.join(state_dir, f"last-{args.workload}.json"), e2e)
            result_metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}

        failed = [o for o in ops if not o.ok]
        report(args, ops, failed, e2e, detail, setup, sampler.peak_bytes, load_before, load_after, steal)
        print(json.dumps({
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            try:
                stop_engine(spark)
            except Exception:  # noqa: BLE001 - cleanup must go on to delete run_dir
                traceback.print_exc()
        sampler.stop()
        wait_gone(descendants(os.getpid()) | (sampler.seen - {os.getpid()}), timeout=30)
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, ops, failed, e2e, detail, setup, peak_bytes, load_before, load_after, steal) -> None:
    w = args.workload
    print(f"# perfbench workload={w} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"scale={SCALE:g} cpus={cpu_count()} "
          f"loadavg_start={load_before[0]:.2f} loadavg_end={load_after[0]:.2f} cpu_steal={steal:.3f}")
    for k, v in setup.items():
        print(f"# {w} {k} = {v:.4f} s")
    print(f"# {w} setup_s = {e2e['setup_s']:.4f} s (n=1)")
    print(f"# {w} op_p50_s = {e2e['op_p50_s']:.4f} s (n={len(ops)})")
    print(f"# {w} peak_rss_mb = {peak_bytes / 2**20:.1f} MB (n=1)")
    for k, (v, u, n) in detail.items():
        print(f"# {w} {k} = {v:.6g} {u} (n={n})")
    if stats.tail([o.latency_s for o in ops]) is None:
        print(f"# {w} tail percentile not reported: {len(ops)} samples, "
              f"p90 needs {stats.MIN_BEYOND} beyond it")
    for o in failed:
        print(f"# {w} FAILED op: {o.error}")


def _read_json(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


if __name__ == "__main__":
    sys.exit(main())
