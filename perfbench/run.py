"""a5spark benchmark: one seeded workload per run, on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. A run starts Spark once, sets up
(inputs, layout, warm-up), then runs the workload's operation in a closed
loop, one client, for --seconds, checks every answer against numpy/pandas
outside the timed region and prints its metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0: the metrics are the end-to-end ones (BENCHMARK.json end_to_end).
--trace 1: after the same untraced phase a traced phase runs: spans around
each engine call, Spark's event log on, lazy outputs materialized inside
their span. The metrics are the per-layer ones; the spans go to
.bench_work/traces/. See perfbench/README.md for what each metric means.

Everything a run writes stays under .bench_work/ in the checkout."""

import argparse
import gc
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 3
HOST_VARS = (
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS", "ARROW_NUM_THREADS",
    "SPARK_DRIVER_MEMORY",
)
E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "1/s", "op_p50_s": "s", "driver_peak_rss_mb": "MB",
}
# the end-to-end metrics in the result line (BENCHMARK.json end_to_end); the
# others are printed only: they spread too much across seeds to be gated
# (see README.md)
GATED = ("setup_s", "rows_per_s")


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_per_s") or leaf == "rows_per_core_s":
        return "1/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_share"):
        return "%"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith("_ratio") or leaf in ("l1_over_l0", "shuffled_rows_per_result"):
        return "ratio"
    return "count"


# --- host and processes --------------------------------------------------------


def host_info(cpus):
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        mem_kb = 0
    return {
        "cpus": cpus, "cpu_model": model, "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(), "platform": platform.platform(),
        "env": {v: os.environ.get(v) for v in HOST_VARS},
    }


def _rss_kb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid):
    """Every live descendant pid of `pid`, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


class RssSampler:
    """Peak of (driver RSS + JVM RSS), sampled every 50 ms from /proc."""

    def __init__(self, pids):
        self.pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- Spark lifecycle -------------------------------------------------------------


def configure_env(work, cpus, trace):
    """Pin the engine to this host and keep every file Spark, the JVM and
    Python write inside `work`. Thread settings are recorded, not changed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)  # session.py defaults to 32
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    events = None
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return events


def stop_spark(spark):
    """Stop Spark, its JVM and the Python workers the JVM started, and wait
    until every one of them has exited."""
    gateway = spark.sparkContext._gateway
    kids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# --- phases --------------------------------------------------------------------


def timed_phase(wl, seconds):
    """Closed loop, one client: run ops until `seconds` have passed and the
    current round of the request mix is complete."""
    from a5spark import cache
    from perfbench.workloads import Op

    ops, i = [], 0
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        with cache.scope(), wl.tr.span(f"op.{wl.name}"):
            try:
                op = wl.op(i)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                op = Op("error", 0, error="raised")
        if not op.latency_s:
            op.latency_s = time.perf_counter() - t0
        ops.append(op)
        i += 1
        if time.perf_counter() - t_start >= seconds and i % wl.cycle == 0:
            return ops


def check_phase(wl, ops):
    """Check every answer; a wrong answer marks its op failed. A failing
    whole-run check (the layout sample, the stream's window counts) marks
    every op of the phase failed."""
    for op in ops:
        if op.error is None:
            try:
                op.error = wl.check(op)
            except Exception:
                traceback.print_exc()
                op.error = "check raised"
    final = wl.final_check()
    if final:
        for op in ops:
            op.error = op.error or final
    for op in ops:
        if op.error:
            print(f"FAILED {op.kind}: {op.error}")


def run(args):
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cpus, work):
    events = configure_env(work, cpus, args.trace)
    sys.path.insert(0, ROOT)
    from a5spark import cache
    from a5spark.session import get_spark
    from perfbench import report
    from perfbench.tracing import Tracer, attribute, read_event_log
    from perfbench.workloads import WORKLOADS

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("host:", json.dumps(host_info(cpus)))
    t0 = time.perf_counter()
    spark = get_spark("a5spark-bench")
    session_s = time.perf_counter() - t0
    wl = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, os.path.join(work, "data"))
        wl.name = args.workload
        gen = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate()
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        with cache.scope():
            wl.warm()
        warm_s = time.perf_counter() - t - prepare_s
        setup_s = session_s + statistics.median(gen) + prepare_s + warm_s
        print(f"setup: session_s={session_s:.3f} generate_s={[round(g, 3) for g in gen]} "
              f"prepare_s={prepare_s:.3f} warm_s={warm_s:.3f}")

        # every timed phase starts from a collected heap, JVM and Python
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        # the driver and its JVM (the process the py4j gateway launched)
        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        with RssSampler(pids) as rss:
            ops = timed_phase(wl, args.seconds)
        print("inputs:", json.dumps(wl.properties()))
        t = time.perf_counter()
        check_phase(wl, ops)
        print(f"check_s={time.perf_counter() - t:.3f}")
        untraced, extra = report.end_to_end(ops)
        untraced["setup_s"] = setup_s
        untraced["driver_peak_rss_mb"] = rss.peak_kb / 1024.0
        all_ops = list(ops)
        if args.trace:
            tracer.enabled = True
            t_ops = timed_phase(wl, args.seconds)
            tracer.enabled = False
            check_phase(wl, t_ops)
            traced, t_extra = report.end_to_end(t_ops)
            all_ops += t_ops
            progress = list(getattr(wl, "progress", {}).values())
            l0_in = wl.l0_inputs()
    finally:
        t = time.perf_counter()
        if wl is not None:
            wl.close()
        stop_spark(spark)
        print(f"teardown_s={time.perf_counter() - t:.3f}")

    failed = sum(1 for o in all_ops if o.error)
    print(f"error_rate = {failed / len(all_ops):.6f} ({failed}/{len(all_ops)} ops)")
    print_e2e(wl, untraced, extra, "untraced")
    if not args.trace:
        metrics = {k: {"value": untraced[k], "unit": E2E_UNITS[k]} for k in GATED}
    else:
        print_e2e(wl, traced, t_extra, "traced")
        t_ok = [o for o in t_ops if o.error is None]
        spans = attribute(tracer.spans, *read_event_log(_event_file(events)))
        layers = report.per_layer(
            spans, len(t_ok), report.l0_kernels(*l0_in), progress, untraced, traced
        )
        print_spans(spans)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
        path = write_trace(args, spans, layers, untraced, traced, progress)
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    return {
        "correct": failed == 0, "attempted": len(all_ops), "failed": failed,
        "metrics": metrics,
    }


def _event_file(events):
    files = [f for f in os.listdir(events) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    return os.path.join(events, files[0])


def print_e2e(wl, m, extra, label):
    print(f"end-to-end ({label}, {extra['ops']} ops):")
    for k in E2E_UNITS:
        if k in m:
            note = f" ({wl.row_unit})" if k == "rows_per_s" else ""
            print(f"  {k} = {m[k]:.6g} {E2E_UNITS[k]}{note}")
    if "op_tail_s" in extra:
        print(f"  op_tail_s = {extra['op_tail_s']:.6g} s ({extra['op_tail_percentile']}, n={extra['ops']})")
    else:
        print(f"  op_tail_s = n/a s (n={extra['ops']}: fewer than 11 samples)")
    for kind, lat in extra.get("kinds", {}).items():
        print(f"  {kind}_p50_s = {statistics.median(lat):.6g} s (n={len(lat)})")


def print_spans(spans):
    """Per span name: calls, wall, self and its share of the op wall, and
    the Spark counters attributed to it."""
    op_wall = sum(s["wall_s"] for s in spans if s["parent"] is None) or 1.0
    rows: dict = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "gap_s": 0.0,
                                        **dict.fromkeys(s["counters"], 0)})
        r["calls"] += 1
        r["wall_s"] += s["wall_s"]
        r["self_s"] += s["self_s"]
        r["gap_s"] += s["driver_gap_s"]
        for k, v in s["counters"].items():
            r[k] += v
    print("spans (totals over the traced phase):")
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"  {name:<48} calls={r['calls']:<3} wall={r['wall_s']:.3f}s "
              f"self={r['self_s']:.3f}s ({100 * r['self_s'] / op_wall:.1f}% of op wall) "
              f"gap={r['gap_s']:.3f}s jobs={r['jobs']} tasks={r['tasks']} "
              f"exec={r['executor_run_s']:.2f}s py={r['python_run_s']:.2f}s "
              f"shuffle_w={r['shuffle_write_bytes']} spill={r['spill_bytes']}")


def write_trace(args, spans, layers, untraced, traced, progress):
    out = os.path.join(WORK_ROOT, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "end_to_end": {"untraced": untraced, "traced": traced},
            "tracing_overhead": {k: traced[k] - untraced[k] for k in traced if k in untraced},
            "per_layer": layers,
            "spans": spans,
            "stream_progress": [
                {k: p[k] for k in ("batchId", "numInputRows", "durationMs")} for p in progress
            ],
        }, f, indent=1, default=str)
    return path


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "a5spark")):
        print(f"no a5spark package under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
