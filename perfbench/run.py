"""Link-graph benchmark: runs one workload for one seed and prints one
JSON result line as the last line of stdout.

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 10 --trace 0

Load: a closed loop with one client: the benchmark process issues one
engine call at a time to local[nproc]. Set-up (fresh process → warm session:
JVM, SparkSession, then one warm-up pass of the workload on a
quarter-size input) is timed as setup_s. The run then repeats full passes
of the workload on the seeded input while the measured time, with the
next pass predicted from the last, stays within --seconds (always at
least one pass), and reports the median pass as pass_s. Each pass's
outputs are checked against the oracles after the pass, outside the
measured time.

--trace 1 runs the same with Spark's event log on (uncompressed,
non-rolling), one span per layer call and one Spark job group per span,
and prints the per-layer metrics instead of the end-to-end ones. The
spans (spans.json) and the per-span Spark counters parsed from the event
log (span_counters.json) are written beside report.json; traced minus
untraced set-up and pass times, against untraced runs of the same
workload and seed in this checkout, go to report.json as the tracing
overhead.

All files go under .perfbench_work/ at the root of the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    from metrics import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: small inputs for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: make one output of each oracle check wrong")
    return p.parse_args(argv)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(t0, t1) -> float:
    total = t1[1] - t0[1]
    return 100.0 * (t1[0] - t0[0]) / total if total > 0 else 0.0


def _proc_stat(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_proc_stat(d)[1]), []).append(int(d))
            except OSError:
                continue
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        return _proc_stat(pid)[0] != "Z"
    except OSError:
        return False


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in the Spark JVM's /proc status")


def jvm_heap() -> str:
    """Spark JVM heap: a quarter of physical memory, at most 4 GiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(512, min(4096, phys // 4 // 2**20))}m"


def start_session(run_dir: str, nproc: int, event_log_dir: str | None = None):
    from networkit_spark.session import get_spark

    conf = {
        "spark.driver.memory": jvm_heap(),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=nproc, extra_conf=conf)


def stop_session(spark) -> None:
    """Stops the SparkContext, then the JVM, and waits until every process
    this run started has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = sorted(p for p in procs if alive(p))
    if left:
        raise RuntimeError(f"processes still running after shutdown: {left}")


class Bench:
    def __init__(self, args, run_dir: str, results_dir: str, nproc: int):
        from tracing import Tracer
        from workloads import Checks

        self.args, self.run_dir, self.results_dir, self.nproc = args, run_dir, results_dir, nproc
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", record=bool(args.trace))
        self.checks = Checks()
        self.spark = None
        self.report: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "size": args.size, "nproc": nproc}

    def _passes(self, wl, inp, expected) -> list[dict]:
        """Closed loop of full passes; each is checked right after it ends."""
        outs: list[dict] = []
        measured = 0.0
        while True:
            first = len(self.tracer.spans)
            try:
                out = wl.run_pass(inp, len(outs))
            except Exception:  # a failed layer call ends the loop; it is reported
                traceback.print_exc()
                if not outs:
                    raise
                return outs
            out["pass_s"] = sum(r["wall_s"] for r in out["steps"])
            out["spans"] = self.tracer.spans[first:]
            wl.check(out, expected, self.checks)
            self.spark.catalog.clearCache()
            outs.append({k: out[k] for k in ("pass_s", "steps", "layer", "spans")})
            measured += out["pass_s"]
            if measured + out["pass_s"] > self.args.seconds:
                return outs

    def run(self) -> dict:
        from tracing import SETUP
        from workloads import WORKLOADS

        args = self.args
        ev_dir = os.path.join(self.run_dir, "eventlog") if args.trace else None
        if ev_dir:
            os.makedirs(ev_dir)
        with self.tracer.span("session.start", SETUP):
            self.spark = start_session(self.run_dir, self.nproc, ev_dir)
        session_s = time.perf_counter() - T_PROCESS
        self.tracer.attach(self.spark.sparkContext)
        wl = WORKLOADS[args.workload](self.spark, self.tracer, self.run_dir, args.size,
                                      self.nproc, args.corrupt)
        # The warm-up pass's layer calls are not spans of their own: all of
        # its work belongs to the session.warmup span.
        with self.tracer.span("session.warmup", SETUP):
            wl.run_pass(wl.make_inputs(args.seed, warmup=True), None, warmup=True)
            self.spark.catalog.clearCache()
        setup_s = time.perf_counter() - T_PROCESS
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s)")

        t = time.perf_counter()
        inp = wl.make_inputs(args.seed)
        expected = wl.expected(inp)
        self.report["inputs_s"] = time.perf_counter() - t
        self.report["inputs"] = {k: v for k, v in inp.items() if k != "path"}

        ticks = cpu_ticks()
        outs = self._passes(wl, inp, expected)
        steal = steal_pct(ticks, cpu_ticks())
        peak_rss = jvm_peak_rss_mb(self.spark)
        stop_session(self.spark)
        self.spark = None

        pass_s = statistics.median(o["pass_s"] for o in outs)
        self.report.update({
            "setup_s": setup_s, "session_s": session_s, "pass_s": pass_s,
            "peak_rss_mb": peak_rss, "host_steal_pct": steal,
            "passes": [{"pass_s": o["pass_s"],
                        "steps": {r["name"]: r["wall_s"] for r in o["steps"]},
                        "layer": o["layer"]} for o in outs],
            "checks_attempted": self.checks.attempted,
            "checks_failed": self.checks.failed,
        })
        if args.trace:
            self.report["tracing_overhead"] = self._overhead()
            return self._layer_metrics(outs, ev_dir)
        return {"setup_s": setup_s, "pass_s": pass_s}

    def _overhead(self) -> dict | None:
        """Traced minus untraced end-to-end numbers, against the untraced
        runs of the same workload and seed kept in this checkout."""
        prefix = f"{self.args.workload}-seed{self.args.seed}-trace0-"
        untraced = []
        for d in os.listdir(os.path.dirname(self.results_dir)):
            path = os.path.join(os.path.dirname(self.results_dir), d, "report.json")
            if d.startswith(prefix) and os.path.exists(path):
                with open(path) as fh:
                    untraced.append(json.load(fh))
        if not untraced:
            return None
        out = {"untraced_runs": len(untraced)}
        for k in ("setup_s", "pass_s"):
            base = statistics.median(r[k] for r in untraced)
            out[k] = {"traced": self.report[k], "untraced": base,
                      "overhead": self.report[k] - base}
        log(f"tracing overhead: {out}")
        return out

    def _layer_metrics(self, outs, ev_dir) -> dict:
        import tracing
        from metrics import LAYERS, PER_LAYER

        spans = self.tracer.spans
        self.tracer.write(os.path.join(self.results_dir, "spans.json"))
        tracing.attribute(spans, tracing.event_log_counters(tracing.find_event_log(ev_dir)),
                          self.nproc)
        with open(os.path.join(self.results_dir, "span_counters.json"), "w") as fh:
            json.dump([{k: s[k] for k in ("id", "name", "pass", "self_wall_s", "counters")}
                       for s in spans], fh, indent=1)
        setup_spans = [s for s in spans if s["pass"] == tracing.SETUP]
        per_pass = []
        for out in outs:
            vals = dict.fromkeys(PER_LAYER, 0.0)
            vals.update(out["layer"])
            for layer in LAYERS:
                mine = [s for s in (setup_spans if layer == "session" else out["spans"])
                        if s["name"].startswith(layer + ".")]
                for c in tracing.COUNTERS:
                    vals[f"{layer}.{c}"] = sum(s["counters"][c] for s in mine)
                wall = sum(s["self_wall_s"] for s in mine)
                vals[f"{layer}.busy_ratio"] = (
                    vals[f"{layer}.executor_run_s"] / (wall * self.nproc) if wall else 0.0)
            per_pass.append(vals)
        metrics = {k: statistics.median(p[k] for p in per_pass) for k in PER_LAYER}
        metrics.update({
            "session.start_s": self.report["session_s"],
            "trace.setup_s": self.report["setup_s"],
            "trace.pass_s": self.report["pass_s"],
            "host.steal_pct": self.report["host_steal_pct"],
            "host.jvm_peak_rss_mb": self.report["peak_rss_mb"],
        })
        return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK_ROOT, "run-" + tag)
    results_dir = os.path.join(WORK_ROOT, "results", tag)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Spark local dirs and Python and JVM temp files stay inside the run
    # directory (no JVM writes /tmp/hsperfdata_*); the engine's Python
    # workers import this checkout.
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        import networkit_spark  # noqa: F401
    except ImportError as e:
        log(f"the engine is not importable from {ROOT}: {e}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    os.makedirs(results_dir)
    bench = Bench(args, run_dir, results_dir, nproc)
    try:
        metrics = bench.run()
    except Exception:
        traceback.print_exc()
        if bench.spark is not None:
            stop_session(bench.spark)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    from metrics import END_TO_END, PER_LAYER

    units = PER_LAYER if args.trace else END_TO_END
    attempted = bench.tracer.calls + bench.checks.attempted
    failed = bench.tracer.errors + len(bench.checks.failed)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k][0]} for k in units},
    }
    bench.report["result"] = result
    with open(os.path.join(results_dir, "report.json"), "w") as fh:
        json.dump(bench.report, fh, indent=1)
    log("report: " + json.dumps({k: v for k, v in bench.report.items() if k != "passes"}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
