"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload wopen_daily --seed 1 --seconds 20 --trace 0

Run from the repository root. The load is one closed-loop client in this
process, like the daily cron: each call waits for the previous one. After
set-up (session start plus one complete warm-up run on tiny inputs),
complete runs of the workload repeat on fresh directories until
``--seconds`` is used. The last line of standard output
is a JSON object: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of one extra traced run with ``--trace 1``. Exit code 1 when an
output check failed, 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_RUNS = 1  # timed runs per invocation, even past --seconds
MIN_READS = 50  # read latency samples per invocation (10 beyond p80)
# driver heap (the program ships with 8g), committed from the start (-Xms):
# a heap that grows on demand grows with the machine's load (GC pauses),
# and resident memory then jumped by half between identical runs
DRIVER_MEM = "2g"


def _environment(work: str) -> None:
    """Pin cores, memory and every scratch path inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the checkout
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData\" "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    tempfile.tempdir = tmp


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Bench:
    def __init__(self, args, work: str):
        from perfbench import gen
        from perfbench.workloads import WORKLOADS

        self.args, self.work = args, work
        chains = WORKLOADS[args.workload]
        self.inputs = {c: gen.make_inputs(c, args.seed, os.path.join(work, "inputs", c))
                       for c in chains}
        self.tiny = {c: gen.make_inputs(c, args.seed, os.path.join(work, "tiny", c), gen.TINY[c])
                     for c in chains}
        self.rows = sum(i.rows for i in self.inputs.values())
        self.bytes = sum(i.bytes for i in self.inputs.values())
        self.spark = None
        self.n = 0
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def new_run(self, inputs, tracer=None, counters: bool = False):
        from perfbench.trace import Tracer
        from perfbench.workloads import Run

        self.n += 1
        root = os.path.join(self.work, f"run{self.n}")
        cdir = None
        if counters:
            cdir = os.path.join(root, "counters")
            os.makedirs(cdir)
        return Run(self.spark, self.args.workload, inputs, root, tracer or Tracer(False), cdir)

    def execute(self, run):
        """Run one complete run and book its operations."""
        self.spark.catalog.clearCache()
        try:
            run.run()
        finally:
            self.book(run)
        return run

    def book(self, run) -> None:
        self.attempted += run.attempted
        self.failed += run.failed
        self.failures += run.failures

    def setup(self) -> float:
        """Session start plus the warm-up pass: one complete run of each
        chain on the tiny inputs (reads, checks and one re-run included), so
        that no timed run pays a first-use cost. The chains warm up side by
        side, which keeps the set-up short; timed runs run them in turn."""
        from concurrent.futures import ThreadPoolExecutor

        from wopen_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark()
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        warm = [self.new_run({c: inp}) for c, inp in self.tiny.items()]
        with ThreadPoolExecutor(len(warm)) as pool:
            done = [pool.submit(r.run, 1) for r in warm]
        for r, f in zip(warm, done):
            self.book(r)
            f.result()  # re-raises a stage's exception
            r.cleanup()
        return time.perf_counter() - t0

    def timed(self) -> list:
        runs, t0 = [], time.perf_counter()
        while len(runs) < MIN_RUNS or (
            time.perf_counter() - t0 + statistics.median(r.run_s for r in runs) <= self.args.seconds
        ):
            if runs:  # only the last run's outputs are read afterwards
                runs[-1].cleanup()
            run = self.execute(self.new_run(self.inputs))
            run.stored = run.stored_bytes()
            runs.append(run)
        return runs

    # ------------------------------------------------------------ results

    def end_to_end(self) -> dict:
        from perfbench.probe import RssSampler, live_heap_bytes

        setup_s = self.setup()
        with RssSampler() as rss:
            runs = self.timed()
            peak = rss.peak
        live = live_heap_bytes(self.spark)  # the last run's outputs are still live
        t0 = time.perf_counter()
        last = runs[-1]
        reads = [s for r in runs for s in r.read_s]
        attempted, failed = last.attempted, last.failed
        while len(reads) < MIN_READS:  # top up on the last run's committed outputs
            last.read()
            reads.append(last.read_s[-1])
        self.attempted += last.attempted - attempted
        self.failed += last.failed - failed
        print(f"setup {setup_s:.2f} runs {[round(r.run_s, 2) for r in runs]} "
              f"reads {len(reads)} (top-up {time.perf_counter() - t0:.1f} s)", file=sys.stderr)
        run_s = statistics.median(r.run_s for r in runs)
        return {
            "setup_s": (setup_s, "s"),
            "run_s": (run_s, "s"),
            "rows_per_s": (self.rows / run_s, "rows/s"),
            "rerun_s": (statistics.median(r.rerun_s for r in runs), "s"),
            "read_s.p50": (_quantile(reads, 0.5), "s"),
            "read_s.p80": (_quantile(reads, 0.8), "s"),
            "peak_rss_mb": (peak / (1 << 20), "MB"),
            "heap_live_mb": (live / (1 << 20), "MB"),
            "stored_per_input": (statistics.median(r.stored for r in runs) / self.bytes, "ratio"),
        }

    def per_layer(self) -> dict:
        """One traced run, then one untraced run; their difference is the
        tracing overhead (the untraced run is one run warmer, so it is an
        upper estimate)."""
        from perfbench import probe
        from perfbench.trace import Tracer
        from perfbench.workloads import install_wrappers

        self.setup()
        tr = Tracer(True, run_id=f"{self.args.workload}-{self.args.seed}")
        first_stage = probe.last_stage_id(self.spark)
        install_wrappers(tr)
        try:
            run = self.execute(self.new_run(self.inputs, tr, counters=True))
            stages = probe.stage_totals(self.spark, first_stage)
            extra = run.isolate()
        finally:
            tr.unwrap()
        base = self.execute(self.new_run(self.inputs)).run_s
        m = layer_metrics(tr, run, stages, extra, self.start_s, base,
                          len(os.sched_getaffinity(0)))
        os.makedirs(os.path.join(ROOT, "perfbench", "_out"), exist_ok=True)
        out = os.path.join(ROOT, "perfbench", "_out", f"trace_{tr.run_id}.json")
        tr.dump(out, {"metrics": {k: v for k, (v, _) in m.items()}})
        print(f"spans written to {os.path.relpath(out, ROOT)}", file=sys.stderr)
        return m


def layer_metrics(tr, run, stages, extra, start_s, untraced_run_s, cores) -> dict:
    from perfbench.fakes import Counters

    def svc(name):
        if run.counters_dir is None:
            return None
        path = os.path.join(run.counters_dir, f"{name}.bin")
        return Counters(path).read() if os.path.exists(path) else None

    enrich = [c for c in (svc("fbid"), svc("redirect"), svc("geocode")) if c]
    search = svc("search") or dict.fromkeys(Counters.FIELDS, 0)
    calls = sum(c["calls"] for c in enrich)
    inputs = sum(c["inputs"] for c in enrich)
    v = {
        "session.start_s": start_s,
        "session.tasks": stages["tasks"],
        "session.task_s": stages["task_s"],
        "session.cpu_s": stages["cpu_s"],
        "session.gc_s": stages["gc_s"],
        "session.shuffle_write_mb": stages["shuffle_write_mb"],
        "session.shuffle_read_mb": stages["shuffle_read_mb"],
        "session.spill_mb": stages["spill_mb"],
        "session.core_busy_frac": stages["task_s"] / (run.run_s * cores),
        "session.serial_stage_s": stages["serial_stage_s"],
        "pipelines.associations.search.calls": search["calls"],
        "pipelines.associations.search.wait_s": search["wait_ns"] / 1e9,
        "pipelines.associations.search.inflight_max": search["inflight_max"],
        "operators.http_enrich.calls": calls,
        "operators.http_enrich.retries": calls - inputs,
        "operators.http_enrich.wait_s": sum(c["wait_ns"] for c in enrich) / 1e9,
        "operators.http_enrich.inflight_max": max((c["inflight_max"] for c in enrich), default=0),
        "operators.http_enrich.resolved_frac":
            (inputs - sum(c["sentinels"] for c in enrich)) / inputs if inputs else 0.0,
        "trace.run_s": run.run_s,
        "trace.overhead_s": run.run_s - untraced_run_s,
        "trace.spans": len(tr.spans),
    }
    v.update(tr.counts)
    v.update(extra)
    for layer, s in tr.layer_self_s().items():
        v[f"{layer}.self_s"] = s
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    out = {}
    for name, unit in per_layer:
        if name in v:
            out[name] = (float(v[name]), unit)
        elif name.endswith(".s"):
            out[name] = (tr.total_s(name[:-2]), unit)
        else:
            out[name] = (0.0, unit)
    return out


def _shutdown(spark) -> None:
    """Stop Spark, end its JVM and wait until every process this one
    started (the JVM, the Python worker daemon and its workers) is gone."""
    from pyspark import SparkContext

    from perfbench.probe import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["wopen_daily", "corpus_upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "wopen_spark", "session.py")):
        print("perfbench: wopen_spark not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, "perfbench", "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _environment(work)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        bench = Bench(args, work)
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    except Exception:  # a stage raised: report it, no result line
        traceback.print_exc()
        for f in (bench.failures if bench else []):
            print(f"  failed: {f}", file=sys.stderr)
        return 1
    finally:
        if bench is not None and bench.spark is not None:
            _shutdown(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in bench.failures:
        print(f"failed: {f}", file=sys.stderr)
    frac = bench.failed / bench.attempted
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:14s} {name:42s} {value:14.6f} {unit}")
    print(f"{args.workload:14s} {'failed_ops_frac':42s} {frac:14.6f} ratio "
          f"({bench.failed}/{bench.attempted})")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
