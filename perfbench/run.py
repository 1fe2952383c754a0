"""Benchmark driver: one run of one workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  With `--trace 0` the last line of
standard output is the result with every end-to-end metric; with
`--trace 1` the public calls into each layer are wrapped in spans and
the result holds the per-layer metrics instead, and the spans are
written to `.bench_out/`.  Every file the run writes stays under the
working directory: scratch state in `.bench_work/` (removed at exit),
results and spans in `.bench_out/`.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

# end-to-end metrics every workload reports (units as in BENCHMARK.json),
# besides the median of its headline op (Workload.headline)
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "bytes_stored_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

HEAP = "2g"


def isolate(work: str, cpus: int) -> dict:
    """Point every scratch location of Python, the JVM and Spark into
    `work`, before pyspark is imported.  Returns the Spark confs set."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    confs = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        # counters are read per op; keep every job of a run in the store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    # a fixed 2 GB heap: the JVM's RSS no longer depends on when its
    # heap happened to grow, and the runs stay small on a shared box
    java_opts = (f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
                 " -XX:-UsePerfData")
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'{args} --driver-java-options "{java_opts}" pyspark-shell'
    )
    os.environ["SPARK_LOCAL_DIRS"] = confs["spark.local.dir"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["ZEBRA_DRIVER_MEM"] = HEAP
    return {**confs, "spark.driver.memory": HEAP, "java_opts": java_opts}


class RssSampler:
    """Peak summed RSS of this process and the JVM, sampled from /proc."""

    def __init__(self, pids: list[int], every_s: float = 0.05):
        self.pids, self.every_s = pids, every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop.wait(self.every_s)

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        return self.peak_kb / 1024.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "zebra_spark")):
        print("run from the root of a checkout that holds zebra_spark/", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    confs = isolate(work, cpus)
    try:
        return _run(args, cpus, confs, work, out_dir, tag, WORKLOADS)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cpus, confs, work, out_dir, tag, workloads) -> int:
    from pyspark import SparkContext

    from perfbench.sparkstats import SparkCounters
    from perfbench.trace import Tracer
    from zebra_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - PROCESS_T0
    gateway = SparkContext._gateway
    rss = RssSampler([os.getpid(), gateway.proc.pid])
    tracer = None
    try:
        if args.trace:
            tracer = Tracer(SparkCounters(spark))
            tracer.install()
            tracer.enabled = True
        wl = workloads[args.workload](spark, work, args.seed, tracer)
        setup_times = []
        for rep in range(wl.setup_reps):
            ctx = tracer.op("setup") if tracer else nullcontext()
            t0 = time.perf_counter()
            with ctx:
                wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        wl.prepare()
        phase_s = wl.run(args.seconds)
        correct = wl.finish() and wl.failed == 0
        peak_rss_mb = rss.stop()
        detail = _detail(args, wl, cpus, confs, spark, session_start_s,
                         setup_times, phase_s, peak_rss_mb)
        if tracer:
            metrics = _layer_metrics(wl, tracer, session_start_s)
            tracer.write(f"{out_dir}/spans-{tag}.jsonl", detail)
        else:
            metrics = {k: metric(detail[k], u) for k, u in E2E_UNITS.items()}
            metrics[wl.headline[0]] = metric(detail[wl.headline[0]], "ms")
        detail["metrics"] = metrics
        with open(f"{out_dir}/result-{tag}.json", "w") as f:
            json.dump(detail, f, indent=1)
        for k, v in sorted(detail.items()):
            if k not in ("metrics", "spark_confs", "bench_confs", "latencies_ms"):
                print(f"# {k}: {v}")
        result = {
            "correct": bool(correct),
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": metrics,
        }
    finally:
        rss.stop()
        if tracer:
            tracer.uninstall()
        spark.stop()
        gateway.shutdown()
        gateway.proc.terminate()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    print(json.dumps(result))
    return 0


def _detail(args, wl, cpus, confs, spark, session_start_s, setup_times,
            phase_s, peak_rss_mb) -> dict:
    """Every end-to-end figure of the run, with its context."""
    from perfbench.workloads import p50, percentile_tail

    d = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "spark_version": spark.version,
        "spark_confs": dict(sorted(
            (k, v) for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith("spark.") and not k.startswith(("spark.app.", "spark.driver.host",
                                                             "spark.driver.port"))
        )),
        "bench_confs": confs,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "errors": wl.errors[:20],
        "session_start_s": session_start_s,
        "setup_reps_s": setup_times,
        "setup_s": session_start_s + statistics.median(setup_times),
        "phase_s": phase_s,
        "wall_ops_per_s": wl.phase_ops / phase_s,
        "peak_rss_mb": peak_rss_mb,
        "input_bytes": wl.input_bytes,
        "latencies_ms": wl.lat,
    }
    d.update(wl.extra)
    for kind, samples in sorted(wl.lat.items()):
        d[f"{kind}.n"] = len(samples)
        d[f"{kind}.p50_ms"] = p50(samples)
        tail = percentile_tail(samples)
        if tail:
            d[f"{kind}.tail_pct"], d[f"{kind}.tail_ms"] = tail
    name, kind = wl.headline
    d[name] = wl.median_ms(kind)
    d["ops_per_s"] = wl.ops_per_s()
    if wl.tracer:
        from perfbench.trace import span_ms_per_op, spark_per_op

        for op_kind, spans in span_ms_per_op(wl.tracer).items():
            for span, ms in sorted(spans.items()):
                d[f"layer.{op_kind}.{span}_ms"] = ms
            for k, v in spark_per_op(wl.tracer, op_kind).items():
                d[f"spark.{k}.{op_kind}"] = v
    return d


def _layer_metrics(wl, tracer, session_start_s) -> dict:
    from perfbench.trace import span_ms_per_op, spark_per_op
    from perfbench.workloads import p50

    query_kind = wl.headline[1]
    out = {"session.start_s": metric(session_start_s, "s")}
    sp = spark_per_op(tracer, query_kind)
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    for k, v in sp.items():
        if k != "unattributed_jobs":
            out[f"spark.{k}"] = metric(v, units.get(k, "ms" if k.endswith("_ms") else "bytes"))
    timed = [o for o in tracer.ops if o["kind"] != "setup"]
    jobs = sum(o["jobs"] for o in timed)
    out["spark.unattributed_job_share"] = metric(
        sum(o["unattributed_jobs"] for o in timed) / max(1, jobs), "ratio")
    spans = span_ms_per_op(tracer)
    for name in wl.layers:
        val = spans.get(query_kind, {}).get(name)
        if val is None:  # not entered by the query op: its call in setup
            val = spans.get("setup", {}).get(name, 0.0)
        out[f"{name}_ms"] = metric(val, "ms")
    out.update(wl.layer_counts())
    io = [o["io"] for o in timed if "io" in o]
    for k in ("files_written", "bytes_written"):
        out[f"io.{k}"] = metric(sum(x[k] for x in io) / max(1, len(io)),
                                "count" if k.startswith("files") else "bytes")
    out["io.files_live"] = metric(io[-1]["files_live"] if io else 0, "count")
    traced = wl.lat.get(query_kind, [])
    untraced = wl.lat.get(query_kind + ".untraced", [])
    out["trace.overhead_ms"] = metric(
        (p50(traced) or 0.0) - (p50(untraced) or 0.0), "ms")
    return out


if __name__ == "__main__":
    sys.exit(main())
