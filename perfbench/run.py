"""One-command benchmark of the dataframe_kotlin_spark engine.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The command

1. sets up three times: starts a Spark session on ``local[nproc]``,
   generates the seeded inputs and warms the session up with first jobs
   over a small variant of them (a join, an aggregation and an Arrow
   collect); the first round also launches the JVM, the later two stop
   the session and start a new one in the same JVM (``setup_s`` is the
   median round);
2. runs passes of the workload while another pass still fits in
   ``--seconds`` seconds, each pass on a fresh seeded input variant at a
   new path (at least one pass);
3. checks every output against the DuckDB oracle (batch) or the same
   job over the static events frame (streaming);
4. prints a JSON line with the environment stamp, then, as the last line,
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 1`` the untraced passes run as usual, then one more
untraced pass as a reference and one traced pass, which records spans
and Spark counters. The metrics printed are the per-layer ones (see
``tracing.LAYER_METRICS``), taken from the traced pass, and the tracing
overhead: the traced pass's end-to-end figures minus the reference's.
Spans and per-operation counters are written to ``.perfbench_out/`` in
the checkout.

Inputs, Spark's local directories and outputs live under
``.perfbench_work/`` in the checkout and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The set-up variant holds this share (1/n) of each subsetted table.
SETUP_DIVISOR = 10
#: Set-up rounds per run; ``setup_s`` is their median.
SETUP_ROUNDS = 3
#: Driver heap, ample for these inputs. The heap starts at its full size
#: so the JVM's resident memory follows the pages the engine touches, not
#: when the collector decided to grow the heap.
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_gmean_s": "s",
    "first_run_s": "s",
    "rerun_s": "s",
    "rss_p90_mb": "MB",
}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler(threading.Thread):
    """Proportional resident memory (PSS) of this process and its
    descendants (the JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples_kb: list[int] = []
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.samples_kb.append(sum(_pss_kb(p) for p in [me, *descendants(me)]))
            self._stop_evt.wait(0.2)

    def stop(self) -> float:
        """The 90th percentile of the samples, in MB: near the peak, but not
        set by a single moment of garbage-collector timing."""
        self._stop_evt.set()
        self.join()
        if len(self.samples_kb) < 2:
            return 0.0
        return statistics.quantiles(self.samples_kb, n=10)[-1] / 1024


def git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    res = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return res.stdout.strip() or "unknown"


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every process it started."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def first_jobs(spark, vdir: str, tables) -> None:
    """The set-up warm-up: a join of ``lineitem`` and ``orders``, an
    aggregation and an Arrow collect, the paths every workload takes.
    Raises when a result is wrong."""
    from pyspark.sql import functions as F

    def read(t):
        return spark.read.parquet(os.path.join(vdir, f"{t}.parquet"))

    pdf = (
        read("lineitem")
        .join(read("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.sum("l_quantity").alias("q"))
        .toPandas()
    )
    if pdf["q"].sum() != tables["lineitem"]["l_quantity"].to_numpy().sum():
        raise RuntimeError(f"set-up join over {vdir} lost rows")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["batch", "streaming"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def summarize(passes, workload_cls, window_s: float) -> dict[str, float]:
    """End-to-end metrics over passes of (records, wall seconds)."""
    samples = []
    for recs, _ in passes:
        for rec in recs:
            if not rec["ok"]:
                # a failed operation counts as slower than any limit: the
                # window length stands in for its latency
                samples.append(window_s)
            elif workload_cls.name == "streaming":
                samples.extend(workload_cls.batch_latencies(rec))
            else:
                samples.append(rec["latency"])
    samples = samples or [window_s]

    def first_runs(recs):
        return sum(r["latency"] for r in recs if r["run"] == "first")

    def reruns(recs):
        by_op = defaultdict(list)
        for r in recs:
            if r["run"] == "rerun":
                by_op[r["op"]].append(r["latency"])
        return sum(statistics.median(v) for v in by_op.values())

    return {
        "pass_s": statistics.median(wall for _, wall in passes),
        "op_gmean_s": statistics.geometric_mean(samples),
        "first_run_s": statistics.median(first_runs(recs) for recs, _ in passes),
        "rerun_s": statistics.median(reruns(recs) for recs, _ in passes),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    sys.path.insert(0, ROOT)
    import dataframe_kotlin_spark  # noqa: F401  (fails outside a full checkout)

    saved_path = list(sys.path)
    import tools.compare_oracle  # noqa: F401  (its import edits sys.path)

    sys.path[:] = saved_path

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        {
            # get_spark defaults to local[32]; size the session to this box
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
        }
    )
    import pyspark

    import inputs
    import tracing
    import workloads
    from dataframe_kotlin_spark.session import get_spark

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "spark_version": pyspark.__version__,
        "git_sha": git_sha(),
        "sizes": inputs.SIZES,
        "loadavg_start": os.getloadavg()[0],
    }
    tracer = tracing.Tracer(enabled=bool(args.trace))
    sampler = MemorySampler()
    spark = None
    try:
        sampler.start()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        }
        rounds, marks = [], []  # (session start, inputs, warm-up) seconds; clock marks
        for r in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()  # the JVM stays up; the next round starts a new session in it
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            base = inputs.base_tables()
            tables = inputs.shrink(inputs.subset(base, args.seed * 1000), SETUP_DIVISOR)
            vdir = inputs.write_variant(tables, os.path.join(work, "inputs", f"setup{r}"))
            t2 = time.perf_counter()
            first_jobs(spark, vdir, tables)
            t3 = time.perf_counter()
            rounds.append((t1 - t0, t2 - t1, t3 - t2))
            marks.append((t0, t1, t2, t3))
        setup_s = statistics.median(sum(parts) for parts in rounds)
        ctx = workloads.Ctx(spark, tracing.Tracer(enabled=False), None, work)
        wl = workloads.WORKLOADS[args.workload](ctx)

        def variant(k: int):
            tables = inputs.subset(base, args.seed * 1000 + k)
            vdir = inputs.write_variant(tables, os.path.join(work, "inputs", f"v{k}"))
            return wl.prepare(tables, vdir)

        stamp["setup_rounds_s"] = rounds
        with tracer.op("setup") as c:
            for t0, t1, t2, t3 in marks:
                for name, start, end in (("session.start", t0, t1), ("setup.inputs", t1, t2), ("setup.warm", t2, t3)):
                    tracer.add_span(name, start, end)
            if c is not None:
                c["session.cold_start_s"] = rounds[0][0]
                c["session.start_s"] = statistics.median(p[0] for p in rounds)
                c["setup.inputs_s"] = statistics.median(p[1] for p in rounds)
                c["setup.warm_s"] = statistics.median(p[2] for p in rounds)

        passes = []  # (variant, records, wall seconds)
        window_start = time.perf_counter()
        while True:
            v = variant(len(passes) + 1)
            t = time.perf_counter()
            recs = wl.run_pass(v)
            passes.append((v, recs, time.perf_counter() - t))
            if time.perf_counter() - window_start + passes[-1][2] > args.seconds:
                break
        window_s = time.perf_counter() - window_start
        rss_mb = sampler.stop()

        # traced run: two more passes, an untraced reference and a traced
        # one; the tracing overhead is their difference. The window's own
        # passes are no reference: its first pass meets a colder JVM.
        traced = []
        if args.trace:
            for probe in (None, tracing.SparkProbe(spark)):
                if probe is not None:
                    ctx.tracer, ctx.probe = tracer, probe
                v = variant(len(passes) + len(traced) + 1)
                t = time.perf_counter()
                recs = wl.run_pass(v)
                traced.append((v, recs, time.perf_counter() - t))

        t = time.perf_counter()
        problems = inputs.self_check(base, args.seed)
        for v, recs, _ in passes + traced:
            try:
                wl.check(v, recs)
            except Exception as e:  # a broken check fails its pass, never hides it
                for rec in recs:
                    rec["ok"], rec["error"] = False, f"check failed: {type(e).__name__}: {e}"[:500]

        stamp["check_s"] = time.perf_counter() - t
        e2e = summarize([(r, w) for _, r, w in passes], type(wl), window_s)
        e2e["setup_s"] = setup_s
        e2e["rss_p90_mb"] = rss_mb
        all_recs = [rec for _, recs, _ in passes + traced for rec in recs]
        failed = [rec for rec in all_recs if not rec["ok"]]
        for rec in all_recs:
            print(f"op {rec['op']} {rec['run']} {rec['latency']:.3f}s ok={rec['ok']}", file=sys.stderr)
        for rec in failed:
            print(f"FAILED {rec['op']} ({rec['run']}): {rec.get('error')}", file=sys.stderr)
        for p in problems:
            print(f"FAILED inputs self-check: {p}", file=sys.stderr)

        stamp["loadavg_end"] = os.getloadavg()[0]
        stamp["passes"] = len(passes)
        stamp["ops_per_pass"] = len(passes[0][1])
        stamp["window_s"] = window_s
        if args.trace:
            layer = tracer.totals()
            ref_e2e, traced_e2e = (summarize([(r, w)], type(wl), window_s) for _, r, w in traced)
            layer["trace.overhead_pass_s"] = traced_e2e["pass_s"] - ref_e2e["pass_s"]
            layer["trace.overhead_op_gmean_s"] = traced_e2e["op_gmean_s"] - ref_e2e["op_gmean_s"]
            metrics = {k: {"value": layer[k], "unit": u} for k, u in tracing.LAYER_METRICS.items()}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}-{os.getpid()}.json"),
                {**stamp, "end_to_end": e2e, "reference_pass": ref_e2e, "traced_pass": traced_e2e},
            )
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"stamp": stamp}))
        print(
            json.dumps(
                {
                    "correct": not failed and not problems,
                    "attempted": len(all_recs) + 1,
                    "failed": len(failed) + (1 if problems else 0),
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if sampler.is_alive():
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
