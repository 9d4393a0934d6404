"""Benchmark entry point: one batch workload, closed loop, one client.

    python3 perfbench/run.py --workload screen_cascade --seed 1 \\
        --seconds 10 --trace 0

Set-up is the Spark session start (package zip, JVM start) plus the first,
cold, job on the full input. Then a fixed number of jobs run one after
another: ``--seconds`` divided by the workload's nominal job time on a
4-core machine, at least three. A fixed count means every run times the same
jobs of the JVM's warm-up, whatever the host's speed. Every job's output is
checked, the first one's included.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` the per-layer
metrics, from twice as many jobs, untraced and traced in turn, and layer
timings on a fixed batch. The last line of standard output is the JSON
result.

``--workload all`` runs every workload in a child process and prints each
one's table; with ``--smoke`` it does so on small inputs in both trace
modes and checks that the emitted metric names are those of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "tokens_per_s": "tokens/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.parquet_scan_s": "s",
    "sources.fastq_scan_s": "s",
    "sources.fastq_bases_per_s": "bases/s",
    "sources.sink_write_s": "s",
    "sources.sink_bytes": "bytes",
    "functions.rolling_hash_ns_per_token": "ns",
    "sketch.bloom.probe_ns_per_window": "ns",
    "screen.prepare_s": "s",
    "multiscreen.s_per_target": "s",
    "screen.prescreen_s": "s",
    "screen.verify_s": "s",
    "screen.fp_pass_ratio": "ratio",
    "screen.sp_pass_ratio": "ratio",
    "screen.rc_share": "ratio",
    "cascade.flank1_s": "s",
    "cascade.flank2_s": "s",
    "cascade.combine_s": "s",
    "cascade.flank2_input_ratio": "ratio",
    "sketch.hll.update_ns_per_value": "ns",
    "sketch.cms.update_ns_per_value": "ns",
    "sketch.kll.update_ns_per_value": "ns",
    "sketch.core.partials_s": "s",
    "sketch.core.merge_s": "s",
    "sketch.core.state_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.core_util": "ratio",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "self.bench_s": "s",
    "self.sources_s": "s",
    "self.cascade_s": "s",
    "self.multiscreen_s": "s",
    "self.sketch_s": "s",
    "trace.job_s": "s",
    "trace.overhead_ratio": "ratio",
}
MIN_JOBS = 3  # fewest timed jobs in a run
# traced-job span name -> per-layer metric (summed per job)
SPAN_METRICS = {
    "cascade.flank1": "cascade.flank1_s",
    "cascade.flank2": "cascade.flank2_s",
    "cascade.combine": "cascade.combine_s",
    "multiscreen.screen": "multiscreen.s_per_target",
    "sources.fastq_scan": "sources.fastq_scan_s",
    "sources.sink_write": "sources.sink_write_s",
    "sketch.core.partials": "sketch.core.partials_s",
    "sketch.core.merge": "sketch.core.merge_s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sandbox() -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``perfbench/.work`` and fix the session's environment settings: the
    session defaults, except a 2 GB driver heap (the inputs are tens of
    MB). Runs before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    for var in ("SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()
    sys.path.insert(0, ROOT)


def start_session(cores: int):
    from bloomine_spark.session import get_spark

    return get_spark(
        master=f"local[{cores}]", app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed(job, check) -> tuple[float, bool]:
    """Run one job and check its output: (wall time of the job, ok)."""
    t = time.perf_counter()
    try:
        out = job()
    except Exception:  # a failed job is counted, the run goes on
        log("job raised:\n" + traceback.format_exc())
        return time.perf_counter() - t, False
    secs = time.perf_counter() - t
    try:
        check(out)
    except Exception:  # CheckFailed, or output the check could not read
        log("output check failed:\n" + traceback.format_exc())
        return secs, False
    return secs, True


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def run_workload(args) -> int:
    sandbox()
    import workloads
    from instrument import NullTracer, RssSampler, StageCollector, Tracer

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    w = workloads.WORKLOADS[args.workload](
        os.path.join(WORK, "fixtures"), os.path.join(WORK, "sink"),
        args.seed, args.smoke)
    fixtures_s = time.perf_counter() - t
    # a fixed job count, so every run times the same jobs of the warm-up
    n_jobs = max(MIN_JOBS, round(args.seconds / w.nominal_job_s))
    log(f"{w.name}: inputs ready in {fixtures_s:.2f} s "
        f"({w.tokens} tokens), local[{cores}], {n_jobs} jobs")
    untraced = NullTracer()
    attempted = failed = 0

    def run(job) -> float:
        nonlocal attempted, failed
        secs, ok = timed(job, w.check)
        attempted += 1
        failed += not ok
        return secs

    with RssSampler() as rss:
        t = time.perf_counter()
        spark = start_session(cores)
        start_s = time.perf_counter() - t
        src = w.source(spark)
        ready = time.perf_counter() - t
        # set-up ends when the first (cold) job has returned; its output
        # check is not part of it
        setup_s = ready + run(lambda: w.job(spark, src, untraced))
        log(f"session start {start_s:.2f} s, set-up {setup_s:.2f} s")

        layer = {}
        if not args.trace:
            times, peaks = [], []
            rss.take_peak_mb()
            for _ in range(n_jobs):
                times.append(run(lambda: w.job(spark, src, untraced)))
                peaks.append(rss.take_peak_mb())
        else:
            # untraced and traced jobs alternate, so both see the same
            # stretch of the JVM's warm-up
            stages, tracer = StageCollector(spark), Tracer()
            times, traced_times, per_job, roots = [], [], [], []

            def traced():
                with tracer.span("bench.job") as root:
                    out = w.job(spark, src, tracer)
                roots.append(root)
                return out

            for i in range(2 * n_jobs):
                if i % 2:
                    traced_times.append(run(traced))
                    continue
                mark = stages.mark()  # status-store reads stay untimed
                times.append(run(lambda: w.job(spark, src, untraced)))
                stats = stages.collect(mark)
                stats["core_util"] = stats["executor_run_s"] / (
                    times[-1] * cores)
                per_job.append(stats)
            for key in ("executor_run_s", "core_util", "tasks", "task_skew",
                        "shuffle_write_bytes", "shuffle_read_bytes",
                        "spill_bytes"):
                layer[f"spark.{key}"] = median([s[key] for s in per_job])
            layer.update(w.layer_metrics(spark, tracer))
            layer.update(span_metrics(tracer, roots, w))
            layer["session.start_s"] = start_s
            layer["trace.job_s"] = median(traced_times)
            layer["trace.overhead_ratio"] = (
                median(traced_times) / median(times) - 1)
            tracer.dump(os.path.join(
                WORK, "traces", f"{w.name}-seed{args.seed}.json"))
        stop_session(spark)

    log(f"job times {['%.3f' % x for x in times]}")
    if args.trace:
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER.items()}
        counts = {}
    else:
        job_s = median(times)
        values = {
            "setup_s": setup_s,
            "job_s": job_s,
            "tokens_per_s": w.tokens / job_s,
            "peak_rss_mb": median(peaks),
        }
        metrics = {name: {"value": float(values[name]), "unit": unit}
                   for name, unit in END_TO_END.items()}
        counts = {"setup_s": 1, "job_s": len(times),
                  "tokens_per_s": len(times), "peak_rss_mb": len(peaks)}
    print(f"workload {w.name}  seed {args.seed}  tokens {w.tokens}  "
          f"trace {int(args.trace)}")
    for name, m in metrics.items():
        n = counts.get(name, "")
        print(f"  {name:40s} {m['value']:>16.6g} {m['unit']:9s}"
              + (f" n={n}" if n else ""))
    print(f"  {'error_rate':40s} {failed / attempted:>16.6g} ratio     "
          f" n={attempted}")
    print(f"  {'fixtures_s (not in setup_s)':40s} {fixtures_s:>16.6g} s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def span_metrics(tracer, roots, w) -> dict:
    """Medians over traced jobs of the named spans and per-layer self time."""
    per_job: dict[str, list[float]] = {}
    for root in roots:
        sums = {}
        for s in tracer.spans:
            if s["parent"] == root["id"] and s["name"] in SPAN_METRICS:
                key = SPAN_METRICS[s["name"]]
                sums[key] = sums.get(key, 0.0) + tracer.duration(s)
        if "multiscreen.s_per_target" in sums:
            sums["multiscreen.s_per_target"] /= len(w.targets)
        for layer, secs in tracer.self_times(root).items():
            sums[f"self.{layer}_s"] = secs
        for key, v in sums.items():
            per_job.setdefault(key, []).append(v)
    out = {key: median(v) for key, v in per_job.items()}
    if "sources.fastq_scan_s" in out:
        out["sources.fastq_bases_per_s"] = (
            w.tokens / out["sources.fastq_scan_s"])
    return out


def run_all(args) -> int:
    """Each workload in a child process; with ``--smoke``, small inputs in
    both trace modes and a check of the metric names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = {0: {m["name"] for m in spec["end_to_end"]},
                1: {m["name"] for m in spec["per_layer"]}}
    import workloads

    ok = True
    for name in workloads.WORKLOADS:
        for trace in ((0, 1) if args.smoke else (int(args.trace),)):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            cmd += ["--smoke"] if args.smoke else []
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                                  timeout=900)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            try:
                result = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"{name} trace {trace}: no result "
                      f"(exit {proc.returncode})")
                ok = False
                continue
            names = set(result["metrics"])
            if args.smoke and names != expected[trace]:
                print(f"{name} trace {trace}: metric names differ from "
                      f"BENCHMARK.json: {sorted(names ^ expected[trace])}")
                ok = False
            ok = ok and result["correct"] and proc.returncode == 0
    print(json.dumps({"correct": ok}))
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="small inputs; with --workload all, both trace "
                        "modes and metric names checked against "
                        "BENCHMARK.json")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "bloomine_spark")):
        sys.exit(f"perfbench: no bloomine_spark package in {ROOT}")
    if args.workload == "all":
        sys.path.insert(0, ROOT)
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
