#!/usr/bin/env python3
"""The repo benchmark: one seeded workload per invocation, checked, timed.

    python3 perfbench/run.py --workload extract_short --seed 1 --seconds 22 --trace 0

Workloads (perfbench/workloads.py; why each exists, and the baseline, are in
perfbench/BASELINE.json): extract_short and extract_long, which
BENCHMARK.json lists, and extract_commit and neardup_dedup. Load: one
process, one `local[<nproc>]` session, one job in flight (a closed loop).

A run pins its environment, then:
1. sets up once in a fresh JVM: `session.get_spark` plus one task per slot
   through the extraction kernel, which forks every Python worker
   (`setup_s`; one set-up takes ~15 s on 4 cores, so a run affords one);
2. builds or reuses the seeded inputs and the expected outputs (not timed,
   printed as gen_s);
3. runs untimed warm passes for WARM_SECONDS (on 4 cores the passes after
   set-up kept getting faster for the first ~8-10 s), then timed passes for
   `--seconds` (at least MIN_PASSES), each one job from input to a checked
   result. `job_s` and `peak_rss_mb` are medians over the timed passes.

`--trace 0` prints the end-to-end metrics. `--trace 1` prints the per-layer
ones instead: the JVM starts with Spark's event log on, traced passes
(spans, job tags, event log) alternate with untraced ones (logger detached)
for `trace.overhead_frac`, and a probe afterwards times the pages scan, the
kernel on one core, and the pass of the workload's companion.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}; error_rate (failed / attempted) is printed above it. Any failed
check exits 1; a missing package exits 2.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "ai_service_ocr_grading_handler_spark"

# Input sizes; BASELINE.json records them with the baseline they produced.
N_DOCS = 1000  # documents.parquet rows
SHORT_REPLICAS = 20  # short pages = N_DOCS * SHORT_REPLICAS
LONG_PAGES = 4000  # long pages, each LONG_PAGE_DOCS documents
PAGE_FILES = 8  # parquet files per pages corpus
WARM_SECONDS = 8
MIN_PASSES = 3
DRIVER_MEM = "2g"

END_TO_END = {"job_s": "s", "docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.pages.scan_s": "s",
    "sources.pages.scan_tasks": "count",
    "core.htmlx.docs_per_s_1core": "docs/s",
    "core.htmlx.mb_per_s_1core": "MB/s",
    "core.htmlx.decode_s": "s",
    "core.htmlx.segment_s": "s",
    "core.htmlx.classify_s": "s",
    "operators.extract.kernel_s": "s",
    "operators.extract.task_s": "s",
    "operators.extract.nonkernel_s": "s",
    "operators.extract.py_run_s": "s",
    "operators.extract.py_in_mb": "MB",
    "operators.extract.py_out_mb": "MB",
    "operators.extract.worker_peak_rss_mb": "MB",
    "plans.lineage.run_extract_s": "s",
    "plans.lineage.resume_s": "s",
    "plans.lineage.verify_s": "s",
    "plans.lineage.shuffle_write_mb": "MB",
    "plans.lineage.written_mb": "MB",
    "plans.lineage.files_written": "count",
    "plans.lineage.resume_yield": "ratio",
    "operators.dedup.exact_dedup_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.simhash_s": "s",
    "operators.dedup.minhash_stages": "count",
    "operators.dedup.minhash_tasks": "count",
    "operators.dedup.minhash_shuffle_mb": "MB",
    "operators.dedup.simhash_stages": "count",
    "operators.dedup.simhash_tasks": "count",
    "operators.dedup.simhash_shuffle_mb": "MB",
    "operators.dedup.minhash_max_bucket": "count",
    "operators.dedup.minhash_buckets": "count",
    "operators.dedup.minhash_pairs": "count",
    "operators.dedup.simhash_pairs": "count",
    "operators.scoring.grade_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.overhead_frac": "ratio",
}

# spans whose per-pass duration is a per-layer metric (span name + "_s")
SPAN_LAYERS = [
    "sources.pages.scan",
    "plans.lineage.run_extract",
    "plans.lineage.resume",
    "plans.lineage.verify",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash",
    "operators.dedup.simhash",
    "operators.scoring.grade",
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_short", "extract_long", "extract_commit", "neardup_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only (perfbench/selftest.py): smaller inputs, injected faults
    ap.add_argument("--docs", type=int, default=N_DOCS)
    ap.add_argument("--inject", choices=["drop_row", "bad_checksum"])
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: Path) -> None:
    """Everything Spark and its workers read, pinned inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))


def submit_args(work: Path, event_log: Path | None) -> str:
    # The heap is fixed and pre-touched, so peak RSS does not depend on when
    # G1 first touches each region; it moves with off-heap memory (Arrow
    # buffers, metaspace, code cache) and the Python workers.
    java = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    args = [f'--driver-java-options "{java}"']
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    return " ".join(args + ["pyspark-shell"])


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args, work: Path):
        from inputs import Inputs
        from tracing import RssSampler
        from workloads import WORKLOADS

        self.args, self.work = args, work
        self.inputs = Inputs(ROOT, PACKAGE, args.seed, args.docs, SHORT_REPLICAS,
                             LONG_PAGES * args.docs // N_DOCS, PAGE_FILES)
        self.wl = WORKLOADS[args.workload](self.inputs, args.inject)
        self.sampler = RssSampler()
        self.setups: list[tuple[float, float]] = []
        self.checks: list[bool] = []
        self.spark = None

    # -- session lifecycle -------------------------------------------------
    def start(self, event_log: Path | None = None):
        import pyspark.sql.functions as F

        from ai_service_ocr_grading_handler_spark.operators.extract import extract_pages
        from ai_service_ocr_grading_handler_spark.session import get_spark

        os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(self.work, event_log)
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        t1 = time.perf_counter()
        n = spark.sparkContext.defaultParallelism
        dummy = spark.range(0, 8 * n, 1, n).select(
            F.concat(F.lit("https://warm.example.com/"), F.col("id")).alias("url"),
            F.current_timestamp().alias("warc_ts"),
            F.lit("en").alias("lang"),
            F.encode(F.lit("<html><body><p>warm up every worker slot</p></body></html>"),
                     "utf-8").alias("html"),
        )
        extract_pages(dummy).agg(F.count(F.lit(1))).collect()
        self.setups.append((t1 - t0, time.perf_counter() - t1))
        self.spark = spark
        return spark

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for every process it
        started (the JVM exits when its stdin closes)."""
        from pyspark import SparkContext

        from tracing import descendants

        if self.spark is None:
            return
        gw = SparkContext._gateway
        pids = descendants()
        self.spark.stop()
        self.spark = None
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -- passes -------------------------------------------------------------
    def one_pass(self, tr, pass_no: int) -> float:
        """One pass; a timed one (pass_no >= 0) is also an RSS window."""
        out = self.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        tr.bind(self.spark, pass_no)
        with self.sampler.window() if pass_no >= 0 else contextlib.nullcontext():
            with tr.span("job") as s:
                self.checks += self.wl.run_pass(self.spark, tr, out)
        return s["end"] - s["start"]

    def warm(self, tr) -> None:
        end = time.perf_counter() + WARM_SECONDS
        while time.perf_counter() < end:
            self.one_pass(tr, -1)

    def measure(self, tr, seconds: float) -> list[float]:
        """Warm passes, then timed passes for `seconds`."""
        self.warm(tr)
        times: list[float] = []
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(times) < MIN_PASSES:
            times.append(self.one_pass(tr, len(times)))
        return times

    # -- the two kinds of run -----------------------------------------------
    def end_to_end(self) -> dict:
        from tracing import Tracer

        self.start()
        self.wl.prepare(self.spark)
        tr = Tracer(self.args.workload, f"{self.args.workload}-{self.args.seed}", False)
        self.times = self.measure(tr, self.args.seconds)
        self.stop()
        tr.write(ROOT / ".perfbench_out" / f"spans-{tr.run_id}.json")
        job_s = median(self.times)
        (start_s, warm_s), = self.setups
        return {
            "job_s": job_s,
            "docs_per_s": self.wl.docs / job_s,
            "setup_s": start_s + warm_s,
            "peak_rss_mb": median(self.sampler.peaks) / 1e6,
        }

    def per_layer(self) -> dict:
        """Traced and untraced passes alternate in one JVM launched with the
        event log on; the untraced ones run with the logger detached and no
        job tags, and give the base of `trace.overhead_frac`."""
        from tracing import PROBE_PASS, Tracer, event_log_detached, read_event_log

        run_id = f"{self.args.workload}-{self.args.seed}-trace"
        log_dir = self.work / "eventlog"
        tr = Tracer(self.args.workload, run_id, True)
        plain = Tracer(self.args.workload, run_id + "-off", False)
        self.start(log_dir)
        self.wl.prepare(self.spark)
        self.warm(tr)
        traced: list[float] = []
        untraced: list[float] = []
        end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < end or not untraced:
            for on in (True, False) if len(traced) % 2 == 0 else (False, True):
                if on:
                    traced.append(self.one_pass(tr, len(traced)))
                else:
                    with event_log_detached(self.spark):
                        untraced.append(self.one_pass(plain, len(untraced)))
        self.times = traced
        out = self.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        probed, checks = self.wl.probe(self.spark, tr, out)
        self.checks += checks
        par = self.spark.sparkContext.defaultParallelism
        self.stop()
        tr.write(ROOT / ".perfbench_out" / f"spans-{run_id}.json")

        m = {k: 0.0 for k in PER_LAYER}
        (m["session.start_s"], m["session.warmup_s"]), = self.setups
        for name in SPAN_LAYERS:
            m[name + "_s"] = timed_or_probe(tr.durations(name))
        for name, per_pass in tr.counts.items():
            m[name] = timed_or_probe(per_pass)
        m.update(probed)
        m.update(stage_metrics(read_event_log(log_dir), self.args.workload, len(traced), par))
        if m["operators.extract.task_s"]:
            m["operators.extract.nonkernel_s"] = (
                m["operators.extract.task_s"] - m["operators.extract.kernel_s"])
            m["operators.extract.worker_peak_rss_mb"] = median(self.sampler.worker_peaks) / 1e6
        m["trace.overhead_frac"] = median(traced) / median(untraced) - 1
        return m


def timed_or_probe(per_pass: dict[int, float]) -> float:
    """Median over the timed passes; a layer only the probe ran reports the
    probe's measured (second) pass."""
    from tracing import PROBE_PASS

    timed = [v for p, v in per_pass.items() if 0 <= p < PROBE_PASS]
    return median(timed) if timed else per_pass.get(PROBE_PASS, 0.0)


def stage_metrics(stages: list[dict], workload: str, passes: int, par: int) -> dict:
    """Per-pass sums of event-log stage counters: spark.* and the extract
    kernel over the timed passes, the lineage and dedup layers as
    `timed_or_probe` picks them."""
    mine = [s for s in stages if s["description"].startswith(workload + ":")]

    def timed(pred, f) -> float:
        sums = {i: 0.0 for i in range(passes)}
        for s in mine:
            if s["pass"] in sums and pred(s):
                sums[s["pass"]] += f(s)
        return median(list(sums.values()))

    def layer(prefix, f) -> float:
        sums: dict[int, float] = {}
        for s in mine:
            if s["description"].startswith(f"{workload}:{prefix}"):
                sums[s["pass"]] = sums.get(s["pass"], 0.0) + f(s)
        return timed_or_probe(sums)

    def every(_):
        return True

    def python(s):
        return s["python"]

    out = {
        "spark.stages": timed(every, lambda s: 1),
        "spark.tasks": timed(every, lambda s: s["tasks"]),
        "spark.single_task_stages": timed(every, lambda s: s["tasks"] == 1 and par > 1),
        "spark.task_cpu_s": timed(every, lambda s: s["cpu_s"]),
        "spark.gc_s": timed(every, lambda s: s["gc_s"]),
        "spark.shuffle_write_mb": timed(every, lambda s: s["shuffle_write_b"] / 1e6),
        "spark.spill_mb": timed(every, lambda s: s["spill_b"] / 1e6),
        "operators.extract.task_s": timed(python, lambda s: s["run_s"]),
        "operators.extract.py_run_s": timed(python, lambda s: s["py_run_s"]),
        "operators.extract.py_in_mb": timed(python, lambda s: s["py_in_b"] / 1e6),
        "operators.extract.py_out_mb": timed(python, lambda s: s["py_out_b"] / 1e6),
        "plans.lineage.shuffle_write_mb": layer("plans.lineage.", lambda s: s["shuffle_write_b"] / 1e6),
    }
    for op in ("minhash", "simhash"):
        name = f"operators.dedup.{op}"
        out[f"{name}_stages"] = layer(name, lambda s: 1)
        out[f"{name}_tasks"] = layer(name, lambda s: s["tasks"])
        out[f"{name}_shuffle_mb"] = layer(name, lambda s: s["shuffle_write_b"] / 1e6)
    return out


def report(bench: Bench, metrics: dict, units: dict) -> None:
    """Human-readable lines; the JSON result line follows them."""
    wl, times = bench.wl, bench.times
    failed = bench.checks.count(False)
    print(f"perfbench {bench.args.workload} seed={bench.args.seed} docs={wl.docs} "
          f"nproc={nproc()} passes={len(times)} gen_s={bench.inputs.gen_s:.3f}")
    print(f"job_s median={median(times):.4f} max={max(times):.4f} n={len(times)} s")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"error_rate {failed / len(bench.checks):.6g} ratio "
          f"({failed} failed of {len(bench.checks)} checked outputs)")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    pin_env(work)
    bench = Bench(args, work)
    try:
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        bench.stop()
        bench.sampler.close()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    report(bench, metrics, units)
    failed = bench.checks.count(False)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.checks),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
