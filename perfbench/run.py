"""Benchmark for this repository on one host: end-to-end metrics per workload,
or a traced run with per-layer metrics.

    python3 perfbench/run.py --workload cite_flagship --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke        # every workload at toy size, both modes

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the full record of
the run (host state; wall time, CPU, JIT CPU, stolen time and Spark jobs of
every call; spans and Spark counters)
goes to ``perfbench/out/<workload>-seed<seed>-trace<t>.json``. See
perfbench/README.md for what each metric means and why each workload exists.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "records_per_ref_cpu_s": "rec/ref-cpu-s",
    "ref_cpu_s": "ref-cpu-s",
    "resume_ref_cpu_s": "ref-cpu-s",
    "setup_s": "s",
    "peak_mem_mb": "MB",
    "dup_pair_recall": "ratio",
    "pair_precision": "ratio",
    "ok_frac": "ratio",
}

LAYER_UNITS = {
    "kernels.parse_us_per_record": "us",
    "kernels.normalize_us_per_record": "us",
    "functions.minhash_us_per_record": "us",
    "functions.simhash_us_per_record": "us",
    "features.s": "s",
    "features.records": "count",
    "features.spill_bytes": "bytes",
    "features.jobs": "count",
    "candidates.s": "s",
    "candidates.keyed_rows": "count",
    "candidates.oversize_buckets": "count",
    "candidates.pairs": "count",
    "candidates.pairs_per_record": "ratio",
    "candidates.shuffle_bytes": "bytes",
    "candidates.jobs": "count",
    "verify.s": "s",
    "verify.pairs_in": "count",
    "verify.edges": "count",
    "verify.yield": "ratio",
    "verify.shuffle_bytes": "bytes",
    "verify.jobs": "count",
    "kernels.jaro_us_per_pair": "us",
    "components.s": "s",
    "components.jobs": "count",
    "components.clusters": "count",
    "components.max_cluster_size": "count",
    "election.s": "s",
    "election.jobs": "count",
    "parse.s": "s",
    "parse.quarantine_rows": "count",
    "dedupe_records.s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.write_amp": "ratio",
    "resume.jobs": "count",
    "codedup.features_s": "s",
    "codedup.edges_s": "s",
    "codedup.edges": "count",
    "codedup.jobs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.scheduler_delay_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "trace.overhead_s": "s",
}

# Sizes: one warm request takes ~2.5-3 s on a 4-core host, mostly Spark's
# per-job fixed cost; with set-up a run of 15 s takes ~45 s, and comparing
# two commits takes dozens of runs, so larger inputs would not pay for
# themselves. The smoke sizes only prove the plumbing.
SIZES = {"cite_flagship": 800, "code_clones": 250}
SMOKE_SIZES = {"cite_flagship": 40, "code_clones": 30}

# Warm-up is a fixed number of requests, not a per-run stopping rule: a rule
# that stops early in some runs and late in others times each run at a
# different point of the warm-up. With the C1-only JIT below, three requests
# reach the flat part on a 4-core host (cold ~7 s, then ~2.8 s each).
WARMUP_REQUESTS = 3
MIN_REQUESTS = 3
RESUMES = 8
TRACE_BASELINE_REQUESTS = 3
REQUEST_TIMEOUT_S = 90
MIN_RECALL = 0.99
DRIVER_MEMORY = "2g"

# The guest has no hardware cycle counters, and the host's CPU speed drifts by
# 10-20 % over minutes; CPU time moves with it, and so does a fixed loop
# (stats.speed_probe) timed before each call. CPU time is reported scaled to
# the speed at which that loop takes PROBE_REF_S, which stands in for counting
# cycles. The value is the loop's median on the 4-core reference host, so the
# scaled figures stay close to the CPU seconds measured there. PROBE_REPEATS
# runs per call, of which the fastest counts, skip the ones another thread
# interrupted.
PROBE_REF_S = 0.030
PROBE_REPEATS = 3

# Host discipline for the driver JVM, which runs Spark's tasks in local mode.
# A fixed, pre-touched heap: the tree's RSS then does not depend on how far G1
# happened to grow the heap before the sample. C1 only: Spark generates new
# code for every query, and on four cores C2 kept compiling it for dozens of
# requests, with more CPU than the request itself, alongside it; request CPU
# and latency then swung from run to run. Under C1 the JIT settles within the
# warm-up. The code cache gets the size tiered compilation would have had
# (C1 alone defaults to 48 MB, which fills within a run and turns the
# compiler off). Compiler threads live as long as the JVM, so that their CPU
# can be read and left out of the program's (spans.tree_cpu_s).
DRIVER_JVM_OPTS = [
    f"-Xms{DRIVER_MEMORY}",
    "-XX:+AlwaysPreTouch",
    "-XX:TieredStopAtLevel=1",
    "-XX:ReservedCodeCacheSize=256m",
    "-XX:-UseDynamicNumberOfCompilerThreads",
]


def workload(name: str, smoke: bool):
    from workloads import CiteFlagship, CodeClones

    size = (SMOKE_SIZES if smoke else SIZES)[name]
    return {"cite_flagship": CiteFlagship, "code_clones": CodeClones}[name](size)


def configure_env(work: str, trace: bool) -> None:
    """Host discipline: Spark's local dir, temp files and event log live in
    this run's work dir on disk (not tmpfs); workers import the library from
    the checkout."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # pyspark's own temp files; cached per process
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(DRIVER_JVM_OPTS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "events")
        conf.append("spark.eventLog.compress=false")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)


class Run:
    """One benchmark invocation: the session, the checks and their tally."""

    def __init__(self, wl, seed: int, work: str):
        self.wl = wl
        self.seed = seed
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.corpus = None
        self.inp: dict = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.ref_digest: str | None = None
        self.recalls: list[float] = []
        self.precisions: list[float] = []
        self.plan_has_window: bool | None = None
        self.sampler = None
        self.samples: dict[str, list[dict]] = {}

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        from biblib_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.corpus = self.spark.read.parquet(self.inp["path"])

    def stop(self) -> None:
        """Stop Spark, then the JVM, then wait for every child to end."""
        from pyspark import SparkContext

        from spans import descendants

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None and gateway.proc.poll() is None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)

    # -- checks ------------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, table, what: str) -> None:
        """Every output must hold exactly the input's records, reach the
        planted-truth recall floor, and hash equal to every other output of
        the same input (run to run and across paths)."""
        from stats import digest, pair_scores

        self.attempted += 1
        cols = [table.column(c).to_numpy(zero_copy_only=False) for c in self.wl.out_cols]
        keys = cols[0].tolist()
        truth = self.inp["truth"]
        if len(keys) != len(truth) or set(keys) != truth.keys():
            self.fail(f"{what}: {len(keys)} output records for {len(truth)} input records")
            return
        recall, precision = pair_scores(cols[1].tolist(), [truth[k] for k in keys])
        self.recalls.append(recall)
        self.precisions.append(precision)
        d = digest(cols)
        if self.ref_digest is None:
            self.ref_digest = d
        if recall < MIN_RECALL:
            self.fail(f"{what}: recall {recall:.4f} < {MIN_RECALL}")
        elif d != self.ref_digest:
            self.fail(f"{what}: output digest {d[:12]} differs from {self.ref_digest[:12]}")

    def cpu_s(self) -> tuple[float, float]:
        """(program, JIT) CPU seconds of this process tree so far. Program CPU
        leaves out the JIT threads and the memory sampler's own reads."""
        from spans import tree_cpu_s

        total, jit = tree_cpu_s(os.getpid())
        own = self.sampler.cpu_s if self.sampler is not None else 0.0
        return total - jit - own, jit

    def guarded(self, what: str, fn, kind: str):
        """Run ``fn`` under the request timeout and record, under ``kind``,
        the host's speed just before it, and its wall time, program CPU, JIT
        CPU, the time the hypervisor stole meanwhile and its Spark jobs. Returns (sample, result) or None when it raised or was
        cancelled (counted as a failed attempt)."""
        from spans import host_steal_s
        from stats import speed_probe

        sc = self.spark.sparkContext
        samples = self.samples.setdefault(kind, [])
        group = f"{kind}-{len(samples)}"
        timer = threading.Timer(REQUEST_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            probe = min(speed_probe() for _ in range(PROBE_REPEATS))
            sc.setJobGroup(group, what)
            (cpu0, jit0), steal0, t0 = self.cpu_s(), host_steal_s(), time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
            cpu, jit = self.cpu_s()
            sample = {
                "wall_s": wall,
                "cpu_s": cpu - cpu0,
                "jit_s": jit - jit0,
                "steal_s": host_steal_s() - steal0,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "probe_s": probe,
            }
            samples.append(sample)
            return sample, out
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.fail(f"{what}: raised")
            return None
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- requests ----------------------------------------------------------
    def request(self, what: str, kind: str) -> dict | None:
        from biblib_spark.plans.spill import cleanup_all

        holder = {}

        def go():
            df = self.wl.request(self.spark, self.corpus)
            table = df.toArrow()
            holder["df"] = df
            return table

        r = self.guarded(what, go, kind)
        if r is None:
            return None
        sample, table = r
        self.check(table, what)
        if self.plan_has_window is None and "df" in holder:
            plan = holder["df"]._jdf.queryExecution().executedPlan().toString()
            self.plan_has_window = "Window" in plan
            if self.wl.needs_window and not self.plan_has_window:
                self.fail(f"{what}: timed plan has no Window node (election skipped)")
        cleanup_all()
        return sample

    def setup(self) -> float:
        """Session start (the JVM included) plus WARMUP_REQUESTS requests."""
        t0 = time.perf_counter()
        self.start_session()
        for i in range(WARMUP_REQUESTS):
            self.request(f"warmup {i}", "warmup")
        return time.perf_counter() - t0

    def checkpointed(self, work_dir: str, what: str, kind: str) -> dict | None:
        r = self.guarded(what, lambda: self.wl.checkpointed(self.spark, self.corpus, work_dir).toArrow(), kind)
        if r is None:
            return None
        self.check(r[1], what)
        return r[0]


def run_untraced(run: Run, seconds: float, art: dict) -> dict:
    from spans import RssSampler
    from stats import percentile, ratio, tail_percentile

    setup_s = run.setup()
    art["setup_s"] = setup_s

    timed: list[dict] = []
    peaks: list[float] = []
    t0 = time.perf_counter()
    with RssSampler() as rss:
        run.sampler = rss
        rss.take()
        while time.perf_counter() - t0 < seconds or len(timed) < MIN_REQUESTS:
            sample = run.request(f"request {len(timed)}", "request")
            if sample is None:
                break
            timed.append(sample)
            peaks.append(rss.take())
        run.sampler = None
    art["request_peak_rss_mb"] = peaks

    # the checkpointed path, once per invocation outside the timed requests:
    # its output must equal the request path's (cross-path check)
    pipe = os.path.join(run.work, "pipeline")
    run.checkpointed(pipe, "checkpointed fresh", "checkpointed_fresh")
    resumes = [run.checkpointed(pipe, f"checkpointed resume {i}", "resume") for i in range(RESUMES)]
    resumes = [r for r in resumes if r is not None]

    # a metric with no sample reads 0 (the run is then marked incorrect)
    def median(samples: list[dict], key: str) -> float:
        return statistics.median(s[key] for s in samples) if samples else 0.0

    lat = [s["wall_s"] for s in timed]
    tail_p = tail_percentile(len(lat))
    art["latency_tail"] = {
        "percentile": tail_p,
        "samples": len(lat),
        "value_s": percentile(lat, tail_p) if tail_p is not None else None,
    }
    # the host's speed over the whole run, from the probe before every call
    probes = [s["probe_s"] for kind in run.samples.values() for s in kind]
    probe = statistics.median(probes) if probes else PROBE_REF_S
    scale = PROBE_REF_S / probe
    art.update(
        probe_s=probe,
        wall_s=median(timed, "wall_s"),
        resume_wall_s=median(resumes, "wall_s"),
        cpu_s=median(timed, "cpu_s"),
        resume_cpu_s=median(resumes, "cpu_s"),
    )
    ref_cpu = art["cpu_s"] * scale
    return {
        "records_per_ref_cpu_s": ratio(len(run.inp["truth"]), ref_cpu),
        "ref_cpu_s": ref_cpu,
        "resume_ref_cpu_s": art["resume_cpu_s"] * scale,
        "setup_s": setup_s,
        "peak_mem_mb": statistics.median(peaks) if peaks else 0.0,
        "dup_pair_recall": min(run.recalls, default=0.0),
        "pair_precision": min(run.precisions, default=0.0),
        "ok_frac": 1 - len(run.failures) / max(run.attempted, 1),
    }


def run_traced(run: Run, art: dict) -> dict:
    from spans import Tracer, eventlog_stats
    from workloads import span_s, span_spark

    art["setup_s"] = run.setup()
    base = [run.request(f"untraced {i}", "request") for i in range(TRACE_BASELINE_REQUESTS)]
    base = [s["wall_s"] for s in base if s is not None]
    pipe = os.path.join(run.work, "pipeline")
    run.checkpointed(pipe, "checkpointed fresh", "checkpointed_fresh")

    tracer = Tracer(run.spark.sparkContext, f"{run.wl.name}-{run.seed}")
    metrics = {k: 0 for k in LAYER_UNITS}
    r = run.guarded(
        "traced request", lambda: run.wl.traced(run.spark, run.corpus, tracer, run.inp, pipe, run.work), "traced"
    )
    if r is None:
        return metrics
    out, counts = r[1]
    run.check(out, "traced request")
    for key in ("staged_output", "resumed_output"):
        if key in counts:
            run.check(counts.pop(key), f"traced {key}")
    run.stop()
    groups = eventlog_stats(os.path.join(run.work, "events"))
    metrics.update(run.wl.layer_metrics(tracer, groups, counts, run.inp["content_bytes"]))
    sizes = Counter(out.column(1).to_pylist())
    metrics["components.clusters"] = len(sizes)
    metrics["components.max_cluster_size"] = max(sizes.values(), default=0)
    spark = span_spark(tracer, groups, "request")
    metrics.update({f"spark.{k}": v for k, v in spark.items()})
    if base:
        metrics["trace.overhead_s"] = span_s(tracer, "request") - statistics.median(base)
    art["spans"] = tracer.annotated()
    art["spark_by_group"] = groups
    return metrics


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    wl = workload(name, smoke)
    work = os.path.join(HERE, ".work", f"{name}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, trace)
    from spans import host_snapshot

    art: dict = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace, "size": wl.__dict__}
    art["host_before"] = host_snapshot()
    run = Run(wl, seed, work)
    t_gen = time.perf_counter()
    run.inp = wl.make_input(os.path.join(work, "input"), seed)
    art["input_s"] = time.perf_counter() - t_gen
    art["records"] = len(run.inp["truth"])
    art["cores"] = run.cores
    try:
        metrics = run_traced(run, art) if trace else run_untraced(run, seconds, art)
    finally:
        run.stop()
        art["host_after"] = host_snapshot()
        art["failures"] = run.failures
        art["plan_has_window"] = run.plan_has_window
        art["output_digest"] = run.ref_digest
        art["samples"] = run.samples
        shutil.rmtree(work, ignore_errors=True)
    units = LAYER_UNITS if trace else E2E_UNITS
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    art["result"] = result
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(art, f, indent=1, default=str)
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy input size; without --workload, every workload untraced and traced")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")
    if not os.path.isdir(os.path.join(ROOT, "biblib_spark")):
        print(f"perfbench: no biblib_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    if args.smoke and args.workload is None:
        # one process per run, as the benchmark is always driven
        ok = True
        for name in sorted(SIZES):
            for trace in (0, 1):
                cmd = [sys.executable, __file__, "--smoke", "--workload", name, "--seed", str(args.seed),
                       "--seconds", "1", "--trace", str(trace)]
                proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
                lines = proc.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {"correct": False}
                print(json.dumps({"workload": name, "trace": trace, **res}))
                ok &= res["correct"]
        return 0 if ok else 1
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), smoke=args.smoke)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
