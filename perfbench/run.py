"""Benchmark of the resumable extraction job (``jobs/extract.py``).

    python3 perfbench/run.py --workload crawl_html --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  One process is one closed-loop client at
local[N], N = the CPUs this process may use.  It calls what
``jobs/extract.py main`` calls, in the same order and with the job's
defaults (``build_session``; ``tune_arrow_batch``;
``run_resumable_extract`` with 64 buckets, its default wave count and
dedup on), waits for each job to commit, checks the output against a
Spark-independent oracle, and prints one JSON object as the last line
of standard output: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1`` (see perfbench/README.md).  The exit code is
1 when an output check fails and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUCKETS = 64
SNAPSHOT = f"pages-b{BUCKETS}"
# Warm-up: the same job on the same input, stopped by the
# fail_after_waves hook after this many of its 8 waves.  Consecutive
# jobs in one session keep speeding up for several jobs; a fixed
# warm-up makes every run time its job at the same point of that curve.
WARM_WAVES = 2
RESUME_COMMITTED_WAVES = 4    # of 8 waves: half of the buckets
# Kernel formats reported on every workload; others are reported where
# the workload has them (doc_mix).
KERNEL_FORMATS = ("html", "unknown")
WORKLOADS = ("crawl_html", "resume_half", "doc_mix")

T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside
    ``work``, and let the Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


class Bench:
    def __init__(self, args, work: str) -> None:
        from sparktrace import Tracer

        self.args = args
        self.work = work
        self.tracer = Tracer()
        self.spark = None
        self.layer: dict[str, float] = {}

    # --- engine calls, in jobs/extract.py order ------------------------

    def setup(self, n_cpus: int) -> float:
        """build_session plus Python-worker warm-up; returns seconds."""
        from pdf_to_text_extraction_service_spark.functions.extract_udf \
            import extract
        from pdf_to_text_extraction_service_spark.plans.session import (
            build_session,
        )

        os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus)
        t0 = time.perf_counter()
        with self.tracer.span("plans.session.build_session", cpus=n_cpus):
            self.spark = build_session(app_name="webextract-job")
        start_s = time.perf_counter() - t0
        with self.tracer.span("functions.extract_udf.extract:warmup"):
            pages = self.spark.read.parquet(self.input)
            extract(pages.limit(16 * n_cpus).repartition(n_cpus)) \
                .select("format").collect()
        setup_s = time.perf_counter() - t0
        log(f"setup local[{n_cpus}] {setup_s:.2f}s "
            f"(build_session {start_s:.2f}s)")
        self.layer.setdefault("session.start_s", start_s)
        return setup_s

    def stop(self) -> None:
        self.spark.stop()
        self.spark = None

    def job(self, out: str, manifest: str, **kw) -> float:
        """One job call, up to committed output and manifest; returns
        its wall seconds."""
        from pdf_to_text_extraction_service_spark.operators.manifest import (
            run_resumable_extract,
        )
        from pdf_to_text_extraction_service_spark.plans.session import (
            tune_arrow_batch,
        )
        from sparktrace import tree_cpu_s

        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("job", out=out):
            pages = self.spark.read.parquet(self.input)
            with self.tracer.span("plans.session.tune_arrow_batch"):
                t1 = time.perf_counter()
                rows = tune_arrow_batch(self.spark, pages)
                tune_s = time.perf_counter() - t1
            with self.tracer.span("operators.manifest.run_resumable_extract"):
                run_resumable_extract(
                    self.spark, pages, output_path=out,
                    manifest_path=manifest, buckets=BUCKETS,
                    source_snapshot=SNAPSHOT, dedup=True, **kw)
        wall = time.perf_counter() - t0
        self.last_job = {"job.cpu_s": tree_cpu_s() - cpu0,
                         "session.tune_arrow_s": tune_s,
                         "session.arrow_batch_rows": rows}
        log(f"job {wall:.2f}s, {self.last_job['job.cpu_s']:.2f} CPU s")
        return wall

    def partial_job(self, out: str, manifest: str, waves: int) -> None:
        try:
            self.job(out, manifest, fail_after_waves=waves)
        except RuntimeError as exc:
            if "simulated failure" not in str(exc):
                raise
        else:
            raise RuntimeError("fail_after_waves did not stop the job")

    # --- the run ----------------------------------------------------------

    def prepare_inputs(self) -> None:
        import oracle
        import workloads

        rows = workloads.rows_for(self.args.workload, self.args.seed)
        self.input = os.path.join(self.work, "input")
        self.input_rows = len(rows)
        self.input_bytes = workloads.write_table(rows, self.input,
                                                 self.args.seed)
        self.expect = oracle.expected(oracle.latest_captures(rows))
        log(f"inputs: {self.input_rows} rows, {self.input_bytes} bytes")

    def run(self) -> dict:
        import oracle
        from sparktrace import RssSampler, SparkStores

        args = self.args
        self.prepare_inputs()
        with RssSampler() as rss:
            setup_s = self.setup(cpus())
            self.stores = SparkStores(self.spark)
            self.warm_up()

            jobs, attempted, failed, check = [], 0, 0, None
            t_start = time.perf_counter()
            while attempted == 0 or \
                    time.perf_counter() - t_start < args.seconds:
                out, manifest = self.fresh_dirs(attempted)
                mark = self.stores.mark()
                attempted += 1
                t0 = time.perf_counter()
                try:
                    wall = self.job(out, manifest)
                except Exception as exc:  # a failed job is a result
                    log(f"job failed: {exc!r}")
                    failed += 1
                    continue
                jobs.append((wall, t0, time.perf_counter()))
                check, out_rows = oracle.check_job(
                    self.expect, out, manifest, BUCKETS, SNAPSHOT)
                if self.half is not None:
                    check["errors"] += oracle.resume_errors(
                        self.committed, out)
                if check["mismatch_share"] or check["errors"]:
                    failed += 1
                    log(f"check failed: {check}")

        self_test_ok = check is not None and \
            oracle.self_test(self.expect, out_rows)
        if not self_test_ok:
            log("self-test: the check missed an altered row")
        metrics = {}
        if jobs:
            job_s = statistics.median(w for w, _a, _b in jobs)
            peak_rss = max(rss.peak_rss_bytes(a, b) for _w, a, b in jobs)
        if jobs and args.trace:
            self.layer.update(self.last_job)
            self.layer["peak_rss_mb"] = peak_rss / 2**20
            self.layer["trace.job_s"] = jobs[-1][0]
            self.trace_layers(out, manifest, out_rows, mark)
            metrics = self.layer_report(check)
        elif jobs:
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (job_s, "s"),
                "docs_per_s": (self.input_rows / job_s, "1/s"),
                "fail_share": (fail_share(out_rows), "share"),
                "out_bytes_ratio": (
                    oracle.parquet_bytes(out) / self.input_bytes, "ratio"),
            }
        self.stop()
        return {"correct": failed == 0 and self_test_ok,
                "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def warm_up(self) -> None:
        """Untimed partial job.  For resume_half it is the set-up that
        commits half of the buckets, whose state every timed job
        resumes from."""
        import oracle

        self.half = None
        self.skipped = 0
        if self.args.workload != "resume_half":
            self.warm_job()
            return
        half = os.path.join(self.work, "half")
        self.partial_job(f"{half}/out", f"{half}/manifest",
                         RESUME_COMMITTED_WAVES)
        self.half = half
        self.committed = oracle.tree_files(f"{half}/out")
        self.skipped = len(oracle.read_manifest(f"{half}/manifest"))

    def warm_job(self) -> None:
        warm = os.path.join(self.work, "warm")
        shutil.rmtree(warm, ignore_errors=True)
        self.partial_job(f"{warm}/out", f"{warm}/manifest", WARM_WAVES)

    def fresh_dirs(self, i: int) -> tuple[str, str]:
        base = os.path.join(self.work, f"job{i}")
        shutil.rmtree(base, ignore_errors=True)
        if self.half is not None:
            shutil.copytree(self.half, base, copy_function=shutil.copy2)
        return f"{base}/out", f"{base}/manifest"

    # --- traced run -------------------------------------------------------

    def trace_layers(self, out: str, manifest: str, out_rows: list[dict],
                     mark: tuple[int, int]) -> None:
        """Per-layer numbers for the last timed job, plus the extra
        timed calls only the traced run makes."""
        import oracle
        from pdf_to_text_extraction_service_spark.operators.manifest import (
            completed_buckets,
        )
        from pdf_to_text_extraction_service_spark.plans.pipeline import (
            extract_pipeline,
        )
        from sparktrace import job_spans, layer_metrics

        m = self.layer
        job_span = [s for s in self.tracer.spans if s["name"] == "job"][-1]
        job_spans(self.tracer, self.stores.jobs_since(mark), job_span["id"])
        m.update(layer_metrics(self.stores, mark, self.input))
        m["manifest.buckets_skipped"] = self.skipped
        m["manifest.buckets_written"] = \
            len(oracle.read_manifest(manifest)) - self.skipped

        t0 = time.perf_counter()
        with self.tracer.span("operators.manifest.completed_buckets"):
            completed_buckets(self.spark, manifest, SNAPSHOT)
        m["manifest.lookup_s"] = time.perf_counter() - t0

        mark = self.stores.mark()
        fresh_dir = f"{self.work}/pipeline_out"
        t0 = time.perf_counter()
        with self.tracer.span("plans.pipeline.extract_pipeline"):
            pages = self.spark.read.parquet(self.input)
            extract_pipeline(pages, keep_pages_col=False).write \
                .mode("overwrite").parquet(fresh_dir)
        m["pipeline.write_s"] = time.perf_counter() - t0
        m["pipeline.exchanges"] = sum(
            1 for e in self.stores.executions_since(mark)
            for name, _d, _m in self.stores.plan_nodes(e)
            if name == "Exchange")
        m["manifest.overhead_s"] = m["trace.job_s"] - m["pipeline.write_s"]
        # the job's output must equal a fresh, manifest-free extraction
        fresh = oracle.read_output(fresh_dir, bucket=False)
        m["check.fresh_mismatch"] = oracle.compare(
            [(r["url"], oracle.row_digest(r)) for r in fresh],
            out_rows)["mismatched"] + abs(len(fresh) - len(out_rows))

        files = oracle.parquet_files(out)
        m["sink.files"] = len(files)
        m["sink.mb"] = sum(files.values()) / 2**20

        # scaling: the same timed call in a fresh local[1] session, after
        # the same partial warm-up job the local[N] session had
        self.stop()
        self.setup(1)
        self.warm_job()
        local1_s = self.job(*self.fresh_dirs(-1))
        m["scaling.local1_job_s"] = local1_s
        m["scaling_eff"] = local1_s / (cpus() * m["trace.job_s"])

    def layer_report(self, check: dict) -> dict:
        m = dict(self.layer)
        m["check.mismatch_share"] = check["mismatch_share"]
        present = {f for _u, _d, _ok, f, _t in self.expect}
        cpu = 0.0
        for fmt in sorted(set(KERNEL_FORMATS) | present):
            times = sorted(t for _u, _d, _ok, f, t in self.expect if f == fmt)
            n = len(times)
            cpu += sum(times)
            tail = times[n - 11] if n > 10 else \
                (statistics.median(times) if n else 0.0)
            m[f"kernel.n.{fmt}"] = n
            m[f"kernel.us_per_doc.{fmt}"] = \
                1e6 * statistics.fmean(times) if n else 0.0
            m[f"kernel.tail_us.{fmt}"] = 1e6 * tail
            m[f"kernel.fail.{fmt}"] = sum(
                1 for _u, _d, ok, f, _t in self.expect if f == fmt and not ok)
        m["kernel.cpu_s"] = cpu
        return {k: (v, unit_for(k)) for k, v in m.items()}


def fail_share(out_rows: list[dict]) -> float:
    """Committed output rows with success=false, as a share of all."""
    return sum(1 for r in out_rows if not r["success"]) / len(out_rows)


def unit_for(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if ".us_per_doc." in name or ".tail_us." in name:
        return "us"
    if name.endswith("_rows") or name.startswith("dedup.rows"):
        return "rows"
    if name in ("extract.task_skew", "scaling_eff"):
        return "ratio"
    if name == "check.mismatch_share":
        return "share"
    return "count"


def write_trace(bench: Bench, args) -> None:
    path = os.path.join(ROOT, ".perfbench", "traces",
                        f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    text = json.dumps({"workload": args.workload, "seed": args.seed,
                       "spans": bench.tracer.spans})
    # output paths and Spark call sites, relative to the checkout
    with open(path, "w") as fh:
        fh.write(text.replace(ROOT + os.sep, ""))


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import pdf_to_text_extraction_service_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    bench = Bench(args, work)
    try:
        result = bench.run()
        if args.trace:
            write_trace(bench, args)
    finally:
        if bench.spark is not None:
            bench.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
