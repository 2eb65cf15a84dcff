"""Extraction benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload extract_mega_mix --seed 1 \\
        --seconds 15 --trace 0

Runs from the root of a checkout of this repository, on one
``local[nproc]`` session, a closed loop with one operation in flight:
each operation is one ``pipeline.run_extraction_job`` over a persisted
``pages`` table, timed until its snapshot is committed, then checked
against expectations computed in this process (see ``workloads.py``).
The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``tracing.py``) and writes the spans to
``.perfbench_work/traces/<workload>-seed<n>.json``.  Exit code 1 when
any output check fails, 2 when the repository is not there.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPEATS = 3
MIN_OPS = 3
# untimed operations after the set-ups.  Job time and CPU-seconds per
# operation keep falling over the first few full-size operations while
# the JVM compiles the hot paths: measured over ten runs of each
# workload, the second of these still ran about a tenth slower than
# the timed ones, the third as fast.  A count, not a time, so that a slow
# host warms as far as a fast one
WARM_OPS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    print("perfbench: " + msg, file=sys.stderr, flush=True)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, replicas: int, work: str):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.replicas, self.work = replicas, work
        self.spark = None
        self.gateway_proc = None
        self.template = None
        self.variants = []

    # ---------------------------------------------------------- session
    def _start_session(self):
        from pdf_parser_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")  # made by main()
        cores = nproc()
        self.spark = get_spark(
            app="perfbench", cores=cores, shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work,
                                                        "warehouse"),
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + tmp,
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        gateway = self.spark.sparkContext._gateway
        self.gateway_proc = getattr(gateway, "proc", None)

    def close(self):
        """Stop Spark, end the JVM and wait for every child process."""
        from procstat import process_tree

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = self.gateway_proc
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        # the Python daemon and workers exit with the JVM; kill what is
        # still there after 30 s
        deadline = time.time() + 30
        while len(process_tree()) > 1 and time.time() < deadline:
            time.sleep(0.2)
        for pid in process_tree():
            if pid != os.getpid():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        shutil.rmtree(self.work, ignore_errors=True)

    # ------------------------------------------------------------ setup
    def setup_once(self, k: int) -> float:
        """Input generation and materialisation, then target-table
        preparation (the resume workload) or a warm-up job over one
        replica (the fresh-table workload); the first set-up also starts
        the session.  Returns its wall time."""
        import workloads
        from pdf_parser_spark import pipeline

        t0 = time.perf_counter()
        if self.spark is None:
            self._start_session()
        else:
            for _, frame in self.variants:
                frame.unpersist()
        spark = self.spark
        self.bases = workloads.render_bases(self.workload)
        self.variants = []
        for v in range(workloads.VARIANTS[self.workload]):
            inputs = workloads.generate(self.workload, self.seed,
                                        self.replicas, self.bases, v)
            frame = workloads.pages_frame(spark, inputs.rows).persist()
            frame.count()
            self.variants.append((inputs, frame))
        self.inputs = self.variants[0][0]
        if self.template is not None:
            shutil.rmtree(self.template)
        self.template = os.path.join(self.work, "template-%d" % k)
        if self.inputs.precommitted:
            # the table the resume run finds: a seeded half committed
            pipeline.run_extraction_job(
                spark, workloads.pages_frame(spark,
                                             self.inputs.precommitted),
                self.template)
        else:
            pipeline.run_extraction_job(
                spark, workloads.pages_frame(spark,
                                             self.inputs.one_replica()),
                self.template)
            shutil.rmtree(self.template)
            self.template = None
        took = time.perf_counter() - t0
        log("setup %d: %.2f s" % (k, took))
        return took

    # -------------------------------------------------------- operation
    def _fresh_target(self, k) -> str:
        out = os.path.join(self.work, "op-%s" % k)
        if self.template is not None:
            # restore the half-committed table: its snapshot log points
            # at the template's (read-only) data files
            shutil.copytree(os.path.join(self.template, "_snapshots"),
                            os.path.join(out, "_snapshots"))
        return out

    def run_op(self, k, variant, tracer=None, check=True) -> dict:
        """Operation ``k`` over one (inputs, pages frame) variant;
        ``check=False`` skips the output check (warm-up only)."""
        from pdf_parser_spark import pipeline
        from pdf_parser_spark.io_tables import TableIO
        from procstat import cpu_seconds
        import workloads

        inputs, pages = variant
        out = self._fresh_target(k)
        sc = self.spark.sparkContext
        group = "perfbench-op-%s" % k
        sc.setJobGroup(group, "perfbench %s op %s" % (self.workload, k))
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.op = group
            restore = self._install_wrappers(tracer, pages)
            try:
                with tracer.span("op") as root:
                    res = pipeline.run_extraction_job(self.spark, pages,
                                                      out)
            finally:
                restore()
        else:
            res = pipeline.run_extraction_job(self.spark, pages, out)
        job_s = time.perf_counter() - t0
        cpu_s = cpu_seconds() - c0
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"job_s": job_s, "cpu_s": cpu_s, "docs": res["docs"],
               "group": group, "out": out}
        if tracer is not None:
            rec["root"] = root["id"]
        rec["errors"] = workloads.check_job(
            self.spark, TableIO(out), inputs, self.expects,
            self.golden, res["docs"]) if check else []
        log("op %s: job %.2f s, cpu %.2f s, %d docs, %s%s"
            % (k, job_s, cpu_s, res["docs"],
               "%d mismatches" % len(rec["errors"]) if check
               else "unchecked",
               " (traced)" if tracer is not None else ""))
        return rec

    # -------------------------------------------------------------- run
    def run(self) -> dict:
        import workloads
        from procstat import worker_peak_rss_mb

        setups = [self.setup_once(k) for k in range(SETUP_REPEATS)]
        self.golden = workloads.load_golden(REPO)
        self.expects, golden_bad = workloads.expectations(self.bases,
                                                          self.golden)
        # warm-up; the first operation is checked, because the resume
        # read and the full-size plans run for the first time in it
        warm = self.run_op("warm0", self.variants[0])
        shutil.rmtree(warm["out"], ignore_errors=True)
        for n in range(1, WARM_OPS):
            rec = self.run_op("warm%d" % n,
                              self.variants[n % len(self.variants)],
                              check=False)
            shutil.rmtree(rec["out"], ignore_errors=True)
        tracer = None
        if self.trace:
            from tracing import Tracer, replay
            tracer = Tracer()
            weights = [0] * len(self.bases)
            for b in self.inputs.base_of.values():
                weights[b] += 1
            self.layers = replay(self.bases, weights)
        ops = []
        start = time.perf_counter()
        while (len(ops) < (MIN_OPS + 1 if self.trace else MIN_OPS)
               or time.perf_counter() - start < self.seconds):
            # traced runs alternate traced and untraced operations
            traced = tracer if self.trace and len(ops) % 2 == 0 else None
            rec = self.run_op(len(ops), self.variants[len(ops)
                                                      % len(self.variants)],
                              traced)
            if traced is not None:
                self._collect_spark(tracer, rec)
            shutil.rmtree(rec["out"], ignore_errors=True)
            ops.append(rec)
        # every offered doc of every checked operation is one attempt,
        # and so is every base payload compared with the goldens
        mismatches = golden_bad + [e for r in [warm] + ops
                                   for e in r["errors"]]
        attempted = len(self.bases) + len(self.inputs.rows) * (len(ops) + 1)
        failed = len(mismatches)
        for msg in mismatches[:10]:
            log("MISMATCH " + msg)
        med = statistics.median
        if not self.trace:
            metrics = {
                "setup_s": (med(setups), "s"),
                "job_s": (med([r["job_s"] for r in ops]), "s"),
                "docs_per_s": (med([r["docs"] / r["job_s"] for r in ops]),
                               "docs/s"),
                "mb_per_s": (med([self.inputs.payload_bytes / 1e6
                                  / r["job_s"] for r in ops]), "MB/s"),
                "worker_peak_rss_mb": (worker_peak_rss_mb(), "MB"),
            }
        else:
            metrics = self._layer_metrics(tracer, ops, attempted, failed)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    # ---------------------------------------------------------- tracing
    @staticmethod
    def _install_wrappers(tracer, frame):
        from pdf_parser_spark import pipeline
        from pdf_parser_spark.io_tables import TableIO

        undo = [
            tracer.wrap(pipeline, "run_extraction_job",
                        "pipeline.run_extraction_job"),
            tracer.wrap(pipeline, "parse_pages", "pipeline.parse_pages"),
            tracer.wrap(TableIO, "append_many", "io_tables.append_many"),
            tracer.wrap(TableIO, "committed_keys",
                        "io_tables.committed_keys"),
            # the actions the pipeline runs: planning before each job
            tracer.wrap(type(frame), "count", "spark.count"),
            tracer.wrap(type(frame.write), "parquet", "spark.write_parquet"),
        ]
        return lambda: [u() for u in undo]

    def _collect_spark(self, tracer, rec):
        from tracing import covered_seconds, spark_spans

        rec["spark"] = spark_spans(self.spark, tracer, rec["group"],
                                   rec["root"])
        spans = [s for s in tracer.spans if s["op"] == rec["group"]]
        # the layers' share of the op: spans under run_extraction_job
        job = next(s for s in spans
                   if s["name"] == "pipeline.run_extraction_job")
        rec["covered"] = covered_seconds(tracer, job["id"]) / rec["job_s"]
        rec["span_s"] = {}
        for s in spans:
            rec["span_s"][s["name"]] = (rec["span_s"].get(s["name"], 0.0)
                                        + s["end"] - s["start"])
        written = [0, 0]
        for dirpath, _, files in os.walk(rec["out"]):
            if "commit-" in dirpath:
                for f in files:
                    if f.endswith(".parquet"):
                        written[0] += 1
                        written[1] += os.path.getsize(
                            os.path.join(dirpath, f))
        rec["files_written"], rec["bytes_written"] = written

    def _layer_metrics(self, tracer, ops, attempted, failed) -> dict:
        from tracing import task_stats

        med = statistics.median
        traced = [r for r in ops if "spark" in r]
        plain = [r for r in ops if "spark" not in r]
        layers = dict(self.layers)
        worker_sum = (layers["pdfio.extract_s"] + layers["engine.detect_s"]
                      + layers["engine.parse_s"]
                      + layers["pipeline.sha256_s"])
        sp = {k: med([r["spark"][k] for r in traced])
              for k in ("tasks", "jobs", "run_s", "jvm_cpu_s", "gc_s",
                        "shuffle_write_mb", "shuffle_read_mb",
                        "map_stage_run_s")}
        per_op = [task_stats(r["spark"]["task_durations"]) for r in traced]
        tasks = {k: med([t[k] for t in per_op]) for k in per_op[0]}
        covered = med([r["covered"] for r in traced])
        traced_job = med([r["job_s"] for r in traced])
        out = {}
        for k, v in layers.items():
            unit = ("s" if k.endswith("_s") or "_s." in k else
                    "MB" if k.endswith("_mb") else
                    "us" if k.endswith("us_per_line") else "count")
            out[k] = (v, unit)
        out.update({
            "pipeline.tasks": (sp["tasks"], "count"),
            "pipeline.jobs": (sp["jobs"], "count"),
            "pipeline.task_median_s": (tasks["pipeline.task_median_s"], "s"),
            "pipeline.task_max_s": (tasks["pipeline.task_max_s"], "s"),
            "pipeline.task_skew": (tasks["pipeline.task_skew"], "ratio"),
            "pipeline.run_s": (sp["run_s"], "s"),
            "pipeline.jvm_cpu_s": (sp["jvm_cpu_s"], "s"),
            "pipeline.gc_s": (sp["gc_s"], "s"),
            "pipeline.shuffle_write_mb": (sp["shuffle_write_mb"], "MB"),
            "pipeline.shuffle_read_mb": (sp["shuffle_read_mb"], "MB"),
            "pipeline.overhead_s": (sp["map_stage_run_s"] - worker_sum, "s"),
            "io_tables.append_many_s": (med(
                [r["span_s"].get("io_tables.append_many", 0.0)
                 for r in traced]), "s"),
            "io_tables.committed_keys_s": (med(
                [r["span_s"].get("io_tables.committed_keys", 0.0)
                 for r in traced]), "s"),
            "io_tables.bytes_written_mb": (med(
                [r["bytes_written"] / 1e6 for r in traced]), "MB"),
            "io_tables.files_written": (med(
                [r["files_written"] for r in traced]), "count"),
            "io_tables.new_doc_ratio": (self.inputs.new_urls
                                        / len(self.inputs.rows), "ratio"),
            "trace.covered_share": (covered, "ratio"),
            "trace.uncovered_s": ((1 - covered) * traced_job, "s"),
            "trace.overhead_s": (traced_job
                                 - med([r["job_s"] for r in plain]), "s"),
            # per operation, untraced; too unsteady across runs on a
            # shared host to gate as an end-to-end metric
            "cpu_s": (med([r["cpu_s"] for r in plain]), "s"),
            "error_rate": (failed / attempted, "ratio"),
        })
        os.makedirs(os.path.join(REPO, ".perfbench_work", "traces"),
                    exist_ok=True)
        path = os.path.join(REPO, ".perfbench_work", "traces",
                            "%s-seed%d.json" % (self.workload, self.seed))
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "spans": tracer.spans}, fh)
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "pdf_parser_spark",
                                       "pipeline.py")):
        print("perfbench: pdf_parser_spark is not under %s" % REPO,
              file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print("perfbench: unknown workload %r (one of %s)"
              % (args.workload, ", ".join(workloads.WORKLOADS)),
              file=sys.stderr)
        return 2
    work = os.path.join(REPO, ".perfbench_work",
                        "%s-%d" % (args.workload, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, the JVM and the workers write inside the
    # checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # no JVM perf-data files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  workloads.REPLICAS[args.workload], work)
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
