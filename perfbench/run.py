"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload full_dedup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Prints the run's host
context as a JSON line, then, as the last line of standard output, the
result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer metrics, and the spans are written to
``.bench_run/<workload>-seed<n>-trace1/spans.jsonl``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics, procinfo, sparkctx  # noqa: E402
from perfbench.metrics import OPERATOR_FIELDS  # noqa: E402
from perfbench.spans import SpanRecorder  # noqa: E402
from perfbench.stats import summary  # noqa: E402
from perfbench.trace import is_operator_span, traced_engine  # noqa: E402
from perfbench.workloads import WORKLOADS, Check, dir_bytes  # noqa: E402

# the pipeline stages whose Spark work runs the signing and verification
# kernels (operators.signatures, operators.dedup.verify_pairs_recompute)
SIGN_VERIFY_STAGES = ("signatures", "verified_pairs")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_engine() -> None:
    """The benchmark measures the engine beside it; without one it fails
    before starting anything."""
    for rel in ("iamsystem_python_spark/__init__.py", "bench.py"):
        if not (ROOT / rel).is_file():
            sys.exit(f"perfbench: {ROOT / rel} not found; run from a checkout of the repository")


class Run:
    """Set-up, warm-up, the timed loop and (traced) the per-layer pass of
    one workload in one Spark session."""

    def __init__(self, args, run_dir: Path):
        self.args = args
        self.run_dir = run_dir
        self.traced = bool(args.trace)
        self.rec = SpanRecorder()
        self.wl = WORKLOADS[args.workload](args.seed, procinfo.nproc())
        self.attempted = 0
        self.failures = []

    def setup(self) -> float:
        """Build the workload's inputs and oracles; returns the seconds."""
        with self.rec.span("setup", op_id="setup") as sp:
            self.wl.setup(self.spark, str(self.run_dir / "inputs"), self.rec)
        return sp.duration

    def op(self, i: int, traced: bool):
        """One operation and its gates; returns (seconds, written bytes, Check)."""
        out_dir = str(self.run_dir / "ops" / f"op{i}")
        op_id = f"op{i}"
        self.attempted += 1
        if traced:
            self.counter.start(op_id)
            try:
                with self.rec.span(f"op.{self.wl.name}", op_id=op_id) as sp, traced_engine(self.rec):
                    dt, written = self._execute(out_dir)
            finally:
                self.counter.stop()
            sp.attrs.update(self.counter.counts(op_id))
        else:
            dt, written = self._execute(out_dir)
        check = self._check(out_dir) if dt is not None else Check(False, 0.0, "operation raised")
        if traced:
            sp.attrs.update(check.outputs)
        if not check.ok:
            self.failures.append(f"{op_id}: {check.detail}")
        shutil.rmtree(out_dir, ignore_errors=True)
        return dt, written, check

    def _execute(self, out_dir: str):
        t0 = time.perf_counter()
        try:
            self.wl.run_op(self.spark, out_dir)
        except Exception:
            traceback.print_exc()
            return None, dir_bytes(out_dir)
        return time.perf_counter() - t0, dir_bytes(out_dir)

    def _check(self, out_dir: str) -> Check:
        try:
            return self.wl.check(out_dir)
        except Exception:
            traceback.print_exc()
            return Check(False, 0.0, "output unreadable")

    def measure(self, spark, spark_start_s: float) -> dict:
        from perfbench.layers import LayerPass

        self.spark = spark
        inputs_s = self.setup()
        layer = None
        if self.traced:
            self.counter = sparkctx.JobCounter(spark)
            layer = LayerPass(spark, self.wl, self.rec, self.counter, str(self.run_dir / "layers"))
            layer.run()
        warm_s = 0.0
        for i in range(self.wl.warmup_ops):
            dt, _, _ = self.op(i, traced=False)
            warm_s += dt or 0.0
        times, traced_times, written, recalls = [], [], [], []
        with procinfo.PeakRss() as rss:
            start = time.perf_counter()
            i = self.wl.warmup_ops
            # a traced run alternates traced and untraced operations, at
            # least one of each, so the tracing overhead is measured within
            # one process and input
            while (
                time.perf_counter() - start < self.args.seconds
                or not times
                or (self.traced and not traced_times)
            ):
                traced = self.traced and (i - self.wl.warmup_ops) % 2 == 0
                dt, nbytes, check = self.op(i, traced)
                if dt is not None:
                    (traced_times if traced else times).append(dt)
                written.append(nbytes)
                recalls.append(check.recall)
                i += 1
        if not times:
            raise RuntimeError("every operation raised")
        info = {
            "workload": self.wl.name,
            "n_files": self.wl.corpus.n_files,
            "content_bytes": self.wl.corpus.content_bytes,
            "spark_start_s": spark_start_s,
            "inputs_s": inputs_s,
            "warmup_s": warm_s,
            "op_s": summary(times),
            "peak_rss_processes": rss.peak_processes,
        }
        if self.traced:
            values = self.layers(layer, times, traced_times)
            info["traced_op_s"] = summary(traced_times)
        else:
            n_files, n_bytes = self.wl.corpus.n_files, self.wl.corpus.content_bytes
            op_s = statistics.median(times)
            values = {
                "setup_s": spark_start_s + inputs_s + warm_s,
                "op_s": op_s,
                "files_per_s": n_files / op_s,
                "written_bytes_per_input_byte": statistics.median(written) / n_bytes,
                "peak_rss_mb": rss.peak_bytes / (1 << 20),
                "oracle_recall": statistics.median(recalls),
                "ok_op_share": 1.0 - len(self.failures) / self.attempted,
            }
        info["values"] = values
        return info

    def stage_writes_s(self, plan_span, stages) -> float:
        """Seconds the plan run of ``plan_span`` spent writing ``stages``."""
        return sum(
            s.duration
            for s in self.rec.spans
            if s.op_id == plan_span.op_id
            and s.name == "spark.write.parquet"
            and s.attrs.get("stage") in stages
        )

    def layers(self, layer, times, traced_times) -> dict:
        """The per-layer metrics: the layer pass's, and those read from the
        workload's traced operations."""
        values = dict(layer.metrics)
        op_spans = self.rec.named(f"op.{self.wl.name}")
        # a full_dedup operation is a full rebuild over the ingest's store
        # and batch: their cluster assignments must agree
        full_sum = getattr(self.wl, "clusters_sum", None)
        if full_sum is not None:
            layer.gate(
                layer.ingest_clusters_sum == full_sum,
                "ingest clusters != full rebuild over store + batch",
            )
        self.attempted += layer.attempted
        self.failures.extend(layer.failures)
        # full_dedup's own operations are warm pipeline runs; other
        # workloads have only the layer pass's store build
        pipelines = op_spans if self.wl.name == "full_dedup" else [
            layer.plan_spans["plans.pipeline.NearDupPipeline.run"]
        ]
        values["plans.pipeline.self_s"] = statistics.median(
            self.rec.self_time(sp, is_operator_span) for sp in pipelines
        )
        values["plans.pipeline.sign_verify_share"] = statistics.median(
            self.stage_writes_s(sp, SIGN_VERIFY_STAGES) / sp.duration for sp in pipelines
        )
        values["plans.ingest.self_s"] = self.rec.self_time(
            layer.plan_spans["plans.ingest.IncrementalIngest.run"], is_operator_span
        )
        if hasattr(self.wl, "docs_path"):
            # annotate_dict's operations are one annotate call each over its
            # whole input: the operator's figures are theirs
            op = "operators.annotate.annotate"
            n_docs = self.wl.corpus.n_files
            figures = {"s": [s.duration for s in op_spans], "rows_in": [n_docs]}
            for field in ("rows_out", "jobs", "tasks", "shuffle_bytes", "spill_bytes"):
                figures[field] = [s.attrs[field] for s in op_spans]
            for field in OPERATOR_FIELDS:
                values[f"{op}.{field}"] = statistics.median(figures[field])
            matched = statistics.median(s.attrs["matched_docs"] for s in op_spans)
            values["operators.annotate.matched_doc_share"] = matched / n_docs
            values["operators.annotate.annotations_per_doc"] = values[f"{op}.rows_out"] / n_docs
        values["spark.jobs"] = statistics.median(s.attrs["jobs"] for s in op_spans)
        values["spark.tasks"] = statistics.median(s.attrs["tasks"] for s in op_spans)
        values["trace.overhead_ratio"] = statistics.median(traced_times) / statistics.median(times)
        return values


def main(argv=None) -> int:
    args = parse_args(argv)
    require_engine()
    run_dir = ROOT / ".bench_run" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    context = procinfo.host_context()
    context.update(workload=args.workload, seed=args.seed, trace=args.trace)

    run = Run(args, run_dir)
    t0 = time.perf_counter()
    spark = sparkctx.build_session(str(run_dir), str(ROOT), run.traced)
    spark_start_s = time.perf_counter() - t0
    try:
        info = run.measure(spark, spark_start_s)
    finally:
        sparkctx.shutdown(spark)
        context["loadavg_end"] = list(os.getloadavg())
        if run.traced:
            run.rec.write(str(run_dir / "spans.jsonl"))
        for sub in ("inputs", "ops", "layers", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)
        (run_dir / "context.json").write_text(json.dumps(context, indent=2))

    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics.emit(info.pop("values"), run.traced),
    }
    (run_dir / "result.json").write_text(
        json.dumps({**result, **info, "failures": run.failures}, indent=2)
    )
    for f in run.failures:
        print(f"perfbench: failed: {f}", file=sys.stderr)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
