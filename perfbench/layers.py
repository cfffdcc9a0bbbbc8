"""The traced run's per-layer pass, run on the workload's own corpus.

Kernels are timed single-process on the driver. A traced pipeline run
over 95% of the corpus (for annotate_dict, of a small slice of it) builds
a store; each Spark operator is then timed by materializing its output on
its own (a ``noop`` write), with its inputs read back from the store's
parquet stages as the pipeline itself reads them, and a traced nightly
ingest folds the other 5% into the store. Job, task, shuffle and spill
figures of each operator come from its own job group."""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from typing import Callable, Dict, List, Optional

import numpy as np

from perfbench import inputs
from perfbench.metrics import OPERATOR_FIELDS
from perfbench.sparkctx import JobCounter
from perfbench.spans import Span, SpanRecorder
from perfbench.trace import traced_engine
from perfbench.workloads import DICTIONARY_KEYWORDS, REPLAY_SAMPLE_DOCS, _read_table

KERNEL_DOCS = 300
KERNEL_REPEATS = 3
FIXED_COST_FILES = 20


def _timed(fn: Callable[[], object], repeats: int = KERNEL_REPEATS) -> float:
    """Median wall seconds of ``repeats`` calls."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_metrics(texts: List[str], rec: SpanRecorder) -> Dict[str, float]:
    """Single-process throughput of the signing kernels on ``texts``."""
    from iamsystem_python_spark.core.tokenize import code_tokenizer
    from iamsystem_python_spark.functions.hashing import (
        TokenIdMap,
        band_hashes_batch,
        minhash_batch,
        minhash_params,
        shingle_hashes,
        simhash_batch,
    )
    from iamsystem_python_spark.plans.config import PipelineConfig

    cfg = PipelineConfig()
    tok = code_tokenizer()
    mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    with rec.span("core.tokenize.norm_tokens_fast"):
        t_tok = _timed(lambda: [tok.norm_tokens_fast(t) for t in texts])
    idmap = TokenIdMap()
    ids = [idmap.ids(tok.norm_tokens_fast(t)) for t in texts]
    with rec.span("functions.hashing.shingle_hashes"):
        t_sh = _timed(lambda: [shingle_hashes(i, cfg.shingle_k) for i in ids])
    sh_lists = [np.unique(shingle_hashes(i, cfg.shingle_k)) for i in ids]
    n_sh = sum(len(shingle_hashes(i, cfg.shingle_k)) for i in ids)
    a, b = minhash_params(cfg.num_perm, cfg.seed)
    with rec.span("functions.hashing.minhash_batch"):
        t_mh = _timed(lambda: minhash_batch(sh_lists, a, b))
    sigs = minhash_batch(sh_lists, a, b)
    with rec.span("functions.hashing.simhash_batch"):
        t_sim = _timed(lambda: simhash_batch(sh_lists))
    # banding is microseconds per batch: time 20 passes per sample
    with rec.span("functions.hashing.band_hashes_batch"):
        t_band = _timed(lambda: [band_hashes_batch(sigs, cfg.num_bands) for _ in range(20)]) / 20
    n = len(texts)
    return {
        "core.tokenize.code_mb_per_s": mb / t_tok,
        "functions.shingle_hashes.mshingles_per_s": n_sh / 1e6 / t_sh,
        "functions.minhash_batch.docs_per_s": n / t_mh,
        "functions.simhash_batch.docs_per_s": n / t_sim,
        "functions.band_hashes_batch.docs_per_s": n / t_band,
    }


class LayerPass:
    def __init__(self, spark, wl, rec: SpanRecorder, counter: JobCounter, work_dir: str):
        self.spark = spark
        self.wl = wl
        self.rec = rec
        self.counter = counter
        self.work_dir = work_dir
        self.metrics: Dict[str, float] = {}
        self.failures: List[str] = []
        self.attempted = 0
        self.plan_spans: Dict[str, Span] = {}
        self.ingest_clusters_sum: Optional[str] = None

    # -- helpers -------------------------------------------------------------

    def _replay(
        self, name: str, build: Callable[[], object], rows_in: int, out_path: Optional[str] = None
    ) -> None:
        """Materialize one operator's output on its own (a ``noop`` write,
        or parquet at ``out_path``) and record its figures under ``name``."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        group = f"replay:{name}"
        self.counter.start(group)
        try:
            with self.rec.span(name, op_id=group) as sp:
                obs = Observation(name.replace(".", "_"))
                writer = build().observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
                if out_path is None:
                    writer.format("noop").save()
                else:
                    writer.parquet(out_path)
                rows_out = int(obs.get["rows"])
        finally:
            self.counter.stop()
        counts = self.counter.counts(group)
        figures = {"s": sp.duration, "rows_in": rows_in, "rows_out": rows_out, **counts}
        for field in OPERATOR_FIELDS:
            self.metrics[f"{name}.{field}"] = figures[field]

    def _traced_plan(self, name: str, fn: Callable[[], None]) -> None:
        """Run one plan with the engine traced; keep its span."""
        with self.rec.span(name, op_id=f"layer:{name}") as sp, traced_engine(self.rec):
            fn()
        self.plan_spans[name] = sp

    def _manifest_rows(self, out_dir: str, stage: str) -> int:
        with open(os.path.join(out_dir, stage, "_MANIFEST.json")) as f:
            return int(json.load(f)["rows"])

    def gate(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    # -- the pass -------------------------------------------------------------

    def run(self) -> Dict[str, float]:
        from iamsystem_python_spark.core.matcher import Matcher
        from iamsystem_python_spark.core.tokenize import english_tokenizer
        from iamsystem_python_spark.operators import annotate, cc, dedup, signatures
        from iamsystem_python_spark.plans.config import PipelineConfig
        from iamsystem_python_spark.plans.ingest import IncrementalIngest
        from iamsystem_python_spark.plans.pipeline import NearDupPipeline
        from pyspark.sql import functions as F

        spark, wl = self.spark, self.wl
        cfg = PipelineConfig(shuffle_partitions=wl.nproc)
        corpus = wl.corpus
        texts = list(corpus.docs.content)
        rng = random.Random(wl.seed)
        kernel_texts = rng.sample(texts, min(KERNEL_DOCS, len(texts)))
        self.metrics.update(kernel_metrics(kernel_texts, self.rec))

        # matcher: the workload's own when it has one (its set-up compiled
        # it), else compile the same dictionary; replay a sample in-process
        matcher = getattr(wl, "matcher", None)
        if matcher is None:
            keywords = inputs.make_dictionary(texts, wl.seed, DICTIONARY_KEYWORDS)
            with self.rec.span("core.matcher.Matcher.build"):
                matcher = Matcher.build(
                    keywords=keywords,
                    tokenizer=english_tokenizer(),
                    abbreviations=inputs.ABBREVIATIONS,
                )
        builds = [s.duration for s in self.rec.named("core.matcher.Matcher.build")]
        self.metrics["core.matcher.build_s"] = statistics.median(builds)
        sample = rng.sample(texts, min(REPLAY_SAMPLE_DOCS, len(texts)))
        with self.rec.span("core.matcher.Matcher.annot_text", docs=len(sample)) as sp:
            for t in sample:
                matcher.annot_text(t)
        self.metrics["core.matcher.annot_text_docs_per_s"] = len(sample) / sp.duration

        # the store: a traced pipeline run over 95% of the corpus; its
        # stages are the inputs the dedup operators are replayed from
        dedup_docs = corpus.docs
        if wl.dedup_layer_files is not None:
            dedup_docs = dedup_docs.sample(
                min(wl.dedup_layer_files, len(dedup_docs)), random_state=wl.seed
            )
        store_in, batch = inputs.split_batch(dedup_docs, wl.seed)
        store_in_path = inputs.write_parquet(store_in, os.path.join(self.work_dir, "store_in"))
        batch_path = inputs.write_parquet(batch, os.path.join(self.work_dir, "batch"))
        store_dir = os.path.join(self.work_dir, "store")
        self._traced_plan(
            "plans.pipeline.NearDupPipeline.run",
            lambda: NearDupPipeline(cfg, use_simhash=True).run(
                spark, spark.read.parquet(store_in_path), store_dir
            ),
        )
        with open(os.path.join(store_dir, "metrics.json")) as f:
            pipe_metrics = json.load(f)
        n_cand = self._manifest_rows(store_dir, "candidates")
        n_ver = self._manifest_rows(store_dir, "verified_pairs")
        self.metrics["operators.dedup.verify_yield"] = n_ver / n_cand if n_cand else 0.0
        self.metrics["operators.cc.rounds"] = pipe_metrics["clusters"]["cc_rounds"]

        def stage(name):
            return spark.read.parquet(os.path.join(store_dir, name))

        def reps():
            return dedup.distinct_content_representatives(stage("signatures"))

        def docs():
            return spark.read.parquet(store_in_path).withColumn(
                "doc_id", F.sha2(F.concat("repo", "path", "commit"), 256)
            )

        self._replay(
            "operators.signatures.add_signatures",
            lambda: signatures.add_signatures(spark.read.parquet(store_in_path), cfg),
            len(store_in),
        )
        n_reps = reps().count()
        self._replay(
            "operators.dedup.lsh_candidate_pairs",
            lambda: dedup.lsh_candidate_pairs(reps(), cfg),
            n_reps,
        )
        self._replay(
            "operators.dedup.simhash_candidate_pairs",
            lambda: dedup.simhash_candidate_pairs(reps(), cfg),
            n_reps,
        )
        self._replay(
            "operators.dedup.verify_pairs_recompute",
            lambda: dedup.verify_pairs_recompute(stage("candidates"), docs(), cfg),
            n_cand,
        )
        self._replay(
            "operators.dedup.expand_pairs_through_exact_groups",
            lambda: dedup.expand_pairs_through_exact_groups(
                stage("verified_pairs"), stage("signatures")
            ),
            n_ver,
        )
        self._replay(
            "operators.cc.connected_components",
            lambda: cc.connected_components(stage("all_pairs").select("doc_a", "doc_b")),
            self._manifest_rows(store_dir, "all_pairs"),
        )

        # nightly ingest: fold the other 5% into the store
        ingest_dir = os.path.join(self.work_dir, "ingest")
        self._traced_plan(
            "plans.ingest.IncrementalIngest.run",
            lambda: IncrementalIngest(cfg, use_simhash=True).run(
                spark,
                spark.read.parquet(batch_path),
                store_dir,
                ingest_dir,
                hist_docs=spark.read.parquet(store_in_path),
            ),
        )
        inc = _read_table(os.path.join(ingest_dir, "clusters"))
        self.ingest_clusters_sum = inputs.clusters_checksum(inc.doc_id, inc.cluster_id)
        self._replay(
            "operators.cc.incremental_connected_components",
            lambda: cc.incremental_connected_components(
                stage("clusters"),
                spark.read.parquet(os.path.join(ingest_dir, "new_pairs")).select("doc_a", "doc_b"),
            ),
            self._manifest_rows(ingest_dir, "new_pairs"),
        )

        # dictionary annotation: a call on a tiny slice of the corpus, whose
        # time is the operator's fixed cost (shipping the matcher, starting
        # the job). For annotate_dict the run replaces the operator's
        # figures with those of its traced operations.
        ann_op = "operators.annotate.annotate"
        ids = list(corpus.docs.doc_id)
        tiny_path = inputs.write_docs(
            spark, corpus, os.path.join(self.work_dir, "tiny"), set(rng.sample(ids, FIXED_COST_FILES))
        )
        ann_dir = os.path.join(self.work_dir, "annotations")
        self._replay(
            ann_op,
            lambda: annotate.annotate(
                spark.read.parquet(tiny_path), matcher, text_col="content", id_cols=["doc_id"]
            ),
            FIXED_COST_FILES,
            out_path=ann_dir,
        )
        self.metrics["operators.annotate.fixed_s"] = self.metrics[f"{ann_op}.s"]
        ann = _read_table(ann_dir, ["doc_id"])
        self.metrics["operators.annotate.matched_doc_share"] = ann.doc_id.nunique() / FIXED_COST_FILES
        self.metrics["operators.annotate.annotations_per_doc"] = len(ann) / FIXED_COST_FILES
        return self.metrics
