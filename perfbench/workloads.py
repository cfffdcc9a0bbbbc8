"""The benchmark's workloads: what one operation is, its set-up, and the
correctness gates its output must pass.

Each workload's input is as large as a full evaluation's time budget
allows (one operation of ~10 s on a 4-core machine); the count of files
is fixed, so throughput compares across commits at one stated input size.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from perfbench import inputs
from perfbench.spans import SpanRecorder

# Files per workload input. full_dedup: one warm pipeline run takes ~10-13 s
# at local[4]; the signatures and verified_pairs stages are about a third
# of it, per-stage fixed cost most of the rest. annotate_dict: ~10-13 s,
# of which shipping the compiled 50k-keyword matcher to the workers and
# starting the job take 35-70%. Larger inputs do not fit a full
# evaluation's time budget (4 + 22 runs per workload in 3,420 s).
FULL_DEDUP_FILES = 2500
ANNOTATE_FILES = 1000
DICTIONARY_KEYWORDS = 50_000
REPLAY_SAMPLE_DOCS = 40
RECALL_GATE = 0.99


@dataclass
class Check:
    """Outcome of the correctness gates on one operation's output."""

    ok: bool
    recall: float
    detail: str = ""
    # counts of the output the gates read, kept on a traced operation's span
    outputs: Dict[str, int] = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def _read_table(path: str, columns: Optional[List[str]] = None):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pandas()


class FullDedup:
    """One ``NearDupPipeline.run`` over the whole corpus, SimHash on, with
    ``PipelineConfig`` at its defaults except the signature stage's
    partition count, which is sized to the machine (``nproc``)."""

    name = "full_dedup"
    # the first operation compiles most of Spark's generated code and runs
    # ~1.7x as long as the next
    warmup_ops = 1
    # a traced run measures the dedup layers on the whole corpus
    dedup_layer_files = None

    def __init__(self, seed: int, nproc: int):
        self.seed = seed
        self.nproc = nproc

    def setup(self, spark, inputs_dir: str, rec: SpanRecorder) -> None:
        from iamsystem_python_spark.plans.config import PipelineConfig

        self.cfg = PipelineConfig(shuffle_partitions=self.nproc)
        with rec.span("sources.codegen.generate_corpus_df"):
            self.corpus = inputs.make_corpus(
                spark, FULL_DEDUP_FILES, self.seed, os.path.join(inputs_dir, "corpus"), self.nproc
            )
        with rec.span("oracle.all_pairs_jaccard"):
            self.oracle = inputs.oracle_pairs(
                self.corpus.docs, self.cfg.shingle_k, self.cfg.jaccard_threshold
            )
        self.expected_sha = dict(zip(self.corpus.docs.doc_id, self.corpus.docs.sha256))

    def run_op(self, spark, out_dir: str) -> None:
        from iamsystem_python_spark.plans.pipeline import NearDupPipeline

        NearDupPipeline(self.cfg, use_simhash=True).run(
            spark, spark.read.parquet(self.corpus.path), out_dir
        )

    def check(self, out_dir: str) -> Check:
        sig = _read_table(os.path.join(out_dir, "signatures"), ["doc_id", "sha256"])
        got = dict(zip(sig.doc_id, sig.sha256))
        if len(sig) != len(got) or got != self.expected_sha:
            bad = sum(1 for d, s in self.expected_sha.items() if got.get(d) != s)
            return Check(False, 0.0, f"signatures: {bad} rows whose sha256 != sha2(content)")
        # precision: the engine verifies exact Jaccard at the oracle's
        # threshold, so every pair it keeps is an oracle pair
        ap = _read_table(os.path.join(out_dir, "all_pairs"), ["doc_a", "doc_b"])
        pairs = list(zip(ap.doc_a, ap.doc_b))
        extra = sum(1 for p in pairs if p not in self.oracle)
        cl = _read_table(os.path.join(out_dir, "clusters"))
        cluster_of = dict(zip(cl.doc_id, cl.cluster_id))
        # the traced run gates the nightly ingest against this full rebuild
        self.clusters_sum = inputs.clusters_checksum(cl.doc_id, cl.cluster_id)
        recall = inputs.pair_recall(self.oracle, cluster_of)
        if extra:
            return Check(False, recall, f"all_pairs: {extra} of {len(pairs)} pairs not in the oracle")
        if len(cl) != len(cluster_of) or cluster_of != inputs.components(pairs):
            return Check(False, recall, "clusters != connected components of all_pairs")
        if recall < RECALL_GATE:
            return Check(False, recall, f"dup_pair_recall {recall:.4f} < {RECALL_GATE}")
        return Check(True, recall)


class AnnotateDict:
    """One ``operators.annotate.annotate`` pass over a corpus slice with a
    50k-keyword dictionary (exact + abbreviations), output written."""

    name = "annotate_dict"
    warmup_ops = 1
    # the dedup layers belong to full_dedup: a traced run measures them
    # here on a small slice only, so that every traced run reports them
    dedup_layer_files = 300

    def __init__(self, seed: int, nproc: int):
        self.seed = seed
        self.nproc = nproc

    def setup(self, spark, inputs_dir: str, rec: SpanRecorder) -> None:
        import random

        from iamsystem_python_spark.core.matcher import Matcher
        from iamsystem_python_spark.core.tokenize import english_tokenizer

        with rec.span("sources.codegen.generate_corpus_df"):
            self.corpus = inputs.make_corpus(
                spark, ANNOTATE_FILES, self.seed, os.path.join(inputs_dir, "corpus"), self.nproc
            )
            self.docs_path = inputs.write_docs(spark, self.corpus, os.path.join(inputs_dir, "docs"))
        with rec.span("dictionary.generate"):
            self.keywords = inputs.make_dictionary(
                list(self.corpus.docs.content), self.seed, DICTIONARY_KEYWORDS
            )
        with rec.span("core.matcher.Matcher.build"):
            self.matcher = Matcher.build(
                keywords=self.keywords,
                tokenizer=english_tokenizer(),
                abbreviations=inputs.ABBREVIATIONS,
            )
        rng = random.Random(self.seed)
        self.sample = rng.sample(range(self.corpus.n_files), REPLAY_SAMPLE_DOCS)
        with rec.span("core.matcher.Matcher.annot_text", docs=len(self.sample)):
            self.replay_rows = self.replay()
        self.sample_ids = {self.corpus.docs.doc_id.iloc[i] for i in self.sample}
        self.replay_sum = inputs.annotations_checksum(self.replay_rows)

    def replay(self) -> List[tuple]:
        """Single-process ``Matcher.annot_text`` over the seeded sample."""
        rows: List[tuple] = []
        docs = self.corpus.docs
        for i in self.sample:
            text = docs.content.iloc[i]
            rows.extend(inputs.annotation_rows(docs.doc_id.iloc[i], self.matcher.annot_text(text)))
        return rows

    def run_op(self, spark, out_dir: str) -> None:
        from iamsystem_python_spark.operators.annotate import annotate

        annotate(
            spark.read.parquet(self.docs_path),
            self.matcher,
            text_col="content",
            id_cols=["doc_id"],
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "annotations"))

    def check(self, out_dir: str) -> Check:
        from collections import Counter

        ann = _read_table(os.path.join(out_dir, "annotations"))
        outputs = {"rows_out": len(ann), "matched_docs": ann.doc_id.nunique()}
        part = ann[ann.doc_id.isin(self.sample_ids)]
        got = [
            (d, int(s), int(e), n, tuple(k), tuple(tuple(x) for x in a))
            for d, s, e, n, k, a in zip(
                part.doc_id, part.start, part.end, part.norm_label, part.kw_labels, part.algos
            )
        ]
        want = Counter(self.replay_rows)
        found = sum((Counter(got) & want).values())
        recall = found / len(self.replay_rows) if self.replay_rows else 1.0
        if inputs.annotations_checksum(got) != self.replay_sum:
            return Check(
                False,
                recall,
                f"annotations on the replay sample differ: {len(got)} vs {len(self.replay_rows)} replayed",
                outputs,
            )
        return Check(True, recall, outputs=outputs)


WORKLOADS: Dict[str, type] = {w.name: w for w in (FullDedup, AnnotateDict)}
