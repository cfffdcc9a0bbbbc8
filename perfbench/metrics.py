"""Names, units and directions of every metric the benchmark emits.
BENCHMARK.json lists the same metrics; a test keeps the two in step."""

from __future__ import annotations

OPERATORS = [
    "operators.signatures.add_signatures",
    "operators.dedup.lsh_candidate_pairs",
    "operators.dedup.simhash_candidate_pairs",
    "operators.dedup.verify_pairs_recompute",
    "operators.dedup.expand_pairs_through_exact_groups",
    "operators.cc.connected_components",
    "operators.cc.incremental_connected_components",
    "operators.annotate.annotate",
]
OPERATOR_FIELDS = {
    "s": ("s", "lower"),
    "rows_in": ("count", "lower"),
    "rows_out": ("count", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
}

# name: (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_s": ("s", "lower", 0.25),
    "files_per_s": ("1/s", "higher", 0.25),
    "written_bytes_per_input_byte": ("B/B", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "oracle_recall": ("ratio", "higher", 0.01),
    "ok_op_share": ("ratio", "higher", 0.01),
}

# name: (unit, better)
PER_LAYER = {
    "core.tokenize.code_mb_per_s": ("MB/s", "higher"),
    "core.matcher.annot_text_docs_per_s": ("1/s", "higher"),
    "core.matcher.build_s": ("s", "lower"),
    "functions.shingle_hashes.mshingles_per_s": ("1e6/s", "higher"),
    "functions.minhash_batch.docs_per_s": ("1/s", "higher"),
    "functions.simhash_batch.docs_per_s": ("1/s", "higher"),
    "functions.band_hashes_batch.docs_per_s": ("1/s", "higher"),
    **{
        f"{op}.{field}": unit_better
        for op in OPERATORS
        for field, unit_better in OPERATOR_FIELDS.items()
    },
    "operators.dedup.verify_yield": ("ratio", "higher"),
    "operators.cc.rounds": ("count", "lower"),
    "operators.annotate.matched_doc_share": ("ratio", "higher"),
    "operators.annotate.annotations_per_doc": ("count", "higher"),
    "operators.annotate.fixed_s": ("s", "lower"),
    "plans.pipeline.self_s": ("s", "lower"),
    "plans.pipeline.sign_verify_share": ("ratio", "lower"),
    "plans.ingest.self_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


def emit(values: dict, traced: bool) -> dict:
    """The result's ``metrics`` object. Every metric of the run's kind must
    be present, and no other."""
    spec = PER_LAYER if traced else END_TO_END
    missing = sorted(set(spec) - set(values))
    extra = sorted(set(values) - set(spec))
    if missing or extra:
        raise KeyError(f"metrics missing {missing}, unexpected {extra}")
    return {name: {"value": float(values[name]), "unit": spec[name][0]} for name in spec}
