"""Spans around the engine's public operator functions and Spark writes,
installed only for the duration of one traced operation.

The benchmark never edits the engine: it swaps each function named below
for a wrapper that opens a span and calls the original, then swaps the
original back. The plans call these functions through their module
(``dedup.lsh_candidate_pairs(...)``), so the wrappers see every call.
Operator functions build lazy plans; the Spark work of a stage runs inside
the ``spark.write.parquet`` span of its stage write, and the iterative
connected-components rounds run inside the ``operators.cc.*`` spans.
"""

from __future__ import annotations

import functools
import importlib
import os
from contextlib import contextmanager
from typing import Iterator

from perfbench.spans import Span, SpanRecorder

TRACED_FUNCTIONS = {
    "iamsystem_python_spark.operators.signatures": ["add_signatures", "signing_view"],
    "iamsystem_python_spark.operators.dedup": [
        "exact_dup_groups",
        "distinct_content_representatives",
        "lsh_candidate_pairs",
        "simhash_candidate_pairs",
        "verify_pairs_recompute",
        "expand_pairs_through_exact_groups",
        "lsh_bucket_stats",
    ],
    "iamsystem_python_spark.operators.cc": [
        "connected_components",
        "incremental_connected_components",
    ],
    "iamsystem_python_spark.operators.annotate": ["annotate"],
}


def is_operator_span(span: Span) -> bool:
    """Spans whose time is operator work rather than plan orchestration."""
    return span.name.startswith("operators.") or span.name == "spark.write.parquet"


def _wrap(rec: SpanRecorder, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    return wrapper


@contextmanager
def traced_engine(rec: SpanRecorder) -> Iterator[None]:
    from pyspark.sql.readwriter import DataFrameWriter

    saved = []
    try:
        for mod_name, attrs in TRACED_FUNCTIONS.items():
            mod = importlib.import_module(mod_name)
            short = mod_name.replace("iamsystem_python_spark.", "")
            for attr in attrs:
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, _wrap(rec, f"{short}.{attr}", fn))
        write_parquet = DataFrameWriter.parquet
        saved.append((DataFrameWriter, "parquet", write_parquet))

        @functools.wraps(write_parquet)
        def parquet(self, path, *args, **kwargs):
            with rec.span("spark.write.parquet", stage=os.path.basename(str(path))):
                return write_parquet(self, path, *args, **kwargs)

        DataFrameWriter.parquet = parquet
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)
