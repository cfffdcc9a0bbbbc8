"""Distributed annotation: the Spark surface of the reference's hot path.

``annotate(df, matcher, text_col)`` ≡ one ``matcher.annot_text`` per row
(/root/reference/src/iamsystem/matcher/matcher.py:291-301), executed as a
single ``mapInPandas`` pass. By default (``use_broadcast=True``) the
compiled Matcher (trie + fuzzy config + stopwords) is cloudpickled once on
the driver and shipped as a Spark broadcast; each Python worker unpickles a
given payload once and keeps it in a small memo keyed by the payload's
digest. ``use_broadcast=False`` captures the matcher in the UDF closure
instead, so it rides inside every serialized task. All per-token work
happens inside the Arrow batch.

Output: one row per annotation (exploded), carrying provenance columns —
the DataFrame re-expression of ``Annotation`` objects
(annotation.py:33-187):

  (id_cols..., start, end, start_i, end_i, label, norm_label,
   kw_labels: array<string>, kb_ids: array<string>,
   algos: array<array<string>>, brat_offsets: string)

Scale: the dictionary is the small side (≤ millions of keywords) — compiled
once on the driver, shipped once per executor. Documents are the 10^12-scale
side and stream through in Arrow batches. No shuffle is introduced; the
operator is a narrow map.
"""

from __future__ import annotations

import collections
import hashlib

from typing import Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iamsystem_python_spark.core.matcher import Matcher

# Worker-side memo: digest of a broadcast payload (bytes) → deserialized
# matcher. PySpark's per-worker _broadcastRegistry caches the *bytes* of a
# broadcast across tasks; this memo caches the cloudpickle.loads on top.
# Every annotate call makes a new broadcast, but pickling an unchanged
# matcher gives the same bytes, so keying by content lets a Python worker
# reuse its resident matcher across calls (and tasks), while a changed
# dictionary misses. Bounded LRU so a long-running service cycling many
# matchers doesn't accrete.
_WORKER_MATCHER_MEMO: "collections.OrderedDict[bytes, Matcher]" = (
    collections.OrderedDict()
)
_WORKER_MATCHER_MEMO_CAP = 8


def _broadcast_matcher(df: DataFrame, matcher: Matcher):
    """Ship the matcher as a broadcast of cloudpickle bytes (plain pickle —
    what sc.broadcast uses for objects — cannot serialize the tokenizer's
    split closures; cloudpickle handles any matcher a closure capture
    could)."""
    import pickle

    from pyspark import cloudpickle

    payload = cloudpickle.dumps(matcher, protocol=pickle.HIGHEST_PROTOCOL)
    return df.sparkSession.sparkContext.broadcast(payload)


def _resolve_matcher(bc) -> Matcher:
    from pyspark import cloudpickle

    blob = bc.value  # bytes, cached per worker by pyspark's registry
    key = hashlib.blake2b(blob, digest_size=16).digest()
    m = _WORKER_MATCHER_MEMO.get(key)
    if m is not None:
        _WORKER_MATCHER_MEMO.move_to_end(key)
        return m
    m = cloudpickle.loads(blob)
    _WORKER_MATCHER_MEMO[key] = m
    if len(_WORKER_MATCHER_MEMO) > _WORKER_MATCHER_MEMO_CAP:
        _WORKER_MATCHER_MEMO.popitem(last=False)
    return m


def _exact_prefilter(matcher: Matcher, enabled: bool):
    """Return a ``skip(text) -> bool`` fast path, or None.

    For EXACT-ONLY matchers (no fuzzy algos beyond ExactMatch), a document
    whose normalized tokens are disjoint from the trie root's children
    cannot produce any annotation — the first state transition always
    consumes a root child, and fuzzy synonyms are the only way a
    non-dictionary token can transition.  The check is an O(tokens)
    set-membership scan using the tokenizer's exact split+normalize
    (``norm_labels_iter`` — no Token construction, early exit on first
    hit), so web-scale corpora where most documents match nothing skip the
    whole automaton.  Disabled automatically when any fuzzy algo is
    configured (a fuzzy synonym can map an out-of-vocabulary token onto a
    root child)."""
    from iamsystem_python_spark.core.fuzzy import ExactMatch

    if not enabled:
        return None
    if not all(type(a) is ExactMatch for a in matcher.fuzzy_algos):
        return None
    norm_labels_iter = getattr(matcher.tokenizer, "norm_labels_iter", None)
    if norm_labels_iter is None:
        return None
    roots = frozenset(matcher.trie.root.children)

    def skip(text: str) -> bool:
        return not any(t in roots for t in norm_labels_iter(text))

    return skip


ANNOTATION_FIELDS = [
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("start_i", T.IntegerType()),
    T.StructField("end_i", T.IntegerType()),
    T.StructField("label", T.StringType()),
    T.StructField("norm_label", T.StringType()),
    T.StructField("kw_labels", T.ArrayType(T.StringType())),
    T.StructField("kb_ids", T.ArrayType(T.StringType())),
    T.StructField("algos", T.ArrayType(T.ArrayType(T.StringType()))),
    T.StructField("brat_offsets", T.StringType()),
]


def annotate(
    df: DataFrame,
    matcher: Matcher,
    text_col: str = "content",
    id_cols: Optional[Sequence[str]] = None,
    prefilter: bool = True,
    use_broadcast: bool = True,
) -> DataFrame:
    """Annotate ``df[text_col]`` with the compiled matcher; returns one row
    per annotation with ``id_cols`` carried through.  ``prefilter=True``
    enables the exact-only unigram skip (see ``_exact_prefilter``) — a
    no-op for fuzzy-configured matchers.

    ``use_broadcast=True`` ships the compiled matcher as a Spark broadcast
    variable instead of a closure capture: the dictionary then travels
    torrent-style once per executor and unpickles once per Python worker
    and payload (see ``_WORKER_MATCHER_MEMO``), instead of riding inside
    every serialized task.  For a 300K-keyword matcher on a 1000-executor
    cluster that is the difference between per-task and per-worker
    deserialization cost."""
    id_cols = list(id_cols) if id_cols is not None else [
        c for c in df.columns if c != text_col
    ]
    in_schema = df.select(*id_cols, text_col).schema
    out_schema = T.StructType(
        [in_schema[c] for c in id_cols] + ANNOTATION_FIELDS
    )

    ann_names = [f.name for f in ANNOTATION_FIELDS]
    bc = _broadcast_matcher(df, matcher) if use_broadcast else None
    # the closure must not capture `matcher` when broadcasting, or the
    # pickle still rides in every task — capture a None placeholder instead
    matcher_ref = None if bc is not None else matcher

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = _resolve_matcher(bc) if bc is not None else matcher_ref
        skip = _exact_prefilter(matcher, prefilter)
        # Columnar accumulation: one list per output column plus a source-row
        # index, materialized with a single vectorized .iloc take for the
        # id columns — no per-annotation dict construction inside the Arrow
        # batch (the matcher itself is inherently per-document).
        for pdf in batches:
            src_idx: List[int] = []
            cols: List[list] = [[] for _ in ann_names]
            (c_start, c_end, c_start_i, c_end_i, c_label, c_norm,
             c_kw, c_kb, c_algos, c_brat) = cols
            texts = pdf[text_col].tolist()
            for row_i, text in enumerate(texts):
                if text is None:
                    continue
                if skip is not None and skip(text):
                    continue
                for a in matcher.annot_text(text):
                    src_idx.append(row_i)
                    c_start.append(a.start)
                    c_end.append(a.end)
                    c_start_i.append(a.start_i)
                    c_end_i.append(a.end_i)
                    c_label.append(a.tokens_label)
                    c_norm.append(a.tokens_norm_label)
                    c_kw.append([lab for lab, _ in a._keywords])
                    c_kb.append([kb for _, kb in a._keywords if kb is not None])
                    c_algos.append(a.algos)
                    c_brat.append(a.brat_text_and_offsets("contseq")[1])
            out = pdf.iloc[src_idx][id_cols].reset_index(drop=True)
            for name, vals in zip(ann_names, cols):
                # object dtype keeps list-valued cells intact; scalars are
                # converted by Arrow per the declared schema either way
                out[name] = pd.Series(vals, dtype=object, index=out.index)
            yield out[[*id_cols, *ann_names]]

    return df.select(*id_cols, text_col).mapInPandas(kernel, schema=out_schema)


def contains_keyword(
    df: DataFrame,
    matcher: Matcher,
    text_col: str = "content",
    prefilter: bool = True,
    use_broadcast: bool = True,
) -> DataFrame:
    """Filter: rows whose text contains ≥1 dictionary match — the minimal
    end-to-end slice of SURVEY.md §7.3 ('find all files containing keyword
    X, fuzzy'). Implemented as a boolean mapInPandas column so the filter
    short-circuits inside the kernel (first match wins; exact-only
    matchers additionally skip the automaton via ``_exact_prefilter``).
    ``use_broadcast``: see :func:`annotate`."""
    bc = _broadcast_matcher(df, matcher) if use_broadcast else None
    matcher_ref = None if bc is not None else matcher

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = _resolve_matcher(bc) if bc is not None else matcher_ref
        skip = _exact_prefilter(matcher, prefilter)
        for pdf in batches:
            flags = []
            for text in pdf[text_col].tolist():
                if text is None:
                    flags.append(False)
                    continue
                if skip is not None and skip(text):
                    flags.append(False)
                    continue
                flags.append(bool(matcher.annot_text(text)))
            out = pdf.copy()
            out["_match"] = flags
            yield out

    schema = T.StructType(df.schema.fields + [T.StructField("_match", T.BooleanType())])
    return df.mapInPandas(kernel, schema=schema).where(F.col("_match")).drop("_match")
