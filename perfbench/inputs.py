"""Workload inputs and the oracles their outputs are checked against.

Every input is a function of the workload seed: the code corpus comes from
``sources.codegen.generate_corpus_df``, the keyword dictionary and the
replay sample from ``random.Random(seed)``. The oracles run outside Spark:
the near-duplicate oracle shares no code with the engine's tokenizer or
hashing; the annotation oracle is the engine's own single-process
``Matcher.annot_text``, which the Spark operator must reproduce.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional, Sequence, Set, Tuple

import numpy as np
import pandas as pd

Pair = Tuple[str, str]

# The engine's code tokenizer pattern (core/tokenize.py, code_tokenizer),
# restated so the oracle does not run the engine's tokenizer.
_CODE_TOKEN = re.compile(r"[A-Za-z_][A-Za-z_0-9]*|\d+|[^\sA-Za-z_0-9]")
_WORD = re.compile(r"\w+")

# short form found in the generated code → long form used in keywords, so
# the abbreviation algorithm has work to do on this corpus
ABBREVIATIONS = [
    ("int", "integer"),
    ("def", "define"),
    ("const", "constant"),
    ("var", "variable"),
    ("char", "character"),
    ("struct", "structure"),
    ("async", "asynchronous"),
    ("config", "configuration"),
]


@dataclass
class Corpus:
    """A generated corpus written as parquet, plus a driver-side copy of
    what the oracles need."""

    path: str
    docs: pd.DataFrame  # repo, path, commit, lang, content, doc_id, sha256
    content_bytes: int

    @property
    def n_files(self) -> int:
        return len(self.docs)

    def fingerprint(self) -> str:
        """Hash over the sorted per-file content hashes and ids."""
        h = hashlib.sha256()
        for doc_id, sha in sorted(zip(self.docs.doc_id, self.docs.sha256)):
            h.update(f"{doc_id}:{sha}\n".encode())
        return h.hexdigest()


def doc_id_of(repo: str, path: str, commit: str) -> str:
    """The engine's doc id, sha2(repo || path || commit)."""
    return hashlib.sha256(f"{repo}{path}{commit}".encode()).hexdigest()


def make_corpus(spark, n_files: int, seed: int, path: str, partitions: int) -> Corpus:
    """Generate ``n_files`` files with the engine's synthetic generator
    (planted exact and near duplicates, ~30% of rows in one mega-repo) and
    write them to ``path`` as parquet."""
    import pyarrow.parquet as pq

    from iamsystem_python_spark.sources.codegen import generate_corpus_df

    generate_corpus_df(spark, n_files, seed=seed, partitions=partitions).drop(
        "cluster_id"
    ).write.mode("overwrite").parquet(path)
    docs = pq.read_table(path).to_pandas()
    docs["doc_id"] = [
        doc_id_of(r, p, c) for r, p, c in zip(docs.repo, docs.path, docs.commit)
    ]
    encoded = [c.encode("utf-8") for c in docs.content]
    docs["sha256"] = [hashlib.sha256(b).hexdigest() for b in encoded]
    return Corpus(path=path, docs=docs, content_bytes=sum(map(len, encoded)))


def split_batch(docs: pd.DataFrame, seed: int, share: float = 0.05) -> Tuple[pd.DataFrame, pd.DataFrame]:
    """(store part, batch part) of a corpus's ``docs``: a seeded ``share``
    of the files is the nightly batch, the rest the persisted store."""
    rng = random.Random(seed)
    n = len(docs)
    batch_idx = set(rng.sample(range(n), max(1, int(n * share))))
    mask = np.array([i in batch_idx for i in range(n)])
    cols = ["repo", "path", "commit", "lang", "content"]
    return docs.loc[~mask, cols], docs.loc[mask, cols]


def write_docs(spark, corpus: Corpus, path: str, doc_ids: Optional[Set[str]] = None) -> str:
    """(doc_id, content) of the corpus, or of the files in ``doc_ids``,
    written by Spark with the corpus's partitioning."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(corpus.path).select(
        F.sha2(F.concat("repo", "path", "commit"), 256).alias("doc_id"), "content"
    )
    if doc_ids is not None:
        df = df.where(F.col("doc_id").isin(sorted(doc_ids)))
    df.write.mode("overwrite").parquet(path)
    return path


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, "part-00000.parquet"),
    )
    return path


# -- near-duplicate oracle ----------------------------------------------------


def _shingle_rows(text: str, k: int, vocab: Dict[str, int]) -> np.ndarray:
    """Distinct k-token shingles of ``text`` as rows of token ids, padded
    with -1 to width k (a document shorter than k is one shingle, as in
    the engine)."""
    toks = _CODE_TOKEN.findall(text.lower())
    if not toks:
        return np.empty((0, k), dtype=np.int32)
    ids = np.fromiter((vocab.setdefault(t, len(vocab)) for t in toks), np.int32, len(toks))
    width = min(k, len(ids))
    rows = np.lib.stride_tricks.sliding_window_view(ids, width)
    if width < k:
        rows = np.hstack([rows, np.full((len(rows), k - width), -1, np.int32)])
    return np.unique(rows, axis=0)


def oracle_pairs(docs: pd.DataFrame, k: int, threshold: float) -> Set[Pair]:
    """Every duplicate pair (doc_a < doc_b) by exact all-pairs Jaccard over
    distinct k-token shingle sets, at the pipeline's shingle config:
    identical content is a pair; distinct contents with Jaccard ≥
    ``threshold`` make every cross pair of their copies a pair."""
    import duckdb

    groups: Dict[str, List[str]] = {}
    for doc_id, sha in zip(docs.doc_id, docs.sha256):
        groups.setdefault(sha, []).append(doc_id)
    for members in groups.values():
        members.sort()
    content_of = dict(zip(docs.sha256, docs.content))
    shas = sorted(groups)

    vocab: Dict[str, int] = {}
    per_doc = [_shingle_rows(content_of[s], k, vocab) for s in shas]
    sizes = np.array([len(r) for r in per_doc], dtype=np.int64)
    all_rows = np.concatenate(per_doc) if per_doc else np.empty((0, k), np.int32)
    rows_void = np.ascontiguousarray(all_rows).view(np.dtype((np.void, 4 * k))).ravel()
    _, sh_ids = np.unique(rows_void, return_inverse=True)
    incidence = pd.DataFrame(
        {"d": np.repeat(np.arange(len(shas)), sizes), "s": sh_ids.astype(np.int64)}
    )
    con = duckdb.connect()
    try:
        con.register("incidence", incidence)
        inter = con.execute(
            "SELECT a.d AS a, b.d AS b, count(*) AS n FROM incidence a "
            "JOIN incidence b ON a.s = b.s AND a.d < b.d GROUP BY a.d, b.d"
        ).fetchnumpy()
    finally:
        con.close()
    a, b, n = inter["a"], inter["b"], inter["n"]
    union = sizes[a] + sizes[b] - n
    keep = n / union >= threshold  # the engine's test, inter / union >= threshold

    pairs: Set[Pair] = set()
    for members in groups.values():
        for i, x in enumerate(members):
            for y in members[i + 1 :]:
                pairs.add((x, y))
    for i, j in zip(a[keep], b[keep]):
        for x in groups[shas[i]]:
            for y in groups[shas[j]]:
                pairs.add((min(x, y), max(x, y)))
    return pairs


def pair_recall(oracle: Set[Pair], cluster_of: Dict[str, str]) -> float:
    """Share of oracle pairs whose two documents share a cluster."""
    if not oracle:
        return 1.0
    found = sum(
        1
        for x, y in oracle
        if cluster_of.get(x) is not None and cluster_of.get(x) == cluster_of.get(y)
    )
    return found / len(oracle)


def components(pairs: Iterable[Pair]) -> Dict[str, str]:
    """Connected components of an edge list, as the engine labels them:
    every document in some pair maps to the smallest document id of its
    component."""
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def clusters_checksum(doc_ids: Sequence[str], cluster_ids: Sequence[str]) -> str:
    h = hashlib.sha256()
    for d, c in sorted(zip(doc_ids, cluster_ids)):
        h.update(f"{d}\t{c}\n".encode())
    return h.hexdigest()


# -- dictionary annotation ----------------------------------------------------


def make_dictionary(
    texts: Sequence[str], seed: int, n_keywords: int = 50_000
) -> List[Tuple[str, str]]:
    """``n_keywords`` distinct 3-5 word keywords with kb ids. A fifth are
    word n-grams cut from the corpus (so they match), a third of those with
    words replaced by the long form of an abbreviation (so they match only
    through the abbreviation algorithm); the rest are random word
    combinations from the corpus vocabulary (mostly misses, but they fill
    the trie). On 600 generated files this gives ~47 annotations per file."""
    rng = random.Random(seed)
    long_form = dict(ABBREVIATIONS)
    doc_words = [ws for ws in (_WORD.findall(t.lower()) for t in texts) if len(ws) >= 5]
    if not doc_words:
        raise ValueError("corpus has no document with five or more words")
    vocab = sorted({w for ws in doc_words for w in ws})
    labels: Set[str] = set()
    while len(labels) < n_keywords:
        size = rng.randint(3, 5)
        if rng.random() < 0.2:
            ws = rng.choice(doc_words)
            i = rng.randrange(len(ws) - size + 1)
            words = ws[i : i + size]
            if rng.random() < 1 / 3:
                words = [long_form.get(w, w) for w in words]
        else:
            words = [rng.choice(vocab) for _ in range(size)]
        labels.add(" ".join(words))
    return [(label, f"KB{i:06d}") for i, label in enumerate(sorted(labels))]


def annotation_rows(doc_id: str, annots: Iterable) -> List[tuple]:
    """The compared fields of one document's annotations, as the Spark
    operator emits them (start, end, norm_label, kw_labels, algos)."""
    return [
        (
            doc_id,
            int(a.start),
            int(a.end),
            a.tokens_norm_label,
            tuple(lab for lab, _ in a._keywords),
            tuple(tuple(x) for x in a.algos),
        )
        for a in annots
    ]


def annotations_checksum(rows: Iterable[tuple]) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()
