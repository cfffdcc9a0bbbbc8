import itertools
import os
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import inputs, procinfo


def _docs(contents):
    rows = []
    for i, c in enumerate(contents):
        repo, path, commit = "r", f"f{i}.py", "c"
        rows.append(
            {
                "content": c,
                "doc_id": inputs.doc_id_of(repo, path, commit),
                "sha256": __import__("hashlib").sha256(c.encode()).hexdigest(),
            }
        )
    return pd.DataFrame(rows)


def _brute_force(docs, k, threshold):
    import re

    tok = re.compile(r"[A-Za-z_][A-Za-z_0-9]*|\d+|[^\sA-Za-z_0-9]")

    def shingles(text):
        t = tok.findall(text.lower())
        w = min(k, len(t))
        return {tuple(t[i : i + w]) for i in range(len(t) - w + 1)}

    sets = dict(zip(docs.doc_id, map(shingles, docs.content)))
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if len(sa & sb) / len(sa | sb) >= threshold:
            out.add((a, b))
    return out


def test_oracle_pairs_match_brute_force_jaccard():
    base = "def result(value, index): return value + index * 3 if count else None"
    contents = [
        base,
        base,  # exact copy
        base.replace("count", "total"),  # one token changed
        base + " # trailing comment",
        "while cursor: cursor = cursor.next",
        "x",  # shorter than k
        "x",
    ]
    docs = _docs(contents)
    for threshold in (0.5, 0.7, 0.9):
        assert inputs.oracle_pairs(docs, 5, threshold) == _brute_force(docs, 5, threshold)


def test_pair_recall_counts_pairs_sharing_a_cluster():
    oracle = {("a", "b"), ("a", "c"), ("d", "e")}
    assert inputs.pair_recall(oracle, {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}) == 1.0
    assert inputs.pair_recall(oracle, {"a": "a", "b": "a", "c": "c"}) == pytest.approx(1 / 3)


def test_components_label_each_document_with_its_smallest_id():
    pairs = [("c", "d"), ("b", "e"), ("a", "e"), ("x", "y")]
    assert inputs.components(pairs) == {
        "a": "a", "b": "a", "e": "a", "c": "c", "d": "c", "x": "x", "y": "x"
    }
    assert inputs.components([]) == {}


def test_dictionary_is_seeded():
    texts = ["int result = value + index", "def parser(tokens): return tokens", "const a b c d"] * 5
    one = inputs.make_dictionary(texts, seed=3, n_keywords=200)
    assert one == inputs.make_dictionary(texts, seed=3, n_keywords=200)
    assert one != inputs.make_dictionary(texts, seed=4, n_keywords=200)
    assert len({label for label, _ in one}) == 200


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    root = str(inputs.__file__).rsplit(os.sep, 2)[0]
    from perfbench import sparkctx

    run_dir = str(tmp_path_factory.mktemp("spark"))
    session = sparkctx.build_session(run_dir, root, trace=False)
    yield session
    sparkctx.shutdown(session)


def test_same_seed_gives_same_input_content_hashes(spark, tmp_path):
    a = inputs.make_corpus(spark, 60, seed=5, path=str(tmp_path / "a"), partitions=2)
    b = inputs.make_corpus(spark, 60, seed=5, path=str(tmp_path / "b"), partitions=3)
    c = inputs.make_corpus(spark, 60, seed=6, path=str(tmp_path / "c"), partitions=2)
    assert a.fingerprint() == b.fingerprint()
    assert sorted(a.docs.sha256) == sorted(b.docs.sha256)
    assert a.fingerprint() != c.fingerprint()


def test_process_tree_rss_includes_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procinfo.descendants(os.getpid())
        rss = procinfo.tree_rss(os.getpid())
        assert rss[os.getpid()] > 0 and child.pid in rss
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in procinfo.descendants(os.getpid())
