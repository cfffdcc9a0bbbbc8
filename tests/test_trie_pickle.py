"""Pickling of the compiled dictionary: ``Trie`` ships as flat lists and is
rebuilt in one GC-paused loop (core/trie.py), and a Python worker keeps one
deserialized matcher per distinct broadcast payload
(operators/annotate.py ``_resolve_matcher``)."""

from __future__ import annotations

import gc
import pickle

import pytest
from pyspark import cloudpickle

from iamsystem_python_spark.core.keywords import Entity
from iamsystem_python_spark.core.matcher import Matcher
from iamsystem_python_spark.core.trie import Node, Trie

KEYWORDS = [
    Entity("insuffisance cardiaque", "I50.9"),
    Entity("insuffisance cardiaque gauche", "I50.1"),
    ("insuffisance respiratoire", "J96"),
    "infarctus du myocarde",
    "cancer de la prostate",
    ("cardiaque", None),
    ("insuffisance cardiaque", "dup"),  # a second keyword on one node
]

TEXT = (
    "Le patient présente une insuf cardiaque gauche, un infarctus du "
    "myocrde et un cancer de la grosse prostate. Insuffisance respiratoire."
)


def _nodes(trie: Trie):
    out = [trie.root]
    for node in out:
        out.extend(node.children.values())
    return sorted(out, key=lambda n: n.node_num)


def _matcher() -> Matcher:
    return Matcher.build(
        keywords=KEYWORDS,
        w=2,
        abbreviations=[("insuf", "insuffisance")],
        spellwise=[dict(measure="levenshtein", max_distance=1, min_nb_char=5)],
    )


def _roundtrip(obj, dumps):
    return cloudpickle.loads(dumps(obj, protocol=pickle.HIGHEST_PROTOCOL))


def _kw_view(keywords):
    """Keyword entries by class and rendering, with the user object a
    StoredKeyword wraps (Entity has no __eq__)."""
    out = []
    for k in keywords:
        obj = getattr(k, "obj", None)
        out.append((type(k), str(k), type(obj), str(obj)))
    return out


def _assert_same_trie(a: Trie, b: Trie) -> None:
    assert b.node_count == a.node_count
    assert b.keywords == a.keywords
    assert _kw_view(b.keywords) == _kw_view(a.keywords)
    na, nb = _nodes(a), _nodes(b)
    assert len(nb) == len(na) == a.node_count
    for x, y in zip(na, nb):
        assert (y.token, y.node_num) == (x.token, x.node_num)
        assert (y.parent is None) == (x.parent is None)
        if x.parent is not None:
            assert y.parent.node_num == x.parent.node_num
            assert y.parent.children[y.token] is y
        assert list(y.children) == list(x.children)
        assert y.kw_indices == x.kw_indices
        assert _kw_view(y._keywords) == _kw_view(x._keywords)
        # a node's keyword entries are the objects in trie.keywords, not copies
        for kw, i in zip(y._keywords, y.kw_indices):
            assert kw is b.keywords[i]


@pytest.mark.parametrize("dumps", [pickle.dumps, cloudpickle.dumps])
def test_trie_roundtrip_keeps_every_node(dumps):
    m = _matcher()
    # reference node API: a keyword attached to a node directly, outside
    # Trie.keywords / kw_indices
    node = m.trie.root.children["cancer"]
    node.add_keyword(Entity("cancer", "C80"))
    trie = _roundtrip(m.trie, dumps)
    _assert_same_trie(m.trie, trie)
    back = trie.root.children["cancer"]
    assert back.kw_indices == [] and back.is_a_final_state()
    assert [str(k) for k in back.get_keywords()] == ["cancer (C80)"]
    # the rebuilt trie keeps growing with fresh node numbers
    trie.add_keyword_with_tokens("nouveau mot", None, ["nouveau", "mot"])
    assert trie.node_count == m.trie.node_count + 2
    assert trie.root.jump_to_node(("nouveau", "mot")).node_num == trie.node_count - 1


def test_stored_keyword_shared_with_trie_keywords():
    trie = _roundtrip(_matcher().trie, cloudpickle.dumps)
    node = trie.root.jump_to_node(("insuffisance", "cardiaque"))
    assert len(node._keywords) == 2
    assert node._keywords[0] is trie.keywords[node.kw_indices[0]]
    assert node.get_keywords()[0].kb_id == "I50.9"


def test_hand_linked_trie_roundtrips():
    """Nodes linked by hand (reference Node API) may break the dense
    node_num layout the flat state relies on; they still round trip."""
    trie = Trie()
    trie.add_keyword_with_tokens("a b", None, ["a", "b"])
    Node("z", 1, trie.root)  # reuses node number 1, count not bumped
    back = _roundtrip(trie, cloudpickle.dumps)
    assert list(back.root.children) == ["a", "z"]
    assert [c.node_num for c in back.root.children.values()] == [1, 1]
    assert back.root.jump_to_node(("a", "b")).kw_indices == [0]
    assert back.node_count == trie.node_count


def test_empty_trie_roundtrips():
    back = _roundtrip(Trie(), cloudpickle.dumps)
    assert back.node_count == 1 and back.keywords == []
    assert back.root.node_num == 0 and back.root.children == {}


def test_annotations_identical_after_roundtrip():
    m = _matcher()
    back = _roundtrip(m, cloudpickle.dumps)
    want = [(str(a), a.algos) for a in m.annot_text(TEXT)]
    got = [(str(a), a.algos) for a in back.annot_text(TEXT)]
    assert got == want
    # the text exercises the abbreviation, the string distance and w=2
    algos = {name for _, per_token in want for names in per_token for name in names}
    assert algos == {"abbs", "exact", "levenshtein"}
    assert any(s.startswith("cancer de la prostate\t") for s, _ in want)


@pytest.mark.parametrize("enabled", [True, False])
def test_loads_restores_gc_state(enabled):
    blob = cloudpickle.dumps(_matcher(), protocol=pickle.HIGHEST_PROTOCOL)
    was = gc.isenabled()
    try:
        gc.enable() if enabled else gc.disable()
        cloudpickle.loads(blob)
        assert gc.isenabled() is enabled
    finally:
        gc.enable() if was else gc.disable()


def test_equal_payloads_resolve_to_one_matcher(spark):
    from iamsystem_python_spark.operators import annotate as ann

    df = spark.createDataFrame([(1, TEXT)], "id long, content string")
    m = _matcher()
    bc1 = ann._broadcast_matcher(df, m)
    bc2 = ann._broadcast_matcher(df, m)
    try:
        assert bc1.value == bc2.value
        first = ann._resolve_matcher(bc1)
        assert ann._resolve_matcher(bc2) is first
        m.add_keyword("prostate")  # a changed dictionary is a new payload
        bc3 = ann._broadcast_matcher(df, m)
        third = ann._resolve_matcher(bc3)
        assert third is not first
        assert len(third.trie.keywords) == len(first.trie.keywords) + 1
        bc3.unpersist()
    finally:
        bc1.unpersist()
        bc2.unpersist()
