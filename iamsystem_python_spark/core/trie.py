"""Dictionary trie (finite-state automaton over normalized token paths).

Parity target: /root/reference/src/iamsystem/tree/trie.py:21-99 and
tree/nodes.py:16-246. Built once on the driver from the keyword table, then
broadcast to executors (SURVEY.md D6) — the dictionary is the small side.

Design difference vs the reference: nodes store an int id (``node_num``,
dense in insertion order) and keywords are referenced by index into
``Trie.keywords``. A ``Trie`` pickles as flat lists, not as its linked node
graph: the node tokens in ``node_num`` order, each node's parent index, each
keyword's node index, ``keywords`` itself, and only those per-node keyword
lists that do not mirror ``kw_indices`` (keywords attached via
``Node.add_keyword``). That state is a few lists of strings and ints, which
``cloudpickle`` writes without walking one object per node, and which
unpickles into the node graph in one loop with the cyclic GC paused — the
broadcast of a compiled dictionary (SURVEY.md D6) pays neither a recursive
object walk on the driver nor repeated GC passes on every worker.
"""

from __future__ import annotations

import gc
import warnings
from typing import Dict, FrozenSet, Iterable, List, Optional, Sequence, Tuple


class Node:
    """FSA state (nodes.py:16-25). Final iff it stores keyword entries
    (nodes.py:191-193). Equality/hash by ``node_num`` (nodes.py:221-231) —
    the state-set override semantics of issue #11 depend on it."""

    __slots__ = ("token", "node_num", "parent", "children", "kw_indices", "_keywords")

    def __init__(self, token: str, node_num: int, parent_node: Optional["Node"] = None):
        self.token = token
        self.node_num = node_num
        self.parent = parent_node
        self.children: Dict[str, "Node"] = {}
        self.kw_indices: List[int] = []
        self._keywords: List = []  # stored entries, original user objects kept
        if parent_node is not None:
            parent_node.children[token] = self

    # --- reference accessor surface (nodes.py) -----------------------------
    @property
    def parent_node(self) -> Optional["Node"]:
        """Reference attribute name (nodes.py:33)."""
        return self.parent

    node_root_number = 0

    @staticmethod
    def is_root_node(node: "Node") -> bool:
        """True for a trie root — node_num == 0 (nodes.py:142-147)."""
        return node.node_num == Node.node_root_number

    def has_transition_to(self, token: str) -> bool:
        """nodes.py:160-168."""
        return token in self.children

    def get_children_nodes(self) -> Iterable["Node"]:
        """nodes.py:211-214."""
        return self.children.values()

    def add_keyword(self, keyword) -> None:
        """Attach a keyword object to this node, making it a final state
        (nodes.py:185-189). Duplicates are kept, not overridden
        (tests/test_tree.py test_keyword_not_overriden)."""
        self._keywords.append(keyword)

    def get_keywords(self) -> List:
        """The keyword objects attached to this node (nodes.py:195-199),
        original user objects preserved."""
        from iamsystem_python_spark.core.keywords import StoredKeyword

        return [
            kw.obj if isinstance(kw, StoredKeyword) and kw.obj is not None else kw
            for kw in self._keywords
        ]

    # δ(state, token) — nodes.py:170-173
    def goto_node(self, token: str) -> "Node":
        return self.children.get(token, EMPTY_NODE)

    # δ* over a synonym tuple — nodes.py:175-183
    def jump_to_node(self, syn: Tuple[str, ...]) -> "Node":
        node = self
        for word in syn:
            node = node.children.get(word, EMPTY_NODE)
            if node is EMPTY_NODE:
                return EMPTY_NODE
        return node

    def is_a_final_state(self) -> bool:
        return len(self._keywords) > 0

    def get_ancestors(self) -> List["Node"]:
        """Path to root, excluding self and root (nodes.py:201-209)."""
        out: List["Node"] = []
        node = self.parent
        while node is not None and node.parent is not None:
            out.append(node)
            node = node.parent
        return out

    def ancestor_ids(self) -> FrozenSet[int]:
        return frozenset(n.node_num for n in self.get_ancestors())

    def __eq__(self, other) -> bool:
        return isinstance(other, Node) and self.node_num == other.node_num

    def __hash__(self) -> int:
        return self.node_num

    def __repr__(self) -> str:  # pragma: no cover
        return f"Node({self.token!r}, #{self.node_num}, final={self.is_a_final_state()})"


class _EmptyNode(Node):
    """Sink state sentinel (nodes.py:135)."""

    def __init__(self):
        super().__init__(token="EMPTY_NODE", node_num=-1, parent_node=None)

    @property
    def parent_node(self) -> Node:
        """The sink is its own parent (reference tests/test_tree.py
        EmptyNodeTest.test_get_parent_node)."""
        return self

    def goto_node(self, token: str) -> Node:
        return self

    def jump_to_node(self, syn) -> Node:
        return self

    def is_a_final_state(self) -> bool:
        return False

    def has_transition_to(self, token: str) -> bool:
        return False


EMPTY_NODE = _EmptyNode()


class Trie:
    """trie.py:21-99. ``keywords[i]`` is the i-th added keyword
    (label, kb_id); nodes reference keywords by index to stay pickle-light
    (and store the same entry locally for the reference node API)."""

    def __init__(self):
        self._node_count = 0
        self.root = self._new_node("START_TOKEN", parent=None)
        self.keywords: List[Tuple[str, Optional[str]]] = []

    def _new_node(self, token: str, parent: Optional[Node]) -> Node:
        node = Node(token, self._node_count, parent)
        self._node_count += 1
        return node

    @property
    def node_count(self) -> int:
        return self._node_count

    def get_number_of_nodes(self) -> int:
        """Reference name (trie.py:36-38); counts the root."""
        return self._node_count

    def get_initial_state(self) -> Node:
        """The root node (trie.py:40-42)."""
        return self.root

    def add_keyword_with_tokens(
        self,
        label: str,
        kb_id: Optional[str],
        norm_tokens: Sequence[str],
        obj=None,
    ) -> Optional[int]:
        """Insert a pre-tokenized path (trie.py:71-91). Returns the keyword
        index, or None when the token path is empty (trie.py:46-50 warns)."""
        if not norm_tokens:
            warnings.warn(
                f"keyword {label!r} tokenized to an empty sequence; ignored"
            )
            return None
        node = self.root
        for tok in norm_tokens:
            child = node.children.get(tok)
            if child is None:
                child = self._new_node(tok, parent=node)
            node = child
        kw_idx = len(self.keywords)
        if obj is not None:
            from iamsystem_python_spark.core.keywords import StoredKeyword

            entry = StoredKeyword(label, kb_id, obj)
        else:
            entry = (label, kb_id)
        self.keywords.append(entry)
        node.kw_indices.append(kw_idx)
        node._keywords.append(entry)
        return kw_idx

    def add_keyword(
        self, label: str, kb_id: Optional[str], tokenizer, is_stop, obj=None
    ) -> Optional[int]:
        """Tokenize label, drop stop tokens, insert (trie.py:29-51).
        ``is_stop`` receives the Token (reference semantics — the raw-label
        probe matters for accented stopwords); a plain word predicate also
        works because Token stringifies to nothing useful, so callers must
        pass token-level predicates."""
        toks = [
            t.norm_label for t in tokenizer.tokenize(label) if not is_stop(t)
        ]
        return self.add_keyword_with_tokens(label, kb_id, toks, obj=obj)

    def add_keywords(self, keywords: Iterable, tokenizer, stopwords) -> None:
        """Reference-style bulk insert (trie.py:29-34): token-level
        stopword filtering via ``stopwords.is_token_a_stopword``."""
        from iamsystem_python_spark.core.keywords import normalize_keyword_input

        for kw in keywords:
            label, kb_id, obj = normalize_keyword_input(kw)
            self.add_keyword(
                label, kb_id, tokenizer, stopwords.is_token_a_stopword, obj=obj
            )

    # --- pickling: flat state, see the module docstring ----------------------
    def _nodes_by_num(self) -> Optional[List[Node]]:
        """Every node at index ``node_num``, or None unless the trie has the
        shape ``_new_node`` gives it: node numbers dense from 0, every parent
        numbered below its children, children dicts in ascending
        ``node_num`` order. Only then does a rebuild in ``node_num`` order
        reproduce the graph exactly. Hand-linked nodes
        (``Node(token, num, parent)`` on a trie's nodes) may fail the check;
        such a trie pickles as its linked graph."""
        n = self._node_count
        nodes: List[Optional[Node]] = [None] * n
        nodes[0] = self.root
        # children are numbered above their parent, so each slot is filled
        # before the loop reaches it; an empty slot is an unreachable number
        for node in nodes:
            if node is None:
                return None
            last = node.node_num
            for child in node.children.values():
                num = child.node_num
                if not last < num < n or nodes[num] is not None:
                    return None
                nodes[num] = child
                last = num
        return nodes

    def __getstate__(self):
        state = dict(self.__dict__)
        nodes = self._nodes_by_num()
        if nodes is None:
            return state  # linked graph, pickled object by object
        keywords = self.keywords
        # add_keyword_with_tokens gives each keyword a fresh index on one
        # node, so every kw_indices list is ascending and they are disjoint:
        # one node index per keyword rebuilds them exactly
        kw_nodes = [-1] * len(keywords)
        own_keywords = {}
        for node in nodes:
            idxs = node.kw_indices
            kws = node._keywords
            if not (idxs or kws):
                continue
            num = node.node_num
            for i in idxs:
                kw_nodes[i] = num
            if len(kws) != len(idxs) or any(
                kw is not keywords[i] for kw, i in zip(kws, idxs)
            ):
                own_keywords[num] = kws
        del state["root"], state["_node_count"]
        state["tokens"] = [node.token for node in nodes]
        state["parents"] = [node.parent.node_num for node in nodes[1:]]
        state["kw_nodes"] = kw_nodes
        state["own_keywords"] = own_keywords
        return state

    def __setstate__(self, state) -> None:
        if "root" in state:
            self.__dict__.update(state)
            return
        state = dict(state)
        tokens = state.pop("tokens")
        parents = state.pop("parents")
        kw_nodes = state.pop("kw_nodes")
        own_keywords = state.pop("own_keywords")
        self.__dict__.update(state)
        keywords = self.keywords
        # ~4 GC-tracked containers per node: with the collector on, building
        # a large trie triggers collection after collection over the objects
        # already built. Pause it for this loop only; never gc.freeze() — a
        # trie is cyclic, and a frozen one could not be freed once dropped.
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            root = Node(tokens[0], 0)
            nodes = [root]
            append = nodes.append
            for num, (tok, parent) in enumerate(zip(tokens[1:], parents), 1):
                append(Node(tok, num, nodes[parent]))
            for i, num in enumerate(kw_nodes):
                if num >= 0:
                    node = nodes[num]
                    node.kw_indices.append(i)
                    node._keywords.append(keywords[i])
            for num, kws in own_keywords.items():
                nodes[num]._keywords = kws
        finally:
            if gc_was_enabled:
                gc.enable()
        self.root = root
        self._node_count = len(nodes)

    def get_unigrams(self) -> FrozenSet[str]:
        """Distinct first-level-and-below tokens of all keywords
        (keywords/util.py:12-24 computes from labels; equivalent here:
        every token on any path)."""
        out = set()
        stack = list(self.root.children.values())
        while stack:
            n = stack.pop()
            out.add(n.token)
            stack.extend(n.children.values())
        return frozenset(out)
