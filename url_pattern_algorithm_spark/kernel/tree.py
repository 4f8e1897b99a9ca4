"""Recursive URL pattern-tree builder + pattern rendering.

Parity targets (all in /root/reference/):
- tree recursion            — Fun.buildPatternTree, Fun.java:86-302
- MINTREESIZE schedule      — Fun.java:39,250-264
- keyed pattern generation  — TreeNode.getPatternWithKeys, TreeNode.java:381-543
- output pattern rendering  — TreeNode.getPatternWithoutKeys, TreeNode.java:304-350
- separator rendering table — TreeNode.getStandardKeyValueStr, TreeNode.java:246-287
- '*' value rendering       — TreeNode.checkNumOrLetterStr, TreeNode.java:351-379
- /? trichotomy             — TreeNode.checkUrlsType, TreeNode.java:151-171
- leaf collection/collapse  — Main.getLeafTreeNodesPatterns, Main.java:242-287
- structural match          — TreeNode.match, TreeNode.java:562-630

Determinism divergences from the Java (HashMap/HashSet iteration orders),
as mandated by SURVEY.md §7:
- candidate keys iterate in first-appearance order;
- salient child values iterate in (count asc, value asc) order — the order
  :func:`kernel.classify.judge_trivial` emits;
- MINTREESIZE resets to 30 for every tree (the Java static leaks across
  reducer groups in one JVM — a documented reference quirk, not copied).

This module is pure python and doubles as the single-process oracle; the
Spark pipeline runs exactly this code per host inside ``applyInPandas``
(see operators/pattern_tree.py), matching the reference's own distribution
strategy (one reducer per host, PatternJob.java:268-271). The leaf
alternation runs the same way, over a tree rebuilt from the node table by
:func:`unflatten_nodes`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from url_pattern_algorithm_spark.kernel.canonical import check_flag, sort_keys
from url_pattern_algorithm_spark.kernel.classify import (
    Pairs,
    common_keys,
    distinct_values_folded,
    distinct_values_raw,
    entropy_per_key,
    fold_value_letters,
    judge_trivial,
    mosted_key_no_split,
    mosted_keys,
    value_histogram,
)
from url_pattern_algorithm_spark.kernel.tokenize import first_value, tokenize_full


@dataclass
class Url:
    """A URL string + its full-tokenizer pairs (ProcessedUrl.java:29-68)."""

    url: str
    pairs: Pairs

    @staticmethod
    def parse(url: str) -> "Url | None":
        pairs = tokenize_full(url)
        if pairs is None:
            return None
        return Url(url, pairs)


@dataclass
class TreeNode:
    """Pattern-tree node (TreeNode.java:37-53)."""

    id: int
    urls: list[Url]
    parent: "TreeNode | None"
    partition_key_value: str | None
    urls_type: int = 0
    pattern_str: str = ""
    pattern_output_str: str = ""
    partition_key: str | None = None
    children: list["TreeNode"] = field(default_factory=list)
    child_has_star: bool = False
    from_edges: list = field(default_factory=list)
    to_edges: list = field(default_factory=list)

    @property
    def is_leaf(self) -> bool:
        return not self.children


def java_split(s: str, sep: str) -> list[str]:
    """Java String.split semantics: trailing empty strings removed."""
    parts = s.split(sep)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def check_urls_type(urls: list[Url]) -> int:
    """1 = all contain '/?', 2 = none do, 3 = mixed (TreeNode.java:151-171)."""
    if all("/?" in u.url for u in urls):
        return 1
    if all("/?" not in u.url for u in urls):
        return 2
    return 3


def check_num_or_letter(values: list[str]) -> str:
    """'*' rendering: '\\\\d*' iff every distinct value is all-digits (or
    empty), else '.*' (TreeNode.java:351-379)."""
    if all(re.fullmatch(r"\d*", v) for v in values):
        return "\\d*"
    return ".*"


def render_key_value(key: str, value: str, flag: int, flag1: bool) -> str:
    """Separator rendering (TreeNode.java:246-287).

    The flag==0 ``#1\\d#`` suffix checks and the flag==2 ``#11#..#37#`` lookup
    table are replicated verbatim, including the reference's ``#22#``
    duplication in the ``#3x#`` row (TreeNode.java:274) — unreachable there
    because the ``#2x#`` row matches first, exactly as in the Java.
    """
    if flag == 0:
        if key.endswith("#1\\d#"):
            return "\\." + value
        if key.endswith("#2\\d#"):
            return "-" + value
        if key.endswith("#3\\d#"):
            return "_" + value
        return "/" + value
    if flag == 1:
        if flag1:
            return "\\?" + key + "=" + value
        return "/\\?" + key + "=" + value
    # flag == 2
    if re.search(r"#\d{1,2}#", key):
        if key.endswith(("#11#", "#12#", "#13#", "#14#", "#15#", "#16#", "#17#")):
            return "\\." + value
        if key.endswith(("#21#", "#22#", "#23#", "#24#", "#25#", "#26#", "#27#")):
            return "-" + value
        if key.endswith(("#31#", "#22#", "#33#", "#34#", "#35#", "#36#", "#37#")):
            return "_" + value
        return "/" + value
    return "&" + key + "=" + value


def _single_value_pattern_piece(key: str, urls: list[Url], *, root: bool) -> str | None:
    """The shared 'key has exactly one distinct folded value' pattern logic.

    Root nodes (TreeNode.java:393-408) only apply the '#x#' -> 'x\\\\d*' fold;
    non-root nodes (TreeNode.java:429-478) additionally collapse to the single
    raw value when the digits part is constant too.
    Returns None when the key has multiple distinct values.
    """
    vals = distinct_values_folded(key, [u.pairs for u in urls])
    if len(vals) != 1:
        return None
    v = vals[0]
    if v.startswith("#") and v.endswith("#"):
        if root:
            return f"{key}:{v[1:-1]}\\d*/"
        raw = distinct_values_raw(key, [u.pairs for u in urls])
        if len(raw) > 1:
            return f"{key}:{v[1:-1]}\\d*/"
        rv = raw[0].replace("$", "")
        return f"{key}:{rv[1:-1]}/"
    return f"{key}:{v}/"


def get_pattern_with_keys(node: TreeNode) -> str:
    """TreeNode.getPatternWithKeys (TreeNode.java:381-543)."""
    urls = node.urls
    pairs_list = [u.pairs for u in urls]
    keys = sort_keys(mosted_keys(pairs_list))
    if node.parent is None:
        pattern = ""
        for key in keys:
            piece = _single_value_pattern_piece(key, urls, root=True)
            pattern += piece if piece is not None else f"{key}:*/"
        return pattern
    pattern = ""
    for key in keys:
        piece = _single_value_pattern_piece(key, urls, root=False)
        pattern += piece if piece is not None else f"{key}:*/"
    pkey = node.parent.partition_key
    if pkey is None:
        return pattern
    index = pattern.find(pkey + ":")
    if index == -1:  # defensive; cannot happen when pkey is common to all urls
        return pattern
    prefix = pattern[:index]
    # re-check single-#x#-value for the partition key on THIS node's urls
    # (TreeNode.java:499-518)
    result: str | None = None
    vals = distinct_values_folded(pkey, pairs_list)
    if len(vals) == 1 and vals[0].startswith("#") and vals[0].endswith("#"):
        raw = distinct_values_raw(pkey, pairs_list)
        if len(raw) > 1:
            result = prefix + pkey + ":" + vals[0][1:-1] + "\\d*"
        else:
            rv = raw[0].replace("$", "")
            result = prefix + pkey + ":" + rv[1:-1]
    if result is None:
        result = prefix + pkey + ":" + (node.partition_key_value or "")
    rest = pattern[index:]
    result += rest[rest.index("/") :]
    return result


def get_pattern_without_keys(node: TreeNode, pattern_str: str) -> str:
    """TreeNode.getPatternWithoutKeys (TreeNode.java:304-350)."""
    parts = java_split(pattern_str, "/")
    result = ""
    prev_key: str | None = None
    flag1 = node.urls_type in (2, 3)
    for part in parts:
        key, _, value = part.partition(":")
        if "*" in value:
            vals = distinct_values_folded(key, [u.pairs for u in node.urls])
            value_out = check_num_or_letter(vals)
        else:
            value_out = value
        flag = check_flag(prev_key, key)
        result += render_key_value(key, value_out, flag, flag1)
        prev_key = key
    return result


# ---------------------------------------------------------------------------
# tree recursion
# ---------------------------------------------------------------------------

_MIN_TREE_SIZE_SCHEDULE = [  # (root size >, MINTREESIZE) — Fun.java:250-264
    (10_000_000, 5000),
    (5_000_000, 2000),
    (1_000_000, 500),
    (500_000, 300),
    (100_000, 100),
    (10_000, 50),
]


def min_tree_size_for_root(root_size: int) -> int:
    for threshold, size in _MIN_TREE_SIZE_SCHEDULE:
        if root_size > threshold:
            return size
    return 30


class TreeBuilder:
    """One pattern-tree build (per host). Collects nodes in creation order."""

    def __init__(self) -> None:
        self.next_id = 0
        self.nodes: list[TreeNode] = []
        self.min_tree_size = 30.0
        self.root: TreeNode | None = None

    def _new_node(
        self, urls: list[Url], parent: TreeNode | None, partition_key_value: str | None
    ) -> TreeNode:
        """TreeNode constructor (TreeNode.java:180-211)."""
        pkv = partition_key_value
        if pkv is not None and pkv.startswith("#") and pkv.endswith("#"):
            pkv = pkv[1:-1] + "\\d"  # TreeNode.java:191-193
        node = TreeNode(
            id=self.next_id, urls=urls, parent=parent, partition_key_value=pkv
        )
        self.next_id += 1
        node.urls_type = check_urls_type(urls)
        node.pattern_str = get_pattern_with_keys(node)
        node.pattern_output_str = get_pattern_without_keys(node, node.pattern_str)
        self.nodes.append(node)
        return node

    def build(
        self,
        urls: list[Url],
        key_done: list[str] | None = None,
        parent: TreeNode | None = None,
        partition_key_value: str | None = None,
    ) -> TreeNode:
        """Fun.buildPatternTree (Fun.java:86-302)."""
        key_done = list(key_done) if key_done is not None else []
        pairs_list = [u.pairs for u in urls]
        # pre-pass: constant-valued common keys join key_done (Fun.java:89-100)
        for key in common_keys(pairs_list, None):
            if (
                key not in key_done
                and len(distinct_values_folded(key, pairs_list)) == 1
            ):
                key_done.append(key)
        node = self._new_node(urls, parent, partition_key_value)
        if self.root is None:
            self.root = node
        # mixed '/?' split (Fun.java:104-129)
        if node.urls_type == 3:
            with_q = [u for u in urls if "/?" in u.url]
            without_q = [u for u in urls if "/?" not in u.url]
            for group in (with_q, without_q):
                if len(group) > 30:
                    node.children.append(self.build(group, key_done, node, None))
            return node
        # min-entropy key selection (Fun.java:136-150); strict <, first wins
        entropy = entropy_per_key(pairs_list, key_done)
        selected: str | None = None
        min_entropy = 99999999.0
        for key, e in entropy.items():
            if e < min_entropy:
                selected, min_entropy = key, e
        if selected is not None:
            key_done.append(selected)
            node.partition_key = selected
            hist = value_histogram(pairs_list, selected)
            trivial = judge_trivial(hist)
            if all(trivial.values()):  # all-trivial -> leaf (Fun.java:176-187)
                return node
            # position map: '*' child at 0, slot 1 unused, salient from 2
            # (Fun.java:189-205 — the reference never fills slot 1 either)
            position: dict[str, int] = {}
            index = 2
            for v, is_trivial in trivial.items():
                if is_trivial:
                    position.setdefault("*", 0)
                else:
                    position[v] = index
                    index += 1
            buckets: list[list[Url]] = [[] for _ in range(index)]
            labels: list[str | None] = [None] * index
            for u in urls:
                v = first_value(u.pairs, selected)
                if v is None:
                    continue
                v = fold_value_letters(v)
                if trivial[v]:
                    i = position["*"]
                    labels[i] = "*"
                    node.child_has_star = True
                else:
                    i = position[v]
                    labels[i] = v
                buckets[i].append(u)
            # the adaptive MINTREESIZE schedule kicks in only on the root's
            # key-split path, exactly like the Java (Fun.java:250-264 sits
            # inside the selectedKey child loop, guarded by parentNode==null)
            if parent is None:
                self.min_tree_size = float(min_tree_size_for_root(len(urls)))
            for i in range(index):
                if len(buckets[i]) >= self.min_tree_size:
                    node.children.append(
                        self.build(buckets[i], key_done, node, labels[i])
                    )
        else:
            # presence/absence split on the most frequent remaining key
            # (Fun.java:272-300)
            split_key = mosted_key_no_split(pairs_list, key_done)
            if split_key is not None:
                without = [u for u in urls if first_value(u.pairs, split_key) is None]
                with_key = [
                    u for u in urls if first_value(u.pairs, split_key) is not None
                ]
                for group in (without, with_key):
                    if len(group) > 30:
                        node.children.append(self.build(group, key_done, node, None))
        return node


# ---------------------------------------------------------------------------
# leaf collection / matching
# ---------------------------------------------------------------------------


def escape_star(pattern: str) -> str:
    """Char-wise '*' -> '.*' (Main.java:270-277)."""
    return "".join(".*" if c == "*" else c for c in pattern)


def collect_leaf_patterns(root: TreeNode) -> list[str]:
    """BFS leaf patternOutputStr collection with the star-collapse rule
    (Main.java:242-287): a node whose children are all leaves and include a
    '*' child contributes only its first child."""
    out: list[str] = []
    queue = [root]
    while queue:
        node = queue.pop(0)
        if node.children:
            all_leaf = all(not c.children for c in node.children)
            if node.child_has_star and all_leaf:
                queue.append(node.children[0])
                continue
            queue.extend(node.children)
        else:
            out.append(escape_star(node.pattern_output_str))
    return out


def leaf_alternation(root: TreeNode) -> str:
    """'|'.join of collected leaf patterns (Main.java:278-284)."""
    return "|".join(collect_leaf_patterns(root))


def structural_match(pattern_str: str, pairs: Pairs, star: str = "*") -> bool:
    """TreeNode.match (TreeNode.java:562-630) / CalculateUtil.match
    (CalculateUtil.java:619-655, which uses star='.*').

    A URL matches iff (a) for every URL pair whose key appears in the pattern,
    the pattern value is ``star`` or equals the URL value, and (b) every
    pattern key exists in the URL.
    """
    parts = [p for p in java_split(pattern_str, "/") if p]
    pkeys = [p.partition(":")[0] for p in parts]
    pvals = [p.partition(":")[2] for p in parts]
    for k, v in pairs:
        try:
            i = pkeys.index(k)
        except ValueError:
            continue
        if pvals[i] != star and v != pvals[i]:
            return False
    for k in pkeys:
        if first_value(pairs, k) is None:
            return False
    return True


def flatten_nodes(builder: TreeBuilder, example_cap: int = 300) -> list[dict]:
    """Flatten a built tree into relational rows for the nodes table.

    Leaves carry up to ``example_cap`` example URLs in list order — parity
    with PatternJob.java:322-329, which appends at most 300 example URLs per
    leaf to the emitted pattern record; non-leaves carry none."""
    depth: dict[int, int] = {}
    rows = []
    for n in builder.nodes:
        depth[n.id] = 0 if n.parent is None else depth[n.parent.id] + 1
        rows.append(
            {
                "node_id": n.id,
                "parent_id": n.parent.id if n.parent is not None else None,
                "depth": depth[n.id],
                "partition_key": n.parent.partition_key if n.parent else None,
                "partition_value": n.partition_key_value,
                "pattern": n.pattern_str,
                "pattern_output": n.pattern_output_str,
                "url_count": len(n.urls),
                "is_leaf": n.is_leaf,
                "child_has_star": n.child_has_star,
                "urls_type": n.urls_type,
                "example_urls": (
                    [u.url for u in n.urls[:example_cap]] if n.is_leaf else []
                ),
            }
        )
    return rows


def unflatten_nodes(rows: list[dict]) -> TreeNode:
    """Inverse of :func:`flatten_nodes` for the leaf walk: rebuild a bare
    TreeNode skeleton (``node_id``, ``parent_id`` — None for the root —,
    ``child_has_star``, ``pattern_output``; no URLs) and return its root.

    Rows may come in any order. Children attach in ``node_id`` order, which
    is the builder's creation order and so its sibling order."""
    rows = sorted(rows, key=lambda r: r["node_id"])
    by_id = {
        r["node_id"]: TreeNode(
            id=r["node_id"], urls=[], parent=None, partition_key_value=None,
            pattern_output_str=r["pattern_output"],
            child_has_star=bool(r["child_has_star"]),
        )
        for r in rows
    }
    root = None
    for r in rows:
        node = by_id[r["node_id"]]
        if r["parent_id"] is None:
            root = node
        else:
            node.parent = by_id[r["parent_id"]]
            node.parent.children.append(node)
    return root


def membership_rows(builder: TreeBuilder) -> list[tuple[str, int]]:
    """(url, node_id) membership — the relational replacement for the
    belongToNodeList back-pointers (Fun.prepareForRuleGeneration,
    Fun.java:323-341). BFS order over the tree, list order within a node."""
    rows: list[tuple[str, int]] = []
    if builder.root is None:
        return rows
    queue = [builder.root]
    while queue:
        node = queue.pop(0)
        for u in node.urls:
            rows.append((u.url, node.id))
        queue.extend(node.children)
    return rows
