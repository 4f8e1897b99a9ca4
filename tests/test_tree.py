"""Golden tests for the pattern-tree builder (Fun.java:86-302) and pattern
rendering (TreeNode.java:246-543), on the FIXTURES.md F4 fixture hosts."""

import pytest

from url_pattern_algorithm_spark.kernel.tree import (
    TreeBuilder,
    Url,
    collect_leaf_patterns,
    escape_star,
    flatten_nodes,
    leaf_alternation,
    min_tree_size_for_root,
    structural_match,
    unflatten_nodes,
)

WORDS = [
    "alpha", "bravo", "carol", "delta", "echof", "fox", "golf", "hotel",
    "india", "julie", "kilo", "lima", "mike", "novem", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "unifo", "victor", "whisk", "xray",
    "yank", "zulu", "adam", "baker", "cain", "dove", "east", "frank",
    "gray", "hank", "ines", "jack", "kent", "liam", "mona", "nora",
]


# FIXTURES.md F4 hosts, plus one whose '*' split is collapsed and a
# single-URL host whose tree is one root leaf
F4 = {
    "H-entropy": (
        [f"http://h1.com/A/x{i}" for i in range(60)]
        + [f"http://h1.com/B/x{i}" for i in range(55)]
        + [f"http://h1.com/C/x{i}" for i in range(52)]
    ),
    "H-trivial-tail": (
        [f"http://h2.com/big/{WORDS[i % 40]}{i}" for i in range(200)]
        + [f"http://h2.com/also/{WORDS[i % 40]}{i}" for i in range(180)]
        + [f"http://h2.com/t1/x{i}" for i in range(3)]
        + [f"http://h2.com/t2/x{i}" for i in range(2)]
        + [f"http://h2.com/t3/x{i}" for i in range(1)]
    ),
    "H-all-trivial": [f"http://h3.com/{w}/" for w in WORDS],
    "H-mixed-slash-q": [f"http://h4.com/?p={i}" for i in range(35)] + [
        f"http://h4.com/cat/{WORDS[i % 40]}" for i in range(35)
    ],
    "H-numfold": [f"http://h5.com/page{i}" for i in range(1, 100)],
    "H-nosplit": [f"http://h6.com/?a={i}" for i in range(60)] + [
        f"http://h6.com/?b={i}" for i in range(40)
    ],
    "H-star-collapse": (
        [f"http://h8.com/cat/{WORDS[i % 40]}{i}" for i in range(100)]  # salient
        + [f"http://h8.com/dog/{WORDS[i % 40]}{i}" for i in range(90)]  # salient
        + [f"http://h8.com/{WORDS[i % 20]}/zz{i}" for i in range(25)]  # tail -> '*'
    ),
    "H-single": ["http://h9.com/?a=1"],
}


def parse_all(urls):
    return [Url.parse(u) for u in urls]


def test_h_entropy_three_salient_children():
    # F4 H-entropy: one constant-valued key (pre-pass -> keyDone), one key
    # with 3 salient values 60/55/52 -> 3 children, no '*' child
    urls = F4["H-entropy"]
    b = TreeBuilder()
    root = b.build(parse_all(urls))
    assert root.partition_key == "path1"
    assert not root.child_has_star
    assert len(root.children) == 3
    assert sorted(c.partition_key_value for c in root.children) == ["A", "B", "C"]
    assert all(c.is_leaf for c in root.children)
    # root pattern: constant host, '*' partition key, letters+digits fold
    assert root.pattern_str == "path0:h1.com/path1:*/path2:x\\d*/"
    assert root.pattern_output_str == "/h1.com/.*/.*"
    child_a = next(c for c in root.children if c.partition_key_value == "A")
    assert child_a.pattern_str == "path0:h1.com/path1:A/path2:x\\d*/"
    assert child_a.pattern_output_str == "/h1.com/A/.*"


def test_h_trivial_tail_star_child():
    # F4 H-trivial-tail: value counts [200, 180, 3, 2, 1] -> two salient
    # children + one '*' child pooling the tail; tail pool (6 urls) is below
    # MINTREESIZE=30 so it is NOT recursed, but childHasStarFlag is set
    urls = F4["H-trivial-tail"]
    b = TreeBuilder()
    root = b.build(parse_all(urls))
    assert root.partition_key == "path1"
    assert root.child_has_star
    assert sorted(c.partition_key_value for c in root.children) == ["also", "big"]


def test_h_all_trivial_leaf():
    # F4 H-all-trivial: 40 values x count 1 -> all counts equal -> all
    # trivial -> single leaf node (Fun.java:176-187)
    urls = F4["H-all-trivial"]
    b = TreeBuilder()
    root = b.build(parse_all(urls))
    assert root.is_leaf
    assert len(b.nodes) == 1


def test_h_mixed_slash_q_split():
    # F4 H-mixed-slash-q: 35 '/?' + 35 plain -> special split (Fun.java:104-129)
    urls = F4["H-mixed-slash-q"]
    b = TreeBuilder()
    root = b.build(parse_all(urls))
    assert root.urls_type == 3
    assert len(root.children) == 2
    assert root.partition_key is None  # split happened before key selection
    types = sorted(c.urls_type for c in root.children)
    assert types == [1, 2]


def test_h_numfold_prepass_absorbs_constant_letters():
    # F4 H-numfold: values page1..page99 all fold to '#page#' -> the pre-pass
    # (Fun.java:89-100) marks the key done; the node renders 'page\\d*' and
    # stays a leaf
    urls = F4["H-numfold"]
    b = TreeBuilder()
    root = b.build(parse_all(urls))
    assert root.is_leaf
    assert root.pattern_str == "path0:h5.com/path1:page\\d*/"
    assert root.pattern_output_str == "/h5.com/.*"


def test_h_nosplit_presence_absence():
    # F4 H-nosplit: no key reaches 90% support; 'a' at 60% -> presence/absence
    # split via getMostedKeyForNoSplitKey (Fun.java:272-300)
    urls = F4["H-nosplit"]
    b = TreeBuilder()
    root = b.build(parse_all(urls))
    assert root.partition_key is None
    assert len(root.children) == 2
    sizes = sorted(len(c.urls) for c in root.children)
    assert sizes == [40, 60]
    # '/?' urls (urls_type==1 -> flag1=false) render '/\\?k=v' for the first
    # query key (TreeNode.java:259-265,339-342)
    with_a = next(c for c in root.children if len(c.urls) == 60)
    assert with_a.pattern_str == "path0:h6.com/a:*/"
    assert with_a.pattern_output_str == "/h6.com/\\?a=\\d*"


def test_min_tree_size_schedule():
    assert min_tree_size_for_root(100) == 30
    assert min_tree_size_for_root(10_001) == 50
    assert min_tree_size_for_root(100_001) == 100
    assert min_tree_size_for_root(500_001) == 300
    assert min_tree_size_for_root(1_000_001) == 500
    assert min_tree_size_for_root(5_000_001) == 2000
    assert min_tree_size_for_root(10_000_001) == 5000


def test_leaf_collection_star_collapse():
    # a node whose children are all leaves and include a '*' child emits only
    # its first child (Main.java:242-265)
    urls = F4["H-star-collapse"]
    b = TreeBuilder()
    root = b.build(parse_all(urls))
    assert root.child_has_star
    leaves = collect_leaf_patterns(root)
    # star-collapse: only the first child's pattern is emitted
    assert len(leaves) == 1
    alt = leaf_alternation(root)
    assert "|" not in alt


def test_structural_match():
    u = Url.parse("http://h1.com/A/x7")
    assert structural_match("path0:h1.com/path1:A/path2:x\\d*/", u.pairs) is False
    # 'x\\d*' is not '*' so it must equal the raw value '#x$7#' -> no; with
    # star value it matches
    assert structural_match("path0:h1.com/path1:A/path2:*/", u.pairs) is True
    assert structural_match("path0:h1.com/path1:B/path2:*/", u.pairs) is False
    # pattern key missing from url -> no match
    assert structural_match("path0:h1.com/q:*/", u.pairs) is False


def test_escape_star_applies_charwise():
    # faithful quirk: patternOutputStr already contains '.*'; the char-wise
    # escape (Main.java:270-277) turns it into '..*'
    assert escape_star("/h1.com/.*") == "/h1.com/..*"
    assert escape_star("a:*/") == "a:.*/"


def test_flatten_nodes_leaf_example_urls_cap():
    # PatternJob.java:322-329: <=300 example URLs per LEAF in list order;
    # non-leaves carry none. Cap exercised with example_cap=5.
    urls = parse_all(
        [f"http://h.com/{w}/{i}" for w in WORDS[:3] for i in range(40)]
    )
    b = TreeBuilder()
    b.build(urls)
    rows = flatten_nodes(b, example_cap=5)
    leaves = [r for r in rows if r["is_leaf"]]
    inner = [r for r in rows if not r["is_leaf"]]
    assert leaves and inner
    for r in inner:
        assert r["example_urls"] == []
    for r in leaves:
        assert 1 <= len(r["example_urls"]) <= 5
        assert len(r["example_urls"]) == min(5, r["url_count"])
    # list order = the node's url list order (first urls win the cap)
    full = flatten_nodes(b, example_cap=300)
    by_id = {r["node_id"]: r for r in full}
    for r in leaves:
        assert r["example_urls"] == by_id[r["node_id"]]["example_urls"][:5]


@pytest.mark.parametrize("host", sorted(F4))
def test_unflatten_nodes_keeps_the_leaf_walk(host):
    # the node table carries all the leaf walk needs: the tree rebuilt from
    # its rows (in any order) collects the same leaves, in the same order
    b = TreeBuilder()
    b.build(parse_all(F4[host]))
    rebuilt = unflatten_nodes(flatten_nodes(b)[::-1])
    assert collect_leaf_patterns(rebuilt) == collect_leaf_patterns(b.root)
