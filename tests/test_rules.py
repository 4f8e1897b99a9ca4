"""Golden tests for rewrite-rule learning and application (FIXTURES.md F5).

Synthetic host where the same page is reachable as /cat/{id}/view and as
/view?c={id}; expects the node pair detected, the key mapping c -> path2, the
keep/ignore/replace rule ops, byte-exact rewrites, and compression < 1.
"""

from url_pattern_algorithm_spark.kernel.rules import (
    Cluster,
    apply_rule,
    candidate_rule_generation,
    compression_ratio,
    emit_rules,
    find_key_mapping,
    generate_rule,
    identify_duplicate_nodes,
    parse_cluster_lines,
    rewrite_url,
    select_deployable_rules,
)
from url_pattern_algorithm_spark.kernel.tokenize import tokenize_full
from url_pattern_algorithm_spark.kernel.tree import TreeBuilder, Url


def build_fixture():
    # form A: /cat/{id}/view (100 urls, ids 0..99)
    # form B: /view?c={id}   (120 urls, ids 0..119)
    a_urls = [f"http://h7.com/cat/{i}/view" for i in range(100)]
    b_urls = [f"http://h7.com/view?c={i}" for i in range(120)]
    urls = [Url.parse(u) for u in a_urls + b_urls]
    b = TreeBuilder()
    b.build(urls)
    cluster = Cluster(urls=urls)  # one big duplicate cluster
    return b, [cluster], a_urls, b_urls


def find_node(builder, pattern_substr):
    return next(n for n in builder.nodes if pattern_substr in n.pattern_str)


def test_pair_detection_and_direction():
    builder, clusters, _, _ = build_fixture()
    node_a = find_node(builder, "path1:cat")
    node_b = find_node(builder, "path1:view")
    pairs = identify_duplicate_nodes(builder, clusters)
    ab = [(s.id, t.id, r) for s, t, r in pairs if {s.id, t.id} == {node_a.id, node_b.id}]
    assert len(ab) == 1
    src_id, dst_id, rate = ab[0]
    # B has 3 distinct keys, A has 4 -> B is the source (TreeNode.java:779-796)
    assert src_id == node_b.id and dst_id == node_a.id
    assert rate == 1.0  # the cluster covers both nodes entirely


def test_key_mapping():
    builder, _, _, _ = build_fixture()
    node_a = find_node(builder, "path1:cat")
    node_b = find_node(builder, "path1:view")
    mapping = find_key_mapping(node_b, node_a)
    # only the high-cardinality id keys share enough values: c -> path2
    assert mapping == [("c", "path2")]


def test_rule_generation_ops():
    builder, _, _, _ = build_fixture()
    node_a = find_node(builder, "path1:cat")
    node_b = find_node(builder, "path1:view")
    edge = generate_rule((node_b, node_a, 1.0))
    # replace op first, then keep ops ('#' marker) for single-valued keys
    # (TreeNode.java:848-865)
    assert edge.pattern == "path2:c/path0:#h7.com/path1:#cat/path3:#view/"
    assert edge.map_key_num == 1
    assert edge in node_b.from_edges and edge in node_a.to_edges


def test_apply_rule_golden():
    rule = "path2:c/path0:#h7.com/path1:#cat/path3:#view/"
    pairs = tokenize_full("http://h7.com/view?c=42")
    assert apply_rule(rule, pairs) == "http://h7.com/cat/42/view"
    # replace key absent from the url renders Java's 'null' concatenation
    pairs2 = tokenize_full("http://h7.com/view")
    assert apply_rule(rule, pairs2) == "http://h7.com/cat/null/view"


def test_end_to_end_rule_selection_and_compression():
    builder, clusters, a_urls, b_urls = build_fixture()
    candidate_rule_generation(builder, clusters)
    select_deployable_rules(builder)
    # checkNodeEdge invariant (Fun.java:570-602): <=1 out-edge per node
    assert all(len(n.from_edges) <= 1 for n in builder.nodes)
    rules = emit_rules(builder)
    assert rules  # at least one (pattern, rule) emitted
    ratio = compression_ratio(rules, a_urls + b_urls)
    assert ratio < 1.0


def test_ignore_op_marker():
    # unmapped key with >1 distinct value -> ignore op '*' + first value,
    # rendered identically to keep (marker stripped, LinkEdge.java:120-123)
    pairs = tokenize_full("http://h.com/x/y")
    out = apply_rule("path0:#h.com/path1:*x/", pairs)
    assert out == "http://h.com/x"


def test_parse_cluster_lines():
    lines = []
    for cid in range(3):
        lines.append("#")
        n = 12 if cid != 1 else 5  # cluster 1 too small (needs >10)
        lines += [f"http://c{cid}.com/p/{i}" for i in range(n)]
    lines.append("#")  # terminator so the last cluster is collected
    clusters = parse_cluster_lines(lines)
    assert [len(c.urls) for c in clusters] == [12, 12]
    # without the trailing '#', the final cluster is dropped (faithful to
    # InputUtil.java:169-186)
    clusters2 = parse_cluster_lines(lines[:-1])
    assert [len(c.urls) for c in clusters2] == [12]


def test_all_ignore_rule_collapses_duplicate_cluster_to_constant():
    """A rule learned from a pair with NO key mapping has only keep/ignore
    ops, so every URL the keyed pattern matches rewrites to the same
    first-value constant — the intended dedup collapse for a cluster whose
    URLs were all declared duplicates (TreeNode.java:858-863: the ignore op
    '*' renders "an arbitrary value", list.get(0)). Pinned so the constant
    output isn't mistaken for value loss: value-preserving rewrites need a
    replace op (mapKeyNum > 0), as in test_apply_rule_golden."""
    builder, clusters, a_urls, b_urls = build_fixture()
    candidate_rule_generation(builder, clusters)
    select_deployable_rules(builder)
    rules = emit_rules(builder)
    # the broadest emitted pattern (root node, path1:.*) carries an
    # all-ignore rule: at least one op part, and no replace op (every
    # key:value part carries a # or * marker)
    def all_ignore(rule):
        vals = [p.partition(":")[2] for p in rule.split("/") if p]
        return bool(vals) and all(v[:1] in ("#", "*") for v in vals)

    assert any(all_ignore(r) for _, r in rules)
    # every URL in the declared-duplicate cluster collapses to ONE canonical
    outs = {rewrite_url(rules, u) for u in a_urls + b_urls}
    assert len(outs) == 1
    # and the replace-op rule (c -> path2) is still learned and emitted
    assert any("path2:c" in r for _, r in rules)
