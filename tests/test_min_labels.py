"""Connected components in ``dup_clusters``: the ``_min_labels`` kernel
against a dict union-find reference, and string ids end to end."""

import random

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geocode_spark.operators.dedup import _min_labels, dup_clusters

# ids that sort differently by codepoint than by locale or by length
TOKENS = ["a", "z", "Z", "e", "é", "ß", "😀", "ab", "éa", "a😀"]


def reference(src, dst):
    """Union-by-min with path compression over Python dicts."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src, dst):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {k: find(k) for k in parent}


def kernel(src, dst, dtype):
    nodes, labels = _min_labels(np.array(src, dtype), np.array(dst, dtype))
    assert list(nodes) == sorted(set(src) | set(dst))
    return dict(zip(nodes.tolist(), labels.tolist()))


# duplicate edges and self-loops come from the small id pools
int_edges = st.lists(st.tuples(st.integers(-2**63, 2**63 - 1),
                               st.integers(-2**63, 2**63 - 1))
                     | st.tuples(st.integers(-5, 30), st.integers(-5, 30)),
                     min_size=1, max_size=80)
str_ids = st.lists(st.sampled_from(TOKENS), min_size=1,
                   max_size=3).map("".join)
str_edges = st.lists(st.tuples(str_ids, str_ids), min_size=1, max_size=60)


@settings(max_examples=300, deadline=None)
@given(int_edges)
def test_int_ids_match_reference(edges):
    src, dst = zip(*edges)
    assert kernel(src, dst, np.int64) == reference(src, dst)


@settings(max_examples=300, deadline=None)
@given(str_edges)
def test_string_ids_match_reference(edges):
    src, dst = zip(*edges)
    assert kernel(src, dst, object) == reference(src, dst)


@settings(max_examples=30, deadline=None)
@given(st.integers(2, 3000), st.integers(0, 2**32 - 1), st.booleans())
def test_shuffled_chain_is_one_component(n, seed, flip):
    order = np.random.default_rng(seed).permutation(n)
    src, dst = order[:-1], order[1:]
    if flip:
        src, dst = dst, src
    nodes, labels = _min_labels(src, dst)
    assert np.array_equal(nodes, np.arange(n)) and not labels.any()


def test_single_edge_and_self_loop():
    assert kernel([7], [3], np.int64) == {3: 3, 7: 3}
    assert kernel(["ß"], ["ß"], object) == {"ß": "ß"}


def test_string_ids_end_to_end(spark, uncoalesced):
    """``dup_clusters(id_col="url")`` labels every node with the minimum
    id of its component under Spark's UTF-8 byte order (edges spread over
    partitions, so both the local contraction and the driver finish see
    string ids)."""
    rng = random.Random(3)
    urls = sorted({"".join(rng.choices(TOKENS, k=3)) for _ in range(120)})
    edges = [tuple(rng.sample(urls, 2)) for _ in range(90)]
    edges += [(u, u) for u in urls[:5]]
    nodes = spark.createDataFrame([(u,) for u in urls], "url string")
    pairs = spark.createDataFrame(edges, "id_a string, id_b string") \
        .repartition(4)
    got = {r.url: r.cluster_id
           for r in dup_clusters(nodes, pairs, id_col="url").collect()}
    want = reference(*zip(*edges))
    assert got == {u: want.get(u, u) for u in urls}
    assert len(set(got.values())) < len(urls)
