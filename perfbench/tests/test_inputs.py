from itertools import islice

import numpy as np
import pytest

from oscar_spatial_index_compare_spark.plans.optree import parse
from oscar_spatial_index_compare_spark.sources.gazetteer import VOCAB, gazetteer
from perfbench import inputs


def _optrees(seed, n):
    return list(islice(inputs.optree_stream(seed, VOCAB), n))


def _leaves(node):
    if node.op in ("token", "region", "cell", "poly", "rect"):
        return [node]
    return [leaf for a in node.args for leaf in _leaves(a)]


def test_same_seed_same_optrees_and_distinct():
    a, b = _optrees(7, 60), _optrees(7, 60)
    assert a == b
    assert len(set(a)) == len(a)
    assert a != _optrees(8, 60)


def test_optrees_parse_and_use_only_oracle_safe_ops():
    trees = _optrees(3, 60)
    for q in trees:
        assert not any(c in q for c in "!%") and "$cell" not in q
        parse(q)
    leaves = [leaf for q in trees for leaf in _leaves(parse(q))]
    ops = {n.op for q in trees for n in _nodes(parse(q))}
    assert ops == {"inter", "union", "diff", "sym", "token", "region"}
    exact = sum(1 for leaf in leaves if leaf.op == "token" and leaf.args[1] == "exact")
    region = sum(1 for leaf in leaves if leaf.op == "region")
    assert 0.65 < exact / len(leaves) < 0.85
    assert 0.05 < region / len(leaves) < 0.15


def _nodes(node):
    yield node
    for a in node.args:
        if hasattr(a, "op"):
            yield from _nodes(a)


def test_optree_depths_follow_the_cycle():
    def depth(n):
        kids = [a for a in n.args if hasattr(a, "op")]
        return 0 if not kids else 1 + max(depth(k) for k in kids)

    trees = _optrees(5, 2 * len(inputs.OPTREE_CYCLE))
    assert [depth(parse(q)) for q in trees] == list(inputs.OPTREE_CYCLE) * 2


def test_any_integer_seed():
    assert _optrees(-3, 6) == _optrees(-3, 6)
    assert _optrees(2**70, 6) == _optrees(2**70, 6)


def test_open_queries_distinct_and_seeded():
    a = inputs.open_queries(4, VOCAB, 5)
    assert a == inputs.open_queries(4, VOCAB, 5)
    assert len(set(a)) == 5


def test_edge_clearance():
    square = np.array([[0.0, 0.0], [0.0, 2.0], [2.0, 2.0], [2.0, 0.0]])
    pts = np.array([[1.0, 1.0], [1.0, 0.25], [50.0, 50.0]])
    assert inputs.edge_clearance(square, pts) == pytest.approx(0.25)
    assert inputs.edge_clearance(square, np.array([[40.0, 40.0]])) == float("inf")


@pytest.fixture(scope="module")
def mention_points():
    # a jittered cloud around every gazetteer entry, as the corpus produces
    rng = np.random.default_rng(0)
    centres = np.array([(la, lo) for _n, la, lo, _p in gazetteer()])
    pts = np.repeat(centres, 200, axis=0) + rng.uniform(-0.2, 0.2, (len(centres) * 200, 2))
    return centres, pts


def _geo(seed, pts, centres, n):
    return list(islice(inputs.geo_stream(seed, pts, centres), n))


def test_geo_stream_seeded_and_keeps_the_margin(mention_points):
    centres, pts = mention_points
    n = 2 * inputs.cycle_length("geo_mix")
    a = _geo(1, pts, centres, n)
    b = _geo(1, pts, centres, n)
    assert [repr(x) for x in a] == [repr(x) for x in b]
    assert [x[0] for x in a] == ["region", "knn"] * (n // 2)
    polys = [x[2] for x in a if x[0] == "region"]
    for poly in polys:
        assert inputs.edge_clearance(poly, pts) >= inputs.EDGE_MARGIN_DEG
        assert np.all(np.abs(poly[:, 0]) <= 89.0) and np.all(np.abs(poly[:, 1]) <= 179.5)
    names = [x[1] for x in a if x[0] == "region"]
    assert len(set(names)) == len(names)
    ks = [x[1][3] for x in a if x[0] == "knn"]
    assert ks == list(inputs.KNN_CYCLE) * 2


def test_generated_polygons_respect_span_classes(mention_points):
    centres, pts = mention_points
    ops = _geo(2, pts, centres, inputs.cycle_length("geo_mix"))
    regions = [x for x in ops if x[0] == "region"]
    for (kind, span_class), (_k, name, poly) in zip(inputs.REGION_CYCLE, regions):
        lo, hi = inputs.SPANS_DEG[span_class]
        lat_span = poly[:, 0].max() - poly[:, 0].min()
        assert lat_span <= hi + 1e-9
        assert name.startswith(f"{kind}-{span_class}")
        # centred on a mention cloud, and the polygon contains its centre
        centre = (poly.max(axis=0) + poly.min(axis=0)) / 2
        assert np.min(np.abs(centres - centre).max(axis=1)) <= hi
        if kind == "convex":
            edges = np.roll(poly, -1, axis=0) - poly
            to_c = centre - poly
            cross = edges[:, 0] * to_c[:, 1] - edges[:, 1] * to_c[:, 0]
            assert np.all(cross > 0) or np.all(cross < 0)


def test_corpus_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    p1, p2, p3 = (str(tmp_path / f"{i}" / "documents.parquet") for i in range(3))
    inputs.write_corpus(p1, 1, n_docs=200)
    inputs.write_corpus(p2, 1, n_docs=200)
    inputs.write_corpus(p3, 2, n_docs=200)
    t1, t2, t3 = (pq.read_table(p) for p in (p1, p2, p3))
    assert t1.equals(t2) and not t1.equals(t3)
    assert t1.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    words = {w for t in t1.column("text").to_pylist() for w in t.split()}
    assert words <= set(VOCAB)
