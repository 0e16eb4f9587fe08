"""Seeded inputs for the benchmark workloads: corpus, op-trees, polygons, kNN points.

Everything here is a pure function of the seed (numpy ``default_rng``) and
of the package's fixed vocabulary and gazetteer, so the same seed gives the
same inputs.  No Spark is needed, which keeps these generators unit-testable.

Each query stream repeats a fixed *shape cycle* (op-tree templates; polygon
kind and span class; k), while the seed draws the words, centres and sizes.
Every run therefore sees the same mix of query shapes, and a run-level mean
moves with the engine, not with the draw.
"""

from __future__ import annotations

import os

import numpy as np

N_DOCS = 5_000
# the shipped sf0.1 documents: 10..100 uniform words per doc from the vocabulary
MIN_WORDS, MAX_WORDS = 10, 100
_LANGS = ["en"] * 6 + ["de", "fr", "zh"]

# op-tree leaf mix: exact / prefix-or-suffix / $region, as cumulative shares
EXACT_SHARE, AFFIX_SHARE = 0.75, 0.15
OPS = ("/", "+", "-", "^")
N_FIXTURE_REGIONS = 10

# geo cycle: region slots (polygon kind, span class) interleaved with kNN k
REGION_CYCLE = (("rect", "small"), ("convex", "mid"), ("rect", "large"),
                ("convex", "small"), ("rect", "mid"), ("convex", "large")) * 2
KNN_CYCLE = (1, 5, 50) * 4
SPANS_DEG = {"small": (0.3, 1.0), "mid": (1.0, 5.0), "large": (5.0, 30.0)}
# polygon centres sit this close to a gazetteer point, inside its ±0.2°
# mention cloud, so no polygon is trivially empty
CENTRE_OFFSET_DEG = 0.1
# minimum planar distance (degrees) from any mention to any polygon edge:
# far above float rounding, so every PIP implementation agrees on every point
EDGE_MARGIN_DEG = 1e-5


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per input stream; any integer seed is accepted."""
    return np.random.default_rng([seed % 2**63, *stream])


def write_corpus(path: str, seed: int, n_docs: int = N_DOCS) -> None:
    """Write a ``documents.parquet`` shaped like the shipped sf0.1 corpus:
    ``doc_id, text, lang, source, n_chars`` with uniform vocabulary words."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oscar_spatial_index_compare_spark.sources.gazetteer import VOCAB

    rng = _rng(seed, 0)
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, n_docs)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 8}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# op-trees
# ---------------------------------------------------------------------------
# A template is an op-tree whose operators and leaf kinds are fixed; a run's
# seed fills in the words and region ids.  The templates come from a fixed
# RNG, so every run plans the same tree shapes over different leaves.

TEMPLATE_SEED = 11
OPTREE_CYCLE = (1, 2, 3, 1, 2, 3)  # template depths, in stream order


def _shape(rng, depth: int):
    """An op-tree shape — (op, left, right) or "leaf" — with exactly
    ``depth`` operator levels: one child carries the remaining depth, the
    other a random smaller one."""
    if depth == 0:
        return "leaf"
    deep = _shape(rng, depth - 1)
    other = _shape(rng, int(rng.integers(0, depth)))
    left, right = (deep, other) if rng.random() < 0.5 else (other, deep)
    return (OPS[rng.integers(len(OPS))], left, right)


def _with_kinds(node, kinds: list):
    """Replace the shape's leaves, left to right, by ("leaf", kind, region)."""
    if node == "leaf":
        return ("leaf",) + kinds.pop()
    op, left, right = node
    return (op, _with_kinds(left, kinds), _with_kinds(right, kinds))


def _n_leaves(node) -> int:
    return 1 if node == "leaf" else _n_leaves(node[1]) + _n_leaves(node[2])


def optree_templates() -> list:
    """The OPTREE_CYCLE templates; across all of them, leaf kinds follow the
    exact / affix / region shares.  Region leaves carry a fixed region id:
    its covering size sets much of a query's plan cost, so drawing it per
    run would swamp what the benchmark measures."""
    rng = np.random.default_rng(TEMPLATE_SEED)
    shapes = [_shape(rng, d) for d in OPTREE_CYCLE]
    n = sum(_n_leaves(s) for s in shapes)
    n_affix = round(AFFIX_SHARE * n)
    n_region = round((1.0 - EXACT_SHARE - AFFIX_SHARE) * n)
    kinds = ["exact"] * (n - n_affix - n_region) + ["affix"] * n_affix \
        + ["region"] * n_region
    kinds = [(kinds[i], int(rng.integers(1, N_FIXTURE_REGIONS + 1)))
             for i in rng.permutation(n)]
    return [_with_kinds(s, kinds) for s in shapes]


def _fill(rng, node, vocab: list[str]) -> str:
    if node[0] == "leaf":
        kind = node[1]
        if kind == "exact":
            return vocab[rng.integers(len(vocab))]
        if kind == "affix":
            long_words = [w for w in vocab if len(w) >= 3]
            w = long_words[rng.integers(len(long_words))]
            k = int(rng.integers(2, len(w)))
            return f"{w[:k]}*" if rng.random() < 0.5 else f"*{w[-k:]}"
        return f"$region:{node[2]}"
    op, left, right = node
    wrap = (lambda s: s if " " not in s else f"({s})")
    return f"{wrap(_fill(rng, left, vocab))} {op} {wrap(_fill(rng, right, vocab))}"


def optree_stream(seed: int, vocab: list[str]):
    """Endless stream of distinct op-trees cycling through the templates."""
    rng = _rng(seed, 1)
    templates = optree_templates()
    seen: set[str] = set()
    i = 0
    while True:
        q = _fill(rng, templates[i % len(templates)], vocab)
        if q not in seen:
            seen.add(q)
            i += 1
            yield q


def open_queries(seed: int, vocab: list[str], n: int) -> list[str]:
    """Distinct two-token intersections for the reopen cycles (one fixed shape
    so each cycle's query costs the same)."""
    rng = _rng(seed, 2)
    out: list[str] = []
    while len(out) < n:
        a, b = rng.choice(len(vocab), 2, replace=False)
        q = f"{vocab[a]} / {vocab[b]}"
        if q not in out:
            out.append(q)
    return out


# ---------------------------------------------------------------------------
# geo queries
# ---------------------------------------------------------------------------

def edge_clearance(poly: np.ndarray, pts: np.ndarray) -> float:
    """Smallest planar (lat, lon) degree distance from any point to any edge
    of the closed polygon ``poly`` (rows are [lat, lon])."""
    a = poly
    b = np.roll(poly, -1, axis=0)
    lo = poly.min(axis=0) - 1.0
    hi = poly.max(axis=0) + 1.0
    near = pts[np.all((pts >= lo) & (pts <= hi), axis=1)]
    if len(near) == 0:
        return float("inf")
    best = float("inf")
    for p, q in zip(a, b):
        d = q - p
        t = np.clip(((near - p) @ d) / max(float(d @ d), 1e-300), 0.0, 1.0)
        proj = p + t[:, None] * d
        best = min(best, float(np.sqrt(((near - proj) ** 2).sum(axis=1)).min()))
    return best


def _clamp_box(clat: float, clon: float, half_lat: float, half_lon: float):
    """Shift a centre so the box stays inside lat ±89 and lon ±179.5 (no
    antimeridian crossing)."""
    clat = min(max(clat, -89.0 + half_lat), 89.0 - half_lat)
    clon = min(max(clon, -179.5 + half_lon), 179.5 - half_lon)
    return clat, clon


def _random_polygon(rng, kind: str, span_class: str,
                    centres: np.ndarray) -> np.ndarray:
    lo, hi = SPANS_DEG[span_class]
    span = float(np.exp(rng.uniform(np.log(lo), np.log(hi))))
    aspect = float(rng.uniform(0.6, 1.6))
    half_lat, half_lon = span / 2.0, span * aspect / 2.0
    c = centres[rng.integers(len(centres))] + rng.uniform(
        -CENTRE_OFFSET_DEG, CENTRE_OFFSET_DEG, 2)
    clat, clon = _clamp_box(float(c[0]), float(c[1]), half_lat, half_lon)
    if kind == "rect":
        return np.array([
            [clat - half_lat, clon - half_lon], [clat - half_lat, clon + half_lon],
            [clat + half_lat, clon + half_lon], [clat + half_lat, clon - half_lon],
        ])
    # points on an ellipse in angle order form a convex polygon; one jittered
    # vertex per equal arc keeps every gap below π, so it contains its centre
    n = int(rng.integers(5, 9))
    ang = (np.arange(n) + rng.uniform(0.0, 1.0, n)) * (2.0 * np.pi / n)
    return np.stack([clat + half_lat * np.sin(ang),
                     clon + half_lon * np.cos(ang)], axis=1)


def geo_stream(seed: int, mention_pts: np.ndarray, centres: np.ndarray):
    """Endless stream of geo ops alternating ``("region", name, poly)`` and
    ``("knn", (qid, lat, lon, k))`` along REGION_CYCLE / KNN_CYCLE.  Every
    polygon keeps EDGE_MARGIN_DEG from every mention."""
    rng = _rng(seed, 3)
    i = 0
    while True:
        slot = (i // 2) % len(REGION_CYCLE)
        if i % 2 == 0:
            kind, span_class = REGION_CYCLE[slot]
            poly = _random_polygon(rng, kind, span_class, centres)
            while edge_clearance(poly, mention_pts) < EDGE_MARGIN_DEG:
                poly = _random_polygon(rng, kind, span_class, centres)
            yield ("region", f"{kind}-{span_class}-{i}", poly)
        else:
            c = centres[rng.integers(len(centres))] + rng.uniform(-2.0, 2.0, 2)
            yield ("knn", (i, float(np.clip(c[0], -89.0, 89.0)),
                           float(np.clip(c[1], -179.9, 179.9)), KNN_CYCLE[slot]))
        i += 1


def cycle_length(workload: str) -> int:
    """Ops per full pass of a workload's shape schedule."""
    return len(OPTREE_CYCLE) if workload == "optree_mix" else 2 * len(REGION_CYCLE)
