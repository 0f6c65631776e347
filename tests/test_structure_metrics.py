"""structure_metrics equals a pure-Python computation of the same
metrics on small graphs covering each branch: no nodes, isolated nodes
only, edge endpoints that are not nodes, too few connected nodes for a
power-law fit, a degree histogram whose frequencies do not vary (the
fit is undefined), and a hub graph where the fit is made."""

import math
from collections import Counter

import pytest

from graphgen_spark.operators.stats import structure_metrics


def py_metrics(nodes: list, edges: list) -> dict:
    if not nodes:
        return {
            "total_nodes": 0, "total_edges": 0, "noise_ratio": 0.0,
            "largest_cc_ratio": 0.0, "avg_degree": 0.0, "powerlaw_r2": None,
            "is_robust": False,
        }
    deg = Counter()
    for s, t in edges:
        deg[s] += 1
        deg[t] += 1
    degrees = [deg[n] for n in nodes]
    hist = Counter(d for d in degrees if d > 0)
    r2 = None
    if sum(hist.values()) >= 10 and len(hist) >= 3:
        xs = [math.log(d) for d in hist]
        ys = [math.log(f) for f in hist.values()]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
        sxx = sum((x - mx) ** 2 for x in xs)
        syy = sum((y - my) ** 2 for y in ys)
        if sxx and syy:
            r2 = (sxy / math.sqrt(sxx * syy)) ** 2

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for s, t in edges:
        parent[find(s)] = find(t)
    largest_cc = max(Counter(find(x) for x in parent).values(), default=0)

    n = len(nodes)
    noise = sum(d == 0 for d in degrees) / n
    cc_ratio = largest_cc / n
    avg = sum(degrees) / n
    return {
        "total_nodes": n, "total_edges": len(edges), "noise_ratio": noise,
        "largest_cc_ratio": cc_ratio, "avg_degree": avg,
        "powerlaw_r2": r2,
        "is_robust": (noise < 0.15 and cc_ratio > 0.90
                      and 2.0 <= avg <= 5.0
                      and (r2 is not None and r2 > 0.75)),
    }


LEAVES = [f"L{i:02d}" for i in range(14)]
GRAPHS = {
    "empty": ([], []),
    "isolated_only": (["A", "B", "C"], []),
    "dangling_endpoints": (
        ["A", "B", "C", "D"], [("A", "B"), ("B", "X"), ("Y", "Z")]),
    "few_connected": (
        ["A", "B", "C", "D", "E", "F"],
        [("A", "B"), ("B", "C"), ("C", "D"), ("A", "C")]),
    "uniform_frequencies": (  # degrees 1, 2, 3 four times each
        [f"N{i:02d}" for i in range(12)],
        [("N00", "N01"), ("N02", "N03"), ("N04", "N05"), ("N06", "N07"),
         ("N04", "N06"), ("N05", "N07"), ("N08", "N09"), ("N08", "N10"),
         ("N08", "N11"), ("N09", "N10"), ("N09", "N11"), ("N10", "N11")]),
    "hub": (
        ["HUB", "SUB", "LONE"] + LEAVES,
        [("HUB", x) for x in LEAVES]
        + [("SUB", x) for x in LEAVES[:5]]
        + [(LEAVES[i], LEAVES[i + 1]) for i in range(0, 6, 2)]),
}


@pytest.mark.parametrize("name", list(GRAPHS))
def test_matches_pure_python(spark, name):
    nodes, edges = GRAPHS[name]
    want = py_metrics(nodes, edges)
    got = structure_metrics(
        spark.createDataFrame([(n,) for n in nodes], "entity_name string"),
        spark.createDataFrame(edges, "src_id string, tgt_id string"),
    )
    assert got == {**want, "powerlaw_r2": pytest.approx(want["powerlaw_r2"],
                                                        rel=1e-12)}
    if name == "hub":
        assert want["powerlaw_r2"] is not None
