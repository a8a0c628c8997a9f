"""Connected-components correctness on random graphs vs a pure-python
union-find oracle — the strong test for the large-star/small-star loop."""

import random

from code_index_spark.operators.canon import connected_components


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[ra] = rb


import pytest


@pytest.mark.parametrize("driver_max_edges", [1_000_000, 0])
def test_cc_matches_union_find_on_random_graph(spark, driver_max_edges):
    """driver_max_edges=1M exercises the driver union-find cutover;
    0 forces the distributed large/small-star loop — both must produce
    the identical min-id labeling."""
    rng = random.Random(7)
    n_nodes = 400
    pairs = []
    uf = _UF()
    for _ in range(500):
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a == b:
            continue
        sa, sb = f"node-{a:04d}", f"node-{b:04d}"
        pairs.append((min(sa, sb), max(sa, sb)))
        uf.union(sa, sb)
    df = spark.createDataFrame(sorted(set(pairs)), "surface_a string, surface_b string")
    got = {
        r["surface"]: r["component"]
        for r in connected_components(df, driver_max_edges=driver_max_edges).collect()
    }

    # same partition of nodes: two nodes share a spark component iff
    # they share a union-find root
    nodes = sorted(got)
    for i in range(0, len(nodes) - 1, 7):  # sampled pairs, keeps it O(n)
        for j in range(i + 1, min(i + 8, len(nodes))):
            a, b = nodes[i], nodes[j]
            assert (got[a] == got[b]) == (uf.find(a) == uf.find(b)), (a, b)
    # component label = min xxhash64 id within the component (root id
    # is a member's id) — labels must be ids of member nodes
    from pyspark.sql import functions as F

    ids = {
        r["surface"]: r["id"]
        for r in df.select(F.col("surface_a").alias("surface"))
        .union(df.select("surface_b"))
        .distinct()
        .withColumn("id", F.xxhash64("surface"))
        .collect()
    }
    by_comp = {}
    for s, c in got.items():
        by_comp.setdefault(c, []).append(s)
    for c, members in by_comp.items():
        assert c == min(ids[m] for m in members)


@pytest.mark.parametrize("driver_max_edges", [1_000_000, 0])
def test_cc_empty_graph(spark, driver_max_edges):
    """No pairs (and only self-pairs, which hash to no edge) give no
    labels on both paths."""
    empty = spark.createDataFrame([], "surface_a string, surface_b string")
    assert connected_components(empty, driver_max_edges=driver_max_edges).count() == 0
    selfloop = spark.createDataFrame([("x", "x")], "surface_a string, surface_b string")
    got = connected_components(selfloop, driver_max_edges=driver_max_edges).collect()
    from pyspark.sql import functions as F

    xid = spark.range(1).select(F.xxhash64(F.lit("x"))).first()[0]
    assert [(r["surface"], r["component"]) for r in got] == [("x", xid)]


def test_driver_union_find_runs_no_python_rdd(spark):
    """The driver path's labels come back as a JVM-side local relation:
    building them starts no Python worker (a DataFrame made from a
    Python list runs as a PythonRDD)."""
    from code_index_spark.operators.canon import _driver_union_find

    edges = [{"u": 5, "v": 3}, {"u": 3, "v": 9}, {"u": 7, "v": 8}]
    labels = _driver_union_find(spark, edges)
    assert "PythonRDD" not in labels._jdf.queryExecution().toRdd().toDebugString()
    assert dict((r["node"], r["component"]) for r in labels.collect()) == {
        3: 3, 5: 3, 9: 3, 7: 7, 8: 7,
    }
    assert [f.dataType.simpleString() for f in labels.schema.fields] == ["bigint", "bigint"]
