"""Graph QA probes (operators/graph.py): integer PageRank + triangles."""

from __future__ import annotations

from pyspark.sql import functions as F

from breg_dcat_harvester_spark.operators.graph import (
    node_triangles,
    pagerank_integer,
)

P = "urn:p"


def _edges(spark, pairs, kind="uri"):
    return spark.createDataFrame(
        [(a, P, b, kind) for a, b in pairs],
        "subj string, pred string, obj string, obj_kind string",
    )


def _pagerank_replay(pairs, iterations, damping_permille=850, scale=1_000_000):
    """Pure-Python integer replay of the exact contract."""
    links = sorted({(a, b) for a, b in pairs if a != b})
    nodes = sorted({x for e in links for x in e})
    outdeg: dict[str, int] = {}
    for a, _ in links:
        outdeg[a] = outdeg.get(a, 0) + 1
    base = scale * (1000 - damping_permille) // 1000
    rank = {n: scale for n in nodes}
    for _ in range(iterations):
        contrib = {n: 0 for n in nodes}
        for a, b in links:
            contrib[b] += (rank[a] * damping_permille) // (1000 * outdeg[a])
        rank = {n: base + contrib[n] for n in nodes}
    return rank


def test_pagerank_matches_integer_replay(spark):
    pairs = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "d"),  # self-loop dropped
    ]
    got = {r.node: r.rank for r in pagerank_integer(_edges(spark, pairs)).collect()}
    assert got == _pagerank_replay(pairs, iterations=5)


def test_pagerank_sink_keeps_base_only(spark):
    # b is a sink: it receives, never emits; a dangling node's mass vanishes
    got = {
        r.node: r.rank
        for r in pagerank_integer(_edges(spark, [("a", "b")]), iterations=1).collect()
    }
    assert got == {"a": 150_000, "b": 150_000 + (1_000_000 * 850) // 1000}


def test_pagerank_deterministic_across_partitioning(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(200)]
    df = _edges(spark, pairs)
    one = {r.node: r.rank for r in pagerank_integer(df.coalesce(1)).collect()}
    many = {r.node: r.rank for r in pagerank_integer(df.repartition(16)).collect()}
    assert one == many


def test_triangles_single_and_clique(spark):
    # one triangle + a pendant edge
    got = {
        r.node: r.triangles
        for r in node_triangles(
            _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
        ).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 1}

    # K4: four triangles, each node in three; direction/duplicates irrelevant
    k4 = [("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("b", "c"),
          ("d", "b"), ("c", "d")]
    got = {r.node: r.triangles for r in node_triangles(_edges(spark, k4)).collect()}
    assert got == {n: 3 for n in "abcd"}


def test_triangles_ignore_literals_and_wedges(spark):
    df = _edges(spark, [("a", "b"), ("b", "c")]).unionByName(
        _edges(spark, [("c", "a")], kind="literal")
    )
    assert node_triangles(df).count() == 0  # open wedge: literal edge no-op


def test_kcore_peels_tails_and_keeps_clique(spark):
    # 5-clique + a chain hanging off it: the chain (and nothing else) peels
    # at k=2; at k=4 only the clique survives
    from breg_dcat_harvester_spark.operators.graph import kcore

    clique = [(f"n{i}", f"n{j}") for i in range(5) for j in range(5) if i < j]
    chain = [("n0", "c1"), ("c1", "c2"), ("c2", "c3")]
    edges = spark.createDataFrame(
        [(a, "p", b, "uri") for a, b in clique + chain],
        "subj string, pred string, obj string, obj_kind string",
    )
    core4 = {r.node for r in kcore(edges, k=4, rounds=6).collect()}
    assert core4 == {f"n{i}" for i in range(5)}
    core2 = {r.node for r in kcore(edges, k=2, rounds=6).collect()}
    assert core2 == {f"n{i}" for i in range(5)}  # chain peels from the tail in

    rows = kcore(edges, k=4, rounds=6).collect()
    assert all(r.core_degree >= 4 for r in rows)


def test_kcore_cascade_needs_multiple_rounds(spark):
    # a path a-b-c-d-e at k=2: every peel round only removes the current
    # endpoints, so convergence takes ~len/2 rounds and ends empty
    from breg_dcat_harvester_spark.operators.graph import kcore

    path = [(f"v{i}", f"v{i+1}") for i in range(6)]
    edges = spark.createDataFrame(
        [(a, "p", b, "uri") for a, b in path],
        "subj string, pred string, obj string, obj_kind string",
    )
    # intermediate peel state (convergence check off): still non-empty
    assert kcore(edges, k=2, rounds=1, require_converged=False).count() > 0
    assert kcore(edges, k=2, rounds=6).count() == 0  # fixpoint: empty
    # under-provisioned rounds FAIL loudly instead of returning a non-core
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not converged"):
        kcore(edges, k=2, rounds=1)


def test_kcore_fixpoint_invariant_on_corpus(spark, small_transcripts):
    from breg_dcat_harvester_spark.operators.extract import extract_edges
    from breg_dcat_harvester_spark.operators.graph import kcore
    from breg_dcat_harvester_spark.operators.merge import merge_triples

    m = merge_triples(extract_edges(small_transcripts))
    a = sorted(map(tuple, kcore(m, k=3, rounds=6).collect()))
    b = sorted(map(tuple, kcore(m, k=3, rounds=10).collect()))
    assert a == b and len(a) > 0


def test_label_propagation_two_cliques(spark):
    from breg_dcat_harvester_spark.operators.graph import label_propagation

    rows = [
        ("a", "p", "b"), ("b", "p", "c"), ("a", "p", "c"),
        ("x", "p", "y"), ("y", "p", "z"), ("x", "p", "z"),
        ("c", "p", "x"),  # one bridge
    ]
    df = spark.createDataFrame(
        [(s, p, o, "uri", None, None) for s, p, o in rows],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string",
    )
    out = {r.node: r.label for r in label_propagation(df, rounds=4).collect()}
    # the two triangles end in different communities despite the bridge
    assert out["a"] == out["b"] == out["c"]
    assert out["x"] == out["y"] == out["z"]
    assert out["a"] != out["x"]


def test_label_propagation_deterministic_any_parallelism(spark):
    from breg_dcat_harvester_spark.operators.graph import label_propagation

    rows = [
        (f"n{i}", "p", f"n{(i * 7 + 3) % 20}") for i in range(40)
    ] + [("hub", "p", f"n{i}") for i in range(0, 20, 2)]
    df = spark.createDataFrame(
        [(s, p, o, "uri", None, None) for s, p, o in rows if s != o],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string",
    )
    a = sorted(map(tuple, label_propagation(df.repartition(1), rounds=4).collect()))
    b = sorted(map(tuple, label_propagation(df.repartition(13), rounds=4).collect()))
    assert a == b


def test_kg_negative_samples_semantics(spark):
    from breg_dcat_harvester_spark.operators.negatives import (
        kg_negative_samples,
    )

    rows = (
        [("urn:s%d" % i, "urn:p", "urn:o%d" % (i % 5), "uri", None, None)
         for i in range(20)]
        + [("urn:x", "urn:q", "urn:only", "uri", None, None)]
        + [("urn:x", "urn:r", "lit", "literal", None, None)]
    )
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string"
    )
    out = kg_negative_samples(df, k=3, pool_size=8).collect()
    # negatives are type-consistent: drawn from the SAME predicate's pool
    p_objs = {f"urn:o{i}" for i in range(5)}
    for r in out:
        if r.pred == "urn:p":
            assert r.neg_obj in p_objs and r.neg_obj != r.obj
    # a single-object predicate can never produce a valid negative
    assert not any(r.pred == "urn:q" for r in out)
    # literal-object triples are never corrupted
    assert not any(r.pred == "urn:r" for r in out)
    # at most k rows per positive, deterministic across runs/parallelism
    a = sorted(map(tuple, out))
    b = sorted(map(tuple, kg_negative_samples(df.repartition(7), k=3, pool_size=8).collect()))
    assert a == b
    # different salt -> (almost surely) different draws, same shape
    c = kg_negative_samples(df, k=3, pool_size=8, salt="epoch2").collect()
    assert sorted((r.subj, r.pred, r.obj, r.neg_idx) for r in c) != [] 
    assert a != sorted(map(tuple, c))


# --- HyperANF neighborhood function ---------------------------------------


def _exact_balls(links, radius):
    """Exact out-ball sizes via python BFS on the collected edge list."""
    from collections import defaultdict

    adj = defaultdict(set)
    nodes = set()
    for s, d in links:
        adj[s].add(d)
        nodes.update((s, d))
    out = {}
    for v in nodes:
        ball = {v}
        frontier = {v}
        for r in range(radius + 1):
            out[(v, r)] = len(ball)
            nxt = set()
            for u in frontier:
                nxt |= adj[u]
            frontier = nxt - ball
            ball |= nxt
    return out


def test_neighborhood_function_accuracy_and_determinism(spark, small_transcripts):
    from breg_dcat_harvester_spark.operators.extract import extract_edges
    from breg_dcat_harvester_spark.operators.graph import (
        _uri_links,
        neighborhood_function,
    )
    from breg_dcat_harvester_spark.operators.merge import merge_triples

    g = merge_triples(extract_edges(small_transcripts)).cache()
    links = [(r.src, r.dst) for r in _uri_links(g).collect()]
    RADIUS = 5  # 5 stacked rounds: estimator error must stay bounded
    exact = _exact_balls(links, RADIUS)

    est = {
        (r.node, r.radius): r.reach_est
        for r in neighborhood_function(g, radius=RADIUS).collect()
    }
    assert set(est) == set(exact)
    # HLL m=64: rsd ~13%; gate each estimate inside generous 3-sigma-ish
    # bounds for balls >= 8, and the mean relative error tighter — PER
    # RADIUS, so error cannot quietly grow as register rounds stack
    by_r = {}
    for (node, r), ex in exact.items():
        e = est[(node, r)]
        by_r.setdefault(r, []).append(abs(e - ex) / ex)
        if ex >= 8:
            assert 0.5 * ex <= e <= 1.8 * ex, ((node, r), ex, e)
    print("\nHyperANF accuracy audit (m=64):")
    print("radius  n_nodes  mean_rel_err")
    for r in sorted(by_r):
        errs = by_r[r]
        print(f"{r:6d}  {len(errs):7d}  {sum(errs) / len(errs):12.4f}")
        assert sum(errs) / len(errs) < 0.25, (r, sum(errs) / len(errs))
    # radius-0 balls are singletons: linear counting nails them exactly
    assert all(est[(n, r)] == 1 for (n, r) in est if r == 0)
    # bit-deterministic at any parallelism
    a = sorted(map(tuple, neighborhood_function(
        g.repartition(1), radius=2).collect()))
    b = sorted(map(tuple, neighborhood_function(
        g.repartition(13), radius=2).collect()))
    assert a == b


def test_neighborhood_releases_register_cache(spark, monkeypatch):
    """Every non-checkpoint register round persisted inside
    neighborhood_function is unpersisted before it returns — cached
    register blocks must not accumulate for the session lifetime — and
    the returned frame is still fully usable afterwards
    (checkpoint-backed, no reference to the released lineage)."""
    from breg_dcat_harvester_spark.operators.graph import (
        neighborhood_function,
    )

    rows = [
        (f"urn:n{i}", "urn:p", f"urn:n{(i + 1) % 8}", "uri", None, None)
        for i in range(8)
    ]
    g = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind string, "
              "lang string, dtype string")

    DF = type(g)  # the concrete (classic) DataFrame class
    persisted, unpersisted = [], []
    orig_p, orig_u = DF.persist, DF.unpersist

    def spy_p(self, *a, **k):
        persisted.append(id(self))
        return orig_p(self, *a, **k)

    def spy_u(self, *a, **k):
        unpersisted.append(id(self))
        return orig_u(self, *a, **k)

    monkeypatch.setattr(DF, "persist", spy_p)
    monkeypatch.setattr(DF, "unpersist", spy_u)
    out = neighborhood_function(g, radius=5, checkpoint_interval=2)
    # radius 5, interval 2: rounds 2 and 4 checkpoint; 1, 3, 5 persist
    assert len(persisted) == 3
    assert set(persisted) <= set(unpersisted)
    # result survives the release
    assert out.count() == 8 * 6


def test_neighborhood_monotone_in_radius(spark):
    # chain a->b->c->d: balls grow with radius and estimates are monotone
    from breg_dcat_harvester_spark.operators.graph import neighborhood_function

    rows = [
        (f"urn:n{i}", "urn:p", f"urn:n{i+1}", "uri", None, None)
        for i in range(6)
    ]
    g = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind string, "
              "lang string, dtype string")
    est = {
        (r.node, r.radius): r.reach_est
        for r in neighborhood_function(g, radius=3).collect()
    }
    for (n, r), v in est.items():
        if (n, r + 1) in est:
            assert est[(n, r + 1)] >= v
    # exact small balls via linear counting: chain head reaches r+1 nodes
    assert est[("urn:n0", 0)] == 1
    assert est[("urn:n0", 1)] == 2
    assert est[("urn:n0", 3)] == 4
