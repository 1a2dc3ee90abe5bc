"""Connected components and transitive dedup.

The chain case A~B~C with A≁C is the semantic difference between
pairwise loser-removal (keeps A and C) and component-based dedup
(keeps only A); both paths are asserted against each other here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_spark.operators.dedup import lsh_dedup
from big_data_analytics_spark.operators.graph import (
    ConvergenceError,
    connected_components,
    dedup_by_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["id_a", "id_b"])


def test_components_basic(spark):
    # {1,2,3} via chain, {10,11} direct, 20 isolated (absent from edges)
    comp = connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11)]))
    got = {r.node: r.component for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_components_long_chain_converges(spark):
    # 0-1-2-...-15: one component, needs several propagation rounds
    comp = connected_components(_edges(spark, [(i, i + 1) for i in range(15)]))
    assert {r.component for r in comp.collect()} == {0}


def test_components_raises_on_nonconvergence(spark):
    with pytest.raises(ConvergenceError):
        connected_components(
            _edges(spark, [(i, i + 1) for i in range(15)]), max_iter=2)


def test_components_reliable_checkpoint(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    comp = connected_components(
        _edges(spark, [(1, 2), (2, 3)]), checkpoint="reliable")
    assert {r.component for r in comp.collect()} == {1}


def test_dedup_by_components_chain(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(5)], ["doc_id", "text"])
    # chain 0~1~2 (0≁2 directly) plus pair 3~4
    kept = dedup_by_components(docs, _edges(spark, [(0, 1), (1, 2), (3, 4)]))
    assert sorted(r.doc_id for r in kept.collect()) == [0, 3]


def test_lsh_dedup_transitive_chain(spark):
    """Token-window chain 0 ~ 5 ~ 1 where the middle doc has the
    largest id: ends share 32/48 tokens with the middle (j=0.67) but
    only 24/56 with each other (j=0.43, below the 0.5 verify
    threshold). Pairwise loser-removal drops only the middle (it is
    id_b of both pairs), keeping 0 AND 1; transitive mode merges the
    cluster {0, 1, 5} and keeps only its min."""
    toks = [f"tok{i:03d}" for i in range(64)]
    docs = spark.createDataFrame(
        [
            (0, " ".join(toks[0:40])),
            (5, " ".join(toks[8:48])),
            (1, " ".join(toks[16:56])),
            (9, "completely unrelated content about other things entirely"),
        ],
        ["doc_id", "text"],
    )
    kwargs = dict(
        shingle_k=1, num_hashes=128, bands=32, threshold=0.4,
        verify=True, verify_threshold=0.5,
    )
    pairwise = sorted(
        r.doc_id for r in lsh_dedup(docs, **kwargs).collect())
    transitive = sorted(
        r.doc_id for r in lsh_dedup(docs, transitive=True, **kwargs).collect())
    assert pairwise == [0, 1, 9]
    assert transitive == [0, 9]


# ------------------------- pagerank ---------------------------------

def _pr_reference(edges, iterations=5):
    """Driver-side integer PageRank mirror (pure python)."""
    from collections import defaultdict
    sym = sorted(set(edges))
    outdeg = defaultdict(int)
    for u, v in sym:
        outdeg[u] += 1
    nodes = sorted({u for u, _ in sym} | {v for _, v in sym})
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(iterations):
        inflow = defaultdict(int)
        for u, v in sym:
            inflow[v] += rank[u] // outdeg[u]
        rank = {n: 150_000 + (85 * inflow.get(n, 0)) // 100
                for n in nodes}
    return rank


def test_pagerank_matches_python_reference(spark):
    from big_data_analytics_spark.operators.graph import pagerank
    # a small asymmetric graph with a dangling node (4 has no out-edges)
    edges = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"]
           for r in pagerank(df, iterations=5).collect()}
    assert got == _pr_reference(edges)


def test_pagerank_star_center_dominates(spark):
    from big_data_analytics_spark.operators.graph import pagerank
    # star: every leaf points at the hub and back
    edges = [(0, i) for i in range(1, 8)] + [(i, 0) for i in range(1, 8)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = {r["node"]: r["rank"]
             for r in pagerank(df, iterations=5).collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 3
    # teleport floor: nobody drops below the 0.15 base mass
    assert min(ranks.values()) >= 150_000


def test_pagerank_shuffle_path_matches_broadcast(spark):
    from big_data_analytics_spark.operators.graph import pagerank
    edges = [(i, (i * 3 + 1) % 40) for i in range(40)] + \
            [(i, (i * 7 + 2) % 40) for i in range(40)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    b = {r["node"]: r["rank"]
         for r in pagerank(df, strategy="broadcast").collect()}
    s = {r["node"]: r["rank"]
         for r in pagerank(df, strategy="shuffle").collect()}
    assert b == s == _pr_reference(edges)


def test_pagerank_auto_falls_back_to_shuffle(spark):
    """The scale guard: auto with a node count above broadcast_max_nodes
    must take the shuffle path and still produce the exact result."""
    from big_data_analytics_spark.operators.graph import pagerank
    edges = [(i, (i * 3 + 1) % 40) for i in range(40)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"]
           for r in pagerank(df, strategy="auto",
                             broadcast_max_nodes=5).collect()}
    assert got == _pr_reference(edges)


# --------------------- weighted pagerank ----------------------------

def _wpr_reference(edges, iterations=3):
    """Driver-side integer weighted-PageRank mirror (pure python).
    edges: (src, dst, w) triples, assumed unique per (src, dst)."""
    from collections import defaultdict
    sw = defaultdict(int)
    for u, v, w in edges:
        sw[u] += w
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(iterations):
        inflow = defaultdict(int)
        for u, v, w in edges:
            inflow[v] += (rank[u] * w) // sw[u]
        rank = {n: 150_000 + (85 * inflow.get(n, 0)) // 100
                for n in nodes}
    return rank


def test_weighted_pagerank_matches_python_reference(spark):
    from big_data_analytics_spark.operators.graph import pagerank
    edges = [(1, 2, 5), (2, 1, 1), (1, 3, 1), (3, 1, 2),
             (2, 3, 7), (3, 4, 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {r["node"]: r["rank"]
           for r in pagerank(df, weight="w", iterations=3,
                             assume_distinct=True).collect()}
    assert got == _wpr_reference(edges)


def test_weighted_pagerank_strategies_agree(spark):
    from big_data_analytics_spark.operators.graph import pagerank
    edges = [(i, (i * 3 + 1) % 20, 1 + i % 4) for i in range(20)] + \
            [(i, (i * 7 + 2) % 20, 1 + i % 3) for i in range(20)]
    # dedupe (src, dst) collisions by summing weights, as the operator
    # does with assume_distinct=False
    agg = {}
    for u, v, w in edges:
        agg[(u, v)] = agg.get((u, v), 0) + w
    uniq = [(u, v, w) for (u, v), w in agg.items()]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    b = {r["node"]: r["rank"]
         for r in pagerank(df, weight="w", iterations=3,
                           strategy="broadcast").collect()}
    s = {r["node"]: r["rank"]
         for r in pagerank(df, weight="w", iterations=3,
                           strategy="shuffle").collect()}
    assert b == s == _wpr_reference(uniq)


def test_weighted_pagerank_sums_duplicate_edges(spark):
    """assume_distinct=False with a weight column must SUM duplicate
    (src, dst) weights, not drop rows."""
    from big_data_analytics_spark.operators.graph import pagerank
    dup = [(1, 2, 3), (1, 2, 4), (2, 1, 2)]
    df = spark.createDataFrame(dup, ["src", "dst", "w"])
    got = {r["node"]: r["rank"]
           for r in pagerank(df, weight="w", iterations=3).collect()}
    assert got == _wpr_reference([(1, 2, 7), (2, 1, 2)])


# --------------------- label propagation ----------------------------

def _lpa_reference(edges, iterations=4):
    """Driver-side LPA mirror: mode of in-neighbor labels, ties by
    (count DESC, label ASC), over the distinct-src node set."""
    from collections import Counter, defaultdict
    sym = sorted(set(edges))
    labels = {u: u for u, _ in sym}
    for _ in range(iterations):
        incoming = defaultdict(Counter)
        for u, v in sym:
            if u in labels:
                incoming[v][labels[u]] += 1
        labels = {
            v: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for v, c in incoming.items()
        }
    return labels


def test_label_propagation_two_cliques(spark):
    from big_data_analytics_spark.operators.graph import label_propagation
    # two 4-cliques joined by one weak edge: two communities
    def clique(ns):
        return [(a, b) for a in ns for b in ns if a != b]
    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13])
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["label"]
           for r in label_propagation(df, iterations=4).collect()}
    assert got == _lpa_reference(edges)
    assert {got[n] for n in (1, 2, 3, 4)} == {1}
    assert {got[n] for n in (10, 11, 12, 13)} == {10}


def test_label_propagation_strategies_agree(spark):
    from big_data_analytics_spark.operators.graph import label_propagation
    edges = [(i, (i * 3 + 1) % 30) for i in range(30)] + \
            [((i * 3 + 1) % 30, i) for i in range(30)] + \
            [(i, (i + 1) % 30) for i in range(30)] + \
            [((i + 1) % 30, i) for i in range(30)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    b = {r["node"]: r["label"]
         for r in label_propagation(df, strategy="broadcast").collect()}
    s = {r["node"]: r["label"]
         for r in label_propagation(df, strategy="shuffle").collect()}
    auto_small = {r["node"]: r["label"]
                  for r in label_propagation(
                      df, strategy="auto",
                      broadcast_max_nodes=3).collect()}
    assert b == s == auto_small == _lpa_reference(edges)


def test_gr6_modularity_matches_naive_recount(spark):
    """Fixture-level ORACLE INDEPENDENCE check for gr6: its DuckDB
    oracle reuses the same unrolled-LPA CTE as lp1 AND restates the
    same per-community aggregation algebra, so a shared modularity-
    arithmetic bug would hash-match green. This recount takes the
    LABELS from the Spark operator itself (the quantity under test is
    the modularity arithmetic, not LPA — LPA has its own pure-python
    reference above) and recomputes Q per community IMPERATIVELY from
    the raw co-purchase pairs: python dicts, no window, no CTE, no
    shared helper."""
    from collections import defaultdict

    import duckdb

    from big_data_analytics_spark.queries.graph_queries import (
        _lpa_labels,
        gr6_modularity,
    )

    sf = "/root/testdata/sf0.001"
    label = {int(r["node"]): int(r["label"])
             for r in _lpa_labels(spark, sf).collect()}

    pairs = duckdb.connect().execute(f"""
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{sf}/lineitem.parquet' a
        JOIN '{sf}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    """).fetchall()

    m2 = len(pairs)
    e_within: dict[int, int] = defaultdict(int)
    k_c: dict[int, int] = defaultdict(int)
    sz: dict[int, int] = defaultdict(int)
    for src, dst in pairs:
        k_c[label[int(src)]] += 1
        if label[int(src)] == label[int(dst)]:
            e_within[label[int(src)]] += 1
    for _node, lab in label.items():
        sz[lab] += 1

    want = {}
    for c, n_nodes in sz.items():
        if n_nodes < 2:
            continue
        kq = (1_000_000 * k_c[c]) // m2
        q = (1_000_000 * e_within[c]) // m2 - (kq * kq) // 1_000_000
        want[c] = (n_nodes, e_within[c], k_c[c], q)

    got = {int(r["community"]): (int(r["n_nodes"]), int(r["e_within"]),
                                 int(r["k_c"]), int(r["q_contrib_micro"]))
           for r in gr6_modularity(spark, sf).collect()}
    assert got == want


def test_gr8_matches_pure_python_peel(spark):
    """ORACLE INDEPENDENCE for gr8: the DuckDB oracle restates the
    same bounded peel, so this recount re-derives the k-core
    imperatively from the raw co-purchase pairs (dicts and sets, no
    SQL) — and ALSO peels to the true fixed point, asserting the
    bounded 6-round semantics has converged on the fixture (the
    documented convergence claim)."""
    from collections import Counter

    import duckdb

    from big_data_analytics_spark.queries.graph_queries import (
        _KCORE_K,
        _KCORE_ROUNDS,
        gr8_kcore,
    )

    sf = "/root/testdata/sf0.001"
    pairs = duckdb.connect().execute(f"""
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{sf}/lineitem.parquet' a
        JOIN '{sf}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    """).fetchall()
    edges = {(int(u), int(v)) for u, v in pairs if u < v}

    def peel_once(es):
        deg = Counter()
        for u, v in es:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= _KCORE_K}
        return {(u, v) for u, v in es if u in keep and v in keep}

    bounded = edges
    for _ in range(_KCORE_ROUNDS):
        bounded = peel_once(bounded)
    fixpoint = edges
    while True:
        nxt = peel_once(fixpoint)
        if nxt == fixpoint:
            break
        fixpoint = nxt
    assert bounded == fixpoint, (
        "6 rounds did not reach the fixed point on the fixture — "
        "raise _KCORE_ROUNDS")

    want = Counter()
    for u, v in bounded:
        want[u] += 1
        want[v] += 1
    got = {int(r["node"]): int(r["core_degree"])
           for r in gr8_kcore(spark, sf).collect()}
    assert got == dict(want)


def test_gr7_matches_id_canonical_ground_truth(spark):
    """gr7's oracle shares its degree-oriented enumeration with the
    Spark plan — a shared bug would pass the hash gate (it DID: the
    first formulation filtered wedge corners by id order while the
    closing edge is (degree, id)-oriented, and both sides silently
    dropped every triangle whose third edge runs from the id-larger
    corner — 206k of 414k at sf0.01). This guard recounts per-node
    triangles from the INDEPENDENT id-canonical enumeration
    (und(x,y) ⋈ und(y,z) ⋈ und(x,z), x<y<z — no orientation at all)
    in DuckDB and compares exactly."""
    import duckdb

    from big_data_analytics_spark.queries.graph_queries import (
        gr7_triangle_counts,
    )

    sf = "/root/testdata/sf0.001"
    got = {r["node"]: (r["degree"], r["n_triangles"])
           for r in gr7_triangle_counts(spark, sf).collect()}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS "
            f"SELECT * FROM '{sf}/lineitem.parquet'")
    ref = con.sql("""
        WITH edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
        ), und AS (SELECT src AS u, dst AS v FROM edges WHERE src < dst),
        deg AS (
            SELECT node, COUNT(*) AS d FROM (
                SELECT u AS node FROM und UNION ALL SELECT v FROM und
            ) GROUP BY node
        ), tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM und e1
            JOIN und e2 ON e2.u = e1.v
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT node, ANY_VALUE(d) AS d, COALESCE(SUM(t), 0) AS n FROM (
            SELECT node, d, 0 AS t FROM deg
            UNION ALL SELECT x, NULL, 1 FROM tri
            UNION ALL SELECT y, NULL, 1 FROM tri
            UNION ALL SELECT z, NULL, 1 FROM tri
        ) GROUP BY node HAVING ANY_VALUE(d) >= 2
    """).fetchall()
    want = {int(node): (int(d), int(n)) for node, d, n in ref}
    assert got == want


def test_gr6_label_attachment_strategy_is_measured(spark):
    """gr6's label attachments must be strategy-pinned from the
    MEASURED node count, never left to plan-time stats — the optimizer
    broadcast the 24M-row EDGE relation off a localCheckpoint scan's
    size estimate (driver OOM at the 10x probe; the gr4 failure
    class). Below the threshold the label side must be the broadcast
    build side; above it the join must be sort-merge (no broadcast
    anywhere in the attachment)."""
    from big_data_analytics_spark.operators.joins import sized_side
    from big_data_analytics_spark.queries.graph_queries import (
        _lpa_labels,
        _weighted_edges,
    )

    sf = "/root/testdata/sf0.001"
    edges = _weighted_edges(spark, sf).select("src", "dst")
    labels = _lpa_labels(spark, sf)
    src_lab = labels.select(labels.node.alias("src"),
                            labels.label.alias("src_label"))

    small = edges.join(sized_side(src_lab, n_rows=10), "src")
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small

    big = edges.join(sized_side(src_lab, n_rows=10_000_000), "src")
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan_big
    assert "BroadcastHashJoin" not in plan_big


def test_gr7_attachment_strategy_is_measured(spark):
    """gr7's node-sized degree attachments and edge-payload adjacency
    attachments must be strategy-pinned from MEASURED counts (the gr6
    rule) — round 9 shipped them as unconditional F.broadcast /
    unhinted, the exact class that OOM'd gr4/gr5/gr6 at probe steps.
    Below the ceiling the pinned side must be the broadcast build
    side; above it the join must be sort-merge."""
    from pyspark.sql import functions as F

    from big_data_analytics_spark.operators.joins import sized_side
    from big_data_analytics_spark.queries.graph_queries import (
        _weighted_edges,
    )

    sf = "/root/testdata/sf0.001"
    und = (_weighted_edges(spark, sf)
           .filter(F.col("src") < F.col("dst"))
           .select(F.col("src").alias("u"), F.col("dst").alias("v")))
    deg = (und.select(F.col("u").alias("node"))
           .unionAll(und.select(F.col("v").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("long").alias("d")))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    adj = und.groupBy("u").agg(F.collect_list("v").alias("nbrs"))

    for side in (du, adj):
        plan_small = (und.join(sized_side(side, n_rows=10), "u")
                      ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan_small
        plan_big = (und.join(sized_side(side, n_rows=10_000_000), "u")
                    ._jdf.queryExecution().executedPlan().toString())
        assert "SortMergeJoin" in plan_big
        assert "BroadcastHashJoin" not in plan_big


def test_gr5_matches_pure_python_reference(spark):
    """Third implementation of gr5's capped-adjacency link-prediction
    spec — imperative Python from the raw co-purchase pairs (the
    ORACLE INDEPENDENCE policy: gr5's SQL oracle restates the same
    cap/wedge derivation as the Spark plan, so a shared cap or
    tie-break bug would hash-match green)."""
    import math
    from collections import defaultdict

    import duckdb

    from big_data_analytics_spark.queries.graph_queries import (
        _AA_Q,
        _LP_CAP,
        _TOPK,
        gr5_link_prediction,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    pairs = con.sql(f"""
        SELECT a.l_partkey, b.l_partkey, COUNT(*) FROM
        '{sf}/lineitem.parquet' a JOIN '{sf}/lineitem.parquet' b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2""").fetchall()
    edges = {(int(s), int(d)): int(w) for s, d, w in pairs}
    by_src = defaultdict(list)
    for (s, d), w in edges.items():
        by_src[s].append((d, w))
    cap = {s: [d for d, _ in sorted(nb, key=lambda t: (-t[1], t[0]))
               [:_LP_CAP]] for s, nb in by_src.items()}
    scores = defaultdict(lambda: [0, 0])
    for z, nbrs in cap.items():
        if len(nbrs) < 2:
            continue  # no wedge pairs; also ln(1) = 0
        aa = int(math.floor(_AA_Q / math.log(float(len(nbrs)))))
        sn = sorted(nbrs)
        for i in range(len(sn)):
            for j in range(i + 1, len(sn)):
                st = scores[(sn[i], sn[j])]
                st[0] += 1
                st[1] += aa
    cand = [(a, b, c, q) for (a, b), (c, q) in scores.items()
            if (a, b) not in edges]
    cand.sort(key=lambda t: (-t[2], -t[3], t[0], t[1]))
    want = cand[:_TOPK]

    got = [(int(r["part_a"]), int(r["part_b"]),
            int(r["common_neighbors"]), int(r["aa_q"]))
           for r in gr5_link_prediction(spark, sf).collect()]
    assert got == want


def test_gr5_unpacked_fallback_matches_packed(spark, monkeypatch):
    """gr5's single-long pair packing is guarded by the measured max
    node id (keys past ~3e9 would overflow a*(mx+1)+b); the unpacked
    two-column path must produce the identical top-k. Forced here by
    shrinking the pack threshold to 0 (r15 optimization: the packed
    key halves the pair-shuffle row)."""
    from big_data_analytics_spark.queries import graph_queries as gq

    sf = "/root/testdata/sf0.001"
    packed = [tuple(r) for r in gq.gr5_link_prediction(spark, sf).collect()]
    monkeypatch.setattr(gq, "_PACK_MAX_KEY", -1)
    unpacked = [tuple(r) for r in gq.gr5_link_prediction(spark, sf).collect()]
    assert packed == unpacked


# ---------------------------------------------------------------------------
# connected_components_star (large-star/small-star contraction)
# ---------------------------------------------------------------------------

def _uf_components(pairs):
    """Pure-python union-find ground truth: node -> min id in component."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    groups: dict = {}
    for x in list(parent):
        groups.setdefault(find(x), []).append(x)
    return {x: min(ms) for ms in groups.values() for x in ms}


def _star_labels(spark, pairs, **kw):
    from big_data_analytics_spark.operators.graph import (
        connected_components_star,
    )
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    return {r.node: r.component
            for r in connected_components_star(df, **kw).collect()}


def test_star_components_match_union_find_random(spark):
    """Seeded random multigraphs (dupes, self-loops, both edge
    orientations) against an independent union-find reference."""
    import random

    rng = random.Random(20260815)
    for _ in range(4):
        n = rng.randint(6, 50)
        m = rng.randint(n // 2, 2 * n)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        assert _star_labels(spark, pairs) == _uf_components(pairs)


def test_star_components_long_chain_beyond_propagation_budget(spark):
    """The motivating case: a 120-hop chain needs ~120 min-label
    propagation rounds (ConvergenceError at the default 20) but a
    handful of star rounds — O(log² n) vs O(diameter)."""
    pairs = [(i, i + 1) for i in range(120)]
    with pytest.raises(ConvergenceError):
        connected_components(_edges(spark, pairs)).collect()
    got = _star_labels(spark, pairs)
    assert got == {i: 0 for i in range(121)}


def test_star_components_raises_past_max_rounds(spark):
    from big_data_analytics_spark.operators.graph import (
        connected_components_star,
    )
    with pytest.raises(ConvergenceError):
        connected_components_star(
            _edges(spark, [(i, i + 1) for i in range(50)]),
            max_rounds=1).collect()


def test_star_components_sized_side_flip(spark):
    """Forcing the node count past the broadcast ceiling must flip the
    min-relation attachment to the sort-merge path without changing
    the labels (the gr6/gr7 measured-pin rule applied to this
    operator's per-round join)."""
    pairs = [(i, i + 1) for i in range(40)] + [(100, 200), (200, 300)]
    default = _star_labels(spark, pairs)
    forced_merge = _star_labels(spark, pairs, broadcast_max_nodes=2)
    assert default == forced_merge == _uf_components(pairs)


def test_edge_build_preflight_refuses_small_heap(spark):
    """VERDICT r14 task 4: the 100x probe found the co-purchase edge
    build dying with a BARE JVM EXIT (GCLocker pathology) on the
    default 8g heap — no Python traceback, no knob named. The
    pre-flight must convert that into an actionable error naming
    SPARK_GRAFT_DRIVER_MEM before any expansion work starts, and must
    pass silently when the heap fits. The heap_bytes override stands
    in for a capped JVM (maxMemory() is fixed at launch)."""
    from big_data_analytics_spark.catalog import load_table
    from big_data_analytics_spark.queries.graph_queries import (
        _edge_build_preflight,
    )

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey")
    # generous cap: the coarse row-count screen passes for ~free and
    # the exact aggregation never runs (-1 sentinel) — the tier the
    # graded fixtures ride, so bench numbers carry no pre-flight tax
    assert _edge_build_preflight(spark, li, heap_bytes=1 << 40) == -1
    # mid cap: screen trips, exact tier runs and passes — returns the
    # exact pair-expansion count
    pairs = _edge_build_preflight(spark, li, heap_bytes=5_000_000)
    assert pairs > 0
    # exactness: pairs must equal sum over orders of n*(n-1)
    from pyspark.sql import functions as F
    want = (li.groupBy("l_orderkey").count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1)))
            .first()[0])
    assert pairs == want
    # artificial small cap: refuses, names the knob and both sizes
    with pytest.raises(RuntimeError) as err:
        _edge_build_preflight(spark, li, heap_bytes=10_000)
    msg = str(err.value)
    assert "SPARK_GRAFT_DRIVER_MEM" in msg
    assert f"{pairs:,}" in msg
    # real heap: the graded fixture rides the free screen tier
    assert _edge_build_preflight(spark, li) == -1
