"""PageRank over the synthesized host graph: the integer recurrence is
pinned by an independent pure-Python replica, plus structural properties
(sink floor, determinism) the fixed-point math must hold."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ocr_platform_spark.operators.webgraph import (
    _BASE_X1E6, _DAMP_DEN, _DAMP_NUM, _INIT_X1E6, N_HOSTS, PR_ITERS,
    wg_pagerank)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from ocr_platform_spark.session import build_spark
    return build_spark("webgraph-tests", cores=4)


def _python_pagerank(edges: set) -> dict:
    """Independent replica of the integer recurrence."""
    hosts = {h for e in edges for h in e}
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {h: _INIT_X1E6 for h in hosts}
    for _ in range(PR_ITERS):
        in_sum = {h: 0 for h in hosts}
        for s, d in edges:
            in_sum[d] += rank[s] // outdeg[s]
        rank = {h: _BASE_X1E6 + (_DAMP_NUM * in_sum[h]) // _DAMP_DEN
                for h in hosts}
    return rank


def _edges_from_parquet() -> set:
    import duckdb
    rows = duckdb.connect().execute(
        f"""SELECT DISTINCT o_custkey % {N_HOSTS},
                   (o_orderkey * 7 + 3) % {N_HOSTS}
            FROM read_parquet('{SF_DIR}/orders.parquet')
            WHERE o_orderkey < 5000
              AND o_custkey % {N_HOSTS} <> (o_orderkey * 7 + 3) % {N_HOSTS}
         """).fetchall()
    return {(int(a), int(b)) for a, b in rows}


def test_pagerank_matches_python_replica(spark):
    got = {r["host"]: r["rank_x1e6"]
           for r in wg_pagerank(spark, SF_DIR).collect()}
    want = {f"h{h}": r for h, r in _python_pagerank(_edges_from_parquet()).items()}
    assert got == want


def test_pagerank_rank_floor_and_spread(spark):
    out = wg_pagerank(spark, SF_DIR).collect()
    ranks = [r["rank_x1e6"] for r in out]
    # every host gets at least the teleport mass
    assert min(ranks) >= _BASE_X1E6
    # the graph is non-uniform, so ranks must actually discriminate
    assert len(set(ranks)) > 1


def test_pagerank_is_deterministic(spark):
    a = sorted((r["host"], r["rank_x1e6"])
               for r in wg_pagerank(spark, SF_DIR).collect())
    b = sorted((r["host"], r["rank_x1e6"])
               for r in wg_pagerank(spark, SF_DIR).collect())
    assert a == b


def _python_harmonic(edges: set, iters: int) -> dict:
    """Independent replica: per-source BFS over out-edges, H(v) summed as
    floor(1e6/d) over sources u with d(u, v) <= iters."""
    hosts = {h for e in edges for h in e}
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    harm = {h: 0 for h in hosts}
    for u in hosts:
        dist = {u: 0}
        frontier = [u]
        for d in range(1, iters + 1):
            nxt = []
            for x in frontier:
                for y in adj.get(x, ()):
                    if y not in dist:
                        dist[y] = d
                        nxt.append(y)
            frontier = nxt
        for v, d in dist.items():
            if v != u:
                harm[v] += 1_000_000 // d
    return harm


def test_harmonic_matches_python_replica(spark):
    from ocr_platform_spark.operators.webgraph import HC_ITERS, wg_harmonic

    got = {r["host"]: r["harm_x1e6"]
           for r in wg_harmonic(spark, SF_DIR).collect()}
    want = {f"h{h}": v
            for h, v in _python_harmonic(_edges_from_parquet(),
                                         HC_ITERS).items()}
    assert got == want


def test_harmonic_tiny_chain(spark):
    # 1 -> 2 -> 3: H(2) = 1/1, H(3) = 1/1 + 1/2, H(1) = 0
    from ocr_platform_spark.operators.webgraph import harmonic_ranks

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    got = {r["h"]: r["harm"] for r in harmonic_ranks(edges, 6).collect()}
    assert got == {1: 0, 2: 1_000_000, 3: 1_500_000}


# --- connected components (alternating two-star) ---------------------------

def _cc_edges_from_parquet() -> set:
    import duckdb

    from ocr_platform_spark.operators.webgraph import (
        CC_CLASSES, CC_NODES_PER_CLASS)

    rows = duckdb.connect().execute(
        f"""SELECT DISTINCT
                (o_custkey % {CC_CLASSES})
                  + {CC_CLASSES} * (o_custkey % {CC_NODES_PER_CLASS}),
                (o_custkey % {CC_CLASSES})
                  + {CC_CLASSES} * ((o_orderkey * 7 + 3)
                                    % {CC_NODES_PER_CLASS})
            FROM read_parquet('{SF_DIR}/orders.parquet')
            WHERE o_orderkey % 11 < 2""").fetchall()
    return {(int(a), int(b)) for a, b in rows if a != b}


def _union_find(edges: set) -> dict:
    """Independent replica: classic path-compressed union-find, then the
    min node id of each set as the component label."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict = {}
    for n in list(parent):
        comps.setdefault(find(n), []).append(n)
    return {n: min(members)
            for root, members in comps.items() for n in members}


def test_components_match_union_find(spark):
    from ocr_platform_spark.operators.webgraph import wg_components

    got = {r["host"]: (r["component_id"], r["n_nodes"])
           for r in wg_components(spark, SF_DIR).collect()}
    labels = _union_find(_cc_edges_from_parquet())
    sizes: dict = {}
    for n, c in labels.items():
        sizes[c] = sizes.get(c, 0) + 1
    want = {f"h{n}": (c, sizes[c]) for n, c in labels.items()}
    assert got == want


def test_components_never_span_residue_classes(spark):
    # every edge stays inside its class ⇒ node ≡ component_id (mod 16)
    from ocr_platform_spark.operators.webgraph import (
        CC_CLASSES, wg_components)

    for r in wg_components(spark, SF_DIR).collect():
        node = int(r["host"][1:])
        assert node % CC_CLASSES == r["component_id"] % CC_CLASSES


def test_two_star_log_rounds_on_long_path(spark):
    # a permuted 200-node path has diameter 199: min-label propagation
    # (dd_clusters) needs ~199 shuffle rounds; two-star must finish in
    # O(log n) — the scale property this kernel exists for. Empirically 8
    # rounds; the bound leaves headroom without admitting linear behavior.
    from ocr_platform_spark.operators.webgraph import _two_star_rounds

    ids = [(i * 97) % 211 for i in range(200)]
    assert len(set(ids)) == 200
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(199)], "src long, dst long")
    labels, rounds = _two_star_rounds(edges)
    assert rounds <= 14
    rows = labels.collect()
    assert len(rows) == 200
    assert {r["component_id"] for r in rows} == {0}


def test_two_star_isolated_pair_and_empty(spark):
    from ocr_platform_spark.operators.webgraph import two_star_components

    pair = spark.createDataFrame([(7, 3)], "src long, dst long")
    got = {r["node"]: r["component_id"]
           for r in two_star_components(pair).collect()}
    assert got == {7: 3, 3: 3}

    empty = spark.createDataFrame([], "src long, dst long")
    assert two_star_components(empty).count() == 0


# --- wave 10: triangle census + redirect resolution -------------------------

def _brute_triangles(edges: set) -> tuple[dict, dict]:
    """Independent O(n^3) replica: per-node degree + triangle count."""
    und = {tuple(sorted(e)) for e in edges}
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {h: len(ns) for h, ns in adj.items()}
    tri = {h: 0 for h in adj}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if y not in adj[x]:
                continue
            for z in nodes:
                if z > y and z in adj[x] and z in adj[y]:
                    tri[x] += 1
                    tri[y] += 1
                    tri[z] += 1
    return deg, tri


def test_triangles_match_brute_force(spark):
    from ocr_platform_spark.operators.webgraph import wg_triangles

    got = {r["host"]: (r["deg"], r["n_triangles"], r["clustering_x10k"])
           for r in wg_triangles(spark, SF_DIR).collect()}
    deg, tri = _brute_triangles(_edges_from_parquet())
    want = {f"h{h}": (deg[h], tri[h],
                      (20000 * tri[h]) // (deg[h] * (deg[h] - 1))
                      if deg[h] >= 2 else 0)
            for h in deg}
    assert got == want


def test_triangles_planted_shapes(spark):
    from ocr_platform_spark.operators.webgraph import triangle_stats

    # K4 (4 triangles, each node in 3) + a disjoint star (0 triangles)
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    star = [(100, 100 + i) for i in range(1, 8)]
    edges = spark.createDataFrame(k4 + star, "src long, dst long")
    got = {r["h"]: (r["deg"], r["n_tri"])
           for r in triangle_stats(edges).collect()}
    for n in range(4):
        assert got[n] == (3, 4 - 1)  # each K4 node closes C(3,2)=3 triangles
    assert got[100] == (7, 0)
    for i in range(1, 8):
        assert got[100 + i] == (1, 0)


def test_triangle_orientation_bounds_hub_fanout(spark):
    # a 300-leaf hub: naive wedge generation pairs its neighbors
    # (C(300,2) ≈ 45k rows); degree orientation points every edge AT the
    # hub, so the hub's oriented out-degree — and the wedge count — is 0.
    from ocr_platform_spark.operators.webgraph import (
        _und_edges, triangle_stats)

    hub = spark.createDataFrame(
        [(0, i) for i in range(1, 301)], "src long, dst long")
    und = _und_edges(hub)
    deg = (und.select(F.col("a").alias("h"))
           .unionAll(und.select(F.col("b").alias("h")))
           .groupBy("h").count())
    # sanity: the hub really is the max-degree node
    assert {r["h"]: r["count"] for r in deg.collect()}[0] == 300
    got = triangle_stats(hub)
    rows = got.collect()
    assert all(r["n_tri"] == 0 for r in rows)
    # duplicate + reversed edges collapse to the same simple graph
    doubled = hub.unionAll(hub.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
    rows2 = {r["h"]: (r["deg"], r["n_tri"])
             for r in triangle_stats(doubled).collect()}
    assert rows2 == {r["h"]: (r["deg"], r["n_tri"]) for r in rows}


def _python_resolve(u: int) -> tuple[str, int | None, int | None]:
    """Independent sequential walk of the alias map."""
    from ocr_platform_spark.operators.webgraph import R_MOD, R_NODES

    cur, hops = u, 0
    while cur % R_MOD != 0:
        if hops > R_NODES:
            return "cycle", None, None
        if cur % R_MOD == R_MOD - 1:
            cur = (cur + R_MOD) % R_NODES
        elif cur % R_MOD == R_MOD - 2:
            cur = cur + 1
        else:
            cur = cur - 1
        hops += 1
    return "ok", cur, hops


def test_redirects_match_sequential_walk(spark):
    import duckdb

    from ocr_platform_spark.operators.webgraph import R_NODES, wg_redirects

    observed = {int(r[0]) for r in duckdb.connect().execute(
        f"SELECT DISTINCT o_orderkey % {R_NODES} FROM "
        f"read_parquet('{SF_DIR}/orders.parquet')").fetchall()}
    got = {r["url"]: (r["status"], r["final_url"], r["n_hops"])
           for r in wg_redirects(spark, SF_DIR).collect()}
    assert set(got) == {f"u{u}" for u in observed}
    for u in observed:
        status, fin, hops = _python_resolve(u)
        want = (status, f"u{fin}" if fin is not None else None, hops)
        assert got[f"u{u}"] == want, u


def test_redirect_doubling_resolves_long_chain_in_log_rounds(spark):
    # a 30-hop chain resolves with 5 doubling rounds (2^5 = 32 > 30);
    # with 4 rounds (2^4 = 16) it must NOT — the doubling really is the
    # mechanism, not a linear walk in disguise.
    from ocr_platform_spark.operators.webgraph import resolve_redirects

    chain = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 31)], "u long, v long")
    res5 = {r["u"]: (r["resolved"], r["cur"], r["hops"])
            for r in resolve_redirects(chain, rounds=5).collect()}
    assert res5[30] == (True, 0, 30)
    assert res5[1] == (True, 0, 1)
    res4 = {r["u"]: r["resolved"]
            for r in resolve_redirects(chain, rounds=4).collect()}
    assert res4[30] is False


def test_redirect_cycle_nodes_never_resolve(spark):
    from ocr_platform_spark.operators.webgraph import resolve_redirects

    # 3-cycle plus a tail feeding it and a clean chain to a terminal
    edges = [(1, 2), (2, 3), (3, 1), (9, 1), (20, 21)]
    rmap = spark.createDataFrame(edges, "u long, v long")
    got = {r["u"]: (r["resolved"], r["hops"] if r["resolved"] else None)
           for r in resolve_redirects(rmap).collect()}
    assert got[1] == (False, None)
    assert got[2] == (False, None)
    assert got[3] == (False, None)
    assert got[9] == (False, None)
    assert got[20] == (True, 1)
    assert got[21] == (True, 0)   # terminal: self-resolved at hop 0


def test_triangle_and_redirect_plans_have_no_cartesian(spark):
    # both kernels must stay pure equi-join: a slipped join condition
    # (e.g. the wedge-order filter absorbed into the join) would
    # degenerate to a nested-loop/cartesian and die at web scale
    from ocr_platform_spark.operators.webgraph import (
        wg_redirects, wg_triangles)

    for df in (wg_triangles(spark, SF_DIR), wg_redirects(spark, SF_DIR)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


# --- k-core (h-index fixpoint) ----------------------------------------------

def _h_index(vals):
    """Reference formula: max h such that at least h of vals are >= h —
    the per-node operator the distributed window recurrence (cv/ge in
    kcore_ranks) must reproduce; lives here because only tests use the
    sequential form."""
    h = 0
    for i, x in enumerate(sorted(vals, reverse=True), 1):
        if x >= i:
            h = i
    return h


def test_h_index_window_recurrence_equivalence():
    # the kernel computes max over distinct values cv of min(cv, ge)
    # where ge = #neighbours with value >= cv; pin that this equals the
    # sorted-prefix h-index definition on exhaustive small multisets
    import itertools

    for n in range(0, 5):
        for vals in itertools.product(range(1, 6), repeat=n):
            ge = {cv: sum(1 for x in vals if x >= cv) for cv in set(vals)}
            windowed = max((min(cv, g) for cv, g in ge.items()), default=0)
            assert windowed == _h_index(list(vals)), vals


def test_h_index_unit():
    assert _h_index([]) == 0
    assert _h_index([5]) == 1
    assert _h_index([5, 1]) == 1
    assert _h_index([3, 3, 3]) == 3
    assert _h_index([10, 8, 5, 4, 3]) == 4


def _bz_peel_hosts() -> dict:
    """host → (deg, coreness) from the Batagelj–Zaversnik min-degree peel
    over the sf0.01 host graph."""
    from ocr_platform_spark.operators.webgraph import python_coreness

    pairs = _edges_from_parquet()
    want_core = python_coreness(pairs)
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    want_deg: dict = {}
    for a, b in und:
        want_deg[a] = want_deg.get(a, 0) + 1
        want_deg[b] = want_deg.get(b, 0) + 1
    return {f"h{n}": (want_deg[n], want_core[n]) for n in want_core}


def test_kcore_matches_bz_peel(spark):
    # distributed h-index fixpoint vs the Batagelj–Zaversnik min-degree
    # peel — a genuinely different algorithm, so agreement checks the
    # algorithm, not the implementation
    from ocr_platform_spark.operators.webgraph import wg_kcore

    got = {r["host"]: (r["deg"], r["coreness"])
           for r in wg_kcore(spark, SF_DIR).collect()}
    assert got == _bz_peel_hosts()


def test_kcore_oracle_matches_bz_peel():
    # the DuckDB oracle's unrolled rounds against the same peel; its
    # per-round MATERIALIZED CTEs keep DuckDB from inlining round r into
    # round r+1, which made the 12-round query take minutes
    import duckdb

    from ocr_platform_spark.operators.webgraph import WG_KCORE_SQL

    con = duckdb.connect()
    con.execute("CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/orders.parquet')")
    got = {h: (d, c) for h, d, c in con.execute(WG_KCORE_SQL).fetchall()}
    assert got == _bz_peel_hosts()


def test_kcore_planted_shapes(spark):
    # K5 (coreness 4) with a path tail (coreness 1) hanging off it, plus
    # a disjoint triangle (coreness 2); duplicate/reversed/self-loop
    # input rows must not change the simple-graph answer
    from ocr_platform_spark.operators.webgraph import kcore_ranks

    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    tail = [(4, 10), (10, 11), (11, 12)]
    tri = [(20, 21), (21, 22), (22, 20)]
    noise = [(1, 0), (2, 0), (20, 20)]          # dup reversed + self-loop
    edges = spark.createDataFrame(
        k5 + tail + tri + noise, "src long, dst long")
    got = {r["node"]: (r["deg"], r["coreness"])
           for r in kcore_ranks(edges, rounds=6).collect()}
    assert got[0] == (4, 4) and got[1] == (4, 4)
    assert got[4] == (5, 4)                     # K5 member + tail anchor
    assert got[10] == (2, 1) and got[12] == (1, 1)
    assert got[20] == (2, 2) and got[22] == (2, 2)


def test_kcore_fixpoint_absorbs_extra_rounds(spark):
    # the h-index operator is monotone non-increasing and absorbs at the
    # coreness: KC_ROUNDS and KC_ROUNDS+2 must be bit-identical on the
    # shipped graph (this is what makes a FIXED round budget exact), and
    # a deliberately starved budget must still be pointwise >= coreness
    # (the sequence approaches from above, never overshoots below)
    from ocr_platform_spark.operators.webgraph import (
        KC_ROUNDS, _edges, kcore_ranks, python_coreness)
    from ocr_platform_spark.operators.tables import load

    edges = _edges(load(spark, SF_DIR, "orders"))
    at = {r["node"]: r["coreness"]
          for r in kcore_ranks(edges, rounds=KC_ROUNDS).collect()}
    extra = {r["node"]: r["coreness"]
             for r in kcore_ranks(edges, rounds=KC_ROUNDS + 2).collect()}
    assert at == extra
    core = python_coreness(_edges_from_parquet())
    starved = {r["node"]: r["coreness"]
               for r in kcore_ranks(edges, rounds=1).collect()}
    assert all(starved[n] >= core[n] for n in starved)


def test_kcore_long_path_needs_rounds(spark):
    # a path of length L needs ~L/2 h-index sweeps to drain to coreness 1
    # from the inside out — pin that rounds=1 is NOT yet converged while
    # the shipped budget is: the fixed budget is a real mechanism, and a
    # regression that silently dropped the loop would fail here
    from ocr_platform_spark.operators.webgraph import kcore_ranks

    path = [(i, i + 1) for i in range(12)]
    edges = spark.createDataFrame(path, "src long, dst long")
    one = {r["node"]: r["coreness"]
           for r in kcore_ranks(edges, rounds=1).collect()}
    assert any(v > 1 for v in one.values())
    done = {r["node"]: r["coreness"]
            for r in kcore_ranks(edges, rounds=8).collect()}
    assert set(done.values()) == {1}


def test_kcore_hub_star_is_one_core_and_equi_join(spark):
    # a 300-leaf star is a 1-core everywhere (hub included): the hub's
    # 300-neighbour fan-in must collapse to ONE histogram row before the
    # per-node window, and the whole plan stays pure equi-join
    from ocr_platform_spark.operators.webgraph import kcore_ranks, wg_kcore

    star = [(0, i) for i in range(1, 301)]
    edges = spark.createDataFrame(star, "src long, dst long")
    res = kcore_ranks(edges, rounds=4)
    got = {r["node"]: (r["deg"], r["coreness"]) for r in res.collect()}
    assert got[0] == (300, 1)
    assert all(v == (1, 1) for n, v in got.items() if n != 0)

    plan = wg_kcore(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# --- TrustRank + seed distance (spam demotion) -------------------------------

def _python_trustrank(edges: set, iters: int) -> dict:
    from ocr_platform_spark.operators.webgraph import (
        _DAMP_DEN, _DAMP_NUM, _SEED_BASE_X1E6, _SEED_MOD, _SEED_RES)

    hosts = {h for e in edges for h in e}
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = {h: _SEED_BASE_X1E6 if h % _SEED_MOD == _SEED_RES else 0
            for h in hosts}
    trust = dict(base)
    for _ in range(iters):
        in_sum = {h: 0 for h in hosts}
        for s, d in edges:
            in_sum[d] += trust[s] // outdeg[s]
        trust = {h: base[h] + (_DAMP_NUM * in_sum[h]) // _DAMP_DEN
                 for h in hosts}
    return trust


def test_trustrank_matches_python_replica(spark):
    from ocr_platform_spark.operators.webgraph import TR_ITERS, wg_trustrank

    got = {r["host"]: r["trust_x1e6"]
           for r in wg_trustrank(spark, SF_DIR).collect()}
    edges = _edges_from_parquet()
    trust = _python_trustrank(edges, TR_ITERS)
    rank = _python_pagerank(edges)
    assert got == {f"h{h}": t for h, t in trust.items()}
    # and the spam-mass discriminator agrees with the two replicas
    got_sm = {r["host"]: r["spam_mass_x1e4"]
              for r in wg_trustrank(spark, SF_DIR).collect()}
    want_sm = {f"h{h}": (max(rank[h] - trust[h], 0) * 10000) // rank[h]
               for h in trust}
    assert got_sm == want_sm


def test_trustrank_spam_island_gets_exactly_zero(spark):
    # trust reaches a host ONLY through a seed-rooted path: an island
    # with no inbound path from any seed converges to exactly 0 (integer
    # arithmetic makes this sharp), while PageRank still grants it its
    # teleport base — that divergence IS the spam-mass signal
    from ocr_platform_spark.operators.webgraph import (
        pagerank_ranks, trustrank_ranks)

    edges = spark.createDataFrame(
        [(3, 1), (1, 2),            # seed 3 feeds 1 and transitively 2
         (100, 101), (101, 100),    # spam island, no seed path in
         (100, 2)],                 # island links OUT (classic farm)
        "src long, dst long")
    trust = {r["h"]: r["trust"] for r in trustrank_ranks(edges).collect()}
    rank = {r["h"]: r["rank"] for r in pagerank_ranks(edges).collect()}
    assert trust[100] == 0 and trust[101] == 0
    assert trust[3] > 0 and trust[1] > 0 and trust[2] > 0
    assert rank[100] > 0 and rank[101] > 0


def test_seed_dist_matches_bfs_replica(spark):
    from ocr_platform_spark.operators.webgraph import (
        _SEED_MOD, _SEED_RES, wg_seed_dist)

    edges = _edges_from_parquet()
    hosts = {h for e in edges for h in e}
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    dist = {h: 0 for h in hosts if h % _SEED_MOD == _SEED_RES}
    frontier = list(dist)
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    want = {f"h{h}": dist.get(h, -1) for h in hosts}
    got = {r["host"]: r["seed_dist"]
           for r in wg_seed_dist(spark, SF_DIR).collect()}
    assert got == want


def test_seed_dist_directionality_island_and_absorption(spark):
    # hops follow edge direction (an edge INTO a seed confers nothing),
    # unreachable hosts are -1, and extra rounds past convergence are
    # bit-identical (the absorbing MIN is what lets both engines run a
    # literal round budget)
    from ocr_platform_spark.operators.webgraph import (
        SD_ROUNDS, seed_distances)

    edges = spark.createDataFrame(
        [(3, 1), (1, 2), (2, 4),    # chain out of seed 3
         (5, 3),                    # points AT the seed: 5 stays -1
         (7, 8), (8, 7)],           # island
        "src long, dst long")
    got = {r["h"]: r["seed_dist"]
           for r in seed_distances(edges).collect()}
    assert got == {3: 0, 1: 1, 2: 2, 4: 3, 5: -1, 7: -1, 8: -1}
    extra = {r["h"]: r["seed_dist"]
             for r in seed_distances(edges, rounds=SD_ROUNDS + 2).collect()}
    assert extra == got


def test_trustrank_seed_dist_plans_pure_equi_join(spark):
    from ocr_platform_spark.operators.webgraph import (
        wg_seed_dist, wg_trustrank)

    for df in (wg_trustrank(spark, SF_DIR), wg_seed_dist(spark, SF_DIR)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


_KCORE_WITH_CHECKPOINT_DIR = """
import json, sys
from ocr_platform_spark.operators.webgraph import wg_kcore
from ocr_platform_spark.session import build_spark
spark = build_spark("webgraph-ckpt", cores=2)
spark.sparkContext.setCheckpointDir(sys.argv[1])
rows = sorted(tuple(r) for r in wg_kcore(spark, sys.argv[2]).collect())
print(json.dumps(rows))
spark.stop()
"""


def test_lineage_cut_with_checkpoint_dir_keeps_output(spark, tmp_path):
    """With a checkpoint dir set, session.lineage_cut takes the reliable
    checkpoint branch: wg_kcore (a cut every round plus the final cut)
    writes checkpoint files there and returns the rows it returns with
    localCheckpoint. The reliable half runs in its own process, so the
    shared session never gets a checkpoint dir."""
    from ocr_platform_spark.operators.webgraph import wg_kcore

    assert spark.sparkContext.getCheckpointDir() is None
    local = sorted(tuple(r) for r in wg_kcore(spark, SF_DIR).collect())
    repo = Path(__file__).resolve().parent.parent
    env = dict(os.environ, SPARK_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (str(repo), os.environ.get("PYTHONPATH"))
                   if p))
    out = subprocess.run(
        [sys.executable, "-c", _KCORE_WITH_CHECKPOINT_DIR,
         str(tmp_path / "ckpt"), SF_DIR],
        capture_output=True, text=True, timeout=600, cwd=str(repo), env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    reliable = [tuple(r) for r in json.loads(out.stdout.splitlines()[-1])]
    assert reliable == local and local
    assert list((tmp_path / "ckpt").glob("*/rdd-*"))
