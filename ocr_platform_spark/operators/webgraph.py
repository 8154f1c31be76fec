"""Web-graph domain authority: PageRank over the host link graph — the
ranking Common Crawl publishes per crawl (host/domain-level PageRank and
harmonic centrality) and curation pipelines join back onto documents as a
quality prior.

Determinism: the whole computation is INTEGER arithmetic — ranks are
fixed-point x1e6, every division is floor (Spark ``DIV``, DuckDB ``//``)
— so ten iterations produce bit-identical values in any engine; the
DuckDB oracle is the same recurrence unrolled into ten CTE stages by a
Python loop at import time.

Shape at scale (the CC host graph is ~10^8 hosts / 10^10 edges): the
edge list joins rank on src and aggregates on dst — one shuffle join +
one map-side-combined aggregate per iteration, both keyed on host ids;
the static (edges ⋈ outdeg) relation is persisted once and reused by all
iterations; rank lineage is cut every iteration (session.lineage_cut:
reliable checkpoint when a checkpoint dir exists, else localCheckpoint)
so the plan stays flat instead of growing exponentially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_platform_spark.operators.tables import load
from ocr_platform_spark.session import lineage_cut

N_HOSTS = 50
PR_ITERS = 10
_DAMP_NUM, _DAMP_DEN = 85, 100     # damping 0.85 as an integer ratio
_BASE_X1E6 = 150_000               # (1 - d) * 1e6
_INIT_X1E6 = 1_000_000


def _edges(orders: DataFrame) -> DataFrame:
    """Deterministic host link graph synthesized from orders: an edge
    from host(o_custkey) to host(o_orderkey*7+3), self-loops dropped."""
    src = F.pmod(F.col("o_custkey"), F.lit(N_HOSTS))
    dst = F.pmod(F.col("o_orderkey") * 7 + 3, F.lit(N_HOSTS))
    return (orders.filter(F.col("o_orderkey") < 5000)
            .select(src.alias("src"), dst.alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def _damped_ranks(edges: DataFrame, base, init, iters: int,
                  out: str) -> DataFrame:
    """The damped link-mass recurrence shared by PageRank and TrustRank:
    x_{i+1}(v) = base(v) + (85 * Σ_{u→v} x_i(u) DIV outdeg(u)) DIV 100,
    all int64. ``base``/``init`` are Columns over host column ``h`` —
    PageRank passes uniform constants, TrustRank a seed-conditional
    base (and init == base, so unlinked hosts hold exactly 0)."""
    hosts = (edges.select(F.col("src").alias("h"))
             .union(edges.select(F.col("dst").alias("h")))
             .distinct())
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    esrc = edges.join(outdeg, "src").persist()

    rank = hosts.withColumn(out, init.cast("long"))
    for _ in range(iters):
        insum = (esrc.join(rank, esrc["src"] == rank["h"])
                 .select(F.col("dst"),
                         F.expr(f"{out} DIV deg").alias("c"))
                 .groupBy("dst").agg(F.sum("c").alias("in_sum")))
        rank = lineage_cut(
            hosts.join(insum, hosts["h"] == insum["dst"], "left")
            .select(
                "h",
                (base
                 + F.expr(f"({_DAMP_NUM} * coalesce(in_sum, 0))"
                          f" DIV {_DAMP_DEN}"))
                .cast("long").alias(out)))
    esrc.unpersist()
    return rank


def pagerank_ranks(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """edges(src, dst) of any equi-joinable host type → (h, rank) after
    ``iters`` exact-integer damped iterations. The generic kernel: the
    driver query (wg_pagerank) feeds it the synthetic orders graph, the
    linkgraph plan (plans/linkgraph_job.py) the crawl's extracted hosts."""
    return _damped_ranks(edges, F.lit(_BASE_X1E6), F.lit(_INIT_X1E6),
                         iters, "rank")


HC_ITERS = 6   # BFS radius; covers the synthetic graph's full diameter


def harmonic_ranks(edges: DataFrame, iters: int = HC_ITERS) -> DataFrame:
    """Harmonic centrality H(v) = Σ_{u→…→v} 1/d(u, v) — the second ranking
    Common Crawl publishes per crawl beside PageRank.

    Exact within BFS radius ``iters``: multi-source frontier expansion as
    plain DataFrame ops (join frontier⋈edges → distinct → anti-join vs the
    known-pair set), distances 1/d summed in x1e6 integer fixed-point so
    any engine reproduces the bits. Per-round lineage cuts keep the plan
    flat; the frontier is checked per round and the loop exits early once
    the graph is exhausted (the oracle unrolls all rounds — an empty
    frontier contributes nothing, so early exit is value-identical).

    Scale: the exact pair set is the BFS ball — right for host-level
    graphs up to ~10^6 hosts or any bounded radius. At the full CC scale
    (10^8 hosts) the published numbers are themselves HyperBall
    approximations; the swap is localized (frontier pair set → HLL
    registers per node), the iteration/shuffle shape stays this one.
    """
    hosts = (edges.select(F.col("src").alias("h"))
             .union(edges.select(F.col("dst").alias("h")))
             .distinct())

    frontier = lineage_cut(edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.lit(1).cast("int").alias("d")))
    known = frontier
    for i in range(2, iters + 1):
        nxt = lineage_cut(
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.v") == F.col("e.src"))
            .select(F.col("f.u").alias("u"), F.col("e.dst").alias("v"))
            .filter(F.col("u") != F.col("v")).distinct()
            .join(known.select("u", "v"), ["u", "v"], "left_anti")
            .withColumn("d", F.lit(i).cast("int")))
        if nxt.isEmpty():
            break
        # no cut on the union: both sides are already-materialized
        # LogicalRDDs, so known's lineage is a flat union that grows only
        # linearly with rounds (and Spark 4.1's localCheckpoint trips a
        # stats-rewrite NoSuchElementException on union-of-LogicalRDD plans)
        known = known.unionByName(nxt)
        frontier = nxt
    harm = (known.groupBy("v")
            .agg(F.sum(F.expr("1000000 DIV d")).alias("harm")))
    return (hosts.join(harm, hosts["h"] == harm["v"], "left")
            .select("h", F.coalesce(F.col("harm"), F.lit(0))
                    .cast("long").alias("harm")))


def wg_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    ranks = harmonic_ranks(_edges(orders))
    return ranks.select(
        F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
        F.col("harm").alias("harm_x1e6"))


def _harmonic_sql(iters: int = HC_ITERS) -> str:
    """The identical bounded-radius BFS, one CTE pair (frontier, known)
    per round — same unrolling discipline as the PageRank oracle."""
    sql = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey % {N_HOSTS} AS src,
                  (o_orderkey * 7 + 3) % {N_HOSTS} AS dst
  FROM orders
  WHERE o_orderkey < 5000
    AND o_custkey % {N_HOSTS} <> (o_orderkey * 7 + 3) % {N_HOSTS}),
hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM edges UNION SELECT dst FROM edges)),
f1 AS (SELECT src AS u, dst AS v, 1 AS d FROM edges),
known1 AS (SELECT u, v, d FROM f1)"""
    for i in range(2, iters + 1):
        sql += f""",
f{i} AS (
  SELECT DISTINCT f.u, e.dst AS v, {i} AS d
  FROM f{i - 1} f JOIN edges e ON e.src = f.v
  WHERE f.u <> e.dst
    AND NOT EXISTS (SELECT 1 FROM known{i - 1} k
                    WHERE k.u = f.u AND k.v = e.dst)),
known{i} AS (
  SELECT u, v, d FROM known{i - 1} UNION ALL SELECT u, v, d FROM f{i})"""
    sql += f"""
SELECT 'h' || CAST(h.h AS VARCHAR) AS host,
       CAST(coalesce(s.harm, 0) AS BIGINT) AS harm_x1e6
FROM hosts h LEFT JOIN (
  SELECT v, SUM(1000000 // d) AS harm FROM known{iters} GROUP BY v
) s ON s.v = h.h"""
    return sql


WG_HARMONIC_SQL = _harmonic_sql()


def wg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    rank = pagerank_ranks(_edges(orders))
    return rank.select(
        F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
        F.col("rank").alias("rank_x1e6"))


def _pagerank_sql(iters: int = PR_ITERS) -> str:
    """The identical integer recurrence, unrolled into one CTE per
    iteration (recursive CTEs cannot aggregate in the recursive term)."""
    sql = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey % {N_HOSTS} AS src,
                  (o_orderkey * 7 + 3) % {N_HOSTS} AS dst
  FROM orders
  WHERE o_orderkey < 5000
    AND o_custkey % {N_HOSTS} <> (o_orderkey * 7 + 3) % {N_HOSTS}),
hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM edges UNION SELECT dst FROM edges)),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT h, CAST({_INIT_X1E6} AS BIGINT) AS rank FROM hosts)"""
    for i in range(1, iters + 1):
        sql += f""",
r{i} AS (
  SELECT h.h,
         CAST({_BASE_X1E6} + ({_DAMP_NUM} * coalesce(s.in_sum, 0))
              // {_DAMP_DEN} AS BIGINT) AS rank
  FROM hosts h LEFT JOIN (
    SELECT e.dst AS h, sum(r.rank // d.deg) AS in_sum
    FROM edges e
    JOIN r{i - 1} r ON r.h = e.src
    JOIN outdeg d ON d.src = e.src
    GROUP BY e.dst) s ON s.h = h.h)"""
    sql += (f"\nSELECT 'h' || CAST(h AS VARCHAR) AS host,"
            f" rank AS rank_x1e6 FROM r{iters}")
    return sql


WG_PAGERANK_SQL = _pagerank_sql()


# --- HITS hubs & authorities (Kleinberg) -----------------------------------
# The third classic link-graph ranking beside PageRank and harmonic
# centrality: authority(v) = sum of hub scores linking TO v, hub(u) = sum
# of authority scores u links to. Curation pipelines use the authority
# side as a spam-resistant complement to PageRank (link farms inflate
# their own PR but not their authority, because farm pages are bad hubs).
#
# Determinism: the usual L2 normalization is replaced by max-normalization
# (divide by the round's max score, x1e6 fixed point, floor division) —
# a valid HITS normalizer (any positive rescaling per round preserves the
# power-iteration direction) that stays in exact int64, so every engine
# reproduces the bits and the DuckDB oracle is the same recurrence
# unrolled with one scalar-subquery max per half-step.

HITS_ITERS = 8
_HITS_SCALE = 1_000_000


def hits_ranks(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """edges(src, dst) → (h, auth, hub) after ``iters`` exact-integer
    max-normalized HITS iterations.

    Shape at scale: per iteration, two (join on one endpoint → map-side-
    combined aggregate on the other) passes — the same shuffle profile as
    one PageRank round, twice — plus a 1-row max aggregate that broadcasts
    back via crossJoin (never collected to Python). Score lineage is cut
    every iteration (session.lineage_cut) so the plan depth
    stays constant.
    """
    hosts = (edges.select(F.col("src").alias("h"))
             .union(edges.select(F.col("dst").alias("h")))
             .distinct())
    e = edges.persist()

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        """(h, raw) → (h, score) with score = raw * 1e6 DIV max(raw);
        the 1-row max is broadcast back into the plan, not collected."""
        mx = raw.agg(F.max(col).alias("mx"))
        return (raw.crossJoin(F.broadcast(mx))
                .select("h", F.expr(f"({col} * {_HITS_SCALE}) DIV mx")
                        .cast("long").alias(col)))

    hub = hosts.withColumn("hub", F.lit(_HITS_SCALE).cast("long"))
    # iters=0 degenerates gracefully like pagerank_ranks: init hub, 0 auth
    auth = hosts.withColumn("auth", F.lit(0).cast("long"))
    for _ in range(iters):
        a_raw = (e.join(hub, e["src"] == hub["h"])
                 .groupBy("dst").agg(F.sum("hub").alias("auth")))
        auth = lineage_cut(_normalize(
            hosts.join(a_raw, hosts["h"] == a_raw["dst"], "left")
            .select("h", F.coalesce("auth", F.lit(0)).alias("auth")),
            "auth"))
        h_raw = (e.join(auth, e["dst"] == auth["h"])
                 .groupBy("src").agg(F.sum("auth").alias("hub")))
        hub = lineage_cut(_normalize(
            hosts.join(h_raw, hosts["h"] == h_raw["src"], "left")
            .select("h", F.coalesce("hub", F.lit(0)).alias("hub")),
            "hub"))
    e.unpersist()
    return (auth.join(hub, "h")
            .select("h", F.col("auth").cast("long"),
                    F.col("hub").cast("long")))


def wg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    ranks = hits_ranks(_edges(orders))
    return ranks.select(
        F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
        F.col("auth").alias("auth_x1e6"),
        F.col("hub").alias("hub_x1e6"))


def _hits_sql(iters: int = HITS_ITERS) -> str:
    """The identical recurrence: one (raw, normalized) CTE pair per
    half-step. The round max enters as ``max(...) OVER ()`` INSIDE the
    normalize CTE — not a scalar subquery — because DuckDB inlines CTEs:
    a second reference per half-step would expand the chain ~4^iters
    times (measured: fd exhaustion from tens of thousands of parquet
    re-scans). With the window form every CTE is referenced exactly once,
    so the unrolled plan stays linear like the PageRank oracle. DuckDB
    SUM widens to HUGEINT, so every aggregate is cast back to BIGINT."""
    sql = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey % {N_HOSTS} AS src,
                  (o_orderkey * 7 + 3) % {N_HOSTS} AS dst
  FROM orders
  WHERE o_orderkey < 5000
    AND o_custkey % {N_HOSTS} <> (o_orderkey * 7 + 3) % {N_HOSTS}),
hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM edges UNION SELECT dst FROM edges)),
hub0 AS (SELECT h, CAST({_HITS_SCALE} AS BIGINT) AS hub FROM hosts)"""
    for i in range(1, iters + 1):
        sql += f""",
araw{i} AS (
  SELECT h.h, CAST(coalesce(s.x, 0) AS BIGINT) AS auth
  FROM hosts h LEFT JOIN (
    SELECT e.dst AS h, sum(u.hub) AS x
    FROM edges e JOIN hub{i - 1} u ON u.h = e.src
    GROUP BY e.dst) s ON s.h = h.h),
auth{i} AS (
  SELECT h, CAST((auth * {_HITS_SCALE})
                 // max(auth) OVER () AS BIGINT) AS auth
  FROM araw{i}),
hraw{i} AS (
  SELECT h.h, CAST(coalesce(s.x, 0) AS BIGINT) AS hub
  FROM hosts h LEFT JOIN (
    SELECT e.src AS h, sum(a.auth) AS x
    FROM edges e JOIN auth{i} a ON a.h = e.dst
    GROUP BY e.src) s ON s.h = h.h),
hub{i} AS (
  SELECT h, CAST((hub * {_HITS_SCALE})
                 // max(hub) OVER () AS BIGINT) AS hub
  FROM hraw{i})"""
    sql += f"""
SELECT 'h' || CAST(a.h AS VARCHAR) AS host,
       a.auth AS auth_x1e6, u.hub AS hub_x1e6
FROM auth{iters} a JOIN hub{iters} u ON u.h = a.h"""
    return sql


WG_HITS_SQL = _hits_sql()


# --- Connected components (alternating two-star) ----------------------------
# The fourth graph primitive a crawl corpus needs: mirror clusters, dup
# clusters and site groups are all "which component is this host in".
# dd_clusters' min-label propagation is O(diameter) shuffle rounds —
# right for shallow dup clusters, wrong for a host graph whose giant
# component can have diameter in the hundreds. The scale twin is the
# alternating large-star/small-star algorithm (Kiveris et al., "Connected
# Components in MapReduce and Beyond", SoCC'14): each round rewires every
# node toward its neighborhood minimum, halving component height, so
# convergence is O(log n) rounds in practice (O(log^2 n) worst case)
# regardless of diameter. Skew story: the hot node (a giant component's
# root accumulates most edges) only ever feeds MIN aggregates — map-side
# combine collapses the hot key before the shuffle, unlike label
# propagation where the hot key hits a join build side at full width.
# Both star ops are join+aggregate on node ids: the same shuffle profile
# as one PageRank round.

CC_CLASSES = 16           # residue classes — components never span one
CC_NODES_PER_CLASS = 37


def _cc_edges(orders: DataFrame) -> DataFrame:
    """Deterministic multi-component host graph synthesized from orders.

    Node id = c + 16*k with c = o_custkey % 16 (the residue class) and
    k < 37; both endpoints of every edge share the class c, so components
    can never span classes — the invariant the tests pin. The o_orderkey
    filter sparsifies the graph so small scales fragment into many
    components instead of one clique per class.
    """
    c = F.pmod(F.col("o_custkey"), F.lit(CC_CLASSES))
    src = c + F.lit(CC_CLASSES) * F.pmod(F.col("o_custkey"),
                                         F.lit(CC_NODES_PER_CLASS))
    dst = c + F.lit(CC_CLASSES) * F.pmod(F.col("o_orderkey") * 7 + 3,
                                         F.lit(CC_NODES_PER_CLASS))
    return (orders.filter(F.pmod(F.col("o_orderkey"), F.lit(11)) < 2)
            .select(src.cast("long").alias("src"),
                    dst.cast("long").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def _two_star_rounds(edges: DataFrame,
                     max_iter: int = 25) -> tuple[DataFrame, int]:
    """edges(src, dst) → (labels(node, component_id), rounds used).

    component_id = min node id in the connected component; every node
    appearing in ``edges`` gets a label. One round = large-star then
    small-star; the loop exits on exact edge-set fixpoint (count equality
    + anti-join emptiness on materialized checkpoints — a probe per
    round, not per edge).
    """
    nodes = lineage_cut(edges.select(F.col("src").alias("node"))
                      .union(edges.select(F.col("dst").alias("node")))
                      .distinct())

    def _large_star(e: DataFrame) -> DataFrame:
        # every node u: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
        bid = e.union(e.select(F.col("b").alias("a"),
                               F.col("a").alias("b")))
        mins = (bid.groupBy("a").agg(F.min("b").alias("mn"))
                .select("a", F.least("mn", "a").alias("m")))
        return (bid.join(mins, "a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct())

    def _small_star(e: DataFrame) -> DataFrame:
        # canonical u = max, v = min; m = min(N(u)); emit (u, m) and
        # (v, m) for v ∈ N(u) — self-loops dropped
        canon = e.select(F.greatest("a", "b").alias("a"),
                         F.least("a", "b").alias("b"))
        mins = canon.groupBy("a").agg(F.min("b").alias("m"))
        return (canon.join(mins, "a")
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .union(mins.select("a", F.col("m").alias("b")))
                .filter(F.col("a") != F.col("b"))
                .distinct())

    e = lineage_cut(edges.select(F.col("src").alias("a"),
                               F.col("dst").alias("b")))
    rounds = 0
    converged = False
    for _ in range(max_iter):
        new = lineage_cut(_small_star(_large_star(e)))
        rounds += 1
        if (new.count() == e.count()
                and new.join(e, ["a", "b"], "left_anti").isEmpty()):
            e = new
            converged = True
            break
        e = new
    if not converged and rounds == max_iter:
        import warnings

        warnings.warn(
            f"two-star components did not reach an edge-set fixpoint in "
            f"{max_iter} rounds; labels may be partial — raise max_iter",
            RuntimeWarning, stacklevel=2)
    # at fixpoint the edge set is a union of stars (v, component-min);
    # roots appear only on the b side and label themselves
    stars = e.groupBy("a").agg(F.min("b").alias("component_id"))
    labels = (nodes.join(stars, nodes["node"] == stars["a"], "left")
              .select("node",
                      F.coalesce("component_id", F.col("node"))
                      .cast("long").alias("component_id")))
    return labels, rounds


def two_star_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Public kernel: edges(src, dst) → (node, component_id)."""
    return _two_star_rounds(edges, max_iter)[0]


def wg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph connected components with component sizes, oracled
    against a DuckDB recursive-CTE reachability closure (the closure is
    O(component²) pairs — fine for an oracle, the thing the two-star
    kernel exists to avoid at corpus scale)."""
    orders = load(spark, sf_dir, "orders")
    labels = two_star_components(_cc_edges(orders))
    sizes = labels.groupBy("component_id").agg(
        F.count("*").alias("n_nodes"))
    return (labels.join(sizes, "component_id")
            .select(F.concat(F.lit("h"), F.col("node").cast("string"))
                    .alias("host"),
                    F.col("component_id").cast("long").alias("component_id"),
                    F.col("n_nodes").cast("long").alias("n_nodes"))
            .orderBy("component_id", "host"))


WG_COMPONENTS_SQL = f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT
      (o_custkey % {CC_CLASSES})
        + {CC_CLASSES} * (o_custkey % {CC_NODES_PER_CLASS}) AS src,
      (o_custkey % {CC_CLASSES})
        + {CC_CLASSES} * ((o_orderkey * 7 + 3) % {CC_NODES_PER_CLASS}) AS dst
  FROM orders
  WHERE o_orderkey % 11 < 2
    AND (o_custkey % {CC_CLASSES})
          + {CC_CLASSES} * (o_custkey % {CC_NODES_PER_CLASS})
        <> (o_custkey % {CC_CLASSES})
          + {CC_CLASSES} * ((o_orderkey * 7 + 3) % {CC_NODES_PER_CLASS})),
edges AS (SELECT src AS s, dst AS d FROM e0
          UNION SELECT dst, src FROM e0),
reach AS (
  SELECT s AS node, d AS lbl FROM edges
  UNION
  SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.lbl),
labels AS (
  SELECT node, least(node, min(lbl)) AS comp FROM reach GROUP BY node),
sizes AS (SELECT comp, count(*) AS n FROM labels GROUP BY comp)
SELECT 'h' || CAST(l.node AS VARCHAR) AS host,
       CAST(l.comp AS BIGINT) AS component_id,
       CAST(s.n AS BIGINT) AS n_nodes
FROM labels l JOIN sizes s ON s.comp = l.comp
"""


# --- Triangle counting (degree-oriented wedge closure) ----------------------
# The local-structure statistic next to the global ones above: per-host
# triangle participation + clustering coefficient — the classic link-spam
# / link-farm discriminator (farms are near-bipartite: high degree, few
# triangles; genuine communities close their wedges). The naive plan
# (join the edge list with itself on a shared endpoint, then close) fans
# out quadratically on hub hosts — a 10^6-degree hub alone contributes
# 10^12 wedges. The scale form (Suri & Vassilvitskii, WWW'11; Cohen 2009)
# orients every edge from its lower-(degree, id) endpoint to its higher
# one: each triangle survives as exactly one wedge at its lowest-ranked
# vertex, and every node's ORIENTED out-degree is O(sqrt(m)) on any graph
# — so the wedge stage emits at most m^1.5 rows total and a hub's
# inbound millions never pair up (its out-neighborhood after orientation
# is tiny). Both stages are plain equi hash joins on node ids.


def _und_edges(edges: DataFrame) -> DataFrame:
    """Directed edge list → canonical undirected (a < b, distinct)."""
    return (edges.select(F.least("src", "dst").alias("a"),
                         F.greatest("src", "dst").alias("b"))
            .distinct())


def triangle_stats(edges: DataFrame) -> DataFrame:
    """edges(src, dst) → (h, deg, n_tri) per node of the undirected
    simple graph. Each triangle is counted once at the wedge stage and
    credited to all three corners via one tiny explode-free union."""
    und = _und_edges(edges)
    deg = (und.select(F.col("a").alias("h"))
           .unionAll(und.select(F.col("b").alias("h")))
           .groupBy("h").agg(F.count("*").alias("deg")))

    da = deg.select(F.col("h").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("h").alias("b"), F.col("deg").alias("degb"))
    withdeg = und.join(da, "a").join(db, "b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("y"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega"))
        .alias("ydeg")).persist()

    o1 = oriented.select("x", F.col("y").alias("p"), F.col("ydeg")
                         .alias("pdeg"))
    o2 = oriented.select("x", F.col("y").alias("q"), F.col("ydeg")
                         .alias("qdeg"))
    # wedge pair ordered by the SAME (deg, id) rank that oriented the
    # edges, so the closing edge — if present — is oriented p → q
    wedges = (o1.join(o2, "x")
              .filter((F.col("pdeg") < F.col("qdeg")) | (
                  (F.col("pdeg") == F.col("qdeg"))
                  & (F.col("p") < F.col("q"))))
              .select("x", "p", "q"))
    closing = oriented.select(F.col("x").alias("p"), F.col("y").alias("q"))
    tri = wedges.join(closing, ["p", "q"])

    per = (tri.select(F.col("x").alias("h"))
           .unionAll(tri.select(F.col("p").alias("h")))
           .unionAll(tri.select(F.col("q").alias("h")))
           .groupBy("h").agg(F.count("*").alias("n_tri")))
    out = (deg.join(per, "h", "left")
           .select("h", "deg",
                   F.coalesce("n_tri", F.lit(0)).cast("long")
                   .alias("n_tri")))
    out = lineage_cut(out)
    oriented.unpersist()
    return out


def wg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle census over the same synthetic host graph the
    rank queries use, with the clustering coefficient in x1e4 fixed
    point (floor(20000 * T / (d * (d-1))) — exact integer both engines).
    Oracle = an id-ordered three-way self-join (x < y < z), a DIFFERENT
    counting scheme from the degree orientation, so agreement checks the
    algorithm and not the implementation."""
    orders = load(spark, sf_dir, "orders")
    stats = triangle_stats(_edges(orders))
    return stats.select(
        F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
        F.col("deg").cast("long").alias("deg"),
        F.col("n_tri").alias("n_triangles"),
        F.when(F.col("deg") >= 2,
               F.expr("(20000 * n_tri) div (deg * (deg - 1))"))
        .otherwise(F.lit(0)).cast("long").alias("clustering_x10k"))


WG_TRIANGLES_SQL = f"""
WITH dedges AS (
  SELECT DISTINCT o_custkey % {N_HOSTS} AS src,
                  (o_orderkey * 7 + 3) % {N_HOSTS} AS dst
  FROM orders
  WHERE o_orderkey < 5000
    AND o_custkey % {N_HOSTS} <> (o_orderkey * 7 + 3) % {N_HOSTS}),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM dedges),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
per AS (
  SELECT h, CAST(count(*) AS BIGINT) AS t FROM (
    SELECT x AS h FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri) GROUP BY h),
deg AS (
  SELECT h, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS h FROM e UNION ALL SELECT b FROM e) GROUP BY h)
SELECT 'h' || CAST(deg.h AS VARCHAR) AS host,
       deg.d AS deg,
       CAST(coalesce(per.t, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.d >= 2
                 THEN (20000 * coalesce(per.t, 0)) // (deg.d * (deg.d - 1))
                 ELSE 0 END AS BIGINT) AS clustering_x10k
FROM deg LEFT JOIN per ON per.h = deg.h
"""


# --- Redirect-chain resolution (pointer doubling) ---------------------------
# Every crawl holds millions of 3xx rows; the corpus wants each source
# url labeled with its FINAL destination (or flagged as a redirect
# loop). Following chains one hop per round is O(longest chain) shuffle
# rounds — a 1000-hop spam chain stalls the whole job. Pointer doubling
# (pointer jumping — the PRAM classic; the same trick CC in MapReduce
# papers use for list ranking) squares the reach every round: after k
# rounds every pointer has jumped 2^k hops, so ANY chain shorter than
# 2^k is fully resolved in k self-joins. Terminal urls carry a
# self-pointer with hop 0, so a resolved pointer composed with its
# terminal is a fixpoint — no done-flag bookkeeping, the algebra
# absorbs. Nodes still unresolved after the round budget are exactly
# the ones that feed a cycle.

R_NODES = 240
R_MOD = 16
R_ROUNDS = 5        # 2^5 = 32 > the longest possible chain (13 hops)


def _redirect_map(spark: SparkSession) -> DataFrame:
    """The deterministic url-alias map (u → v), total over the id space
    except terminals (residue 0). Residue 15 forms one 15-node cycle,
    residue 14 feeds into it, residues 1..13 chain down to a terminal."""
    u = F.col("id")
    r = u % R_MOD
    v = (F.when(r == R_MOD - 1, (u + R_MOD) % R_NODES)
         .when(r == R_MOD - 2, u + 1)
         .otherwise(u - 1))
    return (spark.range(R_NODES).filter(r != 0)
            .select(u.cast("long").alias("u"), v.cast("long").alias("v")))


def resolve_redirects(rmap: DataFrame, rounds: int = R_ROUNDS) -> DataFrame:
    """rmap(u, v) functional (≤1 outgoing edge per u) → one row per node
    of the map's universe: (u, cur, hops, resolved). After ``rounds``
    doubling steps cur is the terminal (resolved, hops = exact chain
    length) for every chain ≤ 2^rounds; unresolved rows reach a cycle."""
    term = (rmap.select(F.col("v").alias("u"))
            .subtract(rmap.select("u")).distinct())
    p = lineage_cut(
        rmap.select("u", F.col("v").alias("cur"),
                    F.lit(1).cast("long").alias("hops"))
        .union(term.select("u", F.col("u").alias("cur"),
                           F.lit(0).cast("long").alias("hops"))))
    for _ in range(rounds):
        q = p.select(F.col("u").alias("qu"), F.col("cur").alias("qcur"),
                     F.col("hops").alias("qhops"))
        p = lineage_cut(
            p.join(q, p["cur"] == q["qu"])
            .select("u", F.col("qcur").alias("cur"),
                    (F.col("hops") + F.col("qhops")).alias("hops")))
    is_term = term.select(F.col("u").alias("cur"),
                          F.lit(True).alias("is_term"))
    return (p.join(is_term, "cur", "left")
            .select("u", "cur", "hops",
                    F.coalesce("is_term", F.lit(False)).alias("resolved")))


def wg_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve every crawl-observed url (ids from orders) through the
    alias map: final url + exact hop count, or status='cycle'. Oracle =
    a DuckDB recursive CTE walking the SAME map one hop at a time —
    O(chain) sequential steps, exactly the plan shape the doubling
    kernel exists to avoid at scale."""
    observed = (load(spark, sf_dir, "orders")
                .select(F.pmod(F.col("o_orderkey"), F.lit(R_NODES))
                        .cast("long").alias("u"))
                .distinct())
    res = resolve_redirects(_redirect_map(spark))
    return (observed.join(res, "u", "left")
            .select(
                F.concat(F.lit("u"), F.col("u").cast("string")).alias("url"),
                F.when(F.coalesce("resolved", F.lit(True)), F.lit("ok"))
                .otherwise(F.lit("cycle")).alias("status"),
                F.when(F.coalesce("resolved", F.lit(True)),
                       F.concat(F.lit("u"),
                                F.coalesce(F.col("cur"), F.col("u"))
                                .cast("string")))
                .otherwise(F.lit(None).cast("string")).alias("final_url"),
                F.when(F.coalesce("resolved", F.lit(True)),
                       F.coalesce(F.col("hops"), F.lit(0)))
                .otherwise(F.lit(None).cast("long")).alias("n_hops")))


WG_REDIRECTS_SQL = f"""
WITH RECURSIVE obs AS (
  SELECT DISTINCT o_orderkey % {R_NODES} AS u FROM orders),
walk AS (
  SELECT u AS u0, u AS cur, 0 AS hops FROM obs
  UNION ALL
  SELECT w.u0,
         CASE WHEN w.cur % {R_MOD} = {R_MOD - 1}
                THEN (w.cur + {R_MOD}) % {R_NODES}
              WHEN w.cur % {R_MOD} = {R_MOD - 2} THEN w.cur + 1
              ELSE w.cur - 1 END,
         w.hops + 1
  FROM walk w
  WHERE w.cur % {R_MOD} <> 0 AND w.hops < 40),
res AS (
  SELECT u0, CAST(min(hops) AS BIGINT) AS n_hops
  FROM walk WHERE cur % {R_MOD} = 0 GROUP BY u0),
fin AS (
  SELECT w.u0, w.cur
  FROM walk w JOIN res r ON r.u0 = w.u0 AND r.n_hops = w.hops
  WHERE w.cur % {R_MOD} = 0)
SELECT 'u' || CAST(o.u AS VARCHAR) AS url,
       CASE WHEN r.u0 IS NULL THEN 'cycle' ELSE 'ok' END AS status,
       CASE WHEN r.u0 IS NULL THEN NULL
            ELSE 'u' || CAST(f.cur AS VARCHAR) END AS final_url,
       r.n_hops AS n_hops
FROM obs o
LEFT JOIN res r ON r.u0 = o.u
LEFT JOIN fin f ON f.u0 = o.u
"""


# --- k-core decomposition (h-index fixpoint) --------------------------------
# Coreness is the workhorse "how embedded is this host" statistic next
# to the census above: link farms and freshly-spammed hosts live in the
# 1-2-core shell, genuine hub communities in the deep core, and corpus
# curation uses the core number as a cheap authority prior that — unlike
# PageRank — needs no damping parameter. The textbook algorithm
# (Batagelj & Zaversnik 2003) peels minimum-degree nodes one at a time:
# inherently sequential, O(n) rounds distributed (a path graph peels two
# endpoints per round). The scale form is the h-index fixpoint (Lü,
# Chen, Ren, Zhang, Zhou & Stanley, Nature Communications 2016): start
# every node at its degree and repeatedly replace c(v) with the h-index
# of its neighbours' values. The operator is monotone and H(deg) ≤ deg,
# so the sequence is pointwise non-increasing and absorbs at the
# coreness — running EXTRA rounds past the fixpoint changes nothing,
# which is what lets a fixed round count be bit-identical across
# engines. Per round the plan is one equi-join (neighbour values) + one
# map-side-combined (node, value) histogram + a per-node window whose
# partition holds DISTINCT VALUES, not neighbours — a 10^6-degree hub
# contributes at most max-coreness rows to its window, because the
# histogram collapsed the fan-in before the exchange.

KC_ROUNDS = 12   # fixpoint reached in <= 6 on the synthetic graph at
                 # every shipped sf (pinned by one-extra-round tests);
                 # 2x headroom costs only absorbed no-op rounds


def python_coreness(pairs) -> dict[int, int]:
    """Batagelj–Zaversnik min-degree peel — a genuinely DIFFERENT
    algorithm from the h-index fixpoint the distributed kernel runs, so
    test agreement checks the algorithm, not the implementation."""
    adj: dict[int, set] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    remaining = set(adj)
    core: dict[int, int] = {}
    k = 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.remove(v)
        for u in adj[v]:
            if u in remaining:
                deg[u] -= 1
    return core


def kcore_ranks(edges: DataFrame, rounds: int = KC_ROUNDS) -> DataFrame:
    """edges(src, dst) → (node, deg, coreness) of the undirected simple
    graph after ``rounds`` synchronous h-index sweeps (exact coreness
    once the fixpoint is inside the budget; extra rounds absorb)."""
    # simple graph: a self-loop would count itself as a neighbour twice
    # (once per direction of bid) and inflate both degree and h-index
    und = _und_edges(edges).where(F.col("a") != F.col("b"))
    bid = (und.select(F.col("a").alias("node"), F.col("b").alias("nb"))
           .unionAll(und.select(F.col("b").alias("node"),
                                F.col("a").alias("nb")))
           .persist())
    deg = lineage_cut(bid.groupBy("node")
                    .agg(F.count("*").cast("long").alias("c")))
    c = deg
    w = Window.partitionBy("node").orderBy(F.col("cv").desc())
    for _ in range(rounds):
        nbval = bid.join(c.select(F.col("node").alias("nb"),
                                  F.col("c").alias("cv")), "nb")
        # histogram first: the per-node window below then sees one row
        # per DISTINCT neighbour value — hub fan-in collapses map-side
        hist = (nbval.groupBy("node", "cv")
                .agg(F.count("*").cast("long").alias("cnt")))
        cum = hist.select(
            "node", "cv", F.sum("cnt").over(w).alias("ge"))
        c = lineage_cut(cum.groupBy("node")
                      .agg(F.max(F.least(F.col("cv"), F.col("ge")))
                           .cast("long").alias("c")))
    out = (deg.withColumnRenamed("c", "deg")
           .join(c.withColumnRenamed("c", "coreness"), "node"))
    out = lineage_cut(out)
    bid.unpersist()
    return out


def wg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host core number over the same synthetic host graph the rank
    queries use. Oracle = the same fixed-round recurrence unrolled into
    SQL (the wg_pagerank pattern); the INDEPENDENT check is pytest's
    Batagelj–Zaversnik peel replica (test_webgraph.py)."""
    orders = load(spark, sf_dir, "orders")
    ranks = kcore_ranks(_edges(orders))
    return ranks.select(
        F.concat(F.lit("h"), F.col("node").cast("string")).alias("host"),
        F.col("deg").cast("long").alias("deg"),
        F.col("coreness").cast("long").alias("coreness"))


def _kcore_sql(rounds: int = KC_ROUNDS) -> str:
    parts = [f"""
WITH dedges AS (
  SELECT DISTINCT o_custkey % {N_HOSTS} AS src,
                  (o_orderkey * 7 + 3) % {N_HOSTS} AS dst
  FROM orders
  WHERE o_orderkey < 5000
    AND o_custkey % {N_HOSTS} <> (o_orderkey * 7 + 3) % {N_HOSTS}),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM dedges),
bid AS (SELECT a AS node, b AS nb FROM e
        UNION ALL SELECT b, a FROM e),
c0 AS (SELECT node, CAST(count(*) AS BIGINT) AS c FROM bid GROUP BY node)"""]
    for r in range(rounds):
        # sum() OVER would widen to HUGEINT — cast back (driver hasher).
        # MATERIALIZED: DuckDB would inline every earlier round into this
        # one, each round multiplying the cost about 5x
        parts.append(f""",
h{r} AS (
  SELECT bid.node, cr.c AS cv, CAST(count(*) AS BIGINT) AS cnt
  FROM bid JOIN c{r} cr ON cr.node = bid.nb
  GROUP BY bid.node, cr.c),
c{r + 1} AS MATERIALIZED (
  SELECT node, CAST(max(least(cv, ge)) AS BIGINT) AS c FROM (
    SELECT node, cv,
           CAST(sum(cnt) OVER (PARTITION BY node ORDER BY cv DESC)
                AS BIGINT) AS ge
    FROM h{r}) GROUP BY node)""")
    parts.append(f"""
SELECT 'h' || CAST(c0.node AS VARCHAR) AS host,
       c0.c AS deg,
       c{rounds}.c AS coreness
FROM c0 JOIN c{rounds} ON c{rounds}.node = c0.node""")
    return "".join(parts)


WG_KCORE_SQL = _kcore_sql()


# --- TrustRank: seed-biased PageRank (spam demotion) ------------------------
# TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04) is the classic
# link-spam countermeasure: identical recurrence to PageRank except the
# teleport mass lands ONLY on a hand-vetted trusted seed set, so trust
# can reach a host exclusively through a seed-rooted link path — a spam
# farm with no inbound path from any seed converges to EXACTLY zero
# (integer arithmetic makes that sharp, not asymptotic). Curation joins
# the trust score back onto documents as the spam prior next to the
# popularity prior wg_pagerank provides; the divergence between the two
# (high rank, zero trust) is itself the published spam-mass signal.
#
# Same scale shape as pagerank_ranks: per iteration one shuffle join
# (rank on src) + one map-side-combined aggregate (sum on dst); the
# static edges ⋈ outdeg relation is persisted once; lineage cut per
# round. Seeds are a deterministic id-rule (h % 10 == 3) so both
# engines select them with a literal predicate — no seed list crosses
# the driver. Seed base mass is a module constant (x1e6, one seed per
# ~10 hosts carries 10x the per-node PageRank base) so no normalization
# depends on a data-driven seed count.

TR_ITERS = 10
_SEED_MOD, _SEED_RES = 10, 3       # trusted seeds: h % 10 == 3
_SEED_BASE_X1E6 = 1_500_000        # (1 - d) * 1e6 * (hosts per seed)


def _seed_col(col):
    return F.pmod(col, F.lit(_SEED_MOD)) == F.lit(_SEED_RES)


def trustrank_ranks(edges: DataFrame, iters: int = TR_ITERS) -> DataFrame:
    """edges(src, dst) → (h, trust) after ``iters`` exact-integer damped
    iterations of the seed-teleport recurrence (the shared _damped_ranks
    kernel with a seed-conditional base). Hosts with no directed path
    from a seed hold trust == 0 at every iteration."""
    base = F.when(_seed_col(F.col("h")), F.lit(_SEED_BASE_X1E6)) \
        .otherwise(F.lit(0)).cast("long")
    return _damped_ranks(edges, base, base, iters, "trust")


def wg_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host trust over the synthetic host graph, plus the spam-mass
    discriminator: rank mass NOT explained by trust, x1e4 of rank
    (max(0, rank - trust) scaled) — the VLDB'04 demotion signal."""
    orders = load(spark, sf_dir, "orders")
    edges = _edges(orders)
    rank = pagerank_ranks(edges)
    trust = trustrank_ranks(edges)
    joined = rank.join(trust, "h")
    return joined.select(
        F.concat(F.lit("h"), F.col("h").cast("string")).alias("host"),
        F.col("trust").alias("trust_x1e6"),
        F.expr("(greatest(rank - trust, 0L) * 10000) DIV rank")
        .cast("long").alias("spam_mass_x1e4"))


def _trustrank_sql(iters: int = TR_ITERS) -> str:
    seed = f"h % {_SEED_MOD} = {_SEED_RES}"
    sql = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey % {N_HOSTS} AS src,
                  (o_orderkey * 7 + 3) % {N_HOSTS} AS dst
  FROM orders
  WHERE o_orderkey < 5000
    AND o_custkey % {N_HOSTS} <> (o_orderkey * 7 + 3) % {N_HOSTS}),
hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM edges UNION SELECT dst FROM edges)),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
t0 AS (SELECT h, CAST(CASE WHEN {seed} THEN {_SEED_BASE_X1E6}
                           ELSE 0 END AS BIGINT) AS trust FROM hosts),
p0 AS (SELECT h, CAST({_INIT_X1E6} AS BIGINT) AS rank FROM hosts)"""
    for i in range(1, iters + 1):
        sql += f""",
t{i} AS (
  SELECT h.h,
         CAST(CASE WHEN {seed.replace('h %', 'h.h %')}
                   THEN {_SEED_BASE_X1E6} ELSE 0 END
              + ({_DAMP_NUM} * coalesce(s.in_sum, 0))
              // {_DAMP_DEN} AS BIGINT) AS trust
  FROM hosts h LEFT JOIN (
    SELECT e.dst AS h, sum(t.trust // d.deg) AS in_sum
    FROM edges e
    JOIN t{i - 1} t ON t.h = e.src
    JOIN outdeg d ON d.src = e.src
    GROUP BY e.dst) s ON s.h = h.h),
p{i} AS (
  SELECT h.h,
         CAST({_BASE_X1E6} + ({_DAMP_NUM} * coalesce(s.in_sum, 0))
              // {_DAMP_DEN} AS BIGINT) AS rank
  FROM hosts h LEFT JOIN (
    SELECT e.dst AS h, sum(p.rank // d.deg) AS in_sum
    FROM edges e
    JOIN p{i - 1} p ON p.h = e.src
    JOIN outdeg d ON d.src = e.src
    GROUP BY e.dst) s ON s.h = h.h)"""
    sql += (f"""
SELECT 'h' || CAST(t.h AS VARCHAR) AS host,
       t.trust AS trust_x1e6,
       CAST((greatest(p.rank - t.trust, 0) * 10000) // p.rank AS BIGINT)
         AS spam_mass_x1e4
FROM t{iters} t JOIN p{iters} p ON p.h = t.h""")
    return sql


WG_TRUSTRANK_SQL = _trustrank_sql()


# --- seed distance: multi-source BFS from the trusted set -------------------
# "Link distance from a trusted seed set" is the other half of the
# spam-demotion toolkit (and a standard crawl-frontier prioritization
# feature): hosts many hops from every vetted seed are crawled later
# and weighted down in curation. Multi-source BFS as plain DataFrame
# ops — the distance table unions with (edges ⋈ frontier)+1 and a
# map-side-combined MIN per host collapses both; rounds = hop budget,
# and once every reachable host holds its true distance the MIN is a
# no-op, so the fixed budget ABSORBS exactly like the k-core sweep
# (extra rounds are bit-identical, which is what lets both engines run
# the same literal round count).

SD_ROUNDS = 8    # hop budget; the synthetic graph's seed eccentricity
                 # is <= 4 at every shipped sf (absorption pinned)


def seed_distances(edges: DataFrame, rounds: int = SD_ROUNDS) -> DataFrame:
    """edges(src, dst) → (h, seed_dist) min-hop distance from any seed
    (h % 10 == 3) following edge direction; unreachable hosts -1."""
    edges = edges.persist()     # static relation probed every round —
                                # without this each round re-runs the
                                # source scan + distinct shuffle
    hosts = (edges.select(F.col("src").alias("h"))
             .union(edges.select(F.col("dst").alias("h")))
             .distinct())

    dist = lineage_cut(hosts.where(_seed_col(F.col("h")))
                     .withColumn("d", F.lit(0).cast("long")))
    for _ in range(rounds):
        stepped = (edges.join(dist, edges["src"] == dist["h"])
                   .select(F.col("dst").alias("h"),
                           (F.col("d") + 1).alias("d")))
        dist = lineage_cut(
            dist.unionAll(stepped)
            .groupBy("h").agg(F.min("d").cast("long").alias("d")))
    out = (hosts.join(dist, "h", "left")
           .select("h", F.coalesce("d", F.lit(-1))
                   .cast("long").alias("seed_dist")))
    out = lineage_cut(out)
    edges.unpersist()
    return out


def wg_seed_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (seed_distances(_edges(orders))
            .select(F.concat(F.lit("h"), F.col("h").cast("string"))
                    .alias("host"),
                    F.col("seed_dist")))


def _seed_dist_sql(rounds: int = SD_ROUNDS) -> str:
    sql = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey % {N_HOSTS} AS src,
                  (o_orderkey * 7 + 3) % {N_HOSTS} AS dst
  FROM orders
  WHERE o_orderkey < 5000
    AND o_custkey % {N_HOSTS} <> (o_orderkey * 7 + 3) % {N_HOSTS}),
hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM edges UNION SELECT dst FROM edges)),
d0 AS (SELECT h, CAST(0 AS BIGINT) AS d FROM hosts
       WHERE h % {_SEED_MOD} = {_SEED_RES})"""
    for i in range(1, rounds + 1):
        sql += f""",
d{i} AS (
  SELECT h, CAST(min(d) AS BIGINT) AS d FROM (
    SELECT h, d FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS h, r.d + 1 AS d
    FROM edges e JOIN d{i - 1} r ON r.h = e.src)
  GROUP BY h)"""
    sql += (f"""
SELECT 'h' || CAST(hosts.h AS VARCHAR) AS host,
       CAST(coalesce(d.d, -1) AS BIGINT) AS seed_dist
FROM hosts LEFT JOIN d{rounds} d ON d.h = hosts.h""")
    return sql


WG_SEED_DIST_SQL = _seed_dist_sql()


QUERIES: dict = {
    "wg_pagerank": (wg_pagerank, WG_PAGERANK_SQL),
    "wg_harmonic": (wg_harmonic, WG_HARMONIC_SQL),
    "wg_hits": (wg_hits, WG_HITS_SQL),
    # round-5 continuation wave 9: registered beyond the driver's
    # fully-allocated 50-row window — the local gate is its record
    "wg_components": (wg_components, WG_COMPONENTS_SQL),
    # wave 10: triangle census + redirect resolution, beyond-window
    # (same local-gate-record reasoning as wg_components)
    "wg_triangles": (wg_triangles, WG_TRIANGLES_SQL),
    "wg_redirects": (wg_redirects, WG_REDIRECTS_SQL),
    # wave 11: k-core decomposition, beyond-window (local-gate record)
    "wg_kcore": (wg_kcore, WG_KCORE_SQL),
    # wave 12: spam demotion — TrustRank + seed BFS distance,
    # beyond-window (local-gate record)
    "wg_trustrank": (wg_trustrank, WG_TRUSTRANK_SQL),
    "wg_seed_dist": (wg_seed_dist, WG_SEED_DIST_SQL),
}
