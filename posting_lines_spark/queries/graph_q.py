"""Dedup-group queries: connected components over the MinHash near-dup
pair graph, and the survivor decision — the end of the dedup story
(shingle → signature → candidate pairs → verified pairs → groups →
survivors).

Oracle: DuckDB recursive CTE computes the reachability closure and takes
the same min-label per node — identical components regardless of the
iterative path Spark takes to the fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from posting_lines_spark.operators import graph
from posting_lines_spark.operators.cuts import cut
from posting_lines_spark.queries import register
from posting_lines_spark.queries.dedup_q import NEAR_BASE_DUCK, _minhash_oracle, dedup_minhash_lsh
from posting_lines_spark.sources import load_table

# verified near-dup pairs (DuckDB): the input of every pair-graph oracle
_PAIRS_DUCK = _minhash_oracle()

COMPONENTS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_PAIRS_DUCK}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, label) AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node, min(label) AS component
FROM reach
GROUP BY node
"""


def _spark_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs ACROSS A STORAGE BOUNDARY (written once
    per process, then read back) — the production shape: grouping,
    survivor selection, triangles, and split assignment all consume the
    pair table the dedup stage PERSISTED, so these queries measure the
    graph operator, not a re-derivation of the MinHash stage
    (`dedup_minhash_lsh` measures that). Same fixture pattern as
    pipeline_q.segments_state_parquet."""
    # consumers (corpus_survivors, leakage split) read the documents view
    # after calling this — register it on every call, cache hit or not
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")

    def write_pairs(path: str) -> None:
        dedup_minhash_lsh(spark, sf_dir).write.mode("overwrite").parquet(path)

    from posting_lines_spark.fixtures import cached_fixture

    return spark.read.parquet(
        cached_fixture("near_dup_pairs", sf_dir, write_pairs, "pls_pairs_pq_")
    )


@register(
    "dedup_components",
    oracle=COMPONENTS_ORACLE,
    description="connected components over the MinHash near-dup graph "
    "(min-label propagation, join+min-agg per round, driver checks only a "
    "convergence scalar); oracle = recursive-CTE reachability closure",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = graph.connected_components(_spark_pairs(spark, sf_dir))
    return comp


GROUPS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_PAIRS_DUCK}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, label) AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
SELECT component, count(*) AS n_members, min(node) AS survivor,
       count(*) - 1 AS n_drops
FROM comp
GROUP BY component
"""


# --- weighted PageRank over the nation trade-flow graph ---
# Fixed-point integer ranks (operators/graph.py::pagerank) make the
# result engine-exact; the oracle unrolls the same fixed iteration count
# as chained CTEs — same integer recurrence, different execution shape.

PR_ITERS = 6
_PR_SCALE = 1_000_000_000_000

_PR_EDGES = """SELECT CAST(c.c_nationkey AS BIGINT) AS src,
       CAST(s.s_nationkey AS BIGINT) AS dst,
       CAST(count(*) AS BIGINT) AS w
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2"""


def pagerank_oracle_sql(
    edges_sql: str,
    iters: int = PR_ITERS,
    scale: int = _PR_SCALE,
    seeds_sql: str | None = None,
) -> str:
    """Unrolled fixed-point-integer PageRank recurrence as chained CTEs —
    the shared oracle builder for every PageRank-family query (trade
    graph, TextRank word graph, personalized variant). `edges_sql` must
    yield (src, dst, w); a nested WITH inside the parens is fine on
    DuckDB. `seeds_sql` (one `node` column) mirrors the operator's
    personalized mode: teleport mass and the initial rank land only on
    the deduped on-graph seeds."""
    parts = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "out_w AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src)",
    ]
    if seeds_sql is None:
        parts += [
            "p AS (SELECT count(*) AS n FROM nodes)",
            f"""nt AS (
  SELECT node, (15 * {scale}) // (100 * (SELECT n FROM p)) AS tp,
         {scale} // (SELECT n FROM p) AS rank0
  FROM nodes
)""",
        ]
    else:
        parts += [
            f"seeds0 AS ({seeds_sql})",
            "seedsd AS (SELECT DISTINCT s.node FROM seeds0 s "
            "JOIN nodes nn ON nn.node = s.node)",
            "sk AS (SELECT count(*) AS k FROM seedsd)",
            f"""nt AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN (15 * {scale}) // (100 * (SELECT k FROM sk)) ELSE 0 END AS tp,
         CASE WHEN s.node IS NOT NULL
              THEN {scale} // (SELECT k FROM sk) ELSE 0 END AS rank0
  FROM nodes n LEFT JOIN seedsd s ON s.node = n.node
)""",
        ]
    parts.append("r0 AS (SELECT node, rank0 AS rank FROM nt)")
    for k in range(1, iters + 1):
        parts.append(
            f"""r{k} AS (
  SELECT nd.node,
         nd.tp + (85 * coalesce(c.s, 0)) // 100 AS rank
  FROM nt nd LEFT JOIN (
    SELECT e.dst AS node,
           sum((r.rank // o.outw) * e.w + ((r.rank % o.outw) * e.w) // o.outw) AS s
    FROM r{k - 1} r JOIN edges e ON e.src = r.node JOIN out_w o ON o.src = r.node
    GROUP BY e.dst
  ) c ON c.node = nd.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank_fp FROM r{iters}"
    )


@register(
    "graph_pagerank",
    oracle=pagerank_oracle_sql(_PR_EDGES),
    description="weighted PageRank over the customer-nation → supplier-nation "
    "trade graph, fixed 6 iterations in FIXED-POINT INTEGER arithmetic "
    "(engine-exact: no float summation-order divergence); each round is one "
    "join + one aggregate on the same key (co-partitioned at scale), edges "
    "loop-invariant and checkpointed once; oracle = the identical integer "
    "recurrence unrolled as chained CTEs",
)
def graph_pagerank(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    for t in ("lineitem", "orders", "customer", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    pr = graph.pagerank(spark.sql(_PR_EDGES), iters=PR_ITERS)
    return pr.select(
        F.col("node").cast("long").alias("node"),
        F.col("rank").cast("long").alias("rank_fp"),
    )


@register(
    "dedup_groups",
    oracle=GROUPS_ORACLE,
    description="dedup survivor decision: one keeper (min id) per near-dup "
    "component, drop counts — the final output a curation pipeline acts on",
)
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = graph.connected_components(_spark_pairs(spark, sf_dir))
    return graph.dedup_groups(comp)


# --- triangle counting over the near-dup graph ---
# The clustering-signal primitive: a triangle = three documents that are
# all pairwise near-duplicates (tight cluster), vs an open wedge (a-b,
# b-c similar but a-c not — chain similarity, the classic transitivity
# failure of threshold dedup). Exact count via the ordered-edge join:
# edges directed low-id → high-id, triangles = e1(a,b) ⋈ e2(b,c) ⋈
# e3(a,c) with a<b<c — each triangle counted exactly once.
#
# Scale note: id-ordering is the deterministic stand-in for DEGREE
# ordering (direct each edge toward the higher-(degree, id) endpoint),
# which bounds every node's out-degree by O(sqrt(m)) and thus the wedge
# join by O(m^1.5) — the standard distributed triangle-count bound; the
# join/shuffle structure is identical, only the orientation key changes.

TRIANGLES_ORACLE = f"""
WITH RECURSIVE pairs AS ({_PAIRS_DUCK}),
e AS (
  SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM pairs
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (
  -- explicit DISTINCT over UNION ALL: DuckDB's chained UNION inside a
  -- WITH RECURSIVE block was observed NOT to dedup across branches
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  )
)
SELECT CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_triangle_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges
"""


@register(
    "graph_triangles",
    oracle=TRIANGLES_ORACLE,
    description="exact triangle count over the verified near-dup graph: "
    "ordered-edge self-join (a<b<c counts each triangle once); triangles "
    "= tight all-pairs-similar clusters vs open wedges = chained "
    "similarity. Degree-ordered orientation gives the O(m^1.5) "
    "distributed bound at scale with the same join shape",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    pairs = _spark_pairs(spark, sf_dir)
    # measured (this cut and tri's): dropping both lost 15 of 15
    # interleaved sf0.1 pairs, median 0.47 -> 0.59 s
    e = cut(
        pairs.select(F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = cut(  # measured: with e above
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select("b"))
        .union(tri.select("c"))
        .distinct()
    )
    t = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n = nodes.agg(F.count(F.lit(1)).alias("n_triangle_nodes"))
    m = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return t.crossJoin(n).crossJoin(m)


# --- local clustering coefficient ---
# Per-node transitivity over the near-dup graph: cc(v) = 2·T(v) /
# (deg(v)·(deg(v)−1)). High-degree low-cc nodes are HUB documents —
# boilerplate that is "similar" to many mutually-dissimilar docs, the
# false-merge risk of threshold dedup (a hub chains otherwise-unrelated
# docs into one component); high-cc nodes sit in genuine all-pairs-
# similar clusters. Reuses the persisted pair table and the ordered-edge
# triangle join; T(v) credits each triangle to its 3 corners, degree is
# one aggregate over the symmetrized edges. All counts are integers and
# the ratio is one IEEE division — engine-stable with no decimal routing.

CLUSTERING_ORACLE = f"""
WITH RECURSIVE pairs AS ({_PAIRS_DUCK}),
e AS (
  SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM pairs
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcount AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
)
SELECT d.node, d.degree,
       coalesce(t.n_tri, CAST(0 AS BIGINT)) AS n_tri,
       CASE WHEN d.degree >= 2
            THEN (2.0e0 * coalesce(t.n_tri, 0)) / (CAST(d.degree AS DOUBLE) * (d.degree - 1))
            END AS clustering_coeff
FROM deg d LEFT JOIN tcount t ON t.node = d.node
"""


@register(
    "graph_clustering_coeff",
    oracle=CLUSTERING_ORACLE,
    description="per-node local clustering coefficient over the near-dup "
    "graph: 2·T(v)/(deg·(deg−1)) from the ordered-edge triangle join — "
    "flags hub/boilerplate docs (high degree, low cc = false-merge risk "
    "of threshold dedup) vs genuine all-pairs-similar clusters; integer "
    "counts + one IEEE division, engine-stable",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    pairs = _spark_pairs(spark, sf_dir)
    # measured: dropping it lost 14 of 15 interleaved sf0.1 pairs,
    # median 0.45 -> 0.56 s
    e = cut(
        pairs.select(F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    tcount = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select("b"))
        .unionAll(tri.select("c"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    cc = (
        F.lit(2.0) * F.coalesce(F.col("n_tri"), F.lit(0))
        / (F.col("degree").cast("double") * (F.col("degree") - 1))
    )
    return (
        deg.join(tcount, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
            F.when(F.col("degree") >= 2, cc).alias("clustering_coeff"),
        )
    )


# --- bounded k-hop reachability (shortest-path distance ≤ 3) ---
# The multi-hop expansion primitive (citation/similarity neighborhoods):
# how many unordered pairs sit at shortest distance exactly 1, 2, 3 over
# the near-dup graph. Spark side is the iterative frontier form a
# distributed engine actually runs — distance-k frontier = (distance-k−1
# frontier ⋈ edges) minus everything already reached, each round one
# equi-join + one anti-join (both on node keys; no distinct over paths,
# so no path-count blowup on dense clusters). The oracle is DuckDB's
# RECURSIVE CTE taking min(d) per pair — an INDEPENDENT algorithm
# (path enumeration + group-min) agreeing on the result.

KHOP_ORACLE = f"""
WITH RECURSIVE pairs AS ({_PAIRS_DUCK}),
sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
paths AS (
  SELECT u, v, 1 AS d FROM sym
  UNION ALL
  SELECT p.u, s.v, p.d + 1 FROM paths p JOIN sym s ON p.v = s.u WHERE p.d < 3
),
sp AS (
  SELECT u, v, min(d) AS dist FROM paths WHERE u != v GROUP BY u, v
)
SELECT CAST(dist AS BIGINT) AS hop,
       CAST(count(*) / 2 AS BIGINT) AS n_pairs
FROM sp
GROUP BY dist
"""


@register(
    "graph_khop_reach",
    oracle=KHOP_ORACLE,
    description="bounded k-hop reachability: unordered pair counts at "
    "shortest distance 1/2/3 over the near-dup graph — frontier "
    "expansion as per-round equi-join + anti-join on node keys (no path "
    "enumeration, no blowup on dense clusters); oracle is an independent "
    "recursive-CTE min-distance computation",
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    pairs = _spark_pairs(spark, sf_dir)
    sym = cut(  # loop: loop-invariant edge set
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct()
    )
    reached = sym.withColumn("dist", F.lit(1))  # (u, v, dist): shortest so far
    frontier = sym
    for k in (2, 3):
        expanded = (
            frontier.withColumnRenamed("v", "mid")
            .join(sym.withColumnRenamed("u", "mid"), "mid")
            .select("u", "v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        frontier = cut(  # loop: the frontier state
            expanded.join(reached.select("u", "v"), ["u", "v"], "left_anti")
        )
        reached = reached.unionAll(frontier.withColumn("dist", F.lit(k)))
    return (
        reached.filter(F.col("u") < F.col("v"))
        .groupBy(F.col("dist").cast("long").alias("hop"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- weighted label propagation (community detection) ---
# LPA over the part co-purchase graph (parts appearing in the same order,
# edge weight = co-occurrence count): each synchronous round every node
# adopts the label with the largest incident weight sum, ties broken by
# the smaller label — the deterministic variant of Raghavan et al. 2007.
# Unlike connected components (min-label propagation), mode-propagation
# splits a connected graph along weak cuts, so communities != components.
# The spec is FIXED_ROUNDS synchronous rounds (sync LPA can oscillate on
# bipartite-ish structure, so "run R rounds" is the deterministic
# contract, not "run to convergence"). Each round is one equi-join
# edges ⋈ labels (co-partitioned on the node key at scale) + one
# weighted-mode aggregate; the oracle unrolls the identical recurrence
# as chained CTEs. All arithmetic is integer — engine-exact.

LPA_ROUNDS = 4

_LPA_EDGES = """SELECT a.l_partkey AS u, b.l_partkey AS v,
       CAST(count(*) AS BIGINT) AS w
FROM lineitem a
JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2"""


def _lpa_parts() -> list:
    parts = [
        f"e0 AS ({_LPA_EDGES})",
        "edges AS (SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0)",
        "lab0 AS (SELECT DISTINCT u AS node, u AS label FROM edges)",
    ]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(
            f"""lab{r} AS (
  SELECT node, label FROM (
    SELECT v.node, v.label,
           row_number() OVER (PARTITION BY v.node
                              ORDER BY v.wt DESC, v.label ASC) AS rn
    FROM (
      SELECT e.v AS node, l.label, sum(e.w) AS wt
      FROM edges e JOIN lab{r - 1} l ON l.node = e.u
      GROUP BY e.v, l.label
    ) v
  ) WHERE rn = 1
)"""
        )
    return parts


def _lpa_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_lpa_parts())
        + f"""
SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members,
       min(node) AS min_node, max(node) AS max_node
FROM lab{LPA_ROUNDS}
GROUP BY label"""
    )


def _lpa_labels(spark: SparkSession, sf_dir: str):
    """(undoubled edge table, doubled-edge table, final node→label
    table) — shared by the LPA community query and the modularity
    audit (which consumes the UNDOUBLED e0: half the edge bytes, the
    doubling reconstructed arithmetically after the label joins)."""
    from pyspark.sql import functions as F

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")

    # shared: the UNDOUBLED co-purchase edge table, materialized once. The
    # union's two orientation branches each embedded the full quadratic basket
    # self-join + partial aggregate, and the two pipelines are NOT
    # reused at runtime (profiled: two heavy map stages, 33 s + 14 s
    # task CPU, per run). Checkpointing BELOW the union makes both
    # branches cheap projections over the same blocks; it also keeps the
    # labels-init consumer from column-pruning its copy of the subtree
    # differently (the round-15 A/B that showed the self-join running
    # twice when the checkpoint was dropped entirely).
    e0 = cut(spark.sql(_LPA_EDGES))
    edges = e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # No per-round eager checkpoint (round 15; there was one through
    # round 14): the labels recurrence is LINEAR (each round
    # consumed exactly once by the next), so its state lives in the
    # rounds' shuffle files inside ONE job. The eager cut cost a ~0.3 s
    # sequential job + serialization barrier per round, and — the big
    # one — by splitting rounds into separate jobs it defeated
    # exchange reuse, so every round RE-SHUFFLED the 22.7 MB edge
    # table by u (profiled: 4 identical 22.7 MB exchange writes per
    # run; 6 for modularity). In one DAG the per-round
    # hashpartitioning(u) exchange over the checkpoint RDD is
    # canonically identical, so AQE's stage cache shuffles the edges
    # ONCE and every later round reads the same shuffle files
    # (asserted in plans/r15/graph_label_propagation_after.txt).
    # (Contrast graph_kcore, whose rounds consume a SHRINKING edge set
    # three times each — reuse cannot cover a changing subtree, so it
    # keeps a per-round cut.)
    for _ in range(LPA_ROUNDS):
        votes = (
            edges.join(labels.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.sum("w").alias("wt"))
        )
        # max-weight label, ties to the SMALLER label: max_by over the
        # (wt, -label) struct — a hash aggregate, not a sort-window (the
        # oracle's row_number formulation is the same rule, different
        # mechanism; measured 1.7× faster at sf1)
        labels = votes.groupBy("node").agg(
            F.expr("max_by(label, struct(wt, -label))").alias("label")
        )
    return e0, edges, labels


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    description=f"weighted label propagation ({LPA_ROUNDS} synchronous "
    "rounds, deterministic max-weight/min-label rule) over the part "
    "co-purchase graph — communities along weak cuts, not components; "
    "per round one edges⋈labels equi-join + one weighted-mode aggregate, "
    "all-integer arithmetic; oracle = identical recurrence unrolled as CTEs",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _e0, _edges, labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
    )


# --- k-core decomposition (k = 2) ---
# Iterative peeling: drop every node with degree < k, remove its incident
# edges, recompute degrees, repeat. The 2-core of the near-dup graph is
# the cyclic backbone — documents in genuinely clustered duplicate
# structure — while peeled nodes are tree-like appendages (single-link
# chains, the weak evidence threshold dedup should distrust). Both
# engines run the SAME fixed number of peel rounds; peeling is monotone
# (a converged graph is a fixpoint), so any rounds past convergence are
# no-ops and parity is by construction. tests assert actual convergence
# within KCORE_ROUNDS at the shipped SFs. Each round: one degree
# aggregate + two semi-joins on node keys — co-partitioned at scale.

KCORE_K = 2
KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    # every e{r} references e{r-1} three times (degree filter + two
    # semi-joins): without MATERIALIZED, DuckDB inlines the chain and the
    # plan grows 3^rounds copies of the MinHash subquery (observed: "too
    # many open files" at 6 rounds). MATERIALIZED pins each round to one
    # evaluation — the same thing the Spark side's localCheckpoint does.
    parts = [
        f"pairs AS MATERIALIZED ({_PAIRS_DUCK})",
        "e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs"
        " UNION ALL SELECT id_b, id_a FROM pairs)",
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""k{r} AS MATERIALIZED (
  SELECT u FROM e{r - 1} GROUP BY u HAVING count(*) >= {KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN k{r} a ON a.u = e.u
  JOIN k{r} b ON b.u = e.v
)"""
        )
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + f"""
SELECT u AS node, CAST(count(*) AS BIGINT) AS core_degree
FROM e{KCORE_ROUNDS}
GROUP BY u"""
    )


@register(
    "graph_kcore",
    oracle=_kcore_oracle(),
    description=f"{KCORE_K}-core of the near-dup graph by iterative peeling "
    f"({KCORE_ROUNDS} fixed rounds; peeling is monotone so post-convergence "
    "rounds are no-ops — convergence itself is test-asserted): the cyclic "
    "duplicate backbone vs tree-like single-link appendages; per round one "
    "degree aggregate + a semi-join on each endpoint",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    pairs = _spark_pairs(spark, sf_dir)
    # LAZY per-round cut (round 16; was an eager per-round cut):
    # the cut stays — each peel round consumes the previous edge set
    # three times (degree aggregate + two semi-joins) and reuse cannot
    # cover a changing subtree — but all rounds now run in ONE job with
    # inter-round stage overlap (A/B: 1.31→1.19 s sf0.1, 1.71→1.49 s
    # sf1). Peel rounds shrink the edge set monotonically and the
    # blocks are serialized + spillable, so retaining every round's
    # blocks to the end of the job is bounded (~2x round 0); see
    # operators/cuts.py.
    edges = cut(  # loop: the edge state
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    )
    for _ in range(KCORE_ROUNDS):
        keep = (
            edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("u")
        )
        edges = cut(  # loop: the edge state
            edges.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
        )
    return (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


# --- common-neighbor / Jaccard link prediction ---
# Link prediction over the CO-PURCHASE graph (parts are nodes; an edge =
# the pair co-occurred in ≥ LINKPRED_COOC orders — the same grain
# basket_association_rules mines): candidate pairs that are NOT edges
# but share co-purchase neighbors, scored by common-neighbor count and
# Jaccard cn/(deg_a + deg_b − cn) — the "will likely be bought
# together next" readout, i.e. the open wedges graph_triangles
# contrasts with closed ones. Wedge join (adj ⋈ adj on the shared
# middle, a < c to emit each unordered pair once), minus existing
# edges; top 20 under a total order. The single division is on exact
# integers → bit-identical across engines.
#
# Scale: the basket self-join is quadratic in BASKET size (never data);
# the wedge join is Σ deg² — the distributed mitigation for hub-heavy
# graphs is a per-node neighbor cap before the self-join (capping
# biases scores DOWN, never up). Joins shuffle on the node key; the
# final top-k is TakeOrderedAndProject.

LINKPRED_COOC = 2

# Per-node neighbor cap for the capped wedge variants (r12, closing the
# r9→r11 "documented, not built" item): the wedge join is Σ deg², so one
# hub with degree D contributes D² wedges — on a hub-heavy 100-TB graph
# that single skewed key IS the job. The cap keeps each node's CAP
# strongest edges (by co-occurrence weight DESC, then neighbor id — a
# deterministic total order, so both engines and any partitioning agree),
# bounding per-node wedge work at CAP² and total work at |V|·CAP².
# Degrees stay EXACT (computed from the uncapped adjacency), so a
# surviving wedge scores exactly and capping can only LOSE wedges:
# cn, Jaccard, and Adamic-Adar are biased DOWN, never up — same
# contract as the r10 LSH band-sweep census cap. Truncation is
# REPORTED (capped_nodes / neighbor_cap columns), never silent.
#
# TWO operating points (VERDICT r13 item 3). cap=8 is the PARITY DEMO:
# small enough that truncation is nonzero even at sf0.01, so the
# "top-20 survives capping" tests are non-vacuous — but on a genuinely
# hub-heavy graph (skew01: rank-1 part in ~10% of lineitems) it prunes
# the adjacency down to the head clique and the candidate set empties
# out (every surviving wedge endpoint pair is an existing edge —
# SCALE.md skew row 1 measured exactly that: 0 rows). cap=64 is the
# AT-SCALE DEFAULT: on the same hub corpus it returns the real top-20
# at 14x less cost than uncapped (3.5 s vs 48.7 s) while keeping the
# |V|·cap² bound. Both are registered with their own oracle rows;
# tests/test_graph.py pins the hub-graph behavior of each.
GRAPH_NEIGHBOR_CAP = 8
GRAPH_NEIGHBOR_CAP_PROD = 64


def _copurchase_graph(lineitem_src: str, cap: int | None = None) -> str:
    """Shared co-purchase graph CTEs (nodes/edges/adjacency/degrees) —
    the common prefix of the CN/Jaccard and Adamic-Adar scorers.

    With `cap`, the adjacency fed to the wedge join keeps only each
    node's `cap` strongest edges (weight DESC, id ASC — deterministic);
    `deg` is always the exact uncapped degree, and a `capstat` CTE
    reports how many nodes were truncated."""
    if cap is None:
        return f"""
b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM {lineitem_src}
),
e AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey
  HAVING count(*) >= {LINKPRED_COOC}
),
adj AS (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u)"""
    return f"""
b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM {lineitem_src}
),
e AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b,
         CAST(count(*) AS BIGINT) AS w
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey
  HAVING count(*) >= {LINKPRED_COOC}
),
adj0 AS (
  SELECT a AS u, b AS v, w FROM e
  UNION ALL SELECT b AS u, a AS v, w FROM e
),
adjr AS (
  SELECT u, v,
         row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rnk
  FROM adj0
),
adj AS (SELECT u, v FROM adjr WHERE rnk <= {cap}),
capstat AS (
  SELECT CAST(count(*) AS BIGINT) AS capped_nodes
  FROM (SELECT u FROM adjr GROUP BY u HAVING max(rnk) > {cap}) t
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj0 GROUP BY u)"""


def _linkpred_core(lineitem_src: str, cap: int | None = None) -> str:
    extra_cols = (
        ",\n       cs.capped_nodes, CAST({c} AS BIGINT) AS neighbor_cap"
        .format(c=cap)
        if cap is not None
        else ""
    )
    extra_join = " CROSS JOIN capstat cs" if cap is not None else ""
    return f"""{_copurchase_graph(lineitem_src, cap)},
wedge AS (
  SELECT w1.u AS a, w2.v AS c
  FROM adj w1 JOIN adj w2 ON w2.u = w1.v AND w1.u < w2.v
),
cand AS (
  SELECT a, c, CAST(count(*) AS BIGINT) AS cn
  FROM wedge GROUP BY a, c
),
nonedge AS (
  SELECT cand.a, cand.c, cand.cn
  FROM cand LEFT JOIN e ON e.a = cand.a AND e.b = cand.c
  WHERE e.a IS NULL
)
SELECT n.a AS id_a, n.c AS id_b, n.cn AS common_neighbors,
       da.d AS deg_a, dc.d AS deg_b,
       CAST(n.cn AS DOUBLE)
         / (CAST(da.d AS DOUBLE) + CAST(dc.d AS DOUBLE) - CAST(n.cn AS DOUBLE))
         AS jaccard{extra_cols}
FROM nonedge n
JOIN deg da ON da.u = n.a
JOIN deg dc ON dc.u = n.c{extra_join}
ORDER BY jaccard DESC, common_neighbors DESC, id_a, id_b
LIMIT 20
"""


LINKPRED_ORACLE = "WITH " + _linkpred_core("lineitem")


# --- Adamic-Adar link prediction ---
# The frequency-weighted refinement of graph_link_prediction: a shared
# neighbor that is itself a hub says little (everything co-occurs with
# it), so each common neighbor z contributes 1/ln(deg z) instead of 1
# (Adamic & Adar 2003). Same co-purchase wedge join, but the wedge
# keeps its MIDPOINT, joins its degree, and runs the deterministic
# integer-ln kernel (functions/dmath.py — bit-identical Spark/DuckDB/
# Python) per wedge row; the per-pair score is a decimal-routed sum of
# 1/ln terms. Midpoints always have deg ≥ 2 (they touch both endpoints
# of the wedge), so ln > 0 — no guard needed. Existing edges excluded;
# top 20 under a total order.
#
# Scale: identical envelope to graph_link_prediction — wedge work is
# Σ deg² (cap neighbors per node for hub-heavy graphs); the ln stack
# stays in whole-stage codegen; the final top-k is
# TakeOrderedAndProject, never a global sort.


def _adamic_adar_sql(lineitem_src: str, cap: int | None = None) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    layers, last = dln_int_cte_layers([("dz", "aa")], "wz", "aal")
    extra_cols = (
        ",\n       cs.capped_nodes, CAST({c} AS BIGINT) AS neighbor_cap"
        .format(c=cap)
        if cap is not None
        else ""
    )
    extra_join = " CROSS JOIN capstat cs" if cap is not None else ""
    return f"""WITH {_copurchase_graph(lineitem_src, cap)},
wedge AS (
  SELECT w1.u AS a, w2.v AS c, w1.v AS z
  FROM adj w1 JOIN adj w2 ON w2.u = w1.v AND w1.u < w2.v
),
wz AS (
  SELECT w.a, w.c, d.d AS dz
  FROM wedge w JOIN deg d ON d.u = w.z
),
{layers},
cand AS (
  SELECT a, c, CAST(count(*) AS BIGINT) AS cn,
         {dsum_expr("1e0 / aa_ln", 12)} AS aa
  FROM {last} GROUP BY a, c
),
nonedge AS (
  SELECT cand.a, cand.c, cand.cn, cand.aa
  FROM cand LEFT JOIN e ON e.a = cand.a AND e.b = cand.c
  WHERE e.a IS NULL
)
SELECT a AS id_a, c AS id_b, cn AS common_neighbors,
       aa AS adamic_adar{extra_cols}
FROM nonedge{extra_join}
ORDER BY adamic_adar DESC, common_neighbors DESC, id_a, id_b
LIMIT 20
"""


@register(
    "graph_adamic_adar",
    oracle=_adamic_adar_sql("lineitem"),
    description="Adamic-Adar link prediction over the co-purchase "
    "graph: each common neighbor z weighs 1/ln(deg z) (hubs discount "
    "— the Adamic & Adar 2003 refinement of graph_link_prediction\'s "
    "raw CN/Jaccard), ln through the deterministic integer-ln kernel, "
    "scores decimal-routed; wedge-with-midpoint join minus existing "
    "edges, top 20 under a total order; wedge work Σ deg² with the "
    "same per-node cap mitigation at scale",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_adamic_adar_sql("lineitem"))


@register(
    "graph_adamic_adar_capped",
    oracle=_adamic_adar_sql("lineitem", GRAPH_NEIGHBOR_CAP),
    description="Adamic-Adar under the per-node neighbor cap "
    f"({GRAPH_NEIGHBOR_CAP} strongest edges per node — see "
    "graph_linkpred_capped): wedge work bounded at |V|·cap² on any "
    "degree distribution, midpoint degrees stay EXACT (uncapped) so "
    "each surviving wedge contributes its exact 1/ln(deg z) term and "
    "the score is biased DOWN only; truncation reported "
    "(capped_nodes/neighbor_cap); top-20 proven identical to uncapped "
    "graph_adamic_adar at sf0.01/sf1 in tests",
)
def graph_adamic_adar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_adamic_adar_sql("lineitem", GRAPH_NEIGHBOR_CAP))


@register(
    "graph_link_prediction",
    oracle=LINKPRED_ORACLE,
    description=f"common-neighbor / Jaccard link prediction over the "
    f"co-purchase graph (part pairs co-occurring in ≥ {LINKPRED_COOC} "
    "orders): wedge join minus existing edges, scored "
    "cn/(deg_a+deg_b−cn) on exact integers — the 'likely bought "
    "together next' candidates; top 20 under a total order; basket "
    "self-join quadratic in basket size, wedge work Σ deg² (cap "
    "neighbors per node for hub-heavy graphs at 100 TB)",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("WITH " + _linkpred_core("lineitem"))


@register(
    "graph_linkpred_capped",
    oracle="WITH " + _linkpred_core("lineitem", GRAPH_NEIGHBOR_CAP),
    description="the BUILT per-node neighbor cap for the Σ deg² wedge "
    f"family (r9–r11's documented-but-unbuilt scale lever): the wedge "
    f"join consumes only each node's {GRAPH_NEIGHBOR_CAP} strongest "
    "edges (co-occurrence weight DESC, id ASC — deterministic), "
    "bounding per-node wedge work at cap² and total at |V|·cap² "
    "regardless of hub degree; degrees stay EXACT (uncapped adjacency) "
    "so surviving wedges score exactly and capping only biases cn/"
    "Jaccard DOWN; truncation REPORTED via capped_nodes/neighbor_cap "
    "columns (the r10 band-sweep census-cap contract); top-20 proven "
    "identical to uncapped graph_link_prediction at sf0.01/sf1 in "
    "tests despite nonzero truncation; cap=8 is the PARITY DEMO "
    "operating point — on hub-heavy corpora it can prune the candidate "
    "set to intra-clique pairs and return empty (measured on skew01); "
    "graph_linkpred_cap64 is the at-scale default",
)
def graph_linkpred_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("WITH " + _linkpred_core("lineitem", GRAPH_NEIGHBOR_CAP))


@register(
    "graph_linkpred_cap64",
    oracle="WITH " + _linkpred_core("lineitem", GRAPH_NEIGHBOR_CAP_PROD),
    description="the PRODUCTION operating point of the per-node "
    f"neighbor cap (cap={GRAPH_NEIGHBOR_CAP_PROD}): same bounded wedge "
    "join as graph_linkpred_capped (|V|·cap² work, exact uncapped "
    "degrees, truncation reported), but wide enough that hub-heavy "
    "graphs keep real candidates — on the skew01 hub corpus cap=8 "
    "returns ZERO candidates (adjacency pruned to the head clique; "
    "every wedge endpoint pair already an edge) while cap=64 returns "
    "the true top-20 at 14x less cost than uncapped (3.5 s vs 48.7 s, "
    "SCALE.md skew rows); re-proven on regenerated skew every round "
    "via close_round's skew_parity gate",
)
def graph_linkpred_cap64(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        "WITH " + _linkpred_core("lineitem", GRAPH_NEIGHBOR_CAP_PROD)
    )


# --- HITS hubs & authorities over the nation trade graph ---
# The directional complement of PageRank above: on the customer-nation →
# supplier-nation trade edges, a good HUB is a nation whose customers
# buy from authoritative supplier nations, a good AUTHORITY is one whose
# suppliers serve hub-ish customer nations. Same engine-exactness story
# as graph_pagerank: fixed iteration count in fixed-point integer
# arithmetic (operators/graph.py::hits — L1-normalized half-steps whose
# normalizing division is exact int128 floor division: Spark
# DECIMAL(38,0) `div` ≡ DuckDB HUGEINT `//`; the DuckDB DECIMAL `//`
# routes through DOUBLE and misrounds, probed this round). The oracle
# unrolls the identical integer recurrence as chained CTEs.

HITS_ITERS = 5
_HITS_SCALE = 1_000_000_000_000

_HITS_EDGES = """SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
       CAST(s.s_nationkey AS BIGINT) AS dst
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey"""


def _hits_oracle() -> str:
    # Each CTE is referenced exactly ONCE by its successor (the L1 total
    # rides along as a window sum) — a twice-referenced CTE would double
    # the inlined plan per iteration (DuckDB inlines CTEs; the first cut
    # of this oracle hit "too many open files" from 2^10 parquet scans).
    def norm(raw_cte: str, out_col: str) -> str:
        return f"""
  SELECT nd.node,
         CAST((CAST(coalesce(c.raw, 0) AS HUGEINT) * {_HITS_SCALE})
              // CAST(c2.tot AS HUGEINT) AS BIGINT) AS {out_col}
  FROM nodes nd
  LEFT JOIN {raw_cte} c ON c.node = nd.node
  CROSS JOIN (SELECT max(tot) AS tot FROM {raw_cte}) c2"""

    parts = [
        f"edges AS ({_HITS_EDGES})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"h0 AS (SELECT node, CAST({_HITS_SCALE} AS BIGINT) AS h FROM nodes)",
    ]
    for k in range(1, HITS_ITERS + 1):
        parts.append(
            f"""ar{k} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS raw,
         CAST(sum(sum(h.h)) OVER () AS BIGINT) AS tot
  FROM h{k - 1} h JOIN edges e ON e.src = h.node GROUP BY e.dst
)"""
        )
        parts.append(f"a{k} AS ({norm(f'ar{k}', 'a')})")
        parts.append(
            f"""hr{k} AS MATERIALIZED (
  SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS raw,
         CAST(sum(sum(a.a)) OVER () AS BIGINT) AS tot
  FROM a{k} a JOIN edges e ON e.dst = a.node GROUP BY e.src
)"""
        )
        parts.append(f"h{k} AS ({norm(f'hr{k}', 'h')})")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.node, a.a AS authority_fp, h.h AS hub_fp
FROM a{HITS_ITERS} a JOIN h{HITS_ITERS} h ON h.node = a.node"""
    )


@register(
    "graph_hits",
    oracle=_hits_oracle(),
    description="HITS hubs & authorities over the customer-nation → "
    "supplier-nation trade graph, fixed 5 iterations in fixed-point "
    "integer arithmetic with L1-normalized half-steps (engine-exact: "
    "int128 floor division, Spark DECIMAL div ≡ DuckDB HUGEINT //); "
    "each half-step one join + one aggregate on a co-partitioned edge "
    "key, edges loop-invariant and checkpointed once, half-steps "
    "lazily cut so all rounds run in one job; oracle = the identical "
    "integer recurrence unrolled as chained CTEs",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    for t in ("lineitem", "orders", "customer", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    res = graph.hits(spark.sql(_HITS_EDGES), iters=HITS_ITERS)
    return res.select(
        F.col("node").cast("long").alias("node"),
        F.col("a").cast("long").alias("authority_fp"),
        F.col("h").cast("long").alias("hub_fp"),
    )


# --- deterministic random walks (node2vec corpus statistics) ---
# The sampling primitive under graph embeddings (DeepWalk/node2vec):
# from every node, RW_WALKERS walkers take RW_STEPS uniform steps, and
# the visit counts are the corpus frequencies an embedding trainer
# consumes. "Random" is md5-DETERMINISTIC — the step choice is
# h(cur, step, walker) mod outdeg ranked against the dst-ordered
# adjacency — so both engines (and any retry) walk identical paths:
# reproducible sampling is a feature at 100 TB, not a compromise (same
# rationale as the md5-seeded samplers and the DP release). Walkers at
# a node with no out-edges stop (the inner join drops them) — the
# standard early-termination convention, identical on both engines.
#
# Scale: the adjacency (with per-node rank and degree) is built once;
# each step is one equi-join of the walker table against it — walker
# rows = nodes × RW_WALKERS regardless of edge count, and the
# adjacency is broadcastable for any graph whose RANKED edge list fits
# (nation graph: 25 nodes). Unrolled fixed-K chain, single-reference
# CTEs + oracle materialization against inlining blowup.

RW_WALKERS = 8
RW_STEPS = 4


def _rw_sql(h_step, walkers_src: str, mat: str) -> str:
    parts = [
        f"edges AS ({_HITS_EDGES})",
        """adj AS (
  SELECT src, dst,
         CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) - 1
           AS rnk
  FROM edges
)""",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY src)",
        f"""w0 AS (
  SELECT n.node AS cur, wk.w
  FROM (SELECT DISTINCT src AS node FROM adj) n
  CROSS JOIN ({walkers_src}) wk
)""",
    ]
    for s_ in range(1, RW_STEPS + 1):
        parts.append(
            f"""w{s_} AS {mat}(
  SELECT a.dst AS cur, w.w
  FROM w{s_ - 1} w
  JOIN deg g ON g.src = w.cur
  JOIN adj a ON a.src = w.cur
   AND a.rnk = ({h_step("w.cur", s_, "w.w")}) % g.d
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT cur, {s_} AS step FROM w{s_}" for s_ in range(1, RW_STEPS + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
allv AS ({union})
SELECT cur AS node, CAST(count(*) AS BIGINT) AS n_visits,
       CAST(count(DISTINCT step) AS BIGINT) AS n_steps_seen
FROM allv GROUP BY cur"""
    )


def _rw_h(md5_fn):
    def h(cur: str, step: int, w: str) -> str:
        return md5_fn(
            f"concat(CAST({cur} AS STRING), '_', '{step}', '_',"
            f" CAST({w} AS STRING))",
            salt="rwalk",
        )

    return h


def _rw_h_duck(cur: str, step: int, w: str) -> str:
    from posting_lines_spark.functions.hashing import md5_int_duck

    return md5_int_duck(
        f"concat(CAST({cur} AS VARCHAR), '_', '{step}', '_',"
        f" CAST({w} AS VARCHAR))",
        salt="rwalk",
    )


def _rw_oracle() -> str:
    return _rw_sql(
        _rw_h_duck,
        f"SELECT unnest(range(0, {RW_WALKERS})) AS w",
        "MATERIALIZED ",
    )


@register(
    "graph_random_walks",
    oracle=_rw_oracle(),
    description=f"deterministic random walks ({RW_WALKERS} walkers/node "
    f"× {RW_STEPS} steps) over the nation trade graph — the "
    "DeepWalk/node2vec sampling primitive with md5-reproducible step "
    "choices (h(cur,step,walker) mod outdeg against the dst-ranked "
    "adjacency): identical paths on both engines and across retries; "
    "per-step equi-joins against a broadcastable ranked adjacency, "
    "walker rows = nodes × walkers regardless of edge count",
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.functions.hashing import md5_int_spark

    for t in ("lineitem", "orders", "customer", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        _rw_sql(
            _rw_h(md5_int_spark),
            f"SELECT explode(sequence(0, {RW_WALKERS - 1})) AS w",
            "",
        )
    )


# --- personalized PageRank (seeded teleport) ---
# Topic-sensitive / TrustRank: the random surfer teleports only to the
# ASIA-region nations, so ranks measure proximity to that seed set in
# the trade-flow graph — the recommendation/influence primitive the
# uniform walk can't express. Same fixed-point-integer recurrence and
# iteration cost as graph_pagerank (operators/graph.py::pagerank,
# seeds=...): the per-node teleport rides the loop-invariant node
# table; |S| is one driver scalar. Oracle = the identical seeded
# recurrence unrolled by the shared builder.

_PPR_SEEDS = """SELECT CAST(n_nationkey AS BIGINT) AS node
FROM nation
WHERE n_regionkey = (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')"""


@register(
    "graph_personalized_pagerank",
    oracle=pagerank_oracle_sql(_PR_EDGES, seeds_sql=_PPR_SEEDS),
    description="personalized PageRank over the trade graph with the "
    "ASIA nations as the teleport set: fixed-point INTEGER recurrence "
    "(engine-exact), per-node teleport column on the loop-invariant "
    "node table, |S| one driver scalar — same two-shuffle iteration "
    "cost as the uniform walk; oracle = the seeded recurrence unrolled",
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    for t in ("lineitem", "orders", "customer", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    pr = graph.pagerank(
        spark.sql(_PR_EDGES), iters=PR_ITERS, seeds=spark.sql(_PPR_SEEDS)
    )
    return pr.select(
        F.col("node").cast("long").alias("node"),
        F.col("rank").cast("long").alias("rank_fp"),
    )


# --- harmonic centrality (out-reach) over the trade graph ---
# The distance-based centrality the PageRank family can't see (rank
# measures inflow mass, not reach): h(v) = Σ_{u reachable, u≠v}
# 1/d(v,u), the disconnected-safe replacement for closeness (Boldi &
# Vigna, "Axioms for Centrality"). Distances are bounded at 6 hops
# (the dense 25-node trade graph's diameter is ~2; documented cap).
# EXACTNESS: every d ∈ 1..6 divides 60, so h·60 = Σ n_d·(60/d) is an
# exact BIGINT (h_fp) — no float summation at all; the reported double
# is one final division.
#
# Spark side = the distributed frontier iteration (per round one
# equi-join + one left-anti on node keys, the graph_khop_reach shape);
# oracle = an independent recursive-CTE min-distance closure. At scale
# the frontier join shuffles on the node key every round with a
# loop-invariant edge table — the BFS analogue of the PageRank loop.

HC_MAX_D = 6


def _harmonic_oracle() -> str:
    w60 = " ".join(f"WHEN {d} THEN {60 // d}" for d in range(1, HC_MAX_D + 1))
    return f"""
WITH RECURSIVE e AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: without it DuckDB inlines this
  -- 4-way-join CTE into the recursive member and re-evaluates the full
  -- fact-table join on EVERY recursion step — measured as a 70 GB temp
  -- spill at sf1 (vs 1.1 s materialized)
  SELECT DISTINCT src, dst FROM ({_PR_EDGES}) edges WHERE src <> dst
),
nodes AS (
  -- explicit DISTINCT over UNION ALL: DuckDB's chained UNION inside a
  -- WITH RECURSIVE block does not dedup across branches (the
  -- TRIANGLES_ORACLE lesson)
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  )
),
paths AS (
  -- deduping UNION, not UNION ALL: the trade graph is DENSE (~25²
  -- edges), so path enumeration is 24^d — the recursion must carry
  -- distinct (v,u,d) states (≤ n²·{HC_MAX_D} rows), not paths
  SELECT src AS v, dst AS u, 1 AS d FROM e
  UNION
  SELECT p.v, e.dst AS u, p.d + 1
  FROM paths p JOIN e ON e.src = p.u
  WHERE p.d < {HC_MAX_D} AND e.dst <> p.v
),
sp AS (SELECT v, u, min(d) AS dist FROM paths GROUP BY v, u),
hv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_reached,
         CAST(sum(CASE dist {w60} END) AS BIGINT) AS h_fp
  FROM sp GROUP BY v
)
SELECT n.node, coalesce(h.n_reached, 0) AS n_reached,
       coalesce(h.h_fp, 0) AS h_fp,
       CAST(coalesce(h.h_fp, 0) AS DOUBLE) / 60.0e0 AS harmonic
FROM nodes n LEFT JOIN hv h ON h.v = n.node
"""


@register(
    "graph_harmonic_centrality",
    oracle=_harmonic_oracle(),
    description="harmonic (out-reach) centrality over the trade graph: "
    "distributed BFS frontier iteration (per round one equi-join + one "
    "left-anti on node keys, loop-invariant edges), distances capped at "
    "6 hops; h·60 = Σ n_d·(60/d) is an EXACT BIGINT — no float "
    "summation; oracle = independent recursive-CTE min-distance closure",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    for t in ("lineitem", "orders", "customer", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    e = cut(  # loop: loop-invariant edge set
        spark.sql(_PR_EDGES)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct(),
        eager=True,
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    reached = e.select(F.col("src").alias("v"), F.col("dst").alias("u")).withColumn(
        "dist", F.lit(1)
    )
    frontier = reached.select("v", "u")
    for k in range(2, HC_MAX_D + 1):
        # eager checkpoints per round — the iterative-operator convention
        # (pagerank/HITS): the BFS recursion must not re-derive earlier
        # rounds (audited: lazy cuts here unrolled to a 355-exchange plan)
        expanded = (
            frontier.withColumnRenamed("u", "mid")
            .join(
                F.broadcast(e.select(F.col("src").alias("mid"), F.col("dst").alias("u"))),
                "mid",
            )
            .select("v", "u")
            .filter(F.col("v") != F.col("u"))
            .distinct()
        )
        frontier = cut(  # loop: the frontier state
            expanded.join(reached.select("v", "u"), ["v", "u"], "left_anti"), eager=True
        )
        # loop: the reached state
        reached = cut(reached.unionAll(frontier.withColumn("dist", F.lit(k))), eager=True)
    w60 = " ".join(f"WHEN {d} THEN {60 // d}" for d in range(1, HC_MAX_D + 1))
    hv = reached.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.expr(f"CAST(sum(CASE dist {w60} END) AS BIGINT)").alias("h_fp"),
    )
    return (
        nodes.join(hv, nodes["node"] == hv["v"], "left")
        .select(
            "node",
            F.coalesce(F.col("n_reached"), F.lit(0).cast("long")).alias("n_reached"),
            F.coalesce(F.col("h_fp"), F.lit(0).cast("long")).alias("h_fp"),
            (F.coalesce(F.col("h_fp"), F.lit(0).cast("long")).cast("double") / F.lit(60.0)).alias(
                "harmonic"
            ),
        )
    )


# --- bipartite projection (user × event-type co-engagement graph) ---
# Project the bipartite engagement graph onto the TYPE side: for every
# unordered type pair, the number of users active in both, plus the
# cosine (w/√(n_a·n_b)) and overlap (w/min) similarity weights — the
# item-item co-occurrence construction behind collaborative filtering
# and market-basket graphs. sqrt over exact BIGINT products is one
# correctly-rounded IEEE op on both engines; everything else is
# integer counting.
#
# Scale: DISTINCT (user, type) is one hash aggregate; the projection
# self-join fans out k(k−1)/2 pairs PER USER where k ≤ the type
# alphabet (5 here; never row-shaped), and the pair aggregate
# map-side-combines into a k²-bounded result. Degree table is
# k-bounded and broadcast back. No global windows.


def _bipartite_projection_sql() -> str:
    return """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
deg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
  FROM ut GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM ut a
  JOIN ut b ON b.user_id = a.user_id AND b.event_type > a.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_common,
       da.n_users AS n_a, db.n_users AS n_b,
       CAST(p.n_common AS DOUBLE)
         / sqrt(CAST(da.n_users AS DOUBLE) * CAST(db.n_users AS DOUBLE))
         AS cosine,
       CAST(p.n_common AS DOUBLE)
         / CAST(least(da.n_users, db.n_users) AS DOUBLE) AS overlap
FROM pairs p
JOIN deg da ON da.event_type = p.type_a
JOIN deg db ON db.event_type = p.type_b
"""


@register(
    "graph_bipartite_projection",
    oracle=_bipartite_projection_sql(),
    description="bipartite user×type graph projected onto types: "
    "per-pair co-engagement counts with cosine and overlap weights "
    "(the collaborative-filtering co-occurrence construction); "
    "k(k−1)/2 pairs per user via a user-keyed self-join of the "
    "DISTINCT (user, type) table, k²-bounded output, broadcast degree "
    "rejoin, sqrt over exact integers",
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_bipartite_projection_sql())


# --- list ranking by pointer doubling (the O(log n) chain primitive) ---
# Each user's events form a linked list in (ts, event_id) order; the
# task is every event's rank-from-end — the textbook LIST-RANKING
# problem. A per-user sequential scan is the single-node answer; the
# distributed answer is POINTER DOUBLING (Wyllie 1979): start with
# (ptr = successor, dist = 1), and each round set
#   dist += dist[ptr];  ptr = ptr[ptr]
# so after ⌈log₂ max-chain⌉ rounds every pointer has drained to NULL
# and dist IS the rank-from-end. Each round is ONE self-join on the
# pointer key — O(log n) shuffles total instead of a data-shaped
# sequential dependency; the round count is a driver scalar from one
# max-chain-length aggregate (the pagerank-n metadata budget).
#
# The per-user initial successor window is user-partitioned (never
# global). Output compresses to one audit row per user — n_events and
# the rank-weighted checksum Σ rank·(event_id mod 997) — which detects
# any misassigned rank while keeping the compare table user-bounded.
# Oracle: the same checksum from a plain row_number window (DuckDB
# runs the sequential form; the ENGINE runs the log-round form — an
# independent execution shape agreeing on the result).

LR_CHECK_MOD = 997


def _list_ranking_oracle() -> str:
    return f"""
WITH ranked AS (
  SELECT user_id, event_id,
         CAST(count(*) OVER (PARTITION BY user_id) -
              row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS rk
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(rk * (event_id % {LR_CHECK_MOD})) AS BIGINT) AS rank_checksum
FROM ranked
GROUP BY user_id
"""


@register(
    "graph_list_ranking",
    oracle=_list_ranking_oracle(),
    description="list ranking (rank-from-end of every event in its "
    "user chain) by Wyllie pointer doubling: ⌈log₂ max-chain⌉ rounds "
    "of one pointer-keyed self-join each (dist += dist[ptr]; ptr = "
    "ptr[ptr]) — O(log n) shuffles replace the sequential scan; round "
    "count from one driver-scalar max-chain aggregate; per-user "
    "audit checksum output; oracle = the row_number sequential form",
)
def graph_list_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cur = cut(  # loop: the pointer state
        e.select(
            "user_id",
            "event_id",
            F.lead("event_id").over(w).alias("ptr"),
        ).withColumn(
            "dist",
            F.when(F.col("ptr").isNotNull(), F.lit(1)).otherwise(F.lit(0)).cast("long"),
        ),
        eager=True,
    )
    max_chain = (
        e.groupBy("user_id").count().agg(F.max("count")).collect()[0][0] or 1
    )
    rounds = max(1, math.ceil(math.log2(max(2, max_chain))))
    for _ in range(rounds):
        nxt = cur.select(
            F.col("event_id").alias("p_id"),
            F.col("ptr").alias("p_ptr"),
            F.col("dist").alias("p_dist"),
        )
        cur = cut(  # loop: the pointer state
            cur.join(nxt, cur["ptr"] == nxt["p_id"], "left").select(
                "user_id",
                "event_id",
                F.col("p_ptr").alias("ptr"),
                (F.col("dist") + F.coalesce(F.col("p_dist"), F.lit(0))).alias("dist"),
            ),
            eager=True,
        )
    return (
        cur.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("dist") * (F.col("event_id") % LR_CHECK_MOD))
            .cast("long")
            .alias("rank_checksum"),
        )
    )


# --- weighted modularity of the LPA communities ---
# The quality audit for ANY community assignment (Newman 2004):
#   Q = Σ_c [ intra_c/(2W) − (s_c/(2W))² ]
# over the DOUBLED edge table (each undirected edge counted both ways:
# 2W = Σw, intra_c = Σw with both endpoints in c, s_c = strength of
# c's nodes). Everything is exact integers until ONE division:
#   Q · (2W)² = Σ_c [ intra_c·2W − s_c² ]   — a BIGINT.
# Communities come from the registered LPA run (labels recomputed via
# the shared _lpa_labels helper; the oracle replays the identical
# unrolled recurrence then the same integer aggregation).
#
# Scale: LPA's own envelope + one labels⋈edges join keyed on node and
# one community-bounded aggregate.


def _modularity_oracle() -> str:
    parts = _lpa_parts()
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
, lab AS (SELECT node, label FROM lab{LPA_ROUNDS}),
lw AS (
  SELECT la.label AS lu, lb.label AS lv, e.w
  FROM edges e
  JOIN lab la ON la.node = e.u
  JOIN lab lb ON lb.node = e.v
),
tw AS (SELECT CAST(sum(w) AS BIGINT) AS w2 FROM lw),
per_c AS (
  SELECT lu AS community,
         CAST(sum(CASE WHEN lu = lv THEN w ELSE 0 END) AS BIGINT) AS intra,
         CAST(sum(w) AS BIGINT) AS strength
  FROM lw GROUP BY lu
)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       max(t.w2) AS two_w,
       CAST(CAST(sum(CAST(p.intra AS DECIMAL(19,0)) * CAST(t.w2 AS DECIMAL(19,0))
                     - CAST(p.strength AS DECIMAL(19,0))
                       * CAST(p.strength AS DECIMAL(19,0))) AS VARCHAR)
            AS DOUBLE) AS q_num,
       CAST(CAST(sum(CAST(p.intra AS DECIMAL(19,0)) * CAST(t.w2 AS DECIMAL(19,0))
                     - CAST(p.strength AS DECIMAL(19,0))
                       * CAST(p.strength AS DECIMAL(19,0))) AS VARCHAR)
            AS DOUBLE)
         / nullif(CAST(t.w2 AS DOUBLE) * CAST(t.w2 AS DOUBLE), 0e0)
         AS modularity
FROM per_c p CROSS JOIN tw t
GROUP BY t.w2
"""
    )


@register(
    "graph_modularity",
    oracle=_modularity_oracle(),
    description="Newman weighted modularity of the LPA communities: "
    "Q·(2W)² = Σ_c[intra_c·2W − s_c²] — exact BIGINTs until one final "
    "division; one labels⋈edges join + a community-bounded aggregate "
    "on top of the registered LPA recurrence — the community-quality "
    "audit that says whether the partition beats random mixing",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    e0, _edges, labels = _lpa_labels(spark, sf_dir)
    # shared: labels is consumed TWICE below (u- and v-side): one lazy lineage
    # cut materializes the 4-round recurrence once — A/B'd round 15:
    # without it AQE stage reuse does NOT dedup the re-aliased
    # recurrence subtrees and modularity pays ~1 s of recompute.
    # (The cut also means this final query is a SEPARATE execution, so
    # exchange reuse against the recurrence's edges-by-u shuffle is
    # structurally impossible — stage reuse is scoped to one query
    # execution. The round-15 residual "final join re-shuffles the
    # edge table" is therefore minimized rather than removed:)
    labels = cut(labels)
    # Round 16: join labels onto the UNDOUBLED e0 (half the edge bytes
    # of the old doubled-edges join), and aggregate to the (v, lu)
    # grain BETWEEN the two label joins — lv is functionally determined
    # by v, so summing w per (v, lu) first is exact, and the partial
    # (map-side) aggregate means both remaining exchanges carry the
    # aggregated grain, not the edge multiset (guide §2.3). The
    # doubling is reconstructed arithmetically after the second join:
    # each undirected edge contributes its weight to BOTH endpoint
    # communities' strength, and twice to intra when lu = lv — the
    # explode emits exactly the two orientation rows the doubled join
    # produced, so every per-community integer is identical.
    half = (
        e0.join(
            labels.withColumnRenamed("node", "u").withColumnRenamed("label", "lu"),
            "u",
        )
        .groupBy("v", "lu")
        .agg(F.sum("w").alias("sw"))
    )
    oriented = (
        half.join(
            labels.withColumnRenamed("node", "v").withColumnRenamed("label", "lv"),
            "v",
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("lu").alias("community"), F.col("lv").alias("other"), F.col("sw")),
                    F.struct(F.col("lv").alias("community"), F.col("lu").alias("other"), F.col("sw")),
                )
            ).alias("o")
        )
        .select("o.community", "o.other", "o.sw")
    )
    per_c = oriented.groupBy("community").agg(
        F.sum(F.when(F.col("community") == F.col("other"), F.col("sw")).otherwise(0))
        .cast("long")
        .alias("intra"),
        F.sum("sw").cast("long").alias("strength"),
    )
    # ONE pass over per_c replaces the old tw-subtree + crossJoin +
    # re-aggregate (round-15 residual): because per_c groups ALL of lw,
    # Σ_c strength_c = Σ lw.w = 2W exactly, and the modularity numerator
    # distributes over the sum:
    #   Σ_c (intra_c·2W − s_c²) = (Σ_c intra_c)·2W − Σ_c s_c²
    # — the identical integer, so the VARCHAR-cast double is identical.
    # This removes the second consumption of lw (the joined edge-label
    # table was aggregated twice: per-community AND globally for 2W),
    # the broadcast exchange, and the final groupBy("w2").
    #
    # intra·2W and s_c² exceed int64 once Σw passes ~3e9 (well inside
    # the 100-TB envelope); DECIMAL(19,0)×DECIMAL(19,0)→DECIMAL(38,0)
    # is exact on both engines (each operand < 9.3e18, product <
    # 8.6e37; Σintra ≤ 2W and Σs_c² ≤ (2W)² keep the sums in the same
    # envelope), and the result leaves through the parity.py VARCHAR
    # final cast so both engines round identically.
    tot = per_c.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum("intra").cast("long").alias("sum_intra"),
        F.sum("strength").cast("long").alias("two_w"),
        F.sum(
            F.col("strength").cast("decimal(19,0)")
            * F.col("strength").cast("decimal(19,0)")
        ).alias("sum_sq"),
    )
    q_num_int = (
        F.col("sum_intra").cast("decimal(19,0)") * F.col("two_w").cast("decimal(19,0)")
        - F.col("sum_sq")
    )
    return (
        tot
        # empty-graph parity: the old crossJoin/groupBy form returned 0
        # rows on an empty per_c; a global agg returns one all-NULL row.
        .where(F.col("two_w").isNotNull())
        .select(
            "n_communities",
            "two_w",
            q_num_int.cast("string").cast("double").alias("q_num"),
        )
        .select(
            "n_communities",
            "two_w",
            "q_num",
            (
                F.col("q_num").cast("double")
                / F.nullif(
                    F.col("two_w").cast("double") * F.col("two_w").cast("double"),
                    F.lit(0.0),
                )
            ).alias("modularity"),
        )
    )


# --- degree assortativity (Newman 2002) over the co-order part graph ---
# Do high-degree parts co-occur with other high-degree parts? r is the
# Pearson correlation of (deg_u, deg_v) over the DOUBLED edge list
# (each undirected edge contributes both orientations, making the two
# marginals identical by symmetry):
#   r = (Σab/M − μ²) / (Σa²/M − μ²),  μ = Σ(a+b)/M,  M = 2m.
# Every sum is over exact integer degrees; the d·d products are routed
# through DECIMAL(19,0)×DECIMAL(19,0) (exact to 8.6e37 — int64 holds
# to d≈3e9·√m only, the graph_modularity overflow lesson applied
# PROACTIVELY) with the parity.py VARCHAR final cast; the closing
# Pearson is one fixed double chain on a single row.
#
# Scale: one edge aggregate for degrees (map-side combinable), two
# node-keyed joins to attach endpoint degrees (degree table is
# |nodes| — broadcastable at any realistic fan-in), one 1-row reduce.

_D19 = "DECIMAL(19,0)"


def _assortativity_sql() -> str:
    a, b = f"CAST(du.d AS {_D19})", f"CAST(dv.d AS {_D19})"
    return f"""
WITH e AS ({_LPA_EDGES}),
ends AS (SELECT u AS node FROM e UNION ALL SELECT v FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM ends GROUP BY node),
s AS (
  SELECT CAST(count(*) * 2 AS BIGINT) AS m2,
         CAST(CAST(sum({a} + {b}) AS STRING) AS DOUBLE) AS s1,
         CAST(CAST(sum({a} * {a} + {b} * {b}) AS STRING) AS DOUBLE) AS s2,
         CAST(CAST(sum({a} * {b} * 2) AS STRING) AS DOUBLE) AS sxy
  FROM e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
)
SELECT m2 AS n_directed_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (sxy / CAST(m2 AS DOUBLE)
          - (s1 / CAST(m2 AS DOUBLE)) * (s1 / CAST(m2 AS DOUBLE)))
         / nullif(s2 / CAST(m2 AS DOUBLE)
          - (s1 / CAST(m2 AS DOUBLE)) * (s1 / CAST(m2 AS DOUBLE)), 0e0)
         AS assortativity
FROM s
"""


@register(
    "graph_assortativity",
    oracle=_assortativity_sql(),
    description="degree assortativity (Newman 2002) of the co-order "
    "part graph: Pearson over the doubled edge list's endpoint-degree "
    "pairs — exact integer degree sums with DECIMAL(19,0)-routed "
    "products and the VARCHAR final cast, one fixed double chain on "
    "one row; degrees from one map-side-combinable edge aggregate, "
    "two node-keyed degree joins",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_assortativity_sql())


# --- rich-club coefficient φ(k) over the co-order part graph ---
# Do the hubs form a club? For each degree threshold k: N_k = nodes
# with degree > k, E_k = surviving edges with BOTH endpoints above
# threshold, φ(k) = 2·E_k / (N_k·(N_k−1)) — the density of the
# induced hub subgraph (Zhou & Mondragón 2004). Everything is exact
# integer counts until the one density division per k (N_k² in DOUBLE:
# exact below 2^53 nodes — beyond any corpus).
#
# Scale: the k-list is a literal (|K| = 4 rows); degrees come from one
# edge aggregate; the threshold filter is a degree-table broadcast
# join; per-k counts are map-side combinable. No shuffle grows with k.

_RICH_KS = [2, 4, 8, 16]


def _rich_club_sql(klist: str) -> str:
    return f"""
WITH e AS ({_LPA_EDGES}),
ends AS (SELECT u AS node FROM e UNION ALL SELECT v FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM ends GROUP BY node),
ks AS ({klist}),
nk AS (
  SELECT ks.k, CAST(count(*) AS BIGINT) AS n_k
  FROM ks JOIN deg ON deg.d > ks.k
  GROUP BY ks.k
),
ek AS (
  SELECT ks.k, CAST(count(*) AS BIGINT) AS e_k
  FROM ks
  JOIN e ON 1 = 1
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
  WHERE du.d > ks.k AND dv.d > ks.k
  GROUP BY ks.k
)
SELECT nk.k, nk.n_k, coalesce(ek.e_k, 0) AS e_k,
       CASE WHEN nk.n_k > 1
            THEN 2.0e0 * CAST(coalesce(ek.e_k, 0) AS DOUBLE)
                 / (CAST(nk.n_k AS DOUBLE) * (CAST(nk.n_k AS DOUBLE) - 1.0e0))
            END AS phi
FROM nk LEFT JOIN ek ON ek.k = nk.k
"""


_RICH_KS_SPARK = (
    "SELECT explode(array(" + ", ".join(map(str, _RICH_KS)) + ")) AS k"
)
_RICH_KS_DUCK = (
    "SELECT unnest([" + ", ".join(map(str, _RICH_KS)) + "]) AS k"
)


@register(
    "graph_rich_club",
    oracle=_rich_club_sql(_RICH_KS_DUCK),
    description=f"rich-club coefficient phi(k) for k in {_RICH_KS} "
    "(Zhou & Mondragón 2004): density of the induced hub subgraph at "
    "each degree threshold — exact integer node/edge counts from one "
    "degree aggregate + broadcast threshold joins, one density "
    "division per k; the k-list is literal so no shuffle grows with k",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_rich_club_sql(_RICH_KS_SPARK))


# --- power-law MLE over the degree distribution ---
# Is the co-order graph scale-free? The Clauset-Shalizi-Newman
# continuous-approximation MLE for the tail d ≥ d_min:
#   α̂ = 1 + n_tail / Σ ln(d/d_min),  σ(α̂) = (α̂−1)/√n_tail.
# Degrees are exact integers, so every ln goes through the
# deterministic integer-ln kernel on the DISTINCT-DEGREE table
# (degree-domain-bounded — hundreds of rows no matter the corpus),
# then Σ cnt_d·(ln d − ln d_min) is decimal-routed. The continuous
# approximation (not the discrete zeta MLE) is the stated convention,
# standard for d_min ≥ ~6 and exact-checkable without special
# functions.
#
# Scale: one edge aggregate for degrees, one |degrees|-bounded
# re-aggregate, the ln stack over a bounded table, a 1-row finish.

PL_DMIN = 6


def _powerlaw_sql() -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    # ln(d_min) rides the same kernel stack as a constant column so the
    # result never depends on some node having degree EXACTLY d_min.
    layers, last = dln_int_cte_layers(
        [("d", "pd"), (f"CAST({PL_DMIN} AS BIGINT)", "pm")], "dd", "pl"
    )
    return f"""
WITH e AS ({_LPA_EDGES}),
ends AS (SELECT u AS node FROM e UNION ALL SELECT v FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM ends GROUP BY node),
dd AS (
  SELECT d, CAST(count(*) AS BIGINT) AS cnt
  FROM deg WHERE d >= {PL_DMIN} GROUP BY d
),
{layers},
agg AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_tail,
         {dsum_expr("CAST(cnt AS DOUBLE) * (pd_ln - pm_ln)", 9)} AS sum_ln_ratio
  FROM {last}
)
SELECT n_tail, CAST({PL_DMIN} AS BIGINT) AS d_min,
       1.0e0 + CAST(n_tail AS DOUBLE) / nullif(sum_ln_ratio, 0e0) AS alpha,
       (CAST(n_tail AS DOUBLE) / nullif(sum_ln_ratio, 0e0))
         / sqrt(CAST(n_tail AS DOUBLE)) AS alpha_se
FROM agg
"""


@register(
    "graph_powerlaw_mle",
    oracle=_powerlaw_sql(),
    description=f"Clauset-Shalizi-Newman power-law MLE on the co-order "
    f"degree tail (d ≥ {PL_DMIN}, continuous approximation — stated "
    "convention): integer-ln kernel over the degree-DOMAIN-bounded "
    "distinct-degree table, decimal-routed Σ cnt·ln d, one fixed "
    "double chain for α̂ and its standard error — the scale-free "
    "diagnostic that says whether hub-aware partitioning will matter",
)
def graph_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_powerlaw_sql())


# --- quality-aware survivor selection (wave 23) ---
# dedup_groups keeps the MIN-ID member of each near-dup component —
# deterministic but arbitrary. Production curation keeps the BEST
# copy: near-dups differ by truncation/boilerplate, and dropping the
# long original in favor of a clipped copy loses data. Survivor =
# argmax(text length, tie → min doc_id) over each component — the
# keep-longest heuristic (the quality-model variant swaps the length
# column for a model score; the plumbing is identical). Lengths join
# the component table from the same doubled NEAR_BASE corpus the pair
# fixture was built on; the winner is one row_number window per
# component. The oracle replays components via the recursive-CTE
# closure and the same window.
#
# Scale: components as in dedup_components (join+min-agg rounds);
# the length join shuffles on doc_id; the survivor window partitions
# by component — all keyed, no driver loops.

KEEP_BEST_ORACLE = f"""
WITH RECURSIVE pairs AS ({{pairs}}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, label) AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
docs AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
  FROM ({{base}})
),
ranked AS (
  SELECT c.component, c.node, d.n_chars,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.node) AS rk
  FROM comp c JOIN docs d ON d.doc_id = c.node
)
SELECT component,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(CASE WHEN rk = 1 THEN node END) AS BIGINT) AS survivor,
       CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
         AS survivor_chars,
       CAST(count(*) - 1 AS BIGINT) AS n_drops
FROM ranked
GROUP BY component
"""


@register(
    "curation_dedup_keep_best",
    oracle=KEEP_BEST_ORACLE.format(pairs=_PAIRS_DUCK, base=NEAR_BASE_DUCK),
    description="quality-aware dedup survivor selection: each near-dup "
    "component keeps its LONGEST member (tie → min id) instead of "
    "dedup_groups' arbitrary min-id — the keep-longest heuristic that "
    "stops truncated copies from outliving their originals (swap the "
    "length column for a model score and the plumbing is the "
    "quality-model variant); one length join + one per-component "
    "window over the component table",
)
def curation_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from posting_lines_spark.queries.dedup_q import NEAR_BASE_SPARK

    comp = graph.connected_components(_spark_pairs(spark, sf_dir))
    docs = spark.sql(NEAR_BASE_SPARK).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    ranked = (
        comp.join(docs, comp.node == docs.doc_id)
        .select("component", "node", "n_chars")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.col("n_chars").desc(), F.col("node")
                )
            ),
        )
    )
    return (
        ranked.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("node")))
            .cast("long")
            .alias("survivor"),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars")))
            .cast("long")
            .alias("survivor_chars"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_drops"),
        )
    )


# --- k-truss peeling (wave 29) ---
# The cohesion rung ABOVE graph_kcore: a k-core only needs degree, so
# chains of weakly-attached nodes survive; the k-truss requires every
# EDGE to sit in ≥ k−2 triangles, peeling exactly the chain-similarity
# edges threshold dedup should distrust (the edge-level version of the
# triangles-vs-wedges contrast graph_triangles draws). Each round:
# per-edge triangle support from the ordered wedge join (a<b<c — each
# triangle found once, supporting all three of its edges), drop edges
# below support, repeat TRUSS_ROUNDS fixed rounds (peeling is monotone,
# post-convergence rounds are no-ops; convergence itself is
# test-asserted like kcore's).
#
# Scale: each round is one ordered triangle join (O(m^1.5) under
# degree-ordering — the graph_triangles note) + one 3-role support
# union + a semi-join; rounds shrink the edge set monotonically, and
# the Spark side cycles lazy checkpoints so peak footprint is ~2
# rounds' blocks (the kcore discipline).

TRUSS_K = 3  # edge support >= 1 triangle
TRUSS_ROUNDS = 4


def _truss_round_duck(prev: str, cur: str) -> str:
    return f"""t_{cur} AS MATERIALIZED (
  SELECT e1.a, e1.b, e2.b AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e2.a = e1.b
  JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b
),
s_{cur} AS MATERIALIZED (
  SELECT a AS ea, b AS eb FROM t_{cur}
  UNION ALL SELECT a, c FROM t_{cur}
  UNION ALL SELECT b, c FROM t_{cur}
),
{cur} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN (
    SELECT ea, eb, count(*) AS sup FROM s_{cur} GROUP BY ea, eb
    HAVING count(*) >= {TRUSS_K - 2}
  ) s ON s.ea = e.a AND s.eb = e.b
)"""


def _ktruss_oracle() -> str:
    parts = [
        f"pairs AS MATERIALIZED ({_PAIRS_DUCK})",
        "g0 AS MATERIALIZED (SELECT least(id_a, id_b) AS a,"
        " greatest(id_a, id_b) AS b FROM pairs)",
    ]
    for r in range(1, TRUSS_ROUNDS + 1):
        parts.append(_truss_round_duck(f"g{r - 1}", f"g{r}"))
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + f"""
SELECT node, CAST(count(*) AS BIGINT) AS truss_degree
FROM (
  SELECT a AS node FROM g{TRUSS_ROUNDS}
  UNION ALL SELECT b FROM g{TRUSS_ROUNDS}
)
GROUP BY node"""
    )


@register(
    "graph_ktruss",
    oracle=_ktruss_oracle(),
    description=f"{TRUSS_K}-truss of the near-dup graph by iterative "
    f"edge peeling ({TRUSS_ROUNDS} fixed rounds, convergence test-"
    "asserted): every surviving edge sits in ≥ "
    f"{TRUSS_K - 2} triangle(s) — the EDGE-level cohesion rung above "
    "graph_kcore's degree test, peeling exactly the chain-similarity "
    "edges threshold dedup should distrust; per round one ordered "
    "triangle join (O(m^1.5) under degree ordering) + a 3-role support "
    "union + a semi-join, with the kcore checkpoint-cycling discipline "
    "on the Spark side",
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    pairs = _spark_pairs(spark, sf_dir)
    # lazy per-round cut, one job, rounds overlap (round 16 — the
    # graph_kcore rationale; A/B 1.59→1.46 s sf0.1, 2.09→1.85 s sf1)
    edges = cut(  # loop: the edge state
        pairs.select(
            F.least("id_a", "id_b").alias("a"),
            F.greatest("id_a", "id_b").alias("b"),
        )
    )
    for _ in range(TRUSS_ROUNDS):
        e1 = edges.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
        e2 = edges.select(F.col("a").alias("u2"), F.col("b").alias("t_c"))
        e3 = edges.select(F.col("a").alias("u3"), F.col("b").alias("v3"))
        tri = (
            e1.join(e2, e1.t_b == e2.u2)
            .join(e3, (F.col("t_a") == F.col("u3")) & (F.col("t_c") == F.col("v3")))
            .select("t_a", "t_b", "t_c")
        )
        support = (
            tri.select(F.col("t_a").alias("ea"), F.col("t_b").alias("eb"))
            .unionAll(tri.select(F.col("t_a").alias("ea"), F.col("t_c").alias("eb")))
            .unionAll(tri.select(F.col("t_b").alias("ea"), F.col("t_c").alias("eb")))
            .groupBy("ea", "eb")
            .agg(F.count(F.lit(1)).alias("sup"))
            .filter(F.col("sup") >= TRUSS_K - 2)
        )
        edges = cut(  # loop: the edge state
            edges.join(
                support,
                (edges.a == support.ea) & (edges.b == support.eb),
                "left_semi",
            )
        )
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("truss_degree"))
    )


# --- neighbor-cap sensitivity census (wave 32) ---
# The round-13 skew corpus showed the wedge cap's sharp edge: on a
# hub-heavy graph the parity-demo cap=8 prunes the candidate set to
# intra-clique pairs (0 survivors), while cap=64 keeps candidates AND
# the |V|·cap² bound (SCALE.md round-13 rows). Production needs the
# operating point chosen from DATA, so this query emits the cap-sweep
# census the guidance reads from: per cap ∈ {4,8,16,32,64}, how many
# nodes truncate, how many wedges survive (share of uncapped), and how
# many non-edge candidate pairs remain. ONE uncapped wedge join carries
# every answer: a wedge survives cap c iff greatest(rnk_1, rnk_2) ≤ c,
# so the sweep is a cap-bounded fan-out over the wedge stream — never
# five wedge joins.
#
# Scale: the single wedge join is the uncapped Σ deg² term (this is a
# CENSUS of that term — on hub-heavy data run it on a sampled subgraph
# or at the capped default and sweep downward); everything after is
# cap-bounded (×5) plus one distinct.

CAP_SWEEP = (4, 8, 16, 32, 64)


def _cap_sweep_sql(lineitem_src: str) -> str:
    caps = " UNION ALL ".join(
        f"SELECT CAST({c} AS BIGINT) AS cap" for c in CAP_SWEEP
    )
    return f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM {lineitem_src}
),
e AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b,
         CAST(count(*) AS BIGINT) AS w
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey
  HAVING count(*) >= {LINKPRED_COOC}
),
adj0 AS (
  SELECT a AS u, b AS v, w FROM e
  UNION ALL SELECT b AS u, a AS v, w FROM e
),
adjr AS (
  SELECT u, v,
         CAST(row_number() OVER (PARTITION BY u ORDER BY w DESC, v)
              AS BIGINT) AS rnk
  FROM adj0
),
maxr AS (SELECT u, CAST(max(rnk) AS BIGINT) AS mr FROM adjr GROUP BY u),
wedge AS (
  SELECT w1.u AS a, w2.v AS c,
         CAST(greatest(w1.rnk, w2.rnk) AS BIGINT) AS eff
  FROM adjr w1 JOIN adjr w2 ON w2.u = w1.v AND w1.u < w2.v
),
caps AS ({caps}),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nw FROM wedge),
wcnt AS (
  SELECT cp.cap, CAST(count(w.a) AS BIGINT) AS n_wedges
  FROM caps cp LEFT JOIN wedge w ON w.eff <= cp.cap
  GROUP BY cp.cap
),
ccnt AS (
  SELECT cp.cap, CAST(count(m.u) AS BIGINT) AS capped_nodes
  FROM caps cp LEFT JOIN maxr m ON m.mr > cp.cap
  GROUP BY cp.cap
),
cand AS (
  SELECT cap, CAST(count(*) AS BIGINT) AS n_candidates
  FROM (
    SELECT DISTINCT cp.cap, w.a, w.c
    FROM caps cp
    JOIN wedge w ON w.eff <= cp.cap
    LEFT JOIN e ON e.a = w.a AND e.b = w.c
    WHERE e.a IS NULL
  ) t
  GROUP BY cap
)
SELECT w.cap, c.capped_nodes, w.n_wedges,
       CAST(w.n_wedges AS DOUBLE) / nullif(CAST(t.nw AS DOUBLE), 0e0)
         AS wedge_share,
       CAST(coalesce(cd.n_candidates, 0) AS BIGINT) AS n_candidates
FROM wcnt w
JOIN ccnt c ON c.cap = w.cap
LEFT JOIN cand cd ON cd.cap = w.cap
CROSS JOIN tot t
"""


@register(
    "graph_linkpred_cap_sweep",
    oracle=_cap_sweep_sql("lineitem"),
    description="neighbor-cap sensitivity census for the wedge family "
    f"(caps {CAP_SWEEP}): per cap, truncated-node count, surviving "
    "wedges (share of uncapped), and non-edge candidate pairs — the "
    "data a production deployment reads to pick the cap (round-13 skew "
    "rows: cap=8 empties the candidate set on hub graphs, cap=64 keeps "
    "both the bound and the candidates); ONE uncapped wedge join "
    "carries the whole sweep via eff = greatest(rnk_1, rnk_2) ≤ cap — "
    "a cap-bounded fan-out, never five wedge joins",
)
def graph_linkpred_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_cap_sweep_sql("lineitem"))
