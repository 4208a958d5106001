"""Connected components over near-duplicate pair graphs — the step that
turns dedup PAIRS (operators/dedup.py) into dedup GROUPS: each component
keeps one survivor (min id), the rest are drops.

Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014). Each round is
a join + min-aggregate — the Spark-shaped formulation (no driver-side
adjacency; the driver only sees a per-round convergence checksum).
Convergence is O(log² n) rounds worst case and ~O(log n) in practice,
vs O(diameter) for plain min-label propagation — a 1000-node path graph
converges in ~10 rounds instead of ~999 (see tests/test_graph.py).

Durability at cluster scale: every `CHECKPOINT_EVERY` rounds the edge
set goes through a durable cut (`cuts.cut`: a RELIABLE checkpoint when
the session has a checkpoint dir, a local one otherwise). The loop
raises instead of silently returning non-converged labels when max_iter
is exhausted.

Determinism: labels are min(int64) — order-independent; the DuckDB
oracle replays the closure with a recursive CTE and takes the same min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posting_lines_spark.operators.cuts import cut

CHECKPOINT_EVERY = 4  # rounds between durable cuts in the iterative loops

_OBS_TIMEOUT_S = 60.0

def _chk_aggs():
    # built lazily: Column construction needs an active SparkContext
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    )


def _obs_get_bounded(obs, timeout_s: float = _OBS_TIMEOUT_S):
    """`Observation.get` with a bounded wait. The eager checkpoint that
    precedes this call materializes the observed plan, so on current
    engines the metrics are already available and this returns instantly.
    If a future engine materializes checkpoints outside `withAction` (so
    the observation never fires), `obs.get` would block FOREVER — return
    None after `timeout_s` instead so the caller can fall back to an
    explicit aggregation job (slower, never hangs). Round-3 advice."""
    import threading

    out: dict = {}

    def _get() -> None:
        try:
            out["m"] = obs.get
        except Exception:  # surface as fallback, not a crash
            pass

    t = threading.Thread(target=_get, daemon=True)
    t.start()
    t.join(timeout_s)
    return out.get("m")


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least(F.col("u"), F.col("mn")).alias("m")
    )
    # no terminal distinct: small-star (always applied next) dedups at its
    # end, and tolerating transient duplicates here saves a shuffle/round
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges larger→smaller, then connect every smaller neighbor
    (and u itself) to the minimum of that neighborhood."""
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    return (
        o.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`; component =
    min node id reachable. Alternates large-star/small-star until the edge
    set is a fixpoint (checksum-stable across a full round), checkpointing
    periodically; raises RuntimeError if max_iter rounds don't converge."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # Materialize the input edges once: each star round references `e`
    # several times (union + self-join), and without truncation round 1
    # re-evaluates the full upstream pipeline (e.g. MinHash candidate
    # generation) per reference. Not durable (round 15): a reliable
    # checkpoint here computes the whole upstream pipeline TWICE (the
    # eager count job, then ReliableRDDCheckpointData's separate write
    # job re-runs the uncached lineage) plus a filesystem round-trip,
    # for state that round 1 supersedes anyway. Recovery depth stays
    # bounded by the in-loop durable cadence (CHECKPOINT_EVERY).
    e = cut(e, eager=True)  # loop: the rounds' input state
    from pyspark.sql import Observation

    prev_chk: tuple | None = None
    converged = False
    use_observe = True
    for it in range(max_iter):
        # Convergence checksum rides the checkpoint's own materialization
        # job via observe() — one job per round, not two (the observation
        # fires when eager checkpointing executes the observed plan;
        # verified on this engine). Decimal sums: int64 ids/hashes would
        # overflow a long sum. If the observation doesn't fire within the
        # bounded wait (engine behavior change), degrade permanently to an
        # explicit per-round aggregate job — slower, never hangs.
        round_df = _small_star(_large_star(e))
        obs = None
        if use_observe:
            obs = Observation(f"cc_round_{it}")
            round_df = round_df.observe(obs, *_chk_aggs())
        # loop: the round's state; its eager job fires the observation
        e = cut(round_df, eager=True, durable=(it + 1) % CHECKPOINT_EVERY == 0)
        m = _obs_get_bounded(obs) if obs is not None else None
        if m is None:
            use_observe = False
            m = e.agg(*_chk_aggs()).first().asDict()
        chk = (m["n"], m["su"], m["sv"], m["h"])
        if chk == prev_chk:
            converged = True
            break
        prev_chk = chk
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} "
            "large-star/small-star rounds — raise max_iter"
        )
    # At the fixpoint every edge is (node → component-min); roots appear
    # only on the v side and label themselves.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


PR_SCALE = 1_000_000_000_000  # ranks are fixed-point ints: rank/PR_SCALE ≈ probability


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 6,
    damping_pct: int = 85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) edges, fixed iteration
    count, FIXED-POINT INTEGER arithmetic throughout so any engine at any
    parallelism computes bit-identical ranks (integer +, *, div, mod are
    exact and associative — no float summation-order divergence).

    Per iteration (one join + one aggregate, i.e. two shuffles):
      contrib(u→v) = rank[u] * w(u,v) / out_w(u), computed as the
      overflow-safe identity (r div o)*w + ((r mod o)*w) div o — exact
      because r = (r div o)*o + (r mod o), and every intermediate stays
      below out_w² ≪ 2⁶³ even when rank*w would overflow.
      rank'[v] = (15·SCALE) div (100·n)  +  (85 · Σ contrib) div 100.

    Dangling mass (nodes with no out-edges) is dropped, not redistributed
    — the cheap, shuffle-free convention; documented so the oracle can
    mirror it exactly. At cluster scale: ranks and edges shuffle on the
    same key every round (a co-partitioned pair under AQE), and the edge
    set is loop-invariant — checkpoint only the evolving rank table.
    `n` is read back as ONE driver scalar (like connected_components'
    convergence checksum), not a per-row collect.

    `seeds` (one column of node ids) switches the walk to PERSONALIZED
    PageRank: the teleport mass lands only on the |S| seed nodes
    ((15·SCALE) div (100·|S|) each; ranks start at SCALE div |S| on
    seeds, 0 elsewhere) — the topic/trust-rank recipe. Seeds are
    deduped and intersected with the node set (an off-graph seed
    carries no mass on either engine); |S| is one driver scalar like
    `n`. The per-node teleport column rides the same loop-invariant
    node table, so the iteration cost is identical to the uniform
    walk."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = cut(nodes, durable=True)  # loop: loop-invariant node set
    n = nodes.count()
    if seeds is not None:
        sd = (
            seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
            .distinct()
            .join(nodes, "node")
        )
        k = sd.count()
        if k == 0:
            # The teleport split divides PR_SCALE across the on-graph
            # seeds; an empty (or fully off-graph) seed set has no
            # defined personalization vector. Fail loudly rather than
            # ZeroDivisionError deep in the driver arithmetic; the
            # oracle SQL's `// (SELECT k FROM sk)` errors the same way.
            raise ValueError(
                "pagerank(seeds=...): no seed node is present in the "
                "graph (deduped on-graph seed count is 0)"
            )
        nodes_t = nodes.join(
            sd.withColumn("_seed", F.lit(1)), "node", "left"
        ).select(
            "node",
            F.when(F.col("_seed").isNotNull(), F.lit((15 * PR_SCALE) // (100 * k)))
            .otherwise(F.lit(0))
            .alias("tp"),
            F.when(F.col("_seed").isNotNull(), F.lit(PR_SCALE // k))
            .otherwise(F.lit(0))
            .alias("r0"),
        )
    else:
        nodes_t = nodes.select(
            "node",
            F.lit((15 * PR_SCALE) // (100 * n)).alias("tp"),
            F.lit(PR_SCALE // n).alias("r0"),
        )
    nodes_t = cut(nodes_t, durable=True)  # loop: loop-invariant teleport table
    out_w = e.groupBy("src").agg(F.sum("w").alias("outw"))
    ew = e.join(out_w, "src")  # loop-invariant: (src, dst, w, outw)
    # NEGATIVE RESULT (round 16, do not re-try): persist-before-reliable-
    # checkpoint (persist → checkpoint(eager) → unpersist, serialized
    # MEMORY_AND_DISK) on these cuts LOST in interleaved A/Bs at BOTH
    # sf0.1 and sf1 (graph_pagerank 6.18→7.31 s, personalized 6.48→8.05,
    # textrank 7.49→8.92 at sf1; same direction at sf0.1) and did not
    # reduce job counts (47→46 / 60→58 / 31→38). The checkpoint writer
    # job does NOT re-run the full lineage: upstream shuffle stages are
    # already materialized as shuffle files, so the "double compute" is
    # only the final map stage — cheaper than the cache write + columnar
    # InMemoryTableScan read-back the persist adds.
    ew = cut(ew, durable=True)  # loop: loop-invariant edge table
    ranks = nodes_t.select("node", F.col("r0").alias("rank"))
    for it in range(iters):
        contrib = ranks.join(ew, ranks["node"] == ew["src"]).select(
            F.col("dst").alias("node"),
            (
                F.expr("rank div outw") * F.col("w")
                + F.expr("((rank % outw) * w) div outw")
            ).alias("c"),
        )
        ranks = (
            nodes_t.join(contrib.groupBy("node").agg(F.sum("c").alias("s")), "node", "left")
            .select(
                "node",
                (
                    F.col("tp")
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).alias("rank"),
            )
        )
        # Durable cuts keep their cadence; the eager per-iteration cuts
        # BETWEEN them were dropped in round 15: the rank recurrence is
        # linear (each iteration consumed exactly once by the next), so
        # between durable cuts the state lives in the iterations'
        # shuffle files inside one job — the per-iteration barrier cost
        # a ~0.15-0.3 s sequential job each and defeated stage reuse of
        # the loop-invariant ew/nodes_t exchanges (the LPA round-15
        # lesson; lineage depth stays bounded at CHECKPOINT_EVERY).
        if (it + 1) % CHECKPOINT_EVERY == 0:
            ranks = cut(ranks, durable=True)  # loop: the rank state
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
) -> DataFrame:
    """HITS hubs & authorities over (src, dst) edges (unweighted — pass a
    pre-thresholded/distinct edge set), fixed iteration count, FIXED-POINT
    INTEGER arithmetic with L1 normalization each half-step so any engine
    at any parallelism computes bit-identical scores (same rationale as
    `pagerank` above: integer +, *, div are exact and associative).

    Per iteration (authorities from hubs, then hubs from NEW authorities):
      a_raw[v] = SUM_{u->v} h[u];  a[v] = (a_raw * SCALE) div SUM_v a_raw
      h_raw[u] = SUM_{u->v} a[v];  h[u] = (h_raw * SCALE) div SUM_u h_raw
    The normalizing division is exact 128-bit integer floor division:
    Spark DECIMAL(38,0) `div` == DuckDB HUGEINT `//` (probed round 6: the
    DuckDB DECIMAL `//` routes through DOUBLE and misrounds the quotient
    by 1 ulp; HUGEINT `//` does not). L1 (sum) normalization replaces the
    classical L2 — there is no sqrt in integer arithmetic, and the
    normalization choice rescales but never reranks (documented
    deviation, Kleinberg 1999 §3 notes any norm works). Exactness bound:
    a_raw*SCALE <= n*SCALE^2 must fit int128 → n <= 1e38/SCALE^2 = 1e14
    nodes at SCALE = PR_SCALE = 1e12; raw sums fit BIGINT to n <= 9.2e6
    in-degree (lower PR_SCALE for denser graphs).

    Scale: each half-step is one join + one aggregate on an edge-endpoint
    key (co-partitioned under AQE); the edge set is loop-invariant and
    checkpointed once; normalization totals are 1-row aggregates crossed
    back onto the score table (broadcast), never driver collects; each
    round's blocks are lazily cut and freed when the job ends (see the
    retention note in operators/cuts.py)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = cut(e, eager=True)  # loop: loop-invariant edge set
    nodes = cut(  # loop: loop-invariant node set
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        eager=True,
    )

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        tot = raw.agg(F.sum("raw").alias("tot"))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.expr(
                    f"CAST((CAST(coalesce(raw, 0L) AS DECIMAL(38,0)) * {PR_SCALE})"
                    f" div CAST(tot AS DECIMAL(38,0)) AS BIGINT)"
                ).alias(col),
            )
        )

    # LAZY per-half-step cut (round 16; was two eager per-round cuts):
    # each half-step's raw table feeds BOTH the normalization total and
    # the normalized output (a changing subtree — reuse cannot dedup it),
    # so the cut stays, but all 2·iters half-steps now run in one job
    # with stage overlap (A/B: 3.44→3.02 s sf0.1, wash at sf1). Score
    # tables are node-grain, serialized and spillable — retaining every
    # round's blocks to the job end is bounded (operators/cuts.py).
    h = nodes.select("node", F.lit(PR_SCALE).alias("h"))
    a = None
    for _ in range(iters):
        a_raw = (
            h.join(e, h["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("raw"))
        )
        a = cut(_normalize(a_raw, "a"))  # loop: authority state
        h_raw = (
            a.join(e, a["node"] == e["dst"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("raw"))
        )
        h = cut(_normalize(h_raw, "h"))  # loop: hub state
    return a.join(h, "node").select("node", "a", "h")


def dedup_groups(components: DataFrame) -> DataFrame:
    """Survivor/drop decision per component: keep min id, count members."""
    return (
        components.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("node").alias("survivor"))
        .withColumn("n_drops", F.col("n_members") - 1)
    )

