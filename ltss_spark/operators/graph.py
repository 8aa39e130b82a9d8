"""Distributed connected components for dedup clustering.

Near-dup operators (``ltss_spark.operators.dedup``) emit *pairs*; a real
training-data pipeline needs *clusters* — duplicates are transitive ("A~B
and B~C" must collapse A, B, C together even if A and C never collided), so
survivor selection requires the connected components of the pair graph.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — the published shared-nothing
CC algorithm. Each star is ONE exchange of the edge set (per-node min as a
whole-frame window aggregate — no join-back) and each round carries a single
distinct, after the small star (r8 shave; the large star's duplicates only
re-emit identical pairs, collapsed there); convergence in
O(log^2 n) rounds regardless of graph diameter, unlike plain label
propagation whose round count is the component diameter (a 10^6-node chain
— pathological but possible with chained near-dups — would need 10^6
rounds; large/small-star needs ~40).

At 100 TB scale the iteration state is only the edge set (bounded by the
candidate pairs, already bounded by the LSH band joins upstream), each
round's lineage is cut with ``localCheckpoint`` so the plan stays constant
size, and convergence is detected with a count+checksum aggregate (one tiny
action per round, no collect of data rows).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ltss_spark.localrel import local_frame
from pyspark.sql import DataFrame, Window


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    """(count, sum of xxhash64) — a multiset fingerprint of the edge set.
    One scalar aggregate per round; a collision would only cost one extra
    (idempotent) round, and ``max_iter`` bounds the loop regardless."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: exact and overflow-proof under ANSI mode
        F.coalesce(
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
        ).alias("s"),
    ).collect()[0]
    return row["n"], int(row["s"])


def _large_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """For each node u with neighborhood N(u): connect every *strictly
    larger* neighbor to m = min(N(u) + {u}). Input edges may be in any
    orientation; output edges all satisfy a > b.

    The per-u minimum is a WINDOW aggregate (partitionBy u, whole-frame
    min — no orderBy, no frame walk): ONE exchange of the symmetrized
    edge set where the former groupBy+join-back needed the aggregate's
    exchange plus a join, and each round here is task-launch-bound (the
    r8 shave, measured in docs/PLANS.md). ``dedup=False`` lets the round
    driver skip this star's distinct — a duplicate edge only re-emits
    the same (v, m) pair, the min is unaffected, and the round's single
    post-small-star distinct collapses the multiset; the round count is
    unchanged (convergence compares post-distinct sets)."""
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    w = Window.partitionBy("u")
    out = (
        sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    return out.distinct() if dedup else out


def _small_star(edges: DataFrame) -> DataFrame:
    """Input edges all point large -> small (a > b). For each node a:
    connect a and all its (smaller) neighbors to the minimum neighbor.
    Same single-exchange window-min shape as :func:`_large_star`."""
    w = Window.partitionBy("a")
    return (
        edges.withColumn("m", F.min("b").over(w))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("x"), F.col("m").alias("y")),
                    F.struct(F.col("b").alias("x"), F.col("m").alias("y")),
                )
            ).alias("e")
        )
        .select(F.col("e.x").alias("a"), F.col("e.y").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


#: Below this edge count the component computation runs as a driver-side
#: union-find over the (already checkpointed) edge list instead of the
#: star loop. Measured rationale (docs/PLANS.md round 8): the star loop's
#: FLOOR on local[32] is ~1.2 s of stage scheduling for 2 rounds even on a
#: 254-edge graph, while collect + union-find on 100k edges is ~0.1 s and
#: a few MB of driver memory — the same adaptive-threshold pattern as
#: operators/rank.py's distributed_row_number. At 100 TB the LSH pair set
#: exceeds the threshold and the provably-scaling star loop runs unchanged.
SMALL_GRAPH_EDGES = 100_000


def _driver_union_find_rows(rows, id_type, spark, stats: dict | None) -> DataFrame:
    """Exact CC for a small edge set: the caller already collected the
    rows (bounded by SMALL_GRAPH_EDGES — driver-side metadata, not a
    data-plane collect); union-find with path compression maps each set
    to its MINIMUM member (the same deterministic representative the
    star loop converges to), returned as a DataFrame in the input id
    type."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r["a"], r["b"]
        for x in (a, b):
            if x not in parent:
                parent[x] = x
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    if stats is not None:
        stats["rounds"] = 0
        stats["path"] = "driver-union-find"
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    data = [(x, comp_min[find(x)]) for x in parent]
    # broadcast hint (r12): this frame is BOUNDED by construction (the
    # caller collected <= small_graph_edges rows, so <= 2x that many
    # nodes — a few MB at the 100k default), and callers join it back to
    # the corpus (dedup_clusters, the cluster registry entries). Unhinted,
    # the planner saw a LocalRelation with no usable stats and picked a
    # sort-merge join — shuffling the CORPUS side by doc_id to meet a
    # frame that always fits in memory. The star-loop path (unbounded
    # result) keeps the generic join.
    # local_frame: LocalTableScan, not a pickled-RDD scan — downstream
    # actions on the joined result would otherwise respawn Python workers
    # to unpickle these rows every time (~0.3 s/action at local[32], r12)
    return F.broadcast(local_frame(spark, data, schema))


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    stats: dict | None = None,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Component assignment for every node appearing in ``pairs``: returns
    (node, component) where component is the MINIMUM node id of the
    connected component — a deterministic, engine-portable representative.

    ``max_iter`` is a safety bound: large/small-star provably converges in
    O(log^2 n) alternations, so 25 covers any physically storable graph.
    """
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # Adaptive path pick FIRST, checkpoint after (r12; the pagerank order):
    # collect at most threshold+1 rows — if the limit did not bind, that IS
    # the full edge set and the union-find runs on it directly, so the
    # small-graph path is ONE job (the old eager-checkpoint-then-probe
    # order paid a checkpoint-write job whose blocks the probe read once
    # and discarded). Pass small_graph_edges=0 to force the distributed
    # loop (tests and scale probes do).
    if small_graph_edges:
        probe = edges.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            return _driver_union_find_rows(
                probe, edges.schema["a"].dataType, edges.sparkSession, stats
            )
    # EAGER checkpoint of the incoming pair set: every star self-unions its
    # input, so without this the (potentially expensive — LSH band joins)
    # upstream pipeline would be computed twice inside the first round's job.
    # On the fall-through from the probe above, the upstream shuffle map
    # outputs are reused (same lineage) — the probe costs the large path a
    # few final-stage partitions (bounded by the incremental limit jobs),
    # not a second upstream pass.
    edges = edges.localCheckpoint()
    # LAZY localCheckpoint per round: lineage is cut every round (each
    # star references its input 2-3x, so an uncut plan grows
    # exponentially with rounds), but the checkpoint blocks are written
    # by the checksum aggregate's own job — ONE job per round where an
    # eager checkpoint + checksum pair costs two.
    edges = _large_star(edges).localCheckpoint(eager=False)
    prev = _edge_checksum(edges)
    rounds = 1
    for _ in range(max_iter):
        edges = _small_star(
            _large_star(edges, dedup=False)
        ).localCheckpoint(eager=False)
        cur = _edge_checksum(edges)
        rounds += 1
        if cur == prev:
            break
        prev = cur
    if stats is not None:
        # observability for the scale probe: star rounds grow
        # O(log^2 n); the probe charts this at 1x-32x (docs/SCALING.md)
        stats["rounds"] = rounds
        stats["path"] = "star"
    # Converged state is a star per component: (member, min).
    # Components of size >= 2 have one row per non-min member; add the
    # min itself.
    return (
        edges.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(
            edges.select(F.col("b").alias("node"), F.col("b").alias("component"))
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Cluster every document: (doc_id, cluster_id, n_members, is_survivor).

    Docs not in any pair are singleton clusters of themselves. Survivor =
    the cluster minimum (deterministic). The only joins are on doc_id /
    cluster_id equi-keys; cluster sizes come from one hash aggregation."""
    comp = connected_components(pairs, src, dst)
    labeled = docs.select(F.col(id_col).alias("doc_id")).join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    )
    labeled = labeled.select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        labeled.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_members",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
        )
    )


def _driver_pagerank_rows(
    rows, id_type, spark, iters: int, damping: float, stats: dict | None
) -> DataFrame:
    """Exact PageRank for a small edge set, replayed driver-side: the
    distributed loop is PURE nano-unit integer arithmetic (rank_n div
    deg, (s*damp_ppm) div 1e6), so a Python replay over the collected
    edges (bounded by SMALL_GRAPH_EDGES — the connected_components
    adaptive pattern) produces BIT-IDENTICAL ranks to the cluster loop
    at a fraction of the cost: 5 distributed rounds are ~10 tiny stages
    of fixed scheduling latency when the graph is a few thousand edges.
    Python's // on non-negative ints, Spark's div, and DuckDB's // all
    truncate identically; the one double is the final /1e9, correctly
    rounded everywhere."""
    sym: set = set()
    for r in rows:
        a, b = r["a"], r["b"]
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", id_type),
            T.StructField("rank", T.DoubleType()),
        ]
    )
    if stats is not None:
        stats["path"] = "driver-integer-loop"
    if not sym:
        return spark.createDataFrame([], schema)
    deg: dict = {}
    for u, _v in sym:
        deg[u] = deg.get(u, 0) + 1
    nodes = list(deg)
    n = len(nodes)
    damp_ppm = round(damping * 10**6)
    base_n = (10**9 * (10**6 - damp_ppm) // 10**6) // n
    rank_n = dict.fromkeys(nodes, 10**9 // n)
    for _ in range(iters):
        s = dict.fromkeys(nodes, 0)
        for u, v in sym:
            s[v] += rank_n[u] // deg[u]
        rank_n = {v: base_n + (s[v] * damp_ppm) // 10**6 for v in nodes}
    return local_frame(spark, [(v, rank_n[v] / 1e9) for v in nodes], schema)


def pagerank(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    iters: int = 5,
    damping: float = 0.85,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """PageRank over an undirected pair graph (Brin/Page 1998; power
    iteration, a FIXED number of rounds) — document-authority scoring
    over the near-dup/kNN graph: within a duplicate cluster the
    highest-rank member is the best-connected canonical copy, an
    alternative survivor rule to smallest-id.

    Adaptive execution (the connected_components pattern): below
    ``small_graph_edges`` the collected edge set replays the SAME integer
    recurrence driver-side (:func:`_driver_pagerank_rows`, bit-identical
    by construction); above it, the distributed loop below. Pass
    ``small_graph_edges=0`` to force the distributed path.

    Returns (node, rank) for every node appearing in ``pairs``; ranks
    sum to ~1 (uniform init 1/N, no dangling mass — symmetrization
    gives every node an out-edge by construction).

    Scale shape per iteration: ONE shuffle — contributions flow along
    the symmetrized edge list (join ranks on the source key, hash-agg on
    the destination), degrees and N are computed once; the edge list and
    degree frame are checkpointed so the per-iteration plan stays
    constant-size (no exponential lineage). iters is fixed (power
    iteration converges geometrically at rate ``damping``; 5 rounds ≈
    0.44 residual bound, the ranking order stabilizes much earlier).

    Determinism (the repo's rule for iterated float aggregation, in its
    strongest form): the ENTIRE iteration runs in nano-unit BIGINT
    arithmetic — rank mass 10^9 units, per-edge contribution
    ``rank_n div deg`` (integer truncation), damping blend
    ``(s * round(damping*1e6)) div 1e6`` — so there is no floating-point
    rounding anywhere in the loop, hence no repr-tie hazard (the r8
    fine print: Spark's round(double, n) rounds the shortest decimal
    repr HALF_UP, which can disagree cross-engine on adversarial
    doubles; rank/deg quotients are exactly such doubles). The single
    double appears at the very end: rank = CAST(rank_n AS DOUBLE)/1e9,
    per-row IEEE and bit-identical everywhere. Truncation under-counts
    each node by < 1e-9 per round, so total mass is 1 - O((N+E)/1e9).
    """
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    if small_graph_edges:
        probe = edges.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            return _driver_pagerank_rows(
                probe,
                pairs.schema[src].dataType,
                pairs.sparkSession,
                iters,
                damping,
                stats,
            )
    if stats is not None:
        stats["path"] = "distributed"
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("u").alias("node"), "deg").localCheckpoint()
    n = nodes.count()  # bounded scalar: drives the uniform init and base term
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    damp_ppm = round(damping * 10**6)  # damping as an exact rational /1e6
    base_n = (10**9 * (10**6 - damp_ppm) // 10**6) // n
    ranks = nodes.select(
        "node", F.lit(10**9 // n).cast("long").alias("rank_n")
    )
    for _ in range(iters):
        contrib = (
            sym.join(
                ranks.select(F.col("node").alias("u"), "rank_n"), "u"
            )
            .join(deg, "u")
            .select(
                F.col("v").alias("node"),
                F.expr("rank_n div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST({base_n} + (coalesce(s, CAST(0 AS BIGINT))"
                    f" * {damp_ppm}) div {10**6} AS BIGINT)"
                ).alias("rank_n"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node", (F.col("rank_n").cast("double") / F.lit(1e9)).alias("rank")
    )


def _driver_lpa_rows(
    rows, id_type, spark, max_iter: int, stats: dict | None
) -> DataFrame:
    """Exact synchronous label propagation for a small edge set (caller
    collected it under SMALL_GRAPH_EDGES): the distributed loop is pure
    integer counting with a (max count, min label) tie-break, so a Python
    replay over the collected edges is bit-identical at a fraction of the
    per-round scheduling cost."""
    adj: dict = {}
    for r in rows:
        a, b = r["a"], r["b"]
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(max_iter):
        nxt = {}
        for v, neigh in adj.items():
            counts: dict = {}
            for u in neigh:
                lu = labels[u]
                counts[lu] = counts.get(lu, 0) + 1
            # max count, ties to the MINIMUM label — the deterministic
            # tie-break every execution path and the oracle share
            nxt[v] = min(counts, key=lambda L: (-counts[L], L))
        if nxt == labels:
            break
        labels = nxt
    if stats is not None:
        stats["path"] = "driver-lpa"
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("label", id_type)]
    )
    return local_frame(spark, sorted(labels.items()), schema)


def label_propagation(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 4,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """Community detection over an undirected pair graph via SYNCHRONOUS
    label propagation (Raghavan et al. 2007, made deterministic): every
    node starts labeled with its own id; each round, every node adopts
    the label held by the MOST of its neighbors, ties broken to the
    MINIMUM label; after ``max_iter`` rounds (or an exact fixed point,
    whichever first) nodes sharing a label form a community. The
    soft-clustering complement to :func:`connected_components`: CC fuses
    everything reachable (one chained near-dup bridges two corpora), LPA
    keeps densely-linked groups separate across sparse bridges — the
    "which co-purchase clique / template family does this belong to"
    query.

    Determinism (vanilla LPA is famously order-dependent — random vertex
    order, random tie-breaks): this variant is fully synchronous (all
    nodes update from the SAME previous-round labels) with an integer
    (max count, min label) tie-break, a FIXED round budget, and an exact
    fixed-point early-stop — stopping early at a fixed point is
    indistinguishable from running the full budget, so the result is
    hash-exact against an unrolled per-round SQL oracle. Synchronous LPA
    can oscillate with period 2 on bipartite structure; the fixed budget
    bounds that too (both engines then run exactly ``max_iter`` rounds).

    Scale shape per round: contributions flow along the symmetrized edge
    list — ONE equi-join of the label frame on the neighbor key, then a
    (node, label) count aggregate and a (node) arg-min aggregate, both
    map-side combinable; no window over an unbounded partition, no
    join-back. Labels are checkpointed per round so the iterated plan
    stays constant-size, and the fixed-point check is one left-anti
    ``isEmpty`` (exact — a checksum collision here would END the loop on
    wrong labels, unlike CC where an extra round is idempotent, so LPA
    pays the exact check).

    Adaptive execution (the connected_components pattern): below
    ``small_graph_edges`` the collected edge set replays the same
    synchronous recurrence driver-side (:func:`_driver_lpa_rows`); pass
    ``small_graph_edges=0`` to force the distributed loop.

    Returns (node, label) for every node appearing in ``pairs`` after
    self-loop/null removal; label is a node id, so communities are
    named by a member (not necessarily their minimum member — a label
    can win a neighborhood vote anywhere in the graph).
    """
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    if small_graph_edges:
        probe = edges.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            return _driver_lpa_rows(
                probe,
                pairs.schema[src].dataType,
                pairs.sparkSession,
                max_iter,
                stats,
            )
    if stats is not None:
        stats["path"] = "distributed"
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    rounds = 0
    for it in range(max_iter):
        nxt = (
            sym.join(
                labels.select(F.col("node").alias("u"), "label"), "u"
            )
            .select(F.col("v").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col("label").alias("label"),
                    )
                ).alias("s")
            )
            .select("node", F.col("s.label").alias("label"))
            .localCheckpoint(eager=False)
        )
        rounds += 1
        if it == max_iter - 1:
            # final budgeted round: nothing left to early-stop, so skip
            # the fixed-point action (the caller's action materializes
            # the lazy checkpoint)
            labels = nxt
            break
        # exact fixed-point test: any (node, label) row that changed?
        # (left-anti on both columns; the isEmpty materializes the lazy
        # checkpoint blocks — one action per round, no data collect)
        changed = not nxt.join(labels, ["node", "label"], "left_anti").isEmpty()
        labels = nxt
        if not changed:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def triangle_counts(
    pairs: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Per-node triangle counts by DEGREE-ORIENTED wedge closure (Suri &
    Vassilvitskii, "Counting triangles and the curse of the last
    reducer", WWW'11) — the third member of the graph family next to
    connected components (dup-cluster membership) and PageRank (canonical
    -copy authority): a node's triangle count / clustering coefficient
    measures how CLIQUE-LIKE its neighborhood is (co-purchase affinity
    groups, transitivity of near-duplication).

    The naive plan — join the edge list with itself on a shared endpoint,
    then probe for the closing edge — dies at scale on the highest-degree
    node: a degree-d hub contributes C(d,2) wedges, and at 100 TB the
    hottest key's wedge set IS the job ("the curse of the last reducer").
    Orientation fixes the asymptotics, not just the constant: direct
    every undirected edge from its lower-(degree, id) endpoint to the
    higher, and generate wedges only at each node's OUT-neighbors. Every
    triangle then has exactly one apex (its minimum endpoint in the
    (degree, id) order) and out-degrees are bounded by O(sqrt(m)), so
    total wedge work is sum(d_out^2) = O(m^1.5) regardless of hub skew —
    a degree-d hub is the oriented TARGET of its heavy edges, never the
    wedge generator.

    Plan shape: one distinct (canonical a<b edges), one degree aggregate,
    two (degree-attach) joins, ONE wedge self-join on the apex key, one
    LEFT SEMI probe against the oriented edge list for the closing edge,
    one final per-node aggregate. All equi-joins — no cartesian, no
    Python.

    Returns (node, degree, n_triangles) for every node with degree >= 1;
    all-BIGINT, hash-exact cross-engine (the oracle is the brute-force
    canonical x<y<z triple join — orientation must not change a single
    count).
    """
    e = (
        pairs.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        # consumers: degree agg, orientation join, closure probe
        .localCheckpoint(eager=False)
    )
    sym = e.select(F.col("a").alias("node")).unionAll(
        e.select(F.col("b").alias("node"))
    )
    deg = (
        sym.groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    lo_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    # oriented edge u -> v with v's (degree, id) key carried for the
    # wedge-ordering comparison (the closing edge of a wedge (v, w) with
    # key(v) < key(w) is oriented v -> w by construction)
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(
                lo_first,
                F.struct(F.col("degb").alias("d"), F.col("b").alias("n")),
            )
            .otherwise(F.struct(F.col("dega").alias("d"), F.col("a").alias("n")))
            .alias("vkey"),
        )
        .localCheckpoint(eager=False)  # wedge both sides + closure probe
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.vkey") < F.col("e2.vkey")),
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    closing = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closing, ["y", "z"], "left_semi").localCheckpoint(
        eager=False
    )  # three per-corner projections below
    per_node = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


def _driver_bfs_rows(
    edge_rows, seed_rows, id_type, spark, max_hops: int, stats: dict | None
) -> DataFrame:
    """Exact bounded BFS for a small edge set (caller collected it under
    SMALL_GRAPH_EDGES — metadata-scale, not a data-plane collect):
    level-synchronous frontier expansion over an adjacency dict, the same
    semantics the distributed loop computes, returned in the input id
    type."""
    adj: dict = {}
    for r in edge_rows:
        a, b = r["a"], r["b"]
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist: dict = {r["node"]: 0 for r in seed_rows}
    frontier = set(dist)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = h
                    nxt.add(v)
        if not nxt:
            break
        frontier = nxt
    if stats is not None:
        stats["path"] = "driver-bfs"
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", id_type),
            T.StructField("dist", T.IntegerType()),
        ]
    )
    return local_frame(spark, sorted(dist.items()), schema)


def bfs_hops(
    pairs: DataFrame,
    seeds: DataFrame,
    src: str = "a",
    dst: str = "b",
    seed_col: str = "node",
    max_hops: int = 3,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """Multi-source bounded BFS over an undirected pair graph: every node
    reachable from ANY seed within ``max_hops`` edges, labeled with its
    exact hop distance (0 for the seeds themselves). The frontier shape
    the graph family was missing next to full propagation (pagerank),
    contraction (connected components) and closure (triangles) — the
    blast-radius / lineage-impact query: "which documents sit within k
    near-dup links of this contaminated set", "which parts co-purchase
    within 3 hops of a recalled part".

    Distributed plan (level-synchronous BFS, Pregel's canonical example):
    per hop, ONE equi-join of the current frontier against the
    symmetrized edge list on the source key plus ONE left-anti join
    against the visited set — work is proportional to the FRONTIER's
    edges, not the graph (the anti-join keeps re-expansion of interior
    nodes out of round h+1, which is what makes bounded BFS cheap on a
    100 TB graph: untouched partitions are never read back). Visited and
    frontier are checkpointed per round so the iterated plan stays
    constant-size (the repo's iterative-operator rule). BFS invariant —
    a node first reached in round h has true distance h — makes the
    result exact with no per-node min needed.

    Adaptive execution (the connected_components pattern): below
    ``small_graph_edges`` the collected edge list replays the same
    level-synchronous expansion driver-side (:func:`_driver_bfs_rows`);
    pass ``small_graph_edges=0`` to force the distributed loop.

    Determinism: all-integer (node ids + hop counters); no floats, no
    ordering sensitivity — hash-exact against an unrolled relaxation
    oracle (min over d0 ∪ neighbors+1 per round equals frontier BFS).

    Returns (node, dist) with dist in [0, max_hops]; seeds not present
    in the edge list still appear at dist 0 (a seed is trivially within
    0 hops of itself). NULL seeds are dropped before the path split (a
    null id names no node), so the driver replay and the distributed
    loop agree on the same input. Seed and edge id types must match:
    seed-only nodes originate from the seeds frame while reached nodes
    carry the edge type, so a mismatch would make the output schema
    depend on which execution path the input lands on (ADVICE r11).
    """
    id_type = seeds.schema[seed_col].dataType
    edge_type = pairs.schema[src].dataType
    if id_type != edge_type:
        raise ValueError(
            f"bfs_hops: seed column {seed_col!r} type {id_type.simpleString()} "
            f"!= edge column {src!r} type {edge_type.simpleString()}; both "
            "paths require matching node id types"
        )
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    seed_nodes = (
        seeds.select(F.col(seed_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
    )
    if small_graph_edges:
        # BOTH frames must fit under the bound before the driver replay —
        # a tiny graph does not bound the seed set (callers may pass a
        # watchlist far larger than the graph), and an oversized seed
        # probe falls through to the distributed loop instead of
        # collecting unbounded rows
        probe = edges.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            seed_probe = seed_nodes.limit(small_graph_edges + 1).collect()
            if len(seed_probe) <= small_graph_edges:
                return _driver_bfs_rows(
                    probe,
                    seed_probe,
                    id_type,
                    pairs.sparkSession,
                    max_hops,
                    stats,
                )
    if stats is not None:
        stats["path"] = "distributed"
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    visited = seed_nodes.select(
        "node", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint()
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("int").alias("dist"))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(nxt)
        frontier = nxt.select("node")
    return visited
