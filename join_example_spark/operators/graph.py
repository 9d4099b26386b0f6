"""Connected components via iterative min-label propagation.

The endgame of near-dup detection: candidate pairs are EDGES, and the unit
of deduplication is the connected COMPONENT (a transitively-linked cluster
of near-duplicates), from which one representative is kept.

Algorithm (the standard Pregel-style formulation, expressed in DataFrame
ops): every node starts labeled with its own id; each round, a node takes
the min of its label and its neighbors' labels; at fixpoint, every node of
a component carries the component's minimum id. Deterministic — min is
order-independent — so the result is oracle-checkable against a recursive
SQL reachability query.

Scale notes:
- each round is one shuffle (edge⋈label join + min-aggregate) — O(diameter)
  rounds total, and near-dup components have tiny diameters in practice;
- the driver loop carries only a single scalar per round (the count of
  rows whose label changed this round; zero means fixpoint — a count is
  used rather than a label sum so string ids work and no precision is
  lost) — no row data ever reaches the driver;
- ``localCheckpoint`` truncates the growing lineage each round (on a real
  cluster, use a reliable ``checkpoint`` dir instead so executor loss
  doesn't replay the whole chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sym_edges(pairs: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Both directions of an undirected pair list as ``(src, dst)`` rows,
    eagerly localCheckpointed: every iterative loop below references the
    edge list once per round, so the (usually expensive) upstream pair
    plan runs once, not once per round."""
    return (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .localCheckpoint(eager=True)
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``nodes`` must contain each vertex exactly once; ``edges`` is undirected
    input (symmetrized internally). Raises if not converged in ``max_iter``
    rounds — converge-or-die beats silently-partial clusters.
    """
    sym = _sym_edges(edges, src_col, dst_col)

    all_nodes = nodes.select(F.col(id_col).alias("id"))
    # Only edge-touched nodes participate in propagation — singletons (the
    # bulk of a dedup corpus) are their own component by definition, so the
    # iterative working set shrinks from |V| to |V_active|. With no edges
    # the first round changes nothing and returns every node as a singleton.
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    active = labels.select("id")

    # Convergence witness: exact per-round changed-row count (works for any
    # id type — a numeric label-sum would crash on string ids under ANSI
    # and could lose precision beyond 2^53). Note the fixpoint needs one
    # confirming no-change round, so a component of diameter D converges
    # within D+1 rounds; size max_iter accordingly.
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
            .groupBy("id")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Not lazy under AQE: localCheckpoint(eager=False) submits every
        # shuffle and broadcast stage of the plan when it is called
        # (measured: 6 jobs here per round, plus 2 for the count). What it
        # saves over an eager checkpoint is the extra full-result job; the
        # count below then reads the materialized partitions.
        new_labels = (
            labels.withColumnRenamed("label", "prev_label")
            .join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("prev_label"), F.coalesce("nbr_label", F.col("prev_label"))
                ).alias("label"),
                "prev_label",
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("label") != F.col("prev_label")).count()
        labels = new_labels.drop("prev_label")
        if changed == 0:
            singletons = all_nodes.join(active, "id", "left_anti").select(
                "id", F.col("id").alias("cluster_id")
            )
            return labels.select("id", F.col("label").alias("cluster_id")).union(
                singletons
            )
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def _large_star(pairs: DataFrame) -> DataFrame:
    """LS(E) = {(v, m(u)) : (u,v) ∈ E_sym, v > u}, m(u) = min(N(u) ∪ {u}).

    Connects every strictly-larger neighbor of u to the minimum of u's
    neighborhood — after this, every emitted pair points strictly downhill.
    """
    sym = pairs.union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    # No intermediate distinct: duplicate (u, m) pairs cannot change the
    # small-star MIN aggregate that consumes this, and the round's final
    # distinct (in _small_star) restores set semantics — dropping it saves
    # one shuffle per contraction round (clustering queries measured
    # ~20-40% faster end-to-end at sf0.1).
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    """SS(E) = {(x, m(u)) : x ∈ N(u) ∪ {u}, x ≠ m(u)} over downhill edges.

    Input pairs all satisfy v < u (large-star output); each node and its
    smaller neighbors are re-pointed at the neighborhood minimum.
    """
    m = pairs.groupBy("u").agg(F.min("v").alias("m"))
    via_nbrs = (
        pairs.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    via_self = m.select("u", F.col("m").alias("v"))
    return via_nbrs.union(via_self).distinct()


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 12,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds.

    Same contract and result as :func:`connected_components` (every node
    labeled with the minimum reachable id), but converges in **O(log n)
    rounds instead of O(component diameter)** — the scale path when
    components can chain (long paths), where plain min-label propagation
    needs one round per hop. Algorithm follows the public
    large-star/small-star MapReduce formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Per round: two groupBy shuffles + two distincts over the current pair
    set; pair-set size is bounded by the symmetrized edge count and only
    shrinks toward the star forest. Each round checkpoints the new pair
    set lazily and takes one scalar aggregate as its convergence witness;
    only a 3-field row reaches the driver per round. Under AQE the lazy
    checkpoint still runs every shuffle and broadcast stage of the round
    as jobs when it is called — it saves only the eager checkpoint's
    extra full-result job.

    Convergence witness (round 16 — replaces the consecutive-iterate
    set-equality test): the iteration's fixpoints are EXACTLY the
    downhill star forests, detected STRUCTURALLY on the new pair set:

      (i)   every pair points downhill (v < u),
      (ii)  no parent is also a child (pointer height ≤ 1),
      (iii) every child has exactly one parent.

    ⇐ a set with (i)–(iii) maps to itself under LS∘SS (per-node algebra:
    LS re-emits each child→root pair from the root's neighborhood and
    nothing else; SS's m(u) is the unique root, via_nbrs collapses to
    filtered self-pairs, via_self re-emits the star). ⇒ the iteration
    converges to the canonical star forest (Kiveris et al. thm. 2),
    which satisfies (i)–(iii); violating any of them changes the set on
    the next round ((i): an uphill pair re-points; (ii): a chain
    shortcuts; (iii): two parents of one child merge). The structural
    test therefore fires exactly one round EARLIER than set-equality —
    the old test needed one more full LS+SS pass to observe the stutter
    (measured: 5 rounds → 4 at sf0.1 on the semantic family, ~0.5-0.7 s
    per consumer; at scale: 3 exchanges + 2 aggregates per round saved).
    No equality join against the previous set is needed, so the previous
    round's checkpoint is released immediately.
    """
    all_nodes = nodes.select(F.col(id_col).alias("id"))
    # Checkpointed because round 1 references the input pairs several
    # times. An empty pair set needs no gate: it converges in round 1 (the
    # witness aggregate over no rows has all_down NULL) and every node
    # comes back as a singleton.
    pairs = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    # One (node, role) row per pair endpoint via a generator — NOT a
    # two-branch union, which would execute the (lazily checkpointed)
    # pair plan twice in the same job (SCALE.md §3.4 rule).
    _roles = F.explode(
        F.array(
            F.struct(
                F.col("u").alias("node"),
                F.lit(1).alias("is_child"),
                F.lit(0).alias("is_parent"),
                (F.col("v") < F.col("u")).cast("int").alias("down"),
            ),
            F.struct(
                F.col("v").alias("node"),
                F.lit(0).alias("is_child"),
                F.lit(1).alias("is_parent"),
                F.lit(1).alias("down"),
            ),
        )
    )
    for _ in range(max_iter):
        pairs = _small_star(_large_star(pairs)).localCheckpoint(eager=False)
        # The round's fixpoint action: reads the checkpointed pairs and
        # returns the star-forest witness fields.
        w = (
            pairs.select(_roles.alias("r"))
            .select("r.*")
            .groupBy("node")
            .agg(
                F.sum("is_child").alias("nc"),
                F.sum("is_parent").alias("np"),
                F.min("down").alias("dn"),
            )
            .agg(
                F.count(
                    F.when((F.col("nc") > 0) & (F.col("np") > 0), 1)
                ).alias("n_overlap"),
                F.count(F.when(F.col("nc") > 1, 1)).alias("n_multi"),
                F.min("dn").alias("all_down"),
            )
            .first()
        )
        if (
            w["n_overlap"] == 0
            and w["n_multi"] == 0
            and (w["all_down"] is None or w["all_down"] == 1)
        ):
            # Star forest: every non-root (u) points directly at its root
            # (v), and no root is a child, so the converged pairs name every
            # edge-touched node: active = u ∪ v, roots = the distinct v.
            non_roots = pairs.select(
                F.col("u").alias("id"), F.col("v").alias("cluster_id")
            )
            roots = (
                pairs.select(F.col("v").alias("id"))
                .distinct()
                .select("id", F.col("id").alias("cluster_id"))
            )
            active = pairs.select(F.explode(F.array("u", "v")).alias("id"))
            singletons = all_nodes.join(active, "id", "left_anti").select(
                "id", F.col("id").alias("cluster_id")
            )
            return non_roots.union(roots).union(singletons)
    raise RuntimeError(f"connected_components_star: no fixpoint in {max_iter} rounds")


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle census of an undirected graph: edges, wedges,
    triangles, and the global clustering coefficient — one output row.

    Uses the degree-oriented "forward" enumeration: every undirected edge
    is oriented from its lower-(degree, id) endpoint to the higher one, and
    wedges are enumerated only at each vertex's out-neighborhood. Out-degree
    is bounded by O(√m) on any graph, so the wedge intermediate is
    O(m^1.5) worst-case instead of Σ deg² — the standard scale guard
    against high-degree hubs (a naive per-vertex wedge join explodes on a
    hub with millions of neighbors; this caps it). Each triangle is counted
    exactly once. The oracle side uses the independent a<b<c triple-join
    formulation, so agreement cross-checks the orientation logic itself.
    """
    # The edge set is referenced four times below (canonical, symmetrized,
    # degree, closure check) — materialize it once so an expensive upstream
    # candidate join (e.g. the blocked cosine self-join) runs once, not four
    # times. Same localCheckpoint pattern as connected_components.
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("v")).agg(F.count(F.lit(1)).alias("deg"))

    # Orient from lower (deg, id) to higher (deg, id).
    with_deg = (
        sym.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "deg_b"), "b")
    )
    oriented = with_deg.where(
        (F.col("deg_a") < F.col("deg_b"))
        | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
    ).select(F.col("a").alias("u"), F.col("b").alias("w"))

    o1 = oriented.select(F.col("u"), F.col("w").alias("v1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("v2"))
    open_wedges = o1.join(o2, "u").where(F.col("v1") < F.col("v2"))
    closed = open_wedges.join(
        e,
        (F.least("v1", "v2") == F.col("a")) & (F.greatest("v1", "v2") == F.col("b")),
        "left_semi",
    )

    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("CAST(deg * (deg - 1) / 2 AS BIGINT)")).cast("bigint").alias("n_wedges")
    )
    n_tri = closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return (
        n_edges.crossJoin(n_wedges)
        .crossJoin(n_tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges > 0 THEN "
                "ROUND(CAST(3 * n_triangles AS DOUBLE) / n_wedges, 6) "
                "ELSE CAST(NULL AS DOUBLE) END"
            ).alias("global_clustering"),
        )
    )


def pagerank_fixed(
    nodes: DataFrame,
    pairs: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    tele_num: float = 0.15,
    id_col: str = "vec_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    round_digits: int = 8,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair list — the
    power-method centrality as pure DataFrame algebra, bit-deterministic
    across engines and partitionings.

    Determinism contract (the repo's decimal-bridge pattern): per-edge
    contributions are ROUND(r/deg, ``round_digits``) doubles (identical
    IEEE division both engines), summed EXACTLY in DECIMAL(25,8) (order-
    independent), and each new rank is one rounded affine map of that
    exact sum — so every iteration's rank vector is bit-identical to the
    unrolled-CTE oracle regardless of partition order. Ranks start at
    1/N and stay O(1/N), where the 8-decimal rounding window is ~1e-10
    per value — far under the ulp-boundary risk that made ROUND(x, 12)
    unsafe (window shrinks 10× per rounded digit removed; see CLAUDE.md
    ROUND note). Dangling nodes keep teleport + incoming mass; their own
    mass is not redistributed (the simple variant — stated in the oracle
    identically).

    Fixed ``iters`` (unrollable in SQL) rather than convergence-tested:
    the oracle must be a static query. At 100 TB each iteration is one
    edge-key join + one narrow (dst, contrib) shuffle; edges+degrees are
    localCheckpointed once (executor-side) so the k iterations do not
    re-execute the candidate-pair subplan k times.
    """
    n = nodes.count()
    edges = _sym_edges(pairs, src_col, dst_col)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=True
    )
    # tele_num is a separate PARSED literal, not 1 - damping: IEEE
    # 1.0 - 0.85 = 0.15000000000000002 while a parsed "0.15" is a
    # different double — the oracle writes CAST(0.15 AS DOUBLE)/n, so the
    # Spark side must divide the same parsed literal.
    tele = tele_num / float(n)
    r = nodes.select(F.col(id_col), F.lit(1.0 / float(n)).alias("r"))
    for _ in range(iters):
        contrib = (
            edges.join(r, edges["src"] == r[id_col])
            .join(deg, "src")
            .select(
                F.col("dst"),
                F.round(F.col("r") / F.col("deg"), round_digits).alias("c"),
            )
        )
        sums = contrib.groupBy("dst").agg(
            F.expr("CAST(SUM(CAST(c AS DECIMAL(25,8))) AS DOUBLE)").alias("s")
        )
        r = nodes.join(sums, nodes[id_col] == sums["dst"], "left").select(
            F.col(id_col),
            F.round(
                F.lit(tele) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                round_digits,
            ).alias("r"),
        )
    return r


def bfs_distances(
    seeds: DataFrame,
    pairs: DataFrame,
    iters: int = 4,
    id_col: str = "vec_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Multi-source BFS shortest-path distances over an undirected pair
    list, bounded at ``iters`` hops — pure integer min-plus relaxation,
    bit-deterministic under any partitioning (no floats anywhere).

    Level-synchronous Pregel shape: each round relaxes EVERY currently
    settled node through the edge list (dist' = min(dist, neighbor+1))
    and re-aggregates with an integer MIN — identical to the unrolled
    min-relaxation CTE chain the oracle runs, with no path enumeration
    (a WITH RECURSIVE UNION ALL walk would multiply per-path rows on
    cyclic near-dup graphs; the min-relaxation form stays node-sized
    every round).

    Round 16 (guide §2.2/§2.4 — fewer passes, fewer barriers): the old
    round shape referenced ``dist`` twice (relax + self-union), forcing
    an eager localCheckpoint JOB per round. Rewritten single-reference:
    one LEFT join against the edges and a generator emitting BOTH the
    self row (v, d) and the relaxed row (dst, d+1) per joined row — the
    MIN aggregate is insensitive to the self-row duplication the edge
    fan-out introduces, and an unmatched node keeps (v, d) via the
    coalesce branch (its d+1 ghost loses to its own self row under MIN).
    Value-identical; the whole ``iters``-round chain now plans as ONE
    linear job with zero per-round driver barriers (measured: 5 jobs →
    1 at sf0.1). Only the edge list is checkpointed (it is referenced
    once per round and its upstream — the candidate pair join — is the
    expensive subplan). At 100 TB each round is one edge-key join plus
    one narrow (node, dist) shuffle, exactly as before.
    """
    edges = _sym_edges(pairs, src_col, dst_col)
    dist = seeds.select(
        F.col(id_col).alias("v"), F.lit(0).cast("bigint").alias("d")
    )
    _fan = F.explode(
        F.array(
            F.struct(F.col("v").alias("v"), F.col("d").alias("d")),
            F.struct(
                F.coalesce(F.col("dst"), F.col("v")).alias("v"),
                (F.col("d") + F.lit(1).cast("bigint")).alias("d"),
            ),
        )
    )
    for _ in range(iters):
        dist = (
            dist.join(edges, dist["v"] == edges["src"], "left")
            .select(_fan.alias("r"))
            .select("r.*")
            .groupBy("v")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
    return dist


def label_propagation_fixed(
    nodes: DataFrame,
    pairs: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (community detection)
    over an undirected pair list — pure integer algebra, bit-deterministic.

    Every node starts as its own community (label = id). Each round, a
    node adopts the MODE of its neighbors' labels, ties broken by the
    SMALLEST label (the deterministic variant of Raghavan et al.'s LPA —
    random tie-breaks would be irreproducible across engines); isolated
    nodes keep their current label. Synchronous update (all nodes read
    the previous round's labels) makes the rounds order-independent and
    lets the oracle unroll them as static CTEs.

    Per round: one edge join, one (node, label) weighted-count aggregate,
    one mode pick via ROW_NUMBER under a (count DESC, label ASC) total
    order. Pregel cost shape, no driver state.

    Round 16 (guide §2.2/§2.4): the old round referenced ``labels`` twice
    (neighbor propagate + keep-own fallback join-back), forcing an eager
    localCheckpoint JOB per round. Rewritten single-reference: one LEFT
    join against the edges and a generator emitting the self candidate
    (v, own lbl, weight 0) and the neighbor candidate (dst, lbl, weight
    1) per joined row; SUM(weight) per (node, label) equals the old
    neighbor count exactly (self rows add 0), and the (c DESC, lbl ASC)
    mode pick makes the weight-0 own-label row win precisely when the
    node has no neighbors — the old coalesce fallback. Every node
    appears via its self row, so no join-back is needed. Value-identical
    mode semantics; the whole chain plans as ONE job with zero per-round
    driver barriers.
    """
    edges = _sym_edges(pairs, src_col, dst_col)
    labels = nodes.select(
        F.col(id_col).alias("v"), F.col(id_col).cast("bigint").alias("lbl")
    )
    _fan = F.explode(
        F.array(
            F.struct(
                F.col("v").alias("v"),
                F.col("lbl").alias("lbl"),
                F.lit(0).alias("w"),
            ),
            F.struct(
                F.coalesce(F.col("dst"), F.col("v")).alias("v"),
                F.col("lbl").alias("lbl"),
                F.when(F.col("dst").isNull(), F.lit(0))
                .otherwise(F.lit(1))
                .alias("w"),
            ),
        )
    )
    for _ in range(iters):
        counts = (
            labels.join(edges, labels["v"] == edges["src"], "left")
            .select(_fan.alias("r"))
            .select("r.*")
            .groupBy("v", "lbl")
            .agg(F.sum("w").alias("c"))
        )
        w = Window.partitionBy("v").orderBy(F.col("c").desc(), F.col("lbl").asc())
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("v", F.col("lbl").cast("bigint").alias("lbl"))
        )
    return labels


def kcore_peel(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected pair list: each round
    drops every node with current degree < k (and its edges), ``rounds``
    times; returns surviving ``(v, core_deg)``.

    Fixed rounds rather than peel-to-convergence so the oracle can unroll
    identically (the same reason PageRank/BFS/LPA are fixed-iteration);
    the round count is part of the declared semantics. All-integer —
    bit-deterministic under any partitioning.

    Round 16 (guide §2.2/§2.4): the old round referenced the edge list
    three times (degree aggregate + two semi-joins), forcing an eager
    localCheckpoint JOB per round. Rewritten single-reference: the edge
    list stays symmetric through every round (the keep condition is
    symmetric in the endpoints), so a node's degree equals its row count
    as ``src`` AND as ``dst`` — two whole-partition COUNT windows
    (PARTITION BY src / PARTITION BY dst) attach both endpoint degrees
    to every edge row in one pass, and the k-filter drops the same rows
    the semi-join pair did. Value-identical; the whole ``rounds``-chain
    plans as ONE job with zero per-round driver barriers. Per round: two
    narrow-row window exchanges vs the old aggregate + two join
    exchanges + checkpoint job (the window sort is over 16-byte rows —
    codegen sort, spillable, cheap relative to a per-round barrier).
    """
    edges = _sym_edges(pairs, src_col, dst_col)
    for _ in range(rounds):
        edges = (
            edges.withColumn(
                "_ds", F.count(F.lit(1)).over(Window.partitionBy("src"))
            )
            .withColumn("_dd", F.count(F.lit(1)).over(Window.partitionBy("dst")))
            .where((F.col("_ds") >= k) & (F.col("_dd") >= k))
            .select("src", "dst")
        )
    return edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_deg")
    )
