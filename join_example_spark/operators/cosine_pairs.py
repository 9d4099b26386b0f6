"""Lossless metric-pruned cosine all-pairs join (threshold similarity).

The cosine analog of the PPJoin prefix-filter join (dedup_prefix.py): a
candidate-reduction scheme whose output is PROVABLY identical to the naive
quadratic all-pairs join, so the DuckDB oracle can certify it per row.

Dense unit-norm embeddings admit no sparse prefix filter (every dimension
is populated, so Bayardo/Chaudhuri prefix candidates degenerate to all
pairs); the right lossless pruning for dense vectors is METRIC: for unit
vectors, ``sim(a,b) >= tau  <=>  ||a-b|| <= sqrt(2-2*tau)``, and by the
triangle inequality a cell pair (c1, c2) with per-cell covering radii
(r1, r2) can contain a qualifying pair only if

    ||c1-c2|| - r1 - r2 <= sqrt(2 - 2*tau).

So: contract bit-identical vectors to representatives, coarse-quantize the
representatives per block onto ceil(sqrt(n)) deterministic centroids
(lowest-id reps — the repo's IVF convention), compute per-cell covering
radii, admit only cell pairs passing the triangle bound, and run the exact
rounded-dot verify on members of admitted cell pairs only. Every filter
over-approximates (generous epsilon slack; the verify is the same exact
fold the naive join runs), hence losslessness by construction — and the
oracle twin (the naive quadratic join) proves it per row at every SF.

Scale posture — honest, measured (SCALE.md §3.7):

- On CLUSTERED corpora (real embedding spaces: near-dup families, topical
  clusters) the triangle bound prunes most cell pairs and candidate volume
  tracks the output, not n² — the unit test plants such a geometry and
  asserts >90% of cell pairs are pruned while output == brute force.
- On the ISOTROPIC fixture corpus (within-label mean sim 0.000, sd = 1/8)
  NO lossless method can be sub-quadratic: at tau = 0.25 the ANSWER is
  2.2% of all n²/2 pairs (output-bound, the same regime as the saturated
  PPJoin tier), and for output-sparse tau exact closest-pair search in
  dimension >> log n admits no truly subquadratic algorithm under SETH
  (Alman & Williams, FOCS'15 line of work). The pruning then admits
  everything and the operator degrades to the naive join plus a bounded
  index overhead (ceil(sqrt(n)) assignment dots per vector ~ n^1.5 per
  block, strictly dominated by the n² verify it precedes).
- Duplicate saturation is absorbed by the identity contraction exactly as
  in dedup_prefix.py: the verify runs once per DISTINCT-vector pair;
  member pairs are produced by narrow expansion joins inheriting the rep
  pair's sim (bit-identical arrays => bit-identical fold), and intra-group
  pairs take the group's self-sim computed once from the rep vector.

At 100 TB: contraction is one hash shuffle on vector bytes; centroids are
per-block sqrt-sized and BROADCAST; assignment is map-side; the only
quadratic-capable exchange (members-of-admitted-cells join) is pinned with
explicit repartition on the cell key against AQE byte-based coalescing
(the `_by_cell` lesson, SCALE.md §3.4).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from join_example_spark.operators.similarity import D2_SQL, DOT_SQL


def _cells_and_admissible(reps: DataFrame, thr_d: float) -> tuple[DataFrame, DataFrame]:
    """Coarse quantization + triangle-inequality cell-pair admissibility.

    Input: ``(_blk, _id, _vec)`` representative rows. Returns

    - ``asg``: ``(_blk, _id, _cell, _d2)`` — each rep's deterministic
      nearest-centroid assignment (argmin squared-L2, centroid-id tiebreak
      via the MIN(STRUCT) partial-agg pattern) among the block's
      ceil(sqrt(n_block)) lowest-id reps;
    - ``adm``: ``(_blk, _ca, _cb)`` — ORDERED cell pairs passing
      ``||c_a - c_b|| - r_a - r_b <= thr_d`` with per-cell covering radii
      r (symmetric bound => both orders kept; with unique single assignment
      each rep pair then meets in exactly one ordered cell combination, so
      no pair dedup is needed anywhere downstream).

    Split out so tests can measure the pruning rate directly (the
    clustered-geometry unit test asserts most cell pairs are inadmissible
    while the output still equals brute force).
    """
    # Deterministic per-block centroids: rank narrow (blk, id) rows only
    # (the ivf_cells plan lesson: never sort vector-carrying rows), then
    # fetch the vectors by id. Float sqrt sizing is safe here: the
    # centroid count shapes COST only, never output. No checkpoint: the
    # caller hands in a checkpointed reps, so the 2-3 re-executions this
    # subplan sees are narrow re-reads, cheaper than an eager job.
    cnt = reps.groupBy("_blk").agg(F.count(F.lit(1)).alias("_n"))
    cw = Window.partitionBy("_blk").orderBy("_id")
    cents = (
        reps.select("_blk", "_id")
        .withColumn("_rn", F.row_number().over(cw))
        .join(F.broadcast(cnt), "_blk")
        .where(F.col("_rn") <= F.ceil(F.sqrt(F.col("_n"))))
        .join(reps, ["_blk", "_id"])
        .select("_blk", F.col("_id").alias("_cid"), F.col("_vec").alias("_cvec"))
    )

    # Map-side assignment (broadcast centroids).
    d2 = F.expr(D2_SQL.format(a="_vec", b="_cvec"))
    asg = (
        reps.join(F.broadcast(cents), "_blk")
        .select("_blk", "_id", "_cid", d2.alias("_d2"))
        .groupBy("_blk", "_id")
        .agg(F.min(F.struct(F.col("_d2"), F.col("_cid"))).alias("_s"))
        .select(
            "_blk",
            "_id",
            F.col("_s._cid").alias("_cell"),
            F.col("_s._d2").alias("_d2"),
        )
    )

    # Per-cell covering radii (empty cells drop out via the inner joins —
    # a cell with no members can hold no pair).
    rad = asg.groupBy("_blk", "_cell").agg(
        F.max(F.sqrt(F.greatest(F.col("_d2"), F.lit(0.0)))).alias("_r")
    )

    ca = cents.select("_blk", F.col("_cid").alias("_ca"), F.col("_cvec").alias("_va"))
    cb = cents.select("_blk", F.col("_cid").alias("_cb"), F.col("_cvec").alias("_vb"))
    cdist = F.sqrt(F.greatest(F.expr(D2_SQL.format(a="_va", b="_vb")), F.lit(0.0)))
    adm = (
        ca.join(cb, "_blk")
        .select("_blk", "_ca", "_cb", cdist.alias("_D"))
        .join(rad.select("_blk", F.col("_cell").alias("_ca"), F.col("_r").alias("_ra")), ["_blk", "_ca"])
        .join(rad.select("_blk", F.col("_cell").alias("_cb"), F.col("_r").alias("_rb")), ["_blk", "_cb"])
        .where(F.col("_D") - F.col("_ra") - F.col("_rb") <= F.lit(thr_d))
        .select("_blk", "_ca", "_cb")
    )
    return asg, adm


#: Product-cell packing base: half-cell indexes are dense ROW_NUMBER ranks
#: (1..C_half, C_half ≤ 1024 at any plausible block size), so
#: ``c1 * 2^20 + c2`` is collision-free in a BIGINT.
_PROD_BASE = 1 << 20


def _cells_and_admissible_imi(
    reps: DataFrame, thr_d: float, half_dim: int = 32
) -> tuple[DataFrame, DataFrame]:
    """Two-level (product-cell) replacement for
    :func:`_cells_and_admissible` — the remedy SCALE.md §3.7 names for the
    COVERAGE-BOUND regime of the flat index: with K natural clusters and
    only C = ⌈√n⌉ flat cells, K > C forces every cell to mix clusters, its
    covering radius blows up to inter-cluster scale, and the triangle
    bound admits everything.

    Design (two separable ideas, both load-bearing):

    1. **Product-cell PARTITIONING** (Babenko–Lempitsky inverted
       multi-index): each rep is assigned per half (dims [1..half_dim] /
       the rest) to its nearest of the block's ⌈∛n⌉ lowest-id half-
       codebook entries — C_h² = n^{2/3} effective cells for 2·n·C_h =
       O(n^{4/3}) assignment dots, so up to ~n^{2/3} clusters get their
       own cell (vs √n for flat at the same assignment budget).
    2. **Full-space MEMBER ANCHORS for the bound.** Naive per-half radii
       are themselves coverage-bound (the half-codebook has only C_h
       entries, fewer than the clusters' half-projections — measured: the
       per-half bound admitted 100% on the K=48/n=512 geometry). Instead
       each OCCUPIED product cell anchors at its lowest-id member's
       actual vector; r_A = max over members of d(x, anchor_A) (full
       space). When clusters are tight, cell ≈ cluster and r_A ≈ cluster
       diameter regardless of how far the half-codebook entries sit. The
       admissibility test is then the plain triangle bound between
       anchors: ``d(anchor_A, anchor_B) − r_A − r_B ≤ thr_d``.

    Losslessness: members of A lie within r_A of anchor_A by
    construction, so for x∈A, y∈B the triangle inequality gives
    ``d(x,y) ≥ D(A,B) − r_A − r_B`` — any cell pair failing the test can
    contain no qualifying pair; every filter over-approximates and the
    verify is the same exact fold, hence output == naive join (the same
    per-row oracle proves it). Cost: anchor distances are |occ|² ≤ C_h⁴ =
    O(n^{4/3}) tiny rows per block — same order as assignment.

    Returns the SAME shapes as the flat variant — ``asg``:
    ``(_blk, _id, _cell)`` (each rep in exactly ONE product cell: no pair
    dedup downstream), ``adm``: ``(_blk, _ca, _cb)`` ordered admissible
    cell pairs — so the caller's member join is front-end-agnostic.

    Scale caveat: the caller broadcasts ``adm``, whose worst case is
    |occ|² = n^{4/3} rows (vs the flat front end's C² = n). That worst
    case is exactly the geometry where product cells buy nothing
    (isotropic — measured in tests: arbitrary half-projections
    birthday-collide the cells); in the prunable product-structured
    regime this front end exists for, adm tracks the admitted
    neighborhoods and stays broadcastable. Pick the front end by
    geometry — flat is the shipped default.
    """
    lo = F.expr(f"slice(_vec, 1, {half_dim})")
    hi = F.expr(f"slice(_vec, {half_dim + 1}, {half_dim})")

    # Per-block half-codebooks: the smallest C with C³ ≥ n_block lowest-id
    # reps — the EXACT integer sizing rule (imi_c_per_half): float pow(n,
    # 1/3) is not correctly rounded, so ceil(pow(...)) can flip at perfect
    # cubes (here that shapes cost only, never output, but the repo
    # invariant is one exact rule everywhere). Dense _cidx ranks make the
    # product key packable.
    cnt = reps.groupBy("_blk").agg(F.count(F.lit(1)).alias("_n"))
    # coalesce(…, 1024): filter() is empty (array_min → NULL) when a block
    # holds more than 1024³ ≈ 1.07e9 reps; `_rn <= NULL` would then drop
    # every centroid and silently empty the candidate set. Saturate at the
    # scan max instead (C = 1024 keeps C³ ≥ 2^30 cells — sizing shapes cost
    # only, never output), mirroring imi_c_per_half's range(1, 1025) note.
    c_of_n = F.expr(
        "coalesce(array_min(filter(sequence(1, 1024), c -> c * c * c >= _n)), 1024)"
    )
    cw = Window.partitionBy("_blk").orderBy("_id")
    cents = (
        reps.select("_blk", "_id")
        .withColumn("_rn", F.row_number().over(cw))
        .join(F.broadcast(cnt), "_blk")
        .where(F.col("_rn") <= c_of_n)
        .join(reps, ["_blk", "_id"])
        .select(
            "_blk",
            F.col("_rn").alias("_cidx"),
            lo.alias("_cv1"),
            hi.alias("_cv2"),
        )
    )

    # ONE broadcast pass assigns BOTH halves: per (rep, codebook entry)
    # compute both half-distances, then two MIN(STRUCT) argmins in one
    # aggregate; the packed product key is the cell.
    d2_1 = F.expr(D2_SQL.format(a="_v1", b="_cv1"))
    d2_2 = F.expr(D2_SQL.format(a="_v2", b="_cv2"))
    halves = reps.select("_blk", "_id", lo.alias("_v1"), hi.alias("_v2"))
    asg = (
        halves.join(F.broadcast(cents), "_blk")
        .select("_blk", "_id", "_cidx", d2_1.alias("_e1"), d2_2.alias("_e2"))
        .groupBy("_blk", "_id")
        .agg(
            F.min(F.struct(F.col("_e1"), F.col("_cidx"))).alias("_s1"),
            F.min(F.struct(F.col("_e2"), F.col("_cidx"))).alias("_s2"),
        )
        .select(
            "_blk",
            "_id",
            (F.col("_s1._cidx") * _PROD_BASE + F.col("_s2._cidx")).alias("_cell"),
        )
    )

    # Full-space member anchors: lowest-id member's vector per occupied
    # cell (narrow MIN agg + one join-back by id — never a window over
    # the array column), then covering radii around the anchor.
    av = asg.join(reps, ["_blk", "_id"])
    anchors = (
        asg.groupBy("_blk", "_cell")
        .agg(F.min("_id").alias("_aid"))
        .join(
            reps.select("_blk", F.col("_id").alias("_aid"), F.col("_vec").alias("_avec")),
            ["_blk", "_aid"],
        )
        .select("_blk", "_cell", "_avec")
    )
    d2_anchor = F.expr(D2_SQL.format(a="_vec", b="_avec"))
    rad = (
        av.join(F.broadcast(anchors), ["_blk", "_cell"])
        .select("_blk", "_cell", d2_anchor.alias("_d2"))
        .groupBy("_blk", "_cell")
        .agg(F.max(F.sqrt(F.greatest(F.col("_d2"), F.lit(0.0)))).alias("_r"))
    )

    # Triangle-bound admissibility between anchors of occupied cells
    # (|occ|² ≤ C_h⁴ tiny rows; both orders kept — symmetric bound,
    # matching the flat contract).
    aa = anchors.join(rad, ["_blk", "_cell"]).select(
        "_blk", F.col("_cell").alias("_ca"), F.col("_avec").alias("_va"),
        F.col("_r").alias("_ra"),
    )
    bb = anchors.join(rad, ["_blk", "_cell"]).select(
        "_blk", F.col("_cell").alias("_cb"), F.col("_avec").alias("_vb"),
        F.col("_r").alias("_rb"),
    )
    cdist = F.sqrt(F.greatest(F.expr(D2_SQL.format(a="_va", b="_vb")), F.lit(0.0)))
    adm = (
        aa.join(bb, "_blk")
        .select("_blk", "_ca", "_cb", "_ra", "_rb", cdist.alias("_D"))
        .where(F.col("_D") - F.col("_ra") - F.col("_rb") <= F.lit(thr_d))
        .select("_blk", "_ca", "_cb")
    )
    return asg, adm


def cosine_lossless_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    block_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    index_min_reps: int = 4096,
    index_kind: str = "flat",
) -> DataFrame:
    """All pairs with ``ROUND(dot, round_digits) >= threshold`` (within
    ``block_col`` blocks; ``None`` = one global block), id_a < id_b.

    Output is row-identical to the naive quadratic join — the certifying
    oracle of ``q_llm_dedup_cosine_lossless`` states exactly that.
    Assumes no NULL ids/vectors (fixture contract, FIXTURES.md).

    ``index_min_reps``: below this many distinct vectors the metric index
    cannot pay for itself (measured, SCALE.md §3.7: centroid ranking +
    n·sqrt(n) assignment dots + admissibility joins cost more than the
    <= index_min_reps² / 2-per-block verify they would prune), so the rep
    pairs come from a BROADCAST quadratic verify instead — same exact
    fold, same output, ~1 MB broadcast at the 4096 default. The index
    engages automatically at scale, where it is the whole point; 0 forces
    it on (tests/probes of the index path). Both paths share the identity
    contraction and expansion, and the certificate is path-independent.

    ``index_kind``: ``"flat"`` (default — ⌈√n⌉ flat cells) or ``"imi"``
    (⌈∛n⌉-per-half product cells, :func:`_cells_and_admissible_imi`) —
    the lossless front end for the COVERAGE-BOUND regime where the
    cluster count exceeds the flat cell count and the flat triangle bound
    admits everything (SCALE.md §3.7 / §3.10c). Output is identical
    either way (both bounds over-approximate; the verify is the same
    exact fold) — only the pruning power and index cost differ.

    DORMANCY (round 8, deliberate): no production consumer routes
    ``index_kind="imi"`` today — the fixture corpus is isotropic, where
    product cells measurably buy nothing over flat (§3.10c), so every
    declared query ships the flat front end. The IMI path is kept
    correct-and-certified (exercised by tests/test_round7_ops.py against
    the naive twin, plus the §3.10c clustered-geometry probe) as the
    documented escape hatch for product-structured corpora whose cluster
    count exceeds ⌈√n⌉; route a consumer through it only with a measured
    geometry that needs it.
    """
    if index_kind not in ("flat", "imi"):
        raise ValueError(f"index_kind must be 'flat' or 'imi', got {index_kind!r}")
    # Soundness margin: a pair qualifies iff ROUND(sim, r) >= tau, i.e.
    # sim >= tau - 0.5*10^-r. Budget a full 10^-r for that plus float32
    # norm deviation (||v||^2 within ~2.4e-7 of 1) and the ~1e-14 fold
    # error, then 1e-6 absolute on the distance — orders of magnitude of
    # headroom, and slack only ADDS candidates (the verify is exact).
    tau_eff = threshold - 10.0 ** (-round_digits)
    thr_d = math.sqrt(max(0.0, 2.0 - 2.0 * tau_eff)) + 1e-6

    blk = F.col(block_col) if block_col is not None else F.lit(0)
    base = emb.select(
        F.col(id_col).alias("_id"), blk.alias("_blk"), F.col(vec_col).alias("_v")
    )

    # -- identity contraction (hash aggregate on the vector bytes; never a
    # window over the array column — the interpreted-comparator lesson).
    # ONE eager localCheckpoint holds rep + member-list rows together;
    # reps/members below are narrow re-reads of it, so no consumer
    # re-executes the contraction scan and no second checkpoint job runs.
    contr = (
        base.groupBy("_blk", "_v")
        .agg(F.min("_id").alias("_gid"), F.collect_list("_id").alias("_mids"))
        .localCheckpoint(eager=True)
    )
    members = contr.select("_gid", F.explode("_mids").alias("_id"))
    reps = contr.select(
        F.col("_gid").alias("_id"),
        "_blk",
        F.col("_v").alias("_vec"),
        F.round(F.expr(DOT_SQL.format(a="_v", b="_v")), round_digits).alias(
            "_selfsim"
        ),
    )

    n_shuf = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if contr.count() < index_min_reps:
        # Small distinct corpus: the index cannot pay for itself — run the
        # BROADCAST quadratic verify on reps (same exact fold, identical
        # output), spread over n_shuf partitions for parallelism.
        ra = reps.select(
            "_blk", F.col("_id").alias("id_a"), F.col("_vec").alias("_pva")
        ).repartition(n_shuf)
        rb = reps.select(
            "_blk", F.col("_id").alias("id_b"), F.col("_vec").alias("_pvb")
        )
        # FOLD verify. With the compiled-class cache sized, the unrolled
        # 64-dim dot is faster here on warm draws (sf0.1, 3 interleaved
        # pairs: cosine_lossless 3.35 -> 2.77 s, cluster_dbscan 3.58 ->
        # 3.18 s, two other callers flat), but it costs three of the four
        # callers 0.9-1.4 s more on their first execution in a JVM
        # (Catalyst and JIT work on the 64-term tree; Janino compile is at
        # most 0.25 s of it), and bench.py runs each query once per JVM.
        # SCALE.md 3.10 has the A/B.
        sim_small = F.round(
            F.expr(DOT_SQL.format(a="_pva", b="_pvb")), round_digits
        )
        rep_pairs_small = (
            ra.join(F.broadcast(rb), "_blk")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", sim_small.alias("sim"))
            .where(F.col("sim") >= F.lit(threshold))
        )
        return _expand_members(rep_pairs_small, members, reps, threshold)

    front = _cells_and_admissible if index_kind == "flat" else _cells_and_admissible_imi
    asg, adm = front(reps.select("_blk", "_id", "_vec"), thr_d)
    # -- candidates: members of admitted cell pairs. The only exchange with
    # quadratic fan-out — pin it on the cell key on BOTH sides so AQE's
    # byte-based coalescing cannot collapse the pair generation.
    av = asg.select("_blk", "_id", "_cell").join(
        reps.select("_blk", "_id", "_vec"), ["_blk", "_id"]
    )
    pa = av.select(
        "_blk", F.col("_cell").alias("_ca"), F.col("_id").alias("id_a"),
        F.col("_vec").alias("_pva"),
    )
    pb = av.select(
        "_blk", F.col("_cell").alias("_cb"), F.col("_id").alias("id_b"),
        F.col("_vec").alias("_pvb"),
    )
    # Same fold-verify decision as the broadcast path above.
    sim = F.round(F.expr(DOT_SQL.format(a="_pva", b="_pvb")), round_digits)
    rep_pairs = (
        pa.join(F.broadcast(adm), ["_blk", "_ca"])
        .repartition(n_shuf, "_blk", "_cb")
        .join(pb.repartition(n_shuf, "_blk", "_cb"), ["_blk", "_cb"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= F.lit(threshold))
    )

    return _expand_members(rep_pairs, members, reps, threshold)


def _expand_members(
    rep_pairs: DataFrame, members: DataFrame, reps: DataFrame, threshold: float
) -> DataFrame:
    """Expand representative pairs back to member pairs (shared by the
    indexed and small-corpus paths): cross-group pairs inherit the rep
    pair's sim (bit-identical arrays => bit-identical fold); intra-group
    pairs take the group's self-sim, computed once from the rep vector
    with the SAME fold the naive join would run on the duplicate pair."""
    ma = members.select(F.col("_gid").alias("id_a"), F.col("_id").alias("_ia"))
    mb = members.select(F.col("_gid").alias("id_b"), F.col("_id").alias("_ib"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "sim",
        )
    )
    intra = (
        members.alias("x")
        .join(members.alias("y"), "_gid")
        .where(F.col("x._id") < F.col("y._id"))
        .join(
            reps.select(F.col("_id").alias("_gid"), "_selfsim"), "_gid"
        )
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.col("_selfsim").alias("sim"),
        )
        .where(F.col("sim") >= F.lit(threshold))
    )
    return cross.unionByName(intra)
