"""Similarity search over embedding columns (array<float>).

Brute-force blocked cosine top-k as the exact baseline, and a
BucketedRandomProjectionLSH path as the approximate 100 TB route. Vectors in
the fixture corpus are unit-normalized (FIXTURES.md), so dot product ==
cosine similarity; `dot()` below is the general inner product either way.

Everything in the exact path is JVM higher-order functions (ZIP_WITH /
AGGREGATE) — no Python UDFs; the LSH path uses Spark MLlib (JVM) via
`array_to_vector`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Sequential left-fold dot product in DOUBLE — deterministic evaluation
#: order, identical fold shape on the oracle side. Vectors of different
#: lengths raise instead of folding to NULL (ZIP_WITH pads the shorter side
#: with NULL, which would rank as a NULL similarity); a NULL array still
#: yields NULL (``array_size`` of NULL is NULL under any sizeOfNull mode).
DOT_FOLD_SQL = (
    "CASE WHEN array_size({a}) <> array_size({b})"
    " THEN raise_error('ragged vectors: dot product operands differ in length')"
    " ELSE AGGREGATE(ZIP_WITH({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) END"
)

#: Sequential left-fold SQUARED L2 distance in DOUBLE — the PQ assignment
#: metric (subvectors are not unit-normalized, so dot is the wrong metric
#: there). Same determinism and ragged-vector contract as DOT_FOLD_SQL: a
#: NULL distance would drop the row out of an argmin silently.
D2_FOLD_SQL = (
    "CASE WHEN array_size({a}) <> array_size({b})"
    " THEN raise_error('ragged vectors: squared-L2 operands differ in length')"
    " ELSE AGGREGATE(ZIP_WITH({a}, {b},"
    " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) END"
)


def _static_unroll(kind: str, dim: int) -> str:
    """Single-dim statically-unrolled fold template (two branches: the
    unrolled chain when both arrays have exactly ``dim`` elements, else
    the original fold).

    Spark evaluates higher-order ``AGGREGATE``/``ZIP_WITH`` folds in the
    interpreter, OUTSIDE whole-stage codegen (measured ~0.65–1.2 µs per
    64-dim pair, SCALE.md §3.4). For a statically-known dim the same sum
    written as an explicit left-associated chain
    ``0.0 + t0 + t1 + … + t{d-1}`` compiles into whole-stage codegen and
    runs ~3× faster (measured round 7: 2.26 s → 0.78 s for 400 k 64-dim
    dots, 0 of 400 k results differing bitwise).

    Bit-identity argument: the fold computes ``(((0.0+t0)+t1)+…)`` and the
    unrolled chain parses left-associatively to the SAME addition order
    with the same ``CAST(0.0 AS DOUBLE)`` seed (kept so a leading ``-0.0``
    term cannot flip the sign of a zero result), so every partial sum is
    the identical IEEE operation sequence. Arrays whose runtime size is
    not ``dim`` (or NULL) take the ELSE branch — the original fold, ragged
    guard included — so semantics are unchanged for every input.

    USE SPARINGLY — this is NOT the default template, on measurement (the
    round-7 full-suite experiment, SCALE.md §3.10): the big tree costs
    ~0.5–1.5 s of Catalyst/Janino work PER STAGE that contains it, paid on
    every single-shot query run. It wins only where the runtime fold count
    in one stage is large (≳10⁶ pairs: PQ code assignment, candidate-pair
    verify); in low-volume multi-stage plans (IVF probes, decontamination
    assigns) it measured a net 3–5× REGRESSION. Callers must pass plain
    column operands (``{a}``/``{b}`` are interpolated ~2·dim times) —
    pre-project slices first, see ``imi_cells``.
    """
    if kind == "dot":
        def term(i: int) -> str:
            return f"(CAST({{a}}[{i}] AS DOUBLE) * CAST({{b}}[{i}] AS DOUBLE))"
        fold = DOT_FOLD_SQL
    else:
        def term(i: int) -> str:
            return (
                f"(CAST({{a}}[{i}] AS DOUBLE) - CAST({{b}}[{i}] AS DOUBLE))"
                f" * (CAST({{a}}[{i}] AS DOUBLE) - CAST({{b}}[{i}] AS DOUBLE))"
            )
        fold = D2_FOLD_SQL
    chain = "CAST(0.0 AS DOUBLE) + " + " + ".join(term(i) for i in range(dim))
    return (
        f"CASE WHEN size({{a}}) = {dim} AND size({{b}}) = {dim}"
        f" THEN {chain} ELSE {fold} END"
    )


_UNROLL_CACHE: dict[tuple[str, int], str] = {}


def dot_sql_for(dim: int) -> str:
    """Unrolled-dot template for a known dim — hot-site opt-in (see
    :func:`_static_unroll` for when this pays and when it does not)."""
    key = ("dot", dim)
    if key not in _UNROLL_CACHE:
        _UNROLL_CACHE[key] = _static_unroll("dot", dim)
    return _UNROLL_CACHE[key]


def d2_sql_for(dim: int) -> str:
    """Unrolled-squared-L2 template for a known dim (same contract)."""
    key = ("d2", dim)
    if key not in _UNROLL_CACHE:
        _UNROLL_CACHE[key] = _static_unroll("d2", dim)
    return _UNROLL_CACHE[key]


#: Default templates — the interpreted folds. Cheap to plan/compile;
#: the unrolled variants above are opt-in for measured fold-bound stages.
DOT_SQL = DOT_FOLD_SQL
D2_SQL = D2_FOLD_SQL


def cosine_topk(
    emb: DataFrame,
    k: int = 3,
    block_col: str = "label",
    probe_pred: str | None = "vec_id % 100 = 0",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact blocked top-k cosine neighbors per probe vector.

    - ``probe_pred`` restricts the probe side (all-pairs is O(n²); a probe
      subset is the honest exact-baseline shape). ``None`` means NO probe
      restriction here (unlike the ANN operators, whose ``None`` templates
      the default ``{id_col} % 100 = 0``); the default predicate references
      the literal ``vec_id`` — callers with a custom ``id_col`` must pass a
      predicate over their own columns.
    - Blocking on ``block_col`` bounds candidates per probe; at 100 TB the
      block key shuffles both sides co-located, and the per-probe top-k is a
      rank-filter (no global sort).
    - Similarity is rounded before ranking, with the candidate id as a
      total-order tiebreak, so ranking is reproducible across engines.
    """
    probes = emb
    if probe_pred:
        # Filter BEFORE renaming: rewriting the predicate by substring
        # replacement would corrupt identifiers containing id_col.
        probes = probes.where(F.expr(probe_pred))
    probes = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).alias("vec_p"),
    )
    cands = emb.select(
        F.col(id_col).alias("cand_id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).alias("vec_c"),
    )
    dot = F.expr(DOT_SQL.format(a="vec_p", b="vec_c"))
    pairs = (
        probes.join(cands, "blk")
        .where(F.col("probe_id") != F.col("cand_id"))
        .withColumn("sim", F.round(dot, round_digits))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select("probe_id", "cand_id", "sim", "rn")
    )


def cosine_near_pairs(
    emb: DataFrame,
    threshold: float = 0.8,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim >= threshold) within blocks.

    Since round 6 this delegates to the LOSSLESS metric-pruned generator
    (operators/cosine_pairs.py): identity contraction + triangle-inequality
    cell pruning + the same exact rounded-dot verify. Output is row-identical
    to the naive quadratic join below (`cosine_near_pairs_naive`, kept as the
    reference implementation) — certified per row by the unchanged oracles of
    every consumer and by `q_llm_dedup_cosine_lossless`'s global twin.
    """
    from join_example_spark.operators.cosine_pairs import cosine_lossless_pairs

    return cosine_lossless_pairs(
        emb,
        threshold=threshold,
        block_col=block_col,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
    )


def cosine_near_pairs_naive(
    emb: DataFrame,
    threshold: float = 0.8,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Naive quadratic within-block cosine pair join — the reference
    implementation `cosine_near_pairs` is certified against."""
    a = emb.select(
        F.col(id_col).alias("id_a"), F.col(block_col).alias("blk"), F.col(vec_col).alias("vec_a")
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(block_col).alias("blk"), F.col(vec_col).alias("vec_b")
    )
    dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(dot, round_digits))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def ivf_cells(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    nprobe: int = 1,
) -> DataFrame:
    """Deterministic IVF coarse quantization: ``(id, vec, cell)``.

    The ``n_centroids`` lowest-id vectors serve as centroids (no k-means
    randomness); assignment is argmax rounded-dot with centroid-id
    tiebreak. With ``nprobe > 1`` every vector is multi-assigned to its
    top-``nprobe`` cells (rows multiply accordingly) — the multi-probe /
    multi-assignment generalization; consumers joining two multi-assigned
    sides must de-duplicate pairs. At 100 TB: centroids broadcast,
    assignment is map-side — the shared front half of every IVF-bucketed
    operator (top-k search, cell-local dedup candidate generation).

    Plan shape (rewritten late round 5 to match ``imi_cells``): vectors
    are DROPPED before the per-vector top-``nprobe`` extraction — a
    narrow (id, cent_id, csim) hash aggregate with a sorted-slice, then
    one join-back of the vectors by id. The previous formulation ran a
    ROW_NUMBER window over the n·C cross-join WITH the vector column
    aboard, shuffling C× the corpus bytes and sorting wide rows; the
    narrow aggregate shuffles ~16-byte rows and the vectors exactly
    once. Selection semantics are bit-identical (reverse ascending
    (csim, -cent_id) == csim DESC, cent_id ASC), pinned by the unchanged
    oracles of every IVF-family query.
    """
    cents = (
        emb.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec"))
    )
    cdot = F.expr(DOT_SQL.format(a=vec_col, b="cvec"))
    narrow = emb.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("cent_id"),
        F.round(cdot, round_digits).alias("csim"),
    )
    top = F.slice(
        F.reverse(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("csim").alias("s"), (-F.col("cent_id")).alias("negc"))
                )
            )
        ),
        1,
        nprobe,
    )
    cells = (
        narrow.groupBy(id_col)
        .agg(top.alias("top"))
        .select(id_col, F.explode("top").alias("t"))
        .select(id_col, (-F.col("t.negc")).alias("cell"))
    )
    return cells.join(emb.select(id_col, vec_col), id_col).select(
        id_col, vec_col, "cell"
    )


#: Calibration of the adaptive IVF dial: the audited operating point is
#: nprobe=5 at C=45 (sf0.1 reps n=2000 — pair recall 0.85, SCALE.md §3.3),
#: i.e. a probed fraction of 5/45 of the coarse cells. A FIXED nprobe
#: probes a C⁻¹-shrinking fraction as the corpus grows, which is exactly
#: the measured recall collapse (0.85 at n=2k → 0.37 at n=128k, §3.7b).
NPROBE_FRAC = 5.0 / 45.0

#: The constant-fraction schedule's calibration anchor (sf0.1 reps n=2000 →
#: C=45) and the measured recall-decay exponent for the 0.85-target
#: schedule below (tools/calibrated_recall_sweep.py, round 8): recall at a
#: FIXED probed fraction RISES with n (0.85 at 2k → 0.995 at 16k → 1.0 at
#: 128k), so a target-recall deployment can shrink the fraction like
#: (n0/n)^0.28 and stay on target — measured landing points p=8 at n=16k
#: (recall 0.8508, 3.5× fewer work pairs than the constant-fraction p=15)
#: and p=13 at n=128k (recall 0.8847, 9.5× fewer than p=40). SCALE.md §3.11.
NPROBE_CALIB_N0 = 2025
NPROBE_RECALL_DECAY = 0.28

#: The 0.90-target schedule (round 9). A SINGLE power law cannot hit the
#: measured 0.90-band crossings at both tiers — the fraction decay
#: STEEPENS between them (anchor→16k fitted exponent ≈ 0.165, 16k→128k
#: ≈ 0.34) — so the calibrated form is a TWO-PIECE law, the same idiom as
#: the IMI knee: frac·(N0/n)^0.17 from the anchor to the 16k tier, then
#: ·(16000/n)^0.34 beyond. Both pieces land exactly on MEASURED sweep
#: rows (SCALE.md §3.11 table, deterministic protocol): p=10 at n=16k
#: (recall 0.9358, 100.9 M work pairs — 2.2× fewer than the recall-1.0
#: p=15) and p=14 at n=128k (recall 0.9121, 4.49 B — 8.2× fewer than
#: p=40). Dominance (0.85-schedule ≤ 0.90-schedule ≤ recall-1.0
#: schedule, all n) is ENFORCED by flooring the 0.90 fraction at the
#: 0.85 fraction — the raw two-piece law's steeper 0.34 tail crosses
#: below the 0.85 law near n ≈ 2.3M (ADVICE r9) — and pinned over a
#: 1..8M grid in tests/test_round9_ops.py.
NPROBE_RECALL_DECAY_90A = 0.17
NPROBE_RECALL_DECAY_90B = 0.34
NPROBE_CALIB_KNEE_N = 16000

#: The 0.95-target schedule (round 10, closing "0.95 remains uncalibrated
#: and still raises"). Same two-piece idiom; MEASURED 0.95-crossings from
#: tools/calibrated_recall_sweep.py this round: p=11 at n=16k (recall
#: 0.9642, 122.1 M work pairs — 1.86× fewer than the recall-1.0 p=15) and
#: p=16 at n=128k (0.9515, 5.86 B — 6.2× fewer than p=40). Exponents are
#: fitted so ceil(frac·C) lands EXACTLY on both measured rows (0.125
#: anchor→knee, 0.33 beyond). Dominance (p85 ≤ p90 ≤ p95 ≤ default) is
#: enforced by flooring the 0.95 fraction at the FINAL 0.90 schedule
#: (itself floored at 0.85): the raw 0.33 tail crosses below the 0.85 law
#: near n ≈ 10M — same crossover class the 0.90 notch hit (ADVICE r9).
#: Pinned over a 1..8M grid in tests/test_round10_ops.py.
NPROBE_RECALL_DECAY_95A = 0.125
NPROBE_RECALL_DECAY_95B = 0.33

#: Margin-mining screen symmetrization (round 10). The round-9 screen was
#: ASYMMETRIC: probes multi-probe p cells but each corpus candidate was
#: findable only through its single home cell, so accept recall was capped
#: by P(candidate's home cell ∈ probe's top-p) — measured 0.656 at the 64×
#: tier (p=40/C=358) with EVERY miss a best-dropped case whose screen
#: margin collapsed into the near-tie band (SCALE.md §3.13 gray-zone probe:
#: eps-widened gates are empirically blind there — reaching 0.85 recall by
#: gate-widening alone needs ~60% of probes escalated ≈ half the flat
#: scan). Multi-assigning the CORPUS side to its top-q cells gives each
#: top-2 member q chances to intersect the probe window; the measured 64×
#: frontier (SCALE.md §3.13 rule-C sweep, flat-truth ground truth,
#: candidate volume ∝ q·p): (q=1,p=40) 0.656 → (q=3,p=27) 0.906 →
#: (q=4,p=20) 0.922 at MATCHED ~2× volume → (q=3,p=40) 0.969 at 3× —
#: balanced q·p beats raw p at matched volume (raw p=40→80 extrapolates
#: ~0.75; measured (q=2,p=40) 0.844). Shipped operating point: q=4 with
#: the probe dial HALVED (margin_screen_dials below) — volume 4·p/2 = 2×
#: the round-9 screen, accept recall 0.656→0.922 (default) at the 64×
#: tier. Pairs meeting in up to q cells are de-duplicated (MAX over
#: identical rounded sims) before the top-2 window.
MARGIN_CORPUS_ASSIGN = 4

#: Gray-zone escalation thresholds for the margin miner's verify stage
#: (round 10, VERDICT r9 task #2): probes whose SCREEN estimates land
#: within eps=0.01 of the acceptance thresholds (margin ≥ 0.05, best ≥
#: 0.3) are routed through the exact full-corpus rescan alongside the
#: tentative accepts, so a borderline screen estimate can never silently
#: drop a true accept whose screen margin deflated just under the gate.
#: Written as LITERALS (0.05 − 0.01 and 0.3 − 0.01 computed in IEEE are
#: 0.040000000000000001-class values; the literals 0.04/0.29 parse to the
#: same double in Spark and DuckDB, which is what the oracle twin needs).
#: Measured at the 64× tier: widens the escalated set from ~3.5% to ~7-9%
#: of probes (verify volume stays |escalated|·n ≪ screen volume) and is
#: monotone — recall can only rise. The honest caveat stays measured: on
#: the isotropic fixture most best-dropped misses collapse DEEPER than any
#: affordable eps (SCALE.md §3.13 eps-tables); the symmetrized
#: screen above, not this guard, is what recovers them.
MARGIN_ESC_MARGIN = 0.04
MARGIN_ESC_FLOOR = 0.29


def adaptive_nprobe(
    n_reps: int,
    floor: int = 5,
    frac: float = NPROBE_FRAC,
    target_recall: float | None = None,
) -> int:
    """Derive the multi-probe dial from the observed rep count.

    Default (``target_recall=None``) holds the PROBED FRACTION of coarse
    cells constant at the audited operating point: with C = ⌈√n⌉
    centroids, ``nprobe = max(floor, ⌈frac·C⌉)`` — 5 at every fixture SF
    (n ≤ 2000, bit-identical plans and costs to the previously shipped
    constant), growing like √·√n beyond it (40 at n=128k, where the fixed
    dial's recall fell to 0.37; measured with the derived dial in SCALE.md
    §3.10). Candidate work stays at the same order, n²·p²/(2C) =
    n^1.5·frac²/2 · √n → the n^1.5-scaling generator the family already
    budgets for, now with n-independent recall instead of n-independent
    probe count. The ``floor`` keeps small corpora at the audited minimum
    rather than letting ⌈frac·C⌉ drop below the calibrated point.

    ``target_recall=0.85`` is the CALIBRATED deployment schedule (round 8,
    closing SCALE.md §3.10's note that constant fraction OVERSHOOTS to
    recall ≈ 1.0 at scale while paying the full Θ(n^1.5·frac²) candidate
    budget): recall at fixed fraction rises with n, so the fraction is
    decayed as ``frac·(N0/n)^0.28`` past the calibration anchor — measured
    recall 0.8508 / 0.8847 at the 16k / 128k tiers with 3.5× / 9.5× fewer
    candidate pairs than the constant-fraction schedule (SCALE.md §3.11;
    tools/calibrated_recall_sweep.py reproduces).

    ``target_recall=0.90`` (round 9) is a TWO-PIECE law — the measured
    decay steepens between the tiers, so a single exponent cannot land
    in-band at both (see NPROBE_RECALL_DECAY_90A/B above): landing points
    p=10 at n=16k (measured recall 0.9358) and p=14 at n=128k (0.9121),
    both MEASURED rows of the deterministic round-8 sweep.

    ``target_recall=0.95`` (round 10) completes the notch set with the
    same two-piece idiom: landing points p=11 at n=16k (measured recall
    0.9642) and p=16 at n=128k (0.9515) — see NPROBE_RECALL_DECAY_95A/B.
    All three notches are dominance-floored (p85 ≤ p90 ≤ p95 ≤ the
    recall-1.0 default for every n). Other targets raise until swept. At
    fixture SFs the floor keeps every schedule identical (nprobe=5), so
    declared-query plans and oracles are unchanged.
    """
    import math as _math

    def _two_piece(frac0: float, decay_a: float, decay_b: float) -> float:
        f = frac0
        if n_reps > NPROBE_CALIB_N0:
            f = f * (
                NPROBE_CALIB_N0 / min(n_reps, NPROBE_CALIB_KNEE_N)
            ) ** decay_a
        if n_reps > NPROBE_CALIB_KNEE_N:
            f = f * (NPROBE_CALIB_KNEE_N / n_reps) ** decay_b
        return f

    def _frac85(frac0: float) -> float:
        f = frac0
        if n_reps > NPROBE_CALIB_N0:
            f = f * (NPROBE_CALIB_N0 / n_reps) ** NPROBE_RECALL_DECAY
        return f

    def _frac90(frac0: float) -> float:
        # Dominance floor: the 0.90 piece-B exponent (0.34) is steeper
        # than the 0.85 law's 0.28, so unfloored the two curves CROSS
        # near n ≈ 2.3M and a caller asking for HIGHER recall would
        # probe FEWER cells (e.g. n=4M: 24 vs 27). Past the calibrated
        # range the 0.85 schedule is the better-grounded lower bound —
        # take the max of the fractions so p85 ≤ p90 holds for ALL n
        # (pinned to 8M in tests/test_round9_ops.py).
        return max(
            _two_piece(frac0, NPROBE_RECALL_DECAY_90A, NPROBE_RECALL_DECAY_90B),
            _frac85(frac0),
        )

    if target_recall is not None:
        if abs(target_recall - 0.85) < 1e-9:
            frac = _frac85(frac)
        elif abs(target_recall - 0.90) < 1e-9:
            frac = _frac90(frac)
        elif abs(target_recall - 0.95) < 1e-9:
            # Same dominance idiom one notch up: the raw 0.33 tail crosses
            # below the 0.85 law near n ≈ 10M, so floor at the FINAL 0.90
            # schedule (p85 ≤ p90 ≤ p95 for all n; round-10 pin).
            frac = max(
                _two_piece(
                    frac, NPROBE_RECALL_DECAY_95A, NPROBE_RECALL_DECAY_95B
                ),
                _frac90(frac),
            )
        else:
            raise ValueError(
                "only target_recall in {0.85, 0.90, 0.95} is calibrated "
                "(sweep in tools/calibrated_recall_sweep.py before "
                "shipping others)"
            )
    c = int(_math.ceil(_math.sqrt(max(n_reps, 1))))
    return max(floor, int(_math.ceil(frac * c)))


def margin_screen_dials(
    n_reps: int,
    floor: int = 5,
    target_recall: float | None = None,
) -> tuple[int, int]:
    """The margin-mining family's symmetrized screen dials ``(q, p)``:
    corpus multi-assign q = MARGIN_CORPUS_ASSIGN (4) and probe dial
    p = max(floor, ⌈adaptive_nprobe(n[, target]) / 2⌉) — half the
    calibrated schedule's probe budget moved to the corpus side, keeping
    candidate volume at q·p ≈ 2× the round-9 asymmetric screen while the
    measured accept recall rises 0.656 → 0.922 (default dial) at the 64×
    tier (see MARGIN_CORPUS_ASSIGN above; SCALE.md §3.13).
    The floor keeps every fixture SF at the audited p=5, so fixture plans
    differ from round 9 only by the corpus-side multi-assign (arn ≤ 4 in
    the oracle twin) and the pair de-duplication it requires.
    """
    import math as _math

    p = adaptive_nprobe(n_reps, floor=floor, target_recall=target_recall)
    return MARGIN_CORPUS_ASSIGN, max(floor, int(_math.ceil(p / 2)))


def ivf_candidate_pairs(
    emb: DataFrame,
    n_centroids: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    dedup: bool = True,
) -> DataFrame:
    """Multi-probe IVF candidate pairs: ``(id_a, id_b, vec_a, vec_b)`` for
    every a < b sharing at least one of their top-``nprobe`` cells.

    The sub-quadratic candidate generator for similarity/dedup: expected
    pair work is ~n²·p²/(2C) — with C = ceil(sqrt(n)) centroids that is
    n^1.5·p², versus n² for any fixed blocking. ``nprobe`` is the
    recall-vs-cost dial (measured curve in SCALE.md §3.3); with
    ``dedup=True`` (default) pairs are de-duplicated because both sides
    are multi-assigned — a pair can meet in up to nprobe shared cells.

    ``dedup=False`` skips that de-duplication SHUFFLE of wide
    (vectors-carrying) rows. Correct whenever the consumer is itself
    multiplicity-insensitive — e.g. edges feeding connected components
    (the contraction applies ``distinct()`` on the narrow (u, v) pairs) —
    or applies its own dedup AFTER a selective filter, when the rows left
    to dedup are a few hundred instead of the full candidate volume.
    Duplicate rows are exact duplicates (sim recomputation is
    deterministic), so thresholds filter them identically.
    """
    cells = ivf_cells(emb, n_centroids, id_col, vec_col, round_digits, nprobe=nprobe)
    a = cells.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "cell"
    )
    b = cells.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "cell"
    )
    pairs = _by_cell(a).join(_by_cell(b), "cell").where(F.col("id_a") < F.col("id_b"))
    if nprobe > 1 and dedup:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs.select("id_a", "id_b", "vec_a", "vec_b")


def ivf_int8_verified_edges(
    emb: DataFrame,
    n_centroids: int,
    nprobe: int = 5,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Multi-probe IVF candidate edges with a PROVABLY-LOSSLESS int8
    pre-filter: ``(id_a, id_b)`` pairs whose exact rounded dot meets
    ``threshold`` — bit-identical to filtering ``ivf_candidate_pairs``
    with the exact dot, but the n^1.5·p² candidate join carries 64-byte
    int8 codes instead of 256-byte float vectors, and the exact
    full-precision verify touches only the ~1% of candidates that survive
    an integer screen.

    Why int8 scalar quantization and NOT PQ-ADC here (the round-4 verdict
    suggested composing the existing 256×4×16 PQ codes): for UNIT vectors
    with per-component codes q_i = round(127·x_i),

        |dot(a,b) − dot(q_a,q_b)/127²| ≤ δ·(‖a‖₁ + ‖b‖₁ + 64δ),  δ = 1/254
                                       ≤ δ·(8 + 8 + 64δ) = 0.0640

    (‖x‖₁ ≤ √64·‖x‖₂ = 8) — a corpus-independent GUARANTEE, so the
    pre-filter ``qdot ≥ ⌊(threshold − ½·10^-r − 0.0640)·127²⌋`` can never
    drop a true edge (the ½·10^-r slack covers the exact verify's
    ROUND(dot, r) ≥ threshold acceptance of dots just under it). Measured
    on the fixture the real error is ≤ 0.016 (4× headroom) and the screen
    keeps ~1% of random pairs. PQ-ADC at the repo's certified 4×16
    geometry measures true-edge errors up to 0.57 on this near-isotropic
    corpus — composing it as a pre-filter would LOSE most edges at any
    selective margin, so the verdict's "identical output" requirement is
    unsatisfiable via PQ here (measurement recorded in SCALE.md §3.4).

    The certificate is TWO-sided, which is what keeps the adversarial
    duplicate-saturated case cheap: with hi = ⌈(threshold + ½·10^-r +
    0.0640)·127²⌉, a pair with qdot ≥ hi is PROVABLY an edge (its exact
    dot is ≥ threshold by the same bound) and is emitted with NO exact
    verify at all — on a near-dup-saturated corpus (sim ≈ 1 pairs — the
    8× stress probe's construction) virtually every candidate certifies
    directly and the expensive path is never taken. Only the thin
    uncertainty band lo ≤ qdot < hi (exact sims within ±0.064 of the
    threshold — ~1-2% of random pairs, measured) re-joins the full
    vectors BY ID for the exact rounded dot.

    The integer fold (Σ q_a·q_b ≤ 64·127² < 2³¹) is exact arithmetic —
    no float-order or cross-engine concern. At 100 TB: assignment
    map-side (broadcast centroids), one cell-key shuffle of (id, 64B
    codes), and an id-co-partitioned fetch of band-pair vectors.

    STATUS (round-5 measurement, SCALE.md §3.4): NOT the local default.
    Spark evaluates higher-order folds interpreted (outside whole-stage
    codegen), and the int fold measures ~1.2 µs/pair vs ~0.65 µs/pair for
    the double fold in the cell-join context — on local[32], where
    shuffle bytes are free and CPU is the bottleneck, this screen COSTS
    ~2× despite doing less arithmetic. Its narrow-shuffle advantage
    (64 B codes vs 256 B vectors through the n^1.5·p² candidate join)
    pays only on shuffle-bound clusters; the shipped default for the
    semantic-dedup family is :func:`identity_contracted_semantic_edges`.
    Kept certified (edge-set equality + bound audit in
    tests/test_round5_ops.py) as the declared cluster-shuffle variant.
    """
    import math as _math

    delta = 1.0 / 254.0
    bound = delta * (16.0 + 64.0 * delta)
    slack = 0.5 * 10.0 ** (-round_digits)
    qlo = int(_math.floor((threshold - slack - bound) * 127 * 127))
    qhi = int(_math.ceil((threshold + slack + bound) * 127 * 127))
    qcode = F.expr(
        f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * 127.0D) AS TINYINT))"
    )
    cells = ivf_cells(emb, n_centroids, id_col, vec_col, round_digits, nprobe=nprobe)
    qa = cells.select(F.col(id_col).alias("id_a"), qcode.alias("qv_a"), "cell")
    qb = cells.select(F.col(id_col).alias("id_b"), qcode.alias("qv_b"), "cell")
    qdot = F.expr(
        "aggregate(zip_with(qv_a, qv_b, (x, y) -> CAST(x AS INT) * CAST(y AS INT)),"
        " 0, (acc, v) -> acc + v)"
    )
    screened = (
        _by_cell(qa).join(_by_cell(qb), "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("qdot", qdot)
        .where(F.col("qdot") >= F.lit(qlo))
        # multiplicity ≤ nprobe exact-duplicate rows per pair (qdot is a
        # pure function of the pair, so copies land in the same branch);
        # dedup HERE, after the screen, on narrow (id, id, int) rows.
        .select("id_a", "id_b", "qdot")
        .dropDuplicates(["id_a", "id_b"])
    )
    # ONE linear plan: splitting certain/band into two branches would make
    # Spark execute the whole cell-join + integer screen TWICE (measured
    # 71 s vs 44 s at the 8× tier). Instead every screened pair fetches its
    # vectors by id and the OR predicate short-circuits: a certified pair
    # (qdot ≥ hi) never evaluates the exact fold; only the thin band does.
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
    return (
        screened.join(va, "id_a")
        .join(vb, "id_b")
        .where(
            (F.col("qdot") >= F.lit(qhi))
            | (F.round(dot, round_digits) >= F.lit(threshold))
        )
        .select("id_a", "id_b")
    )


def _by_cell(df: DataFrame, key: str = "cell") -> DataFrame:
    """Pin a pair-generating join's exchange at the session's shuffle
    parallelism, exempting it from AQE partition coalescing.

    AQE coalesces post-shuffle partitions by INPUT BYTES; an IVF cell
    join's input is tiny (ids + 64-float vectors) but its output is
    quadratic in rows-per-cell, so bytes-based coalescing collapses the
    pair generation onto 1-2 cores — measured 17.6 s vs 3.2 s on the
    8×-tier decontamination join (SCALE.md §3.4). An explicit
    ``repartition(n, key)`` is respected by AQE, and with both join
    sides pre-partitioned identically the join adds no further
    exchange. At 100 TB this constant is the knob you would tune anyway:
    pair-join exchanges must be sized by downstream fan-out, which only
    the author knows, not by input bytes, which is all AQE can see.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n, key)


def identity_reps(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Distinct-vector representatives: one row per bit-identical vector
    group, keyed by the group's lowest id (``(id_col, vec_col)``, where
    ``id_col`` is the group's MIN id). HASH aggregate on the vector bytes
    — deliberately NOT ``MIN(id) OVER (PARTITION BY vec)``: a window
    partitioned by an array column SORTS wide rows with an interpreted
    array comparator (measured ~7× slower per evaluation at the 8× tier);
    the hash aggregate never sorts. The building block of every
    identity-contracted operator."""
    return (
        df.groupBy(vec_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, vec_col)
    )


def identity_contracted_semantic_edges(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Semantic-dedup edge generation with EXACT-IDENTITY CONTRACTION —
    the production composition (exact dedup always runs before near-dedup):

    1. bit-identical vectors collapse to their lowest-id representative
       (one hash shuffle on the vector bytes; gid = MIN(id) per group);
    2. multi-probe IVF candidates + exact rounded-dot verify run over the
       DISTINCT representatives only — on a duplicate-saturated corpus
       (the 8× stress probe: 8 exact copies of everything) this collapses
       the n^1.5·p² candidate volume by the duplication factor^1.5, and on
       an organic corpus it costs one extra linear shuffle;
    3. identity edges (gid → member) reconnect every duplicate to its
       representative, so the connected components over
       ``rep_edges ∪ identity_edges`` equal the components the same
       IVF/verify would produce over the expanded corpus: identical
       vectors have identical dots, hence identical neighborhoods.

    Centroids derive from the representatives (⌈√n_reps⌉ lowest-id reps) —
    on saturated corpora this also REPAIRS the coarse quantizer, which
    would otherwise waste centroid slots on duplicates of the same point.
    Returns ``(id_a, id_b)`` edges ready for star contraction.
    """
    import math as _math

    # ONE evaluation of the contraction: downstream the mapping feeds the
    # candidate join twice, the centroid limit, the quantizer-sizing count
    # and the identity edges — without the eager checkpoint Spark would
    # re-run the contraction five times (measured +5 s at sf0.1). Same
    # executor-side materialization pattern as the star-contraction CC;
    # at cluster scale this is the persisted distinct-vector table every
    # production dedup pipeline maintains anyway. Hash-aggregate + join-
    # back, not a window over the array column (see identity_reps).
    grp = emb.groupBy(vec_col).agg(F.min(id_col).alias("gid"))
    # LAZY checkpoint materialized by the quantizer-sizing count just
    # below (round 16, the round-8 job-fold pattern: eager-checkpoint +
    # count was TWO driver-synchronized jobs; the count action references
    # g exactly once, so it materializes the checkpoint itself — one job).
    g = (
        emb.select(F.col(id_col), F.col(vec_col))
        .join(grp, vec_col)
        .localCheckpoint(eager=False)
    )
    reps = g.where(F.col(id_col) == F.col("gid")).select(id_col, vec_col)
    # Scalar plan-build action (sizes the coarse quantizer), same class as
    # the other √n operators — also materializes g for the four downstream
    # references (candidate join ×2, centroid limit, identity edges).
    n_reps = reps.count()
    n_centroids = int(_math.ceil(_math.sqrt(max(n_reps, 1))))
    # The probe dial derives from the rep count — constant probed
    # fraction, so recall does not decay with n (SCALE.md §3.10); it is 5
    # at every fixture SF (n_reps ≤ 2000), which the oracles hardcode.
    nprobe = adaptive_nprobe(n_reps)
    # FOLD verify, on measurement (round-7 controlled A/B, 3 alternating
    # process pairs): the unrolled 64-dim dot LOST 0.8-1.1 s here — its
    # ~4× bigger tree inflates plan/codegen cost across the join-filter
    # stages faster than 1-2M folds recoup, unlike the PQ assignment's
    # 16-dim project→agg shape where the unroll wins 2.5-3.5 s.
    dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
    rep_edges = (
        ivf_candidate_pairs(
            reps, n_centroids=n_centroids, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col, round_digits=round_digits,
            dedup=False,
        )
        .withColumn("sim", F.round(dot, round_digits))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b")
    )
    identity_edges = g.where(F.col(id_col) != F.col("gid")).select(
        F.col("gid").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return rep_edges.unionByName(identity_edges)


def ivf_topk(
    emb: DataFrame,
    n_centroids: int = 16,
    k: int = 3,
    probe_pred: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    nprobe: int = 1,
    corpus_assign: int = 1,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize every vector to
    its nearest centroid cell, then search the probe's top-``nprobe`` cells
    (with the default ``corpus_assign=1``, candidates live in their single
    home cell, so each (probe, candidate) pair is generated at most once —
    no dedup needed).

    The coarse quantizer is deterministic — the ``n_centroids`` lowest-id
    vectors serve as centroids (no k-means randomness), assignment ties break
    by centroid id; probe cells are ranked the same way. At 100 TB: centroids
    broadcast (tiny), assignment is a map-side broadcast join + per-vector
    argmax, and the search join shuffles both sides once on the cell key —
    the classic IVF cost shape (n·C map work + nprobe/C of the candidate
    scan, never all-pairs). ``nprobe`` is the recall dial measured by
    ``q_llm_ann_recall`` / ``q_llm_ann_recall_nprobe``.

    ``corpus_assign > 1`` (round 11, OPT-IN) symmetrizes the screen: the
    corpus side is multi-assigned to its top-``corpus_assign`` cells — the
    round-10 margin-screen geometry (SCALE.md §3.13) applied to plain
    search, measured for top-k in §3.14: (q=4, p=20) beats (q=1, p=40) by
    +4.6 pp top-1 recall at matched candidate volume on the 64× tier.
    A pair can then surface through several shared cells, so pairs are
    deduped (exact dots are equal across copies; the reported cell is the
    MIN shared cell for determinism) — one extra narrow shuffle keyed by
    (probe, cand). Index storage grows ×q; assignment compute does not
    (same n·C scan). Default 1 leaves the declared queries' plans
    byte-identical — their driver-green oracles pin the asymmetric
    operating points, and §3.14's +5 pp does not justify re-proving the
    search family; the q>1 path is pinned by a brute-force-complete unit
    test instead (tests/test_round11_ops.py).
    """
    if probe_pred is None:
        probe_pred = f"{id_col} % 100 = 0"
    cands = ivf_cells(
        emb, n_centroids, id_col, vec_col, round_digits, nprobe=corpus_assign
    ).select(
        F.col(id_col).alias("cand_id"), F.col("cell"), F.col(vec_col).alias("vec_c")
    )
    probes = (
        ivf_cells(emb, n_centroids, id_col, vec_col, round_digits, nprobe=nprobe)
        .where(F.expr(probe_pred))
        .select(F.col(id_col).alias("probe_id"), F.col("cell"), F.col(vec_col).alias("vec_p"))
    )
    dot = F.expr(DOT_SQL.format(a="vec_p", b="vec_c"))
    pairs = (
        _by_cell(probes).join(_by_cell(cands), "cell")
        .where(F.col("probe_id") != F.col("cand_id"))
        .withColumn("sim", F.round(dot, round_digits))
    )
    if corpus_assign > 1:
        pairs = pairs.groupBy("probe_id", "cand_id").agg(
            F.min("cell").alias("cell"), F.max("sim").alias("sim")
        )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select("probe_id", F.col("cell").cast("bigint").alias("cell"), "cand_id", "sim", "rn")
    )


#: Composite-cell encoding base for the inverted multi-index: cell =
#: idx1 * _IMI_BASE + idx2 with 1-based per-half centroid indexes, so
#: c_per_half must stay < _IMI_BASE.
_IMI_BASE = 1024


#: IMI dial calibration: the shipped audited operating point is
#: (nprobe_half=4, nprobe_cells=8) at c_per_half(2000)=13 — 8 of the 169
#: product cells probed (4.7%). §3.7b measured the FIXED (4, 8) dial's
#: probed fraction shrinking as C⁻² ∝ n^(-2/3), with recall falling
#: faster than flat IVF's (0.21 at n=128k).
IMI_T_FRAC = 8.0 / 169.0

#: Calibrated 0.85-target schedule for the IMI beam (round 8,
#: tools/calibrated_recall_sweep.py in SPARK_GRAFT_SWEEP_IMI_TS mode):
#: unlike flat IVF — whose constant-fraction recall overshoots already at
#: 16k (0.995) — the product index's constant-fraction recall is still
#: IN-BAND at 16k (T=32 → 0.9396) and only overshoots by 128k (T=124 →
#: 0.9975 at 49.6 B work pairs). So the calibrated schedule is a KNEE law:
#: constant fraction up to the measured in-band tier (n=16k), decaying as
#: (16000/n)^0.434 beyond it — landing exactly on the measured T=50 at
#: n=128k (recall 0.9054, 5.9× fewer work pairs than T=124). SCALE.md §3.11b.
IMI_CALIB_KNEE_N = 16000
IMI_RECALL_DECAY = 0.434

#: Calibrated 0.95-target schedule for the IMI beam (round 11, verdict
#: task 5 — same sweep-then-pin method as the IVF 0.95 notch). MEASURED
#: crossings (tools/calibrated_recall_sweep.py, IMI mode, T lists
#: 36,37,38,40 : 62,64,66,68): T=37 at 16k (recall 0.9719, 264.7 M work
#: pairs; T=36 → 0.9443 is below band) and T=66 at 128k (0.9574,
#: 14.38 B — 3.45× fewer than the recall-0.9975 constant-fraction
#: default's 49.6 B; T=64 → 0.9278 below). Same knee idiom as the
#: 0.85/0.90 line: constant fraction 0.0547 (chosen just under 37/676 so
#: ceil lands exactly on the measured T=37 without IEEE round-up) to
#: n=16k, then (16000/n)^0.373 — landing exactly on T=66 at 128k
#: (0.0547·8^-0.373·2601 = 65.51 → ceil 66, ±0.5 slack both sides).
#: HONEST NON-DOMINANCE vs the default: unlike flat IVF, the IMI default
#: is constant-fraction (NOT recall-1.0) and measures 0.9396 at 16k —
#: below a 0.95 target — so the 0.95 schedule sits ABOVE the default for
#: n ≲ 23.7k (T=37 > 32 at 16k; fixture n=2000 → T=10 > 8) and only
#: undercuts it beyond that crossover. T85 = T90 ≤ T95 holds for ALL n
#: (fraction ratio ≥ 1.156·(n/16k)^0.061 ≥ 1); pinned over a grid in
#: tests/test_round11_ops.py. Declared queries keep the default dials —
#: fixture plans and oracles unmoved.
IMI_CALIB_FRAC_95 = 0.0547
IMI_RECALL_DECAY_95 = 0.373


def adaptive_imi_dials(
    n_reps: int,
    t_floor: int = 8,
    p_floor: int = 4,
    frac: float = IMI_T_FRAC,
    target_recall: float | None = None,
) -> tuple[int, int]:
    """Derive the IMI dials ``(nprobe_half, nprobe_cells)`` from the
    observed rep count — the product-index twin of :func:`adaptive_nprobe`.

    Default holds the probed fraction of PRODUCT cells at the audited
    operating point: ``T = max(t_floor, ⌈frac·C²⌉)`` with C =
    ``imi_c_per_half(n)``, and ``p = max(p_floor, ⌈√T⌉)`` (the per-half
    beam must satisfy p² ≥ T for the top-T product selection to have T
    candidates). Equal to the shipped constants (4, 8) at every fixture SF
    (n ≤ 2000: identical plans, costs, oracles); at n=128k → (12, 124),
    where the fixed dial's pair recall fell to 0.21 (§3.7b). Measured with
    the derived dials in SCALE.md §3.10b.

    ``target_recall=0.85`` applies the calibrated KNEE schedule (see
    ``IMI_CALIB_KNEE_N``/``IMI_RECALL_DECAY`` above): identical to the
    default up to n=16k — where constant fraction is already in the
    [0.85, 0.95] band (measured 0.9396), so there is honestly nothing to
    save — then fraction-decayed to land on the measured (ceil(√50)=8 →
    p=8, T=50) point at n=128k: recall 0.9054 with 5.9× fewer candidate
    pairs than the recall-overshooting default (SCALE.md §3.11b).

    ``target_recall=0.90`` (round 9) maps to the SAME schedule: the 0.85
    knee law's measured landings — 0.9396 at 16k, 0.9054 at 128k — both
    already sit inside the [0.90, 0.95] band, so for this index the two
    targets are served by one measured operating line (the knee law
    cannot land lower without leaving the 0.90 band at 128k, nor higher
    without paying overshoot at 16k).

    ``target_recall=0.95`` (round 11) is its own measured knee — see
    ``IMI_CALIB_FRAC_95``/``IMI_RECALL_DECAY_95`` above: landings (7, 37)
    at 16k (recall 0.9719) and (9, 66) at 128k (0.9574). Note the honest
    non-dominance vs the DEFAULT dial at n ≲ 23.7k (the constant-fraction
    default under-shoots a 0.95 target there), documented at the
    constants. Only 0.85, 0.90 and 0.95 are calibrated; other targets
    raise.
    """
    import math as _math

    if target_recall is not None:
        if abs(target_recall - 0.95) < 1e-9:
            frac = IMI_CALIB_FRAC_95
            if n_reps > IMI_CALIB_KNEE_N:
                frac = frac * (IMI_CALIB_KNEE_N / n_reps) ** IMI_RECALL_DECAY_95
        elif abs(target_recall - 0.85) > 1e-9 and abs(target_recall - 0.90) > 1e-9:
            raise ValueError(
                "only target_recall in {0.85, 0.90, 0.95} is calibrated "
                "(sweep in tools/calibrated_recall_sweep.py before shipping "
                "others)"
            )
        elif n_reps > IMI_CALIB_KNEE_N:
            frac = frac * (IMI_CALIB_KNEE_N / n_reps) ** IMI_RECALL_DECAY
    c = imi_c_per_half(n_reps)
    t = max(t_floor, int(_math.ceil(frac * c * c)))
    p = max(p_floor, int(_math.ceil(_math.sqrt(t))))
    return p, t


def imi_c_per_half(n: int) -> int:
    """The IMI codebook sizing rule: the smallest integer C with C³ ≥ n
    (floored at 4) — i.e. ⌈∛n⌉ computed in EXACT integer arithmetic.
    Float ``pow(n, 1/3)`` is not correctly rounded (IEEE only guarantees
    sqrt), so ``ceil(pow(...))`` can disagree between engines at perfect
    cubes; oracles mirror this rule as
    ``GREATEST(4, (SELECT MIN(i) FROM range(1, 1025) t(i) WHERE i*i*i >= n))``."""
    c = 4
    while c * c * c < max(n, 1):
        c += 1
    return c


def imi_cells(
    emb: DataFrame,
    c_per_half: int = 16,
    nprobe_half: int = 1,
    nprobe_cells: int | None = None,
    half_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Inverted multi-index (IMI) coarse quantization: ``(id, vec, cell)``
    where ``cell`` encodes a PAIR of per-half centroid indexes — the
    second-order product quantizer of Babenko & Lempitsky's "The Inverted
    Multi-Index" (CVPR 2012), re-expressed as DataFrame ops.

    The vector splits into two ``half_dim`` halves, each quantized
    independently against its own ``c_per_half`` codebook (the lowest-id
    vectors' halves — deterministic, no k-means randomness; assignment is
    argmax rounded half-dot with centroid-id tiebreak). The product gives
    ``c_per_half²`` effective cells for only ``2·n·c_per_half`` assignment
    dots — quadratically cheaper than flat IVF, which pays ``n·K`` for
    ``K`` cells. That is the whole point: with ``C = ⌈∛n⌉`` per half the
    index yields ``n^(2/3)`` cells at ``O(n^(4/3))`` assignment cost, and
    cell-local pair generation is ``n²·T²/(2C²) = O(n^(4/3))`` too —
    strictly below IVF's Θ(n^1.5) barrier (SCALE.md §3.5).

    Multi-sequence probing: with ``nprobe_half = p`` each half
    contributes its top-``p`` centroids, and of the ``p²`` product cells
    the top-``nprobe_cells`` (ranked by ``s1 + s2`` desc, index tiebreak
    — the multi-sequence traversal order) are kept; ``None`` keeps the
    full product. Rows multiply accordingly, exactly like multi-probe
    ``ivf_cells``.

    Plan shape (one linear pass, no branch re-execution): the broadcast
    centroid cross-join is reduced per vector by a SINGLE hash aggregate
    that extracts both halves' top-p lists as sorted array slices —
    deliberately not two ROW_NUMBER windows feeding a self-join, which
    would execute the n·C assignment subplan twice (the round-5
    double-reference lesson, SCALE.md §3.4). Vectors are dropped before
    the aggregate and joined back by id, so the only wide shuffle is 1×
    the corpus, never C×.
    """
    if c_per_half >= _IMI_BASE:
        raise ValueError(f"c_per_half must be < {_IMI_BASE}")
    p = nprobe_half
    t = p * p if nprobe_cells is None else min(nprobe_cells, p * p)
    lo = F.expr(f"slice({vec_col}, 1, {half_dim})")
    hi = F.expr(f"slice({vec_col}, {half_dim + 1}, {half_dim})")
    w_idx = Window.orderBy("cent_id")  # C rows — single tiny partition.
    cents = (
        emb.orderBy(id_col)
        .limit(c_per_half)
        .select(F.col(id_col).alias("cent_id"), lo.alias("cv1"), hi.alias("cv2"))
        .withColumn("cidx", F.row_number().over(w_idx))
        .select("cidx", "cv1", "cv2")
    )
    # Halves are projected ONCE per vector before the centroid cross-join
    # (n slices, not n·C; the full vector never crosses the join), and the
    # unrolled DOT_SQL template requires plain column operands anyway.
    s1 = F.round(F.expr(DOT_SQL.format(a="_v1", b="cv1")), round_digits)
    s2 = F.round(F.expr(DOT_SQL.format(a="_v2", b="cv2")), round_digits)
    assign = (
        emb.select(F.col(id_col), lo.alias("_v1"), hi.alias("_v2"))
        .crossJoin(F.broadcast(cents))
        .select(F.col(id_col), F.col("cidx"), s1.alias("s1"), s2.alias("s2"))
    )
    # (s desc, cidx asc) == reverse of ascending (s, -cidx); avoids negated
    # double sort keys (-0.0 ordering is engine-delicate, ints are not).
    def top_list(s: str) -> F.Column:
        arr = F.reverse(
            F.array_sort(
                F.collect_list(F.struct(F.col(s).alias("s"), (-F.col("cidx")).alias("negc")))
            )
        )
        return F.slice(arr, 1, p)

    tops = assign.groupBy(id_col).agg(
        top_list("s1").alias("t1"), top_list("s2").alias("t2")
    )
    prod = (
        tops.select(id_col, F.explode("t1").alias("h1"), "t2")
        .select(id_col, "h1", F.explode("t2").alias("h2"))
        .select(
            id_col,
            (-F.col("h1.negc")).alias("c1"),
            (-F.col("h2.negc")).alias("c2"),
            (F.col("h1.s") + F.col("h2.s")).alias("score"),
        )
    )
    w_seq = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("c1"), F.col("c2")
    )
    cells = (
        prod.withColumn("prn", F.row_number().over(w_seq))
        .where(F.col("prn") <= t)
        .select(
            id_col,
            (F.col("c1").cast("bigint") * _IMI_BASE + F.col("c2")).alias("cell"),
        )
    )
    return cells.join(emb.select(id_col, vec_col), id_col).select(
        id_col, vec_col, "cell"
    )


def imi_candidate_pairs(
    emb: DataFrame,
    c_per_half: int,
    nprobe_half: int = 4,
    nprobe_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    dedup: bool = True,
) -> DataFrame:
    """IMI candidate pairs ``(id_a, id_b, vec_a, vec_b)``: every a < b
    sharing at least one of their top-``nprobe_cells`` multi-sequence
    product cells. The sub-n^1.5 sibling of :func:`ivf_candidate_pairs`:
    at ``c_per_half = ⌈∛n⌉`` both the assignment and the expected pair
    volume are O(n^(4/3)) (math in :func:`imi_cells`), and the measured
    recall/candidate frontier matches flat IVF's at the mid-range
    operating points (SCALE.md §3.5). ``dedup=False`` has the same
    contract as in :func:`ivf_candidate_pairs` — skip the wide dedup
    shuffle when the consumer is multiplicity-insensitive."""
    cells = imi_cells(
        emb, c_per_half, nprobe_half, nprobe_cells,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
    )
    a = cells.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "cell")
    b = cells.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "cell")
    pairs = _by_cell(a).join(_by_cell(b), "cell").where(F.col("id_a") < F.col("id_b"))
    if dedup:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs.select("id_a", "id_b", "vec_a", "vec_b")


def imi_topk(
    emb: DataFrame,
    c_per_half: int = 16,
    k: int = 3,
    probe_pred: str | None = None,
    nprobe_half: int = 2,
    nprobe_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """IMI approximate top-k: candidates live in their single home product
    cell; each probe searches its top ``nprobe_cells`` (default: the full
    ``nprobe_half²`` product) multi-sequence cells. Candidates are
    single-assigned so each (probe, candidate) pair arises at most once —
    no dedup needed, exactly like :func:`ivf_topk`. Same output schema
    ``(probe_id, cell, cand_id, sim, rn)``."""
    if probe_pred is None:
        probe_pred = f"{id_col} % 100 = 0"
    cands = imi_cells(
        emb, c_per_half, id_col=id_col, vec_col=vec_col, round_digits=round_digits
    ).select(F.col(id_col).alias("cand_id"), F.col("cell"), F.col(vec_col).alias("vec_c"))
    probes = (
        imi_cells(
            emb, c_per_half, nprobe_half, nprobe_cells,
            id_col=id_col, vec_col=vec_col, round_digits=round_digits,
        )
        .where(F.expr(probe_pred))
        .select(F.col(id_col).alias("probe_id"), F.col("cell"), F.col(vec_col).alias("vec_p"))
    )
    dot = F.expr(DOT_SQL.format(a="vec_p", b="vec_c"))
    pairs = (
        _by_cell(probes).join(_by_cell(cands), "cell")
        .where(F.col("probe_id") != F.col("cand_id"))
        .withColumn("sim", F.round(dot, round_digits))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select("probe_id", F.col("cell").cast("bigint").alias("cell"), "cand_id", "sim", "rn")
    )


def pq_codebook_subs(
    emb: DataFrame,
    n_codes: int = 256,
    n_sub: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic product-quantization codebook: ``(code, sub, cb_sub)``.

    The ``n_codes`` lowest-id vectors supply the codebook (same no-RNG
    quantizer convention as :func:`ivf_cells`); each is sliced into
    ``n_sub`` contiguous ``sub_dim``-dim subvectors, and ``code`` is the
    dense 0-based rank by id (so codes pack into ``log2(n_codes)`` bits).
    Default config is the canonical PQ operating point (256 codes = 8
    bits per subspace; 4 subspaces → one 32-bit word per vector). The
    whole codebook is n_codes × n_sub rows — broadcast everywhere.
    """
    w = Window.orderBy(id_col)
    cb = (
        emb.orderBy(id_col)
        .limit(n_codes)
        .withColumn("code", F.row_number().over(w) - 1)
        .select("code", F.col(vec_col).alias("cvec"))
    )
    return cb.select(
        "code", F.explode(F.expr(f"sequence(0, {n_sub - 1})")).alias("sub"), "cvec"
    ).select(
        "code",
        "sub",
        F.expr(f"slice(cvec, sub * {sub_dim} + 1, {sub_dim})").alias("cb_sub"),
    )


def pq_assignments(
    emb: DataFrame,
    n_codes: int = 256,
    n_sub: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    codebook_subs: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization code assignment: ``(id, sub, code, d2r)`` — for
    every vector and every subspace, the nearest codebook entry by rounded
    squared L2 (code-id tiebreak) plus that rounded distance.

    The scale shape: the codebook (n_codes × n_sub rows) broadcasts; the
    n × n_sub × n_codes distance evaluation is map-side; the argmin is a
    ``MIN(STRUCT(d2r, code))`` partial-aggregated groupBy — one shuffle of
    (id, sub)-keyed partial minima, no window sort. PQ codes compress each
    vector to n_sub·log2(n_codes) bits (64-dim float32 → 32 bits at the
    default 4×8-bit config, a 64× memory cut), which is what makes
    billion-vector candidate scans RAM-resident at 100 TB.

    ``codebook_subs``: pass a codebook built elsewhere (e.g. from the FULL
    corpus) to encode a subset of vectors against it — without this, the
    codebook derives from ``emb`` itself, which is wrong for subsets.
    """
    cbs = (
        codebook_subs
        if codebook_subs is not None
        else pq_codebook_subs(emb, n_codes, n_sub, sub_dim, id_col, vec_col)
    )
    vs = emb.select(
        F.col(id_col), F.explode(F.expr(f"sequence(0, {n_sub - 1})")).alias("sub"), F.col(vec_col)
    ).select(
        id_col,
        "sub",
        F.expr(f"slice({vec_col}, sub * {sub_dim} + 1, {sub_dim})").alias("v_sub"),
    )
    # Unrolled-codegen distance: n·n_sub·n_codes folds is THE dominant cost
    # of every PQ consumer (~2M+ per query at sf0.1) — the measured case
    # where the unroll's per-stage compile cost pays for itself 3-5x over
    # (SCALE.md §3.10). Bit-identical to D2_SQL (guarded, fold fallback).
    d2 = F.expr(d2_sql_for(sub_dim).format(a="v_sub", b="cb_sub"))
    return (
        vs.join(F.broadcast(cbs), "sub")
        .withColumn("d2r", F.round(d2, round_digits))
        .groupBy(id_col, "sub")
        .agg(F.min(F.struct(F.col("d2r"), F.col("code"))).alias("m"))
        .select(
            F.col(id_col),
            "sub",
            F.col("m.code").alias("code"),
            F.col("m.d2r").alias("d2r"),
        )
    )


def pq_adc_topk(
    emb: DataFrame,
    k: int = 3,
    n_codes: int = 256,
    n_sub: int = 4,
    sub_dim: int = 16,
    probe_pred: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: probes stay full
    precision, candidates are represented ONLY by their PQ codes.

    The classic PQ search shape (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011), expressed relationally:

    1. per probe, a lookup table LUT(probe, sub, code) = rounded dot of the
       probe's subvector with each codebook entry — n_probes × n_sub ×
       n_codes tiny rows, broadcastable;
    2. the candidate side joins its (sub, code) assignments to the LUT and
       partial-agg SUMs the n_sub parts per (probe, candidate) — the scan
       touches only the 32-bit code table, never the raw vectors.

    The decimal-bridged sum of rounded parts makes adc_sim bit-stable under
    any partition order. Approximation error vs the exact dot is exactly
    the PQ reconstruction error — audited by ``q_llm_pq_quantize``.
    """
    if probe_pred is None:
        probe_pred = f"{id_col} % 100 = 0"
    cbs = pq_codebook_subs(emb, n_codes, n_sub, sub_dim, id_col, vec_col)
    probes = emb.where(F.expr(probe_pred)).select(
        F.col(id_col).alias("probe_id"),
        F.explode(F.expr(f"sequence(0, {n_sub - 1})")).alias("sub"),
        F.col(vec_col),
    ).select(
        "probe_id",
        "sub",
        F.expr(f"slice({vec_col}, sub * {sub_dim} + 1, {sub_dim})").alias("p_sub"),
    )
    pdot = F.expr(DOT_SQL.format(a="p_sub", b="cb_sub"))
    lut = (
        probes.join(F.broadcast(cbs), "sub")
        .withColumn("part", F.round(pdot, round_digits))
        .select("probe_id", "sub", "code", "part")
    )
    cand = pq_assignments(
        emb, n_codes, n_sub, sub_dim, id_col, vec_col, round_digits
    ).select(F.col(id_col).alias("cand_id"), "sub", "code")
    scored = (
        cand.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("probe_id") != F.col("cand_id"))
        .groupBy("probe_id", "cand_id")
        .agg(
            F.expr("CAST(SUM(CAST(part AS DECIMAL(25,6))) AS DOUBLE)").alias("adc_sim")
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("adc_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select("probe_id", "cand_id", "adc_sim", "rn")
    )


def _pq_score_shortlist_rerank(
    emb: DataFrame,
    cand_ids: DataFrame,
    k: int,
    shortlist: int,
    n_codes: int,
    n_sub: int,
    sub_dim: int,
    probe_pred: str,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """Shared back half of the coarse-quantizer + PQ search stacks
    (`ivfpq_topk`, `imipq_topk`): given (probe_id, cand_id) pairs from
    ANY cell restriction, ADC-score candidates from their PQ codes via
    the probes' broadcast LUT, exact-re-rank the per-probe shortlist,
    and return the top-k with exact sims."""
    cbs = pq_codebook_subs(emb, n_codes, n_sub, sub_dim, id_col, vec_col)
    probes_sub = emb.where(F.expr(probe_pred)).select(
        F.col(id_col).alias("probe_id"),
        F.explode(F.expr(f"sequence(0, {n_sub - 1})")).alias("sub"),
        F.col(vec_col),
    ).select(
        "probe_id",
        "sub",
        F.expr(f"slice({vec_col}, sub * {sub_dim} + 1, {sub_dim})").alias("p_sub"),
    )
    pdot = F.expr(DOT_SQL.format(a="p_sub", b="cb_sub"))
    lut = (
        probes_sub.join(F.broadcast(cbs), "sub")
        .withColumn("part", F.round(pdot, round_digits))
        .select("probe_id", "sub", "code", "part")
    )
    # PQ-encode ONLY vectors that are candidates of some probe (semi-join
    # restriction): assignments are per-vector independent, so the result
    # is unchanged, and the n × n_codes encode folds — the dominant cost —
    # shrink to the probed-cell population (~nprobe/C of the corpus when
    # probes are a small fraction; in production the codes are precomputed
    # at ingest and this stage reads them).
    cand_vecs = emb.join(
        cand_ids.select(F.col("cand_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    codes = pq_assignments(
        cand_vecs, n_codes, n_sub, sub_dim, id_col, vec_col, round_digits,
        codebook_subs=cbs,  # codebook from the FULL corpus, not the subset
    ).select(F.col(id_col).alias("cand_id"), "sub", "code")
    scored = (
        cand_ids.join(codes, "cand_id")
        .join(F.broadcast(lut), ["probe_id", "sub", "code"])
        .groupBy("probe_id", "cand_id")
        .agg(
            F.expr("CAST(SUM(CAST(part AS DECIMAL(25,6))) AS DOUBLE)").alias("adc_sim")
        )
    )
    w_short = Window.partitionBy("probe_id").orderBy(
        F.col("adc_sim").desc(), F.col("cand_id")
    )
    short = (
        scored.withColumn("arn", F.row_number().over(w_short))
        .where(F.col("arn") <= shortlist)
        .select("probe_id", "cand_id")
    )
    p = emb.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("vec_p"))
    c = emb.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("vec_c"))
    dot = F.expr(DOT_SQL.format(a="vec_p", b="vec_c"))
    rescored = (
        short.join(p, "probe_id").join(c, "cand_id").withColumn("sim", F.round(dot, round_digits))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
        .select("probe_id", "cand_id", "sim", "rn")
    )


def ivfpq_topk(
    emb: DataFrame,
    k: int = 3,
    nprobe: int = 3,
    shortlist: int = 32,
    n_centroids: int | None = None,
    n_codes: int = 256,
    n_sub: int = 4,
    sub_dim: int = 16,
    probe_pred: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """The full IVFPQ composition — the production billion-vector search
    stack, assembled from the two audited halves:

    1. **IVF restriction**: candidates sit in their single home cell;
       each probe searches only its top-``nprobe`` cells (C = √n default)
       — the candidate volume drops to ~nprobe/C of the corpus;
    2. **ADC scoring**: within probed cells, candidates are scored from
       their 32-bit PQ codes via the probe's broadcast LUT — the in-cell
       scan reads codes, never raw vectors;
    3. **exact re-rank**: the per-probe ADC ``shortlist`` is re-scored
       with the full-precision dot; output sims are exact.

    ``n_centroids=None`` sizes the coarse quantizer as ⌈√n⌉ via a driver
    scalar (same plan-build action as the other √n operators). Recall is
    the PRODUCT of the two audited dials — IVF cell recall (nprobe curve,
    SCALE.md §3.3) × PQ shortlist coverage — which is exactly how real
    IVFPQ deployments reason about it.
    """
    import math

    if probe_pred is None:
        probe_pred = f"{id_col} % 100 = 0"
    if n_centroids is None:
        n_centroids = int(math.ceil(math.sqrt(emb.count())))
    # ONE centroid-assignment pass serves both roles: rank all cells per
    # vector once, then home = rank-1 rows (candidate side) and probed =
    # rank ≤ nprobe rows of the probe subset. Halves the broadcast-join +
    # ranking work vs assigning twice.
    cents = (
        emb.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec"))
    )
    cdot = F.expr(DOT_SQL.format(a=vec_col, b="cvec"))
    w_assign = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cent_id"))
    ranked = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("csim", F.round(cdot, round_digits))
        .withColumn("arn", F.row_number().over(w_assign))
        .where(F.col("arn") <= nprobe)
        .select(F.col(id_col), F.col("cent_id").alias("cell"), "arn")
    )
    home = ranked.where(F.col("arn") == 1)
    probed = (
        ranked.where(F.expr(probe_pred))
        .select(F.col(id_col).alias("probe_id"), "cell")
    )
    # Candidate ids per probe: home cell ∈ the probe's probed cells. Each
    # candidate has ONE home cell, so no pair dedup is needed.
    cand_ids = (
        _by_cell(probed).join(
            _by_cell(home.select(F.col(id_col).alias("cand_id"), "cell")), "cell"
        )
        .where(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id")
    )
    return _pq_score_shortlist_rerank(
        emb, cand_ids, k, shortlist, n_codes, n_sub, sub_dim,
        probe_pred, id_col, vec_col, round_digits,
    )


def imipq_topk(
    emb: DataFrame,
    k: int = 3,
    c_per_half: int = 16,
    nprobe_half: int = 2,
    nprobe_cells: int | None = None,
    shortlist: int = 32,
    n_codes: int = 256,
    n_sub: int = 4,
    sub_dim: int = 16,
    probe_pred: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Multi-D-ADC — the search system of the inverted-multi-index paper
    (Babenko & Lempitsky 2012, §5), assembled from this repo's audited
    halves exactly like :func:`ivfpq_topk`:

    1. **IMI restriction**: candidates sit in their single home PRODUCT
       cell (C² cells for 2·n·C assignment dots); probes search their
       top-``nprobe_cells`` multi-sequence cells;
    2. **ADC scoring** of in-cell candidates from 32-bit PQ codes via
       the probes' broadcast LUT;
    3. **exact re-rank** of the per-probe shortlist — output sims exact.

    vs IVFPQ the coarse stage trades n·K assignment for 2·n·C with
    K = C² cells — the sub-n^1.5 front end with the same compressed-
    domain scan behind it. Candidates are single-assigned so each
    (probe, candidate) pair arises at most once — no dedup before ADC.
    """
    if probe_pred is None:
        probe_pred = f"{id_col} % 100 = 0"
    home = imi_cells(
        emb, c_per_half, id_col=id_col, vec_col=vec_col, round_digits=round_digits
    ).select(F.col(id_col).alias("cand_id"), "cell")
    probes = (
        imi_cells(
            emb, c_per_half, nprobe_half, nprobe_cells,
            id_col=id_col, vec_col=vec_col, round_digits=round_digits,
        )
        .where(F.expr(probe_pred))
        .select(F.col(id_col).alias("probe_id"), "cell")
    )
    cand_ids = (
        _by_cell(probes).join(_by_cell(home), "cell")
        .where(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id")
    )
    return _pq_score_shortlist_rerank(
        emb, cand_ids, k, shortlist, n_codes, n_sub, sub_dim,
        probe_pred, id_col, vec_col, round_digits,
    )


def semantic_ingest_verdicts(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.35,
    nprobe: int | None = None,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Per-arriving-vector semantic-dup verdict against a STATIC corpus —
    the embedding twin of ``dedup.incremental_dedup_verdicts`` and the
    ingest front door for a vector store.

    The index (centroids + corpus cell assignments) derives from the
    corpus ONLY, so a verdict depends on nothing but (vector, corpus):
    chopping the arriving set into micro-batches cannot change any verdict
    (the property the streaming demo's equivalence test asserts). Both
    sides multi-assign to their top-``nprobe`` cells (the audited-recall
    configuration); the exact rounded dot is the verify. Output: one row
    per arriving vector — ``status`` kept/dup_semantic, best corpus match
    (max sim, lowest match id on ties) or NULLs when kept.

    Since round 5 the corpus side is IDENTITY-CONTRACTED (the same
    composition as ``identity_contracted_semantic_edges``): candidates and
    centroids come from the distinct-vector representatives only. The
    verdict is unchanged in spirit — a duplicate corpus member has a
    bit-identical dot to its representative, and the min-match-id tie rule
    already elects the group's lowest id (= the rep) among equal sims —
    while a duplicate-saturated corpus (the stress-probe regime) costs the
    distinct-corpus price instead of multiplying candidates. At 100 TB
    the contracted index IS the vector store: stores always dedup exact
    vectors before indexing.

    At 100 TB: centroids broadcast; the corpus cell index is precomputed
    and bucketed by cell; each arriving partition assigns map-side and
    joins only its probed cells.
    """
    import math

    corpus = identity_reps(corpus, id_col, vec_col)
    if n_centroids is None or nprobe is None:
        # Scalar plan-build action sizing the index; the derived dial
        # (nprobe=None default) is 5 at every fixture SF and holds the
        # probed fraction constant past it (SCALE.md §3.10).
        n_corpus = max(corpus.count(), 1)
        if n_centroids is None:
            n_centroids = int(math.ceil(math.sqrt(n_corpus)))
        if nprobe is None:
            nprobe = adaptive_nprobe(n_corpus)
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec"))
    )

    def assign(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        cdot = F.expr(DOT_SQL.format(a=vec_col, b="cvec"))
        w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cent_id"))
        return (
            df.crossJoin(F.broadcast(cents))
            .withColumn("csim", F.round(cdot, round_digits))
            .withColumn("arn", F.row_number().over(w))
            .where(F.col("arn") <= nprobe)
            .select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).alias(out_vec),
                F.col("cent_id").alias("cell"),
            )
        )

    arriving = assign(batch, "vec_id_in", "vec_in")
    indexed = assign(corpus, "match_id", "vec_cand")
    dot = F.expr(DOT_SQL.format(a="vec_in", b="vec_cand"))
    hits = (
        _by_cell(arriving).join(_by_cell(indexed), "cell")
        .withColumn("sim", F.round(dot, round_digits))
        .where(F.col("sim") >= threshold)
        # a pair can meet in up to nprobe shared cells — narrow rows here
        .select("vec_id_in", "match_id", "sim")
        .groupBy("vec_id_in")
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("match_id")).alias("neg"))
            ).alias("m")
        )
        .select(
            "vec_id_in",
            (-F.col("m.neg")).alias("match_id"),
            F.col("m.sim").alias("sim"),
        )
    )
    return (
        batch.select(F.col(id_col).alias("vec_id"))
        .join(hits, F.col("vec_id") == F.col("vec_id_in"), "left")
        .select(
            "vec_id",
            F.when(F.col("match_id").isNotNull(), F.lit("dup_semantic"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.col("match_id").cast("bigint").alias("match_id"),
            "sim",
        )
    )


def lsh_ann_pairs(
    emb: DataFrame,
    threshold_distance: float = 0.6,
    bucket_length: float = 0.5,
    num_hash_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate near-neighbor pairs via BucketedRandomProjectionLSH.

    The 100 TB scale path: random-projection bucketing turns the O(n²)
    self-join into bucket-local joins. Euclidean distance on unit vectors
    maps monotonically to cosine (d² = 2 - 2·cos).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        F.col(id_col).alias("vid"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(vecs)
    joined = model.approxSimilarityJoin(vecs, vecs, threshold_distance, distCol="dist")
    return (
        joined.where(F.col("datasetA.vid") < F.col("datasetB.vid"))
        .select(
            F.col("datasetA.vid").alias("id_a"),
            F.col("datasetB.vid").alias("id_b"),
            F.round("dist", 4).alias("euclidean_dist"),
        )
    )


def _fused_avg_sim() -> Column:
    """Per-cell ``avg_sim`` over a fused (cell, pos) aggregate of ``n``
    members and ``ssim`` csim sums. MAX over pos re-reads the per-cell
    sum only when every pos group counted every member (fixed-dim
    vectors); a ragged cell (MIN(n) != MAX(n)) fails the action instead
    of dividing the largest pos-group sum. Same aggregate, no extra job."""
    return F.when(
        F.min("n") != F.max("n"),
        F.raise_error(
            F.concat(
                F.lit("kmeans: ragged embeddings in cell "),
                F.col("cell").cast("string"),
            )
        ),
    ).otherwise(F.max("ssim").cast("double") / F.max("n"))


def kmeans_lloyd_stats(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """One deterministic Lloyd (k-means) iteration: assign → update → audit.

    Seeds are the ``n_centroids`` lowest-id vectors (no RNG); assignment is
    argmax cosine with centroid-id tiebreak (same quantizer as
    :func:`ivf_topk`). The centroid update is made order-independent by the
    decimal-sum bridge: components are ROUNDed, accumulated as
    DECIMAL(25,6), and divided by the member count — bit-identical under
    any partition order, so a SQL oracle can replay it exactly. Returns one
    audit row per cell: member count, mean member-to-centroid similarity,
    and the centroid shift |new - old| (the Lloyd convergence signal).

    At 100 TB: centroids broadcast; assignment is map-side; the component
    explode shuffles only after map-side partial aggregation, i.e. what
    moves is O(cells × dims) partial sums, not member vectors.

    Round 16 (guide §2.2 — don't execute the same subplan twice): the
    audit used to derive ``stats`` and ``shift`` from two separate
    aggregations over ``cells``, so the broadcast-assign + window subplan
    executed TWICE in the one action. Now ONE (cell, pos) aggregate over
    the posexploded members carries everything — member count, the
    decimal-bridged component mean, and the decimal csim sum (each
    member contributes its csim exactly once per pos group, so every pos
    row of a cell holds the identical exact-decimal per-cell sum; MAX
    over pos re-reads it) — and a SECOND per-cell aggregate over those
    k × dim rows (joined to the broadcast old centroids) produces all
    three audit columns at once. The assignment subplan is referenced
    exactly once, so no checkpoint and no extra job is needed: one job,
    one assignment execution (was one job, two executions). All derived
    expressions are bit-identical to the previous two-pass forms (same
    decimal sums, same single IEEE division per audit column; vectors
    are fixed-dim non-empty per the embeddings contract, and a ragged
    cell raises — see :func:`_fused_avg_sim`).
    """
    cents = (
        emb.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec"))
    )
    cdot = F.expr(DOT_SQL.format(a=vec_col, b="cvec"))
    w_assign = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cent_id"))
    cells = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("csim", F.round(cdot, round_digits))
        .withColumn("arn", F.row_number().over(w_assign))
        .where(F.col("arn") == 1)
        .select(F.col(id_col), F.col(vec_col), F.col("cent_id").alias("cell"), "csim")
    )
    comp = cells.select("cell", "csim", F.posexplode(vec_col).alias("pos", "val"))
    g = comp.groupBy("cell", "pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE), 4) AS DECIMAL(25,6))) AS DOUBLE)"
            " / COUNT(*)"
        ).alias("nc"),
        F.expr("SUM(CAST(csim AS DECIMAL(25,6)))").alias("ssim"),
    )
    oldc = cents.select(
        F.col("cent_id").alias("cell"), F.posexplode("cvec").alias("pos", "oval")
    ).select("cell", "pos", F.round(F.col("oval").cast("double"), 4).alias("oc"))
    return (
        g.join(F.broadcast(oldc), ["cell", "pos"])
        .withColumn("d2", (F.col("nc") - F.col("oc")) * (F.col("nc") - F.col("oc")))
        .groupBy("cell")
        .agg(
            F.max("n").alias("n_members"),
            _fused_avg_sim().alias("avg_sim"),
            F.expr(
                "ROUND(SQRT(CAST(SUM(CAST(d2 AS DECIMAL(38,20))) AS DOUBLE)), 4)"
            ).alias("centroid_shift"),
        )
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            "n_members",
            "avg_sim",
            "centroid_shift",
        )
    )


def kmeans_lloyd_rounds(
    emb: DataFrame,
    n_centroids: int = 8,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Fixed-``rounds`` unrolled Lloyd iterations (k-means to convergence
    audit) — the multi-round extension of :func:`kmeans_lloyd_stats`,
    PageRank-convention: a FIXED round count so a SQL oracle can unroll
    the same recurrence CTE-per-round.

    Per round: assign (argmax rounded cosine, centroid-id tiebreak against
    the previous round's centroids) → decimal-bridged centroid update
    (per-component ROUND → DECIMAL(25,6) exact sum → one IEEE division)
    → audit row ``(round, cell, n_members, avg_sim, centroid_shift)``.
    Round-(r+1) assignment dots run over the round-r mean centroids:
    both engines hold bit-identical centroid doubles (exact decimal sum +
    one division), the arrays are reassembled in pos order (array_sort on
    (pos, nc) structs here, list(nc ORDER BY pos) in the oracle), and the
    sequential fold keeps the dot bit-identical — so every later round
    inherits round 1's determinism. Cells that lose all members drop out
    of later rounds (standard Lloyd degeneracy; both sides agree by
    construction).

    At 100 TB: centroids (k × dim doubles) broadcast every round;
    assignment stays map-side; what shuffles is the O(k·dim) partial-sum
    rollup, never member vectors.

    Round 16 (guide §2.2 — don't execute the same subplan twice): the
    old round derived stats, shift AND the next round's centroids from
    separate aggregations over ``cells``/``newc_pos``, so each round's
    broadcast-assign + window subplan executed up to 3× (twice in the
    final action, once more in the next-round centroid checkpoint). Now
    ONE (cell, pos) aggregate per round carries everything — member
    count, decimal-bridged component mean, and the decimal csim sum
    (identical at every pos since each member contributes once per pos
    group; MAX over pos re-reads it; vectors are fixed-dim non-empty
    per the embeddings contract, and a ragged cell raises) — and a
    single per-cell aggregate over
    those k × dim rows (joined to the broadcast old centroids) emits
    all three audit columns at once. For rounds that feed a successor,
    the (cell, pos) table is the round's only eager checkpoint (the
    audit and the next round's centroids both read the materialized
    rows); the LAST round references it exactly once, so it needs no
    checkpoint at all. Job count is unchanged (rounds-1 barriers +
    final action) while assignment executions drop from 8 to 3 at
    rounds=3. All derived expressions are bit-identical to the previous
    multi-pass forms (same decimal sums, same single IEEE division per
    audit column).
    """
    base = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    cents = (
        base.orderBy("_id")
        .limit(n_centroids)
        .select(
            F.col("_id").alias("cell"),
            F.expr("transform(_v, x -> CAST(x AS DOUBLE))").alias("cvec"),
        )
        .localCheckpoint(eager=True)
    )
    audits = []
    w_assign = Window.partitionBy("_id").orderBy(F.col("csim").desc(), F.col("cell"))
    for r in range(1, rounds + 1):
        cdot = F.expr(DOT_SQL.format(a="_v", b="cvec"))
        cells = (
            base.crossJoin(F.broadcast(cents))
            .withColumn("csim", F.round(cdot, round_digits))
            .withColumn("arn", F.row_number().over(w_assign))
            .where(F.col("arn") == 1)
            .select("_id", "_v", "cell", "csim")
        )
        comp = cells.select("cell", "csim", F.posexplode("_v").alias("pos", "val"))
        g = comp.groupBy("cell", "pos").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                "CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE), 4) AS DECIMAL(25,6)))"
                " AS DOUBLE) / COUNT(*)"
            ).alias("nc"),
            F.expr("SUM(CAST(csim AS DECIMAL(25,6)))").alias("ssim"),
        )
        if r < rounds:
            # Referenced twice (audit + next-round centroids) — the
            # round's only barrier; the audit and cents both read the
            # materialized k × dim rows. The LAST round's g is
            # referenced once, so it stays lazy in the final action.
            g = g.localCheckpoint(eager=True)
        oldc_pos = cents.select(
            "cell", F.posexplode("cvec").alias("pos", "oval")
        ).select("cell", "pos", F.round(F.col("oval"), 4).alias("oc"))
        audits.append(
            g.join(F.broadcast(oldc_pos), ["cell", "pos"])
            .withColumn(
                "d2", (F.col("nc") - F.col("oc")) * (F.col("nc") - F.col("oc"))
            )
            .groupBy("cell")
            .agg(
                F.max("n").alias("n_members"),
                _fused_avg_sim().alias("avg_sim"),
                F.expr(
                    "ROUND(SQRT(CAST(SUM(CAST(d2 AS DECIMAL(38,20))) AS DOUBLE)), 4)"
                ).alias("centroid_shift"),
            )
            .select(
                F.lit(r).cast("bigint").alias("round"),
                F.col("cell").cast("bigint").alias("cell"),
                "n_members",
                "avg_sim",
                "centroid_shift",
            )
        )
        if r < rounds:
            cents = g.groupBy("cell").agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, nc))),"
                    " s -> s.nc)"
                ).alias("cvec")
            )
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out
