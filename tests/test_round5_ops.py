"""Round-5 operator pins: the semantic-dedup edge-generation variants.

The round-4 verdict asked for an ADC pre-filter inside the semantic-dedup
IVF cells with IDENTICAL output. Measurement (SCALE.md §3.4) showed PQ-ADC
at the certified 4×16 geometry cannot be lossless on this corpus (true-edge
errors up to 0.57). Two replacements were built instead:

- ``ivf_int8_verified_edges`` — int8 scalar quantization screen, whose
  unit-vector error bound δ·(‖a‖₁+‖b‖₁+64δ) ≤ 0.064 is a mathematical
  guarantee, not a corpus measurement. Certified here but NOT the local
  default (interpreted-HOF fold costs ~2× the double fold on local[32];
  it is the narrow-shuffle variant for shuffle-bound clusters).
- ``identity_contracted_semantic_edges`` — the shipped default: exact-
  identity contraction before IVF candidates (its correctness is carried
  by q_llm_dedup_semantic's rewritten oracle + the contraction test
  below).

These tests pin: int8 edge-set equality against the unfiltered path, the
int8 bound itself (measured ≤0.016 fixture error inside the provable
0.064), screen selectivity, and contraction component-equivalence.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from join_example_spark.operators.similarity import (
    DOT_SQL,
    ivf_candidate_pairs,
    ivf_int8_verified_edges,
)
from join_example_spark.sources.readers import read_table
from tests.conftest import SF_ORACLE, SF_SMOKE


def _exact_edges(emb, n_centroids):
    dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
    return (
        ivf_candidate_pairs(emb, n_centroids=n_centroids, nprobe=5, dedup=False)
        .withColumn("sim", F.round(dot, 4))
        .where(F.col("sim") >= 0.35)
        .select("id_a", "id_b")
        .distinct()
    )


def test_int8_prefilter_edge_set_identical(spark):
    """The pre-filtered path must produce EXACTLY the edge set of the
    unfiltered exact-verify path — set equality, both directions, at both
    small SFs (lossless is the whole point; a single dropped edge changes
    the connected-components output)."""
    import math

    for sf in (SF_SMOKE, SF_ORACLE):
        emb = read_table(spark, sf, "embeddings")
        n_centroids = int(math.ceil(math.sqrt(emb.count())))
        old = {(r.id_a, r.id_b) for r in _exact_edges(emb, n_centroids).collect()}
        new = {
            (r.id_a, r.id_b)
            for r in ivf_int8_verified_edges(
                emb, n_centroids=n_centroids, nprobe=5
            ).collect()
        }
        assert new == old, (
            sf,
            sorted(old - new)[:5],
            sorted(new - old)[:5],
            len(old),
            len(new),
        )


def test_int8_quantization_error_within_provable_bound(spark):
    """Audit the bound on real data: over every candidate pair, the gap
    between the exact dot and the int8 estimate must sit inside the
    provable 0.064 — and inside the much tighter measured 0.02 envelope
    that gives the screen its 4× headroom."""
    import math

    emb = read_table(spark, SF_ORACLE, "embeddings")
    n_centroids = int(math.ceil(math.sqrt(emb.count())))
    qcode = F.expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0D) AS TINYINT))"
    )
    qe = emb.select("vec_id", F.col("embedding"), qcode.alias("qv"))
    a = qe.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        F.col("qv").alias("qv_a"),
    )
    b = qe.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        F.col("qv").alias("qv_b"),
    )
    dot = F.expr(DOT_SQL.format(a="vec_a", b="vec_b"))
    qdot = F.expr(
        "aggregate(zip_with(qv_a, qv_b, (x, y) -> CAST(x AS INT) * CAST(y AS INT)),"
        " 0, (acc, v) -> acc + v)"
    )
    row = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            F.abs(dot - qdot.cast("double") / F.lit(127.0 * 127.0)).alias("err")
        )
        .agg(F.max("err").alias("max_err"))
        .collect()[0]
    )
    delta = 1.0 / 254.0
    provable = delta * (16.0 + 64.0 * delta)
    assert row.max_err <= 0.02, row.max_err  # measured envelope (4x headroom)
    assert row.max_err <= provable  # the guarantee the screen relies on


def test_int8_prefilter_is_selective(spark):
    """The screen must actually screen: survivors of the integer pre-filter
    should be a small fraction of the raw candidate volume (the measured
    keep fraction is ~1-2%; assert < 10% so the pin is robust to fixture
    drift without ever allowing a degenerate keep-everything screen)."""
    import math

    emb = read_table(spark, SF_ORACLE, "embeddings")
    n_centroids = int(math.ceil(math.sqrt(emb.count())))
    raw = (
        ivf_candidate_pairs(emb, n_centroids=n_centroids, nprobe=5, dedup=False)
        .select("id_a", "id_b")
        .count()
    )
    kept = ivf_int8_verified_edges(emb, n_centroids=n_centroids, nprobe=5).count()
    # kept counts VERIFIED edges (a subset of screen survivors) — the
    # conservative direction for this assertion.
    assert kept < 0.10 * raw, (kept, raw)


def test_identity_contraction_component_equivalence(spark):
    """The contraction theorem, pinned: duplicating every vector k times
    (disjoint ids, bit-identical embeddings — the stress probe's
    construction) must leave the cluster structure EXACTLY invariant:
    same cluster_ids, same elected representatives (duplicates share the
    norm, so the min-vec_id tiebreak still elects the original), and
    every cluster_size scaled by k. A single divergence would mean the
    identity edges failed to transport a duplicate into its original's
    component."""
    from join_example_spark.queries.llm_dedup import _semantic_cluster_reps
    from join_example_spark.operators.similarity import (
        identity_contracted_semantic_edges,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings")
    k = 3
    dup = emb
    for i in range(1, k):
        dup = dup.unionByName(
            emb.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                "embedding",
                "label",
            )
        )

    def clusters(df):
        return {
            r.cluster_id: (r.rep_vec_id, r.cluster_size)
            for r in _semantic_cluster_reps(
                df, identity_contracted_semantic_edges(df)
            ).collect()
        }

    small = clusters(emb)
    big = clusters(dup)
    want = {cid: (rep, sz * k) for cid, (rep, sz) in small.items()}
    assert big == want, (
        {c: (big.get(c), want.get(c)) for c in set(big) ^ set(want) or list(want)[:3]}
    )


# ---------------------------------------------------------------------------
# Inverted multi-index (IMI) — the sub-n^1.5 ANN rung added late in round 5.
# ---------------------------------------------------------------------------


def test_imi_c_per_half_rule_is_exact_integer_cbrt():
    """The codebook sizing rule must be the exact smallest C with C³ ≥ n
    (floored at 4) for every n, and must agree with the DuckDB range-scan
    formula embedded in the oracles — including at perfect cubes, where
    float pow(n, 1/3) + ceil is allowed to disagree between engines."""
    import duckdb

    from join_example_spark.operators.similarity import imi_c_per_half

    con = duckdb.connect()
    for n in [1, 2, 63, 64, 65, 124, 125, 126, 500, 511, 512, 513, 999, 1000, 2000]:
        got = imi_c_per_half(n)
        brute = next(c for c in range(1, 1026) if c * c * c >= max(n, 1))
        assert got == max(4, brute), (n, got, brute)
        duck = con.execute(
            "SELECT GREATEST(4, (SELECT CAST(MIN(i) AS BIGINT)"
            " FROM range(1, 1025) t(i) WHERE i*i*i >= ?))",
            [n],
        ).fetchone()[0]
        assert got == duck, (n, got, duck)


def test_imi_cells_assignment_multiplicity(spark):
    """Single-assignment must give exactly one home cell per vector;
    multi-sequence probing at (p=4, T=8) exactly 8 distinct product cells
    per vector; and every cell must decode to per-half indexes within
    [1, C]."""
    from join_example_spark.operators.similarity import imi_cells

    emb = read_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()

    home = imi_cells(emb, 8)
    assert home.count() == n
    assert home.select("vec_id").distinct().count() == n

    multi = imi_cells(emb, 8, nprobe_half=4, nprobe_cells=8)
    per = (
        multi.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("cell").alias("cells"),
        )
        .agg(F.min("rows"), F.max("rows"), F.min("cells"), F.max("cells"))
        .collect()[0]
    )
    assert tuple(per) == (8, 8, 8, 8), tuple(per)

    bad = multi.where(
        (F.col("cell") % 1024 < 1)
        | (F.col("cell") % 1024 > 8)
        | (F.floor(F.col("cell") / 1024) < 1)
        | (F.floor(F.col("cell") / 1024) > 8)
    )
    assert bad.count() == 0


def test_imi_recall_floor_smoke(spark):
    """The audited IMI dial (C=⌈∛n⌉, p=4, T=8) must keep pair recall
    ≥ 0.85 at sf0.001 (measured 0.92; the floor leaves margin for a
    fixture regeneration, like the IVF recall floor) — a collapse here
    means the multi-sequence ranking or the composite-cell join
    regressed, exactly the class of bug a rows/schema check would
    miss."""
    from join_example_spark.queries.llm_similarity import q_llm_imi_recall

    row = q_llm_imi_recall(spark, SF_SMOKE).collect()[0]
    assert row.n_true > 0
    assert row.recall_pairs >= 0.85, row
    assert 0.0 < row.cand_frac < 0.65, row


def test_substring_decontamination_catches_planted_leak(spark):
    """True-positive control: graft a 60-char span from a benchmark
    (src19) document into a long-enough train document and the audit
    must flag that document (>= 59-char verbatim runs are caught with
    certainty — some stride-20 train window lies fully inside the run).
    Built on a modified in-memory corpus, so it also proves the operator
    is not fixture-coincidence."""
    from join_example_spark.queries.llm_training import (
        q_llm_decontaminate_substring,
    )

    docs = read_table(spark, SF_SMOKE, "documents")
    leak = (
        docs.where((F.col("source") == "src19") & (F.length("text") >= 60))
        .orderBy("doc_id")
        .limit(1)
        .select(F.substring("text", 1, 60).alias("span"))
    )
    victim_id = (
        docs.where((F.col("source") != "src19") & (F.length("text") >= 40))
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )
    patched = docs.crossJoin(F.broadcast(leak)).select(
        "doc_id",
        F.when(F.col("doc_id") == victim_id, F.concat(F.col("text"), F.col("span")))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        patched.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = {
            r.doc_id: (r.n_leaked, r.is_contaminated)
            for r in q_llm_decontaminate_substring(spark, td).collect()
        }
    n_leaked, flagged = out[victim_id]
    assert flagged and n_leaked >= 1, (victim_id, out.get(victim_id))


def test_holt_coefficient_table_matches_symbolic_derivation():
    """Re-derive the dyadic Holt forecast weights with exact Fractions and
    assert the literal table embedded in q_ts_holt_forecast (and its
    DuckDB oracle) is that derivation — the bit-exactness claim rests on
    these integers being the TRUE alpha=beta=1/2 zero-init coefficients
    of l + 3b scaled by 2^16."""
    from fractions import Fraction as Fr

    from join_example_spark.queries.analytics_ext import _HOLT_WF

    L = 8
    l = {i: Fr(0) for i in range(1, L + 1)}
    b = {i: Fr(0) for i in range(1, L + 1)}
    for t in range(1, L + 1):
        lp, bp = dict(l), dict(b)
        for i in range(1, L + 1):
            xi = Fr(1) if i == t else Fr(0)
            l[i] = Fr(1, 2) * xi + Fr(1, 2) * (lp[i] + bp[i])
            b[i] = Fr(1, 2) * (l[i] - lp[i]) + Fr(1, 2) * bp[i]
    S = 2**16
    derived = []
    for i in range(1, L + 1):
        coef = (l[i] + 3 * b[i]) * S
        assert coef.denominator == 1, (i, coef)
        derived.append(int(coef))
    assert tuple(derived) == _HOLT_WF


def test_weighted_sample_inclusion_scales_with_length(spark):
    """Longer docs draw more tickets, so the MIN-ticket priority is
    stochastically smaller: the mean n_chars of the selected 50 must
    exceed the corpus mean (a weak but deterministic property of the
    fixed hash draw on this fixture)."""
    import pyspark.sql.functions as F

    from join_example_spark.registry import load_all

    reg = load_all()
    sel = reg["q_llm_sample_weighted"].fn(spark, "/root/testdata/sf0.01")
    sel_mean = sel.agg(F.avg("n_chars")).collect()[0][0]
    from join_example_spark.sources.readers import read_table

    corpus_mean = (
        read_table(spark, "/root/testdata/sf0.01", "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    assert sel_mean > corpus_mean


def test_bfs_distances_match_pure_python(spark):
    """Independent witness: recompute multi-source BFS distances with a
    plain Python BFS over the same edge set and compare exactly."""
    import pyspark.sql.functions as F

    from join_example_spark.operators.similarity import cosine_near_pairs
    from join_example_spark.registry import load_all
    from join_example_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings")
    edges = {}
    for r in cosine_near_pairs(emb, threshold=0.25).collect():
        edges.setdefault(r.id_a, set()).add(r.id_b)
        edges.setdefault(r.id_b, set()).add(r.id_a)
    seeds = [r.vec_id for r in emb.where(F.col("vec_id") % 97 == 0).collect()]
    dist = {s: 0 for s in seeds}
    frontier = list(seeds)
    for d in range(1, 5):
        nxt = []
        for v in frontier:
            for u in edges.get(v, ()):
                if u not in dist:
                    dist[u] = d
                    nxt.append(u)
        frontier = nxt
    reg = load_all()
    got = {
        r.vec_id: r.dist for r in reg["q_graph_bfs"].fn(spark, sf).collect()
    }
    assert got == dist


def test_dbscan_matches_pure_python(spark):
    """Independent witness: recompute the deterministic DBSCAN (core =
    >=3 neighbors, clusters = CC over cores, border -> min adjacent core
    cluster) with plain Python over the same edge set."""
    from join_example_spark.operators.similarity import cosine_near_pairs
    from join_example_spark.registry import load_all
    from join_example_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings")
    adj: dict[int, set[int]] = {}
    for r in cosine_near_pairs(emb, threshold=0.25).collect():
        adj.setdefault(r.id_a, set()).add(r.id_b)
        adj.setdefault(r.id_b, set()).add(r.id_a)
    core = {v for v, ns in adj.items() if len(ns) >= 3}
    # CC over core-induced subgraph (min-id labels).
    cluster: dict[int, int] = {}
    for v in sorted(core):
        if v in cluster:
            continue
        comp, stack = [], [v]
        seen = {v}
        while stack:
            u = stack.pop()
            comp.append(u)
            for w in adj[u] & core:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        root = min(comp)
        for u in comp:
            cluster[u] = root
    want = {}
    all_ids = [r.vec_id for r in emb.select("vec_id").collect()]
    for v in all_ids:
        if v in core:
            want[v] = ("core", cluster[v])
        else:
            adj_cores = adj.get(v, set()) & core
            if adj_cores:
                want[v] = ("border", min(cluster[c] for c in adj_cores))
            else:
                want[v] = ("noise", None)
    got = {
        r.vec_id: (r.role, r.cluster_id)
        for r in load_all()["q_llm_cluster_dbscan"].fn(spark, sf).collect()
    }
    assert got == want


def test_label_propagation_matches_pure_python(spark):
    """Independent witness: re-run 3 synchronous LPA rounds (mode of
    neighbor labels, smallest-label tiebreak, isolated keep-own) in plain
    Python over the same edge set."""
    from collections import Counter

    import pyspark.sql.functions as F  # noqa: F401

    from join_example_spark.operators.similarity import cosine_near_pairs
    from join_example_spark.registry import load_all
    from join_example_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings")
    adj: dict[int, list[int]] = {}
    for r in cosine_near_pairs(emb, threshold=0.25).collect():
        adj.setdefault(r.id_a, []).append(r.id_b)
        adj.setdefault(r.id_b, []).append(r.id_a)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    lbl = {v: v for v in ids}
    for _ in range(3):
        new = {}
        for v in ids:
            ns = adj.get(v)
            if not ns:
                new[v] = lbl[v]
                continue
            counts = Counter(lbl[u] for u in ns)
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lbl = new
    got = {
        r.vec_id: r.community
        for r in load_all()["q_graph_label_prop"].fn(spark, sf).collect()
    }
    assert got == lbl


def test_kcore_matches_pure_python(spark):
    """Independent witness: 3 peeling rounds at k=2 in plain Python."""
    from join_example_spark.operators.similarity import cosine_near_pairs
    from join_example_spark.registry import load_all
    from join_example_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    emb = read_table(spark, sf, "embeddings")
    edges = set()
    for r in cosine_near_pairs(emb, threshold=0.25).collect():
        edges.add((r.id_a, r.id_b))
        edges.add((r.id_b, r.id_a))
    for _ in range(3):
        deg: dict[int, int] = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        keep = {v for v, d in deg.items() if d >= 2}
        edges = {(s, d) for s, d in edges if s in keep and d in keep}
    want: dict[int, int] = {}
    for s, _ in edges:
        want[s] = want.get(s, 0) + 1
    got = {
        r.vec_id: r.core_deg
        for r in load_all()["q_graph_kcore"].fn(spark, sf).collect()
    }
    assert got == want


def test_concurrency_matches_pure_python(spark):
    """Independent witness: sessions, day clipping, and the sweep re-done
    with plain Python over the raw events."""
    from join_example_spark.registry import load_all
    from join_example_spark.sources.readers import read_events

    sf = "/root/testdata/sf0.001"
    rows = (
        read_events(spark, sf)
        .selectExpr("user_id", "event_id", "unix_micros(ts) AS t")
        .collect()
    )
    per_user: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.t, r.event_id))
    day_us = 86_400_000_000
    pieces: list[tuple[int, int, int]] = []  # (day, ps, pe)
    for evs in per_user.values():
        evs.sort()
        s = e = evs[0][0]
        sessions = []
        for t, _ in evs[1:]:
            if t - e > 1_800_000_000:
                sessions.append((s, e))
                s = t
            e = t
        sessions.append((s, e))
        for s0, e0 in sessions:
            for day in range(s0 // day_us, e0 // day_us + 1):
                pieces.append(
                    (day, max(s0, day * day_us), min(e0, (day + 1) * day_us - 1))
                )
    want: dict[int, tuple[int, int]] = {}
    from collections import defaultdict

    by_day: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    n_by_day: dict[int, int] = defaultdict(int)
    for day, ps, pe in pieces:
        by_day[day][ps] += 1
        by_day[day][pe + 1] -= 1
        n_by_day[day] += 1
    for day, deltas in by_day.items():
        cur = best = 0
        first = True
        for t in sorted(deltas):
            cur += deltas[t]
            best = cur if first else max(best, cur)
            first = False
        want[day] = (n_by_day[day], best)
    got = {
        r.day: (r.n_sessions, r.max_concurrent)
        for r in load_all()["q_ts_concurrency"].fn(spark, sf).collect()
    }
    assert got == want
