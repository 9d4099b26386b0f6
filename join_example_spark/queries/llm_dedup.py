"""§2.10 — deduplication over the ``documents`` corpus.

Every declared query here is oracle-checked (Y) since round 8: the
MinHash+LSH and SimHash queries run the PORTABLE polynomial token hash
end-to-end (bit-identical Spark↔DuckDB), while the xxhash64 fast paths
remain library operators (operators/dedup.py) with brute-force-complete
unit tests (tests/test_operators.py, tests/test_round3_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from join_example_spark.operators.dedup import length_bucket_pairs
from join_example_spark.operators.sampling import id_hash_sql
from join_example_spark.registry import register
from join_example_spark.sources.readers import fanout_repartition, read_table


@register(
    "q_llm_dedup_exact",
    oracle="""
SELECT md5(LOWER(TRIM(text))) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
    note="exact dedup: normalized-content hash, keep-lowest-id rule",
    tags=("llm", "dedup"),
)
def q_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


#: Deterministic messy-URL synthesis (the fixtures carry no URL column):
#: scheme/host case noise, optional www. prefix, default :80 port, doubled
#: path slash, index.html / trailing-slash variants, utm_* tracking params,
#: param-order shuffles, and a fragment — all keyed on doc_id residues so
#: the CANONICAL key collapses to (source, doc_id % 20) while the raw form
#: varies 3x4x6x8x9-fold. Kept textually identical (module constant) so the
#: Spark plan and the DuckDB oracle parse the same expression.
_URL_SYNTH_SQL = """
CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http' ELSE 'Http' END
|| '://'
|| CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
|| CASE WHEN doc_id % 5 = 0 THEN UPPER(source) ELSE source END
|| '.Example.COM'
|| CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END
|| CASE WHEN doc_id % 6 = 0 THEN '//docs/' ELSE '/docs/' END
|| CAST(doc_id % 20 AS STRING)
|| CASE WHEN doc_id % 8 = 0 THEN '/index.html'
        WHEN doc_id % 8 = 4 THEN '/' ELSE '' END
|| CASE doc_id % 5
     WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS STRING)
                 || '&ref=r' || CAST(doc_id % 2 AS STRING)
     WHEN 1 THEN '?ref=r' || CAST(doc_id % 2 AS STRING)
                 || '&id=' || CAST(doc_id % 5 AS STRING)
     WHEN 2 THEN '?id=' || CAST(doc_id % 5 AS STRING)
                 || '&utm_medium=m&ref=r' || CAST(doc_id % 2 AS STRING)
     ELSE '?id=' || CAST(doc_id % 5 AS STRING)
          || '&ref=r' || CAST(doc_id % 2 AS STRING)
   END
|| CASE WHEN doc_id % 9 = 0 THEN '#sec' ELSE '' END
"""

#: The canonicalization pipeline, one expression per component. Cross-engine
#: notes: every regexp here is anchored or single-occurrence in this
#: construction, so Spark's replace-all vs DuckDB's replace-first default
#: never diverges (the oracle still passes 'g' where a run could repeat);
#: split_part returns '' past the last part on BOTH engines; array_sort /
#: list_sort are binary-ascending on ASCII params. Literal dots are written
#: as engine-neutral character classes '[.]', NEVER '\\.' — Spark (with the
#: default escapedStringLiterals=false) strips the backslash from a SQL
#: string literal so '\\.' reaches the regex engine as '.' (any char), while
#: DuckDB's standard literals keep it: textual sharing of the SQL does NOT
#: guarantee identical parsing where escape semantics differ (ADVICE r12 —
#: the stripped form canonicalized http://wwwx.com/a to http://.com/a).
_URL_CANON_SQL = {
    "scheme": "lower(split_part(url, '://', 1))",
    "authority": "split_part(split_part(url, '://', 2), '/', 1)",
    "pathq": (
        "regexp_replace(substr(split_part(url, '://', 2), "
        "length(split_part(split_part(url, '://', 2), '/', 1)) + 1), "
        "'#.*$', '')"
    ),
    "host": (
        "regexp_replace(regexp_replace(lower(authority), ':80$', ''), "
        "'^www[.]', '')"
    ),
    "path": (
        "regexp_replace(regexp_replace(regexp_replace("
        "split_part(pathq, '?', 1), '/{2,}', '/'), "
        "'/index[.]html$', '/'), '/$', '')"
    ),
    "qs": (
        "array_join(array_sort(filter(split("
        "CASE WHEN pathq LIKE '%?%' THEN split_part(pathq, '?', 2) "
        "ELSE '' END, '&'), "
        "x -> x != '' AND NOT startswith(x, 'utm_'))), '&')"
    ),
    "canonical_url": (
        "scheme || '://' || host || path || "
        "CASE WHEN qs != '' THEN '?' || qs ELSE '' END"
    ),
}


@register(
    "q_llm_dedup_url",
    oracle="""
WITH raw AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http' ELSE 'Http' END
           || '://'
           || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN UPPER(source) ELSE source END
           || '.Example.COM'
           || CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END
           || CASE WHEN doc_id % 6 = 0 THEN '//docs/' ELSE '/docs/' END
           || CAST(doc_id % 20 AS VARCHAR)
           || CASE WHEN doc_id % 8 = 0 THEN '/index.html'
                   WHEN doc_id % 8 = 4 THEN '/' ELSE '' END
           || CASE doc_id % 5
                WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
                            || '&ref=r' || CAST(doc_id % 2 AS VARCHAR)
                WHEN 1 THEN '?ref=r' || CAST(doc_id % 2 AS VARCHAR)
                            || '&id=' || CAST(doc_id % 5 AS VARCHAR)
                WHEN 2 THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
                            || '&utm_medium=m&ref=r' || CAST(doc_id % 2 AS VARCHAR)
                ELSE '?id=' || CAST(doc_id % 5 AS VARCHAR)
                     || '&ref=r' || CAST(doc_id % 2 AS VARCHAR)
              END
           || CASE WHEN doc_id % 9 = 0 THEN '#sec' ELSE '' END AS url
    FROM documents
),
parts AS (
    SELECT doc_id, url,
           LOWER(split_part(url, '://', 1)) AS scheme,
           split_part(split_part(url, '://', 2), '/', 1) AS authority,
           regexp_replace(substr(split_part(url, '://', 2),
                LENGTH(split_part(split_part(url, '://', 2), '/', 1)) + 1),
                '#.*$', '') AS pathq
    FROM raw
),
canon AS (
    SELECT doc_id,
           scheme,
           regexp_replace(regexp_replace(LOWER(authority), ':80$', ''),
                          '^www[.]', '') AS host,
           regexp_replace(regexp_replace(regexp_replace(
               split_part(pathq, '?', 1), '/{2,}', '/', 'g'),
               '/index[.]html$', '/'), '/$', '') AS path,
           array_to_string(list_sort(list_filter(
               str_split(CASE WHEN pathq LIKE '%?%'
                              THEN split_part(pathq, '?', 2)
                              ELSE '' END, '&'),
               x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS qs
    FROM parts
),
keyed AS (
    SELECT doc_id,
           scheme || '://' || host || path ||
           CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
    FROM canon
)
SELECT canonical_url,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_dupes
FROM keyed
GROUP BY canonical_url
""",
    note="URL/host canonicalization dedup — the standard web-corpus front "
    "door (round 12, VERDICT r11 task 8): lowercase scheme+host, strip "
    "www. prefix / default :80 port / fragment, collapse doubled path "
    "slashes, drop /index.html and trailing slash, remove utm_* tracking "
    "params, SORT remaining params — then exact dedup on the canonical "
    "key with the keep-lowest-id rule (the q_llm_dedup_exact tail). The "
    "fixtures carry no URL column, so the raw URLs are synthesized "
    "deterministically from doc_id residues (module constant "
    "_URL_SYNTH_SQL, textually shared with the oracle): the raw form "
    "varies across 7 independent noise axes while the canonical key "
    "collapses to (source, doc_id % 20), so the canonicalization — not "
    "the synthesis — does all the merging work. Entirely map-side + one "
    "hash aggregate: zero joins, zero windows, linear at any corpus "
    "size; at 100 TB this is the cheapest dedup pass and runs FIRST in "
    "the pipeline (before content hashing, which needs the document "
    "body). Cross-engine: split_part out-of-range returns '' on both "
    "engines; all regexps anchored/single-occurrence so replace-all vs "
    "replace-first defaults cannot diverge; param sort is binary ASCII "
    "ascending on both",
    tags=("llm", "dedup"),
)
def q_llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    c = _URL_CANON_SQL
    return (
        docs.select("doc_id", F.expr(_URL_SYNTH_SQL).alias("url"))
        .withColumn("scheme", F.expr(c["scheme"]))
        .withColumn("authority", F.expr(c["authority"]))
        .withColumn("pathq", F.expr(c["pathq"]))
        .withColumn("host", F.expr(c["host"]))
        .withColumn("path", F.expr(c["path"]))
        .withColumn("qs", F.expr(c["qs"]))
        .withColumn("canonical_url", F.expr(c["canonical_url"]))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
        )
    )


@register(
    "q_llm_domain_cap",
    oracle="""
WITH raw AS (
    SELECT doc_id, n_chars,
           CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http' ELSE 'Http' END
           || '://'
           || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN UPPER(source) ELSE source END
           || '.Example.COM'
           || CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END
           || CASE WHEN doc_id % 6 = 0 THEN '//docs/' ELSE '/docs/' END
           || CAST(doc_id % 20 AS VARCHAR)
           || CASE WHEN doc_id % 8 = 0 THEN '/index.html'
                   WHEN doc_id % 8 = 4 THEN '/' ELSE '' END
           || CASE doc_id % 5
                WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
                            || '&ref=r' || CAST(doc_id % 2 AS VARCHAR)
                WHEN 1 THEN '?ref=r' || CAST(doc_id % 2 AS VARCHAR)
                            || '&id=' || CAST(doc_id % 5 AS VARCHAR)
                WHEN 2 THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
                            || '&utm_medium=m&ref=r' || CAST(doc_id % 2 AS VARCHAR)
                ELSE '?id=' || CAST(doc_id % 5 AS VARCHAR)
                     || '&ref=r' || CAST(doc_id % 2 AS VARCHAR)
              END
           || CASE WHEN doc_id % 9 = 0 THEN '#sec' ELSE '' END AS url
    FROM documents
),
hosts AS (
    SELECT doc_id, n_chars,
           regexp_replace(regexp_replace(
               LOWER(split_part(split_part(url, '://', 2), '/', 1)),
               ':80$', ''), '^www[.]', '') AS host
    FROM raw
),
ranked AS (
    SELECT doc_id, n_chars, host,
           ROW_NUMBER() OVER (
               PARTITION BY host
               ORDER BY n_chars DESC, doc_id) AS host_rank,
           COUNT(*) OVER (PARTITION BY host) AS host_total
    FROM hosts
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       host,
       CAST(host_rank AS BIGINT) AS host_rank,
       CAST(host_total AS BIGINT) AS host_total
FROM ranked
WHERE host_rank <= 12
""",
    note="per-domain quota capping — the web-corpus balancing step that "
    "runs right after URL canonicalization (C4/RefinedWeb-style: no "
    "single host may dominate the corpus): extract the canonical host "
    "(the q_llm_dedup_url pipeline's host rules), rank each host's "
    "documents by a deterministic quality proxy (n_chars DESC, doc_id "
    "tiebreak — the unique-key rule under every row_number), keep the "
    "top 12 per host, and carry host_total so the output also audits "
    "how much each domain was cut. TWO-PASS SKEW-SAFE plan (round 13, "
    "VERDICT r12 task 5): a pathological host is the exact skew the "
    "cap exists to bound, so the naive single window on host would "
    "funnel that host's entire row set through one window partition. "
    "Instead (a) host_total comes from a hash aggregate (map-side "
    "partial combine — each reducer sees one row per host per mapper, "
    "skew-immune by construction), and (b) the top-K runs salted: a "
    "row_number over (host, pmod(doc_id, 32)) keeps each shard's top "
    "12, bounding every window partition at ~1/32 of the worst host, "
    "then the exact final row_number ranks the <=32*12 survivors per "
    "host. Result-invariant: any global top-12 row is also top-12 "
    "within its shard, so the survivor union contains the global "
    "top-12 (planted-skew equivalence pinned in "
    "tests/test_round13_ops.py). Oracle unchanged BY THE REPLAN — it "
    "states the same single-window semantics (the same round's "
    "escape-class fix DID touch the host regex on both sides); the "
    "totals join-back is null-safe (eqNullSafe) because groupBy/Window "
    "keep NULL hosts as one group while an equi-join would drop them. "
    "Both scans prune (totals: doc_id+source only; cap: +n_chars), and "
    "at 100 TB the totals pass is a near-free counted scan while the "
    "cap pass never builds a partition bigger than max(host)/32. "
    "Measured on planted 90%-one-host tiers: 2.5x/11.9x faster than "
    "the naive window at 2M/16M rows (SCALE.md §3.18)",
    tags=("llm", "sampling", "dedup"),
)
def q_llm_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    c = _URL_CANON_SQL
    hosts = (
        docs.select("doc_id", "n_chars", F.expr(_URL_SYNTH_SQL).alias("url"))
        .withColumn("authority", F.expr(c["authority"]))
        .withColumn("host", F.expr(c["host"]))
        .select("doc_id", "n_chars", "host")
    )
    return domain_cap_plan(hosts, cap=12, salts=32)


def domain_cap_naive_plan(hosts: DataFrame, cap: int) -> DataFrame:
    """The single-window reference semantics the oracle states — kept as
    the correctness anchor for the planted-skew equivalence test
    (tests/test_round13_ops.py) and the skew A/B recorded in SCALE.md
    §3.18. Never the shipped plan: the window on
    host funnels a pathological host through one partition (measured
    11.9x slower at a planted 16M-row 90%-one-host tier, SCALE §3.18)."""
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    wc = Window.partitionBy("host")
    return (
        hosts.withColumn("host_rank", F.row_number().over(w))
        .withColumn("host_total", F.count(F.lit(1)).over(wc))
        .where(F.col("host_rank") <= cap)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "host",
            F.col("host_rank").cast("bigint").alias("host_rank"),
            F.col("host_total").cast("bigint").alias("host_total"),
        )
    )


def domain_cap_plan(hosts: DataFrame, cap: int, salts: int) -> DataFrame:
    """Skew-safe per-host top-``cap``: salted partial top-K, exact final
    rank, hash-aggregated totals. ``hosts`` must carry (doc_id, n_chars,
    host). Factored out so the planted-skew test can drive it with an
    adversarial host distribution (tests/test_round13_ops.py)."""
    from pyspark.sql import Window

    totals = hosts.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("host_total")
    )
    w_salt = Window.partitionBy("host", "salt").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    survivors = (
        hosts.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(salts)).cast("int"))
        .withColumn("salt_rank", F.row_number().over(w_salt))
        .where(F.col("salt_rank") <= cap)
        .drop("salt", "salt_rank")
    )
    w = Window.partitionBy("host").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        survivors.withColumn("host_rank", F.row_number().over(w))
        .where(F.col("host_rank") <= cap)
        # No broadcast hint: totals is one row per DISTINCT host (~1e8 on a
        # web-scale corpus — too big to broadcast); both join inputs are
        # host-capped (<=cap rows vs 1 row per host) so the shuffle join is
        # skew-free, and AQE still auto-broadcasts at small SFs.
        # NULL-SAFE join (round-13 review): groupBy and Window both treat
        # NULL hosts as one group, but a plain equi-join would DROP them —
        # diverging from the single-window oracle on any fixture that ever
        # ships a NULL source. eqNullSafe keeps the plans row-identical on
        # that geometry too (pinned with a planted NULL host).
        .join(
            totals.withColumnRenamed("host", "t_host"),
            F.col("host").eqNullSafe(F.col("t_host")),
        )
        .drop("t_host")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "host",
            F.col("host_rank").cast("bigint").alias("host_rank"),
            F.col("host_total").alias("host_total"),
        )
    )


@register(
    "q_llm_dedup_near",
    oracle="""
WITH toks AS (
    SELECT doc_id, lang, n_chars, source,
           list_distinct(string_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents
    WHERE source IN ('src0', 'src1')
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / CAST(LEN(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jaccard
FROM toks a
JOIN toks b
  ON a.lang = b.lang
 AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 20
WHERE CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / CAST(LEN(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.5
""",
    note="blocked token-set Jaccard near-dup; Jaccard is a ratio of small ints "
    "-> exact double both sides. Spark side adds length-bucket equi-blocking "
    "(the 100 TB plan); oracle states the quadratic-within-block semantics.",
    tags=("llm", "dedup"),
)
def q_llm_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("source").isin("src0", "src1"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr("array_distinct(split(LOWER(TRIM(text)), ' '))").alias("toks"),
        )
    )
    pairs = length_bucket_pairs(docs, payload_col="toks", width=20)
    jac = F.expr(
        "CAST(SIZE(ARRAY_INTERSECT(toks_a, toks_b)) AS DOUBLE)"
        " / CAST(SIZE(ARRAY_UNION(toks_a, toks_b)) AS DOUBLE)"
    )
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


@register(
    "q_llm_dedup_ngram",
    oracle="""
WITH toks AS (
    SELECT doc_id, lang, n_chars,
           str_split(LOWER(TRIM(text)), ' ') AS t
    FROM documents
    WHERE source IN ('src0', 'src1')
), sh AS (
    SELECT doc_id, lang, n_chars,
           list_distinct(list_transform(generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1])) AS grams
    FROM toks
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(LEN(list_intersect(a.grams, b.grams)) AS DOUBLE)
         / CAST(LEN(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)
         AS ngram_jaccard
FROM sh a
JOIN sh b
  ON a.lang = b.lang
 AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 20
WHERE LEN(a.grams) > 0 AND LEN(b.grams) > 0
  AND CAST(LEN(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(LEN(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)
        >= 0.02
""",
    note="word-bigram (2-shingle) Jaccard near-dup — order-sensitive where the "
    "token-set variant is order-blind. Same length-bucket equi-blocking plan; "
    "shingles via indexed transform (sequence() would descend on 1-token docs)",
    tags=("llm", "dedup"),
)
def q_llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plan-shape notes (round-15 plan audit): (1) the token array is
    # materialized ONCE as _t — the old form interpolated the raw split
    # INSIDE the (t, i) shingle lambda, re-splitting the whole document per
    # element (O(n²) per doc; _t is referenced 4×, so CollapseProject
    # cannot inline it back). (2) the old `size(grams) > 0` guard pushed
    # below the projection by substitution and re-built the entire shingle
    # array in the Filter; `grams` is non-empty iff the doc has >= 2
    # tokens iff TRIM(text) contains an interior space (split on a single
    # space makes token count = space count + 1; LOWER doesn't affect
    # spaces; NULL text fails both predicates), so the equivalent cheap
    # text predicate replaces it outright.
    shingles = F.expr(
        "array_distinct(transform(slice(_t, 1, greatest(size(_t) - 1, 0)),"
        "  (t, i) -> concat(t, ' ', _t[i + 1])))"
    )
    docs = (
        read_table(spark, sf_dir, "documents")
        .where(
            F.col("source").isin("src0", "src1")
            & F.expr("contains(TRIM(text), ' ')")
        )
        .withColumn("_t", F.expr("split(LOWER(TRIM(text)), ' ')"))
        .select("doc_id", "lang", "n_chars", shingles.alias("grams"))
    )
    pairs = length_bucket_pairs(docs, payload_col="grams", width=20)
    jac = F.expr(
        "CAST(SIZE(ARRAY_INTERSECT(grams_a, grams_b)) AS DOUBLE)"
        " / CAST(SIZE(ARRAY_UNION(grams_a, grams_b)) AS DOUBLE)"
    )
    return (
        pairs.withColumn("ngram_jaccard", jac)
        .where(F.col("ngram_jaccard") >= 0.02)
        .select("id_a", "id_b", "ngram_jaccard")
    )


@register(
    "q_llm_dedup_cluster_star",
    oracle="""
WITH RECURSIVE
toks AS (
    SELECT doc_id, lang, n_chars,
           list_distinct(string_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents
    WHERE source IN ('src0', 'src1')
),
raw_edges AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM toks a
    JOIN toks b
      ON a.lang = b.lang
     AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 20
    WHERE CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / CAST(LEN(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)
            >= 0.5
),
edges AS (
    SELECT src, dst FROM raw_edges
    UNION ALL
    SELECT dst, src FROM raw_edges
),
reach(id, root) AS (
    SELECT doc_id, doc_id FROM toks
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, MIN(root) AS cluster_id
FROM reach
GROUP BY id
""",
    note="near-dup CLUSTERS: token-Jaccard pairs (q_llm_dedup_near) as "
    "edges, connected components by the large-star/small-star formulation "
    "(operators/graph.py) — O(log n) rounds instead of O(component "
    "diameter), the scale path when near-dup components chain into long "
    "paths; oracle = recursive-CTE reachability. The transitive closure is "
    "what a real dedup keeps one representative per — pairs alone "
    "under-merge",
    tags=("llm", "dedup", "graph"),
)
def q_llm_dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.graph import connected_components_star

    pairs = q_llm_dedup_near(spark, sf_dir)
    nodes = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("source").isin("src0", "src1"))
        .select("doc_id")
    )
    labels = connected_components_star(
        nodes,
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


# Portable MinHash: polynomial char-fold token hash (identical in Spark and
# DuckDB, verified bit-for-bit), k=8 permutations (a_i*h + b_i) mod p,
# banded 2x4 for candidate generation. p small enough that a*h stays far
# inside int64 under ANSI overflow checking on BOTH engines.
_MH_P = 1_000_003
_MH_A = (7, 11, 13, 17, 19, 23, 29, 31)
_MH_B = (3, 5, 9, 15, 21, 27, 33, 39)
# 16-permutation extension for the 4x4-banded default query (any a != 0 mod p
# makes (a*h + b) mod p a bijection, so each row is a valid min-hash draw).
_MH_A16 = _MH_A + (37, 41, 43, 47, 53, 59, 61, 67)
_MH_B16 = _MH_B + (45, 51, 57, 63, 69, 75, 81, 87)


@register(
    "q_llm_dedup_minhash_exact",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_distinct(str_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents
    WHERE source = 'src0' AND LEN(TRIM(text)) > 0
), hashed AS (
    SELECT doc_id, toks,
           list_transform(toks,
             t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(str_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                  (acc, b) -> (acc * 31 + b) % {_MH_P})) AS th
    FROM toks
), sigs AS (
    SELECT doc_id, toks,
           {', '.join(f"list_aggregate(list_transform(th, h -> ({a} * h + {b}) % {_MH_P}), 'min') AS m{i}" for i, (a, b) in enumerate(zip(_MH_A, _MH_B)))}
    FROM hashed
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS toks_a, b.toks AS toks_b
    FROM sigs a JOIN sigs b
      ON a.doc_id < b.doc_id
     AND ((a.m0 = b.m0 AND a.m1 = b.m1 AND a.m2 = b.m2 AND a.m3 = b.m3)
       OR (a.m4 = b.m4 AND a.m5 = b.m5 AND a.m6 = b.m6 AND a.m7 = b.m7))
)
SELECT id_a, id_b,
       CAST(LEN(list_intersect(toks_a, toks_b)) AS DOUBLE)
         / CAST(LEN(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) AS jaccard
FROM cand
WHERE CAST(LEN(list_intersect(toks_a, toks_b)) AS DOUBLE)
        / CAST(LEN(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.9
""",
    note="MinHash with PORTABLE polynomial token hashes — the compact "
    "8-perm/2x4-band dial of the certified family (q_llm_dedup_minhash "
    "carries the 16-perm/4x4 default since its round-8 re-declaration; "
    "the xxhash64 fast path is a library operator). Jaccard >= 0.9 "
    "verify, single exploded (band_idx, band_key) equi-join",
    tags=("llm", "dedup"),
)
def q_llm_dedup_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        read_table(spark, sf_dir, "documents")
        .where((F.col("source") == "src0") & (F.length(F.trim("text")) > 0))
        .select(
            "doc_id",
            F.expr("array_distinct(split(LOWER(TRIM(text)), ' '))").alias("toks"),
        )
    )
    # Token char-fold computed ONCE as a column; each permutation is then a
    # cheap affine re-hash of the shared array (round 8 — the old template
    # inlined the whole fold once PER signature column).
    th = (
        "transform(toks, t -> aggregate(split(t, ''), CAST(0 AS BIGINT),"
        f" (acc, c) -> (acc * 31 + CAST(ASCII(c) AS BIGINT)) % {_MH_P}))"
    )
    sig_cols = [
        F.expr(f"array_min(transform(th, h -> ({a} * h + {b}) % {_MH_P}))").alias(f"m{i}")
        for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
    ]
    sigs = docs.withColumn("th", F.expr(th)).select("doc_id", "toks", *sig_cols)
    # Scale shape: ONE equi-join on the exploded (band_idx, band_key) rows
    # — a single hash shuffle keyed by the band tuple (same multi-index
    # shape as q_llm_dedup_minhash/q_llm_dedup_simhash; an OR-of-bands
    # join would be a nested loop, one join per band costs 2x the stages).
    band_structs = ", ".join(
        f"STRUCT({j} AS band_idx, array(m{j * 4}, m{j * 4 + 1},"
        f" m{j * 4 + 2}, m{j * 4 + 3}) AS band_key)"
        for j in range(2)
    )
    bands = sigs.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"array({band_structs})")).alias("band"),
    ).select("doc_id", "toks", "band.band_idx", "band.band_key")
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"),
        "band_idx", "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"),
        "band_idx", "band_key",
    )
    cands = (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "toks_a", "toks_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    jac = F.expr(
        "CAST(SIZE(ARRAY_INTERSECT(toks_a, toks_b)) AS DOUBLE)"
        " / CAST(SIZE(ARRAY_UNION(toks_a, toks_b)) AS DOUBLE)"
    )
    return (
        cands.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.9)
        .select("id_a", "id_b", "jaccard")
    )


@register(
    "q_llm_dedup_minhash",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_distinct(str_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents
    WHERE source = 'src0' AND LEN(TRIM(text)) > 0
), hashed AS (
    SELECT doc_id, toks,
           list_transform(toks,
             t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(str_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                  (acc, b) -> (acc * 31 + b) % {_MH_P})) AS th
    FROM toks
), sigs AS (
    SELECT doc_id, toks,
           {', '.join(f"list_aggregate(list_transform(th, h -> ({a} * h + {b}) % {_MH_P}), 'min') AS m{i}" for i, (a, b) in enumerate(zip(_MH_A16, _MH_B16)))}
    FROM hashed
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS toks_a, b.toks AS toks_b
    FROM sigs a JOIN sigs b
      ON a.doc_id < b.doc_id
     AND ((a.m0 = b.m0 AND a.m1 = b.m1 AND a.m2 = b.m2 AND a.m3 = b.m3)
       OR (a.m4 = b.m4 AND a.m5 = b.m5 AND a.m6 = b.m6 AND a.m7 = b.m7)
       OR (a.m8 = b.m8 AND a.m9 = b.m9 AND a.m10 = b.m10 AND a.m11 = b.m11)
       OR (a.m12 = b.m12 AND a.m13 = b.m13 AND a.m14 = b.m14 AND a.m15 = b.m15))
)
SELECT id_a, id_b,
       CAST(LEN(list_intersect(toks_a, toks_b)) AS DOUBLE)
         / CAST(LEN(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) AS jaccard
FROM cand
WHERE CAST(LEN(list_intersect(toks_a, toks_b)) AS DOUBLE)
        / CAST(LEN(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE) >= 0.9
""",
    note="MinHash(16 perms, 4x4 LSH bands) + token-Jaccard >= 0.9 verify — "
    "re-declared in round 8 on the PORTABLE polynomial token hash (the "
    "driver has no rows-only mode, proven round 7), keeping the original "
    "16-perm/4-band geometry; the xxhash64 fast path stays a library "
    "operator (operators/dedup.py minhash_lsh_candidates, unit-tested "
    "against brute force). Candidates come from ONE equi-join on the "
    "exploded (band_idx, band_key) multi-index rows, then pair-dedup — "
    "never an OR-of-bands nested loop. Scoped to one "
    "source partition: the fixture corpus has a 31-word vocabulary "
    "(median pairwise Jaccard 0.65, measured), so banding cannot prune "
    "it — the bound keeps the demo honest instead of quadratic",
    tags=("llm", "dedup"),
)
def q_llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        read_table(spark, sf_dir, "documents")
        .where((F.col("source") == "src0") & (F.length(F.trim("text")) > 0))
        .select(
            "doc_id",
            F.expr("array_distinct(split(LOWER(TRIM(text)), ' '))").alias("toks"),
        )
    )
    # Token char-fold computed ONCE as a column; each of the 16 permutations
    # is then a cheap affine re-hash of the shared array (inlining the fold
    # per signature column would compute it 16x per document).
    th = (
        "transform(toks, t -> aggregate(split(t, ''), CAST(0 AS BIGINT),"
        f" (acc, c) -> (acc * 31 + CAST(ASCII(c) AS BIGINT)) % {_MH_P}))"
    )
    sig_cols = [
        F.expr(f"array_min(transform(th, h -> ({a} * h + {b}) % {_MH_P}))").alias(f"m{i}")
        for i, (a, b) in enumerate(zip(_MH_A16, _MH_B16))
    ]
    sigs = docs.withColumn("th", F.expr(th)).select("doc_id", "toks", *sig_cols)
    # Scale shape: ONE equi-join on the exploded (band_idx, band_key)
    # rows — a single hash shuffle keyed by the band tuple (the same
    # multi-index shape as the SimHash query; an OR-of-bands join would
    # be a nested loop, and one join per band costs 4x the stages).
    band_structs = ", ".join(
        f"STRUCT({j} AS band_idx, array(m{j * 4}, m{j * 4 + 1},"
        f" m{j * 4 + 2}, m{j * 4 + 3}) AS band_key)"
        for j in range(4)
    )
    bands = sigs.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"array({band_structs})")).alias("band"),
    ).select("doc_id", "toks", "band.band_idx", "band.band_key")
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"),
        "band_idx", "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"),
        "band_idx", "band_key",
    )
    cands = (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "toks_a", "toks_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    jac = F.expr(
        "CAST(SIZE(ARRAY_INTERSECT(toks_a, toks_b)) AS DOUBLE)"
        " / CAST(SIZE(ARRAY_UNION(toks_a, toks_b)) AS DOUBLE)"
    )
    return (
        cands.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.9)
        .select("id_a", "id_b", "jaccard")
    )


@register(
    "q_llm_dedup_keep_best",
    oracle="""
WITH RECURSIVE
toks AS (
    SELECT doc_id, lang, n_chars,
           list_distinct(string_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents
    WHERE source IN ('src0', 'src1')
),
raw_edges AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM toks a
    JOIN toks b
      ON a.lang = b.lang
     AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 20
    WHERE CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / CAST(LEN(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)
            >= 0.5
),
edges AS (
    SELECT src, dst FROM raw_edges
    UNION ALL
    SELECT dst, src FROM raw_edges
),
reach(id, root) AS (
    SELECT doc_id, doc_id FROM toks
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (
    SELECT id AS doc_id, MIN(root) AS cluster_id
    FROM reach
    GROUP BY id
),
ranked AS (
    SELECT l.cluster_id, d.doc_id, d.n_chars,
           ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.n_chars DESC, d.doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
    FROM labels l
    JOIN documents d ON d.doc_id = l.doc_id
)
SELECT cluster_id,
       doc_id AS rep_doc_id,
       CAST(n_chars AS BIGINT) AS rep_n_chars,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked
WHERE rn = 1
""",
    note="the dedup FINISHER: connected components over near-dup edges, "
    "then keep exactly one representative per cluster (longest doc, "
    "doc_id tiebreak — a deterministic total order under the row_number). "
    "This is the step that turns 'clusters found' into 'corpus written': "
    "one window shuffle on cluster_id after the clustering, no extra joins "
    "beyond the label->doc attach",
    tags=("llm", "dedup", "graph"),
)
def q_llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Labels via the O(log n) star-contraction formulation (hash-matches
    # the recursive-CTE oracle of q_llm_dedup_cluster_star).
    labels = q_llm_dedup_cluster_star(spark, sf_dir)
    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("source").isin("src0", "src1"))
        .select("doc_id", "n_chars")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ws = Window.partitionBy("cluster_id")
    return (
        labels.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(ws))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").cast("bigint").alias("rep_n_chars"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
    )


@register(
    "q_llm_dedup_fuzzy",
    oracle=f"""
WITH norm AS (
    SELECT doc_id, lang, n_chars, LOWER(TRIM(text)) AS ntext,
           list_aggregate(
             list_transform(list_distinct(str_split(LOWER(TRIM(text)), ' ')),
               t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(str_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                    (acc, b) -> (acc * 31 + b) % {_MH_P})),
             'min') AS mintok
    FROM documents
    WHERE source IN ('src0', 'src1')
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(levenshtein(a.ntext, b.ntext) AS BIGINT) AS edit_dist,
       ROUND(CAST(levenshtein(a.ntext, b.ntext) AS DOUBLE)
             / CAST(GREATEST(LENGTH(a.ntext), LENGTH(b.ntext)) AS DOUBLE), 6)
           AS edit_ratio
FROM norm a
JOIN norm b
  ON a.lang = b.lang
 AND a.mintok = b.mintok
 AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 20
WHERE CAST(levenshtein(a.ntext, b.ntext) AS DOUBLE)
      / CAST(GREATEST(LENGTH(a.ntext), LENGTH(b.ntext)) AS DOUBLE) <= 0.7
""",
    note="edit-distance fuzzy near-dup: (lang, length-bucket) equi-blocking "
    "PLUS a min-token-hash second key (portable polynomial hash, identical "
    "both engines), then JVM levenshtein as the exact verify, thresholded "
    "on the RELATIVE ratio dist/max(len) (this corpus's duplicates are "
    "token-reorderings, so absolute distances run ~0.6-0.75 of length; 0.7 "
    "separates the tail — and reorderings preserve the token SET, so the "
    "min-token key keeps them). The second key caps block fan-out: a "
    "boilerplate-heavy corpus concentrating docs into few (lang, length) "
    "blocks would otherwise go O(b^2 * L^2) within a block at scale. The "
    "ratio is one IEEE division of exact ints — bit-stable",
    tags=("llm", "dedup"),
)
def q_llm_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    poly = (
        "aggregate(split(t, ''), CAST(0 AS BIGINT),"
        f" (acc, c) -> (acc * 31 + CAST(ASCII(c) AS BIGINT)) % {_MH_P})"
    )
    # Plan-shape note (round-15 plan audit): _mintok is an equi-join key, so
    # Catalyst infers isnotnull(_mintok) and pushes it below the projection
    # BY SUBSTITUTION — the entire per-char fold re-ran inside the Filter on
    # BOTH join branches (2x the necessary hash work). _mintok is NULL iff
    # text is NULL (split of a non-null string is never empty), and a
    # NULL key never matches an inner join on either engine, so the explicit
    # cheap text-IS-NOT-NULL guard drops exactly the rows the inferred
    # filter dropped; the non-nullable coalesce (fold values are >= 0, the
    # -1 sentinel is unreachable) then stops the inference from firing at
    # all. Result rows are identical; the fold now runs once per branch.
    docs = (
        fanout_repartition(read_table(spark, sf_dir, "documents"))
        .where(F.col("source").isin("src0", "src1") & F.col("text").isNotNull())
        .select("doc_id", "lang", "n_chars", F.expr("LOWER(TRIM(text))").alias("ntext"))
        .withColumn(
            "_mintok",
            F.coalesce(
                F.expr(
                    f"array_min(transform(array_distinct(split(ntext, ' ')), t -> {poly}))"
                ),
                F.lit(-1).cast("bigint"),
            ),
        )
    )
    pairs = length_bucket_pairs(docs, payload_col="ntext", width=20, extra_key_col="_mintok")
    dist = F.expr("levenshtein(ntext_a, ntext_b)")
    ratio = dist.cast("double") / F.expr(
        "CAST(GREATEST(LENGTH(ntext_a), LENGTH(ntext_b)) AS DOUBLE)"
    )
    return (
        pairs.withColumn("edit_dist", dist.cast("bigint"))
        .withColumn("edit_ratio", F.round(ratio, 6))
        .where(ratio <= 0.7)
        .select("id_a", "id_b", "edit_dist", "edit_ratio")
    )


def _semantic_cluster_reps(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared tail of the semantic dedup family: edges → star-contraction
    components → max-L2-norm representative election with cluster size."""
    from pyspark.sql import Window

    from join_example_spark.operators.graph import connected_components_star

    labels = connected_components_star(
        emb.select("vec_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="vec_id",
    ).select(F.col("id").alias("vec_id"), "cluster_id")
    norm = F.expr(
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0D, (acc, v) -> acc + v))"
    )
    member = labels.join(emb.select("vec_id", "embedding"), "vec_id").withColumn(
        "_norm", norm
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("_norm").desc(), F.col("vec_id"))
    ws = Window.partitionBy("cluster_id")
    return (
        member.withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(ws))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("vec_id").alias("rep_vec_id"),
            F.col("sz").cast("bigint").alias("cluster_size"),
        )
    )



# DuckDB-side dot product twin (same sequential left-fold in DOUBLE as the
# Spark DOT_SQL fold — kept textually in sync with llm_similarity._DUCK_DOT).
_DUCK_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
)


# Shared DuckDB CTE chain: identity contraction -> multi-probe IVF rep
# edges (nprobe=5, the audited default) -> identity edges -> recursive
# reachability -> per-vector min-label. Ends at `labels(vec_id,
# cluster_id)`; used by q_llm_dedup_semantic (election tail) and
# q_llm_split_leakage_safe (split tail) so the two oracles cannot drift.
_SEMANTIC_LABEL_CTES = f"""g AS (
    SELECT vec_id, embedding,
           MIN(vec_id) OVER (PARTITION BY embedding) AS gid
    FROM embeddings
),
reps AS (
    SELECT vec_id, embedding FROM g WHERE vec_id = gid
),
cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM reps ORDER BY vec_id
    LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM reps)
), assign AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_DUCK_DOT.format(a="e.embedding", b="c.cvec")}, 4) DESC,
                        c.cent_id) AS arn
    FROM reps e CROSS JOIN cents c
), probed AS (
    SELECT vec_id, embedding, cent_id AS cell FROM assign WHERE arn <= 5
),
rep_edges AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM probed a
    JOIN probed b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= 0.35
),
raw_edges AS (
    SELECT src, dst FROM rep_edges
    UNION ALL
    SELECT gid AS src, vec_id AS dst FROM g WHERE vec_id <> gid
),
edges AS (
    SELECT src, dst FROM raw_edges
    UNION ALL
    SELECT dst, src FROM raw_edges
),
reach(id, root) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (
    SELECT id AS vec_id, MIN(root) AS cluster_id FROM reach GROUP BY id
)"""


@register(
    "q_llm_dedup_semantic",
    oracle=f"""
WITH RECURSIVE
{_SEMANTIC_LABEL_CTES},
ranked AS (
    SELECT l.cluster_id, l.vec_id,
           ROW_NUMBER() OVER (
               PARTITION BY l.cluster_id
               ORDER BY sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) DESC,
                        l.vec_id) AS rn,
           COUNT(*) OVER (PARTITION BY l.cluster_id) AS sz
    FROM labels l JOIN embeddings e ON e.vec_id = l.vec_id
)
SELECT cluster_id,
       vec_id AS rep_vec_id,
       CAST(sz AS BIGINT) AS cluster_size
FROM ranked
WHERE rn = 1
""",
    note="SEMANTIC dedup end-to-end, DEFAULT path (de-quadratic'd per the "
    "round-3 verdict; identity-contracted per round 5): bit-identical "
    "vectors first collapse to their lowest-id representative (exact "
    "dedup ALWAYS precedes near-dedup in production — one hash shuffle), "
    "then edge candidates come from multi-probe IVF over the DISTINCT "
    "reps (ceil(sqrt(n_reps)) centroids, ADAPTIVE nprobe multi-assignment "
    "blocking — pair work n_reps^1.5*p^2, never all-pairs) with the exact "
    "rounded dot >= 0.35 as verify; identity edges (gid -> member) "
    "reconnect duplicates, then O(log n) star-contraction connected "
    "components and a KEEP-BEST election per cluster: the member with the "
    "largest L2 norm (identical sequential fold both sides, vec_id "
    "tiebreak). Identical vectors have identical dots, so contraction "
    "preserves the component structure while making the adversarial "
    "duplicate-saturated regime (the 8x probe: 8 exact copies of "
    "everything) collapse to the distinct-corpus cost instead of paying "
    "8^1.5 in candidates. The dial derives from the rep count "
    "(adaptive_nprobe: ==5 at every fixture SF, probed-fraction-constant "
    "past it -- recall held 0.995/1.0 at the 16k/128k tiers where the "
    "fixed dial fell to 0.58/0.37, SCALE.md 3.10). nprobe=5 is the "
    "AUDITED fixture operating point (pair "
    "recall 0.97/0.85 vs 0.34-0.37 at nprobe=2 — material: 726 vs 71 "
    "clusters at sf0.1; the 0.35 threshold sits in the near-orthogonal "
    "hard regime with NO high-sim easy band); the nprobe recall curve is "
    "audited by q_llm_ann_recall_nprobe",
    tags=("llm", "dedup", "similarity", "graph", "approx"),
)
def q_llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.similarity import (
        identity_contracted_semantic_edges,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # The dial is adaptive_nprobe(n_reps): 5 at every fixture SF, growing
    # with the rep count past it (SCALE.md 3.10).
    pairs = identity_contracted_semantic_edges(emb, threshold=0.35)
    return _semantic_cluster_reps(emb, pairs)


@register(
    "q_llm_split_leakage_safe",
    oracle=f"""
WITH RECURSIVE
{_SEMANTIC_LABEL_CTES}
SELECT vec_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CASE WHEN {id_hash_sql("cluster_id")} % 100 < 80 THEN 'train'
            WHEN {id_hash_sql("cluster_id")} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM labels
""",
    note="LEAKAGE-SAFE train/val/test split (new in round 5): the split "
    "hash is over the NEAR-DUP CLUSTER id (the identity-contracted "
    "multi-probe-IVF components of q_llm_dedup_semantic), so an entire "
    "near-duplicate cluster lands in ONE split — the defense "
    "q_llm_split_assign's source-level grouping cannot give when "
    "near-duplicates cross sources (train/test contamination through "
    "paraphrases is the classic eval-inflation bug). Composes two "
    "certified pieces: the semantic cluster labels (same shared oracle "
    "CTE chain — the two oracles cannot drift) and the portable id-hash "
    "split rule of the training family. 80/10/10 by cluster, so split "
    "fractions converge to the target only in cluster mass, not member "
    "count — exactly the bias a leakage-safe split must accept. At "
    "100 TB: the cluster labels are the dedup pipeline's existing "
    "artifact; the split itself is one map-side hash over them",
    tags=("llm", "training", "split", "dedup", "graph"),
)
def q_llm_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.graph import connected_components_star
    from join_example_spark.operators.sampling import id_hash
    from join_example_spark.operators.similarity import (
        identity_contracted_semantic_edges,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # The dial is adaptive_nprobe(n_reps): 5 at every fixture SF, growing
    # with the rep count past it (SCALE.md 3.10).
    pairs = identity_contracted_semantic_edges(emb, threshold=0.35)
    labels = connected_components_star(
        emb.select("vec_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="vec_id",
    )
    bucket = id_hash("cluster_id") % 100
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "q_llm_dedup_block_audit",
    oracle=f"""
WITH norm AS (
    SELECT doc_id, lang, n_chars // 20 AS bkt,
           list_aggregate(
             list_transform(list_distinct(str_split(LOWER(TRIM(text)), ' ')),
               t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(str_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                    (acc, b) -> (acc * 31 + b) % {_MH_P})),
             'min') AS mintok
    FROM documents
    WHERE source IN ('src0', 'src1')
),
coarse AS (
    SELECT COUNT(*) AS c FROM norm GROUP BY lang, bkt
),
fine AS (
    SELECT COUNT(*) AS c FROM norm GROUP BY lang, bkt, mintok
)
SELECT scheme, n_blocks, max_block, candidate_pairs
FROM (
    SELECT 'lang_len' AS scheme,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(MAX(c) AS BIGINT) AS max_block,
           CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS candidate_pairs
    FROM coarse
    UNION ALL
    SELECT 'lang_len_mintok' AS scheme,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(MAX(c) AS BIGINT) AS max_block,
           CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS candidate_pairs
    FROM fine
)
""",
    note="blocking-skew OBSERVABILITY for the dedup blockers: per-block "
    "sizes and the implied within-block candidate-pair count for the "
    "(lang, len-bucket) scheme vs the mintok-refined scheme — the number "
    "you check BEFORE a 100 TB dedup run to know whether a boilerplate-"
    "heavy corpus is about to go quadratic in one block (exact-bucket "
    "sizes; the ±1-bucket neighbor explode of the real pair join adds a "
    "constant factor, not skew)",
    tags=("llm", "dedup", "profile"),
)
def q_llm_dedup_block_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    poly = (
        "aggregate(split(t, ''), CAST(0 AS BIGINT),"
        f" (acc, c) -> (acc * 31 + CAST(ASCII(c) AS BIGINT)) % {_MH_P})"
    )
    norm = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("source").isin("src0", "src1"))
        .select(
            "doc_id",
            "lang",
            F.expr("n_chars DIV 20").alias("bkt"),
            F.expr(
                "array_min(transform(array_distinct(split(LOWER(TRIM(text)), ' ')),"
                f" t -> {poly}))"
            ).alias("mintok"),
        )
    )

    def scheme(name: str, keys: list[str]) -> DataFrame:
        sizes = norm.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
        return sizes.agg(
            F.lit(name).alias("scheme"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.max("c").cast("bigint").alias("max_block"),
            F.sum(F.expr("c * (c - 1) DIV 2")).cast("bigint").alias("candidate_pairs"),
        )

    return scheme("lang_len", ["lang", "bkt"]).unionByName(
        scheme("lang_len_mintok", ["lang", "bkt", "mintok"])
    )


@register(
    "q_llm_dedup_incremental",
    oracle="""
WITH corpus AS (
    SELECT doc_id, lang, n_chars, LOWER(TRIM(text)) AS ntext,
           list_distinct(string_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents WHERE source = 'src0'
),
batch AS (
    SELECT doc_id, lang, n_chars, LOWER(TRIM(text)) AS ntext,
           list_distinct(string_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents WHERE source = 'src1'
),
exact_dup AS (
    SELECT DISTINCT b.doc_id
    FROM batch b JOIN corpus c ON md5(b.ntext) = md5(c.ntext)
),
near_dup AS (
    SELECT DISTINCT b.doc_id
    FROM batch b JOIN corpus c
      ON b.lang = c.lang
     AND abs(b.n_chars - c.n_chars) <= 20
    WHERE CAST(LEN(list_intersect(b.toks, c.toks)) AS DOUBLE)
            / CAST(LEN(list_distinct(list_concat(b.toks, c.toks))) AS DOUBLE)
            >= 0.5
)
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
            WHEN n.doc_id IS NOT NULL THEN 'dup_near'
            ELSE 'kept' END AS status
FROM batch b
LEFT JOIN exact_dup e ON b.doc_id = e.doc_id
LEFT JOIN near_dup n ON b.doc_id = n.doc_id
""",
    note="INCREMENTAL ingest dedup — the production pattern for a "
    "continuously-growing corpus: dedupe the ARRIVING batch (src1) against "
    "the EXISTING corpus (src0) without re-deduping the corpus. Exact "
    "check is a semi-join on the content hash; near check is the same "
    "(lang, length-bucket +-1) blocked token-Jaccard as the batch path but "
    "CROSS-dataset (batch side keeps its single bucket, corpus side "
    "explodes +-1 — same one-match invariant). Exact beats near in the "
    "verdict. At 100 TB the corpus side is the stored hash/signature "
    "index, not a rescan — the plan shape (two semi-joins against compact "
    "keys) is already that",
    tags=("llm", "dedup"),
)
def q_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.dedup import incremental_dedup_verdicts

    docs = read_table(spark, sf_dir, "documents")
    return incremental_dedup_verdicts(
        batch=docs.where(F.col("source") == "src1"),
        corpus=docs.where(F.col("source") == "src0"),
    )


def _simhash_sigs(
    spark: SparkSession, sf_dir: str, nbits: int, prime: int
) -> DataFrame:
    """Per-doc SimHash signature via explode + codegen vote aggregation.

    Plan-shape note (round-15 plan audit): the original single-expression
    form computed the per-token char fold INSIDE the per-bit lambda —
    Catalyst inlines a once-referenced alias into lambda bodies, so the
    whole token-hash array was recomputed nbits× per row — and the
    pushed-down join-key ``isnotnull(sig)`` filter re-evaluated the entire
    signature again below the projection: ~2·nbits× the necessary per-char
    work. Exploding the distinct tokens evaluates the fold ONCE per
    (doc, token) and the nbits ±1 vote sums run as a map-side-partial
    HashAggregate (full codegen); the one added exchange carries
    (doc_id, nbits BIGINTs) — narrow rows, linear at any scale. Vote sums
    and bit assembly are the same integer arithmetic as before, so the
    signature is bit-identical (mirror-pinned at both fixture SFs).
    """
    toks = (
        read_table(spark, sf_dir, "documents")
        .where((F.col("source") == "src0") & (F.length(F.trim("text")) > 0))
        .select(
            "doc_id",
            F.explode(
                F.expr("array_distinct(split(LOWER(TRIM(text)), ' '))")
            ).alias("t"),
        )
    )
    hashed = toks.select(
        "doc_id",
        F.expr(
            "aggregate(split(t, ''), CAST(0 AS BIGINT),"
            f" (acc, c) -> (acc * 31 + CAST(ASCII(c) AS BIGINT)) % {prime})"
        ).alias("h"),
    )
    votes = [
        F.sum(
            F.expr(
                f"CASE WHEN (h div shiftleft(CAST(1 AS BIGINT), {i})) % 2 = 1"
                " THEN 1 ELSE -1 END"
            )
        ).alias(f"v{i}")
        for i in range(nbits)
    ]
    sig = " + ".join(
        f"IF(v{i} > 0, shiftleft(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
        for i in range(nbits)
    )
    return (
        hashed.groupBy("doc_id").agg(*votes).select("doc_id", F.expr(sig).alias("sig"))
    )


@register(
    "q_llm_dedup_simhash_exact",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_distinct(str_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents
    WHERE source = 'src0' AND LEN(TRIM(text)) > 0
), hashed AS (
    SELECT doc_id,
           list_transform(toks,
             t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(str_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                  (acc, b) -> (acc * 31 + b) % {_MH_P})) AS th
    FROM toks
), sigs AS (
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(0, 15),
               i -> CASE WHEN list_aggregate(list_transform(th,
                        h -> CASE WHEN (h // CAST(pow(2, i) AS BIGINT)) % 2 = 1
                             THEN 1 ELSE -1 END), 'sum') > 0
                    THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)),
             (a, b) -> a + b) AS sig
    FROM hashed
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
    FROM sigs a JOIN sigs b
      ON a.doc_id < b.doc_id
     AND ((a.sig // 1) % 16 = (b.sig // 1) % 16
       OR (a.sig // 16) % 16 = (b.sig // 16) % 16
       OR (a.sig // 256) % 16 = (b.sig // 256) % 16
       OR (a.sig // 4096) % 16 = (b.sig // 4096) % 16)
)
SELECT id_a, id_b,
       CAST(bit_count(CAST(xor(sig_a, sig_b) AS BIT)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(CAST(xor(sig_a, sig_b) AS BIT)) <= 3
""",
    note="PORTABLE 16-bit SimHash with exact multi-index banding — the "
    "compact dial of the certified family (q_llm_dedup_simhash carries "
    "the 32-bit/4x8-band default since its round-8 re-declaration; the "
    "xxhash64 64-bit path is a library operator, operators/dedup.py). "
    "Per-token polynomial hashes (same "
    "fold as the MinHash twin), bit i of the signature = sign of the "
    "+-1 vote sum over tokens, 4x4-bit bands, pigeonhole guarantees 100% "
    "recall at hamming radius 3, bit_count(xor) exact verify. All integer "
    "arithmetic (div/mod/pow-of-2) — bit-identical across engines",
    tags=("llm", "dedup"),
)
def q_llm_dedup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _simhash_sigs(spark, sf_dir, nbits=16, prime=_MH_P)
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), j -> STRUCT(j AS band_idx,"
                " (sig div shiftleft(CAST(1 AS BIGINT), j * 4)) % 16 AS band_val))"
            )
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


#: Token-hash modulus for the 32-bit SimHash: the Miller-Rabin-verified
#: 1e15-class prime (same as _SUBSTR_P below) — the shared 1e6+3 MinHash
#: prime has only ~20 uniform low bits, not the 32 the signature votes on.
#: Fold intermediates stay < 31p + 127 ~ 3.1e16 << 2^63 on both engines.
_SH32_P = 1_000_000_000_000_037


@register(
    "q_llm_dedup_simhash",
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_distinct(str_split(LOWER(TRIM(text)), ' ')) AS toks
    FROM documents
    WHERE source = 'src0' AND LEN(TRIM(text)) > 0
), hashed AS (
    SELECT doc_id,
           list_transform(toks,
             t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(str_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
                  (acc, b) -> (acc * 31 + b) % {_SH32_P})) AS th
    FROM toks
), sigs AS (
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(0, 31),
               i -> CASE WHEN list_aggregate(list_transform(th,
                        h -> CASE WHEN (h // CAST(pow(2, i) AS BIGINT)) % 2 = 1
                             THEN 1 ELSE -1 END), 'sum') > 0
                    THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)),
             (a, b) -> a + b) AS sig
    FROM hashed
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
    FROM sigs a JOIN sigs b
      ON a.doc_id < b.doc_id
     AND ((a.sig // 1) % 256 = (b.sig // 1) % 256
       OR (a.sig // 256) % 256 = (b.sig // 256) % 256
       OR (a.sig // 65536) % 256 = (b.sig // 65536) % 256
       OR (a.sig // 16777216) % 256 = (b.sig // 16777216) % 256)
)
SELECT id_a, id_b,
       CAST(bit_count(CAST(xor(sig_a, sig_b) AS BIT)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(CAST(xor(sig_a, sig_b) AS BIT)) <= 3
""",
    note="32-bit SimHash near-dups (hamming <= 3) via exact multi-index "
    "banding (4x8-bit bands; pigeonhole guarantees 100% recall at radius "
    "3) — re-declared in round 8 on the PORTABLE polynomial token hash "
    "mod the verified 1e15-class prime (32 uniform signature bits; the "
    "driver has no rows-only mode, proven round 7). Distinct dials from "
    "the 16-bit q_llm_dedup_simhash_exact; the xxhash64 64-bit fast path "
    "stays a library operator (operators/dedup.py simhash_band_pairs, "
    "unit-tested against brute force). Candidate generation is an "
    "equi-join on exploded band values, never block-quadratic all-pairs. "
    "Scoped to src0: the 31-word-vocab fixture corpus is "
    "SimHash-degenerate (12% of ALL pairs fall within hamming 8 on 64 "
    "bits — measured), so the bound keeps band buckets honest",
    tags=("llm", "dedup"),
)
def q_llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _simhash_sigs(spark, sf_dir, nbits=32, prime=_SH32_P)
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), j -> STRUCT(j AS band_idx,"
                " (sig div shiftleft(CAST(1 AS BIGINT), j * 8)) % 256 AS band_val))"
            )
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


# Cross-document substring-window dedup (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", ACL 2022 — the ExactSubstr
# variant, re-expressed distributed): fixed 40-char windows at stride 20,
# hashed with the portable 31-polynomial char fold. The suffix-array
# formulation of the paper is inherently sequential; stride-window
# shingle hashing is the standard shuffle-friendly approximation (a
# duplicated run ≥ 60 chars always contains a full aligned window, so
# long verbatim repeats cannot hide from it).
#
# Modulus: the shared str_hash prime (1e6+3) would produce ~2k FALSE
# window collisions at sf0.1 volume (65k windows, birthday at 1e6
# buckets); this fold uses a Miller-Rabin-verified 1e15-class prime
# instead — expected false collisions ~2e-6 per corpus — and skips
# str_hash's square-and-add finalizer, which would overflow int64 at
# this width (h*h with h ~ 1e15) and is unnecessary here: the hash feeds
# GROUP-BY equality, not a mod-100 bucket split, so affine clumping is
# irrelevant. Fold intermediates stay < 31p + 127 ~ 3.1e16 << 2^63
# under ANSI overflow checking.
_SUBSTR_P = 1_000_000_000_000_037
_SUBSTR_WIN, _SUBSTR_STRIDE = 40, 20
_SUBSTR_FOLD_SPARK = (
    f"aggregate(split(w, ''), CAST(0 AS BIGINT),"
    f" (acc, c) -> (acc * 31 + CAST(ASCII(c) AS BIGINT)) % {_SUBSTR_P})"
)
_SUBSTR_FOLD_DUCK = (
    f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
    f" list_transform(str_split(w, ''), c -> CAST(unicode(c) AS BIGINT))),"
    f" (acc, b) -> (acc * 31 + b) % {_SUBSTR_P})"
)


@register(
    "q_llm_dedup_substring",
    oracle=f"""
WITH wins AS (
    SELECT doc_id,
           unnest(list_transform(
               range(0, ((length(text) - {_SUBSTR_WIN}) // {_SUBSTR_STRIDE}) + 1),
               i -> substring(text, CAST(i * {_SUBSTR_STRIDE} + 1 AS INT),
                              {_SUBSTR_WIN}))) AS w
    FROM documents
    WHERE length(text) >= {_SUBSTR_WIN}
), hashed AS (
    SELECT doc_id, {_SUBSTR_FOLD_DUCK} AS h FROM wins
), stats AS (
    SELECT h, COUNT(DISTINCT doc_id) AS nd FROM hashed GROUP BY h
)
SELECT hw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       ROUND(CAST(SUM(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
FROM hashed hw JOIN stats s USING (h)
GROUP BY hw.doc_id
""",
    note="EXACT-SUBSTRING dedup audit (Lee et al. 2022, ExactSubstr "
    "re-expressed distributed): every 40-char window at stride 20 is "
    "hashed with a portable 31-polynomial char fold mod a verified "
    "1e15-class prime (false-collision expectation ~2e-6 per corpus — "
    "the shared 1e6+3 str_hash prime would fabricate ~2k dup windows at "
    "sf0.1); a window is duplicated when its hash occurs in >= 2 "
    "DISTINCT documents. Output: per-document window count, cross-doc "
    "duplicated-window count, and duplication fraction — the signal "
    "used to strip verbatim-repeated training spans that drive "
    "memorization. Cost shape: explode to len/stride narrow (doc_id, "
    "hash) rows, one hash-key shuffle for the occurrence histogram, one "
    "doc-key rollup — linear end-to-end, no pairwise work at any n "
    "(unlike MinHash/Jaccard this needs no candidate join at all)",
    tags=("llm", "dedup"),
)
def q_llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout_repartition(read_table(spark, sf_dir, "documents"))
    wins = docs.where(F.length("text") >= _SUBSTR_WIN).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(CAST(0 AS BIGINT),"
                f" (length(text) - {_SUBSTR_WIN}) DIV {_SUBSTR_STRIDE}),"
                f" i -> substring(text, CAST(i * {_SUBSTR_STRIDE} + 1 AS INT),"
                f" {_SUBSTR_WIN}))"
            )
        ).alias("w"),
    )
    # h is both the histogram groupBy key and the join-back equi-key:
    # Catalyst infers isnotnull(h) on the join inputs and pushes it below
    # this projection by substitution, re-running the whole per-char fold
    # in a Filter (round-15 plan audit). w is never NULL (substring of
    # length-guarded text via transform), and the fold is >= 0, so the
    # non-nullable coalesce (unreachable -1 sentinel) is value-identical
    # and stops the inference — the fold runs once per window per branch.
    hashed = wins.select(
        "doc_id",
        F.coalesce(F.expr(_SUBSTR_FOLD_SPARK), F.lit(-1).cast("bigint")).alias("h"),
    )
    # One pass instead of two (round-15 plan audit): the old
    # hashed-join-stats formulation referenced `hashed` twice, so the
    # whole scan → window-explode → char-fold subplan EXECUTED twice
    # (round-5 lesson: no DAG dedup without a checkpoint barrier). The
    # per-(h, doc_id) rollup keeps every quantity the join computed:
    # c = occurrences of window h in doc, nd = COUNT(*) over the rolled-up
    # rows per h = countDistinct(doc_id), n_windows = SUM(c),
    # n_dup_windows = SUM(c) over h-groups spanning >= 2 docs — identical
    # output, one fold pass, and the h-window sees pre-aggregated rows.
    from pyspark.sql import Window

    per = hashed.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    per = per.withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("h")))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


@register(
    "q_llm_dedup_prefix",
    oracle="""
WITH toks AS (
    SELECT doc_id, list_distinct(str_split(LOWER(TRIM(text)), ' ')) AS t
    FROM documents
    WHERE source IN ('src0', 'src1')
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(LEN(list_intersect(a.t, b.t)) AS DOUBLE)
         / CAST(LEN(list_distinct(list_concat(a.t, b.t))) AS DOUBLE) AS jaccard
FROM toks a
JOIN toks b ON a.doc_id < b.doc_id
WHERE 2 * LEN(list_intersect(a.t, b.t))
      >= LEN(list_distinct(list_concat(a.t, b.t)))
ORDER BY id_a, id_b
""",
    note="PPJoin-style PREFIX-FILTERED set-similarity self-join (token "
    "Jaccard >= 1/2): vocabulary ranked by ascending document frequency, "
    "each doc keeps only its s DIV 2 + 1 rarest tokens as the candidate "
    "join key, plus the 2*s_b >= s_a length filter, then exact "
    "integer-cross-multiplied Jaccard verify. The oracle is the NAIVE "
    "QUADRATIC all-pairs ground truth, so the hash match is a per-row "
    "proof that prefix filtering is lossless — unlike the lang+length "
    "blocking of q_llm_dedup_near (which certifies only its blocked "
    "subset). 100 TB shape: no stage is quadratic in the corpus; "
    "candidate fan-out rides on the RAREST tokens per doc, the one join "
    "key distribution that flattens as the vocabulary grows. jaccard is "
    "one IEEE division of identical integers — bit-stable unrounded",
    tags=("llm", "dedup"),
)
def q_llm_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.dedup_prefix import prefix_filter_pairs

    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("source").isin("src0", "src1"))
        .select(
            "doc_id",
            F.expr("array_distinct(split(LOWER(TRIM(text)), ' '))").alias("toks"),
        )
    )
    return prefix_filter_pairs(docs, id_col="doc_id", toks_col="toks")


@register(
    "q_llm_dedup_cosine_lossless",
    oracle=f"""
SELECT a.vec_id AS id_a,
       b.vec_id AS id_b,
       ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) AS sim
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND({_DUCK_DOT.format(a="a.embedding", b="b.embedding")}, 4) >= 0.40
""",
    note="LOSSLESS metric-pruned cosine all-pairs join, GLOBAL (no label "
    "blocking) at sim >= 0.40 — the dense-vector analog of "
    "q_llm_dedup_prefix's PPJoin certificate: the oracle is the naive "
    "quadratic all-pairs ground truth, so the hash match is a per-row "
    "proof that the candidate pruning (identity contraction + "
    "ceil(sqrt(n)) deterministic centroids + triangle-inequality cell "
    "admissibility ||c1-c2|| - r1 - r2 <= sqrt(2-2*tau') + exact "
    "rounded-dot verify) drops no qualifying pair. Dense unit vectors "
    "admit no sparse prefix filter, so the lossless pruning is METRIC "
    "(operators/cosine_pairs.py docstring has the geometry and the "
    "honest isotropic-corpus degradation analysis, SCALE.md §3.7 the "
    "measurements). sim is the shared sequential-fold dot, rounded — "
    "the certified cross-engine expression",
    tags=("llm", "dedup", "similarity"),
)
def q_llm_dedup_cosine_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.cosine_pairs import cosine_lossless_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_lossless_pairs(emb, threshold=0.40, block_col=None)


@register(
    "q_llm_dedup_editdist",
    oracle="""
WITH norm AS (
    SELECT doc_id, lang, LOWER(TRIM(text)) AS n
    FROM documents WHERE text IS NOT NULL
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist
FROM norm a
JOIN norm b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE levenshtein(a.n, b.n) <= 20
""",
    note="LOSSLESS within-lang near-dup pairs by EDIT DISTANCE <= 20 over "
    "normalized text (the fuzzy-title/url dedup a curation pipeline runs "
    "where token-set Jaccard is too coarse). Spark plan: length-band "
    "blocking at width 20 on (lang, band) — provably lossless via "
    "dist >= |len_a - len_b| — then the THRESHOLDED 3-arg levenshtein "
    "(banded DP, O(20*len) per candidate, -1 sentinel pruned). Oracle is "
    "the NAIVE within-lang quadratic, so the hash match is a per-row "
    "proof the banding drops nothing (same certificate family as "
    "q_llm_dedup_prefix / q_llm_dedup_cosine_lossless). Cross-engine "
    "parity of levenshtein itself was swept over all 2,737 sf0.01 "
    "candidates (incl. the zh block) with zero divergence: both engines "
    "count unicode codepoint edits",
    tags=("llm", "dedup"),
)
def q_llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.dedup import editdist_band_pairs

    docs = fanout_repartition(read_table(spark, sf_dir, "documents"))
    return editdist_band_pairs(docs, threshold=20)


@register(
    "q_llm_dedup_containment",
    oracle="""
WITH toks AS (
    SELECT doc_id, list_distinct(str_split(LOWER(TRIM(text)), ' ')) AS t
    FROM documents
    WHERE source IN ('src0', 'src1')
)
SELECT a.doc_id AS id_sub,
       b.doc_id AS id_sup,
       CAST(LEN(list_intersect(a.t, b.t)) AS DOUBLE)
         / CAST(LEN(a.t) AS DOUBLE) AS containment
FROM toks a
JOIN toks b ON a.doc_id <> b.doc_id
WHERE 5 * LEN(list_intersect(a.t, b.t)) >= 4 * LEN(a.t)
ORDER BY id_sub, id_sup
""",
    note="DIRECTED set-containment join (|T_sub ∩ T_sup| / |T_sub| >= 4/5) "
    "— the subset/quote-duplication detector symmetric Jaccard misses "
    "(a verbatim quote inside a much larger page has Jaccard ~0 but "
    "containment 1). Spark plan: identity contraction, then the "
    "one-sided prefix filter (contained side keeps its s - ceil(t*s) + 1 "
    "rarest tokens; the container side has no t-derived bound and "
    "indexes ALL tokens — the classic inverted-index posting list), "
    "one-sided integer size filter den*s_b >= num*s_a, exact "
    "cross-multiplied verify. Oracle is the NAIVE QUADRATIC ordered-pair "
    "ground truth, so the hash match is a per-row losslessness proof "
    "(same certificate family as q_llm_dedup_prefix). containment is one "
    "IEEE division of identical integers — bit-stable unrounded. 100 TB "
    "shape: candidate volume rides the contained side's RAREST tokens "
    "against container posting lists; the next rungs are PPJoin "
    "positional filters and lang partitioning if posting lists dominate",
    tags=("llm", "dedup"),
)
def q_llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from join_example_spark.operators.dedup_prefix import (
        containment_prefix_pairs,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("source").isin("src0", "src1"))
        .select(
            "doc_id",
            F.expr("array_distinct(split(LOWER(TRIM(text)), ' '))").alias("toks"),
        )
    )
    return containment_prefix_pairs(docs, id_col="doc_id", toks_col="toks")
