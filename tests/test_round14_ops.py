"""Round-14 pins.

q_llm_quality_model third-implementation pin: the oracle mirror proves
Spark == DuckDB; this recomputes a sample of documents' scores in pure
Python (tokenize -> portable char-fold hash -> frozen affine weights) so a
spec bug shared by both SQL twins can't hide.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _py_str_hash(s: str, p: int = 1_000_003) -> int:
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) % p
    return ((h * h) % p * 31 + h) % p


def test_quality_model_python_twin(spark):
    """Third-implementation check: per-doc (n_toks, n_bigrams, score_raw,
    keep) from pure Python over the raw fixture text must equal the Spark
    plan's output for a deterministic sample of documents. Round 15
    (VERDICT r14 task 4): the model gained fastText-style token-BIGRAM
    features — unigrams hash into [0, 8192), adjacent-token bigrams into
    [8192, 16384), one weight table over the doubled space."""
    import pyarrow.parquet as pq

    from join_example_spark.queries.llm_text import _QM_A, _QM_B, _QM_BUCKETS, _QM_P
    from join_example_spark.registry import load_all

    def _w(f: int) -> int:
        return ((f * _QM_A + _QM_B) % _QM_P) % 128 - 64

    tbl = pq.read_table(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    sample = {r["doc_id"]: r["text"] for r in tbl if r["doc_id"] % 25 == 0}
    want = {}
    for doc_id, text in sample.items():
        if text is None:
            continue
        toks = text.strip().lower().split(" ")
        score = 0
        for t in toks:
            score += _w(_py_str_hash(t) % _QM_BUCKETS)
        for a, b in zip(toks, toks[1:]):
            score += _w(_QM_BUCKETS + _py_str_hash(a + " " + b) % _QM_BUCKETS)
        n_bigrams = max(len(toks) - 1, 0)
        want[doc_id] = (len(toks), n_bigrams, score, score >= 0)
    got = {
        r.doc_id: (r.n_toks, r.n_bigrams, r.score_raw, r.keep)
        for r in load_all()["q_llm_quality_model"]
        .fn(spark, SF_SMOKE)
        .where(F.col("doc_id") % 25 == 0)
        .collect()
    }
    assert want and got == want
