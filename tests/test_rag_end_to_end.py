"""End-to-end reference lifecycle on a real corpus: ingest (discover →
chunk → store) → embed (Arrow pandas_udf) → rag_query (embed query
driver-side → cosine top-k), validated against a NumPy re-implementation
of the whole pipeline — the full §3.0 + §3.1 flow of the reference in
one test."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from mcp_rag_server_spark.functions.embedding import (
    HASH_DIM,
    hash_embedder,
    with_embedding,
)
from mcp_rag_server_spark.operators.embed import rag_query_corpus
from mcp_rag_server_spark.sources.ingest import IngestParams, build

DOCS = {
    "animals.txt": "the quick brown fox jumps over the lazy dog " * 6,
    "cooking.md": "simmer the garlic butter sauce then add fresh basil pasta " * 5,
    "space.txt": "rockets orbit the earth while satellites relay signals " * 5,
    "foxes.md": "a clever brown fox naps beside another sleepy fox " * 4,
}

PARAMS = IngestParams(
    chunk_size=160, chunk_overlap=40, allowed_ext=("txt", "md")
)


def np_hash_embed(text: str) -> np.ndarray:
    v = np.zeros(HASH_DIM)
    for tok in text.split():
        v[int(hashlib.md5(tok.encode()).hexdigest()[0], 16)] += 1.0
    n = math.sqrt(float((v * v).sum()))
    return v / n if n > 0 else v


def np_cosine(a: np.ndarray, b: np.ndarray) -> float:
    num = float((a.astype(np.float64) * b.astype(np.float64)).sum())
    den = math.sqrt(float((a * a).sum())) * math.sqrt(float((b * b).sum())) + 1e-10
    return num / den


def test_rag_query_corpus_end_to_end(spark, tmp_path):
    root = tmp_path / "corpus"
    root.mkdir()
    for rel, text in DOCS.items():
        (root / rel).write_text(text)

    chunks = build(spark, str(root), str(tmp_path / "store"), PARAMS)
    embedded = with_embedding(chunks)

    query = "brown fox"
    got = rag_query_corpus(embedded, query, k=3).collect()

    # NumPy oracle over the same chunk set.
    rows = chunks.collect()
    qv = np_hash_embed(query)
    scored = sorted(
        (
            (round(np_cosine(np_hash_embed(r["text"]).astype(np.float32), qv), 4), r)
            for r in rows
        ),
        key=lambda t: (-t[0], t[1]["id"]),
    )[:3]
    assert [(r["id"], r["score"]) for r in got] == [
        (r["id"], s) for s, r in scored
    ]
    # The fox documents must dominate a fox query.
    top_paths = {r["rel_path"] for r in got}
    assert top_paths <= {"animals.txt", "foxes.md"}
    assert got[0]["score"] > 0.5
    # Result contract fields (reference src/index.ts:269-275 analog).
    assert set(got[0].asDict()) == {"id", "rel_path", "chunk", "score", "snippet"}


def test_rag_query_over_store_runs_no_python(spark, tmp_path):
    """The store's chunks carry their vectors, so ``rag_query`` over
    ``with_embedding(build(...))`` executes with no Python UDF node, and
    its top-k equals the path that recomputes every vector with the
    UDF."""
    root = tmp_path / "corpus"
    root.mkdir()
    for rel, text in DOCS.items():
        (root / rel).write_text(text)
    chunks = build(spark, str(root), str(tmp_path / "store"), PARAMS)

    query = "brown fox"
    stored = rag_query_corpus(with_embedding(chunks), query, k=3)
    got = stored.collect()
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    recomputed = with_embedding(chunks, embedder=hash_embedder())
    assert "ArrowEvalPython" in recomputed._jdf.queryExecution().executedPlan().toString()
    assert got == rag_query_corpus(recomputed, query, k=3).collect()


def test_embedding_stage_schema_and_nulls(spark):
    df = spark.createDataFrame(
        [(0, "hello world"), (1, None), (2, "")], "id long, text string"
    )
    out = with_embedding(df).collect()
    by_id = {r["id"]: r["embedding"] for r in out}
    assert len(by_id[0]) == HASH_DIM
    assert sum(x * x for x in by_id[0]) == pytest.approx(1.0, rel=1e-6)
    assert by_id[1] == [0.0] * HASH_DIM  # null text -> zero vector
    assert by_id[2] == [0.0] * HASH_DIM
