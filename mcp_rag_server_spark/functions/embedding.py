"""Embedding stage — Arrow-batched pandas_udf, pluggable model.

Reference: ``Embeddings.embed`` (src/embeddings.ts:62-67) mean-pools and
L2-normalizes a transformer's token states, one chunk at a time in a
sequential loop (src/indexer.ts:293-303 — the reference's own noted
bottleneck, src/indexer.ts:22). Here embedding is a *batched* vectorized
UDF: Arrow ships text batches to Python workers, the model runs per
batch, and every executor embeds its partitions in parallel — the 10 to
100x over row-at-a-time Python that makes 100 TB ingest feasible.

Two models:

- ``hash_embedder`` (default, deterministic): a bag-of-hashed-words
  vector — token t votes into bucket = first hex digit of md5(t), then
  L2 normalization. Chosen because it is *relationally expressible*:
  ``operators/embed.py::_ORACLE`` computes the identical vector in pure
  DuckDB SQL via :func:`duckdb_hash_bucket`, so the pandas_udf path is
  golden-testable end to end (the fixture-bypass idea of SURVEY.md §7.3
  step 4, strengthened from "skip the model" to "use a model with a SQL
  twin").
- ``sentence_transformer_embedder(model_name)``: the real path, gated
  behind an import-try (the library and model weights are not in this
  container); loads once per worker process, mean-pool + normalize
  exactly like the reference pipeline call (src/embeddings.ts:65).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

HASH_DIM = 16

Embedder = Callable[[pd.Series], pd.Series]


#: token → bucket memo, shared across batches within a Python worker.
#: Natural-language vocabulary repeats heavily, so after the first few
#: batches nearly every lookup is a dict hit instead of an md5.
_BUCKET_MEMO: dict[str, int] = {}


def _hash_embed_batch(texts: pd.Series) -> pd.Series:
    """Deterministic bag-of-hashed-words embedding (dim 16, L2-normed)."""
    memo = _BUCKET_MEMO

    def one(text: str | None) -> list[float]:
        v = np.zeros(HASH_DIM, dtype=np.float64)
        if text:
            for tok in text.split():
                b = memo.get(tok)
                if b is None:
                    b = int(hashlib.md5(tok.encode()).hexdigest()[0], 16)
                    memo[tok] = b
                v[b] += 1.0
        n = np.sqrt(float((v * v).sum()))
        if n > 0:
            v = v / n
        return [float(x) for x in v]

    return texts.map(one)


def hash_embedder() -> Embedder:
    return _hash_embed_batch


def sentence_transformer_embedder(
    model_name: str = "sentence-transformers/all-MiniLM-L6-v2",
    batch_size: int = 64,
) -> Embedder:
    """Real model path: sentence-transformers with mean pooling + L2
    normalization (reference src/embeddings.ts:65). The model loads once
    per Python worker (module-global cache) and is reused across Arrow
    batches. Raises NotImplementedError when the library is absent."""
    try:
        import sentence_transformers  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "sentence-transformers is not installed in this environment; "
            "use hash_embedder() or inject a custom Embedder"
        ) from e

    _cache: dict[str, object] = {}

    def embed(texts: pd.Series) -> pd.Series:  # pragma: no cover
        from sentence_transformers import SentenceTransformer

        model = _cache.setdefault(model_name, SentenceTransformer(model_name))
        vecs = model.encode(
            texts.fillna("").tolist(),
            batch_size=batch_size,
            normalize_embeddings=True,
        )
        return pd.Series([[float(x) for x in v] for v in vecs])

    return embed


def embed_udf(embedder: Embedder | None = None):
    """array<float> pandas_udf wrapping ``embedder`` (default: hash)."""
    chosen = embedder or hash_embedder()

    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        return chosen(texts)

    return _embed


def with_embedding(
    df, text_col: str = "text", out_col: str = "embedding", embedder: Embedder | None = None
):
    """Add an embedding column — the batch analog of the reference's
    embed loop (src/indexer.ts:293-303), distributed.

    A frame that already has ``out_col`` is returned unchanged when no
    ``embedder`` is passed: a chunk store carries the vector embedded
    once at ingest (the reference's ``Doc.emb``, src/types.ts:19), so a
    query over it plans no Python stage. An explicit ``embedder``
    always recomputes the column."""
    if embedder is None and out_col in df.columns:
        return df
    return df.withColumn(out_col, embed_udf(embedder)(F.col(text_col)))


def hash_embed_query_vec(text: str) -> list[float]:
    """Driver-side query embedding (reference embeds the query string
    once on the caller side, src/index.ts:266)."""
    return _hash_embed_batch(pd.Series([text]))[0]


# --- SQL twin of the hash embedder ------------------------------------------


def duckdb_hash_bucket(token_sql: str) -> str:
    return f"(strpos('0123456789abcdef', substring(md5({token_sql}), 1, 1)) - 1)"
