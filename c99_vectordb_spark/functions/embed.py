"""V1/V5 — signed hashing-trick bag-of-words embedding.

Reference pipeline (/root/reference/memo_cli.py:158-167): lowercase →
``[a-z0-9_]+`` tokens → signed hash into DIM buckets → L2 normalize.
The salted builtin ``hash()`` is replaced by the stable spec in
``hashing.py`` (SURVEY.md §1.3 — intentional behavioral fix).

``embed_pandas_udf`` is an Arrow-batched pandas UDF with a per-batch
token-hash cache, producing exact integer count vectors
(ARRAY<BIGINT>) equal to the driver-side reference
``hashing.embed_text_int``. Map-only (no shuffle): at 100 TB a bulk
embedding build is one narrow stage over the documents table, no wide
exchange anywhere. The L2-normalized float view is a derived
expression (``normalized``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..model import DIM
from . import text as Ft


def embed_pandas_udf(dim: int = DIM):
    """Arrow-batched pandas UDF computing the signed-BoW integer embedding.

    Vectorized per batch with a token→(bucket, signed) cache; exact
    integer parity with ``hashing.embed_text_int`` (tested in
    tests/test_embed.py).
    """
    import numpy as np

    from ..hashing import token_hash, tokenize

    @F.pandas_udf("array<long>")
    def _embed(bodies: pd.Series) -> pd.Series:
        cache: dict[str, tuple[int, int]] = {}
        out = []
        for body in bodies:
            vec = np.zeros(dim, dtype=np.int64)
            if body:
                for tok in tokenize(body):
                    hit = cache.get(tok)
                    if hit is None:
                        h = token_hash(tok)
                        hit = (h % dim, 1 if h & 1 else -1)
                        cache[tok] = hit
                    vec[hit[0]] += hit[1]
            out.append(vec)
        return pd.Series(out)

    return _embed


def normalized(vec: Column) -> Column:
    """L2-normalized DOUBLE view of an integer/float vector column.

    Zero-guard at norm <= 1e-8 mirrors the reference
    (memo_cli.py:131-135): zero vectors pass through unscaled.
    """
    norm = F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    return F.when(norm <= 1e-8, F.transform(vec, lambda x: x.cast("double"))).otherwise(
        F.transform(vec, lambda x: x.cast("double") / norm)
    )


def build_embeddings(
    records: DataFrame,
    id_col: str = "id",
    body_col: str = "body",
    dim: int = DIM,
) -> DataFrame:
    """V5 — batch embedding/index build (memo_cli.py:272-285).

    Skips blank bodies exactly like the reference's rebuild
    (memo_cli.py:278-280). Map-only job: scan → project; embeddings
    are co-partitioned with their source split, so a downstream
    write preserves partitioning with no exchange.
    """
    emb = embed_pandas_udf(dim)(F.col(body_col))
    return (
        records.filter(~Ft.is_blank(F.col(body_col)))
        .select(F.col(id_col).alias("id"), emb.alias("vec"))
    )
