"""Document chunking: split long documents into fixed-token windows
with overlap — the step between curation and sequence packing when
documents exceed the training context length.

Pure ``sequence`` + ``explode`` + ``slice`` over the token array (the
same JVM-expression shape as the hour explode, operators/usage.py):
chunk starts step by ``size - overlap``; each chunk re-joins its token
slice. Linear in tokens with constant factor ``1/(1-overlap_frac)``,
no UDF, no shuffle at all — chunking is embarrassingly parallel and
the plan is a single projection stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from white_elephant_spark.functions.sqltext import ident
from white_elephant_spark.functions.text import tokens

__all__ = ["chunk_documents"]


def chunk_documents(
    df: DataFrame,
    size: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode each document into (id, chunk_idx, chunk_text,
    n_tokens) windows of ``size`` tokens stepping by ``size -
    overlap``. The final window is **end-aligned**: it starts at
    ``len - size + 1`` so it is always full-width (sliding-window
    convention — no short tail chunk; the cost is that the last pair
    of chunks may overlap by more than ``overlap``). A doc shorter
    than ``size`` yields exactly one (short) chunk. Every token lands
    in at least one chunk; consecutive chunks share at least
    ``overlap`` tokens when the doc spans multiple chunks.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap({overlap}) < size({size})")
    step = size - overlap
    # Start positions (1-based): 1, 1+step, ... while start <= n - overlap
    # (so the last chunk has more than just overlapping tokens, except
    # for docs shorter than size which get the single start 1).
    last_start = f"greatest(1, size(toks) - {size} + 1)"
    n_chunks = f"floor(({last_start} - 1 + {step - 1}) / {step}) + 1"
    starts = (
        f"transform(sequence(0, CAST({n_chunks} AS INT) - 1),"
        f" _i -> CAST(least(_i * {step} + 1, {last_start}) AS INT))"
    )
    return (
        df.selectExpr(f"{ident(id_col)} AS id", f"{tokens(ident(text_col))} AS toks")
        .filter("size(toks) > 0")
        .selectExpr("id", "toks", f"posexplode({starts}) AS (chunk_idx, `start`)")
        .selectExpr(
            "id",
            "CAST(chunk_idx AS BIGINT) AS chunk_idx",
            f"concat_ws(' ', slice(toks, `start`, {size})) AS chunk_text",
            f"CAST(least(size(toks) - `start` + 1, {size}) AS BIGINT) AS n_tokens",
        )
    )
