"""Random-projection (Johnson–Lindenstrauss) dimensionality reduction.

Dense-embedding pipelines at corpus scale often spend most of their
FLOPs and broadcast bytes on dimensions that a distance-preserving
random projection removes: JL (Johnson & Lindenstrauss 1984; database
form e.g. Achlioptas 2001, public) guarantees pairwise distances survive
projection to O(log n / eps²) dimensions. Here it is the front half of
the ANN ladder: project once (map-only GEMM), then every downstream
cosine/top-k/clustering pass costs ``out_dim/in_dim`` of the original —
and the flat-search broadcast ceiling moves by the same factor.

Determinism: the projection matrix is md5-derived via the SAME
``random_hyperplanes`` generator the LSH bucketer uses (driver-side
Python floats embedded as literals in both the Spark plan and the DuckDB
oracle), entries uniform on [-1, 1) with the variance-correcting
``sqrt(3/out_dim)`` scale, and projected components are rounded to
``round_to`` dp — bit-identical across engines, partitionings and
retries.

Scale design: ONE Arrow-batched mapInPandas GEMM against a broadcast
(out_dim × in_dim) literal matrix — zero exchanges, linear in corpus
size; the matrix is a few KB at any realistic width.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import random_hyperplanes


def projection_matrix(in_dim: int, out_dim: int, seed: str = "jl") -> list[list[float]]:
    """Deterministic (out_dim × in_dim) projection rows — same float
    literals on every engine (see random_hyperplanes)."""
    return random_hyperplanes(in_dim, out_dim, n_tables=1, seed=seed)[0]


def jl_scale(out_dim: int) -> float:
    """Variance correction for uniform [-1,1) entries (E[r²] = 1/3):
    ``sqrt(3/k)`` makes the projected squared norm an unbiased estimate
    of the original."""
    return math.sqrt(3.0 / out_dim)


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int,
    seed: str = "jl",
    round_to: int = 6,
    out_col: str = "projected",
) -> DataFrame:
    """Project ``vec_col`` (array<float/double>) to ``out_dim`` dims:
    one vectorized float64 GEMM per Arrow batch, components rounded to
    ``round_to`` dp. Output column is array<double>."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
        _round_half_away,
    )

    # matrix width comes from the data; built lazily per observed dim
    scale = jl_scale(out_dim)
    mat_by_dim: dict[int, object] = {}
    seed_ = seed
    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            d = x.shape[1]
            if d not in mat_by_dim:
                mat_by_dim[d] = np.asarray(
                    projection_matrix(d, out_dim, seed_), dtype=np.float64
                )
            y = _round_half_away(x @ mat_by_dim[d].T * scale, round_to)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(y)})

    return df.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, {out_col} array<double>"
    )


def vector_search_topk_projected(
    query_df: DataFrame,
    index_df: DataFrame,
    k: int = 3,
    shortlist: int = 10,
    out_dim: int = 16,
    seed: str = "jl",
    query_id_col: str = "qid",
    index_id_col: str = "vec_id",
    query_col: str = "embedding",
    index_col: str = "embedding",
    round_sim: int = 6,
) -> DataFrame:
    """Two-stage ANN: cosine SHORTLIST in the JL-projected space (cheap —
    ``out_dim/in_dim`` of the flat cost, and the broadcast index shrinks
    by the same factor), then EXACT full-space cosine re-rank of the
    ``shortlist`` candidates per query. The standard retrieve→re-rank
    composition for dense search; recall is governed by
    ``shortlist``/``out_dim`` and both stages are 6-dp-rounded with id
    tie-breaks, so the result is deterministic and oracle-replayable.

    Returns (query_id, index_id, sim_exact, rank<=k)."""
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from flink_sql_ai_meetingcoach_azure_spark.functions.vectors import (  # noqa: PLC0415
        cosine_similarity_col,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
        vector_search_topk_flat,
    )

    qp = random_projection(
        query_df.select(query_id_col, query_col),
        query_id_col,
        query_col,
        out_dim,
        seed,
        out_col="pv",
    )
    ip = random_projection(
        index_df.select(index_id_col, index_col),
        index_id_col,
        index_col,
        out_dim,
        seed,
        out_col="pv",
    )
    cands = vector_search_topk_flat(
        qp,
        ip,
        k=shortlist,
        query_col="pv",
        index_col="pv",
        payload_cols=[index_id_col],
        sim_col="proj_sim",
        rank_col="proj_rank",
        round_sim=round_sim,
    ).select(query_id_col, index_id_col)
    full = (
        cands.join(
            index_df.select(index_id_col, F.col(index_col).alias("__iv")),
            on=index_id_col,
        )
        .join(
            query_df.select(query_id_col, F.col(query_col).alias("__qv")),
            on=query_id_col,
        )
        .withColumn(
            "sim_exact", F.round(cosine_similarity_col("__qv", "__iv"), round_sim)
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("sim_exact"), F.asc(index_id_col)
    )
    return (
        full.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, index_id_col, "sim_exact", "rank")
    )
