"""Int8 embedding quantization + quantized vector search.

Symmetric per-vector int8 quantization (q_i = round(x_i / s), s =
max|x|/127) shrinks a broadcast ANN index 4× vs float32 — at 100 TB that
moves the broadcast ceiling 4× before the IVF on-disk path
(:func:`~.vector_search.write_ivf_index`) has to take over, and it is the
standard serving trick for embedding stores. Reconstruction x̂ = q·s is
exact float64 arithmetic on both engines, so quantized similarities are
oracle-reproducible: the DuckDB oracle computes ``round(x/s)*s`` and the
engine computes ``int8 * s`` — identical doubles, and the 6-dp similarity
round absorbs GEMM summation-order ulps exactly as the LSH/GEMM operators
do.

Quantization itself is pure Catalyst expressions (map-only, codegen); only
the search broadcast materializes int8 numpy matrices.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
    MAX_BROADCAST_INDEX_ROWS,
    _collect_index_rows,
    _flat_hits,
    _flat_schema,
    _gemm_topk,
    _norms,
    _payload_order,
    _presorted,
    _read_sidecar,
    _round_half_away,
    _topk,
    _write_sidecar,
)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Append symmetric int8 quantization columns: ``q_col ARRAY<TINYINT>``
    and ``scale_col DOUBLE`` (s = max|x|/127; an all-zero vector gets s=0
    and all-zero codes). Pure column expressions — stays inside the scan's
    WholeStageCodegen at any scale."""
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    s = (maxabs / F.lit(127.0)).alias(scale_col)
    q = F.when(
        maxabs == 0,
        F.transform(v, lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            v, lambda x: F.round(x.cast("double") / (maxabs / F.lit(127.0))).cast("tinyint")
        )
    )
    return df.withColumn(scale_col, s).withColumn(q_col, q)


def dequantize_col(q_col: str | Column, scale_col: str | Column) -> Column:
    """x̂ = q · s as ARRAY<DOUBLE> — exact reconstruction arithmetic."""
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    return F.transform(q, lambda e: e.cast("double") * s)


def vector_search_topk_quantized(
    query_df: DataFrame,
    index_df: DataFrame,
    k: int = 3,
    query_col: str = "embedding",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    sim_col: str = "similarity",
    rank_col: str = "search_rank",
    round_sim: int = 6,
    max_index_rows: int | None = MAX_BROADCAST_INDEX_ROWS,
) -> DataFrame:
    """Flat top-k cosine search against an int8-QUANTIZED broadcast index.

    The driver collects (payload, int8 codes, scale) — 4× smaller than the
    float32 index, so ``max_index_rows`` stretches accordingly — and each
    Arrow batch dequantizes to float64 and GEMMs executor-side. Queries
    stay full-precision. Output shape/tie-break matches
    :func:`~.vector_search.vector_search_topk_flat`: one row per (query,
    hit), ranked by (similarity desc, payload asc) after the ``round_sim``
    rounding through the shared :func:`~.vector_search._topk` kernel —
    deterministic across engines and runs.
    """
    payload_cols = payload_cols or [c for c in index_df.columns if c != index_col]
    spark = query_df.sparkSession

    qz = quantize_embeddings(index_df, index_col, "__q", "__s")
    idx_rows = _collect_index_rows(
        qz.select(*payload_cols, "__q", "__s"), [*payload_cols, "__q", "__s"], max_index_rows
    )
    out_schema = _flat_schema(query_df, index_df, payload_cols, sim_col, rank_col)
    if not idx_rows:
        # empty index: the result is empty with the full output schema
        return spark.createDataFrame([], out_schema)
    idx_rows, pay = _presorted(idx_rows, payload_cols)
    codes = np.asarray([r["__q"] for r in idx_rows], dtype=np.int8)
    scales = np.asarray([r["__s"] for r in idx_rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((codes, scales, pay))

    def _search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codes_l, scales_l, pay_l = bc.value
        # dequantize ONCE per executor/batch-stream, not per batch
        mat = codes_l.astype(np.float64) * scales_l[:, None]
        for pdf in batches:
            if pdf.empty:
                continue
            qm = np.asarray(list(pdf[query_col]), dtype=np.float64)
            top, sims = _gemm_topk(qm, mat, k, round_sim)
            yield _flat_hits(pdf, top, sims, pay_l, sim_col, rank_col)

    return query_df.mapInPandas(_search, schema=out_schema)


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid — "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011).  Splits the d-dim space into m
# subspaces and stores ONE BYTE per subspace: at d=64/m=8 the broadcast
# index shrinks 32× vs float32 (8 code bytes vs 256), which is the real
# 100-TB broadcast-ceiling mover — int8 scalar quantization only buys 4×.
# Scoring is ADC (asymmetric distance computation): the query stays
# full-precision; per query one (m × ksub) lookup table of subspace dot
# products is built and each index row's score is m table gathers — no
# per-row float GEMM over d dims at all.
# ---------------------------------------------------------------------------

#: distances are rounded to 9 dp before the encode argmin on BOTH engines
#: (here and in the DuckDB oracle) so a last-ulp summation-order difference
#: can never flip a centroid assignment between engines
PQ_D2_ROUND = 9


def _pq_split(codebooks) -> np.ndarray:
    cb = np.asarray(codebooks, dtype=np.float64)
    if cb.ndim != 3:
        raise ValueError("codebooks must be (m, ksub, dsub)")
    return cb


def pq_codebooks_from_rows(
    index_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> np.ndarray:
    """Deterministic DATA-DEFINED codebooks: subspace slices of the ``ksub``
    lowest-``id_col`` vectors.  No training randomness, no iteration — a
    pure function of the table, so an external SQL engine can reproduce
    the codebook, the assignment, and therefore the entire PQ ranking.
    Use for verification paths; use :func:`train_pq_codebooks` (k-means)
    for recall-quality codebooks in production."""
    rows = (
        index_df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(ksub)
        .collect()
    )
    x = np.asarray([r[1] for r in rows], dtype=np.float64)  # (ksub, d)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    # (m, ksub, dsub): codebook j = the j-th dsub-slice of each row
    return np.stack([x[:, j * dsub : (j + 1) * dsub] for j in range(m)])


def train_pq_codebooks(
    index_df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    n_iter: int = 10,
) -> np.ndarray:
    """Per-subspace Lloyd's k-means on a deterministic uniform sample
    (same sampling discipline as :func:`~.vector_search.build_ivf_index`:
    sample, never ``limit()`` — file order collapses centroids on
    clustered data).  Returns (m, ksub, dsub) float64 codebooks."""
    target = max(ksub * 200, 2000)
    n_total = index_df.count()
    if n_total > target:
        fraction = min(1.0, (target * 1.2) / n_total)
        sample = index_df.select(vec_col).sample(False, fraction, seed=seed).collect()
    else:
        sample = index_df.select(vec_col).collect()
    x = np.asarray([r[0] for r in sample], dtype=np.float64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        k_eff = min(ksub, len(xs))
        cent = xs[rng.choice(len(xs), size=k_eff, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_eff):
                pts = xs[assign == c]
                if len(pts):
                    cent[c] = pts.mean(axis=0)
        books.append(cent)
    return np.stack(books)


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Append ``code_col ARRAY<TINYINT>``: per subspace, the index of the
    nearest codebook centroid (squared-L2, 9-dp-rounded, lowest index on
    ties).  Arrow-batched pandas UDF — encoding is a map-only distributed
    pass; nothing is collected."""
    cb = _pq_split(codebooks)
    m, ksub, dsub = cb.shape
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cb)

    @F.pandas_udf("array<tinyint>")
    def _enc(s: pd.Series) -> pd.Series:
        cb_l = bc.value
        x = np.asarray(list(s), dtype=np.float64)  # (n, d)
        n = x.shape[0]
        codes = np.empty((n, m), dtype=np.int8)
        for j in range(m):
            xs = x[:, j * dsub : (j + 1) * dsub]
            d2 = ((xs[:, None, :] - cb_l[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = _round_half_away(d2, PQ_D2_ROUND).argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(code_col, _enc(F.col(vec_col)))


def _pq_luts(cb: np.ndarray, qm: np.ndarray) -> np.ndarray:
    """Per-query (m × ksub) dot-product LUTs of the unit-normalized
    queries ``qm``."""
    m, _, dsub = cb.shape
    qm = qm / _norms(qm)[:, None]
    return np.einsum("mkd,qmd->qmk", cb, qm.reshape(len(qm), m, dsub))


def _pq_rec_norms(n2_lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Reconstruction norms: the per-subspace ||centroid||² LUT summed via
    the same gathers as scoring, zero norms guarded."""
    j_idx = np.arange(codes.shape[1])
    rec_norm = np.sqrt(n2_lut[j_idx, codes[:, j_idx]].sum(axis=1))
    rec_norm[rec_norm == 0] = 1.0
    return rec_norm


def _adc_sims(luts: np.ndarray, codes: np.ndarray, rec_norm: np.ndarray) -> np.ndarray:
    """ADC cosine (queries × index rows): one gather per subspace, summed
    subspace by subspace so the block stays queries × rows, over the
    reconstruction norm (queries are unit vectors)."""
    dots = luts[:, 0, codes[:, 0]]
    for j in range(1, codes.shape[1]):
        dots = dots + luts[:, j, codes[:, j]]
    return dots / rec_norm


def vector_search_topk_pq(
    query_df: DataFrame,
    index_df: DataFrame,
    codebooks,
    k: int = 3,
    query_col: str = "embedding",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    sim_col: str = "similarity",
    rank_col: str = "search_rank",
    round_sim: int = 6,
    max_index_rows: int | None = None,
) -> DataFrame:
    """Top-k cosine search against a PQ-ENCODED broadcast index via ADC.

    The driver collects (payload, m int8 codes) — 32× smaller than the
    float32 index at d=64/m=8, so the default row ceiling stretches by
    the same factor (``max_index_rows`` defaults to 16× the float
    ceiling).  Per Arrow batch each query builds an (m × ksub) dot-product
    LUT against the codebooks; an index row's score is m gathers + the
    PRECOMPUTED reconstruction norm — no O(d) work per (query, row).
    Similarity is cosine(query, reconstruction) — dot and norm are both
    per-subspace LUT sums — rounded to ``round_sim`` dp and ranked by the
    shared :func:`~.vector_search._topk` kernel's (similarity desc, payload
    asc) order, so an engine that materializes the reconstruction
    reproduces the ranking exactly.
    """
    cb = _pq_split(codebooks)
    if max_index_rows is None:
        max_index_rows = MAX_BROADCAST_INDEX_ROWS * 16
    payload_cols = payload_cols or [c for c in index_df.columns if c != index_col]
    spark = query_df.sparkSession

    enc = pq_encode(index_df, cb, index_col, "__pq")
    idx_rows = _collect_index_rows(
        enc.select(*payload_cols, "__pq"), [*payload_cols, "__pq"], max_index_rows
    )
    out_schema = _flat_schema(query_df, index_df, payload_cols, sim_col, rank_col)
    if not idx_rows:
        # empty index: the result is empty with the full output schema
        return spark.createDataFrame([], out_schema)
    idx_rows, pay = _presorted(idx_rows, payload_cols)
    codes = np.asarray([r["__pq"] for r in idx_rows], dtype=np.int64)  # (n, m)
    bc = spark.sparkContext.broadcast((codes, pay, cb))

    def _search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codes_l, pay_l, cb_l = bc.value
        # reconstruction norms are query-independent: built once
        rec_norm = _pq_rec_norms((cb_l**2).sum(axis=2), codes_l)
        for pdf in batches:
            if pdf.empty:
                continue
            qm = np.asarray(list(pdf[query_col]), dtype=np.float64)
            luts = _pq_luts(cb_l, qm)
            top, sims = _topk(
                lambda lo, hi: _adc_sims(luts[lo:hi], codes_l, rec_norm),
                len(qm), len(codes_l), k, round_sim,
            )
            yield _flat_hits(pdf, top, sims, pay_l, sim_col, rank_col)

    return query_df.mapInPandas(_search, schema=out_schema)


# ---------------------------------------------------------------------------
# IVF-PQ: PQ codes stored INSIDE the partition-pruned IVF parquet layout —
# the canonical composition (FAISS's IndexIVFPQ) and the terminal rung of
# this module's scale ladder: probes prune partitions at the parquet scan
# (reads scale with nprobe/nlist), and each surviving row costs m LUT
# gathers instead of a d-dim dot.  The index is never broadcast and never
# collected: queries are the broadcast side, the index streams through
# mapInPandas with per-partition top-k, and only ~(partitions × k × nq)
# candidate rows reach the final exact top-k window.
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    index_df: DataFrame,
    index_col: str = "embedding",
    nlist: int = 8,
    codebooks=None,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
):
    """(index_df + centroid_id + pq_code, centroids, codebooks).

    Coarse quantizer = the IVF k-means of
    :func:`~.vector_search.build_ivf_index`; fine quantizer = PQ codes
    from ``codebooks`` (trained via :func:`train_pq_codebooks` when not
    given).  Both assignments are distributed map passes."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
        build_ivf_index,
    )

    if codebooks is None:
        codebooks = train_pq_codebooks(
            index_df.select(index_col), index_col, m=m, ksub=ksub, seed=seed
        )
    cb = _pq_split(codebooks)
    ivf, centroids = build_ivf_index(index_df, index_col, nlist=nlist, seed=seed)
    enc = pq_encode(ivf, cb, index_col, "pq_code").drop(index_col)
    return enc, centroids, cb


def write_ivfpq_index(enc_df: DataFrame, centroids, codebooks, path: str) -> None:
    """Persist partitioned by centroid_id + `_centroids.json` sidecar
    (via :func:`~.vector_search.write_ivf_index`) + a `_pq_codebooks.json`
    sidecar through the same Hadoop FileSystem API (portable to hdfs/s3a/
    abfs)."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
        write_ivf_index,
    )

    write_ivf_index(enc_df, centroids, path)
    _write_sidecar(
        enc_df.sparkSession, path, "_pq_codebooks.json", np.asarray(codebooks).tolist()
    )


def read_pq_codebooks(spark, path: str) -> np.ndarray:
    return np.asarray(_read_sidecar(spark, path, "_pq_codebooks.json"), dtype=np.float64)


def vector_search_ivfpq_parquet(
    query_df: DataFrame,
    path: str,
    k: int = 3,
    nprobe: int = 4,
    query_col: str = "embedding",
    query_id_col: str = "qid",
    code_col: str = "pq_code",
    payload_cols: list[str] | None = None,
    sim_col: str = "similarity",
    rank_col: str = "search_rank",
    round_sim: int = 6,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """IVF-PQ probe: partition-pruned scan + streamed ADC + exact top-k.

    Queries (the SMALL side) are collected and broadcast; the pruned index
    scan streams through ``mapInPandas`` where each Arrow batch scores all
    queries via LUT gathers and emits only its per-batch top-k per query;
    a final window over ~(batches × k × nq) candidate rows takes the exact
    global top-k — per-batch top-k by the same (sim desc, payload asc)
    order is a lossless reduction of the global ranking.  At
    ``nprobe == nlist`` results are EXACT PQ (identical to
    :func:`vector_search_topk_pq`); smaller nprobe trades recall for
    reading ~nprobe/nlist of the index."""
    import pyspark.sql.types as T  # noqa: PLC0415

    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
        _probe_udf,
        ivf_pruned_scan,
        read_ivf_centroids,
    )
    from pyspark.sql import Window  # noqa: PLC0415

    spark = query_df.sparkSession
    centroids = read_ivf_centroids(spark, path)
    cb = read_pq_codebooks(spark, path)
    m, ksub, dsub = cb.shape

    # the query table is driver-collected and broadcast with its per-query
    # LUTs — guard it with the same limit-rides-the-job discipline as
    # _collect_index_rows (vector_search.py) so a caller pointing a large
    # relation at the query side gets an actionable error, not a driver OOM
    if max_query_rows is None:
        q_rows = query_df.select(query_id_col, query_col).collect()
    else:
        q_rows = (
            query_df.select(query_id_col, query_col)
            .limit(max_query_rows + 1)
            .collect()
        )
        if len(q_rows) > max_query_rows:
            from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
                IndexTooLargeError,
            )

            raise IndexTooLargeError(
                f"IVF-PQ query side exceeds max_query_rows={max_query_rows}: "
                "each query is collected to the driver and broadcast with an "
                "m×ksub LUT. Split the query table into bounded batches (loop "
                "over deterministic_split buckets), or for index-sized query "
                "relations run the symmetric join-based search "
                "(vector_search_ivf_parquet scores query×cell pairs "
                "distributed-side), or pass a larger max_query_rows explicitly "
                "if the driver can hold it."
            )
    q_ids = [r[0] for r in q_rows]
    # explicit 2-D shape: zero queries must flow through (an empty
    # asarray is 1-D and axis=1 norms would raise)
    q_mat = np.asarray([r[1] for r in q_rows], dtype=np.float64).reshape(
        len(q_ids), m * dsub
    )
    # per-query (m × ksub) dot LUTs, built ONCE driver-side and broadcast
    # with the queries: nq × m × ksub doubles — tiny next to the index
    luts = _pq_luts(cb, q_mat)
    n2_lut = (cb**2).sum(axis=2)  # (m, ksub)
    bc = spark.sparkContext.broadcast((q_ids, luts, n2_lut))

    probes = _probe_udf(centroids, nprobe, spark)
    cells = [
        r[0]
        for r in query_df.select(F.explode(probes(F.col(query_col))).alias("c"))
        .distinct()
        .collect()
    ]
    scan = ivf_pruned_scan(spark, path, cells)
    payload_cols = payload_cols or [
        c for c in scan.columns if c not in (code_col, "centroid_id")
    ]
    first_payload = payload_cols[0]
    qid_field = query_df.schema[query_id_col]
    cand_schema = T.StructType(
        [T.StructField(query_id_col, qid_field.dataType)]
        + [scan.schema[c] for c in payload_cols]
        + [T.StructField(sim_col, T.DoubleType())]
    )

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_l, luts_l, n2_l = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            order = _payload_order([pdf[c].to_numpy() for c in payload_cols])
            codes = np.asarray(list(pdf[code_col]), dtype=np.int64)[order]  # (b, m)
            rec_norm = _pq_rec_norms(n2_l, codes)
            top, sims = _topk(
                lambda lo, hi: _adc_sims(luts_l[lo:hi], codes, rec_norm),
                len(q_ids_l), len(codes), k, round_sim,
            )
            out = {
                query_id_col: np.repeat(np.asarray(q_ids_l, dtype=object), top.shape[1]),
                sim_col: sims.ravel(),
            }
            for c in payload_cols:
                out[c] = pdf[c].to_numpy()[order][top.ravel()]
            yield pd.DataFrame(out, columns=[f.name for f in cand_schema.fields])

    cands = scan.mapInPandas(_score, schema=cand_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(sim_col), F.asc(first_payload)
    )
    topk = cands.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    # reattach the full query rows (queries with zero candidates drop out,
    # matching the flat PQ operator's inner semantics)
    return query_df.join(topk, query_id_col, "inner")


def sign_signature_exprs(
    vec_col: str, dim: int = 64, words: int = 2
) -> list[str]:
    """Spark SQL expressions packing a float vector's SIGN BITS into
    ``words`` BIGINT words (dim/words bits each, bit i of word w set when
    component w·(dim/words)+i is > 0) — the 1-bit-per-dimension
    binarization behind Hamming-prefilter ANN (Charikar'02 SimHash with
    the identity rotation; reference anchor: the vector index the
    reference outsources, terraform/main.tf:649-669, stores full floats
    — the binary sketch is its 64x-smaller scale sibling).

    Two 32-bit words, not one 64-bit word: bit 63 would need 1<<63,
    which overflows DuckDB's BIGINT shift (the oracle must build the
    IDENTICAL words), and 32-bit words keep every term < 2^32 so the
    unrolled ``+`` of disjoint bits is exact in both engines. The
    expression is a flat UNROLLED sum of IF terms — whole-stage-codegen
    JVM work, no HOF fold, no Python — so signature build is one
    linear projection pass at any corpus size."""
    per = dim // words
    if per * words != dim:
        raise ValueError(f"dim {dim} not divisible by words {words}")
    out = []
    for w in range(words):
        terms = [
            f"IF(element_at({vec_col}, {w * per + i + 1}) > 0D,"
            f" {1 << i}L, 0L)"
            for i in range(per)
        ]
        out.append(" + ".join(terms))
    return out
