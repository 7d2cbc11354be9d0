"""Similarity / vector search operator.

Reference semantics: ``LATERAL TABLE(VECTOR_SEARCH(knowledge_mongodb, 3,
DESCRIPTOR(embedding), qe.embedding))`` — a correlated ANN lookup against a
MongoDB Atlas cosine index (1536-dim, numCandidates=150) appending
``search_results ARRAY<ROW<document_id, chunks, embedding>>``
(reference: terraform/generate_personalized_commands.sh:377-402;
index: terraform/main.tf:649-669).

Spark-first design (SURVEY.md §4.3.2):

- **One exact top-k kernel** (:func:`_topk`): every GEMM search in the
  package ranks through it. Per Arrow batch, one float64 GEMM against the
  broadcast (n_index × dim) matrix, then the ``row_number() OVER (ORDER BY
  sim DESC, payload ASC)`` cut computed in numpy. The plan is map-only
  (``mapInPandas``, no shuffle), which also makes it streaming-legal.
- **Catalyst reference** (:func:`vector_search_topk_flat`): the same
  ranking as JVM higher-order functions + a ``row_number`` window. Kept as
  the oracle-shaped form tests compare the kernel against.
- **IVF** (``nprobe``): k-means-lite centroid assignment as a partition
  column; queries probe only the ``nprobe`` nearest centroid partitions
  before the per-cell kernel — the 100-TB scale path where the index no
  longer broadcasts (SURVEY.md §7.4.8). Operator signature stays identical.

Payload order is Python code-point order (``str`` comparison), which equals
UTF-8 byte order and therefore Spark's binary string collation, non-BMP
characters included (UTF-16 code-unit order would differ there).

At 1000-executor scale: the index table is the small side (a knowledge base,
not the 100 TB fact stream) so broadcast is the right default; when the index
itself is huge, IVF-partitioned parquet with partition pruning on
``centroid_id`` bounds each probe to nprobe/nlist of the index.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.functions.vectors import (
    dot_col,
    norm_col,
)

_QID = "__query_id"

#: driver-side index materialization ceiling for the broadcast paths: past
#: this, collect+broadcast is the wrong physical strategy (at 256 dims
#: float32 this is ~1 GB of vectors before payloads) — the index belongs on
#: disk as IVF-partitioned parquet probed via :func:`vector_search_ivf_parquet`
MAX_BROADCAST_INDEX_ROWS = 1_000_000

#: element budget of one score block: :func:`_topk` scores query rows in
#: blocks of ``SIMS_BLOCK_ELEMS // n_index`` rows (32 MB of float64 sims)
#: and :func:`_nearest_centroids` bounds its rows × nlist × dim distance
#: tensor the same way, so a Python worker's matrix never grows with the
#: Arrow batch or the IVF cell (a 10k-row batch against a 1M-row index
#: would otherwise be one 80 GB matrix)
SIMS_BLOCK_ELEMS = 1 << 22


class IndexTooLargeError(ValueError):
    """The index crossed the driver-broadcast ceiling; callers with an
    on-disk IVF index route to :func:`vector_search_ivf_parquet` instead."""


def _collect_index_rows(index_df: DataFrame, cols: list[str], max_rows: int | None) -> list:
    """Collect the index for broadcasting, guarded: the limit rides the same
    job (no extra count pass), and crossing it raises with the scale path
    spelled out instead of stalling or OOMing the driver."""
    if max_rows is None:
        return index_df.select(*cols).collect()
    rows = index_df.select(*cols).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise IndexTooLargeError(
            f"vector-search index exceeds max_index_rows={max_rows}: a "
            "driver-collected broadcast does not survive this scale. Build an "
            "on-disk IVF index (build_ivf_index + write_ivf_index) and probe "
            "it with vector_search_ivf_parquet (partition-pruned reads), pass "
            "fallback_path= to vector_search to route there automatically, or "
            "pass a larger max_index_rows explicitly if the driver can hold it."
        )
    return rows


def vector_search_topk_flat(
    query_df: DataFrame,
    index_df: DataFrame,
    k: int = 3,
    query_col: str = "embedding",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    sim_col: str = "similarity",
    rank_col: str = "search_rank",
    round_sim: int | None = None,
) -> DataFrame:
    """Flat top-k: one output row per (query row, matched index row).

    Deterministic tie-break: orders by (similarity desc, payload cols asc)
    — a total order when the payload is a key — so ranks are stable across
    engines and runs.
    """
    payload_cols = payload_cols or [c for c in index_df.columns if c != index_col]

    # norms are computed ONCE per side, not per pair: cosine per pair then
    # costs one zip_with dot instead of three array aggregates — the
    # difference between O(pairs·dim) and 3·O(pairs·dim) interpreted work
    q = query_df.withColumn(_QID, F.monotonically_increasing_id()).withColumn(
        "__qnorm", norm_col(query_col)
    )
    idx = index_df.select(
        *[F.col(c) for c in payload_cols], F.col(index_col).alias("__index_vec")
    ).withColumn("__inorm", norm_col("__index_vec"))
    sim = dot_col(F.col(query_col), F.col("__index_vec")) / (
        F.col("__qnorm") * F.col("__inorm")
    )
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    joined = q.join(F.broadcast(idx), how="cross").withColumn(sim_col, sim)
    w = Window.partitionBy(_QID).orderBy(F.desc(sim_col), *[F.asc(c) for c in payload_cols])
    return (
        joined.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop("__index_vec", _QID, "__qnorm", "__inorm")
    )


def _round_half_away(sims: np.ndarray, ndigits: int) -> np.ndarray:
    """Round half AWAY from zero, matching SQL ``round()`` — ``np.round``
    is half-to-even, which diverges from the oracle on an exact .5 at the
    last kept decimal."""
    scale = 10.0 ** ndigits
    return np.sign(sims) * np.floor(np.abs(sims) * scale + 0.5) / scale


def _norms(m: np.ndarray) -> np.ndarray:
    """Row L2 norms with zero norms guarded to 1 (a zero vector scores 0)."""
    n = np.sqrt(np.einsum("ij,ij->i", m, m))
    n[n == 0] = 1.0
    return n


def _similarity(
    qm: np.ndarray, mat: np.ndarray, inorm: np.ndarray | None = None
) -> np.ndarray:
    """The kernel's similarity: float64 ``dot / (|q|·|i|)`` — the exact
    arithmetic of the Catalyst reference's ``dot_col / (qnorm·inorm)``.
    ``inorm=None`` skips the division: the raw dot of pre-normalized
    vectors."""
    dots = qm @ mat.T
    if inorm is None:
        return dots
    return dots / (_norms(qm)[:, None] * inorm[None, :])


def _topk(
    score: Callable[[int, int], np.ndarray],
    n_rows: int,
    n_cols: int,
    k: int,
    round_sim: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """THE exact top-k: each row's ``min(k, n_cols)`` best columns under
    ``row_number() OVER (ORDER BY sim DESC, column ASC)``.

    ``score(lo, hi)`` returns the (hi-lo, n_cols) similarity block of rows
    lo:hi; it is called on row blocks of at most :data:`SIMS_BLOCK_ELEMS`
    elements. Sims are rounded half away from zero to ``round_sim`` decimals
    first (SQL ``round``), so which rows make the cut is reproducible across
    engines. Callers presort their columns by the payload tuple ASC
    (:func:`_payload_order`), so column order IS payload order.

    Per block: ``np.partition`` finds each row's k-th value, every column at
    or above it is a candidate (ties at the cut included), and one
    ``np.lexsort((col, -sim, row))`` orders the candidates. Returns (cols,
    sims), each (n_rows, min(k, n_cols)), rank-ordered per row."""
    kk = min(k, n_cols)
    cols = np.empty((n_rows, kk), dtype=np.int64)
    vals = np.empty((n_rows, kk), dtype=np.float64)
    if kk == 0:
        return cols, vals
    step = max(1, SIMS_BLOCK_ELEMS // n_cols)
    for lo in range(0, n_rows, step):
        hi = min(lo + step, n_rows)
        sims = score(lo, hi)
        if round_sim is not None:
            sims = _round_half_away(sims, round_sim)
        kth = np.partition(sims, n_cols - kk, axis=1)[:, n_cols - kk]
        r, c = np.nonzero(sims >= kth[:, None])
        v = sims[r, c]
        o = np.lexsort((c, -v, r))
        r, c, v = r[o], c[o], v[o]
        # r is sorted: searchsorted gives each row's first slot, so the
        # offset from it is the row_number - 1
        keep = np.arange(len(r)) - np.searchsorted(r, r) < kk
        cols[lo:hi] = c[keep].reshape(hi - lo, kk)
        vals[lo:hi] = v[keep].reshape(hi - lo, kk)
    return cols, vals


def _gemm_topk(
    qm: np.ndarray,
    mat: np.ndarray,
    k: int,
    round_sim: int | None = None,
    cosine: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_topk` over the GEMM similarity of float64 query rows ``qm``
    against the payload-presorted index matrix ``mat``; ``cosine=False``
    ranks the raw dot of pre-normalized vectors."""
    inorm = _norms(mat) if cosine else None
    return _topk(
        lambda lo, hi: _similarity(qm[lo:hi], mat, inorm),
        len(qm), len(mat), k, round_sim,
    )


def _payload_order(columns: list[np.ndarray]) -> np.ndarray:
    """Permutation sorting rows by the payload tuple ASC (first column most
    significant): one stable ``np.lexsort``. Python's ``str`` order is
    code-point order = UTF-8 byte order = Spark's binary collation."""
    return np.lexsort(columns[::-1])


def _presorted(rows: list, payload_cols: list[str]) -> tuple[list, dict]:
    """Collected index rows in payload-tuple ASC order (the kernel's column
    order), with {payload col: 1-D object array} in the same order."""
    pay = {
        c: np.fromiter((r[c] for r in rows), dtype=object, count=len(rows))
        for c in payload_cols
    }
    perm = _payload_order(list(pay.values()))
    return [rows[i] for i in perm], {c: v[perm] for c, v in pay.items()}


def _index_matrix(rows: list, payload_cols: list[str], index_col: str):
    """(float64 index matrix, payload arrays), presorted by payload."""
    rows, pay = _presorted(rows, payload_cols)
    mat = np.asarray([r[index_col] for r in rows], dtype=np.float64)
    return mat.reshape(len(rows), -1 if rows else 0), pay


def _flat_hits(
    pdf: pd.DataFrame,
    top: np.ndarray,
    sims: np.ndarray,
    pay: dict,
    sim_col: str,
    rank_col: str,
) -> pd.DataFrame:
    """One row per (query row, hit) in the flat output schema's column
    order: the query columns, the hit's payload, its similarity and its
    1-based rank."""
    b, kk = top.shape
    qrep = np.repeat(np.arange(b), kk)
    flat = top.ravel()
    out = pdf.iloc[qrep].reset_index(drop=True)
    for c, vals in pay.items():
        out[c] = pd.Series(vals[flat])
    out[sim_col] = sims.ravel()
    out[rank_col] = np.tile(np.arange(1, kk + 1, dtype=np.int32), b)
    return out


def _results_type(index_df: DataFrame, payload_cols: list[str]):
    """``ARRAY<STRUCT<payload...>>``: the type of a search-results column."""
    return T.ArrayType(T.StructType([index_df.schema[c] for c in payload_cols]))


def _flat_schema(query_df: DataFrame, index_df: DataFrame, payload_cols, sim_col, rank_col):
    return T.StructType(
        list(query_df.schema.fields)
        + [index_df.schema[c] for c in payload_cols]
        + [
            T.StructField(sim_col, T.DoubleType()),
            T.StructField(rank_col, T.IntegerType()),
        ]
    )


def vector_search_topk_flat_gemm(
    query_df: DataFrame,
    index_df: DataFrame,
    k: int = 3,
    query_col: str = "embedding",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    sim_col: str = "similarity",
    rank_col: str = "search_rank",
    round_sim: int | None = None,
    max_index_rows: int | None = MAX_BROADCAST_INDEX_ROWS,
) -> DataFrame:
    """Kernel form of :func:`vector_search_topk_flat` — identical rows and
    ordering, but the pair space never materializes as JVM rows: each Arrow
    batch of queries runs the :func:`_topk` kernel against the broadcast
    index matrix and emits only the k winners.

    Why: the cross-join form evaluates an interpreted ``zip_with`` +
    ``aggregate`` lambda per PAIR ELEMENT (O(pairs·dim) catalyst lambda
    calls) and then shuffles every pair into a per-query window sort. At
    1k queries × 1k index × 64 dims that is ~10⁸ interpreted evaluations
    for ~10⁷ FLOPs of actual math. Here the plan is map-only (no Exchange
    at all): distribution cost is one broadcast of the index, per-task
    work is vectorized BLAS (optimization guide §4.2). Same
    broadcast-ceiling guard as :func:`vector_search`."""
    payload_cols = payload_cols or [c for c in index_df.columns if c != index_col]
    spark = query_df.sparkSession
    idx_rows = _collect_index_rows(
        index_df, [*payload_cols, index_col], max_index_rows
    )
    out_schema = _flat_schema(query_df, index_df, payload_cols, sim_col, rank_col)
    if not idx_rows:
        # empty index: the cross join yields no rows — same here
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast(_index_matrix(idx_rows, payload_cols, index_col))

    def _search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat_l, pay_l = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            qm = np.asarray(list(pdf[query_col]), dtype=np.float64)
            top, sims = _gemm_topk(qm, mat_l, k, round_sim)
            yield _flat_hits(pdf, top, sims, pay_l, sim_col, rank_col)

    return query_df.mapInPandas(_search, schema=out_schema)


def vector_search(
    query_df: DataFrame,
    index_df: DataFrame,
    k: int = 3,
    query_col: str = "embedding",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    output_col: str = "search_results",
    method: str | None = None,
    max_index_rows: int | None = MAX_BROADCAST_INDEX_ROWS,
    fallback_path: str | None = None,
    fallback_nprobe: int = 4,
    round_sim: int | None = None,
) -> DataFrame:
    """LATERAL TABLE(VECTOR_SEARCH(...)) equivalent: appends
    ``output_col ARRAY<STRUCT<payload...>>`` (top-k by cosine, ranked by
    (sim DESC, payload ASC)) to every query row — the reference's
    ``search_results`` shape (:379-384). An empty index appends ``[]``.

    The index is collected and broadcast once; each Arrow batch of queries
    runs the :func:`_topk` kernel, so the plan is map-only and
    streaming-legal. Past ``max_index_rows`` this raises
    :class:`IndexTooLargeError` naming the on-disk IVF route, unless
    ``fallback_path`` names one: an IVF index (written by
    :func:`write_ivf_index`) that the search then transparently becomes, a
    partition-pruned :func:`vector_search_ivf_parquet` probe with
    ``fallback_nprobe`` cells. With ``fallback_nprobe >= nlist`` the probe
    is exhaustive, so results are identical to the broadcast path; smaller
    values trade recall for reads.

    ``round_sim``: round cosine to this many decimals BEFORE ranking (both
    routes), so the order — including which rows make the k cut — is
    reproducible across engines regardless of float summation order.
    Required for oracle-exact entries that route-flip.

    ``method`` is ignored: there is one search body. It is still accepted
    so callers written against the former ``'sql'``/``'numpy'`` choice keep
    running.
    """
    payload_cols = payload_cols or [c for c in index_df.columns if c != index_col]
    try:
        idx_rows = _collect_index_rows(index_df, [*payload_cols, index_col], max_index_rows)
    except IndexTooLargeError:
        if fallback_path is None:
            raise
        return vector_search_ivf_parquet(
            query_df,
            fallback_path,
            k=k,
            nprobe=fallback_nprobe,
            query_col=query_col,
            index_col=index_col,
            payload_cols=payload_cols,
            output_col=output_col,
            round_sim=round_sim,
        )
    mat, pay = _index_matrix(idx_rows, payload_cols, index_col)
    hits = [dict(zip(pay, vals)) for vals in zip(*pay.values())]
    bc = query_df.sparkSession.sparkContext.broadcast((mat, hits))
    out_schema = T.StructType(
        [*query_df.schema.fields, T.StructField(output_col, _results_type(index_df, payload_cols))]
    )

    def _search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat_l, hits_l = bc.value
        for pdf in batches:
            if pdf.empty:
                yield pdf.assign(**{output_col: []})
                continue
            qm = np.asarray(list(pdf[query_col]), dtype=np.float64).reshape(len(pdf), -1)
            top, _ = _gemm_topk(qm, mat_l, k, round_sim)
            pdf = pdf.copy()
            pdf[output_col] = [[hits_l[j] for j in row] for row in top.tolist()]
            yield pdf

    return query_df.mapInPandas(_search, schema=out_schema)


def embed_and_search_numpy(
    query_df: DataFrame,
    index_df: DataFrame,
    provider,
    k: int = 3,
    text_col: str = "message",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    embed_col: str = "embedding",
    output_col: str = "search_results",
    exact: bool = False,
    max_index_rows: int | None = MAX_BROADCAST_INDEX_ROWS,
    fallback_path: str | None = None,
    fallback_nprobe: int = 4,
) -> DataFrame:
    """Fused embed + retrieve: ONE ``mapInPandas`` stage computes the
    embedding (provider batch call) and the :func:`_topk` kernel against
    the broadcast index for each Arrow batch.

    ``fallback_path``: like :func:`vector_search`, an on-disk IVF index to
    route to past the broadcast ceiling — the fused stage un-fuses into an
    embed pandas-UDF followed by a partition-pruned
    :func:`vector_search_ivf_parquet` probe (same output schema: query
    columns + ``embed_col`` + ``output_col``).  The un-fused shape is the
    right trade past ~1M index rows: the Arrow round-trip it re-pays is
    dwarfed by not broadcasting the index at all.

    Unfused, the pipeline pays two Python worker stages back-to-back (embed
    pandas-UDF, then search ``mapInPandas``) with a full Arrow
    serialize/deserialize round-trip of the embedding column between them —
    at 256+ dims that intermediate is wider than the text itself. Fusing
    halves the Python-stage count of the coaching pipeline's hot path and
    keeps the plan narrow (no shuffle at all).

    The embedding is float32 (the ``embed_col`` type) and the kernel runs
    over it in float64. By default it ranks by cosine. ``exact=True`` is
    the SQL-oracle contract: vectors are ASSUMED pre-normalized, so the
    rank is ``round(dot, 6) DESC, payload ASC`` — the raw dot with no norm
    division, exactly what an oracle computes with ``list_dot_product``.
    """
    payload_cols = payload_cols or [c for c in index_df.columns if c != index_col]
    spark = query_df.sparkSession
    try:
        idx_rows = _collect_index_rows(index_df, [*payload_cols, index_col], max_index_rows)
    except IndexTooLargeError:
        if fallback_path is None:
            raise

        @F.pandas_udf("array<float>")
        def _embed_udf(s: pd.Series) -> pd.Series:
            return pd.Series(provider.embed(s.tolist()))

        embedded = query_df.withColumn(
            embed_col, _embed_udf.asNondeterministic()(F.col(text_col))
        )
        return vector_search_ivf_parquet(
            embedded,
            fallback_path,
            k=k,
            nprobe=fallback_nprobe,
            query_col=embed_col,
            index_col=index_col,
            payload_cols=payload_cols,
            output_col=output_col,
        )
    mat, pay = _index_matrix(idx_rows, payload_cols, index_col)
    hits = [dict(zip(pay, vals)) for vals in zip(*pay.values())]
    # float32-quantized like the query side
    bc = spark.sparkContext.broadcast((mat.astype(np.float32).astype(np.float64), hits))
    round_sim = 6 if exact else None

    out_schema = T.StructType(
        [
            *query_df.schema.fields,
            T.StructField(embed_col, T.ArrayType(T.FloatType())),
            T.StructField(output_col, _results_type(index_df, payload_cols)),
        ]
    )

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat_l, hits_l = bc.value
        for pdf in batches:
            if pdf.empty:
                yield pdf.assign(**{embed_col: [], output_col: []})
                continue
            qm = np.asarray(provider.embed(pdf[text_col].tolist()), dtype=np.float32)
            top, _ = _gemm_topk(qm.astype(np.float64), mat_l, k, round_sim, cosine=not exact)
            pdf = pdf.copy()
            pdf[embed_col] = list(qm)
            pdf[output_col] = [[hits_l[j] for j in row] for row in top.tolist()]
            yield pdf

    return query_df.mapInPandas(_fused, schema=out_schema)


def _nearest_centroids(m: np.ndarray, cent: np.ndarray, nprobe: int | None = None) -> np.ndarray:
    """Each row's nearest centroid by L2 (``argmin``: first minimum), or
    with ``nprobe`` its ``nprobe`` nearest (``argsort``) — the one
    assignment every IVF build, probe and streaming ingest shares. Row
    blocks keep the rows × nlist × dim difference tensor within
    :data:`SIMS_BLOCK_ELEMS`; the per-row arithmetic is unchanged by
    blocking."""
    shape = (len(m),) if nprobe is None else (len(m), min(nprobe, len(cent)))
    out = np.empty(shape, dtype=np.int64)
    step = max(1, SIMS_BLOCK_ELEMS // max(1, cent.size))
    for lo in range(0, len(m), step):
        d = np.linalg.norm(m[lo : lo + step, None, :] - cent[None, :, :], axis=2)
        out[lo : lo + step] = (
            d.argmin(axis=1) if nprobe is None else np.argsort(d, axis=1)[:, :nprobe]
        )
    return out


def build_ivf_index(
    index_df: DataFrame,
    index_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    n_iter: int = 5,
    refine_iters: int = 0,
) -> tuple[DataFrame, list[list[float]]]:
    """Assign each index row a ``centroid_id`` via Lloyd's k-means on a
    driver-collected sample. Returns (index_df + centroid_id, centroids).

    ``refine_iters > 0`` additionally refines the sample-trained
    centroids over the FULL corpus with the exact-integer distributed
    Lloyd rounds (operators/clustering.py::lloyd_refine, seeded with the
    sample model) — at 100 TB the sample sees ~nlist·200 rows, so heavy
    tails the sample missed can skew cells; each refine round is one
    map-only assignment + one map-side-combinable (cid, pos) aggregate
    over the corpus. Default 0 keeps the sample-only model (pinned
    ann_ivf_topk behavior).

    Scale note: write the result partitioned by ``centroid_id``
    (``df.write.partitionBy('centroid_id')``) so probes prune partitions at
    the parquet-scan level instead of broadcasting the whole index.
    """
    # uniform sample, NOT limit(): limit takes whatever rows arrive first
    # (file order), so on sorted/clustered data the centroids collapse onto
    # one region and recall at nprobe < nlist silently degrades
    target = max(nlist * 200, 2000)
    n_total = index_df.count()
    if n_total > target:
        fraction = min(1.0, (target * 1.2) / n_total)
        sample = index_df.select(index_col).sample(False, fraction, seed=seed).collect()
    else:
        sample = index_df.select(index_col).collect()
    x = np.asarray([r[0] for r in sample], dtype=np.float32)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(nlist, len(x)), replace=False)]
    for _ in range(n_iter):
        assign = _nearest_centroids(x, cent)
        for c in range(len(cent)):
            pts = x[assign == c]
            if len(pts):
                cent[c] = pts.mean(axis=0)
    if refine_iters > 0:
        from flink_sql_ai_meetingcoach_azure_spark.operators.clustering import (  # noqa: PLC0415
            lloyd_refine,
        )

        micro_seeds = [
            [int(round(float(v) * 1_000_000)) for v in c] for c in cent
        ]
        tmp = index_df.select(
            F.monotonically_increasing_id().alias("__rid"),
            F.col(index_col).alias("embedding"),
        )
        _, refined = lloyd_refine(
            tmp, k=len(cent), iters=refine_iters, id_col="__rid",
            seeds=micro_seeds,
        )
        cent = np.asarray(
            [[v / 1e6 for v in c] for c in refined], dtype=np.float32
        )
    spark = index_df.sparkSession
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def _assign(s: pd.Series) -> pd.Series:
        return pd.Series(_nearest_centroids(np.asarray(list(s), dtype=np.float32), bc.value))

    return index_df.withColumn("centroid_id", _assign(F.col(index_col))), cent.tolist()


def _probe_udf(centroids: list[list[float]], nprobe: int, spark):
    """pandas UDF: query embedding → its ``nprobe`` nearest centroid ids."""
    cent = np.asarray(centroids, dtype=np.float32)
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("array<int>")
    def _probes(s: pd.Series) -> pd.Series:
        m = np.asarray(list(s), dtype=np.float32)
        return pd.Series(list(_nearest_centroids(m, bc.value, nprobe)))

    return _probes


def write_ivf_index(ivf_index_df: DataFrame, centroids: list[list[float]], path: str) -> None:
    """Persist an IVF index PARTITIONED BY centroid_id (one directory per
    cell) plus a centroids sidecar. This is the 100-TB shape the in-memory
    join approximates: probes become PARTITION FILTERS on the parquet scan,
    so only ~nprobe/nlist of the index is READ from storage, not
    scanned-and-filtered.

    The sidecar is written through the HADOOP FILESYSTEM API (one
    ``_centroids.json`` file beside the partition dirs) rather than a local
    ``open()`` so the index works on any Hadoop filesystem (hdfs://,
    s3a://, abfs://) — the deployments the partitioned layout exists for —
    without paying a Spark write job for an nlist-row file. The ``_``
    prefix keeps it invisible to ``spark.read.parquet(path)`` (Hadoop
    hidden-path filter)."""
    # co-locate each cell before the partitioned write: without this every
    # input partition emits a file into every cell directory (partitions ×
    # nlist small files — slower to write and a small-file read penalty on
    # every probe thereafter); one hash shuffle on centroid_id yields one
    # file per cell at this scale (at 100 TB, add a second in-cell key to
    # repartition() to split giant cells across files)
    (
        ivf_index_df.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    _write_sidecar(ivf_index_df.sparkSession, path, "_centroids.json", centroids)


def read_ivf_centroids(spark, path: str) -> list[list[float]]:
    return _read_sidecar(spark, path, "_centroids.json")


def _write_sidecar(spark, path: str, name: str, obj) -> None:
    """``obj`` as JSON in the index file ``<path>/<name>``, written through
    the Hadoop FileSystem API."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{name}")
    out = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).create(jpath, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


def _read_sidecar(spark, path: str, name: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{name}")
    stream = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).open(jpath)
    try:
        return json.loads(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def ivf_pruned_scan(spark, path: str, cells: list[int]) -> DataFrame:
    """The probed cells as a partition-pruned parquet scan (explain shows
    ``PartitionFilters: [centroid_id IN (...)]`` — asserted in tests)."""
    return spark.read.parquet(path).filter(F.col("centroid_id").isin([int(c) for c in cells]))


def vector_search_ivf_parquet(
    query_df: DataFrame,
    path: str,
    k: int = 3,
    nprobe: int = 4,
    query_col: str = "embedding",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    output_col: str = "search_results",
    round_sim: int | None = None,
) -> DataFrame:
    """IVF probe against an on-disk partitioned index: one small job over
    the (query-side) stream collects the distinct probed cells, the index
    scan prunes to exactly those partitions, then the per-query probe join
    runs as in :func:`vector_search_ivf` — identical results, but storage
    reads scale with nprobe/nlist instead of the index size."""
    spark = query_df.sparkSession
    centroids = read_ivf_centroids(spark, path)
    probes = _probe_udf(centroids, nprobe, spark)
    cells = [
        r[0]
        for r in query_df.select(
            F.explode(probes(F.col(query_col))).alias("c")
        ).distinct().collect()
    ]
    idx = ivf_pruned_scan(spark, path, cells)
    return vector_search_ivf(
        query_df,
        idx,
        centroids,
        k=k,
        nprobe=nprobe,
        query_col=query_col,
        index_col=index_col,
        payload_cols=payload_cols,
        output_col=output_col,
        round_sim=round_sim,
    )


def vector_search_ivf(
    query_df: DataFrame,
    ivf_index_df: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int = 4,
    query_col: str = "embedding",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    output_col: str = "search_results",
    round_sim: int | None = None,
) -> DataFrame:
    """IVF probe: each query searches only its ``nprobe`` nearest centroid
    cells. Join on centroid_id prunes the candidate set to ~nprobe/nlist of
    the index before the exact top-k — the path that survives an index too
    large to broadcast."""
    payload_cols = payload_cols or [
        c for c in ivf_index_df.columns if c not in (index_col, "centroid_id")
    ]
    spark = query_df.sparkSession
    _probes = _probe_udf(centroids, nprobe, spark)

    q0 = query_df.withColumn(_QID, F.monotonically_increasing_id())
    # Per-CELL GEMM top-k (optimization guide §4.2): the old form joined
    # every (query, candidate) pair as a JVM row and paid an interpreted
    # zip_with dot per pair plus a corpus-candidate-sized window sort.
    # Cogrouping query probes with the pruned index on centroid_id runs the
    # _topk kernel once per cell (row-blocked: a hot cell's sims matrix
    # stays within SIMS_BLOCK_ELEMS) and emits only k candidates per
    # (query, cell); the global k-cut then sorts queries×nprobe×k rows
    # instead of queries×(index/nlist)×nprobe. The per-cell cut is
    # LOSSLESS: it keeps the top-k of each cell under the same (sim DESC,
    # payload ASC) total order the global cut uses, and the global top-k
    # is contained in the union of per-cell top-ks.
    qp = q0.select(_QID, query_col).withColumn(
        "centroid_id", F.explode(_probes(F.col(query_col)))
    )
    idx = ivf_index_df.select(
        "centroid_id", *payload_cols, F.col(index_col).alias("__index_vec")
    )
    pay_fields = [ivf_index_df.schema[c] for c in payload_cols]
    cell_schema = T.StructType(
        [T.StructField(_QID, T.LongType())]
        + pay_fields
        + [T.StructField("__sim", T.DoubleType())]
    )

    def _percell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({f.name: [] for f in cell_schema.fields})
        order = _payload_order([right[c].to_numpy() for c in payload_cols])
        mat = np.asarray(list(right["__index_vec"].iloc[order]), dtype=np.float64)
        qm = np.asarray(list(left[query_col]), dtype=np.float64)
        top, sims = _gemm_topk(qm, mat, k, round_sim)
        out = {_QID: np.repeat(left[_QID].to_numpy(), top.shape[1])}
        for c in payload_cols:
            out[c] = right[c].to_numpy()[order][top.ravel()]
        out["__sim"] = sims.ravel()
        return pd.DataFrame(out)

    cell_hits = qp.groupBy("centroid_id").cogroup(
        idx.groupBy("centroid_id")
    ).applyInPandas(_percell, schema=cell_schema)
    # global exact k-cut over the per-cell winners: sort key (−sim, payload
    # ASC tuple) reproduces the old window's row_number ordering
    sort_struct = F.struct(
        (-F.col("__sim")).alias("ns"),
        *[F.col(c).alias(f"p{i}") for i, c in enumerate(payload_cols)],
        F.struct(*[F.col(c) for c in payload_cols]).alias("s"),
    )
    agg = cell_hits.groupBy(_QID).agg(
        F.slice(F.array_sort(F.collect_list(sort_struct)), 1, k).alias("__pairs")
    )
    results = agg.select(
        _QID, F.transform(F.col("__pairs"), lambda p: p["s"]).alias(output_col)
    )
    # left-join back onto the original query rows: a query whose nprobe
    # probed cells contain no index rows must still appear (with an empty
    # search_results array) — the operator appends a column to EVERY row
    empty = F.array().cast(_results_type(ivf_index_df, payload_cols))
    return q0.join(results, on=_QID, how="left").select(
        *query_df.columns, F.coalesce(F.col(output_col), empty).alias(output_col)
    )
