"""Mergeable sketches: each layout and its constants, written once.

The Count-Min, HyperLogLog, KMV, HDR and bitmap sketches serve three
surfaces: the batch registry entries in ``queries``, the continuously
maintained rollup (``streaming.aggregate_sink.StreamingAggregateSink``)
and the SQL scalar functions (``sqlapi.register_sketch_sql``). Each
layout is one Spark SQL text template here. The DataFrame builders below
``F.expr`` the template over a column they name themselves, and the SQL
surface registers the same text, so all three compile to the same
Catalyst expressions.

Every hashed sketch reads the 60-bit md5 hash (``HASH60``, the SQL text
of ``functions.hashing.md5_bigint_col``), and every sketch is mergeable:
shard states combine losslessly, so a state maintained across
micro-batches equals a one-shot sketch over their union.

- Count-Min: ``CM_D`` salted hash rows × ``CM_W`` buckets; merge is the
  counter sum, the point estimate the min over rows of the hit counters
  (never below the exact count).
- HyperLogLog: ``HLL_M`` registers; bucket = h mod m, rho = leading zeros
  of the remaining 50-bit field + 1, in [1, ``HLL_R``]; merge is the
  per-bucket max. The harmonic denominator is the exact BIGINT sum of
  2^(R - rho) (no float summation); the estimate adds the small-range
  ln correction and is rounded to 6 dp.
- KMV: the ``KMV_K`` smallest hashes of the distinct items; merge is the
  k-min of the union. Jaccard ppm = |A ∩ B ∩ U|·1e6 div |U| over U = the
  k-min of A ∪ B; the distinct estimate (k-1)·2^60 div h_(k) is exact
  while the sketch is not full.
- HDR: a positive BIGINT's bucket is octave·``HDR_SUB`` + linear
  sub-bucket, the octave from the exact ``length(bin(v)) - 1``: at most
  64·32 counters with <= 1/32 relative value error; merge is the counter
  sum; a quantile reads as its bucket's exact-integer lower bound.
- Bitmap: word id div 64, bit id % 64 of a non-negative integer id;
  merge is the per-word bit_or; the exact distinct count is
  sum(bit_count) over the words.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import (
    HEX_DIGITS,
    md5_bigint_col,
)

# {s}: a STRING expression -> its 60-bit md5 hash in [0, 2^60)
HASH60 = f"CAST(conv(substring(md5({{s}}), 1, {HEX_DIGITS}), 16, 10) AS BIGINT)"
PPM = 1_000_000
# {inter}, {union}: set sizes -> Jaccard in integer ppm, 0 for an empty union
JACCARD_PPM = f"{{inter}} * {PPM}L div greatest({{union}}, 1L)"

CM_D, CM_W = 4, 512
CM_TOPK = 20  # terms whose estimates q_countmin_sketch reports
# {s}: the item, {r}: the hash row in [0, CM_D)
CM_BUCKET = HASH60.format(s="concat({s}, ':cm', CAST({r} AS STRING))") + f" % {CM_W}"

HLL_M = 1024
HLL_R = 51  # a 60-bit hash div 2^10 leaves a 50-bit field
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
# {h}: an item's HASH60
HLL_BUCKET = f"{{h}} % {HLL_M}"
HLL_RHO = (
    f"CASE WHEN {{h}} div {HLL_M} = 0 THEN {HLL_R}"
    f" ELSE {HLL_R} - length(bin({{h}} div {HLL_M})) END"
)
# {nonzero}: registers set, {s_nonzero}: sum over them of 2^(R - rho)
HLL_S_SCALED = (
    f"CAST({{s_nonzero}} + ({HLL_M} - {{nonzero}}) * shiftleft(1L, {HLL_R}) AS BIGINT)"
)
_HLL_RAW = (
    f"CAST({HLL_ALPHA * HLL_M * HLL_M * float(1 << HLL_R)!r} AS DOUBLE)"
    f" / CAST({HLL_S_SCALED} AS DOUBLE)"
)
HLL_ESTIMATE = (
    f"round(CASE WHEN {_HLL_RAW} <= {2.5 * HLL_M} AND {{nonzero}} < {HLL_M}"
    f" THEN CAST({HLL_M} AS DOUBLE)"
    f" * ln(CAST({HLL_M} AS DOUBLE) / CAST({HLL_M} - {{nonzero}} AS DOUBLE))"
    f" ELSE {_HLL_RAW} END, 6)"
)

KMV_K = 256
# {n}: hashes in the sketch, {hk}: its largest
KMV_DISTINCT = (
    f"CASE WHEN {{n}} < {KMV_K} THEN {{n}} ELSE CAST(floor("
    f"CAST({KMV_K - 1} AS DECIMAL(38,0)) * {1 << (4 * HEX_DIGITS)}"
    f" / greatest({{hk}}, 1L)) AS BIGINT) END"
)

HDR_SUB = 32
# {v}: a positive BIGINT
HDR_BUCKET = (
    f"(length(bin({{v}})) - 1) * {HDR_SUB}"
    f" + {{v}} * {HDR_SUB} div shiftleft(1L, length(bin({{v}})) - 1) - {HDR_SUB}"
)
# {b}: a bucket -> the smallest value it holds
HDR_LO = (
    f"({HDR_SUB} + {{b}} % {HDR_SUB})"
    f" * shiftleft(1L, CAST({{b}} div {HDR_SUB} AS INT)) div {HDR_SUB}"
)

# {id}: a non-negative BIGINT
BITMAP_WORD = "{id} div 64"
BITMAP_BIT = "shiftleft(CAST(1 AS BIGINT), CAST({id} % 64 AS INT))"
# {bits}: the merged words of a group
BITMAP_COUNT = "CAST(sum(bit_count({bits})) AS BIGINT)"


def hll_registers(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """(keys…, __bucket, __rho): the HLL registers of ``col``'s non-null
    values per key, one row per set register."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(*keys, md5_bigint_col(F.col(col).cast("string")).alias("__h"))
        .select(
            *keys,
            F.expr(HLL_BUCKET.format(h="__h")).alias("__bucket"),
            F.expr(HLL_RHO.format(h="__h")).alias("__rho"),
        )
        .groupBy(*keys, "__bucket")
        .agg(F.max("__rho").alias("__rho"))
    )


def hll_estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
    """(keys…, nonzero_buckets, s_scaled, hll_est) from merged registers."""
    per = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("nonzero_buckets"),
        F.sum(F.expr(f"shiftleft(1L, {HLL_R} - __rho)")).alias("__s_nonzero"),
    )
    args = {"nonzero": "nonzero_buckets", "s_nonzero": "__s_nonzero"}
    return per.select(
        *keys,
        "nonzero_buckets",
        F.expr(HLL_S_SCALED.format(**args)).alias("s_scaled"),
        F.expr(HLL_ESTIMATE.format(**args)).alias("hll_est"),
    )


def kmin(df: DataFrame, keys: list[str], h: str = "__h") -> DataFrame:
    """The KMV sketch: the KMV_K smallest ``h`` per key of a relation
    distinct on (keys…, h) — a TakeOrdered without keys."""
    if not keys:
        return df.orderBy(h).limit(KMV_K)
    w = Window.partitionBy(*keys).orderBy(h)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= KMV_K)
        .drop("__rk")
    )


def kmv_hashes(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """(keys…, __h): the KMV sketch of ``col``'s non-null values per key."""
    hashes = (
        df.filter(F.col(col).isNotNull())
        .select(*keys, md5_bigint_col(F.col(col).cast("string")).alias("__h"))
        .distinct()
    )
    return kmin(hashes, keys)


def hdr_histogram(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """(keys…, __bucket, __cnt): the HDR counters of ``col``'s positive
    values per key."""
    return (
        df.select(*keys, F.col(col).cast("bigint").alias("__v"))
        .filter(F.col("__v") >= 1)
        .select(*keys, F.expr(HDR_BUCKET.format(v="__v")).alias("__bucket"))
        .groupBy(*keys, "__bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


def hdr_quantiles(
    hist: DataFrame, keys: list[str], qs: list[tuple[int, str]]
) -> DataFrame:
    """(keys…, q_ppm, q_label, est, cum_count, n_vals) from merged HDR
    counters and (ppm, label) quantiles: per key one partitioned
    cumulative window over its <= 64·HDR_SUB buckets, then per quantile
    the first bucket with cum·1e6 >= ppm·n; ``est`` is that bucket's
    lower bound."""
    w = Window.partitionBy(*keys).orderBy("__bucket")
    n = hist.groupBy(*keys).agg(F.sum("__cnt").alias("__n"))
    cum = hist.withColumn("__cum", F.sum("__cnt").over(w)).join(n, keys)
    q = hist.sparkSession.createDataFrame(qs, "q_ppm bigint, q_label string")
    hit = (
        cum.crossJoin(F.broadcast(q))
        .filter(F.col("__cum") * PPM >= F.col("q_ppm") * F.col("__n"))
        .groupBy(*keys, "q_ppm", "q_label", "__n")
        .agg(F.min(F.struct("__bucket", "__cum")).alias("__b"))
    )
    return hit.select(
        *keys,
        "q_ppm",
        "q_label",
        F.expr(HDR_LO.format(b="__b.__bucket")).alias("est"),
        F.col("__b.__cum").alias("cum_count"),
        F.col("__n").alias("n_vals"),
    )


def bitmap_words(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """(keys…, __w, __bits): the bitmap words of ``col``'s non-null ids
    per key, one row per occupied word."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(*keys, F.col(col).cast("bigint").alias("__id"))
        .select(
            *keys,
            F.expr(BITMAP_WORD.format(id="__id")).alias("__w"),
            F.expr(BITMAP_BIT.format(id="__id")).alias("__b"),
        )
        .groupBy(*keys, "__w")
        .agg(F.bit_or("__b").alias("__bits"))
    )
