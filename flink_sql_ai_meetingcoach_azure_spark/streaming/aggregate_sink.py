"""Continuously-maintained materialized rollup: streaming aggregate sink.

Spark's native streaming aggregation (update mode) keeps its state in
the checkpoint — opaque to SQL until rows are emitted. Production
pipelines usually want the opposite: a DURABLE, directly-queryable
aggregate table that every micro-batch advances and any outside reader
can scan. This sink maintains exactly that, with the same merge-on-read
LSM state shape as the near-dup dedup and IVF-ingest sinks:

- per micro-batch, the batch is PARTIAL-AGGREGATED distributed-side
  (one combinable groupBy — count + sums shrink each batch to one row
  per key before anything is written), and the partials are APPENDED to
  a parquet log — append-cheap, no rewrite of existing state;
- reads merge on the fly (``current()``: one groupBy-sum over the log);
  ``compact()`` folds the log back to one row per key offline;
- each batch commits exactly once, replays and crashes included, through
  ``maintenance.commit_batch`` under a ``_batches/<id>`` marker.

Only COMBINABLE aggregates (count, sum, min, max — and anything
derivable from them: mean, integer-cents totals, value ranges) belong
here natively; DISTINCT counts
become combinable through the HyperLogLog register trick (``distinct_col``):
each partial row carries a sparse map of per-bucket max-rho registers
(<= 1024 small ints per key) and register merge is ``max`` — lossless
under any batch split, replay, or compaction, so the maintained
estimate is identical to a single-pass sketch over the union. QUANTILES
become combinable the same way through the HDR log-bucket sketch
(``quantile_col``): each partial row carries a sparse map of
bucket→count (<= 64·32 BIGINTs per key, <= 1/32 relative value error —
queries.q_hdr_quantiles' layout exactly) and merge is per-bucket SUM,
so the continuously-maintained p50/p90/p99 read-out
(:meth:`current_quantiles`) is bit-identical to a one-shot sketch over
the union. EXACT distinct over a non-negative integer id domain becomes
combinable through 64-bit bitmap words (``exact_distinct_col`` — the
queries.q_bitmap_distinct layout; merge is per-word bit_or, state is
<= domain/64 words per key, zero error). SET SKETCHES become combinable
through KMV k-minimum-values (``kmv_col`` — queries.q_kmv_overlap's
fixed-hash layout): each partial row carries the k=256 smallest 60-bit
md5 values of the batch's distinct items, merge is k-min of the union
(idempotent — equal values hash equally), so the maintained sketch is
bit-identical to a one-shot sketch over everything ingested and
supports both a distinct estimate (:meth:`current_kmv`) and cross-key
Jaccard. A truly non-combinable metric
(exact median, exact distinct over unbounded domains)
still needs its own state shape. At 100 TB the log grows by ~|active
keys per batch| rows per trigger, independent of input row count — the
partial-agg is what makes a hot topic sustainable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.streaming.maintenance import (
    commit_batch,
    read_log,
    replace_log_atomically,
)

_HLL_M = 1024  # 2^10 buckets; registers are a sparse map per key
_HLL_R = 51  # 60-bit md5 // 1024 leaves a 50-bit field; rho in [1, 51]
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HDR_SUB = 32  # sub-buckets per octave (queries.HDR_SUB) — <= 1/32 rel. error
_HDR_QS = [(500000, "p50"), (900000, "p90"), (990000, "p99")]
_KMV_K = 256  # sketch size (queries.KMV_K) — k smallest 60-bit md5 values
_KMV_DOMAIN = 1 << 60  # md5_bigint_col range [0, 2^60)


class StreamingAggregateSink:
    """``foreachBatch`` sink maintaining per-key (count, sum…) partials
    in an append-only parquet log merged on read."""

    def __init__(
        self,
        state_dir: str,
        key_cols: list[str],
        sum_cols: list[str],
        spark: SparkSession,
        distinct_col: str | None = None,
        quantile_col: str | None = None,
        exact_distinct_col: str | None = None,
        min_cols: list[str] | None = None,
        max_cols: list[str] | None = None,
        kmv_col: str | None = None,
        sumsq_cols: list[str] | None = None,
    ) -> None:
        self.state_dir = state_dir.rstrip("/")
        self.key_cols = list(key_cols)
        self.sum_cols = list(sum_cols)
        self.min_cols = list(min_cols or [])
        self.max_cols = list(max_cols or [])
        # power sums (Σc²): with `c` also in sum_cols the merged view
        # derives an exact-integer population variance (the
        # queries.q_group_moments algebra — sums are the mergeable
        # state, variance is a read-out)
        self.sumsq_cols = list(sumsq_cols or [])
        missing = [c for c in self.sumsq_cols if c not in self.sum_cols]
        if missing:
            raise ValueError(
                f"sumsq_cols {missing} must also be in sum_cols — the "
                "variance read-out needs the matching Σc partial"
            )
        self.spark = spark
        self.distinct_col = distinct_col
        self.quantile_col = quantile_col
        self.exact_distinct_col = exact_distinct_col
        self.kmv_col = kmv_col
        self._schema_checked = False

    def _check_log_schema(self) -> None:
        """distinct_col must match the state dir's existing log schema: a
        sink toggled against state written with the other setting either
        fails at analysis (exploding a missing __hll) or silently drops
        the sketch for old rows (ADVICE r5) — fail fast with the reason
        instead. One parquet-footer read, cached per sink instance."""
        if self._schema_checked:
            return
        log = read_log(self.spark, f"{self.state_dir}/log")
        if log is None:  # no log yet: nothing to match
            self._schema_checked = True
            return
        cols = log.columns
        checks = [
            ("__hll", "distinct_col", self.distinct_col is not None),
            ("__hdr", "quantile_col", self.quantile_col is not None),
            ("__bmp", "exact_distinct_col", self.exact_distinct_col is not None),
            ("__kmv", "kmv_col", self.kmv_col is not None),
        ]
        # min_cols/max_cols get the same fail-fast contract (ADVICE r7):
        # both directions — a configured column missing from the log AND
        # a logged __min_/__max_ column the sink no longer carries — would
        # otherwise surface later as an opaque AnalysisException or a
        # silent state drop on the parquet schema pick.
        checks += [
            (f"__min_{c}", f"min_cols[{c!r}]", True) for c in self.min_cols
        ]
        checks += [
            (f"__max_{c}", f"max_cols[{c!r}]", True) for c in self.max_cols
        ]
        checks += [
            (f"__sumsq_{c}", f"sumsq_cols[{c!r}]", True)
            for c in self.sumsq_cols
        ]
        want_minmax = (
            {f"__min_{c}" for c in self.min_cols}
            | {f"__max_{c}" for c in self.max_cols}
            | {f"__sumsq_{c}" for c in self.sumsq_cols}
        )
        checks += [
            (col, "min_cols/max_cols/sumsq_cols", False)
            for col in cols
            if (
                col.startswith("__min_")
                or col.startswith("__max_")
                or col.startswith("__sumsq_")
            )
            and col not in want_minmax
        ]
        for col, name, want in checks:
            has = col in cols
            if has != want:
                raise ValueError(
                    f"state dir {self.state_dir!r} was written with "
                    f"{name} {'set' if has else 'unset'} ({col}) but this "
                    f"sink has it {'set' if want else 'unset'} — {name} "
                    "must match the existing log schema (start a new "
                    "state dir to change it)"
                )
        self._schema_checked = True

    def _hdr_partial(self, df: DataFrame) -> DataFrame:
        """Per-key sparse HDR bucket counts (bucket = octave·SUB + linear
        sub-bucket, exponent from the exact length(bin(v))-1 — the
        queries.q_hdr_quantiles layout) for positive values; merge is
        per-bucket SUM, lossless under any batch split."""
        return (
            df.select(*self.key_cols, F.col(self.quantile_col).cast("long").alias("__v"))
            .filter(F.col("__v") >= 1)
            .selectExpr(*self.key_cols, "__v", "length(bin(__v)) - 1 AS __e")
            .selectExpr(
                *self.key_cols,
                f"__e * {_HDR_SUB} + __v * {_HDR_SUB} div shiftleft(1L, __e)"
                f" - {_HDR_SUB} AS __bucket",
            )
            .groupBy(*self.key_cols, "__bucket")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .groupBy(*self.key_cols)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("__bucket", "__cnt"))
                ).alias("__hdr")
            )
        )

    def _bitmap_partial(self, df: DataFrame) -> DataFrame:
        """Per-key sparse 64-bit bitmap words over a NON-NEGATIVE integer
        id column (word id/64, bit id%64 — queries.q_bitmap_distinct's
        layout): merge is per-word bit_or, so the maintained distinct
        count is EXACT under any batch split, replay, or compaction —
        the error-free sibling of the HLL registers, priced by the id
        domain (state <= domain/64 words per key) instead of a fixed m."""
        return (
            df.filter(F.col(self.exact_distinct_col).isNotNull())
            .select(
                *self.key_cols,
                F.col(self.exact_distinct_col).cast("long").alias("__id"),
            )
            .selectExpr(
                *self.key_cols,
                "__id div 64 AS __w",
                "shiftleft(CAST(1 AS BIGINT), CAST(__id % 64 AS INT)) AS __b",
            )
            .groupBy(*self.key_cols, "__w")
            .agg(F.bit_or("__b").alias("__bits"))
            .groupBy(*self.key_cols)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("__w", "__bits"))
                ).alias("__bmp")
            )
        )

    def _kmv_partial(self, df: DataFrame) -> DataFrame:
        """Per-key KMV sketch of the batch: the k=256 smallest 60-bit md5
        values of the batch's DISTINCT items (queries.q_kmv_overlap's
        fixed-hash layout). Merge is k-min of the union — idempotent
        (same value → same hash), commutative, associative — so the
        maintained sketch is bit-identical to a one-shot sketch over the
        union of everything ingested, under any batch split, replay, or
        compaction. State <= k BIGINTs per key regardless of batch size."""
        from pyspark.sql.window import Window  # noqa: PLC0415

        from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import (  # noqa: PLC0415
            md5_bigint_col,
        )

        w = Window.partitionBy(*self.key_cols).orderBy("__h")
        return (
            df.filter(F.col(self.kmv_col).isNotNull())
            .select(
                *self.key_cols,
                md5_bigint_col(F.col(self.kmv_col).cast("string")).alias("__h"),
            )
            .distinct()
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= _KMV_K)
            .groupBy(*self.key_cols)
            .agg(F.array_sort(F.collect_list("__h")).alias("__kmv"))
        )

    def _partial(self, df: DataFrame) -> DataFrame:
        aggs = (
            [F.count(F.lit(1)).alias("__n")]
            + [F.sum(c).cast("long").alias(f"__sum_{c}") for c in self.sum_cols]
            # min/max are idempotent-combinable: partial min of mins IS the
            # min, so the same log-append/merge-on-read algebra holds
            + [F.min(c).alias(f"__min_{c}") for c in self.min_cols]
            + [F.max(c).alias(f"__max_{c}") for c in self.max_cols]
            # Σc² partials merge by plain addition — same abelian-group
            # algebra as the sums, so replay/compaction hold for free
            + [
                F.sum(F.col(c).cast("long") * F.col(c).cast("long"))
                .cast("long")
                .alias(f"__sumsq_{c}")
                for c in self.sumsq_cols
            ]
        )
        base = df.groupBy(*self.key_cols).agg(*aggs)
        if self.quantile_col is not None:
            base = base.join(self._hdr_partial(df), self.key_cols, "left")
        if self.exact_distinct_col is not None:
            base = base.join(self._bitmap_partial(df), self.key_cols, "left")
        if self.kmv_col is not None:
            base = base.join(self._kmv_partial(df), self.key_cols, "left")
        if self.distinct_col is None:
            return base
        # per-key sparse HLL registers: bucket = md5 % m, rho = leading
        # zeros of the remaining 50-bit field + 1 (same fixed-hash layout
        # as queries.q_hll_vocab, so estimates match a one-shot sketch)
        # bucket and field derive from the SAME F.col-based hash column —
        # no second hand-written SQL string that could drift or break on
        # names needing backticks (ADVICE r5); h is a non-negative 60-bit
        # value, so div 2^10 == unsigned shift right by 10
        h = F.conv(
            F.substring(F.md5(F.col(self.distinct_col).cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        regs = (
            df.filter(F.col(self.distinct_col).isNotNull())
            .select(
                *self.key_cols,
                (h % _HLL_M).alias("__bucket"),
                F.shiftrightunsigned(h, _HLL_M.bit_length() - 1).alias("__w"),
            )
            .withColumn(
                "__rho",
                F.when(F.col("__w") == 0, F.lit(_HLL_R)).otherwise(
                    F.lit(_HLL_R) - F.length(F.expr("bin(__w)"))
                ),
            )
            .groupBy(*self.key_cols, "__bucket")
            .agg(F.max("__rho").alias("__rho"))
            .groupBy(*self.key_cols)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("__bucket", "__rho"))
                ).alias("__hll")
            )
        )
        return base.join(regs, self.key_cols, "left")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._check_log_schema()
        writes = []
        if not batch_df.isEmpty():
            writes = [(self._partial(batch_df), f"{self.state_dir}/log", None)]
        commit_batch(self.spark, f"{self.state_dir}/_batches/{int(batch_id)}", writes)

    # -- merge-on-read views -------------------------------------------
    def _log(self) -> DataFrame:
        self._check_log_schema()
        log = read_log(self.spark, f"{self.state_dir}/log")
        if log is None:
            raise FileNotFoundError(f"{self.state_dir}: no batch committed yet")
        return log

    def _merged(self) -> DataFrame:
        log = self._log()
        aggs = (
            [F.sum("__n").cast("long").alias("n_rows")]
            + [
                F.sum(f"__sum_{c}").cast("long").alias(f"sum_{c}")
                for c in self.sum_cols
            ]
            + [F.min(f"__min_{c}").alias(f"min_{c}") for c in self.min_cols]
            + [F.max(f"__max_{c}").alias(f"max_{c}") for c in self.max_cols]
            + [
                F.sum(f"__sumsq_{c}").cast("long").alias(f"sumsq_{c}")
                for c in self.sumsq_cols
            ]
        )
        merged = log.groupBy(*self.key_cols).agg(*aggs)
        for c in self.sumsq_cols:
            # exact-integer population variance in milli-units² — the
            # q_group_moments split trunc-division (quotient·1000 +
            # scaled remainder) so the milli-scaling never overflows
            num = f"(n_rows * sumsq_{c} - sum_{c} * sum_{c})"
            den = "(n_rows * n_rows)"
            merged = merged.withColumn(
                f"var_milli_{c}",
                F.expr(
                    f"({num} div {den}) * 1000L"
                    f" + (({num} % {den}) * 1000L) div {den}"
                ),
            )
        if self.exact_distinct_col is not None:
            bmp = (
                self._merged_map(log, "__bmp", "__w", "__bits", F.bit_or)
                .groupBy(*self.key_cols)
                .agg(
                    F.sum(F.bit_count("__bits")).cast("long").alias(
                        "distinct_exact"
                    )
                )
            )
            merged = merged.join(bmp, self.key_cols, "left").withColumn(
                "distinct_exact", F.coalesce("distinct_exact", F.lit(0))
            )
        if self.distinct_col is None:
            return merged
        # a key whose batches carried only NULL distinct values has no
        # register rows — its true distinct count is 0, not NULL (ADVICE r5)
        return merged.join(
            self._merged_registers(log), self.key_cols, "left"
        ).withColumn("distinct_est", F.coalesce("distinct_est", F.lit(0.0)))

    def _merged_map(self, log: DataFrame, col: str, k: str, v: str, merge) -> DataFrame:
        """(keys…, k, v): the entries of the sparse map ``col`` over the
        whole log, one per (key, k), merged by ``merge`` — lossless for
        each sketch's own merge (max registers, summed bucket counts,
        or-ed bitmap words)."""
        return (
            log.select(*self.key_cols, F.explode(col).alias(k, v))
            .groupBy(*self.key_cols, k)
            .agg(merge(v).alias(v))
        )

    def _merged_registers(self, log: DataFrame) -> DataFrame:
        """Register merge (max per bucket — lossless) + the same
        exact-BIGINT harmonic-denominator estimate as q_hll_vocab."""
        regs = self._merged_map(log, "__hll", "__bucket", "__rho", F.max)
        per = regs.groupBy(*self.key_cols).agg(
            F.count(F.lit(1)).alias("__nonzero"),
            F.sum(F.expr(f"shiftleft(1L, {_HLL_R} - __rho)")).alias("__s_nz"),
        )
        s_scaled = (
            F.col("__s_nz")
            + (F.lit(_HLL_M) - F.col("__nonzero")) * F.lit(1 << _HLL_R)
        ).cast("double")
        v = F.lit(_HLL_M) - F.col("__nonzero")
        est_raw = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_R)) / s_scaled
        est = F.when(
            (est_raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
            F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v.cast("double")),
        ).otherwise(est_raw)
        return per.select(*self.key_cols, F.round(est, 6).alias("distinct_est"))

    def current(self) -> DataFrame:
        """The maintained rollup: one row per key, exact counts/sums."""
        return self._merged()

    def current_quantiles(self) -> DataFrame:
        """The continuously-maintained per-key quantile read-out
        (requires ``quantile_col``): merge the sparse HDR maps (per-
        bucket SUM — lossless), then per key one PARTITIONED cumulative
        window over its <= 64·SUB bucket rows picks the first bucket
        with cum·1e6 >= ppm·n; the estimate is the bucket's exact-integer
        lower bound. Returns (keys…, q_ppm, q_label, est, cum_count,
        n_vals) — bit-identical to queries.q_hdr_quantiles over the
        union of everything ingested."""
        from pyspark.sql.window import Window  # noqa: PLC0415

        if self.quantile_col is None:
            raise ValueError("current_quantiles() requires quantile_col")
        log = self._log()
        hist = self._merged_map(log, "__hdr", "__bucket", "__cnt", F.sum)
        w = Window.partitionBy(*self.key_cols).orderBy("__bucket")
        n = hist.groupBy(*self.key_cols).agg(F.sum("__cnt").alias("__n_vals"))
        cum = hist.withColumn("__cum", F.sum("__cnt").over(w)).join(n, self.key_cols)
        qs = self.spark.createDataFrame(_HDR_QS, "q_ppm bigint, q_label string")
        hit = (
            cum.crossJoin(F.broadcast(qs))
            .filter(F.col("__cum") * 1_000_000 >= F.col("q_ppm") * F.col("__n_vals"))
            .groupBy(*self.key_cols, "q_ppm", "q_label", "__n_vals")
            .agg(F.min(F.struct("__bucket", "__cum")).alias("__b"))
        )
        return hit.select(
            *self.key_cols,
            "q_ppm",
            "q_label",
            F.expr(
                f"({_HDR_SUB} + __b.__bucket % {_HDR_SUB})"
                f" * shiftleft(1L, __b.__bucket div {_HDR_SUB}) div {_HDR_SUB}"
            ).alias("est"),
            F.col("__b.__cum").alias("cum_count"),
            F.col("__n_vals").alias("n_vals"),
        )

    def _merged_kmv_rows(self, log: DataFrame) -> DataFrame:
        """(keys…, __h) — the k smallest distinct hashes per key across
        the whole log: k-min of the union of per-batch k-mins, which IS
        the k-min of the union (every dropped hash was larger than k
        survivors in its own batch, hence larger than k union-wide)."""
        from pyspark.sql.window import Window  # noqa: PLC0415

        w = Window.partitionBy(*self.key_cols).orderBy("__h")
        return (
            log.filter(F.col("__kmv").isNotNull())
            .select(*self.key_cols, F.explode("__kmv").alias("__h"))
            .distinct()
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= _KMV_K)
            .drop("__rk")
        )

    def current_kmv(self) -> DataFrame:
        """The continuously-maintained per-key KMV read-out (requires
        ``kmv_col``): (keys…, kmv_sketch, n_sketch, distinct_kmv_est).
        ``kmv_sketch`` is the merged k-min array (bit-identical to a
        one-shot sketch over the union — usable for cross-key Jaccard
        exactly like queries.q_kmv_overlap); ``distinct_kmv_est`` is the
        standard KMV estimator (k-1)·2^60 / h_(k) in exact DECIMAL
        integer arithmetic, or the EXACT distinct count whenever the
        sketch is not full (n_sketch < k ⇒ every distinct item is in
        the sketch)."""
        if self.kmv_col is None:
            raise ValueError("current_kmv() requires kmv_col")
        log = self._log()
        per = self._merged_kmv_rows(log).groupBy(*self.key_cols).agg(
            F.array_sort(F.collect_list("__h")).alias("kmv_sketch"),
            F.count(F.lit(1)).alias("n_sketch"),
            F.max("__h").alias("__hk"),
        )
        est = F.when(F.col("n_sketch") < _KMV_K, F.col("n_sketch")).otherwise(
            F.expr(
                f"CAST(floor(CAST({_KMV_K - 1} AS DECIMAL(38,0)) * "
                f"{_KMV_DOMAIN} / greatest(__hk, 1L)) AS BIGINT)"
            )
        )
        return per.select(
            *self.key_cols,
            "kmv_sketch",
            "n_sketch",
            est.cast("long").alias("distinct_kmv_est"),
        )

    def compact(self) -> None:
        """Fold the log to one partial row per key (same read results,
        O(keys) storage; merged HLL registers fold losslessly). Offline
        maintenance, not on the hot path."""
        log = read_log(self.spark, f"{self.state_dir}/log")
        if log is None:
            return
        aggs = (
            [F.sum("__n").cast("long").alias("__n")]
            + [
                F.sum(f"__sum_{c}").cast("long").alias(f"__sum_{c}")
                for c in self.sum_cols
            ]
            + [F.min(f"__min_{c}").alias(f"__min_{c}") for c in self.min_cols]
            + [F.max(f"__max_{c}").alias(f"__max_{c}") for c in self.max_cols]
            + [
                F.sum(f"__sumsq_{c}").cast("long").alias(f"__sumsq_{c}")
                for c in self.sumsq_cols
            ]
        )
        merged = log.groupBy(*self.key_cols).agg(*aggs)
        sketches = [
            (self.quantile_col, "__hdr", "__bucket", "__cnt", F.sum),
            (self.distinct_col, "__hll", "__bucket", "__rho", F.max),
            (self.exact_distinct_col, "__bmp", "__w", "__bits", F.bit_or),
        ]
        for on, col, k, v, merge in sketches:
            if on is not None:
                folded = (
                    self._merged_map(log, col, k, v, merge)
                    .groupBy(*self.key_cols)
                    .agg(F.map_from_entries(F.collect_list(F.struct(k, v))).alias(col))
                )
                merged = merged.join(folded, self.key_cols, "left")
        if self.kmv_col is not None:
            kmv_folded = (
                self._merged_kmv_rows(log)
                .groupBy(*self.key_cols)
                .agg(F.array_sort(F.collect_list("__h")).alias("__kmv"))
            )
            merged = merged.join(kmv_folded, self.key_cols, "left")
        # crash-safe write-then-swap (streaming.maintenance): never hold
        # the only copy of the state in memory while truncating the dir
        replace_log_atomically(self.spark, f"{self.state_dir}/log", merged)


# ---------------------------------------------------------------------------
# continuous read-outs over a maintained rollup (VERDICT r9 #6): pure
# DataFrame derivations over ``sink.current()`` — they inherit the sink's
# replay/compaction invariance because they never see raw events, only the
# merged per-key state, and they run over STATE-sized tables (types×hours /
# users×days×types), never the event stream, so the read-out cost is
# volume-independent at 100 TB.


def rate_anomaly_readout(
    merged: DataFrame,
    type_col: str = "event_type",
    hour_col: str = "hour_us",
    cnt_col: str = "n_rows",
    factor: int = 3,
) -> DataFrame:
    """Continuous form of queries.q_event_rate_anomaly: given the
    maintained (type, hour) count rollup (a StreamingAggregateSink keyed
    by [type_col, hour_col] — ``n_rows`` is the always-present count
    partial), flag every bucket whose rate exceeds ``factor``× the
    type's mean hourly rate, as the exact integer cross-multiplication
    cnt·n_hours > factor·total (no float mean). Emits EVERY maintained
    bucket, quiet hours included — bit-identical to the batch query over
    the union of everything ingested."""
    totals = merged.groupBy(type_col).agg(
        F.sum(cnt_col).alias("__total"),
        F.count(F.lit(1)).cast("bigint").alias("__n_hours"),
    )
    return (
        merged.join(F.broadcast(totals), type_col)
        .select(
            type_col,
            hour_col,
            F.col(cnt_col).cast("bigint").alias("cnt"),
            (F.col(cnt_col) * F.col("__n_hours") > factor * F.col("__total"))
            .cast("int")
            .alias("is_anomaly"),
        )
        .orderBy(type_col, hour_col)
    )


def cumulative_distinct_readout(
    merged: DataFrame,
    user_col: str = "user_id",
    day_col: str = "day",
    type_col: str = "event_type",
) -> DataFrame:
    """Continuous form of queries.q_cumulative_distinct: given the
    maintained (user, day, type) presence rollup (a
    StreamingAggregateSink keyed by [user_col, day_col, type_col] —
    presence is all that matters, so replayed/duplicated counts cannot
    skew it), derive each value's first day (one min aggregate), the
    per-day new-type counts, and the running distinct count as a running
    SUM of first occurrences over the user-day activity table — the same
    scale-right identity as the batch query (COUNT(DISTINCT) OVER would
    be quadratic), and days with activity but no new types still emit."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    first = merged.groupBy(user_col, type_col).agg(
        F.min(day_col).alias("__first_day")
    )
    new_per_day = first.groupBy(
        user_col, F.col("__first_day").alias(day_col)
    ).agg(F.count(F.lit(1)).alias("__n_new"))
    active = merged.select(user_col, day_col).distinct()
    w = Window.partitionBy(user_col).orderBy(day_col)
    return (
        active.join(new_per_day, [user_col, day_col], "left")
        .withColumn("__n_new", F.coalesce("__n_new", F.lit(0)))
        .withColumn(
            "distinct_types_so_far", F.sum("__n_new").over(w).cast("bigint")
        )
        .select(
            user_col,
            day_col,
            F.col("__n_new").cast("bigint").alias("n_new_types"),
            "distinct_types_so_far",
        )
        .orderBy(user_col, day_col)
    )


def vocab_coverage_readout(
    merged: DataFrame,
    term_col: str = "term",
    cnt_col: str = "n_rows",
    vocab_ns: list[int] | None = None,
) -> DataFrame:
    """Continuous form of queries.q_vocab_coverage_sweep: given the
    maintained per-term count rollup (a StreamingAggregateSink keyed by
    [term_col] over the exploded token stream — ``n_rows`` IS the term
    frequency), derive the vocabulary-size coverage curve with the batch
    query's exact shape because it IS the batch query's code — the
    shared operators.text_search.vocab_coverage_curve helper (ADVICE
    r10: the two copies could drift; now there is one): a range-exchange
    contiguous rank over the (vocabulary-sized) state table, then a
    broadcast threshold join with combinable sums — never a running-sum
    window. Bit-identical to the batch sweep over the union of
    everything ingested; per-trigger cost is state-sized regardless of
    stream volume."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.text_search import (  # noqa: PLC0415
        vocab_coverage_curve,
    )

    if vocab_ns is None:
        vocab_ns = [250, 500, 1_000, 2_000, 4_000, 8_000]
    return vocab_coverage_curve(
        merged, vocab_ns, term_col=term_col, cnt_col=cnt_col
    )


def ks_drift_readout(
    merged: DataFrame,
    v_col: str = "v",
    half_col: str = "half",
    cnt_col: str = "n_rows",
) -> DataFrame:
    """Continuous two-sample KS drift monitor (r11, VERDICT r10 #6):
    given the maintained per-(value, half) count rollup (a
    StreamingAggregateSink keyed by [v_col, half_col] — ``n_rows`` IS
    the per-bucket count, and counts are the sink's replay-safe
    combinable partials), derive the exact-integer KS statistic with
    the batch query's code — the shared operators.drift.ks_from_counts
    core — so the live monitor is bit-identical to q_ks_drift over the
    union of everything ingested. Per-trigger cost is value-vocabulary-
    sized (distinct metric values, not stream volume): the drift family
    (ks_drift / event_rate_anomaly / cusum) becomes a standing readout
    instead of a batch job."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.drift import (  # noqa: PLC0415
        ks_from_counts,
    )

    return ks_from_counts(
        merged, v_col=v_col, half_col=half_col, cnt_col=cnt_col
    )


def cusum_readout(
    merged: DataFrame,
    key_col: str = "event_type",
    bucket_col: str = "hour_idx",
    cnt_col: str = "n_rows",
) -> DataFrame:
    """Continuous CUSUM changepoint monitor (r11 — completes the live
    drift family alongside rate_anomaly_readout and ks_drift_readout):
    given the maintained per-(key, bucket) count rollup (a
    StreamingAggregateSink keyed by [key_col, bucket_col]), derive the
    exact-integer changepoint with the batch query's code — the shared
    operators.drift.cusum_from_counts core — so the live monitor is
    bit-identical to q_cusum_changepoint over the union of everything
    ingested. Per-trigger cost is keys×buckets-sized, independent of
    stream volume."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.drift import (  # noqa: PLC0415
        cusum_from_counts,
    )

    return cusum_from_counts(
        merged, key_col=key_col, bucket_col=bucket_col, cnt_col=cnt_col
    )


def top_terms_readout(
    merged: DataFrame,
    group_col: str = "lang",
    term_col: str = "term",
    cnt_col: str = "n_rows",
    k: int = 10,
) -> DataFrame:
    """Continuously-maintained per-group top-k terms (r11): given the
    rollup keyed by [group_col, term_col] (``n_rows`` IS the term
    count — plain count partials, replay-safe), derive batch
    q_top_terms' exact table: per-group top-k by (count DESC, term ASC)
    with ranks. Per-trigger cost is state-vocabulary-sized; the token
    flood was already absorbed by the sink's map-side partials. Output
    columns mirror the batch entry: (group_col, term_col, n, rank)."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy(group_col).orderBy(
        F.desc("n"), F.asc(term_col)
    )
    return (
        merged.select(
            group_col, term_col, F.col(cnt_col).cast("bigint").alias("n")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(group_col, "rank")
    )
