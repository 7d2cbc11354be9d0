"""Deduplication operators — exact and near-duplicate.

The reference's only dedup is app-level: md5-of-content with a 300 s TTL
dict (app/utils/kafka_utils.py:209-249). ``dedup_exact`` reproduces that as
a distributed hash-groupBy; the watermarked streaming variant lives in
streaming/pipeline.py (T4).

The near-dup family (MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine)
is the beyond-reference training-data layer. All hash arithmetic is
md5-derived (functions/hashing.py) so every stage is reproducible in ANSI
SQL for the DuckDB oracle.

Scale design: MinHash/LSH is the 100-TB path — signature computation is a
narrow per-row map after one explode+groupBy (shuffle on doc_id, combinable
map-side); candidate generation shuffles on (band, band_hash) buckets, which
are uniformly distributed by construction (hash values), so no skew; the
final pair-join touches only bucket collisions, never the n² pair space.
Brute-force pair operators (ngram-jaccard, embedding-cosine) bound their
input and exist as the small-side baseline / verifier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import (
    affine_hash_col,
    md5_bigint_col,
    md5_int32_col,
)


def dedup_exact(
    df: DataFrame, content_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup by md5 content hash, deterministically keeping the
    min/max id per group (dropDuplicates keeps an arbitrary row — not
    oracle-checkable)."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    hashed = df.withColumn("__h", F.md5(F.col(content_col)))
    keep_ids = hashed.groupBy("__h").agg(agg.alias(id_col)).select(id_col)
    return df.join(keep_ids, on=id_col, how="inner")


def dedup_keep_best(
    df: DataFrame, content_col: str, id_col: str, quality_col: str
) -> DataFrame:
    """Exact dedup keeping the BEST row per content group (quality desc,
    id asc tie-break) instead of the min id — the curation policy when
    duplicates differ in metadata quality. One shuffle (window partitioned
    by content hash, uniform keys)."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy(F.md5(F.col(content_col))).orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    df: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """CDC APPLY CHANGES: collapse a change log to its final state —
    keep each key's LATEST row by ``seq_cols`` (ties broken by the full
    seq tuple, so callers append a unique id for total order), and drop
    the key entirely when that latest operation is a delete.  The
    Delta-Live-Tables / Debezium-consumer upsert semantic as one
    partitioned window over the log (uniform keys, map-side combinable
    nothing — row_number needs the per-key sort, which is the operator's
    inherent cost on any engine).

    Out-of-order capture is handled by the seq ordering, not arrival
    order: a stale update that arrives after the delete still loses.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in seq_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn")
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """SCD Type-2 dimension build: turn the same change log
    ``apply_changes`` collapses into the FULL validity history — one row
    per upsert carrying ``valid_from`` (its own first seq column),
    ``valid_to`` (the NEXT change's, open intervals null) and
    ``is_current``. Delete operations close the preceding interval and
    emit no row of their own. ONE partitioned window (lead over the seq
    order) — the per-key sort is the operator's inherent cost; keys are
    hash-uniform so the exchange is skew-free at any scale, and
    out-of-order capture is resolved by seq order, not arrival order.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy(*key_cols).orderBy(*seq_cols)
    nxt = F.lead(F.col(seq_cols[0])).over(w)
    return (
        df.withColumn("valid_to", nxt)
        .filter(F.col(op_col) != delete_op)
        .withColumn("valid_from", F.col(seq_cols[0]))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def neardup_survivors(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Apply a near-dup pair set (``id_a < id_b``, e.g. from
    :func:`embedding_lsh_pairs` / :func:`lsh_candidate_pairs`): drop every
    row that near-duplicates ANY smaller id — one distinct + one anti-join,
    no iteration. Deterministic and single-pass; along transitive chains
    a~b~c it removes both b and c (greedy union-find clustering would keep
    c when a≁c) — the documented single-pass tradeoff. When exact
    transitive clusters are worth the iterative jobs, use
    :func:`~.components.dedup_by_components` (large-star/small-star CC)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def tokens_col(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization shared by the near-dup operators."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda t: F.length(t) > 0)


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document: (id_col, shingle).

    ``distinct=True`` (set semantics) is required for Jaccard; min-based
    consumers (MinHash) pass ``distinct=False`` — min is duplicate-invariant,
    and skipping the distinct removes a whole shuffle.

    Shape: explode the start-position sequence, then build each shingle
    with ``array_join(slice(...))`` as ordinary codegen expressions. An
    earlier form built the per-row shingle array inside a ``transform``
    higher-order lambda — HOFs never enter WholeStageCodegen, so every
    shingle paid an interpreted lambda call; the explode form produces
    the identical rows (same ascending-position order, same
    empty/short-doc edge: ``greatest(size-n+1, 1)`` emits exactly the old
    ``greatest(size-n, 0)+1`` positions) and measured −44% on the corpus
    shingle pass (r13 A/B: 0.479 → 0.267 s at sf0.1)."""
    out = (
        df.select(id_col, tokens_col(text_col).alias("__toks"))
        .select(
            id_col,
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("__toks") - n + 1, F.lit(1)))
            ).alias("__s"),
        )
        .select(
            id_col,
            F.array_join(F.slice(F.col("__toks"), F.col("__s"), n), " ").alias(
                "shingle"
            ),
        )
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: id_col, h0..h{num_hashes-1}.

    h_i(doc) = min over shingles of (a_i·md5_32(shingle) + b_i) mod P —
    the classical affine permutation family: ONE md5 per shingle, the other
    num_hashes-1 permutations are two integer ops each (an earlier variant
    salted+md5'd every shingle num_hashes times).
    One shuffle (groupBy id) with map-side partial min — scales linearly.
    (No shingle-distinct pass: min is duplicate-invariant, so the extra
    shuffle would buy nothing.)
    """
    from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import AFFINE_A  # noqa: PLC0415

    if num_hashes > len(AFFINE_A):
        raise ValueError(f"num_hashes > {len(AFFINE_A)} needs a larger affine table")
    sh = shingles(df, id_col, text_col, n=shingle_n, distinct=False).withColumn(
        "__h", md5_int32_col("shingle")
    )
    aggs = [
        F.min(affine_hash_col(F.col("__h"), i)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_band_keys(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH band keys per document: (id_col, band, bh) — ``bh`` is the
    band's signature slice rendered as a join key. One narrow explode
    (n_bands rows per doc); the (band, bh) key is the uniform shuffle key
    every LSH consumer joins or groups on."""
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"h{b * band_size + j}") for j in range(band_size)]
        bands.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *[c.cast("string") for c in cols]).alias("bh"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become candidate
    pairs (id_a < id_b). Shuffle key = (band, band_hash) — uniform, no skew.

    The signature input is materialized once via ``localCheckpoint`` before
    the self-join: Spark does not reuse the (explode + md5 + groupBy-min)
    subtree across the two join sides on its own, and recomputing it doubles
    the dominant cost. localCheckpoint (not ``persist``): its blocks are
    released by the ContextCleaner when the plan is garbage-collected, so a
    long-lived session doesn't accumulate leaked cache entries, and the
    caller's DataFrame storage level is never mutated."""
    signatures = signatures.localCheckpoint(eager=False)
    exploded = lsh_band_keys(signatures, id_col, num_hashes, band_size)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, on=["band", "bh"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def delta_lsh_pairs(
    signatures: DataFrame,
    id_col: str,
    is_new: Column,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Incremental-ingest LSH: candidate pairs where AT LEAST ONE side is a
    NEW document (``is_new`` — a predicate over the signature frame's
    columns, e.g. a delivery-batch flag). Returns (id_a < id_b) distinct.

    The full-corpus rebanding self-join re-pays the entire corpus on every
    delivery; the delta shape joins only the NEW docs' band keys against the
    corpus band index, so the candidate space is proportional to the batch's
    collisions, never corpus². Output is exactly the subset of
    :func:`lsh_candidate_pairs` touching a new doc (new-new pairs included
    once — the least/greatest canonicalization dedups the double match).

    At 100 TB the ``bands`` side is the PERSISTED band-key index (written at
    prior ingests, bucketed by (band, bh)); recomputing it here from the full
    corpus stands in for that read and keeps the function self-contained —
    the join shape, which is what scales, is identical either way.
    """
    signatures = signatures.localCheckpoint(eager=False)
    bands = lsh_band_keys(signatures, id_col, num_hashes, band_size).localCheckpoint(
        eager=False
    )
    # id-keyed semi join, deliberately NOT hint-broadcast: a delivery batch
    # can be arbitrarily large, and AQE picks broadcast on its own when the
    # batch is small. (With a persisted band index the delta's band keys
    # arrive as their own table and this join disappears entirely — see
    # band_delta_join, which this wraps and the persisted-index test
    # drives against a parquet-backed index.)
    new_ids = signatures.filter(is_new).select(id_col)
    new_bands = bands.join(new_ids, on=id_col, how="left_semi")
    return band_delta_join(new_bands, bands, id_col)


def band_delta_join(
    new_bands: DataFrame, index_bands: DataFrame, id_col: str
) -> DataFrame:
    """The delta-ingest core: candidate pairs from joining a NEW batch's
    band keys against the corpus band-key INDEX (``(id, band, bh)`` rows —
    typically a parquet table appended at every prior ingest, and exactly
    what :func:`lsh_band_keys` emits). ``index_bands`` must already
    contain the new batch's own keys for new-new pairs to surface.
    Shuffle key is the uniform (band, bh); output is (id_a < id_b)
    distinct — the least/greatest canonicalization dedups the double
    match a new-new collision produces."""
    a = new_bands.alias("a")
    b = index_bands.alias("b")
    ia, ib = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return (
        a.join(b, on=["band", "bh"], how="inner")
        .filter(ia != ib)
        .select(F.least(ia, ib).alias("id_a"), F.greatest(ia, ib).alias("id_b"))
        .distinct()
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash fingerprint per document (``bits``-bit, from token md5 hashes).

    bit_j(doc) = 1 iff sum over tokens of (2*((h(tok)>>j)&1)-1) > 0.
    Single explode + groupBy(id) with map-side combinable sums.
    """
    toks = df.select(id_col, F.explode(tokens_col(text_col)).alias("tok"))
    h = md5_bigint_col(F.col("tok"))
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select(F.col(id_col), fp.cast("bigint").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints, band-bucketed.

    Pigeonhole EXACTNESS: a pair within ``max_hamming`` bit flips leaves at
    least one of ``bands`` bands untouched whenever ``max_hamming <
    bands`` — so banding loses nothing vs the all-pairs scan (unlike
    probabilistic MinHash-LSH recall) while the join only meets within
    band buckets, never the n² pair space. Verification is one
    ``bit_count(xor)`` per candidate. Scale config: 60-bit fingerprints
    with 4×15-bit bands keeps band buckets hash-sparse at corpus size;
    the 16-bit default matches the ``simhash`` fingerprint entry."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    fp = simhash(df, id_col, text_col, bits=bits)
    keyed = (
        fp.select(
            id_col,
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            F.shiftright("simhash", t * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("b"),
                        )
                        for t in range(bands)
                    ]
                )
            ).alias("tb"),
        ).select(id_col, "simhash", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, on=["t", "b"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__ha"),
            F.col("b.simhash").alias("__hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.0,
    max_doc_freq: int | None = 1000,
    restrict_ids: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all candidate pairs that share at
    least one shingle (id_a < id_b, jaccard >= threshold).

    |A∩B| via a self-join on shingle; |A|,|B| via per-doc counts. Intended
    for bounded inputs or as the verify stage after LSH candidate pruning —
    the join on shingle is the n²-avoiding path.

    ``max_doc_freq`` caps shingle document frequency BEFORE the self-join:
    one ubiquitous shingle (a stopword trigram appearing in m docs) would
    otherwise contribute an m² bucket to the join — the quadratic skew
    killer at scale. Shingles above the cap are excluded from both the
    intersection AND the per-doc sizes, so the jaccard stays a true Jaccard
    over the retained shingle sets. Default 1000 bounds any single join
    bucket at ~10⁶ pairs; ``None`` disables.
    """
    sh = shingles(df, id_col, text_col, n=n)
    if max_doc_freq is not None:
        freq_ok = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, on="shingle", how="inner")
    # materialize the filtered shingle set ONCE: it feeds the per-doc sizes
    # and BOTH self-join sides, and Spark won't reuse the tokenize+explode(+
    # frequency-filter) subtree across them on its own — unmaterialized, the
    # plan re-scans and re-explodes the corpus per consumer (audited: 8
    # parquet scans for this one operator). Same localCheckpoint rationale
    # as lsh_candidate_pairs (ContextCleaner-released, caller unaffected).
    if restrict_ids is not None:
        # verify-stage restriction (e.g. docs appearing in LSH candidate
        # pairs): shrink the self-join sides AFTER the frequency cap so
        # shingle df — and therefore every retained shingle set and
        # jaccard value — is computed over the FULL corpus, identically
        # to the unrestricted call; only pairs outside the restriction
        # disappear. At scale this makes the verify cost proportional to
        # the candidates, not the corpus.
        keep = restrict_ids.select(F.col(restrict_ids.columns[0]).alias(id_col))
        sh = sh.join(F.broadcast(keep.distinct()), on=id_col, how="left_semi")
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    round_to: int = 6,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= threshold (id_a < id_b).

    All-pairs broadcast baseline — O(n²), bounded inputs ONLY (it is the
    verifier / small-side path). The scale path is
    :func:`embedding_lsh_pairs`: random-hyperplane bucketing first, exact
    cosine only within buckets.
    """
    from flink_sql_ai_meetingcoach_azure_spark.functions.vectors import dot_col, norm_col  # noqa: PLC0415

    # norms once per side (not per pair): one zip_with dot per pair instead
    # of three array aggregates
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    ).withColumn("__na", norm_col("__va"))
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    ).withColumn("__nb", norm_col("__vb"))
    sim = dot_col("__va", "__vb") / (F.col("__na") * F.col("__nb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(sim, round_to))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def random_hyperplanes(
    dim: int, n_planes: int, n_tables: int = 1, seed: str = "rp"
) -> list[list[list[float]]]:
    """Deterministic md5-derived hyperplanes, ``[table][plane][dim]``.

    Component (t, p, j) = md5_60bit(f"{seed}:{t}:{p}:{j}") / 2^59 - 1 ∈
    [-1, 1). Driver-side plain Python: the SAME floats are embedded as
    literals in the Spark plan and in the DuckDB oracle SQL (``repr`` of a
    Python float round-trips exactly to the identical IEEE double), so the
    bucketing is bit-reproducible across engines.
    """
    import hashlib  # noqa: PLC0415

    def comp(t: int, p: int, j: int) -> float:
        h = int(hashlib.md5(f"{seed}:{t}:{p}:{j}".encode()).hexdigest()[:15], 16)
        return h / 2.0**59 - 1.0

    return [
        [[comp(t, p, j) for j in range(dim)] for p in range(n_planes)]
        for t in range(n_tables)
    ]


def _rp_bits_numpy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[list[float]]],
    round_to: int = 6,
) -> DataFrame:
    """(id, table, bucket) via ONE vectorized pass: all table×plane dots as
    a single GEMM per Arrow batch. The Catalyst-expression path costs ~µs
    per element in interpreted higher-order lambdas (n·tables·planes·dim
    ops — the known slow path at corpus scale); this is the same
    numpy-for-bulk-dense-math tradeoff as vector_search's GEMM route.
    Dots are rounded to ``round_to`` dp before the sign, so buckets are
    bit-identical to the expression path and the DuckDB oracle."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
        _round_half_away,
    )

    n_tables, n_planes = len(planes), len(planes[0])
    mat = np.asarray(planes, dtype=np.float64).reshape(n_tables * n_planes, -1)
    pow2 = 2 ** np.arange(n_planes, dtype=np.int64)
    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            bits = (_round_half_away(x @ mat.T, round_to) > 0).reshape(
                len(pdf), n_tables, n_planes
            )
            buckets = (bits * pow2).sum(axis=2)
            for t in range(n_tables):
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "t": t, "b": buckets[:, t]}
                )

    return df.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, t int, b long"
    )


def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    round_to: int = 6,
    method: str = "numpy",
) -> DataFrame:
    """Embedding near-dup at scale: random-hyperplane LSH bucketing, then
    exact cosine only WITHIN buckets — never touches the n² pair space.

    Each table hashes a vector to an ``n_planes``-bit bucket
    (bit p = sign of ⟨v, plane_p⟩); vectors agreeing on all bits of any
    table become candidates (SimHash-LSH: P[bit match] = 1 − θ/π, so near
    pairs collide with prob ≈ (1−θ/π)^n_planes per table, boosted by
    ``n_tables`` independent tables). Shuffle key = (table, bucket) —
    hash-uniform for centered data, no skew; the exact-cosine verify join
    runs per bucket. Recall < 1 by design (tune n_planes down / n_tables up
    to raise it); :func:`embedding_cosine_pairs` is the exact verifier on
    bounded inputs.

    Dot signs are taken on the ``round_to``-dp-rounded dot product so a
    last-ulp divergence between engines cannot flip a bucket bit.
    """
    from flink_sql_ai_meetingcoach_azure_spark.functions.vectors import dot_col, norm_col  # noqa: PLC0415

    planes = random_hyperplanes(dim, n_planes, n_tables)
    if method == "numpy":
        # bulk path: one GEMM per Arrow batch for every table×plane dot
        keyed = _rp_bits_numpy(df, id_col, vec_col, planes, round_to=round_to)
    else:
        # Catalyst-expression path: plan-inspectable, JVM-only — costs
        # interpreted-lambda time per element, keep for small inputs/tests
        buckets = []
        for t in range(n_tables):
            bucket = None
            for p in range(n_planes):
                plane_lit = F.array(*[F.lit(v) for v in planes[t][p]])
                bit = (F.round(dot_col(F.col(vec_col), plane_lit), round_to) > 0).cast("int")
                term = bit * F.lit(2**p)
                bucket = term if bucket is None else bucket + term
            buckets.append(F.struct(F.lit(t).alias("t"), bucket.alias("b")))
        keyed = df.select(
            F.col(id_col), F.explode(F.array(*buckets)).alias("tb")
        ).select(id_col, F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    a = keyed.alias("a")
    b = keyed.alias("b")
    cand = (
        a.join(b, on=["t", "b"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")).withColumn(
        "__na", norm_col("__va")
    )
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")).withColumn(
        "__nb", norm_col("__vb")
    )
    sim = dot_col("__va", "__vb") / (F.col("__na") * F.col("__nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.round(sim, round_to))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    out_col: str = "clean_text",
    preserve_cols: bool = False,
) -> DataFrame:
    """Corpus-level exact line deduplication — the RefinedWeb/CCNet-style
    boilerplate pass: a line whose exact content appears in >= ``min_docs``
    DISTINCT documents (headers, footers, cookie banners, nav chrome) is
    removed from EVERY document; blank lines are never dup-counted.

    Returns one row per input document: (id_col, out_col) with surviving
    lines rejoined in original order ('' when every line was boilerplate).
    With ``preserve_cols=True`` every other input column rides along
    (metadata like source/lang survive the pass — one extra broadcast-able
    join keyed by id, nothing corpus-shaped).

    Scale shape: posexplode (no shuffle) → per-line distinct-doc count (one
    partial-aggregated shuffle keyed by line) → left_anti join back on line
    → per-doc reassembly (one shuffle keyed by id).  Line text is the join
    key; at 100 TB swap it for ``md5(line)`` to cut shuffle width — the
    structure is unchanged.
    """
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    )
    dup = (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("line")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("line")
    )
    kept = lines.join(dup, on="line", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
            "\n",
        ).alias(out_col)
    )
    # a doc whose every line was removed must still appear, as ''
    base = df if preserve_cols else df.select(id_col)
    passthrough = [c for c in base.columns if c not in (id_col, text_col)]
    return base.join(rebuilt, on=id_col, how="left").select(
        id_col,
        *passthrough,
        F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
    )


def contamination_flags(
    corpus_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing at
    least one word ``n``-gram shingle with the eval/benchmark set (the
    standard published n-gram-collision test for train/test contamination).

    Returns (id_col, n_collisions, contaminated) for EVERY corpus doc.

    Scale shape: the eval set is small by nature (benchmarks are thousands
    of rows, the corpus is the 100-TB side), so its distinct shingle set is
    BROADCAST and the collision check is a map-side join against the
    corpus shingle stream — no corpus-sized shuffle; the per-doc count is
    one partial-aggregated exchange over the (rare) colliding rows only.
    """
    eval_text_col = eval_text_col or text_col
    c = shingles(corpus_df, id_col, text_col, n=n, distinct=True)
    e = (
        shingles(
            eval_df.select(F.monotonically_increasing_id().alias("__eid"), eval_text_col),
            "__eid",
            eval_text_col,
            n=n,
            distinct=False,
        )
        .select("shingle")
        .distinct()
    )
    hits = (
        c.join(F.broadcast(e), on="shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_collisions"))
    )
    return corpus_df.select(id_col).join(hits, on=id_col, how="left").select(
        id_col,
        F.coalesce(F.col("n_collisions"), F.lit(0)).cast("int").alias("n_collisions"),
        (F.coalesce(F.col("n_collisions"), F.lit(0)) > 0).alias("contaminated"),
    )
