"""Operator layer: dedup family, vector search (all three methods agree),
top-n."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import (
    dedup_exact,
    embedding_cosine_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from flink_sql_ai_meetingcoach_azure_spark.operators.top_n import recent_top_n
from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
    build_ivf_index,
    vector_search,
    vector_search_ivf,
    vector_search_topk_flat,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over a sleepy dog"),  # near dup
        (4, "completely different content about spark engines"),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def test_dedup_exact_keeps_min(spark):
    out = dedup_exact(_docs(spark), "text", "id", keep="min")
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [1, 3, 4]


def test_shingles_distinct(spark):
    sh = shingles(_docs(spark).filter("id = 1"), "id", "text", n=3)
    rows = [r["shingle"] for r in sh.collect()]
    assert "the quick brown" in rows
    assert len(rows) == len(set(rows))


def test_shingles_matches_definitional_transform_form(spark):
    """The explode-positions shingle builder (r13: array_join(slice) in
    codegen instead of a transform HOF lambda) must emit exactly the rows
    of the definitional per-row transform form — including the edge cases:
    empty text, whitespace-only text, docs shorter than n (one truncated
    shingle), and duplicate shingles preserved when distinct=False."""
    from pyspark.sql import functions as F

    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import tokens_col

    rows = [
        (0, ""),
        (1, "   \t\n "),
        (2, "one"),
        (3, "one two"),
        (4, "one two three"),
        (5, "a b c a b c a b c"),  # duplicate shingles
        (6, "  leading and trailing   spaces  "),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    n = 3
    definitional = df.select(
        "id", tokens_col("text").alias("__toks")
    ).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("__toks") - n, F.lit(0))),
                lambda i: F.array_join(F.slice(F.col("__toks"), i + 1, n), " "),
            )
        ).alias("shingle"),
    )
    got = shingles(df, "id", "text", n=n, distinct=False)
    want = sorted((r["id"], r["shingle"]) for r in definitional.collect())
    have = sorted((r["id"], r["shingle"]) for r in got.collect())
    assert have == want
    # duplicates really are preserved (doc 5 repeats "a b c")
    assert have.count((5, "a b c")) == 3


def test_minhash_identical_docs_identical_sigs(spark):
    sigs = minhash_signatures(_docs(spark), "id", "text", num_hashes=8).collect()
    by_id = {r["id"]: tuple(r[f"h{i}"] for i in range(8)) for r in sigs}
    assert by_id[1] == by_id[2]
    # near-dup shares most mins; disjoint doc shares none
    shared_near = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    shared_far = sum(a == b for a, b in zip(by_id[1], by_id[4]))
    assert shared_near > shared_far


def test_lsh_pairs_catch_duplicates(spark):
    sigs = minhash_signatures(_docs(spark), "id", "text", num_hashes=8)
    pairs = {(r["id_a"], r["id_b"]) for r in
             lsh_candidate_pairs(sigs, "id", num_hashes=8, band_size=2).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_simhash_hamming_locality(spark):
    fps = {r["id"]: r["simhash"] for r in
           simhash(_docs(spark), "id", "text", bits=16).collect()}
    assert fps[1] == fps[2]

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(fps[1], fps[3]) < ham(fps[1], fps[4])


def test_ngram_jaccard(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(_docs(spark), "id", "text", n=3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs  # no shared shingles


def test_ngram_jaccard_hot_shingle_cap(spark):
    """One ubiquitous shingle must not create a quadratic join bucket: with
    a document-frequency cap below the corpus size, pairs connected ONLY
    through the hot shingle vanish, while genuinely-similar pairs keep a
    (cap-consistent) jaccard."""
    hot = "the quick fox"  # one shared trigram across ALL docs
    rows = [(i, f"{hot} unique{i} marker{i} tail{i} words{i}") for i in range(10)]
    rows += [(100, f"{hot} shared body of text here"),
             (101, f"{hot} shared body of text here")]
    df = spark.createDataFrame(rows, ["id", "text"])
    uncapped = {(r["id_a"], r["id_b"]) for r in
                ngram_jaccard_pairs(df, "id", "text", n=3, max_doc_freq=None).collect()}
    capped = {(r["id_a"], r["id_b"]) for r in
              ngram_jaccard_pairs(df, "id", "text", n=3, max_doc_freq=5).collect()}
    # uncapped: every pair shares the hot shingle -> ~n² pairs
    assert len(uncapped) == 12 * 11 // 2
    # capped: only the true near-dup pair survives
    assert capped == {(100, 101)}


def test_embedding_lsh_pairs_subset_of_exact(spark):
    """LSH-bucketed near-dup returns a subset of the all-pairs result with
    identical similarities, and catches true near-duplicates (which agree
    on every hyperplane sign with high probability)."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import embedding_lsh_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["id", "v"])
    exact = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
             embedding_cosine_pairs(df, "id", "v", threshold=0.95).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
           embedding_lsh_pairs(df, "id", "v", dim=4, threshold=0.95,
                               n_planes=4, n_tables=4).collect()}
    assert set(lsh) <= set(exact)
    assert (1, 2) in lsh  # the true near-dup pair is found
    assert lsh[(1, 2)] == exact[(1, 2)]


def test_simhash_pairs_pigeonhole_exact(spark):
    """With bands > max_hamming, banded candidates lose NOTHING vs the
    brute-force hamming scan (pigeonhole: <=3 flips leave >=1 of 4 bands
    intact) — banded output == all-pairs output."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import (
        simhash,
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"shared body of words unique{i % 7} tail{i % 3} x{i % 2}") for i in range(40)],
        ["id", "text"],
    )
    fps = {r["id"]: r["simhash"] for r in simhash(docs, "id", "text", bits=16).collect()}
    brute = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs, "id", "text", bits=16, bands=4, max_hamming=3).collect()
    }
    assert got == brute and brute


def test_dedup_keep_best_and_neardup_survivors(spark):
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import (
        dedup_keep_best,
        neardup_survivors,
    )

    df = spark.createDataFrame(
        [(1, "same text", 10), (2, "same text", 99), (3, "other", 5)],
        ["id", "text", "quality"],
    )
    kept = {r["id"] for r in dedup_keep_best(df, "text", "id", "quality").collect()}
    assert kept == {2, 3}  # highest quality wins the dup group

    docs = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    # chain a~b~c plus isolated pair d~e: drop every id_b
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    kept = {r["id"] for r in neardup_survivors(docs, pairs, "id").collect()}
    assert kept == {1, 4}  # documented greedy policy: 3 goes with its chain


@pytest.mark.parametrize("round_to", [6, 1])
def test_embedding_lsh_methods_agree(spark, round_to):
    """The numpy GEMM bucket path and the Catalyst-expression path produce
    IDENTICAL pairs (dots rounded to round_to dp before the sign in both).
    round_to=1 coarsens many dots to 0.0 — a sign flip vs 6 dp — so this
    also pins that BOTH paths honor the round_to parameter rather than
    hardcoding 6 (a silent recall change at any other setting)."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import embedding_lsh_pairs

    rng_rows = [
        (i, [((i * 37 + j * 11) % 19 - 9) / 7.0 for j in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rng_rows, ["id", "v"])
    kw = dict(dim=8, threshold=0.2, n_planes=4, n_tables=3, round_to=round_to)
    a = {(r["id_a"], r["id_b"], r["cos_sim"]) for r in
         embedding_lsh_pairs(df, "id", "v", method="numpy", **kw).collect()}
    b = {(r["id_a"], r["id_b"], r["cos_sim"]) for r in
         embedding_lsh_pairs(df, "id", "v", method="sql", **kw).collect()}
    assert a == b and a


def test_embedding_cosine_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0]),    # orthogonal
    ]
    df = spark.createDataFrame(rows, ["id", "v"])
    out = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
           embedding_cosine_pairs(df, "id", "v", threshold=0.95).collect()}
    assert list(out) == [(1, 2)]
    assert out[(1, 2)] > 0.99


def _index(spark):
    rows = [
        ("a", "chunk a", [1.0, 0.0, 0.0]),
        ("b", "chunk b", [0.9, 0.1, 0.0]),
        ("c", "chunk c", [0.0, 1.0, 0.0]),
        ("d", "chunk d", [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, ["document_id", "chunks", "embedding"])


def test_vector_search_sql_topk(spark):
    q = spark.createDataFrame([("q1", [1.0, 0.0, 0.0])], ["qid", "embedding"])
    out = vector_search(q, _index(spark), k=2,
                        payload_cols=["document_id", "chunks"]).head()
    got = [s["document_id"] for s in out["search_results"]]
    assert got == ["a", "b"]  # ranked by cosine desc


def test_vector_search_agrees_with_flat_reference(spark):
    q = spark.createDataFrame(
        [("q1", [1.0, 0.0, 0.0]), ("q2", [0.1, 0.9, 0.0])], ["qid", "embedding"]
    )
    ref = {}
    for r in sorted(vector_search_topk_flat(q, _index(spark).drop("chunks"), k=3,
                                            payload_cols=["document_id"]).collect(),
                    key=lambda r: r["search_rank"]):
        ref.setdefault(r["qid"], []).append(r["document_id"])
    got = {r["qid"]: [s["document_id"] for s in r["search_results"]]
           for r in vector_search(q, _index(spark), k=3,
                                  payload_cols=["document_id", "chunks"]).collect()}
    assert got == ref


def test_vector_search_broadcast_guard(spark):
    """The broadcast searches refuse to driver-collect an index past
    max_index_rows, naming the on-disk IVF path in the error; at or under
    the ceiling they run normally."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        embed_and_search_numpy,
    )
    from flink_sql_ai_meetingcoach_azure_spark.models.providers import MockProvider

    q = spark.createDataFrame([("q1", [1.0, 0.0, 0.0])], ["qid", "embedding"])
    idx = _index(spark)  # 4 rows
    with pytest.raises(ValueError, match="vector_search_ivf_parquet"):
        vector_search(q, idx, k=2, payload_cols=["document_id"], max_index_rows=3)
    ok = vector_search(q, idx, k=2, payload_cols=["document_id"],
                       max_index_rows=4).head()
    assert len(ok["search_results"]) == 2

    msgs = spark.createDataFrame([("hello",)], ["message"])
    with pytest.raises(ValueError, match="max_index_rows=2"):
        embed_and_search_numpy(msgs, idx.withColumn(
            "embedding", F.expr("transform(sequence(1, 3), x -> cast(x as float))")),
            MockProvider(dim=3), k=1, payload_cols=["document_id"], max_index_rows=2)


def test_vector_search_autoroutes_to_ivf_past_cliff(spark, tmp_path):
    """With fallback_path set, an index past max_index_rows transparently
    takes the partition-pruned on-disk IVF path instead of raising — and at
    nprobe >= nlist the routed results are identical to the broadcast path."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        build_ivf_index,
        write_ivf_index,
    )

    idx = _index(spark)  # 4 rows
    ivf, centroids = build_ivf_index(idx, "embedding", nlist=2)
    path = str(tmp_path / "ivf")
    write_ivf_index(ivf, centroids, path)
    q = spark.createDataFrame(
        [("q1", [1.0, 0.0, 0.0]), ("q2", [0.1, 0.9, 0.0])], ["qid", "embedding"]
    )

    def names(df):
        return {r["qid"]: [s["document_id"] for s in r["search_results"]]
                for r in df.collect()}

    exact = names(vector_search(q, idx, k=2, payload_cols=["document_id"]))
    routed = vector_search(
        q, idx, k=2, payload_cols=["document_id"],
        max_index_rows=3, fallback_path=path, fallback_nprobe=2,
    )
    assert names(routed) == exact
    # without a fallback the guard still raises with guidance
    with pytest.raises(ValueError, match="fallback_path"):
        vector_search(q, idx, k=2, payload_cols=["document_id"], max_index_rows=3)


def test_build_ivf_index_refine_iters_full_corpus_refinement(spark):
    """refine_iters > 0 refines the sample-trained centroids over the
    FULL corpus with exact-integer Lloyd rounds (seeded lloyd_refine,
    VERDICT r8 #2): centroids move, every row still gets a centroid_id
    in range, and at nprobe = nlist the IVF result set is exhaustive so
    retrieval equality with the unrefined index is preserved."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        build_ivf_index,
    )

    rows = [(f"d{i}", [float(i % 7) - 3.0, float((i * 3) % 11) - 5.0,
                       float(i % 4) + 0.25]) for i in range(120)]
    emb = spark.createDataFrame(rows, "document_id string, embedding array<float>")

    ivf0, cent0 = build_ivf_index(emb, "embedding", nlist=3, seed=7)
    ivf2, cent2 = build_ivf_index(emb, "embedding", nlist=3, seed=7,
                                  refine_iters=2)
    assert len(cent2) == len(cent0) and len(cent2[0]) == 3
    assert cent2 != cent0  # refinement actually moved the model
    got = ivf2.groupBy("centroid_id").count().collect()
    assert {r["centroid_id"] for r in got} <= {0, 1, 2}
    assert sum(r["count"] for r in got) == 120
    # full-corpus refinement never degrades the exhaustive-probe result
    q = spark.createDataFrame([("q1", [0.5, -0.5, 1.0])], ["qid", "embedding"])
    exact = vector_search(q, emb, k=3, payload_cols=["document_id"])
    exact_ids = [s["document_id"] for s in exact.collect()[0]["search_results"]]
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        vector_search_ivf,
    )

    routed = vector_search_ivf(q, ivf2, cent2, k=3, nprobe=3,
                               payload_cols=["document_id"])
    routed_ids = [s["document_id"] for s in routed.collect()[0]["search_results"]]
    assert routed_ids == exact_ids


def test_embed_and_search_autoroutes_to_ivf_past_cliff(spark, tmp_path):
    """The fused embed+GEMM path un-fuses past the ceiling: an embed
    pandas-UDF then the partition-pruned IVF probe, same output schema and
    (at nprobe >= nlist) identical results to the fused broadcast path."""
    from flink_sql_ai_meetingcoach_azure_spark.models.providers import MockProvider
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        build_ivf_index,
        embed_and_search_numpy,
        write_ivf_index,
    )

    provider = MockProvider(dim=3)
    idx = _index(spark)  # 4 rows
    ivf, centroids = build_ivf_index(idx, "embedding", nlist=2)
    path = str(tmp_path / "ivf")
    write_ivf_index(ivf, centroids, path)
    msgs = spark.createDataFrame([("hello",), ("pricing concern",)], ["message"])

    def shape(df):
        return df.columns, {r["message"]: [s["document_id"] for s in r["search_results"]]
                            for r in df.collect()}

    fused_cols, fused = shape(embed_and_search_numpy(
        msgs, idx, provider, k=2, payload_cols=["document_id"]))
    routed_cols, routed = shape(embed_and_search_numpy(
        msgs, idx, provider, k=2, payload_cols=["document_id"],
        max_index_rows=3, fallback_path=path, fallback_nprobe=2))
    assert routed_cols == fused_cols
    assert routed == fused


def test_vector_search_flat_rank(spark):
    q = spark.createDataFrame([("q1", [1.0, 0.0, 0.0])], ["qid", "embedding"])
    rows = vector_search_topk_flat(q, _index(spark).select("document_id", "embedding"),
                                   k=2, payload_cols=["document_id"]).collect()
    assert [(r["document_id"], r["search_rank"]) for r in rows] == [("a", 1), ("b", 2)]


def test_ivf_finds_same_top1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(64).cache()
    ivf, centroids = build_ivf_index(emb, "embedding", nlist=4)
    q = emb.limit(4).select(F.col("vec_id").alias("qid"), "embedding")
    # nprobe = nlist => exhaustive => must match exact brute force top-1
    exact = {r["qid"]: r["search_results"][0]["vec_id"]
             for r in vector_search(q, emb, k=1, payload_cols=["vec_id"]).collect()}
    ivf_out = {r["qid"]: r["search_results"][0]["vec_id"]
               for r in vector_search_ivf(q, ivf, centroids, k=1, nprobe=4,
                                          payload_cols=["vec_id"]).collect()}
    assert exact == ivf_out


def test_ivf_recall_on_clustered_sorted_index(spark):
    """Centroid training must SAMPLE, not limit(): on an index laid out
    sorted/clustered (the common case — data written cluster by cluster),
    first-N sampling collapses centroids onto the leading clusters and
    recall at nprobe < nlist silently dies. With uniform sampling, probing
    nprobe = nlist/4 cells on well-separated clusters keeps recall@k high."""
    import numpy as np

    rng = np.random.RandomState(7)
    n_clusters, per_cluster, dim = 8, 300, 16
    centers = rng.randn(n_clusters, dim) * 10
    rows = []
    vid = 0
    for c in range(n_clusters):  # SORTED by cluster — the worst file order
        for _ in range(per_cluster):
            v = centers[c] + rng.randn(dim) * 0.2
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(1).cache()

    ivf, centroids = build_ivf_index(emb, "embedding", nlist=n_clusters)
    q_rows = [(f"q{c}", [float(x) for x in centers[c] + rng.randn(dim) * 0.2])
              for c in range(n_clusters)]
    q = spark.createDataFrame(q_rows, ["qid", "embedding"])

    k = 5
    exact = {r["qid"]: {s["vec_id"] for s in r["search_results"]}
             for r in vector_search(q, emb, k=k, payload_cols=["vec_id"]).collect()}
    approx = {r["qid"]: {s["vec_id"] for s in r["search_results"]}
              for r in vector_search_ivf(q, ivf, centroids, k=k,
                                         nprobe=n_clusters // 4,
                                         payload_cols=["vec_id"]).collect()}
    hits = sum(len(exact[qid] & approx[qid]) for qid in exact)
    recall = hits / (len(exact) * k)
    assert recall >= 0.9, recall


def test_ivf_parquet_partition_pruning(spark, tmp_path):
    """The on-disk IVF path: results identical to the in-memory probe join
    at the same nprobe, and the index scan carries a centroid_id
    PartitionFilter — probes prune PARTITIONS (files read ∝ nprobe/nlist),
    not rows post-scan."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        ivf_pruned_scan,
        read_ivf_centroids,
        vector_search_ivf_parquet,
        write_ivf_index,
    )

    rng = np.random.RandomState(3)
    centers = rng.randn(6, 8) * 10
    rows = []
    for c in range(6):
        for j in range(50):
            v = centers[c] + rng.randn(8) * 0.3
            rows.append((c * 50 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    ivf, centroids = build_ivf_index(emb, "embedding", nlist=6)
    path = str(tmp_path / "ivf_idx")
    write_ivf_index(ivf, centroids, path)
    # sidecar round-trips through Spark (Hadoop-FS-portable, no local open())
    assert read_ivf_centroids(spark, path) == centroids
    # the _-prefixed sidecar dir must stay invisible to the index scan
    assert set(spark.read.parquet(path).columns) == {"vec_id", "embedding", "centroid_id"}

    q = spark.createDataFrame(
        [(f"q{c}", [float(x) for x in centers[c]]) for c in range(2)],
        ["qid", "embedding"],
    )
    on_disk = {
        r["qid"]: [s["vec_id"] for s in r["search_results"]]
        for r in vector_search_ivf_parquet(
            q, path, k=3, nprobe=2, payload_cols=["vec_id"]
        ).collect()
    }
    in_mem = {
        r["qid"]: [s["vec_id"] for s in r["search_results"]]
        for r in vector_search_ivf(
            q, ivf, centroids, k=3, nprobe=2, payload_cols=["vec_id"]
        ).collect()
    }
    assert on_disk == in_mem and len(on_disk) == 2

    # the scan itself must prune partitions, not filter rows
    plan = ivf_pruned_scan(spark, path, [0, 3])._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters", 1)[1][:200]
    assert ivf_pruned_scan(spark, path, [0]).select("centroid_id").distinct().count() == 1


def test_ivf_query_with_empty_probe_cells_keeps_row(spark):
    """A query whose probed cells hold no index rows must still appear,
    with an empty search_results array (operator contract: append a column
    to EVERY query row)."""
    # index with an explicit centroid assignment far from the query
    ivf = spark.createDataFrame(
        [(1, [10.0, 0.0], 0)], ["vec_id", "embedding", "centroid_id"]
    )
    centroids = [[10.0, 0.0], [-10.0, 0.0]]  # cell 1 is empty
    q = spark.createDataFrame([("lonely", [-10.0, 0.1])], ["qid", "embedding"])
    out = vector_search_ivf(q, ivf, centroids, k=3, nprobe=1,
                            payload_cols=["vec_id"]).collect()
    assert len(out) == 1
    assert out[0]["qid"] == "lonely"
    assert out[0]["search_results"] == []


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """Backs the documented 100-TB swap-in: approx_percentile (t-digest,
    map-side mergeable) lands within 5% of the exact interpolated
    percentile on the documents length distribution."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = docs.agg(
        F.expr("percentile(n_chars, 0.9)").alias("exact"),
        F.expr("approx_percentile(n_chars, 0.9, 1000)").alias("approx"),
    ).head()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_deterministic_sampling_family(spark):
    """Hash-bucket sampling: retry/partitioning-stable, monotone in the
    fraction (a smaller sample is a SUBSET of a larger one, same salt),
    stratified rates land near target, split is disjoint+exhaustive."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.sampling import (
        deterministic_sample,
        deterministic_split,
        shuffle_by_hash,
        stratified_sample,
    )

    rows = [(i, "en" if i % 3 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "lang"])

    s30 = {r["id"] for r in deterministic_sample(df, "id", 0.3).collect()}
    s60 = {r["id"] for r in deterministic_sample(df, "id", 0.6).collect()}
    assert s30 <= s60  # monotone thresholds, not independent draws
    assert abs(len(s30) / 2000 - 0.3) < 0.05 and abs(len(s60) / 2000 - 0.6) < 0.05
    # partitioning must not change the selected SET (retry/scale stability)
    s30_rep = {r["id"] for r in deterministic_sample(df.repartition(13), "id", 0.3).collect()}
    assert s30_rep == s30

    split = deterministic_split(df, "id").collect()
    by = {}
    for r in split:
        by.setdefault(r["split"], set()).add(r["id"])
    assert sum(len(v) for v in by.values()) == 2000  # exhaustive
    assert len(by["train"] | by["val"] | by["test"]) == 2000  # disjoint
    assert abs(len(by["train"]) / 2000 - 0.8) < 0.05

    strat = stratified_sample(df, "id", "lang", {"en": 0.25}, default_fraction=1.0).collect()
    en = [r for r in strat if r["lang"] == "en"]
    de = [r for r in strat if r["lang"] == "de"]
    assert len(de) == 2000 // 3 + 1  # untouched stratum keeps every row
    assert abs(len(en) / (2000 - len(de)) - 0.25) < 0.06

    o1 = [r["id"] for r in shuffle_by_hash(df, "id").collect()]
    o2 = [r["id"] for r in shuffle_by_hash(df.repartition(7), "id").collect()]
    assert o1 == o2 and o1 != sorted(o1)  # total deterministic non-trivial order


def test_recent_top_n_global_and_partitioned(spark):
    import datetime as dt

    base = dt.datetime(2026, 1, 1)
    rows = [(u, i, base + dt.timedelta(minutes=i)) for u in ("a", "b") for i in range(10)]
    df = spark.createDataFrame(rows, ["user", "seq", "rowtime"])
    g = recent_top_n(df, n=6, ts_col="rowtime", tiebreak=["seq"]).collect()
    assert len(g) == 6
    assert [r["seq"] for r in g] == [7, 8, 9, 7, 8, 9] or len({r["seq"] for r in g}) > 0
    p = recent_top_n(df, n=2, ts_col="rowtime", partition_by=["user"], tiebreak=["seq"])
    out = p.collect()
    assert len(out) == 4
    assert all(r["seq"] >= 8 for r in out)


def test_pack_contiguous_bins_and_overflow(spark):
    from flink_sql_ai_meetingcoach_azure_spark.operators.packing import pack_contiguous

    rows = [
        # shard A: 600+600 fill bin0 (budget 1500), 500 pushes cum to 1700 ->
        # doc 3 straddles; doc 4 starts after cum_before=2200 -> bin1
        ("a", 1, 600), ("a", 2, 600), ("a", 3, 500), ("a", 4, 600),
        # shard B: independent numbering; 2000 alone exceeds the budget
        ("b", 1, 2000), ("b", 2, 100),
    ]
    df = spark.createDataFrame(rows, ["shard", "doc", "toks"])
    out = {(r["shard"], r["doc"]): r for r in pack_contiguous(
        df, "doc", "toks", budget=1500, partition_by=["shard"]).collect()}
    assert [out[("a", i)]["bin_id"] for i in (1, 2, 3, 4)] == [0, 0, 0, 1]
    assert [out[("b", i)]["bin_id"] for i in (1, 2)] == [0, 1]
    assert out[("b", 1)]["overflow"] is True
    assert not any(out[k]["overflow"] for k in out if k != ("b", 1))


def test_pack_contiguous_plan_is_one_partitioned_window(spark):
    """Packing must stay a per-shard window — no global sort, no
    unpartitioned-window warning at 100x the shards."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.packing import pack_contiguous

    df = spark.createDataFrame([("a", 1, 10)], ["shard", "doc", "toks"])
    plan = pack_contiguous(df, "doc", "toks", 100, partition_by=["shard"])._jdf \
        .queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "windowspecdefinition(shard" in plan


def test_write_training_shards_layout_and_order(spark, tmp_path):
    import glob
    import pandas as pd

    from flink_sql_ai_meetingcoach_azure_spark.operators.packing import (
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, "train" if i % 5 else "val", f"d{i}") for i in range(200)],
        ["doc_id", "split", "text"],
    )
    path = str(tmp_path / "shards")
    write_training_shards(
        df, path, split_col="split", files_per_split=4, order_by=["doc_id"]
    )
    # one directory per split, rows preserved exactly
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert {r["split"] for r in back.select("split").distinct().collect()} == {"train", "val"}
    for split, n in (("train", 160), ("val", 40)):
        files = glob.glob(f"{path}/split={split}/*.parquet")
        assert 1 <= len(files) <= 4  # ~files_per_split (hash collisions merge)
        total = 0
        for f in files:
            pdf = pd.read_parquet(f)
            total += len(pdf)
            # each FILE is internally ordered — sequential readers stream
            # packed bins contiguously
            assert pdf["doc_id"].is_monotonic_increasing
        assert total == n
    # deterministic: a retried write assigns identical file membership
    path2 = str(tmp_path / "shards2")
    write_training_shards(
        df, path2, split_col="split", files_per_split=4, order_by=["doc_id"]
    )
    a = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(path2).collect())
    assert a == b


def test_dedup_lines_strips_corpus_boilerplate(spark):
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import dedup_lines

    rows = [
        (1, "HEADER\nalpha beta\nFOOTER"),
        (2, "HEADER\ngamma delta\nFOOTER"),
        (3, "HEADER\nepsilon zeta"),
        (4, "HEADER"),              # all-boilerplate doc -> ''
        (5, "solo line stays"),     # unique single-line doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["clean_text"] for r in dedup_lines(df).collect()}
    assert out == {
        1: "alpha beta",
        2: "gamma delta",
        3: "epsilon zeta",
        4: "",
        5: "solo line stays",
    }


def test_dedup_lines_preserves_order_and_blank_lines(spark):
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import dedup_lines

    rows = [
        (1, "DUP\na\n\nb\nDUP\nc"),   # blank line kept, both DUPs removed
        (2, "DUP\nx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["clean_text"] for r in dedup_lines(df).collect()}
    assert out[1] == "a\n\nb\nc"
    assert out[2] == "x"


def test_contamination_flags_ngram_collisions(spark):
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import contamination_flags

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words having zero overlap whatsoever here now"),
            (3, "prefix words then the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], ["text"]
    )
    out = {r["doc_id"]: (r["n_collisions"], r["contaminated"])
           for r in contamination_flags(corpus, eval_df, n=8).collect()}
    assert out[1][1] is True and out[1][0] >= 1
    assert out[2] == (0, False)
    assert out[3][1] is True  # contains the full eval 9-gram -> shares 8-grams


def test_dedup_lines_matches_python_reference_on_random_corpus(spark):
    """Randomized corpus (seeded) vs a pure-Python reference implementation
    of the same spec: lines drawn from a small pool force plenty of
    cross-document duplicates, including all-dup and empty docs."""
    import random

    rng = random.Random(42)
    pool = [f"line pool entry {i}" for i in range(12)]  # small -> many dups
    docs = []
    for d in range(40):
        k = rng.randint(0, 6)
        lines = [
            rng.choice(pool) if rng.random() < 0.6 else f"unique {d} {j}"
            for j in range(k)
        ]
        docs.append((d, "\n".join(lines)))

    min_docs = 2
    from collections import defaultdict

    by_line = defaultdict(set)
    for d, t in docs:
        for ln in t.split("\n"):
            if ln.strip():
                by_line[ln].add(d)
    dup = {ln for ln, ds in by_line.items() if len(ds) >= min_docs}
    expected = {
        d: "\n".join(ln for ln in t.split("\n") if ln not in dup) for d, t in docs
    }

    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r["clean_text"]
           for r in dedup_lines(df, min_docs=min_docs).collect()}
    assert got == expected


def test_dedup_lines_preserve_cols(spark):
    """preserve_cols=True carries metadata through the boilerplate pass."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [(0, "dup\nkeep0", "web"), (1, "dup\nkeep1", "books")],
        ["doc_id", "text", "source"],
    )
    out = {r["doc_id"]: (r["source"], r["clean_text"])
           for r in dedup_lines(df, min_docs=2, preserve_cols=True).collect()}
    assert out == {0: ("web", "keep0"), 1: ("books", "keep1")}


# ---------------------------------------------------------------------------
# connected components (operators/components.py)


def _uf_components(pairs):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for x in parent:
        comps.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comps.values() for x in members}


def test_connected_components_matches_union_find(spark):
    """Chain, ring, star and a seeded random graph all reduce to exactly
    the union-find components with min-id representatives — the chain case
    is the diameter-killer plain label propagation would need O(n) rounds
    for; large-star/small-star converges in O(log² n)."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import (
        connected_components,
    )
    import random

    rng = random.Random(11)
    cases = [
        [(i, i + 1) for i in range(40)],                       # one long chain
        [(0, 1), (1, 2), (2, 0), (9, 8), (7, 9), (20, 21)],    # ring + star
        [(rng.randrange(120), rng.randrange(120)) for _ in range(90)],
    ]
    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a: long, id_b: long")
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert got == _uf_components(pairs)


def test_dedup_by_components_vs_greedy_survivors(spark):
    """On the transitive chain a~b~c (a and c never directly paired) the
    greedy pass drops b AND c; the components pass keeps exactly one row
    per cluster plus all unpaired rows."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import (
        dedup_by_components,
        duplicate_clusters,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import neardup_survivors

    df = spark.createDataFrame([(i,) for i in range(6)], "id: long")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "id_a: long, id_b: long")

    greedy = {r.id for r in neardup_survivors(df, pairs, "id").collect()}
    principled = {r.id for r in dedup_by_components(df, pairs, "id").collect()}
    assert greedy == {0, 3, 5}
    assert principled == {0, 3, 5}  # same here — but on the labeled view:

    lab = duplicate_clusters(df, pairs, "id").orderBy("id").collect()
    assert [(r.id, r.cluster, r.cluster_size) for r in lab] == [
        (0, 0, 3), (1, 0, 3), (2, 0, 3), (3, 3, 2), (4, 3, 2), (5, 5, 1),
    ]


def test_match_funnel_crafted_semantics(spark):
    """Anchored greedy funnel: decoy orderings, partial progress, and the
    within bound all behave as documented."""
    from datetime import datetime

    from flink_sql_ai_meetingcoach_azure_spark.operators.cep import match_funnel

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        # u1: clean A B C within bound
        (1, t(0), "A", 1), (1, t(1), "B", 2), (1, t(2), "C", 3),
        # u2: B before the anchor is ignored; then A B but no C -> 2 stages
        (2, t(0), "B", 4), (2, t(1), "A", 5), (2, t(2), "B", 6),
        # u3: full match but C lands past the 10-minute bound -> not matched
        (3, t(0), "A", 7), (3, t(1), "B", 8), (3, t(30), "C", 9),
        # u4: C first and alone -> 0 stages, no anchor
        (4, t(5), "C", 10),
        # u5: second A must NOT re-anchor; C counts from the FIRST A
        (5, t(0), "A", 11), (5, t(8), "A", 12), (5, t(9), "B", 13), (5, t(10), "C", 14),
    ]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp, event_type: string, event_id: long")
    got = {
        r.user_id: r
        for r in match_funnel(
            df, ("A", "B", "C"), "user_id", "ts", "event_type",
            id_col="event_id", within_seconds=600,
        ).collect()
    }
    assert (got[1].stages_hit, got[1].matched) == (3, True)
    assert got[1].start_ts == t(0) and got[1].end_ts == t(2)
    assert (got[2].stages_hit, got[2].matched) == (2, False)
    assert got[2].end_ts is None
    assert (got[3].stages_hit, got[3].matched) == (3, False)  # bound exceeded
    assert (got[4].stages_hit, got[4].matched) == (0, False)
    assert got[4].start_ts is None
    assert (got[5].stages_hit, got[5].matched) == (3, True)
    assert got[5].start_ts == t(0) and got[5].end_ts == t(10)


def test_quantized_search_matches_catalyst_dequant_path(spark, sf_dir):
    """The int8 numpy GEMM path returns exactly the rows the pure-Catalyst
    composition (quantize → dequantize → flat broadcast search) returns —
    two independent implementations of the same quantized ranking."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.quantize import (
        dequantize_col,
        quantize_embeddings,
        vector_search_topk_quantized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    idx = emb.select("vec_id", "embedding")

    fast = vector_search_topk_quantized(
        queries, idx, k=3, payload_cols=["vec_id"], round_sim=6
    ).select("qid", "vec_id", "similarity", "search_rank")

    deq = quantize_embeddings(idx, "embedding", "__q", "__s").select(
        "vec_id", dequantize_col("__q", "__s").alias("embedding")
    )
    slow = vector_search_topk_flat(
        queries, deq, k=3, payload_cols=["vec_id"], round_sim=6
    ).select("qid", "vec_id", "similarity", "search_rank")

    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_quantize_embeddings_reconstruction_bound(spark):
    """Per-component reconstruction error is bounded by s/2 and zero
    vectors quantize to zero codes with s=0."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.quantize import (
        quantize_embeddings,
    )

    rows = [
        (1, [0.5, -1.0, 0.25, 0.126]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [100.0, -0.001, 3.3, 7.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    for vid, vec in rows:
        r = out[vid]
        maxabs = max(abs(x) for x in vec)
        if maxabs == 0:
            assert r.q_scale == 0 and all(c == 0 for c in r.q_vec)
            continue
        s = maxabs / 127.0
        assert abs(r.q_scale - s) < 1e-12
        assert all(-127 <= c <= 127 for c in r.q_vec)
        for x, c in zip(vec, r.q_vec):
            assert abs(c * s - x) <= s / 2 + 1e-9


# ---------------------------------------------------------------------------
# BPE vocabulary training (operators/bpe.py)


def _py_bpe_train(word_freqs, n_merges, min_count=2):
    """Independent dict-based reference trainer (Sennrich et al. 2016)."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[syms[i], syms[i + 1]] = pairs.get((syms[i], syms[i + 1]), 0) + f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < min_count:
            break
        merges.append(best)
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_learn_bpe_merges_matches_python_reference(spark):
    from flink_sql_ai_meetingcoach_azure_spark.operators.bpe import learn_bpe_merges

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string")
    wf = {}
    for t in texts:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    want = _py_bpe_train(wf, n_merges=12)
    got = learn_bpe_merges(df, "text", n_merges=12)
    assert got == want
    assert len(got) >= 5  # the corpus supports several merges


def test_apply_bpe_roundtrip_and_merge_usage(spark):
    from flink_sql_ai_meetingcoach_azure_spark.operators.bpe import (
        apply_bpe,
        learn_bpe_merges,
    )

    texts = ["low low lower lowest", "newest newer new", "low newest"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string")
    merges = learn_bpe_merges(df, "text", n_merges=10)
    out = {r.doc_id: r for r in apply_bpe(df, merges, "text").collect()}
    for i, t in enumerate(texts):
        toks = t.lower().split()
        subs = list(out[i].bpe_tokens)
        # subword concatenation reconstructs the words in order
        joined, k = [], 0
        for w in toks:
            acc = ""
            while len(acc) < len(w):
                acc += subs[k]
                k += 1
            joined.append(acc)
        assert joined == toks and k == len(subs)
    # training actually compressed: repeated words become single symbols
    low_doc = out[0].bpe_tokens
    assert "low" in low_doc  # 'low' merged into one symbol


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every member of a transitive near-dup cluster gets the SAME split
    label — the property a per-row split violates."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import (
        leakage_safe_split,
    )

    df = spark.createDataFrame([(i,) for i in range(40)], "id: long")
    # chains of 4: {0..3}, {10..13}, {20..23}
    pairs = spark.createDataFrame(
        [(b, b + i) for b in (0, 10, 20) for i in (1, 2, 3)],
        "id_a: long, id_b: long",
    )
    rows = leakage_safe_split(df, pairs, "id").collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    for b in (0, 10, 20):
        assert {r.cluster for r in rows if b <= r.id <= b + 3} == {b}
    assert len({r.split for r in rows}) > 1  # singles spread across splits


def test_apply_changes_cdc_semantics(spark):
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import apply_changes

    log = spark.createDataFrame(
        [
            # key 1: insert, update — final state v=20
            (1, 10, 100, "U", 10),
            (1, 20, 101, "U", 20),
            # key 2: insert then delete — key disappears
            (2, 10, 102, "U", 5),
            (2, 30, 103, "D", None),
            # key 3: delete then STALE update with older seq — still gone
            (3, 50, 104, "D", None),
            (3, 40, 105, "U", 7),
            # key 4: same seq, higher id wins (total order via id)
            (4, 60, 106, "U", 1),
            (4, 60, 107, "U", 2),
        ],
        ["k", "seq", "id", "op", "v"],
    )
    out = {
        r["k"]: r["v"]
        for r in apply_changes(log, ["k"], ["seq", "id"], "op").collect()
    }
    assert out == {1: 20, 4: 2}


def _py_levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_matches_brute_force(spark):
    """PassJoin candidate generation must have EXACT recall: result set
    equals the brute-force levenshtein join on a randomized mutated
    corpus, including short strings routed through the distinct-value
    leg and empty strings."""
    import itertools
    import random

    from flink_sql_ai_meetingcoach_azure_spark.operators.editdist import (
        edit_distance_pairs,
    )

    rng = random.Random(11)
    alpha = "abcd"
    rows = []
    n = 0
    for length in [0, 1, 2, 3, 4, 5, 6, 7, 8, 12, 20, 28]:
        for _ in range(4):
            base = "".join(rng.choice(alpha) for _ in range(length))
            rows.append((f"id{n:03d}", base))
            n += 1
            mutated = list(base)
            for _ in range(rng.randint(0, 3)):
                op = rng.choice("ids")
                p = rng.randint(0, max(len(mutated) - 1, 0))
                if op == "i":
                    mutated.insert(p, rng.choice(alpha))
                elif op == "d" and mutated:
                    mutated.pop(p)
                elif mutated:
                    mutated[p] = rng.choice(alpha)
            rows.append((f"id{n:03d}", "".join(mutated)))
            n += 1

    df = spark.createDataFrame(rows, ["doc_id", "title"])
    for d in (1, 2):
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in edit_distance_pairs(df, "title", "doc_id", max_dist=d).collect()
        }
        want = set()
        for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
            dist = _py_levenshtein(ta, tb)
            if dist <= d:
                lo, hi = sorted([ia, ib])
                want.add((lo, hi, dist))
        assert got == want, (d, sorted(want - got)[:5], sorted(got - want)[:5])


def test_random_projection_matches_python_and_preserves_distance(spark):
    """JL projection: component parity vs plain Python dot loops on any
    partitioning, and the distance-preservation property that justifies
    it (mean relative error of pairwise squared distances bounded)."""
    import itertools
    import random

    from flink_sql_ai_meetingcoach_azure_spark.operators.projection import (
        jl_scale,
        projection_matrix,
        random_projection,
    )

    rng = random.Random(5)
    dim, out_dim, n = 24, 12, 60
    vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    ).repartition(7)

    got = {
        r.vec_id: list(r.projected)
        for r in random_projection(df, "vec_id", "embedding", out_dim).collect()
    }
    mat, scale = projection_matrix(dim, out_dim), jl_scale(out_dim)
    want = {
        i: [round(sum(x * m for x, m in zip(v, row)) * scale, 6) for row in mat]
        for i, v in enumerate(vecs)
    }
    for i in range(n):
        assert got[i] == pytest.approx(want[i], abs=1e-9), i

    # distance preservation (sanity, not a tight JL bound at this k)
    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    errs = []
    for i, j in itertools.islice(itertools.combinations(range(n), 2), 300):
        orig = d2(vecs[i], vecs[j])
        proj = d2(want[i], want[j])
        errs.append(abs(proj - orig) / orig)
    assert sum(errs) / len(errs) < 0.5


def test_scd2_history_semantics(spark):
    """Crafted log: updates open intervals closed by the NEXT change
    (including deletes), deletes emit no row, the last live row per key
    is current, out-of-order capture resolved by seq order."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import scd2_history

    log = spark.createDataFrame(
        [
            # k1: u(10) -> u(20) -> D(30): two closed intervals, none current
            ("k1", 10, "e1", "U", 100),
            ("k1", 20, "e2", "U", 200),
            ("k1", 30, "e3", "D", 0),
            # k2: u(5) only: one open current interval
            ("k2", 5, "e4", "U", 500),
            # k3: out-of-order arrival — e6(seq 40) listed before e5(seq 35)
            ("k3", 40, "e6", "U", 640),
            ("k3", 35, "e5", "U", 635),
        ],
        ["k", "seq", "id", "op", "v"],
    )
    rows = {
        r.id: (r.valid_from, r.valid_to, r.is_current, r.v)
        for r in scd2_history(log, ["k"], ["seq", "id"], "op").collect()
    }
    assert rows == {
        "e1": (10, 20, False, 100),
        "e2": (20, 30, False, 200),  # closed BY the delete
        "e4": (5, None, True, 500),
        "e5": (35, 40, False, 635),  # seq order, not arrival order
        "e6": (40, None, True, 640),
    }


def test_projected_search_recall_on_clustered_data(spark):
    """Two-stage JL search (shortlist in projected space, exact re-rank)
    must recover nearly all of the exact flat top-k when the data has
    structure (clustered points) — the regime reductions exist for."""
    import random

    from flink_sql_ai_meetingcoach_azure_spark.operators.projection import (
        vector_search_topk_projected,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        vector_search_topk_flat,
    )

    rng = random.Random(13)
    # many small clusters: the top-k live in the query's cluster and the
    # projection must separate CLUSTERS (the wide-gap structure JL
    # preserves) — not micro-rank near-identical vectors, which no
    # dimensionality reduction can and two-stage search re-ranks exactly
    # anyway
    dim, n_clusters, per = 32, 40, 5
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    index_rows = []
    for ci, c in enumerate(centers):
        for j in range(per):
            index_rows.append(
                (ci * per + j, [x + rng.gauss(0, 0.05) for x in c])
            )
    query_rows = [
        (qi, [x + rng.gauss(0, 0.05) for x in centers[qi % n_clusters]])
        for qi in range(10)
    ]
    idx = spark.createDataFrame(index_rows, ["vec_id", "embedding"])
    qs = spark.createDataFrame(query_rows, ["qid", "embedding"])

    exact = vector_search_topk_flat(
        qs, idx, k=3, payload_cols=["vec_id"], round_sim=6
    )
    truth = {(r.qid, r.vec_id) for r in exact.collect()}
    got = {
        (r.qid, r.vec_id)
        for r in vector_search_topk_projected(
            qs, idx, k=3, shortlist=10, out_dim=12
        ).collect()
    }
    assert len(got) == len(truth) == 30
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_interval_overlap_join_matches_brute_force_and_plans_equi(spark):
    """Bucket blocking must lose no overlapping pair (boundary-touching,
    contained, spanning-many-cells) and must plan an EQUI join, not the
    cartesian comparison the raw predicate would."""
    import random

    from flink_sql_ai_meetingcoach_azure_spark.operators.interval_join import (
        interval_overlap_join,
    )

    rng = random.Random(17)
    W = 100
    lrows = []
    for i in range(120):
        s = rng.randrange(0, 3000)
        lrows.append((f"L{i:03d}", s, s + rng.choice([1, 5, W, W + 1, 350])))
    rrows = []
    for i in range(150):
        s = rng.randrange(0, 3000)
        rrows.append((f"R{i:03d}", s, s + rng.choice([1, 20, W, 2 * W, 500])))
    left = spark.createDataFrame(lrows, ["lid", "ls", "le"])
    right = spark.createDataFrame(rrows, ["rid", "rs", "re"])

    out = interval_overlap_join(
        left, right, "lid", "ls", "le", "rid", "rs", "re", bucket_width=W
    )
    rows = out.collect()
    got = {(r.lid, r.rid, r.overlap_start, r.overlap_end) for r in rows}
    want = {
        (lid, rid, max(ls, rs), min(le, re))
        for (lid, ls, le) in lrows
        for (rid, rs, re) in rrows
        if ls < re and rs < le
    }
    assert got == want
    # the canonical-cell filter must emit each pair exactly once — no
    # dedup shuffle exists to hide a double-count
    assert len(rows) == len(want)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_rate_proportional_to_weight(spark):
    """Integer Bernoulli weighting: admit rate tracks w/max_weight, and
    the selected SET is identical under any partitioning (no rand())."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(f"k{i:05d}", 1000 if i % 2 == 0 else 250) for i in range(4000)]
    df = spark.createDataFrame(rows, ["k", "w"])
    kept = weighted_sample(df, "k", "w", max_weight=1000, rate_at_max=0.8)
    got = {r.k for r in kept.collect()}
    heavy = sum(1 for k in got if int(k[1:]) % 2 == 0) / 2000
    light = sum(1 for k in got if int(k[1:]) % 2 == 1) / 2000
    assert abs(heavy - 0.8) < 0.05, heavy
    assert abs(light - 0.2) < 0.05, light
    # partitioning invariance
    got2 = {
        r.k
        for r in weighted_sample(
            df.repartition(13), "k", "w", max_weight=1000, rate_at_max=0.8
        ).collect()
    }
    assert got2 == got


def test_triangle_count_matches_brute_force(spark):
    """Degree-ordered wedge counting vs brute-force triangle enumeration
    on random graphs including a hub (the case orientation exists for)."""
    import itertools
    import random

    from flink_sql_ai_meetingcoach_azure_spark.operators.components import (
        triangle_count,
    )

    rng = random.Random(23)
    nodes = [f"n{i:02d}" for i in range(30)]
    edges = {tuple(sorted(p)) for p in itertools.combinations(nodes, 2) if rng.random() < 0.15}
    # hub: n00 connected to everyone
    edges |= {tuple(sorted(("n00", x))) for x in nodes[1:]}
    df = spark.createDataFrame(sorted(edges), ["id_a", "id_b"])

    eset = set(edges)
    brute = sum(
        1
        for a, b, c in itertools.combinations(sorted(nodes), 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    row = triangle_count(df).collect()[0]
    assert row.n_triangles == brute
    assert row.n_edges == len(edges)
    assert row.n_nodes == len({x for e in edges for x in e})


def test_approx_count_distinct_close_to_exact(spark, sf_dir):
    """Backs the documented 100-TB swap-in for the exact COUNT(DISTINCT)
    entries (vocab_size, profile_columns): HyperLogLog++ at rsd=2%
    lands within 5% of the exact distinct count on the real corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t")).filter(
        F.length("t") > 0
    )
    row = terms.agg(
        F.countDistinct("t").alias("exact"),
        F.approx_count_distinct("t", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert row.exact > 0
    assert abs(row.approx - row.exact) / row.exact < 0.05, row


def test_pagerank_star_graph_semantics(spark):
    """On a star graph the center must out-rank every leaf, leaves tie
    exactly (integer arithmetic — not approximately), and total rank
    mass stays within floor-truncation slack of the scale."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import pagerank

    edges = [(0, i) for i in range(1, 9)]  # star: center 0, 8 leaves
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    rows = pagerank(df, iters=3).collect()
    ranks = {r.node: r.rank_ppb for r in rows}
    assert len(ranks) == 9
    center, leaves = ranks[0], [ranks[i] for i in range(1, 9)]
    assert all(center > v for v in leaves)
    assert len(set(leaves)) == 1  # exact tie, bit-for-bit
    total = sum(ranks.values())
    # each floor division can only LOSE mass; 3 iterations over 9 nodes
    assert 0 < total <= 1_000_000_000
    assert total > 900_000_000


def test_pagerank_partitioning_invariant(spark):
    """Identical ranks under a different input partitioning — the
    integer-arithmetic determinism claim, tested directly."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import pagerank

    edges = [(i, (i * 7 + 3) % 40) for i in range(120)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    a = sorted((r.node, r.rank_ppb) for r in pagerank(df, iters=3).collect())
    b = sorted(
        (r.node, r.rank_ppb)
        for r in pagerank(df.repartition(17), iters=3).collect()
    )
    assert a == b


def test_contiguous_row_ids_partition_invariant(spark):
    """Ids must equal the global ORDER BY rank exactly, for ANY partition
    count, and the plan must contain no unpartitioned window."""
    import random

    from flink_sql_ai_meetingcoach_azure_spark.operators.indexing import (
        contiguous_row_ids,
    )

    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 50)) for i in range(5000)]
    df = spark.createDataFrame(rows, ["k", "v"])
    want = {
        k: rank + 1
        for rank, (k, _) in enumerate(
            sorted(rows, key=lambda r: (-r[1], r[0]))
        )
    }
    for n in (1, 3, 16):
        out = contiguous_row_ids(df, [F.desc("v"), F.asc("k")], num_partitions=n)
        got = {r.k: r.row_id for r in out.collect()}
        assert got == want, n
    plan = (
        contiguous_row_ids(df, [F.desc("v"), F.asc("k")], num_partitions=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "No Partition Defined" not in plan


def test_global_running_sum_partition_invariant(spark):
    """The distributed running sum must equal the single-partition
    ORDER BY window exactly for ANY partition count, with no
    unpartitioned window in the plan."""
    import itertools
    import random

    from flink_sql_ai_meetingcoach_azure_spark.operators.indexing import (
        global_running_sum,
    )

    rng = random.Random(11)
    rows = [(i, rng.randrange(0, 40), rng.randrange(1, 500)) for i in range(4000)]
    df = spark.createDataFrame(rows, ["k", "v", "w"])
    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    want = dict(
        zip(
            [r[0] for r in ordered],
            itertools.accumulate(r[2] for r in ordered),
        )
    )
    for n in (1, 5, 32):
        out = global_running_sum(
            df, [F.desc("v"), F.asc("k")], "w", "cum", num_partitions=n
        )
        got = {r.k: r.cum for r in out.collect()}
        assert got == want, n
    plan = (
        global_running_sum(df, [F.desc("v"), F.asc("k")], "w", num_partitions=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "No Partition Defined" not in plan


def test_bfs_hops_hand_graph(spark):
    """Path 1-2-3-4-5 plus isolated 9; sources {1, 9}: exact BFS levels,
    radius-bounded, frontier version == textbook answer."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import bfs_hops

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], ["id_a", "id_b"]
    )
    src = spark.createDataFrame([(1,), (9,)], ["node"])
    got = {r.node: r.hops for r in bfs_hops(pairs, src, iters=2).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 2}
    got4 = {r.node: r.hops for r in bfs_hops(pairs, src, iters=4).collect()}
    assert got4 == {1: 0, 9: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def _bfs_reference(edges, sources, iters):
    """Textbook queue BFS over the undirected ``edges``, radius ``iters``."""
    from collections import deque

    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources}
    todo = deque(dist)
    while todo:
        n = todo.popleft()
        if dist[n] < iters:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = dist[n] + 1
                    todo.append(m)
    return dist


def test_bfs_hops_matches_reference_bfs(spark):
    """Seeded random graphs against a queue BFS: duplicate edges in both
    orientations, self-loops, sources without edges, duplicate sources,
    empty sources, empty edges, and every radius 0-6, which passes the
    diameter of the small graphs."""
    import random

    from flink_sql_ai_meetingcoach_azure_spark.operators.components import bfs_hops

    rng = random.Random(1331)
    cases = []
    for iters in range(7):
        edges = [(rng.randrange(14), rng.randrange(14)) for _ in range(12)]
        edges += [(b, a) for a, b in edges[:3]] + edges[:2] + [(5, 5), (20, 20)]
        cases.append((edges, [rng.randrange(14), 20, 30, 30], iters))
    cases += [([], [1, 2, 2], 3), ([(1, 2), (2, 3)], [], 3), ([], [], 2)]
    for edges, sources, iters in cases:
        pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        src = spark.createDataFrame([(s,) for s in sources], "node bigint")
        got = bfs_hops(pairs, src, iters=iters).collect()
        assert len(got) == len({r.node for r in got}), (edges, sources, iters)
        assert {r.node: r.hops for r in got} == _bfs_reference(
            edges, sources, iters
        ), (edges, sources, iters)


def test_bfs_hops_job_budget(spark, sf_dir):
    """All rounds of the registry's bfs_hops run as one plan: the job
    count of a call is fixed by the plan's exchanges (16-17 at sf0.01), not
    by a job per round (33 when each round was materialized)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES

    sc = spark.sparkContext
    QUERIES["bfs_hops"].fn(spark, sf_dir).collect()  # schema inference
    sc.setJobGroup("bfs_hops_budget", "bfs_hops job budget")
    try:
        QUERIES["bfs_hops"].fn(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("bfs_hops_budget")) <= 17


def test_kcore_hand_graph_and_fixpoint(spark):
    """K4 clique + a pendant chain: 2-core = the clique (chain peels over
    TWO rounds — one round is not enough, which is what the iteration
    tests); extra rounds are a no-op once converged."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import kcore

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    pairs = spark.createDataFrame(
        k4 + [(3, 10), (10, 11)], ["id_a", "id_b"]
    )
    one = {(r.node, r.degree) for r in kcore(pairs, k=2, iters=1).collect()}
    # round 1 peels only 11; 10 still saw degree 2 at entry
    assert (10, 1) in one
    want = {(0, 3), (1, 3), (2, 3), (3, 3)}
    for iters in (2, 3, 6):
        got = {(r.node, r.degree) for r in kcore(pairs, k=2, iters=iters).collect()}
        assert got == want, iters


def test_new_operator_empty_and_degenerate_edges(spark):
    """Edge semantics pinned for the r7 additions: empty graphs, absent
    sources, empty deltas, and zero-row running sums must return empty
    (never throw, never NULL-pollute)."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import (
        bfs_hops,
        kcore,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import (
        delta_lsh_pairs,
        minhash_signatures,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.indexing import (
        global_running_sum,
    )

    empty_pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    src = spark.createDataFrame([(1,)], ["node"])
    # empty graph: sources still emit themselves at hops 0
    assert bfs_hops(empty_pairs, src, iters=2).collect() == [(1, 0)]
    # no sources at all: empty result
    no_src = spark.createDataFrame([], "node bigint")
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    assert bfs_hops(pairs, no_src, iters=2).count() == 0
    # kcore: k larger than any degree peels everything
    assert kcore(pairs, k=5, iters=3).count() == 0
    assert kcore(empty_pairs, k=1, iters=3).count() == 0
    # delta dedup with an is_new predicate matching nothing: no pairs
    docs = spark.createDataFrame(
        [(i, "w1 w2 w3 w4 w5") for i in range(6)], "doc_id int, text string"
    )
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=8, shingle_n=3)
    assert delta_lsh_pairs(sigs, "doc_id", F.lit(False), 8, 2).count() == 0
    # running sum over zero rows: empty, no offset-map blowup
    empty_vals = spark.createDataFrame([], "k bigint, w bigint")
    assert global_running_sum(empty_vals, ["k"], "w").count() == 0
    # all-NULL value partitions: NULLs contribute 0 to offsets (the
    # driver prefix loop must not see a None total — ADVICE r7), and a
    # row's own run_sum follows SQL window-SUM (NULL until the first
    # non-NULL in its prefix)
    nulls_first = spark.createDataFrame(
        [(1, None), (2, None), (3, 5), (4, None), (5, 7)],
        "k bigint, w bigint",
    )
    for n_parts in (1, 2, 5):  # invariant under partition boundaries
        got = {
            r.k: r.run_sum
            for r in global_running_sum(
                nulls_first, ["k"], "w", num_partitions=n_parts
            ).collect()
        }
        assert got == {1: None, 2: None, 3: 5, 4: 5, 5: 12}, n_parts


def test_lsh_recall_eval_empty_corpus_agrees_with_oracle(spark, sf_dir, tmp_path):
    """Empty corpus: one summary row, zero counts, NULL ppm rates — and
    the DuckDB oracle says the SAME (its // raises on /0 without the
    nullif guard, ADVICE r7), so the degenerate case can never produce
    an entry/oracle divergence."""
    import duckdb

    from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES

    src = f"{sf_dir}/documents.parquet"
    dst = str(tmp_path / "documents.parquet")
    spark.read.parquet(src).limit(0).write.parquet(dst)

    got = QUERIES["lsh_recall_eval"].fn(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_truth, r.n_cand, r.n_hit) == (0, 0, 0)
    assert r.recall_ppm is None and r.precision_ppm is None

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{dst}/*.parquet'")
    d = con.sql(QUERIES["lsh_recall_eval"].sql).df()
    assert len(d) == 1
    assert int(d["n_truth"][0]) == 0 and int(d["n_cand"][0]) == 0
    assert d["recall_ppm"].isna().all() and d["precision_ppm"].isna().all()


def test_attribution_hand_semantics(spark):
    """Last-touch attribution pins: 'prior' means prior in the
    (ts, event_id) TOTAL ORDER — a same-microsecond touch with a
    smaller event id attributes with gap 0 (both engines agree by
    construction); most recent touch wins across types; out-of-lookback
    and touchless purchases survive with NULL attribution; non-touch
    event types never attribute."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        ATTRIB_WINDOW_US,
        q_attribution,
    )

    us = 1_000_000
    day = 24 * 3600 * us

    def ts(u):
        from datetime import datetime, timezone

        return datetime.fromtimestamp(u / 1e6, tz=timezone.utc).replace(
            tzinfo=None
        )

    rows = [
        # u1: view then click then purchase -> click (most recent) wins
        (1, ts(1 * us), 1, "view", 0.0, ""),
        (2, ts(2 * us), 1, "click", 0.0, ""),
        (3, ts(3 * us), 1, "purchase", 1.0, ""),
        # u2: touch at the purchase microsecond, smaller id -> prior in
        # the total order, attributes with gap 0
        (4, ts(5 * us), 2, "view", 0.0, ""),
        (5, ts(5 * us), 2, "purchase", 1.0, ""),
        # u3: touch outside the 7-day lookback -> NULL attribution
        (6, ts(0), 3, "click", 0.0, ""),
        (7, ts(ATTRIB_WINDOW_US + 2 * us), 3, "purchase", 1.0, ""),
        # u4: purchase with no touches at all; signup must not attribute
        (8, ts(1 * us), 4, "signup", 0.0, ""),
        (9, ts(2 * us), 4, "purchase", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            r.purchase_id: (r.touch_id, r.touch_type, r.gap_us)
            for r in q_attribution(spark, d).collect()
        }
    assert got[3] == (2, "click", 1 * us)
    assert got[5] == (4, "view", 0)  # same-instant smaller-id touch counts
    assert got[7] == (None, None, None)  # outside lookback
    assert got[9] == (None, None, None)  # no touch; signup ignored


def test_parse_png_header_real_png_and_edges(spark):
    """The IHDR parser on a REAL minimal 1x1 RGBA PNG (full file bytes,
    zlib IDAT and all) plus the edge pins: truncated signature-only
    payloads and text bytes are is_png=false with NULL fields, NULL
    payloads survive."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        parse_png_header,
    )

    real_png = bytes.fromhex(
        "89504E470D0A1A0A0000000D4948445200000001000000010806000000"
        "1F15C4890000000D49444154789C6260010000000500010D0A2DB4"
        "0000000049454E44AE426082"
    )
    rows = [
        (1, bytearray(real_png)),
        (2, bytearray(b"\x89PNG\r\n\x1a\n")),  # signature only: truncated
        (3, bytearray(b"plain text bytes")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id int, payload binary")
    got = {
        r.id: (r.is_png, r.width, r.height, r.bit_depth, r.color_type)
        for r in parse_png_header(df).collect()
    }
    assert got[1] == (True, 1, 1, 8, 6)  # real file parses exactly
    assert got[2] == (False, None, None, None, None)
    assert got[3] == (False, None, None, None, None)
    assert got[4] == (False, None, None, None, None)


def test_label_propagation_hand_graph(spark):
    """Synchronous LPA pins: a triangle community converges to its min
    label, a single bridge edge does NOT pull the second triangle into
    the first (CC would merge them — the operators answer different
    questions), isolated nodes keep their own label, and the smallest-
    label tie-break is deterministic."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.components import (
        label_propagation,
    )

    # triangles {1,2,3} and {10,11,12} bridged by (3,10); 99 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "id_a bigint, id_b bigint",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 99)], "vec_id bigint"
    )
    got = {
        r.vec_id: r.community
        for r in label_propagation(nodes, pairs, "vec_id", rounds=3).collect()
    }
    assert got[99] == 99  # isolated keeps its own label
    # first triangle converges to its min label
    assert got[1] == got[2] == 1
    # the second triangle stays a SEPARATE community from the first
    second = {got[10], got[11], got[12]}
    assert len(second) == 1
    assert second != {got[1]}


def test_temporal_enrich_hand_semantics(spark):
    """Point-in-time enrichment pins: a query reads the dimension
    version valid AT its timestamp (not the latest); a delete
    tombstones the dimension (later queries get NULL — never the
    pre-delete value); a dimension change at the SAME microsecond as a
    query applies (dim sorts before query); users with no dimension
    history get NULL."""
    from datetime import datetime, timezone

    from flink_sql_ai_meetingcoach_azure_spark.queries import q_temporal_enrich

    us = 1_000_000

    def ts(u):
        return datetime.fromtimestamp(u / 1e6, tz=timezone.utc).replace(tzinfo=None)

    rows = [
        # u1: v=100 @1s, query @2s (sees 100), v=200 @3s, query @4s (200),
        # delete @5s, query @6s (NULL — no resurrection)
        (1, ts(1 * us), 1, "purchase", 1.00, ""),
        (2, ts(2 * us), 1, "view", 0.0, ""),
        (3, ts(3 * us), 1, "signup", 2.00, ""),
        (4, ts(4 * us), 1, "click", 0.0, ""),
        (5, ts(5 * us), 1, "error", 0.0, ""),
        (6, ts(6 * us), 1, "view", 0.0, ""),
        # u2: update and query at the SAME microsecond -> update applies
        (7, ts(9 * us), 2, "purchase", 3.00, ""),
        (8, ts(9 * us), 2, "view", 0.0, ""),
        # u3: query with no dimension history
        (9, ts(1 * us), 3, "click", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            r.event_id: (r.value_cents_at_event, r.dim_src_id)
            for r in q_temporal_enrich(spark, d).collect()
        }
    assert got[2] == (100, 1)  # version at 2s, not the later 200
    assert got[4] == (200, 3)
    assert got[6] == (None, None)  # tombstone: deleted dim stays deleted
    assert got[8] == (300, 7)  # same-instant update applies
    assert got[9] == (None, None)  # no history


def test_mad_outliers_degenerate_and_flag(spark):
    """MAD pins: a degenerate group (over half the values identical ->
    MAD = 0) flags ANY deviation; a spread group flags only beyond
    3*MAD; the flag is a strict > so a point exactly AT the fence
    survives."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_mad_outliers

    rows = (
        # srcA: med=10, MAD=0 -> the single 100 is the only outlier
        [(i, "t", "en", "srcA", 10) for i in range(4)]
        + [(4, "t", "en", "srcA", 100)]
        # srcB: med=30, MAD=10, fence=60 -> 60 survives (strict >),
        # 61 flags
        + [
            (10, "t", "en", "srcB", 10),
            (11, "t", "en", "srcB", 20),
            (12, "t", "en", "srcB", 30),
            (13, "t", "en", "srcB", 40),
            (14, "t", "en", "srcB", 60),
            (15, "t", "en", "srcB", 61),
            (16, "t", "en", "srcB", 30),
        ]
    )
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        got = {r.doc_id: (r.med, r.mad, r.is_outlier)
               for r in q_mad_outliers(spark, d).collect()}
    assert got[0] == (10, 0, False)
    assert got[4] == (10, 0, True)  # degenerate MAD=0: any deviation flags
    assert got[14] == (30, 10, False)  # exactly at the 3*MAD fence: survives
    assert got[15] == (30, 10, True)  # one past the fence: flags


def test_k_anonymity_generalization_levels(spark):
    """k-anonymity pins: a level-0 group >= k stays level 0; a small
    group generalizes hour -> 4-hour band and is admitted by the band's
    pooled count; a group whose whole band is still < k remains at
    risk after generalizing."""
    from datetime import datetime

    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        K_ANON,
        q_k_anonymity,
    )

    def ts(h, i):
        return datetime(2024, 1, 1, h, 0, i % 60)

    rows = []
    eid = 0
    # view@h0 x25 (level 0), view@h1 x3 (generalizes into band 0:
    # 25+3+10 = 38 >= k), view@h2 x10
    for h, n in [(0, 25), (1, 3), (2, 10)]:
        for i in range(n):
            rows.append((eid, ts(h, i), 1, "view", 0.0, ""))
            eid += 1
    # error@h23 x2, nothing else in band 5 -> still at risk at level 1
    for i in range(2):
        rows.append((eid, ts(23, i), 1, "error", 0.0, ""))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {(r.event_type, r.hour): (r.level, r.anonymity_set, r.at_risk)
               for r in q_k_anonymity(spark, d).collect()}
    assert K_ANON == 20
    assert got[("view", 0)] == (0, 25, False)  # big enough on its own
    assert got[("view", 1)] == (1, 38, False)  # admitted by the band pool
    assert got[("view", 2)] == (1, 38, False)
    assert got[("error", 23)] == (1, 2, True)  # band can't save it


def test_grid_density_neighborhood_sum(spark):
    """Grid density pins: cell counts are exact, the 3x3 neighborhood
    mass includes the cell itself plus adjacent cells only, and is_core
    is >= minPts on the CELL count (not the neighborhood)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        GRID_MINPTS,
        q_grid_density,
    )

    # 8 points in one cell (core at minPts=8), 1 point one cell to the
    # +x side (not core), a far-away singleton with empty neighborhood
    rows = (
        [(i, [0.05, 0.05], 0) for i in range(8)]
        + [(8, [0.15, 0.05], 0)]
        + [(9, [3.05, 3.05], 0)]
    )
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/embeddings.parquet")
        got = {(r.gx, r.gy): (r.n_pts, r.neigh_pts, r.is_core)
               for r in q_grid_density(spark, d).collect()}
    assert GRID_MINPTS == 8
    base = (10_000_000 + 50_000) // 100_000  # cell index of coord 0.05
    assert got[(base, base)] == (8, 9, True)
    assert got[(base + 1, base)] == (1, 9, False)
    far = (10_000_000 + 3_050_000) // 100_000
    assert got[(far, far)] == (1, 1, False)  # isolated: neighborhood = self


def test_cdc_chunks_shift_robust(spark):
    """The CDC selling point: prepending a prefix re-chunks only the
    head — every boundary strictly inside the shared suffix lands on
    the same CONTENT, so the tail chunks keep their hashes and dedup
    across the two versions (a fixed-boundary chunker would shift every
    chunk). Also pins: chunk spans tile the doc exactly (no gaps, no
    overlaps, last span ends at n_chars)."""
    import hashlib

    from flink_sql_ai_meetingcoach_azure_spark.queries import q_cdc_chunks

    # deterministic pseudo-random text, long enough for several cuts
    t = "".join(
        hashlib.md5(f"cdc-{i}".encode()).hexdigest() for i in range(16)
    )  # 512 chars
    rows = [
        (0, t, "en", "srcA", len(t)),
        (1, "PREFIX-" * 6 + t, "en", "srcA", len("PREFIX-" * 6 + t)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        out = q_cdc_chunks(spark, d).collect()
    by_doc = {0: [], 1: []}
    for r in out:
        by_doc[r.doc_id].append(r)
    # spans tile each doc exactly
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_idx)
        assert rs[0].start_pos == 1
        for a, b in zip(rs, rs[1:]):
            assert b.start_pos == a.start_pos + a.chunk_len
        n_chars = len(t) if doc_id == 0 else len("PREFIX-" * 6 + t)
        assert rs[-1].start_pos + rs[-1].chunk_len - 1 == n_chars
    h0 = {r.chunk_md5 for r in by_doc[0]}
    h1 = {r.chunk_md5 for r in by_doc[1]}
    shared = h0 & h1
    # all of doc0's chunks except (at most) its head chunk survive the shift
    assert len(shared) >= len(h0) - 1 >= 2
    assert all(r.is_dup for r in by_doc[0] if r.chunk_md5 in shared)


def test_theil_sen_trend_robust_to_outlier(spark):
    """Theil-Sen pins: the pairwise-slope MEDIAN ignores a wild final
    day that would wreck an OLS fit; same-day events aggregate before
    pairing; negative slopes truncate toward zero (the CASE-wrapped
    trunc-div, not floor-div); the doubled median is exact for even
    pair counts."""
    from datetime import datetime

    from flink_sql_ai_meetingcoach_azure_spark.queries import q_theil_sen_trend

    def ts(d):
        return datetime(2024, 1, 1 + d, 12, 0, 0)

    rows = []
    eid = 0
    # u1: 100 cents/day for 4 days then a 100x outlier day
    for d, cents in [(0, 0), (1, 100), (2, 200), (3, 300), (4, 10000)]:
        rows.append((eid, ts(d), 1, "view", cents / 100.0, ""))
        eid += 1
    # u2: two same-day events (5+5 cents) then 0 three days later:
    # slope = -10*1e6/3 -> trunc -3333333 (floor would give -3333334)
    rows.append((eid, ts(0), 2, "view", 0.05, "")); eid += 1
    rows.append((eid, ts(0), 2, "view", 0.05, "")); eid += 1
    rows.append((eid, ts(3), 2, "view", 0.0, "")); eid += 1
    # u3: single day -> excluded
    rows.append((eid, ts(0), 3, "view", 1.0, "")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {r.user_id: (r.n_days, r.n_pairs, r.slope2x_ppm_per_day)
               for r in q_theil_sen_trend(spark, d).collect()}
    # 10 pairs; 6 clean 100e6 slopes dominate the median despite the spike
    assert got[1] == (5, 10, 200_000_000)
    assert got[2] == (2, 1, -6_666_666)  # trunc toward zero, doubled
    assert 3 not in got


def test_funnel_latency_pre_signup_purchase_excluded(spark):
    """Funnel-latency pins: a purchase BEFORE the first signup never
    counts; the FIRST qualifying purchase wins; users with no
    qualifying purchase drop; the doubled median is exact for even
    cohort sizes."""
    from datetime import datetime

    from flink_sql_ai_meetingcoach_azure_spark.queries import q_funnel_latency

    def ts(sec):
        return datetime(2024, 1, 1, 0, 0, 0) if sec == 0 else \
            datetime.fromtimestamp(
                datetime(2024, 1, 1).timestamp() + sec
            )

    us = 1_000_000
    rows = [
        # u1: purchase 10s after signup (an earlier one is pre-signup)
        (1, ts(100), 1, "purchase", 1.0, ""),  # BEFORE signup: ignored
        (2, ts(200), 1, "signup", 0.0, ""),
        (3, ts(210), 1, "purchase", 1.0, ""),
        (4, ts(500), 1, "purchase", 1.0, ""),  # later one: not first
        # u2: 30s latency, same cohort week
        (5, ts(0), 2, "signup", 0.0, ""),
        (6, ts(30), 2, "purchase", 1.0, ""),
        # u3: signup, never purchases -> drops
        (7, ts(0), 3, "signup", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = q_funnel_latency(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    # latencies 10s and 30s -> doubled median = 40s
    assert r.n_converted == 2
    assert r.med2x_latency_us == 40 * us


def test_cusum_changepoint_detects_known_shift(spark):
    """CUSUM pins: a series with a rate shift puts the |CUSUM| max at
    the last pre-shift bucket; the integer statistic uses H·run − h·T
    (no float mean); earliest bucket wins exact ties."""
    from datetime import datetime, timedelta

    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        q_cusum_changepoint,
    )

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 4 hours at 1 event/h then 4 hours at 5 events/h: T=24, H=8
    # S_h = 8*run - h*24; runs 1,2,3,4,9,14,19,24 ->
    # |S| = 16,32,48,64,48,32,16,0 -> max at bucket 4 (last quiet hour)
    for h in range(8):
        n = 1 if h < 4 else 5
        for i in range(n):
            rows.append(
                (eid, base + timedelta(hours=h, minutes=i), 1, "view", 0.0, "")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = q_cusum_changepoint(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_buckets, r.total_events) == (8, 24)
    base_hour = int(base.timestamp()) // 3600
    assert r.cp_hour_idx == base_hour + 3  # 4th bucket = last pre-shift
    assert r.cusum_stat == 64


def test_fk_integrity_detects_injected_orphans(spark):
    """FK-audit pins: injected orphan keys are counted with an exact
    ppm rate; clean edges and the self-referencing control edge report
    zero; NULL FKs count as orphans (they match no parent — the
    anti-join semantic, pinned)."""
    import tempfile

    from flink_sql_ai_meetingcoach_azure_spark.queries import q_fk_integrity

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "r1")], "r_regionkey bigint, r_name string"
        ).write.parquet(f"{d}/region.parquet")
        # nation: 3 clean, 1 orphan region key, 1 NULL region key
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1), (3, "c", 1), (4, "x", 9), (5, "y", None)],
            "n_nationkey bigint, n_name string, n_regionkey bigint",
        ).write.parquet(f"{d}/nation.parquet")
        spark.createDataFrame(
            [(1, 1), (2, 9)], "c_custkey bigint, c_nationkey bigint"
        ).write.parquet(f"{d}/customer.parquet")
        spark.createDataFrame(
            [(1, 1)], "s_suppkey bigint, s_nationkey bigint"
        ).write.parquet(f"{d}/supplier.parquet")
        spark.createDataFrame(
            [(1,)], "p_partkey bigint"
        ).write.parquet(f"{d}/part.parquet")
        spark.createDataFrame(
            [(1, 1)], "o_orderkey bigint, o_custkey bigint"
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(
            [(1, 1), (2, 1)], "l_linenumber bigint, l_orderkey bigint"
        ).write.parquet(f"{d}/lineitem.parquet")
        got = {r.fk_edge: (r.n_rows, r.n_orphans, r.orphan_ppm)
               for r in q_fk_integrity(spark, d).collect()}
    assert got["nation.n_regionkey->region.r_regionkey"] == (5, 2, 400_000)
    assert got["customer.c_nationkey->nation.n_nationkey"] == (2, 1, 500_000)
    assert got["lineitem.l_orderkey->orders.o_orderkey"] == (2, 0, 0)
    assert got["part.p_partkey->part.p_partkey"] == (1, 0, 0)  # control


def test_ab_lift_zero_variance_and_determinism(spark):
    """A/B pins: all-converted (and none-converted) pools pin z = 0;
    arm assignment is the salted-md5 bucket — stable across runs and
    partitionings (same user always lands in the same arm)."""
    import tempfile
    from datetime import datetime

    from flink_sql_ai_meetingcoach_azure_spark.queries import q_ab_lift

    ts = datetime(2024, 1, 1)
    rows = [(i, ts, i, "purchase", 1.0, "") for i in range(20)]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        r1 = q_ab_lift(spark, d).collect()[0]
        r2 = q_ab_lift(spark, d).collect()[0]
    assert r1 == r2  # deterministic split
    assert r1.n_a + r1.n_b == 20
    assert (r1.conv_a, r1.conv_b) == (r1.n_a, r1.n_b)  # everyone converted
    assert (r1.ppm_a, r1.ppm_b, r1.lift_ppm) == (1_000_000, 1_000_000, 0)
    assert r1.z_milli == 0  # zero-variance edge pinned


def test_knn_classify_majority_and_tie(spark):
    """kNN pins: majority of the 3 nearest labeled neighbors wins; a
    1-1-1 three-way vote tie resolves to the SMALLEST label; the
    'correct' flag compares against the query's true label."""
    import tempfile

    from flink_sql_ai_meetingcoach_azure_spark.queries import q_knn_classify

    # labeled (even ids): two tight label-7 points + one label-2 point
    # near the query, rest far away
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),
        (2, [0.99, 0.1, 0.0, 0.0], 7),
        (4, [0.95, 0.2, 0.0, 0.0], 2),
        (6, [0.0, 1.0, 0.0, 0.0], 9),
        # odd = queries: q1 near the label-7 cluster (true label 7)
        (1, [1.0, 0.05, 0.0, 0.0], 7),
        # q3 equidistant-ish from three distinct labels -> 1-1-1 tie
        (3, [0.0, 0.9, 0.3, 0.0], 9),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/embeddings.parquet")
        got = {r.vec_id: (r.pred_label, r.votes, r.correct)
               for r in q_knn_classify(spark, d).collect()}
    assert got[1] == (7, 2, True)  # 2-of-3 majority
    # q3's 3 nearest are labels {9, 7, 2} (one vote each) -> smallest label
    assert got[3] == (2, 1, False)


def test_knn_classify_ivf_routes_and_matches_flat(spark):
    """q_knn_classify_ivf (VERDICT r9 #2): the labeled seed exceeds
    KNN_IVF_CEILING at every SF, so vector_search must take the guarded
    IVF-parquet fallback — the plan reads the partitioned index with a
    centroid_id PartitionFilter (never a broadcast of the seed) — and,
    probed exhaustively (nprobe == nlist), predictions are bit-identical
    to the broadcast-route q_knn_classify."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        KNN_IVF_CEILING,
        q_knn_classify,
        q_knn_classify_ivf,
    )

    sf = "/root/testdata/sf0.001"
    seed_rows = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter("vec_id % 2 = 0")
        .count()
    )
    assert seed_rows > KNN_IVF_CEILING  # the guard MUST trip

    ivf_df = q_knn_classify_ivf(spark, sf)
    plan = ivf_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters", 1)[1][:200]

    flat = [tuple(r) for r in q_knn_classify(spark, sf).collect()]
    ivf = [tuple(r) for r in ivf_df.collect()]
    assert ivf == flat


def test_coreset_sample_greedy_invariants(spark):
    """q_coreset_sample: greedy k-center invariants — unique selections,
    the seed is the smallest vec_id with NULL radius, and the coverage
    radius (max-min distance at selection time) is NON-INCREASING: each
    pick covers the previously-farthest point, so the next farthest
    point can only be nearer (the Gonzalez-approximation monotonicity)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        CORESET_K,
        q_coreset_sample,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_coreset_sample(spark, sf).collect()
    assert [r["sel_order"] for r in rows] == list(range(CORESET_K))
    assert len({r["vec_id"] for r in rows}) == CORESET_K
    min_id = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .agg({"vec_id": "min"})
        .collect()[0][0]
    )
    assert rows[0]["vec_id"] == min_id and rows[0]["dist_ppm"] is None
    radii = [r["dist_ppm"] for r in rows[1:]]
    assert all(d is not None and 0 <= d <= 2_000_000 for d in radii)
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_silhouette_eval_bounds_and_coverage(spark):
    """q_silhouette_eval: simplified-silhouette algebra guarantees — a
    point's best-centroid sim >= its second-best, so per-point (and
    therefore per-cluster mean/min) silhouette is in [0, 1e6] ppm; every
    embedding lands in exactly one cluster."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_silhouette_eval

    sf = "/root/testdata/sf0.001"
    rows = q_silhouette_eval(spark, sf).collect()
    n_emb = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert sum(r["n"] for r in rows) == n_emb
    for r in rows:
        assert 0 <= r["min_sil_ppm"] <= r["mean_sil_ppm"] <= 1_000_000


def test_pca_power_unit_norm_and_rayleigh(spark):
    """q_pca_power: the reported loading is unit-norm (up to the 6-dp
    per-component quantization) and PC1's explained-variance share is a
    Rayleigh quotient over a PSD covariance — strictly positive, at
    most 1e6 ppm, and at least the uniform share 1e6/dim (the dominant
    eigenvalue can't be below the average eigenvalue)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        EMB_DIM,
        q_pca_power,
    )

    rows = q_pca_power(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == EMB_DIM
    nrm = sum(r["loading"] ** 2 for r in rows) ** 0.5
    assert abs(nrm - 1.0) < 1e-4
    share = rows[0]["ev_share_ppm"]
    assert all(r["ev_share_ppm"] == share for r in rows)
    assert 1_000_000 // EMB_DIM <= share <= 1_000_000


def test_dedup_sweep_monotone(spark):
    """q_dedup_sweep: raising the Jaccard threshold can only shrink the
    pair set and the touched-document set — the tuning table must be
    monotonically non-increasing in tau."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_dedup_sweep

    rows = q_dedup_sweep(spark, "/root/testdata/sf0.001").collect()
    pairs = [r["n_pairs"] for r in rows]
    docs = [r["n_docs"] for r in rows]
    assert all(a >= b for a, b in zip(pairs, pairs[1:]))
    assert all(a >= b for a, b in zip(docs, docs[1:]))
    assert all(d <= 2 * p for p, d in zip(pairs, docs) if p)


def test_vocab_coverage_sweep_monotone_saturating(spark):
    """q_vocab_coverage_sweep: coverage is non-decreasing in N, types are
    capped by both N and the vocabulary, and once N reaches the full
    vocabulary the curve saturates at exactly 1e6 ppm."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        VOCAB_SWEEP_NS,
        q_vocab_coverage_sweep,
    )

    rows = q_vocab_coverage_sweep(spark, "/root/testdata/sf0.001").collect()
    assert [r["vocab_n"] for r in rows] == VOCAB_SWEEP_NS
    cov = [r["covered_ppm"] for r in rows]
    assert all(a <= b for a, b in zip(cov, cov[1:]))
    for r in rows:
        assert r["n_types"] <= r["vocab_n"]
        if r["n_types"] < r["vocab_n"]:  # vocabulary exhausted
            assert r["covered_ppm"] == 1_000_000


def test_pq_recall_eval_bounds(spark):
    """q_pq_recall_eval: recall@k per query is a hits/k ratio — hits in
    [0, k], ppm in [0, 1e6], one row per query id."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        ANN_K,
        ANN_NQ,
        q_pq_recall_eval,
    )

    rows = q_pq_recall_eval(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == ANN_NQ
    for r in rows:
        assert 0 <= r["hits_at_k"] <= ANN_K
        assert r["recall_ppm"] == r["hits_at_k"] * 1_000_000 // ANN_K


def test_minhash_error_eval_quantization_bound(spark):
    """q_minhash_error_eval: the 8-perm estimate lives on a 125,000-ppm
    grid, so per-pair |error| is bounded by 1e6 and the summary moments
    respect mean <= max; at least one candidate pair exists on the test
    corpus (exact dups collide on every band)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        q_minhash_error_eval,
    )

    row = q_minhash_error_eval(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_pairs"] >= 1
    assert 0 <= row["mean_abs_err_ppm"] <= row["max_abs_err_ppm"] <= 1_000_000


def test_cosine_sweep_monotone(spark):
    """q_cosine_sweep: raising the cosine cutoff can only shrink the
    pair set and the touched-vector set."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_cosine_sweep

    rows = q_cosine_sweep(spark, "/root/testdata/sf0.001").collect()
    pairs = [r["n_pairs"] for r in rows]
    vecs = [r["n_vecs"] for r in rows]
    assert all(a >= b for a, b in zip(pairs, pairs[1:]))
    assert all(a >= b for a, b in zip(vecs, vecs[1:]))
    assert all(v <= 2 * p for p, v in zip(pairs, vecs) if p)


def test_sniff_media_edges(spark):
    """operators/multimodal.py::sniff_media: hand-built payloads pin the
    classification and the dimension parses — PNG big-endian, GIF
    little-endian u16, BMP SIGNED little-endian i32 (top-down bitmaps
    report a negative height), truncated-after-magic rows classify but
    yield NULL dims, non-media and NULL payloads survive as unknown."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        sniff_media,
    )

    png = (bytes.fromhex("89504E470D0A1A0A0000000D49484452")
           + (300).to_bytes(4, "big") + (200).to_bytes(4, "big") + b"\x08\x06")
    png_trunc = png[:12]  # signature intact, IHDR dims missing
    gif = b"GIF89a" + (640).to_bytes(2, "little") + (480).to_bytes(2, "little") + b"\xf7\x00\x00"
    bmp_up = (b"BM" + b"\x46\x00\x00\x00" + b"\x00" * 4 + b"\x36\x00\x00\x00"
              + b"\x28\x00\x00\x00" + (32).to_bytes(4, "little")
              + (24).to_bytes(4, "little") + b"\x01\x00\x18\x00")
    bmp_down = (b"BM" + b"\x46\x00\x00\x00" + b"\x00" * 4 + b"\x36\x00\x00\x00"
                + b"\x28\x00\x00\x00" + (32).to_bytes(4, "little")
                + (-24).to_bytes(4, "little", signed=True) + b"\x01\x00\x18\x00")
    wav = b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE"
    avi = b"RIFF" + b"\x24\x00\x00\x00" + b"AVI "  # r13: decodable now
    jpeg = bytes.fromhex("FFD8FFE000104A46494600010100000100010000")
    rows = [
        (1, png), (2, png_trunc), (3, gif), (4, bmp_up), (5, bmp_down),
        (6, wav), (7, jpeg), (8, b"plain text"), (9, None), (10, avi),
    ]
    df = spark.createDataFrame(rows, "doc_id int, payload binary")
    got = {r["doc_id"]: r for r in sniff_media(df).collect()}
    assert got[1]["media_format"] == "png" and got[1]["width"] == 300 and got[1]["height"] == 200
    assert got[2]["media_format"] == "png" and got[2]["width"] is None
    assert got[3]["media_format"] == "gif" and got[3]["width"] == 640 and got[3]["height"] == 480
    assert got[4]["media_format"] == "bmp" and got[4]["height"] == 24
    assert got[5]["media_format"] == "bmp" and got[5]["width"] == 32 and got[5]["height"] == -24
    assert got[6]["media_format"] == "wav" and got[6]["width"] is None
    assert got[7]["media_format"] == "jpeg" and got[7]["width"] is None
    assert got[8]["media_format"] == "unknown"
    assert got[9]["media_format"] == "unknown" and got[9]["width"] is None
    assert got[10]["media_format"] == "avi" and got[10]["width"] is None


def test_sniff_media_real_png_roundtrip(spark):
    """sniff_media on a REAL encode_png payload (zlib IDAT, CRCs) reports
    the same dimensions the actual codec wrote — the dispatcher and the
    real decoder agree on the container they share."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        encode_png,
        sniff_media,
    )

    img = np.arange(7 * 5 * 3, dtype=np.uint8).reshape(7, 5, 3)
    df = spark.createDataFrame([(1, encode_png(img))], "doc_id int, payload binary")
    row = sniff_media(df).collect()[0]
    assert row["media_format"] == "png"
    assert (row["width"], row["height"]) == (5, 7)


def _write_embeddings(spark, path, vecs):
    """vecs: {vec_id: list[float]} -> embeddings.parquet with the
    testdata schema (float32 vectors, a label column)."""
    rows = [
        (int(vid), [float(x) for x in v], f"l{vid % 3}")
        for vid, v in vecs.items()
    ]
    (
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label string"
        ).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")
    )


def test_sign_signature_words_match_python(spark):
    """sign_signature_exprs packs bit i of word w iff component
    w·32+i > 0 — checked against a straight Python repack, including a
    vector that sets bit 31 (the word's top bit: the 1<<31 term that
    motivated 2x32-bit words over one 64-bit word)."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.quantize import (
        sign_signature_exprs,
    )

    vecs = [
        [0.5 if i % 3 == 0 else -0.25 for i in range(64)],
        [1.0 if i in (31, 63) else -1.0 for i in range(64)],  # top bits
        [0.0] * 64,  # zero is NOT positive: empty signature
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, emb array<float>"
    )
    exprs = sign_signature_exprs("emb", 64, 2)
    got = {
        r["id"]: (r["w0"], r["w1"])
        for r in df.select(
            "id", F.expr(exprs[0]).alias("w0"), F.expr(exprs[1]).alias("w1")
        ).collect()
    }
    for i, v in enumerate(vecs):
        w0 = sum(1 << b for b in range(32) if v[b] > 0)
        w1 = sum(1 << b for b in range(32) if v[32 + b] > 0)
        assert got[i] == (w0, w1), i


def test_ann_hamming_prefilter_finds_exact_neighbors(spark, tmp_path):
    """On a corpus whose sign structure mirrors its cosine structure
    (axis-aligned clusters), the Hamming prefilter must surface the
    exact top-k: query 0's nearest neighbors by cosine are its own
    cluster, which also minimizes Hamming distance."""
    import flink_sql_ai_meetingcoach_azure_spark.queries as qmod

    d = 64
    vecs = {}
    # cluster A (ids 0-4): positive on dims 0-31; cluster B (ids 10-14):
    # positive on dims 32-63; small id-dependent jitter breaks ties
    for i in range(5):
        vecs[i] = [1.0 + 0.01 * i if j < 32 else -1.0 for j in range(d)]
        vecs[10 + i] = [
            -1.0 if j < 32 else 1.0 + 0.01 * i for j in range(d)
        ]
    _write_embeddings(spark, str(tmp_path), vecs)
    out = qmod.q_ann_hamming(spark, str(tmp_path)).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    # every query id < 10 present (ids 0-4 here), each with k=3 hits
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rows in by_q.items():
        assert [r["search_rank"] for r in rows] == [1, 2, 3]
        # rank 1 is the query itself (sim 1.0, hamming 0)
        assert rows[0]["neighbor_id"] == qid and rows[0]["hamming"] == 0
        # all hits stay inside cluster A — the Hamming prefilter never
        # lets a cluster-B vector (hamming 64) into the pool
        assert all(r["neighbor_id"] < 5 for r in rows)
        assert all(r["hamming"] == 0 for r in rows)


def test_mmr_rerank_prefers_diverse_pick(spark, tmp_path):
    """MMR semantics: query 0's two most-similar candidates are
    near-duplicates of each other; pure top-k would return both
    back-to-back, MMR (λ=0.7) must interleave the DIVERSE candidate
    ahead of the duplicate."""
    import math

    import flink_sql_ai_meetingcoach_azure_spark.queries as qmod

    d = 64

    def unit(primary, secondary, wp, ws):
        v = [0.0] * d
        v[primary], v[secondary] = wp, ws
        n = math.sqrt(wp * wp + ws * ws)
        return [x / n for x in v]

    vecs = {
        0: unit(0, 1, 1.0, 0.0),          # the query
        20: unit(0, 1, 0.95, 0.3122),     # near-dup pair: sims to q are
        21: unit(0, 1, 0.949, 0.3153),    # .950/.949, mutual sim ~1.0
        22: unit(0, 2, 0.93, 0.3676),     # diverse: sim .93 to q, only
                                          # ~.88 to the pair
    }
    # greedy trace (λ=.7; after the self pick maxsel = sim_qd for all):
    # r2 argmax .4·sim → 20; r3: mmr(21)=.7·.949−.3·1.0=.364 loses to
    # mmr(22)=.4·.93=.372 → the diverse 22 beats the higher-sim dup 21
    # pad the id<10 query range with far-away junk so only qid=0 matters
    for i in range(1, 10):
        vecs[i] = unit(30 + i % 3, 40 + i % 5, 0.7, 0.714)
    _write_embeddings(spark, str(tmp_path), vecs)
    out = [
        r
        for r in qmod.q_mmr_rerank(spark, str(tmp_path)).collect()
        if r["qid"] == 0
    ]
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["mmr_rank"])]
    # rank1 = self, rank2 = best non-dup candidate (20), rank3 must be
    # the DIVERSE 22, not 21 (which a plain top-k would place there)
    assert order[0] == 0
    assert order[1] == 20
    assert order[2] == 22, order
    assert 21 in order[3:]


def test_knn_hubness_mass_conservation_and_hub(spark, tmp_path):
    """Hubness invariants: Σ n_vecs over the histogram = index size,
    Σ n_hits·n_vecs = queries·k; a constructed hub (the centroid of
    every query cluster) lands at the maximum k-occurrence."""
    import flink_sql_ai_meetingcoach_azure_spark.queries as qmod

    d = 64
    vecs = {}
    # hub: id 7 sits between three spread-out clusters; queries are ids
    # 0,5,10,... (vec_id % 5 == 0)
    vecs[7] = [1.0] * d
    for c in range(3):
        base = [1.0 if (j // 21) % 3 == c else 0.05 for j in range(d)]
        for m in range(4):
            vid = c * 20 + m * 5  # all % 5 == 0: queries
            vecs[vid] = [x + 0.01 * m * ((j % 7) - 3) for j, x in enumerate(base)]
    _write_embeddings(spark, str(tmp_path), vecs)
    rows = qmod.q_knn_hubness(spark, str(tmp_path)).collect()
    n_index = len(vecs)
    n_queries = sum(1 for v in vecs if v % 5 == 0)
    assert sum(r["n_vecs"] for r in rows) == n_index
    assert sum(r["n_hits"] * r["n_vecs"] for r in rows) == n_queries * 3
    assert [r["n_hits"] for r in rows] == sorted(r["n_hits"] for r in rows)


def test_quantile_normalize_aligns_source_distributions(spark, tmp_path):
    """Quantile-mapping invariants: calibrated values come from the
    global order statistics; within each source calibration is monotone
    in the source rank; each source's extremes map to the global
    extremes (that is what makes one threshold treat all sources the
    same)."""
    import flink_sql_ai_meetingcoach_azure_spark.queries as qmod

    rows = []
    # source A: short docs (lengths 10..14); source B: long docs
    # (100..109) — raw thresholds would treat them incomparably
    for i in range(5):
        rows.append((i, "x" * (10 + i), "en", "A", 10 + i))
    for i in range(10):
        rows.append((100 + i, "y" * (100 + i), "en", "B", 100 + i))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = qmod.q_quantile_normalize(spark, str(tmp_path)).collect()
    glob = sorted(r["metric"] for r in out)
    by_src = {}
    for r in out:
        assert r["calibrated"] in glob
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["src_rank"])
        cal = [r["calibrated"] for r in rs]
        assert cal == sorted(cal), src  # monotone in source rank
        assert cal[0] == glob[0], src  # source min -> global min
        assert cal[-1] == glob[-1], src  # source max -> global max
