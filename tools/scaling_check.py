"""Empirical scaling spot-check (VERDICT r7 #5 / r8 #3): measure how the
heaviest registry entries actually grow with corpus size, so a df-cap or
band bound silently degrading to quadratic shows up as a number, not a
plan-reading claim.

Method
------
Synthetic 2x/4x corpora are derived from sf0.1 by ISOMORPHIC copies:

- documents: every word ``w`` of a copied doc becomes
  ``substr(md5(w || salt_c), 1, 2) || w`` — a per-copy vocabulary remap.
  Within a copy, every doc-to-doc similarity relationship of the
  original corpus is preserved exactly (same shingle/token overlap
  structure), while across copies no shingle or token matches, so
  near-dup candidate buckets scale LINEARLY with corpus size — the same
  growth a real 2x crawl would produce. Naive duplication would instead
  double every LSH bucket (pairs x4) and measure a fake quadratic.
- embeddings: each copy applies a deterministic per-copy sign-flip
  pattern (a diagonal isometry): within-copy distances are bit-preserved
  and copies land in different orthants.

Each entry runs once per scale (min of 2 runs at the base scale for a
stable denominator) with the same local[32] session bench.py uses; the
fitted exponent is log(t_4x / t_1x) / log(4).

Expected-superlinear note: ``semantic_dedup`` bounds its pair space by
sum(n_c^2) over k=64 FIXED cells, so doubling the corpus doubles every
cell and the pair stage grows ~x4 — BY DESIGN the knob is k (SemDeDup's
own contract: grow k with the corpus). The harness therefore also runs
the knob-scaled variant (k = 64 * scale via the clustering operators
directly) to verify the documented linear path.

Usage: python tools/scaling_check.py [--scales 1 2 4] [--out -]
Writes a JSON report to stdout; the pinned table lives in BASELINE.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from flink_sql_ai_meetingcoach_azure_spark import get_spark  # noqa: E402
from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES  # noqa: E402

BASE = "/root/testdata/sf0.1"
ENTRIES = [
    "semantic_dedup",
    "fuzzy_dedup",
    "containment_pairs",
    "mask_spans",
    "curation_v2",
    "incremental_neardup",
    "lsh_recall_eval",
    "setsim_join",
    # second late-r9 heavy batch (documents/embeddings-only entries;
    # events-table entries can't scale here — the synthetic dirs hold
    # documents+embeddings only)
    "cdc_chunks",
    "topic_keywords",
    "token_compression",
    # r10 batch (VERDICT r9 #4): the remaining heavy lines
    "neardup_keep_best",
    "bpe_encode",
    "dsir_weights",
    "source_overlap",
    # knn_classify is EXPECTED quadratic: the registry entry is the
    # brute-force exact form (queries × index both grow with the
    # corpus). Its scale knob is the IVF route with nlist ∝ corpus and
    # nprobe fixed (per-query candidate work constant) — measured below
    # as the knob-scaled variant, the semantic_dedup treatment.
    "knn_classify",
    "knn_classify_ivf",
    # r10 late additions (documents/embeddings entries only; the
    # decode-stats entries are MAX_ID-bounded — flat by construction)
    "gram_matrix",
    "label_outliers",
    "ks_drift",
    # third r10 batch (dedup_sweep is MAX_ID-bounded — flat by
    # construction, like the decode-stats entries; not listed)
    "silhouette_eval",
    "coreset_sample",
    "pca_power",
    "readability_scores",
    # final r10 additions: pure-scan container dispatcher + its
    # combinable per-format inventory — expect ~linear
    "media_sniff",
    "media_profile",
    # r11 (VERDICT r10 #5): the remaining heavy eval lines. Both are
    # MAX_ID-bounded tuning sub-corpora — the docstrings CLAIM flat;
    # measured here like everything else so the claim is a number
    "minhash_error_eval",
    "cosine_sweep",
    # r11 additions. ann_hamming/mmr_rerank: fixed query workload over a
    # growing index — expect ~linear (one signature/flat scan).
    # semantic_decontaminate: FIXED-size eval broadcast (bounded ids)
    # over a growing train scan — expect ~linear. knn_hubness is the
    # knn_classify treatment: the query workload is BY CONSTRUCTION a
    # fixed FRACTION of the corpus (20%), so the brute-force form is
    # expected quadratic — the production route is the same histogram
    # over whichever ANN rung is deployed (IVF/Hamming), whose per-query
    # cost is corpus-independent.
    "ann_hamming",
    "mmr_rerank",
    "semantic_decontaminate",
    "knn_hubness",
    # pinned-exhaustive IVF form (nprobe == nlist for oracle-exactness):
    # still workload-proportional; the production knob (nlist ∝ corpus,
    # nprobe fixed) is measured on the hubness workload ITSELF below
    # (knn_hubness_knob_scaled, VERDICT r11 #2 — the borrow from
    # knn_classify_knob_scaled is retired)
    "knn_hubness_ivf",
    # r12: decontamination route-flip — fixed-size eval-set IVF index,
    # train side probes it once per vector — expect ~linear.
    # image_neardup / dhash_recall_eval are MAX_ID-bounded fixture
    # corpora (flat by construction, like the decode-stats entries —
    # not listed).
    "semantic_decontaminate_ivf",
]
N_DOCS_BASE = 5000
N_VECS_BASE = 2000
EMB_DIM = 64


def _sign_pattern(copy: int) -> list[int]:
    """Deterministic per-copy per-dim sign flips (diagonal isometry)."""
    out = []
    for i in range(EMB_DIM):
        h = hashlib.md5(f"scale-{copy}-{i}".encode()).digest()[0]
        out.append(1 if h % 2 == 0 else -1)
    return out


def build_scaled_dir(spark, scale: int, root: str) -> str:
    """documents+embeddings at `scale`x sf0.1 via isomorphic copies."""
    out = os.path.join(root, f"sfx{scale}")
    if os.path.exists(os.path.join(out, "embeddings.parquet")):
        return out
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    embs = spark.read.parquet(f"{BASE}/embeddings.parquet")
    doc_parts, emb_parts = [docs], [embs]
    for c in range(1, scale):
        salt = f"·c{c}"
        remapped = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(  # noqa: B023 — salt is loop-stable per expr build
                    F.substring(F.md5(F.concat(w, F.lit(salt))), 1, 2), w
                ),
            ),
            " ",
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + c * N_DOCS_BASE).alias("doc_id"),
                remapped.alias("text"),
                "lang",
                "source",
                F.length(remapped).alias("n_chars"),
            )
        )
        signs = F.array(*[F.lit(s) for s in _sign_pattern(c)])
        emb_parts.append(
            embs.select(
                (F.col("vec_id") + c * N_VECS_BASE).alias("vec_id"),
                F.zip_with(
                    "embedding", signs, lambda x, s: x * s.cast("float")
                ).alias("embedding"),
                "label",
            )
        )
    d, e = doc_parts[0], emb_parts[0]
    for p in doc_parts[1:]:
        d = d.unionByName(p)
    for p in emb_parts[1:]:
        e = e.unionByName(p)
    d.repartition(8 * scale).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    e.repartition(4 * scale).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    return out


def knob_scaled_semdedup_seconds(spark, sf_dir: str, k: int) -> float:
    """semantic_dedup's documented linear path: k grows with the corpus so
    cell sizes stay constant. Mirrors q_semantic_dedup but with k a knob
    (the registry entry pins k=64 for its unrolled oracle)."""
    from flink_sql_ai_meetingcoach_azure_spark.functions.vectors import (
        cosine_similarity_col,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.clustering import (
        assign_nearest_centroid,
        lloyd_refine,
    )

    t0 = time.time()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, cents = lloyd_refine(emb, k=k, iters=2)
    seeds = spark.createDataFrame(
        [(cid, [v / 1e6 for v in vec]) for cid, vec in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    )
    assigned = assign_nearest_centroid(emb, seeds).localCheckpoint(eager=False)
    av = assigned.join(emb.select("vec_id", "embedding"), "vec_id").localCheckpoint(
        eager=False
    )
    left = av.select(
        F.col("cluster_id").alias("l_cid"),
        F.col("vec_id").alias("l_id"),
        F.col("embedding").alias("l_v"),
    )
    right = av.select(
        F.col("cluster_id").alias("r_cid"),
        F.col("vec_id").alias("r_id"),
        F.col("embedding").alias("r_v"),
    )
    dropped = (
        left.join(
            right,
            (F.col("l_cid") == F.col("r_cid")) & (F.col("l_id") < F.col("r_id")),
        )
        .withColumn("cs", F.round(cosine_similarity_col("l_v", "r_v"), 6))
        .filter(F.col("cs") >= 0.3)
        .select(F.col("r_id").alias("vec_id"))
        .distinct()
    )
    out = assigned.join(dropped, "vec_id", "left_anti").select(
        "cluster_id", "vec_id", "sim"
    )
    out.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def knob_scaled_knn_seconds(spark, sf_dir: str, nlist: int, scale: int) -> float:
    """knn_classify's documented linear path: the IVF index grows its
    cell count WITH the corpus (nlist ∝ scale) while nprobe stays fixed,
    so each query's candidate set is a constant fraction — per-query
    work constant, total ∝ queries. The registry's knn_classify_ivf pins
    nprobe == nlist for oracle-exactness (that form is still quadratic,
    like the brute-force one); this variant is the approximate
    production shape. Includes the per-corpus index build (itself one
    linear assignment pass)."""
    import tempfile

    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        build_ivf_index,
        vector_search_ivf_parquet,
        write_ivf_index,
    )

    t0 = time.time()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labeled = emb.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", "embedding", "label"
    )
    ivf, cents = build_ivf_index(labeled, nlist=nlist)
    path = f"{tempfile.gettempdir()}/scaling_knn_idx_x{scale}/index"
    write_ivf_index(ivf, cents, path)
    queries = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("qid"), "embedding",
        F.col("label").alias("true_label"),
    )
    hits = vector_search_ivf_parquet(
        queries, path, k=3, nprobe=8, payload_cols=["vec_id", "label"],
        round_sim=6,
    )
    votes = (
        hits.select("qid", "true_label", F.explode("search_results").alias("__s"))
        .groupBy("qid", "true_label", F.col("__s.label").alias("label"))
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    pick = votes.groupBy("qid", "true_label").agg(
        F.min(F.struct((-F.col("votes")).alias("nv"),
                       F.col("label").alias("label"))).alias("__w")
    )
    pick.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def knob_scaled_hubness_seconds(
    spark, sf_dir: str, nlist: int, scale: int
) -> float:
    """knn_hubness's documented linear path, measured on the hubness
    workload ITSELF (VERDICT r11 #2 — previously borrowed from the
    knn_classify knob row): the IVF index over the WHOLE corpus grows
    its cell count with the corpus (nlist ∝ scale) at FIXED nprobe=8,
    so each of the 20% workload queries touches a constant corpus
    fraction; the k-occurrence histogram is two combinable aggregates
    over the hit list. Includes the per-corpus index build (one linear
    assignment pass)."""
    import tempfile

    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        build_ivf_index,
        vector_search_ivf_parquet,
        write_ivf_index,
    )
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        HUB_K,
        HUB_Q_MOD,
    )
    from pyspark.sql.window import Window

    t0 = time.time()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf, cents = build_ivf_index(emb.select("vec_id", "embedding"), nlist=nlist)
    path = f"{tempfile.gettempdir()}/scaling_hub_idx_x{scale}/index"
    write_ivf_index(ivf, cents, path)
    queries = emb.filter(F.col("vec_id") % HUB_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    hits = vector_search_ivf_parquet(
        queries, path, k=HUB_K + 1, nprobe=8, payload_cols=["vec_id"],
        round_sim=6,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("pos"))
    topk = (
        hits.select("qid", F.posexplode("search_results").alias("pos", "__s"))
        .filter(F.col("__s.vec_id") != F.col("qid"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HUB_K)
        .select("qid", F.col("__s.vec_id").alias("vec_id"))
    )
    occ = topk.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n_hits"))
    hist = occ.groupBy("n_hits").agg(F.count(F.lit(1)).alias("n_vecs"))
    hist.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def knob_scaled_image_neardup_seconds(spark, scale: int) -> float:
    """image_neardup's corpus-scale row (VERDICT r12 #4): the registry
    fixture is MAX_ID-bounded (flat by construction), so the band-join
    contract on IMAGES was asserted, not measured. Scale it with the
    harness's isomorphic-copy discipline adapted to Hamming space:
    copy c XORs every direction bit with a deterministic per-(copy,
    row, comparison) mask — XOR is a Hamming ISOMETRY, so within-copy
    near-dup structure is bit-preserved while cross-copy signatures
    decorrelate (what a real 2x crawl adds: new images, not copies of
    old dup clusters; naive MAX_ID scaling would replicate the
    fixture's 5 direction patterns and measure a fake quadratic).
    Copy 0's mask is zero, so scale 1 IS the registry fixture. The
    full chain runs: PNG encode fixture -> real decode + dHash in
    mapInPandas -> 8-band bucket join -> bit_count confirm."""
    import pyspark.sql.types as T  # noqa: PLC0415

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        dhash_signatures,
    )
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        DHASH_MAX_ID,
        DHASH_T,
        _sig_band_pairs,
    )

    def _make(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (  # noqa: PLC0415,E501
            encode_png,
        )
        from flink_sql_ai_meetingcoach_azure_spark.queries import (  # noqa: PLC0415,E501
            _dhash_gpix_image,
        )

        # per-copy XOR masks depend only on the copy index — hoist them
        # out of the per-doc loop (64 md5 calls per DOC otherwise, all
        # attributed to the measured seconds; code-review r13)
        masks = {
            c: np.array(
                [
                    [
                        hashlib.md5(
                            f"imgknob-{c}-{i}-{kk}".encode()
                        ).digest()[0] % 2
                        for kk in range(8)
                    ]
                    for i in range(8)
                ],
                dtype=np.int64,
            )
            for c in range(1, scale)
        }
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                c, local = did // DHASH_MAX_ID, did % DHASH_MAX_ID
                img = _dhash_gpix_image(
                    local // 4, local % 4, mask=masks.get(c)
                )
                payloads.append(bytearray(
                    encode_png(img, 2, [r % 5 for r in range(img.shape[0])])
                ))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    t0 = time.time()
    docs = spark.range(DHASH_MAX_ID * scale).select(
        F.col("id").alias("doc_id")
    ).repartition(8 * scale)
    media = docs.mapInPandas(
        _make,
        schema="doc_id long, payload binary",
    )
    sigs = dhash_signatures(media, id_col="doc_id").localCheckpoint(
        eager=False
    )
    _sig_band_pairs(sigs, DHASH_T).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(time.time() - t0, 3)


def knob_scaled_video_neardup_seconds(spark, scale: int) -> float:
    """video_neardup's corpus-scale row (the image knob's XOR-isometry
    protocol applied to clips): copy c masks every direction bit, so
    within-copy clip near-dup structure is bit-preserved while
    cross-copy clip signatures decorrelate; the fixture keeps the
    registry entry's MIXED containers (APNG / animated GIF / AVI-MJPEG
    by doc id) and the magic-byte dispatch, so the measured cost
    is the real mixed-demux chain. Copy 0 IS the registry fixture."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        video_dhash_signatures,
    )
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        VIDEONEAR_FRAMES,
        VIDEONEAR_MAX_ID,
        VIDEONEAR_T,
        _sig_band_pairs,
    )

    def _make(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (  # noqa: PLC0415,E501
            encode_apng,
            encode_avi_mjpeg,
            encode_gif,
            encode_jpeg,
        )
        from flink_sql_ai_meetingcoach_azure_spark.queries import (  # noqa: PLC0415,E501
            _dhash_gcell,
        )

        q = np.full((8, 8), 16, dtype=np.int64)
        masks = {
            c: np.array(
                [
                    [
                        hashlib.md5(
                            f"vidknob-{c}-{i}-{kk}".encode()
                        ).digest()[0] % 2
                        for kk in range(8)
                    ]
                    for i in range(8)
                ],
                dtype=np.int64,
            )
            for c in range(1, scale)
        }
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                c, local = did // VIDEONEAR_MAX_ID, did % VIDEONEAR_MAX_ID
                gid, m = local // 4, local % 4
                mask = masks.get(c)
                gcells = [
                    _dhash_gcell(gid, m, frame_flip=f, mask=mask)
                    for f in range(VIDEONEAR_FRAMES)
                ]
                route = local % 3
                if route == 0:
                    frames = []
                    for g in gcells:
                        gp = np.repeat(np.repeat(g, 2, 0), 2, 1)
                        frames.append(np.stack(
                            [gp, gp + 1, gp + 2], 2).astype("uint8"))
                    payloads.append(bytearray(encode_apng(frames)))
                elif route == 1:
                    gpixs = [np.repeat(np.repeat(g, 2, 0), 2, 1)
                             for g in gcells]
                    vals = np.unique(np.stack(gpixs))
                    pal = np.stack(
                        [vals, vals + 1, vals + 2], 1).astype(np.uint8)
                    payloads.append(bytearray(encode_gif(
                        [np.searchsorted(vals, g) for g in gpixs], pal
                    )))
                else:
                    jf = []
                    for g in gcells:
                        coefs = np.zeros((8, 9, 8, 8), dtype=np.int64)
                        coefs[:, :, 0, 0] = (g - 128) // 2
                        jf.append(encode_jpeg([coefs], q, 64, 72))
                    payloads.append(bytearray(encode_avi_mjpeg(jf, 72, 64)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    t0 = time.time()
    docs = spark.range(VIDEONEAR_MAX_ID * scale).select(
        F.col("id").alias("doc_id")
    ).repartition(8 * scale)
    media = docs.mapInPandas(_make, schema="doc_id long, payload binary")
    sigs = video_dhash_signatures(media, id_col="doc_id").select("doc_id", "sig0", "sig1").localCheckpoint(eager=False)
    _sig_band_pairs(sigs, VIDEONEAR_T).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(time.time() - t0, 3)


def main() -> None:
    scales = [1, 2, 4]
    entries = ENTRIES
    if "--scales" in sys.argv:
        i = sys.argv.index("--scales")
        scales = [int(x) for x in sys.argv[i + 1 :] if x.isdigit()]
    if "--entries" in sys.argv:
        i = sys.argv.index("--entries")
        names = [x for x in sys.argv[i + 1 :] if not x.startswith("--")]
        entries = [n for n in ENTRIES if n in names]
    root = os.environ.get("SCALING_DIR", "/tmp/spark_graft_scaling")
    spark = get_spark("scaling_check")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warmup

    dirs = {s: build_scaled_dir(spark, s, root) for s in scales}

    def run(name: str, sf_dir: str) -> float:
        t0 = time.time()
        QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.time() - t0, 3)

    report: dict = {"scales": scales, "entries": {}}
    for name in entries:
        times = {}
        for s in scales:
            r = [run(name, dirs[s]) for _ in range(2 if s == 1 else 1)]
            times[s] = min(r)
        import math

        hi = max(scales)
        exp = math.log(times[hi] / times[1]) / math.log(hi)
        report["entries"][name] = {
            "seconds": times,
            "exponent": round(exp, 2),
        }
        print(f"{name}: {times} exponent={exp:.2f}", file=sys.stderr)

    # semantic_dedup knob-scaled linear path: k grows with the corpus
    # (skipped when an --entries filter excludes semantic_dedup)
    if "semantic_dedup" in entries:
        knob = {}
        for s in scales:
            r = [
                knob_scaled_semdedup_seconds(spark, dirs[s], k=64 * s)
                for _ in range(2 if s == 1 else 1)
            ]
            knob[s] = min(r)  # base runs twice: stable denominator (r13)
            print(f"semantic_dedup[k=64*{s}]: {knob[s]}", file=sys.stderr)
        import math

        hi = max(scales)
        report["semantic_dedup_knob_scaled"] = {
            "seconds": knob,
            "exponent": round(math.log(knob[hi] / knob[1]) / math.log(hi), 2),
        }

    # knn knob-scaled linear path: nlist grows with the corpus, nprobe
    # fixed (skipped when an --entries filter excludes knn_classify)
    if "knn_classify" in entries:
        import math

        kknob = {}
        for s in scales:
            r = [
                knob_scaled_knn_seconds(spark, dirs[s], nlist=8 * s, scale=s)
                for _ in range(2 if s == 1 else 1)
            ]
            kknob[s] = min(r)
            print(f"knn_classify[nlist=8*{s}, nprobe=8]: {kknob[s]}", file=sys.stderr)
        hi = max(scales)
        report["knn_classify_knob_scaled"] = {
            "seconds": kknob,
            "exponent": round(math.log(kknob[hi] / kknob[1]) / math.log(hi), 2),
        }

    # hubness knob-scaled linear path, measured on its own workload
    # (VERDICT r11 #2); skipped when --entries excludes knn_hubness
    if "knn_hubness" in entries:
        import math

        hknob = {}
        for s in scales:
            r = [
                knob_scaled_hubness_seconds(
                    spark, dirs[s], nlist=8 * s, scale=s
                )
                for _ in range(2 if s == 1 else 1)
            ]
            hknob[s] = min(r)
            print(
                f"knn_hubness[nlist=8*{s}, nprobe=8]: {hknob[s]}",
                file=sys.stderr,
            )
        hi = max(scales)
        report["knn_hubness_knob_scaled"] = {
            "seconds": hknob,
            "exponent": round(
                math.log(hknob[hi] / hknob[1]) / math.log(hi), 2
            ),
        }
    # image near-dup corpus-scaled row (VERDICT r12 #4): the registry
    # entry is fixture-bounded, so the band contract on images is
    # measured via the XOR-isometry scaled fixture. Runs by default;
    # with an --entries filter, include it by naming image_neardup.
    if "--entries" not in sys.argv or "image_neardup" in sys.argv:
        import math

        iknob = {}
        for s in scales:
            r = [
                knob_scaled_image_neardup_seconds(spark, s)
                for _ in range(2 if s == 1 else 1)
            ]
            iknob[s] = min(r)  # base runs twice: stable denominator
            print(f"image_neardup[corpus x{s}]: {iknob[s]}", file=sys.stderr)
        hi = max(scales)
        report["image_neardup_knob_scaled"] = {
            "seconds": iknob,
            "exponent": round(
                math.log(iknob[hi] / iknob[1]) / math.log(hi), 2
            ),
        }
        vknob = {}
        for s in scales:
            r = [
                knob_scaled_video_neardup_seconds(spark, s)
                for _ in range(2 if s == 1 else 1)
            ]
            vknob[s] = min(r)
            print(f"video_neardup[corpus x{s}]: {vknob[s]}", file=sys.stderr)
        report["video_neardup_knob_scaled"] = {
            "seconds": vknob,
            "exponent": round(
                math.log(vknob[hi] / vknob[1]) / math.log(hi), 2
            ),
        }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
