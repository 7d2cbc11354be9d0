"""Scalar-function layer: prompt assembly (F1), trigger predicate (P5),
JSON cleanup/parse (F14), path extraction (F15), excerpt join (F16),
hashing parity with DuckDB, vector math."""

from __future__ import annotations

import duckdb
import math
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import (
    md5_bigint_col,
    md5_bigint_sql,
)
from flink_sql_ai_meetingcoach_azure_spark.functions.text import (
    assemble_coaching_prompt,
    clean_llm_json_col,
    doc_path_col,
    doc_title_col,
    keyword_trigger_col,
    parse_coaching_response,
    used_excerpts_col,
)
from flink_sql_ai_meetingcoach_azure_spark.functions.vectors import (
    cosine_similarity_col,
    dot_col,
    norm_col,
)


def test_keyword_trigger(spark):
    df = spark.createDataFrame(
        [("The PRICE is too high",), ("hello there",), ("our budget is small",)],
        ["m"],
    )
    out = [r[0] for r in df.select(keyword_trigger_col("m")).collect()]
    assert out == [True, False, True]


def test_prompt_assembly_shape(spark):
    df = spark.createDataFrame(
        [("msg", [("doc/a.md", "chunk A"), ("doc/b.md", "chunk B")])],
        "message string, rag_results array<struct<document_id:string,chunks:string>>",
    )
    p = df.select(assemble_coaching_prompt("message", "rag_results", k=3).alias("p")).head()["p"]
    assert p.startswith("## PROSPECT MESSAGE: msg")
    assert "Document 1: doc/a.md\nchunk A" in p
    assert "Document 2: doc/b.md\nchunk B" in p
    # k=3 with only 2 results: third slot renders empty, no null poisoning
    assert "Document 3: \n" in p


def test_json_cleanup_and_parse(spark):
    raw = '```json\n{"suggested_response": "hi", "sources": [], "reasoning": "r",}\n```'
    df = spark.createDataFrame([(raw,)], ["raw"])
    parsed = df.select(parse_coaching_response("raw").alias("s")).head()["s"]
    assert parsed["suggested_response"] == "hi"
    assert parsed["reasoning"] == "r"
    cleaned = df.select(clean_llm_json_col("raw").alias("c")).head()["c"]
    assert "```" not in cleaned


def test_path_title_extraction(spark):
    df = spark.createDataFrame([("cat/sub/file.md",), ("bare.md",)], ["d"])
    rows = df.select(
        doc_title_col("d").alias("t"), doc_path_col("d").alias("p")
    ).collect()
    assert (rows[0]["t"], rows[0]["p"]) == ("file.md", "cat/sub")
    assert (rows[1]["t"], rows[1]["p"]) == ("bare.md", "")


def test_used_excerpts_join(spark):
    df = spark.createDataFrame(
        [([("e1",), ("",), ("e3",)],)],
        "sources array<struct<used_excerpt:string>>",
    )
    out = df.select(used_excerpts_col("sources").alias("u")).head()["u"]
    assert out == "e1\n\ne3"


def test_md5_bigint_matches_duckdb(spark):
    vals = ["hello", "world", "", "unicode ü 中文"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    spark_hashes = [r[0] for r in df.select(md5_bigint_col("s")).collect()]
    con = duckdb.connect()
    for v, h in zip(vals, spark_hashes):
        d = con.sql(f"SELECT {md5_bigint_sql('?::VARCHAR')}", params=[v]).fetchone()[0]
        assert d == h, v


def test_vector_math(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [1.0, 2.0])], ["a", "b"])
    rows = df.select(
        dot_col("a", "b").alias("d"),
        norm_col("a").alias("n"),
        cosine_similarity_col("a", "b").alias("c"),
    ).collect()
    assert rows[0]["d"] == 0.0 and rows[0]["c"] == 0.0
    assert math.isclose(rows[1]["c"], 1.0, rel_tol=1e-9)
    assert math.isclose(rows[1]["n"], math.sqrt(5), rel_tol=1e-9)


def test_redact_pii_all_kinds(spark):
    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import redact_pii_col

    raw = ("mail a.user+tag@sub.example.org phone 555-123-4567 "
           "ssn 123-45-6789 card 1234 5678-9012 3456 ip 192.168.0.1 done")
    out = spark.createDataFrame([(raw,)], ["t"]).select(
        redact_pii_col("t").alias("c")).head()["c"]
    assert out == "mail [EMAIL] phone [PHONE] ssn [SSN] card [CARD] ip [IP] done"


def test_redact_pii_leaves_clean_text_and_near_misses(spark):
    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import redact_pii_col

    # near-misses: 2-3-4 digit groups, version strings, bare numbers
    raw = "version 1.2.3 order 12-34-5678 total 12345 at example.com"
    out = spark.createDataFrame([(raw,)], ["t"]).select(
        redact_pii_col("t").alias("c")).head()["c"]
    assert out == raw


def test_repetition_scores_crafted(spark):
    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        repetition_scores,
    )

    rows = [
        (1, "buy now buy now buy now"),        # 6 tokens, 2 distinct
        (2, "all words here are unique"),      # no repetition
        (3, "one"),                            # < 2 tokens: no bigrams
        (4, ""),                               # empty doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_scores(df).collect()}
    assert out[1]["n_tokens"] == 6
    assert out[1]["dup_word_frac"] == round(1 - 2 / 6, 6)
    # bigrams: [buy now, now buy, buy now, now buy, buy now] -> 3/5
    assert out[1]["top_bigram_frac"] == 0.6
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["top_bigram_frac"] == 0.25  # 4 bigrams, all unique
    assert out[3]["n_tokens"] == 1 and out[3]["top_bigram_frac"] == 0.0
    assert out[4]["n_tokens"] == 0 and out[4]["dup_word_frac"] == 0.0


def test_unigram_lm_scores_vs_python_reference(spark):
    """Corpus-trained add-one unigram LM scores match an independent pure-
    Python computation exactly (integer micro-nats summed per doc)."""
    import math

    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        unigram_lm_scores,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "zy unseen words zx qq"),
        (4, ""),  # zero tokens
        (5, "the the the the"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r.doc_id: r for r in unigram_lm_scores(df, "doc_id", "text").collect()}

    toks = {i: [t for t in s.lower().split() if t] for i, s in rows}
    cnt: dict = {}
    for ts in toks.values():
        for t in ts:
            cnt[t] = cnt.get(t, 0) + 1
    n, v = sum(cnt.values()), len(cnt)
    mn = {t: round(math.log((c + 1) / (n + v)) * 1_000_000) for t, c in cnt.items()}
    for i, ts in toks.items():
        r = got[i]
        assert r.n_tokens == len(ts)
        assert r.sum_logp_micro == sum(mn[t] for t in ts)
        want_avg = 0.0 if not ts else round(r.sum_logp_micro / len(ts) / 1e6, 6)
        assert r.avg_logp == want_avg
    # common prose (doc 5, all 'the') scores strictly higher than the
    # rare-token doc 3 — the CCNet-style signal the operator exists for
    assert got[5].avg_logp > got[3].avg_logp


def test_compression_scores_signal_and_parity(spark):
    """zlib-ratio quality signal: parity with direct zlib per row, and
    the signal property — templated/repetitive text compresses far
    better (lower ratio) than high-entropy text."""
    import random
    import zlib

    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        compression_scores,
    )

    rng = random.Random(31)
    rows = [
        ("rep", "buy now! " * 200),
        ("nat", " ".join("the quick brown fox jumps over the lazy dog".split()[i % 9] for i in range(400))),
        ("rand", "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(1500))),
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, ["id", "text"]).repartition(3)
    got = {r.id: (r.raw_len, r.comp_len, r.ratio_micro) for r in
           compression_scores(df, "id", "text").collect()}
    for rid, text in rows:
        raw = text.encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        want = (len(raw), comp, (comp * 1_000_000) // len(raw) if raw else 0)
        assert got[rid] == want, rid
    assert got["rep"][2] < got["nat"][2] < got["rand"][2]


def test_char_entropy_hand_cases_and_python_parity(spark):
    """Shannon character entropy in exact micro-nats: single-repeated-
    char spam scores 0, a uniform two-char doc scores ln 2, empty text
    gets the pinned zero row, and everything matches a pure-Python
    reference applying the same ln-per-distinct-then-integer-divide
    discipline; partition-count invariant."""
    import math
    from collections import Counter

    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        char_entropy_scores,
    )

    rows = [
        ("spam", "aaaaaaaaaa"),
        ("two", "abababab"),
        ("nat", "the quick brown fox jumps over the lazy dog"),
        ("empty", ""),
    ]

    def ref(text):
        c = Counter(text)
        n = sum(c.values())
        if n == 0:
            return (0, 0, 0)
        s = sum(nc * round(math.log(n / nc) * 1_000_000) for nc in c.values())
        return (n, len(c), s // n)

    for parts in (1, 3):
        df = spark.createDataFrame(rows, ["id", "text"]).repartition(parts)
        got = {
            r.id: (r.n_chars, r.n_distinct_chars, r.entropy_micro_nats)
            for r in char_entropy_scores(df, "id", "text").collect()
        }
        assert len(got) == 4
        for rid, text in rows:
            assert got[rid] == ref(text), (rid, parts)
    assert got["spam"][2] == 0
    assert got["two"][2] == round(math.log(2) * 1_000_000)  # ln 2 exactly
    assert got["spam"][2] < got["two"][2] < got["nat"][2]


def test_bigram_lm_scores_python_parity_and_order_signal(spark):
    """Exact parity vs a pure-Python reference on a small corpus, and
    the signal bigrams exist for: a word-order-garbled copy of a
    repetitive doc scores LOWER than the original even though their
    unigram distributions are identical."""
    import math
    from collections import Counter

    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        bigram_lm_scores,
    )

    # natural prose DOMINATES the corpus (the LM is corpus-trained, so a
    # lone garbled doc can't teach the model its own bigrams)
    sent = "the cat sat on the mat and the dog ran in the park "
    docs = [(i, (sent * 3).strip()) for i in range(1, 9)]
    garbled = " ".join(reversed((sent * 3).split()))
    docs += [(9, garbled), (10, "one two"), (11, "solo")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    toks = {i: t.lower().split() for i, t in docs}
    uni = Counter(w for t in toks.values() for w in t)
    bic = Counter(
        (t[j - 1], t[j]) for t in toks.values() for j in range(1, len(t))
    )
    n, v = sum(uni.values()), len(uni)

    def mn(prev, w):
        num = (bic[(prev, w)] + 1) * (n + v) + (uni[w] + 1) * (uni[prev] + v)
        den = 2 * (uni[prev] + v) * (n + v)
        return round(math.log(num / den) * 1_000_000)

    got = {
        r.doc_id: (r.n_bigrams, r.sum_logp_micro, r.avg_logp)
        for r in bigram_lm_scores(df, "doc_id", "text").collect()
    }
    for i, t in toks.items():
        nb = max(len(t) - 1, 0)
        s = sum(mn(t[j - 1], t[j]) for j in range(1, len(t)))
        assert got[i][0] == nb, i
        assert got[i][1] == s, i
    assert got[11] == (0, 0, 0.0)
    assert got[9][2] < got[1][2]  # broken order scores lower


def test_countmin_never_underestimates(spark):
    """The defining Count-Min guarantee: every sketch estimate is >= the
    exact count (min over rows of summed counters can only add collision
    mass, never lose any)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_countmin_sketch

    rows = q_countmin_sketch(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r.cm_est >= r.exact_n for r in rows), [
        (r.term, r.exact_n, r.cm_est) for r in rows if r.cm_est < r.exact_n
    ]


def test_hll_estimate_within_error_bound(spark):
    """HLL with m=1024 has standard error 1.04/sqrt(1024) ~= 3.3%; assert
    every per-language estimate lands within a generous 4-sigma band of
    the exact distinct count (deterministic — fixed md5 hashes)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_hll_vocab

    rows = q_hll_vocab(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        rel = abs(r.hll_est - r.exact_distinct) / r.exact_distinct
        assert rel < 0.13, (r.lang, r.exact_distinct, r.hll_est, rel)


def test_kmv_estimate_within_error_band(spark):
    """KMV with k=256 has std error ~sqrt(J(1-J)/k) (~0.03 here); assert
    the estimate lands within a 4-sigma absolute band of the exact
    Jaccard, and that a universe smaller than k yields the EXACT value
    (|U| < k makes the sketch the full union)."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_kmv_overlap

    r = q_kmv_overlap(spark, "/root/testdata/sf0.001").collect()[0]
    if r.u_n < 256:  # small universe: estimator must be exact
        assert r.kmv_est_ppm == r.exact_jaccard_ppm, r
    else:
        assert abs(r.kmv_est_ppm - r.exact_jaccard_ppm) < 130_000, r


def test_sketch_shard_merge_equals_global(spark):
    """The 100-TB mergeability claim, asserted EXACTLY: building a sketch
    per shard and merging (Count-Min: elementwise counter sum; HLL: per-
    bucket register max) yields bit-identical state to one sketch over
    the whole corpus — shard-and-add is lossless, not approximately so."""
    from pyspark.sql import functions as F

    from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import (
        md5_bigint_col,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import tokens_col
    from flink_sql_ai_meetingcoach_azure_spark.operators.sketches import CM_D, CM_W, HLL_M, HLL_R
    from flink_sql_ai_meetingcoach_azure_spark.queries import _prep, _t

    _prep(spark)
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    halves = [docs.filter(F.col("doc_id") % 2 == p) for p in (0, 1)]

    def cm_counters(d):
        toks = d.select(F.explode(tokens_col("text")).alias("term"))
        counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
        rb = counts.select(
            "n",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(r).alias("r"),
                        (md5_bigint_col("term", salt=f"cm{r}") % CM_W).alias("b"),
                    )
                    for r in range(CM_D)
                ])
            ).alias("rb"),
        ).select("n", "rb.r", "rb.b")
        return {
            (row.r, row.b): row.cnt
            for row in rb.groupBy("r", "b").agg(F.sum("n").alias("cnt")).collect()
        }

    shard_cms = [cm_counters(h) for h in halves]
    merged_cm = {}
    for s in shard_cms:
        for k, v in s.items():
            merged_cm[k] = merged_cm.get(k, 0) + v
    assert merged_cm == cm_counters(docs)

    def hll_registers(d):
        dt = d.select(F.explode(tokens_col("text")).alias("term")).distinct()
        h = md5_bigint_col("term")
        b = dt.select(
            (h % HLL_M).alias("b"),
            F.shiftrightunsigned(h, HLL_M.bit_length() - 1).alias("w"),
        ).withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(HLL_R)).otherwise(
                F.lit(HLL_R) - F.length(F.expr("bin(w)"))
            ),
        )
        return {
            row.b: row.rho
            for row in b.groupBy("b").agg(F.max("rho").alias("rho")).collect()
        }

    shard_hlls = [hll_registers(h) for h in halves]
    merged_hll = {}
    for s in shard_hlls:
        for k, v in s.items():
            merged_hll[k] = max(merged_hll.get(k, 0), v)
    assert merged_hll == hll_registers(docs)


def test_hdr_sketch_shard_merge_and_error_bound(spark):
    """The HDR quantile sketch's two contracts, asserted exactly: (1)
    shard-and-add mergeability — per-shard bucket counters summed equal
    the single-pass global histogram bit-for-bit (the same lossless
    merge as Count-Min); (2) the value-error bound — every quantile
    estimate (bucket lower bound) is <= the exact percentile value and
    within a 1/HDR_SUB relative band of it."""
    from pyspark.sql import functions as F

    from flink_sql_ai_meetingcoach_azure_spark.operators.sketches import HDR_SUB
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        HDR_QUANTILES,
        QUERIES,
        _prep,
        _t,
    )

    _prep(spark)
    sf = "/root/testdata/sf0.001"
    li = _t(spark, sf, "lineitem")

    def hist(d):
        return {
            row.bucket_id: row.cnt
            for row in d.select(
                F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v")
            )
            .filter(F.col("v") >= 1)
            .selectExpr("v", "length(bin(v)) - 1 AS e")
            .selectExpr("e", f"v * {HDR_SUB} div shiftleft(1L, e) - {HDR_SUB} AS sub")
            .selectExpr(f"e * {HDR_SUB} + sub AS bucket_id")
            .groupBy("bucket_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    halves = [li.filter(F.col("l_orderkey") % 2 == p) for p in (0, 1)]
    merged = {}
    for h in (hist(halves[0]), hist(halves[1])):
        for b, c in h.items():
            merged[b] = merged.get(b, 0) + c
    assert merged == hist(li)  # lossless shard merge
    assert len(merged) <= 64 * HDR_SUB  # bounded state

    # error bound vs the exact percentiles
    vals = sorted(
        r.v
        for r in li.select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v")
        )
        .filter(F.col("v") >= 1)
        .collect()
    )
    est = {
        r.q_ppm: r.est_cents
        for r in QUERIES["hdr_quantiles"].fn(spark, sf).collect()
    }
    assert len(est) == len(HDR_QUANTILES)
    for ppm, _label in HDR_QUANTILES:
        # exact value at the same ceil-rank the sketch targets
        import math

        rank = max(1, math.ceil(ppm * len(vals) / 1_000_000))
        exact = vals[rank - 1]
        assert est[ppm] <= exact
        assert exact - est[ppm] <= exact // HDR_SUB + 1


def test_pmi_collocations_hand_computed(spark):
    """PMI on a corpus small enough to verify by hand: counts, the
    staged-double evaluation order, micro-nat rounding, and the
    (pmi desc, words asc) ordering."""
    import math

    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        pmi_collocations,
    )

    docs = spark.createDataFrame([("a b a b",), ("a b c",)], "text string")
    got = pmi_collocations(docs, "text", min_count=1, top_n=10).collect()

    # tokens: a,b,a,b,a,b,c -> n_uni=7; c_a=3 c_b=3 c_c=1
    # bigrams: (a,b)x3, (b,a)x1, (b,c)x1 -> n_bi=5
    def pmi(c_xy, cx, cy, n_uni=7, n_bi=5):
        # same staged doubles as the operator: two divs then a multiply
        return int(round(math.log((c_xy * n_uni / n_bi) * (n_uni / (cx * cy))) * 1e6))

    want = sorted(
        [
            ("a", "b", 3, pmi(3, 3, 3)),
            ("b", "a", 1, pmi(1, 3, 3)),
            ("b", "c", 1, pmi(1, 3, 1)),
        ],
        key=lambda r: (-r[3], r[0], r[1]),
    )
    assert [(r.w1, r.w2, r.c_xy, r.pmi_micro) for r in got] == want
    # a tie lives in this corpus — PMI(a,b) = PMI(b,c) = ln(49/15) —
    # so the words-asc tiebreak is exercised, and rare (b,c) matches
    # 3x-more-frequent (a,b): unigram normalization at work
    assert got[0].pmi_micro == got[1].pmi_micro
    assert got[0][:2] == ("a", "b") and got[1][:2] == ("b", "c")


def test_pmi_collocations_degenerate_docs(spark):
    """Empty, whitespace-only, and 1-token docs yield zero bigrams and
    never throw (slice() rejects negative lengths without the
    greatest(...) guard — ADVICE r7); mixed corpora still count the
    healthy docs' bigrams."""
    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        pmi_collocations,
    )

    docs = spark.createDataFrame([("",), ("   ",), ("solo",)], "text string")
    assert pmi_collocations(docs, "text", min_count=1, top_n=10).count() == 0
    mixed = spark.createDataFrame(
        [("",), ("a b",), ("solo",), ("a b",)], "text string"
    )
    got = pmi_collocations(mixed, "text", min_count=1, top_n=10).collect()
    assert [(r.w1, r.w2, r.c_xy) for r in got] == [("a", "b", 2)]


def test_pmi_collocations_min_count_and_plan(spark):
    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        pmi_collocations,
    )

    docs = spark.createDataFrame([("a b a b",), ("a b c",)], "text string")
    q = pmi_collocations(docs, "text", min_count=2, top_n=10)
    assert [(r.w1, r.w2) for r in q.collect()] == [("a", "b")]
    plan = q._jdf.queryExecution().executedPlan().toString()
    # narrow bigram construction: no per-doc window anywhere in the plan
    assert "Window" not in plan
    # final top-k never globally sorts
    assert "TakeOrderedAndProject" in plan


def test_cooc_window_semantics(spark):
    """Forward-window pairs: 'a b c d' with W=3 → a sees b,c,d; b sees
    c,d; c sees d. Duplicate tokens count per occurrence."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_cooc_window  # noqa: F401
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import tokens_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b c d",), ("x x",)], ["text"])
    toks = df.select(tokens_col("text").alias("tk"))
    pos = toks.select(F.posexplode("tk").alias("pos", "w1"), F.col("tk"))
    pairs = pos.select("w1", F.explode(F.expr("slice(tk, pos + 2, 3)")).alias("w2"))
    got = {(r.w1, r.w2): r.cnt for r in
           pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == {("a","b"):1, ("a","c"):1, ("a","d"):1, ("b","c"):1,
                   ("b","d"):1, ("c","d"):1, ("x","x"):1}
