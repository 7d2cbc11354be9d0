"""Property-based tests (hypothesis) for the pure-Python kernels: chunker
coverage invariants and Avro codec roundtrips. These run without Spark."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from flink_sql_ai_meetingcoach_azure_spark.functions.chunking import chunk_text
from flink_sql_ai_meetingcoach_azure_spark.models.providers import mock_embedding
from flink_sql_ai_meetingcoach_azure_spark.sources.avro_codec import (
    decode_record,
    encode_record,
)

TEXT = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=600)


@settings(max_examples=60, deadline=None)
@given(TEXT, st.integers(20, 200), st.integers(0, 19))
def test_chunk_size_bound(text, size, overlap):
    for c in chunk_text(text, chunk_size=size, chunk_overlap=overlap, separator="###"):
        assert 0 < len(c) <= size


@settings(max_examples=60, deadline=None)
@given(TEXT)
def test_chunk_no_separator_lossless(text):
    """Without separators in the text and zero overlap, chunks concatenate
    back to the input (nothing lost, nothing duplicated)."""
    chunks = chunk_text(text, chunk_size=50, chunk_overlap=0, separator="###")
    if "###" not in text:
        assert "".join(chunks) == text


@settings(max_examples=40, deadline=None)
@given(TEXT)
def test_mock_embedding_unit_norm(text):
    v = mock_embedding(text, dim=32)
    assert len(v) == 32
    assert abs(sum(x * x for x in v) - 1.0) < 1e-6


AVRO_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "s", "type": ["null", "string"], "default": None},
        {"name": "n", "type": "long"},
        {"name": "f", "type": {"type": "array", "items": "double"}},
        {"name": "b", "type": "boolean"},
    ],
}


@settings(max_examples=80, deadline=None)
@given(
    st.one_of(st.none(), st.text(max_size=100)),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.lists(st.floats(allow_nan=False, allow_infinity=False, width=64), max_size=8),
    st.booleans(),
)
def test_avro_roundtrip_property(s, n, f, b):
    rec = {"s": s, "n": n, "f": f, "b": b}
    assert decode_record(AVRO_SCHEMA, encode_record(AVRO_SCHEMA, rec)) == rec


@settings(max_examples=120, deadline=None)
@given(
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30),
    st.sampled_from(["sample", "split", "strat"]),
)
def test_hash_bucket_duckdb_matches_python(key, salt):
    """The sampling operators' cross-engine contract: DuckDB's rendering of
    the md5 bucket equals the plain-Python reference for arbitrary unicode
    keys (the Spark side is pinned by the 40+ hash-green oracle entries
    built on the same conv(substr(md5)) formula)."""
    import hashlib

    import duckdb

    from flink_sql_ai_meetingcoach_azure_spark.operators.sampling import (
        N_BUCKETS,
        hash_bucket_sql,
    )

    expected = (
        int(hashlib.md5(f"{key}:{salt}".encode()).hexdigest()[:15], 16) % N_BUCKETS
    )
    got = duckdb.execute(
        f"SELECT {hash_bucket_sql('?', salt)}", [key]
    ).fetchone()[0]
    assert got == expected


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=900))
def test_closed_form_chunker_matches_chunk_text(text):
    """Guards the SQL oracles of chunk_embed_ingest / rag_retrieval: for
    any text WITHOUT the separator, chunk_text collapses to the closed
    form the DuckDB SQL implements (stride windows + the tail-merge case).
    If chunk_text's merge logic ever changes, this fails before the
    correctness gate does."""
    if "###" in text or not text:
        return
    size, ov = 200, 20
    stride = size - ov
    starts = list(range(0, max(len(text) - ov, 1), stride))
    n = len(starts)
    closed = []
    for i, s in enumerate(starts):
        tail_len = len(text) - s
        if i == n - 1 and n > 1 and tail_len <= stride:
            closed.append(text[s : s + ov] + text[s : s + tail_len])
        else:
            closed.append(text[s : s + size])
    assert closed == chunk_text(text, size, ov, "###", False, False, True, "START")


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("abcdefgh XY.,!"), min_size=0, max_size=120
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_span_hash_duckdb_matches_python(texts, window):
    """Cross-engine contract of the span-dedup Horner hashing: the DuckDB
    CTE rendering produces exactly the (doc_id, pos, h) postings a plain
    Python reference computes — per-token 32-bit md5, two polynomial
    channels, trailing windows dropped, short docs empty.  (The Spark side
    is pinned by the hash-green dup_spans/span_pairs oracle entries built
    on the same CTEs.)"""
    import hashlib
    import re as _re

    import duckdb

    from flink_sql_ai_meetingcoach_azure_spark.operators.spans import (
        SPAN_HASH_B,
        SPAN_HASH_P,
    )
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        _span_postings_ctes_sql,
    )

    def py_spans(doc_id, text):
        toks = [t for t in _re.split(r"\s+", text.lower()) if t]
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
        out = []
        for i in range(len(toks) - window + 1):
            chans = []
            for b, p in zip(SPAN_HASH_B, SPAN_HASH_P):
                acc = hs[i]
                for j in range(1, window):
                    acc = (acc * b + hs[i + j]) % p
                chans.append(acc)
            out.append((doc_id, i, f"{chans[0]}_{chans[1]}"))
        return out

    expected = sorted(
        row for d, t in enumerate(texts) for row in py_spans(d, t)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    got = sorted(
        tuple(r)
        for r in con.execute(
            f"WITH {_span_postings_ctes_sql(window)} "
            "SELECT doc_id, pos, h FROM spans"
        ).fetchall()
    )
    assert got == expected


@given(st.data())
@settings(max_examples=25, deadline=None)
def test_jpeg_codec_roundtrip_property(data):
    """Any quantized-coefficient image, any supported layout, any
    restart interval: encode→decode must reproduce the independently
    computed IDCT pixels exactly (the entropy pipeline — canonical
    Huffman, DC prediction, run-length AC, stuffing, restarts — is
    lossless by construction, so a single wrong bit anywhere breaks
    equality)."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        _IDCT_M,
        decode_jpeg,
        encode_jpeg,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    mcus_y = data.draw(st.integers(1, 2))
    mcus_x = data.draw(st.integers(1, 3))
    layout = data.draw(st.sampled_from(["gray", "444", "420"]))
    ri = data.draw(st.sampled_from([0, 1, 3]))
    seed = data.draw(st.integers(0, 2**31 - 1))
    rng = np.random.RandomState(seed)

    def blocks(by, bx):
        c = np.zeros((by, bx, 8, 8), dtype=np.int64)
        c[:, :, 0, 0] = rng.randint(-80, 81, (by, bx))
        m = rng.rand(by, bx, 8, 8) < 0.12
        c[m] = rng.randint(-25, 26, m.sum())
        return c

    def plane(c):
        by, bx = c.shape[:2]
        out = np.zeros((by * 8, bx * 8))
        for y in range(by):
            for x in range(bx):
                out[y*8:(y+1)*8, x*8:(x+1)*8] = (
                    _IDCT_M.T @ (c[y, x] * q).astype(float) @ _IDCT_M
                )
        return out

    if layout == "gray":
        c = blocks(mcus_y, mcus_x)
        got = decode_jpeg(encode_jpeg(
            [c], q, mcus_y * 8, mcus_x * 8, restart_interval=ri))
        g = np.clip(np.floor(plane(c) + 128.5), 0, 255).astype(np.uint8)
        assert np.array_equal(got, np.repeat(g[:, :, None], 3, axis=2))
        return
    if layout == "444":
        comps = [blocks(mcus_y, mcus_x) for _ in range(3)]
        samp = [(1, 1)] * 3
        h, w = mcus_y * 8, mcus_x * 8
        up = lambda p: p  # noqa: E731
    else:
        comps = [blocks(2 * mcus_y, 2 * mcus_x),
                 blocks(mcus_y, mcus_x), blocks(mcus_y, mcus_x)]
        samp = [(2, 2), (1, 1), (1, 1)]
        h, w = mcus_y * 16, mcus_x * 16
        up = lambda p: np.repeat(np.repeat(p, 2, axis=0), 2, axis=1)  # noqa: E731
    got = decode_jpeg(encode_jpeg(comps, q, h, w, sampling=samp,
                                  restart_interval=ri))
    Y = plane(comps[0]) + 128.0
    CB = up(plane(comps[1])) + 128.0
    CR = up(plane(comps[2])) + 128.0
    r = Y + 1.402 * (CR - 128.0)
    g = Y - 0.344136 * (CB - 128.0) - 0.714136 * (CR - 128.0)
    b = Y + 1.772 * (CB - 128.0)
    exp = np.clip(
        np.floor(np.stack([r, g, b], axis=2) + 0.5), 0, 255
    ).astype(np.uint8)
    assert np.array_equal(got, exp)
