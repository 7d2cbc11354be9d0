"""The one exact top-k kernel (``operators/vector_search._topk``): every
GEMM search ranks (sim DESC, payload ASC) exactly like the Catalyst
reference ``vector_search_topk_flat``, ties included."""

from __future__ import annotations

import importlib

import numpy as np
import pytest

from flink_sql_ai_meetingcoach_azure_spark.models.providers import MockProvider
from flink_sql_ai_meetingcoach_azure_spark.operators.quantize import (
    vector_search_topk_quantized,
)
from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
    build_ivf_index,
    embed_and_search_numpy,
    vector_search,
    vector_search_ivf,
    vector_search_topk_flat,
    vector_search_topk_flat_gemm,
)

vs = importlib.import_module("flink_sql_ai_meetingcoach_azure_spark.operators.vector_search")

VEC = [1.0, 2.0, 3.0, 4.0]
#: U+E000..U+FFFF sorts AFTER a surrogate pair in UTF-16 but BEFORE it in
#: code-point / UTF-8 byte order (Spark's binary collation)
STRINGS = ["\U0001F600", "～", "", "z", "a", "é"]


def _tied_index(spark, ids, id_type="int"):
    """Identical vectors, inserted in the given (reversed) payload order."""
    return spark.createDataFrame(
        [(i, VEC) for i in ids], f"id {id_type}, embedding array<float>"
    )


def _arrays(df, col="search_results"):
    return [[s["id"] for s in r[col]] for r in df.collect()]


def _flat(df):
    rows = sorted(df.collect(), key=lambda r: r["search_rank"])
    return [[r["id"] for r in rows]]


def test_exact_ties_rank_by_payload_on_every_route(spark):
    idx = _tied_index(spark, range(12, 0, -1))
    q = spark.createDataFrame([(0, [0.5, 1.0, -1.0, 2.0])], "qid int, embedding array<float>")
    ref = _flat(vector_search_topk_flat(q, idx, k=3, payload_cols=["id"], round_sim=6))
    assert ref == [[1, 2, 3]]

    msgs = spark.createDataFrame([("tie breaker",)], ["message"])
    ivf, cents = build_ivf_index(idx, "embedding", nlist=2)
    routes = {
        "flat_gemm": _flat(vector_search_topk_flat_gemm(q, idx, k=3, payload_cols=["id"])),
        "vector_search": _arrays(vector_search(q, idx, k=3, payload_cols=["id"])),
        "vector_search_round6": _arrays(
            vector_search(q, idx, k=3, payload_cols=["id"], round_sim=6)
        ),
        "embed_and_search": _arrays(
            embed_and_search_numpy(msgs, idx, MockProvider(dim=4), k=3, payload_cols=["id"])
        ),
        "embed_and_search_exact": _arrays(
            embed_and_search_numpy(
                msgs, idx, MockProvider(dim=4), k=3, payload_cols=["id"], exact=True
            )
        ),
        "ivf": _arrays(vector_search_ivf(q, ivf, cents, k=3, nprobe=2, payload_cols=["id"])),
        "int8": _flat(vector_search_topk_quantized(q, idx, k=3, payload_cols=["id"])),
    }
    assert routes == {name: ref for name in routes}


def test_string_payload_order_is_utf8_byte_order(spark):
    """Ties rank by Spark's binary collation: U+FF5E before U+1F600."""
    idx = _tied_index(spark, STRINGS, "string")
    q = spark.createDataFrame([(0, [4.0, 3.0, 2.0, 1.0])], "qid int, embedding array<float>")
    expect = sorted(STRINGS, key=lambda s: s.encode("utf-8"))
    assert expect.index("～") < expect.index("\U0001F600")
    n = len(STRINGS)
    ref = _flat(vector_search_topk_flat(q, idx, k=n, payload_cols=["id"]))
    ivf, cents = build_ivf_index(idx, "embedding", nlist=2)
    assert ref == [expect]
    assert _flat(vector_search_topk_flat_gemm(q, idx, k=n, payload_cols=["id"])) == ref
    assert _arrays(vector_search(q, idx, k=n, payload_cols=["id"])) == ref
    assert _arrays(vector_search_ivf(q, ivf, cents, k=n, nprobe=2, payload_cols=["id"])) == ref


def test_query_batch_spanning_blocks_equals_one_block(monkeypatch):
    rng = np.random.default_rng(7)
    # integer-valued vectors: many exact ties, including at the k cut
    qm = rng.integers(-2, 3, (50, 5)).astype(np.float64)
    mat = rng.integers(-2, 3, (40, 5)).astype(np.float64)
    one_block = vs._gemm_topk(qm, mat, 4, round_sim=6)
    cents = mat[:6].astype(np.float32)
    nearest = vs._nearest_centroids(qm.astype(np.float32), cents)
    probes = vs._nearest_centroids(qm.astype(np.float32), cents, nprobe=3)

    monkeypatch.setattr(vs, "SIMS_BLOCK_ELEMS", 7 * len(mat))  # 7-row blocks
    blocked = vs._gemm_topk(qm, mat, 4, round_sim=6)
    for a, b in zip(one_block, blocked):
        np.testing.assert_array_equal(a, b)
    monkeypatch.setattr(vs, "SIMS_BLOCK_ELEMS", 1)  # one row per block
    np.testing.assert_array_equal(vs._nearest_centroids(qm.astype(np.float32), cents), nearest)
    np.testing.assert_array_equal(
        vs._nearest_centroids(qm.astype(np.float32), cents, nprobe=3), probes
    )

    # and both equal the row_number() order computed row by row
    sims = vs._round_half_away(vs._similarity(qm, mat, vs._norms(mat)), 6)
    for i in range(len(qm)):
        want = sorted(range(len(mat)), key=lambda j: (-sims[i, j], j))[:4]
        assert one_block[0][i].tolist() == want


@pytest.mark.parametrize("k", [1, 3, 40, 41])
def test_topk_returns_min_k_n_columns(k):
    qm = np.ones((3, 2))
    mat = np.ones((40, 2))
    cols, sims = vs._gemm_topk(qm, mat, k)
    assert cols.shape == sims.shape == (3, min(k, 40))
    assert cols[0].tolist() == list(range(min(k, 40)))
