"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow in the calling thread: no Spark, so the
engine receives only the files written here. The same seed gives the same
bytes. Table shapes follow the TPC-H-like star schema plus the ``events``,
``documents`` and ``embeddings`` tables the registry entries read (column
names, types and value distributions as in ``TESTDATA.md``'s tables).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05  # documents that repeat an earlier-or-later text + " dup"

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def write_table(table: pa.Table, path: str, mtime_ns: int | None = None) -> None:
    """Publish ``table`` at ``path`` by write-then-rename, so a file-stream
    source never lists a half-written file; ``mtime_ns`` pins the file's
    modification time (stream sources order files by it)."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    if mtime_ns is not None:
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.replace(tmp, path)


class MonotoneClock:
    """Strictly increasing file mtimes: ties make a file source's batch
    boundaries (and so a cross-batch dedup's admissions) depend on listing
    order, so every published file gets a later mtime than the last."""

    def __init__(self) -> None:
        self._last = 0

    def next_ns(self) -> int:
        now = time.time_ns()
        self._last = max(now, self._last + 1_000_000)
        return self._last


# ---------------------------------------------------------------------------
# documents


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    return out


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)``: random texts over a
    30-word vocabulary, with ``DUP_SHARE`` of the rows repeating another
    row's text plus the word ``dup``."""
    texts = random_texts(rng, n)
    dup_rows = rng.choice(n, size=int(n * DUP_SHARE), replace=False)
    for i in dup_rows:
        j = int(rng.integers(0, n))
        texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.asarray(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def one_word_edit(rng: np.random.Generator, text: str) -> str:
    words = text.split()
    words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def curation_documents(rng: np.random.Generator, n: int, near_dup_share: float) -> pa.Table:
    """``(doc_id, text)`` in id order: ``documents`` texts plus a seeded share
    of one-word-edit near-duplicates of earlier documents."""
    base = documents(rng, n).column("text").to_pylist()
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < near_dup_share:
            texts.append(one_word_edit(rng, texts[int(rng.integers(0, i))]))
        else:
            texts.append(base[i])
    return pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


# ---------------------------------------------------------------------------
# the star schema + events + embeddings


def tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    n_user = int(15_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def dates(lo_days, hi_days, n):
        return _ts(_EPOCH_1995 + rng.integers(lo_days, hi_days, n) * _DAY_US)

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.asarray(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = np.asarray("large hot blue old red new cold small".split())
    noun = np.asarray("ring bolt plate gear rod widget anvil gizmo".split())
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                noun[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.asarray(
                ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
            )[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.asarray(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": dates(0, 2404, n_ord),
            "o_orderpriority": np.asarray(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.asarray(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": dates(1, 2499, n_li),
        }
    )
    gaps = rng.exponential(26.0, n_ev)
    ev_us = _EPOCH_2024 + np.cumsum(np.round(gaps * 1e6)).astype(np.int64)
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_us),
            "user_id": rng.integers(0, n_user, n_ev),
            "event_type": np.asarray(["view", "click", "purchase", "signup", "error"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents(rng, n_doc),
        "embeddings": embeddings,
    }


def write_tables(rng: np.random.Generator, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(rng, sf).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
