"""Seeded synthetic inputs for the benchmark.

Two kinds of input, both written as plain files so the engine reads them the
way it reads production data:

* the star-schema tables the suite queries scan (``region`` ... ``embeddings``,
  one single-row-group parquet file each, the same column names and physical
  types as the testdata the suite queries were written against), sized by a
  scale factor ``sf``;
* a reference-shaped caption list (``id|||File:x|||caption``) for the ETL
  pipeline, plus a deterministic image fetcher that stands in for the network.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a data spark query row stream line small fast group customer part column order "
    "scan slow agg key window table merge vector join batch sort value hash filter big"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _us(year: int, month: int, day: int) -> int:
    return int((datetime(year, month, day) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _day_ts(rng: np.random.Generator, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = _us(*start) // 86_400_000_000, _us(*end) // 86_400_000_000
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows)
    )


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every suite table at scale ``sf``; return ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(10, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(100, int(1_500_000 * sf))
    n_line, n_ev = max(400, int(6_000_000 * sf)), max(200, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_ts(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _day_ts(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    start_us = _us(2024, 1, 1)
    ts = np.sort(start_us + rng.integers(0, 30 * 86_400_000_000, n_ev, dtype=np.int64))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        # ~5 % near-duplicates: an earlier document plus one marker word.
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: table.num_rows for name, table in tables.items()}


def write_caption_list(path: str, n: int, seed: int) -> int:
    """Write ``n`` captions as ``id|||File:x|||caption``; return the byte size.

    Sentence and token counts straddle the reference v1 filter bounds
    (``num_tok`` in (10, 150), ``num_sent`` in (1, 5)) so the filters drop a
    real share of rows, and capitalized words feed the entity counters.
    """
    rng = np.random.default_rng(seed)
    vocab = WORDS + ["Berlin", "Paris", "River", "Museum", "Church", "Tower"]
    n_sent = rng.integers(1, 7, n)
    sent_len = rng.integers(3, 25, int(n_sent.sum()))
    words = [vocab[i] for i in rng.integers(0, len(vocab), int(sent_len.sum()))]
    sents, w = [], 0
    for k in sent_len:
        s = " ".join(words[w : w + k])
        sents.append(s[0].upper() + s[1:] + ".")
        w += k
    lines, s = [], 0
    for i in range(n):
        ext = ("jpg", "JPG", "png")[i % 3]
        caption = " ".join(sents[s : s + n_sent[i]])
        lines.append(f"{i}|||File:Img {i} {vocab[i % len(vocab)]}.{ext}|||{caption}")
        s += n_sent[i]
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def make_fetcher(width: int = 64, height: int = 48, fail_one_in: int = 20):
    """A deterministic stand-in for the HTTP fetch.

    Returns RawGrid image bytes derived from the URL; about one URL in
    ``fail_one_in`` fails both attempts. Built as a closure with its imports
    inside, because Spark's Python workers pickle it by value and cannot
    import this module.
    """

    def fetch(url: str, fallback: str | None) -> bytes | None:
        import struct
        import zlib

        import numpy

        key = zlib.crc32(url.encode("utf-8"))
        if key % fail_one_in == 0:
            return None
        pixels = numpy.random.default_rng(key).integers(
            0, 256, size=(height, width, 3), dtype=numpy.uint8
        )
        return b"RG" + struct.pack(">HHH", width, height, 3) + pixels.tobytes()

    return fetch
