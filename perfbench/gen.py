"""Seeded input generators for the benchmark.

Everything the engine sees is made here from the run's ``--seed``:
the TPC-H-shaped star schema (``olap_sql``) and the corpus shards
(``corpus_curation``). Column names,
types and value domains follow the repository's fixture schemas
(``FIXTURES.md``) so that the registry's SQL binds and its filters
select rows.

Bump ``GEN_VERSION`` whenever a generator's output for a given seed
changes: figures taken with different versions are not comparable.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "g1"

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_PNOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
_EPOCH_1995 = np.datetime64("1995-01-01", "D")

# Corpus vocabulary: the fixture corpus's word pool (stopwords included,
# text_quality_score counts them).
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer the a of and to in is it"
).split()
_LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])
EMBED_DIM = 64


def _write(df: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return (_EPOCH_1995 + rng.integers(0, days, n)).astype("datetime64[us]")


def star_schema(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The seven TPC-H-shaped tables at scale factor ``sf``
    (lineitem ~= 6M x sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": (np.arange(n_supp) % 25).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PADJ[a]} {_PNOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, 2400),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, 2500),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def write_star_schema(seed: int, sf: float, out_dir: str) -> dict[str, str]:
    """Write the star schema as ``<out_dir>/<table>.parquet``; returns
    table -> path."""
    os.makedirs(out_dir, exist_ok=True)
    return {
        name: _write(df, os.path.join(out_dir, f"{name}.parquet"))
        for name, df in star_schema(seed, sf).items()
    }


def base_corpus(seed: int, n_docs: int, n_vecs: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One ``documents`` + ``embeddings`` corpus with planted exact and
    near duplicates, in the fixture schema."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_VOCAB)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.08:  # planted near/exact duplicate
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.7:
                for _ in range(int(rng.integers(1, 3))):
                    words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(8, 90)))))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 0.15, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.1, (n_vecs, EMBED_DIM))
    dup = np.flatnonzero(rng.random(n_vecs) < 0.05)
    vecs[dup] = vecs[rng.integers(0, n_vecs, len(dup))] + rng.normal(0, 0.002, (len(dup), EMBED_DIM))
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(np.int32),
    })
    return docs, emb


def salt_corpus(
    docs: pd.DataFrame, emb: pd.DataFrame, salt: int, id_offset: int = 0
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Collision-free replica ``salt`` (>= 1) of a corpus, its ids
    shifted by ``id_offset``.

    Every 3rd word becomes the replica token ``r<salt>``, which drives
    cross-replica shingle Jaccard to ~0 while the duplicates planted
    inside the corpus survive; each embedding dimension j moves by
    ``((salt*31 + j) % 101 - 50) * 0.002``, 101 prime keeping the
    pattern distinct for every replica."""
    tok = f"r{salt}"
    texts = [
        " ".join(tok if j % 3 == 0 else w for j, w in enumerate(t.split()))
        for t in docs["text"]
    ]
    d = docs.assign(
        doc_id=docs["doc_id"] + id_offset,
        text=texts,
        n_chars=np.array([len(t) for t in texts], dtype=np.int64),
    )
    shift = ((salt * 31 + np.arange(EMBED_DIM)) % 101 - 50) * 0.002
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64) + shift
    e = emb.assign(vec_id=emb["vec_id"] + id_offset, embedding=list(mat.astype(np.float32)))
    return d, e


def write_corpus(docs: pd.DataFrame, emb: pd.DataFrame, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
