"""Seeded inputs for the benchmark workloads, written with numpy + pyarrow.

Each function is pure in its seed and size, so the same arguments give
the same rows, and no Spark job runs for them: the program under test
receives nothing but the written files.

* ``write_documents``: ``curation_docs`` input.  Texts draw 15-94 words
  from ``DOC_WORDS``, 300 words made from the 30 of the repository's sf
  test documents;
  about 2% are exact and 4% near duplicates (one extra ``dup`` token) of
  an earlier document, so dedup and MinHash have work.
* ``reseed_transcripts``: ``zipf_head`` input, a seeded variant of one
  ``generate_transcripts`` table.
* ``write_query_tables``: the tables the ``__spark_entry__`` queries
  read (events, documents, embeddings and four TPC-H-shaped tables),
  with the schemas and value ranges of the repository's sf test tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the 30 words of the repository's sf test documents, each in ten
# numbered forms: over the 30 words alone, the label-propagation rounds
# of connected_components on the MinHash candidates (three Spark jobs
# each) varied with the seed, 10 or 13 (60 or 69 Spark jobs a curation
# job); over 300 words all six seeds tried took 10
DOC_WORDS = [f"{w}{i}" for w in (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split() for i in range(10)]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:  # near duplicate: one extra token
            toks = texts[int(rng.integers(0, i))].split()
            toks.insert(int(rng.integers(0, len(toks))), "dup")
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(15, 95)))))
    langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(path: str, seed: int, n: int) -> int:
    _write(_documents(np.random.default_rng([seed, 13]), n), path)
    return n


def reseed_transcripts(base: pa.Table, seed: int) -> pa.Table:
    """A seeded variant of a transcript table: a random 90% of its
    conversations, each moved to a new start drawn uniformly from the
    72 hours after 2026-01-01 (turn spacing kept).  The seed thus
    sets the row count, the hourly windows and the first-seen order that
    numbers the templates."""
    rng = np.random.default_rng([seed, 21])
    conv, inv = np.unique(base.column("conv_id").to_numpy(zero_copy_only=False), return_inverse=True)
    kept = rng.random(len(conv)) < 0.9
    start = 1767225600 * 10**6 + rng.integers(0, 72 * 3600, len(conv)) * 10**6
    ts = pc.cast(base.column("ts"), pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_numpy()
    first = np.full(len(conv), np.iinfo(np.int64).max)
    np.minimum.at(first, inv, ts)
    moved = pa.array(ts - first[inv] + start[inv], pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    table = base.set_column(base.schema.get_field_index("ts"), "ts", moved)
    return table.filter(pa.array(kept[inv]))


# rows per table written by ``write_query_tables`` (nation and region are fixed)
QUERY_TABLE_ROWS = {"events": 10_000, "documents": 1_000, "embeddings": 500,
                    "lineitem": 20_000, "orders": 5_000, "customer": 500}


def _days(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    """``n`` midnight timestamps within ``days`` days after ``start``."""
    d = np.datetime64(start, "D") + rng.integers(0, days, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _query_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = QUERY_TABLE_ROWS
    ne, nl, no, nc = n["events"], n["lineitem"], n["orders"], n["customer"]
    secs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], ne,
                                          p=[0.4, 0.35, 0.1, 0.05, 0.1]), pa.string()),
        "value": pa.array(np.round(rng.exponential(40.0, ne) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    labels = rng.integers(0, 10, n["embeddings"])
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (len(labels), 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(len(labels)), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": _days(rng, "1995-01-02", 2500, nl),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2), pa.float64()),
        "o_orderdate": _days(rng, "1995-01-01", 2400, no),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no), pa.string()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc), pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    })
    return {"events": events, "documents": _documents(rng, n["documents"]),
            "embeddings": embeddings, "lineitem": lineitem, "orders": orders,
            "customer": customer, "nation": nation, "region": region}


def write_query_tables(sf_dir: str, seed: int) -> dict[str, int]:
    """Write ``<sf_dir>/<table>.parquet`` for every table the queries
    read; returns the rows per table."""
    tables = _query_tables(np.random.default_rng([seed, 34]))
    for name, table in tables.items():
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
