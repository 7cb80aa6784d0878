"""Seeded input generator for the benchmark.

Writes one scale dir per (seed, factor, generator version) in the
engine's testdata layout: one pyarrow-written, snappy, single-row-group
parquet file per catalog table, with the testdata schema (TPC-H-style
star schema plus ``events``, ``documents`` and ``embeddings``), down
to the parquet types: ``events.ts`` and the date columns are tz-naive
INT64 TIMESTAMP(MICROS), as in the testdata files (FIXTURES.md lists
nanosecond and millisecond types that those files no longer have).
Matching that layout keeps scan splits, the loaders' branches on the
timestamp type and ``fan_out`` decisions the same as on the
repository's testdata (TESTDATA.md).

Row counts are ``BASE_SF`` times the TPC-H-style per-scale-factor
counts. Column ranges, category sets and shares follow the testdata:
the 30-word vocabulary, 10-100 tokens per document, 5% near-duplicate
documents marked ``dup``, the language shares, 20 sources, 64-dim unit
vectors with 10 labels, the date and timestamp spans. Within those
ranges the values are drawn uniformly (``value`` exponentially), which
is assumed, not measured. ``factor`` > 1 replicates ``documents`` and
``embeddings`` only: each replica gets offset ids, replica documents
get 3 seeded filler tokens from the vocabulary appended (near-duplicate
families) and replica vectors a seeded N(0, 0.01) perturbation, so a
corpus-level query sees a larger corpus whose near-duplicate structure
grows with it. That replica recipe is assumed too; it differs from
``tools/scaling_probe.py``, which appends one replica-unique token and
keeps vectors unchanged. The other tables stay as at 1x.

A scale dir is reused across runs when its ``MARKER`` file matches.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
# Row counts are these multiples of BASE_SF (TESTDATA's per-table
# ratios: sf0.1 has 600,000 lineitem rows).
BASE_SF = 0.02
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
REPLICA_ID_OFFSET = 10_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_SHARE = 0.05  # documents that are near-duplicates of another document
EMB_DIM = 64


def _day_range(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    days = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy",
        row_group_size=max(1, table.num_rows),
    )


def _rows(name: str) -> int:
    return max(1, int(round(ROWS_PER_SF[name] * BASE_SF)))


def relational_tables(rng) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = _rows("customer"), _rows("supplier"), _rows("part")
    n_ord, n_li = _rows("orders"), _rows("lineitem")
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day_range(
                rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _day_range(
                rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
            ),
        }
    )
    return out


def events_table(rng) -> pa.Table:
    n = _rows("events")
    n_users = _rows("customer") // 10
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def document_texts(rng, n: int) -> list[str]:
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # Near-duplicates: a copy of another document with one token
    # swapped and a marker token appended.
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        words = texts[int(rng.integers(0, n))].split()
        words[int(rng.integers(0, len(words)))] = VOCAB[
            int(rng.integers(0, len(VOCAB)))
        ]
        texts[i] = " ".join(words + ["dup"])
    return texts


def corpus_tables(rng, factor: int) -> dict[str, pa.Table]:
    n_doc, n_emb = _rows("documents"), _rows("embeddings")
    texts = document_texts(rng, n_doc)
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)]
    vecs = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb).astype(np.int32)

    doc_ids, all_texts, emb_ids, emb_vecs = [], [], [], []
    for r in range(factor):
        base_doc = np.arange(n_doc, dtype=np.int64)
        doc_ids.append(base_doc + r * REPLICA_ID_OFFSET)
        if r == 0:
            all_texts.extend(texts)
            emb_vecs.append(vecs)
        else:
            filler = rng.integers(0, len(VOCAB), (n_doc, 3))
            all_texts.extend(
                f"{t} {' '.join(VOCAB[j] for j in f)}"
                for t, f in zip(texts, filler)
            )
            noisy = vecs + rng.normal(0.0, 0.01, vecs.shape).astype(np.float32)
            emb_vecs.append(noisy / np.linalg.norm(noisy, axis=1, keepdims=True))
        emb_ids.append(np.arange(n_emb, dtype=np.int64) + r * REPLICA_ID_OFFSET)
    ids = np.concatenate(doc_ids)
    flat = np.concatenate(emb_vecs)
    return {
        "documents": pa.table(
            {
                "doc_id": ids,
                "text": all_texts,
                "lang": np.tile(langs, factor),
                "source": [f"src{i % 20}" for i in ids],
                "n_chars": np.array([len(t) for t in all_texts], dtype=np.int64),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": np.concatenate(emb_ids),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(flat.ravel(), pa.float32()), EMB_DIM
                ).cast(pa.list_(pa.float32())),
                "label": np.tile(labels, factor),
            }
        ),
    }


def permute(rng, table: pa.Table) -> pa.Table:
    """Seeded row permutation: the same rows in another file order, so
    every seed scans, partitions and hashes the data differently."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def marker(seed: int, factor: int) -> str:
    return f"seed={seed} factor={factor} gen={GEN_VERSION} base_sf={BASE_SF}"


def scale_dir(data_root: str, seed: int, factor: int) -> str:
    return os.path.join(data_root, f"s{seed}-x{factor}-g{GEN_VERSION}")


def ensure_scale_dir(data_root: str, seed: int, factor: int) -> tuple[str, bool]:
    """Return (scale dir, whether it was generated now). Reuses a dir
    whose MARKER matches; otherwise writes it from scratch into a
    staging dir and renames it into place."""
    out = scale_dir(data_root, seed, factor)
    mpath = os.path.join(out, "MARKER")
    want = marker(seed, factor)
    try:
        with open(mpath) as fh:
            if fh.read() == want:
                return out, False
    except OSError:
        pass
    stage = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    # Independent streams per table group, so changing one group's
    # recipe leaves the others' bytes alone.
    rel_rng, ev_rng, corp_rng, perm_rng = (
        np.random.default_rng([seed, k]) for k in range(4)
    )
    tables = relational_tables(rel_rng)
    tables["events"] = events_table(ev_rng)
    tables.update(corpus_tables(corp_rng, factor))
    for name in sorted(tables):
        tbl = tables[name]
        # events keep their time order: the stream-replay queries read
        # the file as an append log.
        if name != "events":
            tbl = permute(perm_rng, tbl)
        _write(stage, name, tbl)
    with open(os.path.join(stage, "MARKER"), "w") as fh:
        fh.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(stage, out)
    return out, True
