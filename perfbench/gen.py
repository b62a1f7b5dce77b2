"""Seeded input generator for the benchmark workloads.

The system under test only ever sees the directory this module writes.
Content is synthetic but shaped like the catalog's star schema plus the
events / documents / embeddings tables (same schemas, key ranges and
value distributions), so every registry query runs unchanged on it.

Two seeds are involved:

- the CONTENT seed is fixed per table size, so every run measures the
  same rows;
- the run seed (``--seed``) chooses what a workload varies: the row
  order of every table (``etl_relational``), which replica texts lose a
  token and the vector noise (``llm_curation``), and the row order of
  the documents pool plus the verb sequence (``lakehouse_dml``, see
  ``lakehouse_pass``).

Run ``python3 perfbench/gen.py --workload NAME --seed N --out DIR`` to
write one workload's inputs and print the per-table manifest.
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
ADJ = ("large", "hot", "blue", "old", "small", "red", "shiny", "green")
NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw")
BASE_DAY = np.datetime64("1995-01-01", "us")
EVENT_T0 = np.datetime64("2024-01-01", "us")


@dataclass(frozen=True)
class Sizes:
    """Row counts: ``sf`` scales the star schema and events like the
    catalog's sf dirs; the corpus sizes are independent."""

    sf: float
    docs: int
    vecs: int


# Input sizes per workload (the selftest substitutes sf0.001 sizes).
SIZES = {
    "etl_relational": Sizes(sf=0.01, docs=500, vecs=500),
    "lakehouse_dml": Sizes(sf=0.0, docs=1000, vecs=0),  # documents pool only
    "llm_curation": Sizes(sf=0.01, docs=1000, vecs=500),
}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(sf: float) -> dict[str, pa.Table]:
    """region .. lineitem plus events at scale ``sf`` (sf0.1 = 600k
    lineitems), from the fixed content seed."""
    rng = np.random.default_rng([CONTENT_SEED, int(sf * 1e6)])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": BASE_DAY + rng.integers(0, 2405, n_ord).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": BASE_DAY
        + (1 + rng.integers(0, 2499, n_li)).astype("timedelta64[D]"),
    })
    # events: 30 days of arrivals in time order, microsecond timestamps
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(EVENT_T0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), i64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def corpus_texts(n_docs: int) -> list[str]:
    """Documents of 10-100 words from a 30-word vocabulary; 5% are an
    earlier document plus the token ``dup`` and a few are exact copies,
    matching the catalog corpus' near-duplicate structure."""
    rng = np.random.default_rng([CONTENT_SEED, n_docs, 1])
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 101)))
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + 1 + int(rng.integers(0, n_docs - 1))) % n_docs] + " dup"
    for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False):
        texts[(i + 7) % n_docs] = texts[i]
    return texts


def documents_table(n_docs: int) -> pa.Table:
    rng = np.random.default_rng([CONTENT_SEED, n_docs, 2])
    texts = corpus_texts(n_docs)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def embeddings_table(n_vecs: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng([CONTENT_SEED, n_vecs, 3])
    v = rng.standard_normal((n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })


def near_dup_replica(docs: pa.Table, emb: pa.Table, rng) -> tuple[pa.Table, pa.Table]:
    """Two replicas of the corpus, ids remapped to ``id*2+r``. Replica 1
    drops one token from about half its texts and adds ~1e-3 noise to
    its vectors (re-normalised), so replicas are near duplicates."""
    d = docs.to_pydict()
    out = {k: [] for k in d}
    for r in (0, 1):
        for i, text in enumerate(d["text"]):
            words = text.split(" ")
            if r and len(words) > 10 and rng.random() < 0.5:
                del words[int(rng.integers(0, len(words)))]
            text = " ".join(words)
            out["doc_id"].append(d["doc_id"][i] * 2 + r)
            out["text"].append(text)
            out["lang"].append(d["lang"][i])
            out["source"].append(d["source"][i])
            out["n_chars"].append(len(text))
    docs2 = pa.table(out, schema=docs.schema)
    v = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    noisy = v + rng.normal(0.0, 1e-3, v.shape)
    noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
    ids = emb.column("vec_id").to_numpy()
    emb2 = pa.table({
        "vec_id": pa.array(np.concatenate([ids * 2, ids * 2 + 1]), pa.int64()),
        "embedding": pa.array(
            list(np.concatenate([v, noisy]).astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.concat_arrays([emb.column("label").combine_chunks()] * 2),
    })
    return docs2, emb2


def _permute(t: pa.Table, rng) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def _write(tables: dict[str, pa.Table], out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        manifest[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return manifest


def generate(workload: str, seed: int, out_dir: str, sizes: Sizes | None = None) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir`` (at
    ``SIZES[workload]`` unless given); returns {table: {rows, bytes}}."""
    sizes = sizes or SIZES[workload]
    rng = np.random.default_rng([seed, 7])
    docs = documents_table(sizes.docs)
    if workload == "lakehouse_dml":
        # the pool the verb plan draws rows from, by position
        return _write({"documents": _permute(docs, rng)}, out_dir)
    tables = star_tables(sizes.sf)
    emb = embeddings_table(sizes.vecs)
    if workload == "etl_relational":
        tables["documents"], tables["embeddings"] = docs, emb
        tables = {k: _permute(t, rng) for k, t in tables.items()}
    elif workload == "llm_curation":
        docs2, emb2 = near_dup_replica(docs, emb, rng)
        tables["documents"], tables["embeddings"] = _permute(docs2, rng), _permute(emb2, rng)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return _write(tables, out_dir)


# As many tables as the versioned file-list cache holds (8); every pass
# creates one more, so passes always rotate over more than it holds.
N_PROLOGUE_TABLES = 8


def lakehouse_prologue(n_docs: int) -> list[dict]:
    """The tables that exist before the first pass: one ``create`` each,
    rows ``[t*per, t*per + per/2)`` of the documents pool."""
    per = n_docs // (N_PROLOGUE_TABLES + 1)
    return [
        {"verb": "create", "table": t, "lo": t * per, "hi": t * per + per // 2}
        for t in range(N_PROLOGUE_TABLES)
    ]


def lakehouse_pass(seed: int, pass_idx: int, n_docs: int) -> list[dict]:
    """One pass of ``lakehouse_dml``: 14 verb steps over the live
    hive-partitioned (by ``lang``) document tables. Pass ``p`` creates
    table ``N_PROLOGUE_TABLES + p``, so passes rotate over ever more
    tables than the file-list cache holds. The verb counts are fixed;
    the seed and pass index pick tables, rows, predicates, partitions
    and the interleaving. Appended and merged-in rows get fresh
    ``doc_id``s (pool id + ``id_base``) so keys stay unique per table;
    each time-travel read follows an append to its table and reads the
    version before it."""
    rng = np.random.default_rng([seed, pass_idx, 11])
    per = n_docs // (N_PROLOGUE_TABLES + 1)
    new_t = N_PROLOGUE_TABLES + pass_idx
    live = new_t  # tables 0 .. new_t-1 exist when the pass starts
    perm = rng.permutation(live)
    tables = [int(perm[k % live]) for k in range(12)]  # every live table, then wrap
    base = (pass_idx * 16 + 1) * 1_000_000

    def rows(k):
        lo = int(rng.integers(0, n_docs - 8))
        return {"lo": lo, "hi": lo + 6, "id_base": base + k * 1_000_000}

    groups = [[{"verb": "create", "table": new_t, "lo": n_docs - per, "hi": n_docs - per // 2}]]
    for k, t in enumerate(tables[:3]):
        groups.append([{"verb": "append", "table": t, **rows(k)}])
    t = tables[3]
    groups.append([
        {"verb": "append", "table": t, **rows(3)},
        {"verb": "read", "table": t, "kind": "time_travel"},
    ])
    for verb, t in (("delete", tables[4]), ("update", tables[5])):
        m = int(rng.integers(5, 9))
        step = {"verb": verb, "table": t, "condition": f"doc_id % {m} = {int(rng.integers(0, m))}"}
        if verb == "update":
            step["set"] = {"n_chars": "n_chars + 1", "source": "'edited'"}
        groups.append([step])
    t = tables[6]
    lo = (t % N_PROLOGUE_TABLES) * per + int(rng.integers(0, per // 2 - 4))
    groups.append([{"verb": "merge", "table": t, "lo": lo, "hi": lo + 4,
                    "new_lo": int(rng.integers(0, n_docs - 2)), "id_base": base + 8_000_000}])
    for t in tables[7:10]:
        groups.append([{"verb": "read", "table": t, "kind": "latest"}])
    groups.append([{"verb": "read", "table": tables[10], "kind": "partition",
                    "lang": str(rng.choice(LANGS))}])
    steps = [s for i in rng.permutation(len(groups)) for s in groups[i]]
    t = tables[11]
    return steps + [{"verb": "optimize", "table": t}, {"verb": "vacuum", "table": t}]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))


if __name__ == "__main__":
    main()
