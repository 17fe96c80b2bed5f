"""Seeded input generator for the benchmark.

Writes the ten catalog tables (FIXTURES.md schemas and value domains) as
parquet files into one directory. Everything is a function of the seed:
equal seeds give byte-equal files, so the content hash
returned by :func:`generate` identifies the inputs of a run.

What the seed changes:

- key offsets (``o_orderkey``, ``event_id``) and the row order of every
  fact table and of both corpora;
- every value, including which documents and embeddings are mutated
  near-duplicates of another row (a fixed share, so that the amount of
  dedup and ANN work does not swing with the seed).

Row counts and the near-duplicate share are fixed, so two seeds
cost the program the same amount of work. Each file is written with at
least ``row_groups`` row groups, so scans can split it across cores.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts. The star tables have the sf0.01 shape of the fixture corpus,
#: the corpora 300 rows each. The oracles that pair documents or embeddings
#: grow quadratically and run once per seed: on 4 vCPUs with DuckDB on two
#: threads, all nine take ~9 s at these counts, while at the sf0.1 counts
#: (5,000 documents, 2,000 embeddings) q_dedup_cc's oracle alone takes
#: 636 s, past the 180 s a run may last.
SIZES: dict[str, int] = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lines_per_order": 4, "events": 10_000, "documents": 300, "embeddings": 300,
}

#: Share of documents / embeddings that are mutated copies of another row.
NEAR_DUP_SHARE = 0.15
#: Share of documents that are exact copies (whitespace-identical).
EXACT_DUP_SHARE = 0.01

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "hot", "large", "green", "red", "small", "shiny", "dark")
P_NOUN = ("ring", "bolt", "nut", "screw", "gear", "plate", "pipe", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _days(start: str) -> int:
    return (dt.datetime.fromisoformat(start) - _EPOCH).days


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_c, n_s, n_p, n_o = SIZES["customer"], SIZES["supplier"], SIZES["part"], SIZES["orders"]
    ckeys = np.arange(n_c, dtype=np.int64)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": ckeys,
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_c),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, n_s, -999.99, 9999.99),
    })
    adj = np.asarray(P_ADJ, dtype=object)[rng.integers(0, len(P_ADJ), n_p)]
    noun = np.asarray(P_NOUN, dtype=object)[rng.integers(0, len(P_NOUN), n_p)]
    retail = np.round(900.0 + (np.arange(n_p) % 2000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)], pa.string()),
        "p_type": _pick(rng, P_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": retail,
    })

    # ~9% of customers place no order, so anti joins have results.
    buyers = rng.permutation(ckeys)[: int(n_c * 0.91)]
    okey = int(rng.integers(0, 1_000_000)) + np.arange(n_o, dtype=np.int64)
    odays = rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, n_o)
    t["orders"] = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.choice(buyers, n_o),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_o, p=(0.49, 0.49, 0.02)),
        "o_totalprice": _money(rng, n_o, 900.0, 500_000.0),
        "o_orderdate": pa.array(odays * 86_400_000, pa.timestamp("ms")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_o),
    })
    k = SIZES["lines_per_order"]
    n_l = n_o * k
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    pkey = rng.integers(0, n_p, n_l)
    ship = np.repeat(odays, k) + rng.integers(1, 122, n_l)
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(okey, k),
        "l_partkey": pkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": pa.array(np.tile(np.arange(1, k + 1), n_o), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_l),
        "l_linestatus": _pick(rng, ("F", "O"), n_l),
        "l_shipdate": pa.array(ship * 86_400_000, pa.timestamp("ms")),
    })

    n_e = SIZES["events"]
    t0 = _days("2024-01-01") * 86_400 * 10**9
    span = 30 * 86_400 * 10**9
    ts = np.sort(t0 + rng.integers(0, span, n_e))
    t["events"] = pa.table({
        "event_id": int(rng.integers(0, 1_000_000)) + np.arange(n_e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_c, n_e).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_e),
        "value": _money(rng, n_e, 0.0, 200.0),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_e)], pa.string()),
    })
    return t


def _sources(rng: np.random.Generator, n: int, near_share: float) -> np.ndarray:
    """Row index each row copies from (-1 = an original row). The first
    ``n - round(n * near_share)`` rows of the pre-shuffle order are
    originals; every later row copies one of them."""
    n_copy = int(round(n * near_share))
    src = np.full(n, -1, dtype=np.int64)
    src[n - n_copy:] = rng.integers(0, n - n_copy, n_copy)
    return src


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_exact = int(round(n * EXACT_DUP_SHARE))
    src = _sources(rng, n, NEAR_DUP_SHARE + EXACT_DUP_SHARE)
    lang_idx = rng.choice(len(LANGS), size=n, p=LANG_P)
    texts: list[str] = []
    for i in range(n):
        if src[i] < 0:
            words = list(rng.choice(WORDS, size=int(rng.integers(8, 101))))
        else:
            lang_idx[i] = lang_idx[src[i]]
            words = texts[src[i]].split(" ")
            if i < n - n_exact:
                # near-duplicate: rewrite 2-20% of the words (shingle
                # Jaccard ~0.35-0.9 to the original) and drop one
                rate = rng.uniform(0.02, 0.2)
                for j in np.flatnonzero(rng.random(len(words)) < rate):
                    words[j] = str(rng.choice(WORDS))
                del words[int(rng.integers(0, len(words)))]
        texts.append(" ".join(words))
    # doc_id stays dense from 0 (queries key eval splits and planted
    # residue classes on it); which original gets which id is seeded
    ids = rng.permutation(n)
    order = rng.permutation(n)
    text = np.asarray(texts, dtype=object)[order]
    return pa.table({
        "doc_id": ids[order].astype(np.int64),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[lang_idx[order]], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids[order]], pa.string()),
        "n_chars": np.fromiter((len(s) for s in text), np.int64, n),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    src = _sources(rng, n, NEAR_DUP_SHARE)
    labels = rng.integers(0, 10, n)
    # isotropic like the fixture corpus: random pairs sit far below the
    # dedup cosine threshold, so only the planted copies form components
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    for i in np.flatnonzero(src >= 0):
        labels[i] = labels[src[i]]
        vecs[i] = vecs[src[i]] + rng.normal(0.0, 0.08, EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = rng.permutation(n)
    order = rng.permutation(n)
    flat = vecs[order].astype(np.float32).reshape(-1)
    return pa.table({
        "vec_id": ids[order].astype(np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32), pa.array(flat, pa.float32())
        ),
        "label": pa.array(labels[order], pa.int32()),
    })


def build_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` (in memory)."""
    rng = np.random.default_rng(seed)
    tables = _star(rng)
    # fact-table row order is seeded too (keys stay as generated)
    for name in ("orders", "lineitem", "events"):
        tables[name] = tables[name].take(rng.permutation(tables[name].num_rows))
    tables["documents"] = _documents(rng, SIZES["documents"])
    tables["embeddings"] = _embeddings(rng, SIZES["embeddings"])
    return tables


def generate(out_dir: Path, seed: int, row_groups: int) -> str:
    """Write every table to ``out_dir/<name>.parquet`` with at least
    ``row_groups`` row groups each; return the sha256 (hex, 16 chars) of
    the file bytes in table-name order."""
    out_dir.mkdir(parents=True, exist_ok=True)
    digest = hashlib.sha256()
    for name, table in sorted(build_tables(seed).items()):
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path, row_group_size=max(1, table.num_rows // row_groups))
        digest.update(name.encode())
        digest.update(path.read_bytes())
    return digest.hexdigest()[:16]
