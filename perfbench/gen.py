"""Seeded input generation for the benchmark workloads.

The tables follow the shape of the repository's synthetic test tables
(TESTDATA.md): a TPC-H-like star schema, an `events` stream, a
`documents` corpus over a small vocabulary with ~5 % near-duplicates
(a copy of another document plus " dup"), and unit-norm 64-d
`embeddings`. Each table is one parquet file, as the loaders in
`graft.sources.Tables` expect. The same seed always yields the same
files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
PART_ADJ = np.array("large hot blue old cold red small new".split())
PART_NOUN = np.array("ring bolt plate gear widget rod anvil gizmo".split())
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
US_PER_DAY = 86_400_000_000


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, lo: str, hi: str, n: int):
    lo_us = np.datetime64(lo, "us").astype(np.int64)
    span = (np.datetime64(hi, "us").astype(np.int64) - lo_us) // US_PER_DAY
    return pa.array(lo_us + rng.integers(0, span + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int) -> dict:
    """`n` documents: 10-100 vocabulary words each, ~5 % near-duplicates."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v),
            "label": rng.integers(0, 10, n).astype(np.int32)}


def _doc_table(d: dict) -> pa.Table:
    return pa.table({k: pa.array(v) for k, v in d.items()})


def _emb_table(e: dict) -> pa.Table:
    return pa.table({"vec_id": pa.array(e["vec_id"]),
                     "embedding": pa.array([x.tolist() for x in e["embedding"]],
                                           pa.list_(pa.float32())),
                     "label": pa.array(e["label"])})


def star_schema(seed: int, out_dir: str, sf: float = 0.1) -> None:
    """All ten tables at scale factor `sf` (0.1 = 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), out_dir, "region")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           out_dir, "nation")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}), out_dir, "customer")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}), out_dir, "supplier")
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(PART_ADJ[rng.integers(0, 8, n_part)], " "),
                              PART_NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        out_dir, "part")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}), out_dir, "orders")
    # each part has four suppliers, chosen by TPC-H's partsupp rule, so
    # the part-supplier graph has its 4 x |part| edges
    l_part = rng.integers(0, n_part, n_line)
    l_supp = (l_part + rng.integers(0, 4, n_line) * (n_supp // 4 + l_part // n_supp)) % n_supp
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": l_part,
        "l_suppkey": l_supp,
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}), out_dir, "lineitem")
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = np.maximum(rng.exponential(26e6, n_ev).astype(np.int64), 1)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}), out_dir, "events")
    _write(_doc_table(documents(rng, int(50_000 * sf))), out_dir, "documents")
    _write(_emb_table(embeddings(rng, int(20_000 * sf))), out_dir, "embeddings")


def amplified_corpus(seed: int, out_dir: str, copies: int = 4) -> dict:
    """`copies` rotated copies of a 5,000-document / 2,000-vector base.

    Copy k rotates each document's words (and each vector) left by a
    seed-chosen offset, so shingles and n-grams are new content while
    lengths and vocabulary stay, as `ProfileScaleUp.amplify` builds
    its corpora; ids are offset by k * 10,000,000. Returns the
    seed-chosen parameters.
    """
    rng = np.random.default_rng([seed, 2])
    docs, embs = documents(rng, 5000), embeddings(rng, 2000)
    rots = [0] + sorted(rng.choice(np.arange(1, 10), copies - 1, replace=False).tolist())
    d_cols = {k: [] for k in docs}
    e_cols = {k: [] for k in embs}
    for k, r in enumerate(rots):
        off = k * 10_000_000
        texts = []
        for t in docs["text"]:
            w = t.split(" ")
            texts.append(" ".join(w[r:] + w[:r]) if len(w) > r else t)
        d_cols["doc_id"].append(docs["doc_id"] + off)
        d_cols["text"].extend(texts)
        d_cols["lang"].append(docs["lang"])
        d_cols["source"].append(docs["source"])
        d_cols["n_chars"].append(docs["n_chars"])
        e_cols["vec_id"].append(embs["vec_id"] + off)
        e_cols["embedding"].extend(np.roll(v, -r) for v in embs["embedding"])
        e_cols["label"].append(embs["label"])
    for cols in (d_cols, e_cols):
        for k, v in cols.items():
            if k not in ("text", "embedding"):
                cols[k] = np.concatenate(v)
    _write(_doc_table(d_cols), out_dir, "documents")
    _write(_emb_table(e_cols), out_dir, "embeddings")
    return {"rotations": rots}
