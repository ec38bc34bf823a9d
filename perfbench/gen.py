"""Seeded input generators for the medallion benchmark.

Everything here is a pure function of (seed, scale): the same arguments
give byte-identical parquet files, which `python3 perfbench/gen.py
--self-test` checks. The tables follow the schemas the program reads
(region nation customer supplier part orders lineitem events documents
embeddings), one parquet file and one row group each.

Two products, written by perfbench/run.py:
  * `write_source`: a clean source dir, optionally dirtied (about 0.3% of
    the star-table rows made invalid, plus exact duplicate natural keys).
  * `write_deltas`: a stream of lineitem deltas against a clean source.
    Each delta holds valid updates, rows under new line numbers, and
    rows turned invalid (negative quantity).
"""
import argparse
import hashlib
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "hot", "small", "large", "red", "blue", "old", "new"]
PART_NOUN = ["widget", "bolt", "plate", "ring", "rod", "gizmo", "gear", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "fr", "es", "zh", "de"]
WORDS = ("a the join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window spark part "
         "group big sort query fast").split()
EMB_DIM = 64
N_LABELS = 10

# order dates span 1995-01-01 .. 2001-08-01, ship dates 1995-01-02 .. 2001-11-04
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404
SHIP_DAYS = 2498
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6

# every key a delta invents sits above the source's line numbers (1..7)
NEW_LINE_BASE = 100


def sizes(sf):
    """Row counts per table at scale factor `sf` (TPC-H ratios)."""
    return {
        "customer": max(20, int(150000 * sf)),
        "supplier": max(10, int(10000 * sf)),
        "part": max(40, int(200000 * sf)),
        "orders": max(100, int(1500000 * sf)),
        "events": max(200, int(1000000 * sf)),
        "documents": max(300, int(50000 * sf)),
        "embeddings": max(300, int(20000 * sf)),
        "users": max(10, int(15000 * sf)),
    }


def _days(base, offsets):
    return (base + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def clean_tables(seed, sf):
    """The clean source as a dict of name -> pyarrow Table."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, no)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(ORDER_DAY0 + 1, rng.integers(0, SHIP_DAYS, nl))})
    ne = n["events"]
    ts = EVENT_T0 + rng.integers(0, EVENT_SPAN_US, ne).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 330.0, ne),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, nv)
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 1.0, (nv, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def _set(table, name, idx, values):
    col = table.column(name).to_pylist()
    for i, v in zip(idx, values):
        col[i] = v
    return table.set_column(table.schema.get_field_index(name),
                            table.schema.field(name), pa.array(col, table.schema.field(name).type))


def dirty(tables, seed, share=0.003):
    """Invalidate about `share` of the star-table rows and append exact
    duplicates of another `share`, in place of the clean tables. Every
    invalid value is one the silver layer rejects: NULL or sentinel
    names, NULL order dates, negative prices, negative quantities. Zero
    quantities are left out: silver's supply-order price divides by the
    quantity and fails on zero (see perfbench/README.md)."""
    rng = np.random.default_rng([seed, 1])
    out = dict(tables)

    def pick(n):
        return rng.choice(n, max(1, int(round(n * share))), replace=False)

    for name, col, bad in [("supplier", "s_name", lambda k: "N/A"),
                           ("part", "p_name", lambda k: None),
                           ("customer", "c_name", lambda k: "  ")]:
        t = out[name]
        idx = pick(t.num_rows)
        out[name] = _set(t, col, idx, [bad(i) for i in idx])
    o = out["orders"]
    idx = pick(o.num_rows)
    half = len(idx) // 2
    o = _set(o, "o_orderdate", idx[:half], [None] * half)
    o = _set(o, "o_totalprice", idx[half:], [-1.0] * (len(idx) - half))
    out["orders"] = o
    li = out["lineitem"]
    idx = pick(li.num_rows)
    out["lineitem"] = _set(li, "l_quantity", idx, [-1.0] * len(idx))
    for name in ["customer", "supplier", "part", "orders", "lineitem"]:
        t = out[name]
        out[name] = pa.concat_tables([t, t.take(pick(t.num_rows))])
    return out


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))


def write_source(seed, sf, out_dir, dirty_rows=False):
    t = clean_tables(seed, sf)
    write_tables(dirty(t, seed) if dirty_rows else t, out_dir)


def deltas(seed, sf, count, share=0.001):
    """`count` lineitem deltas against `clean_tables(seed, sf)`. Each has
    about `share` of the rows (at least 3) split over three cases: a
    valid quantity update of an existing key, a row under a line number
    the source never uses, and an existing key turned invalid."""
    li = clean_tables(seed, sf)["lineitem"]
    n = li.num_rows
    per = max(3, int(round(n * share)))
    out = []
    for d in range(count):
        rng = np.random.default_rng([seed, 2, d])
        idx = rng.choice(n, per, replace=False)
        kinds = np.arange(per) % 3
        rows = li.take(idx).to_pylist()
        for r, k in zip(rows, kinds):
            if k == 0:
                r["l_quantity"] = float(rng.integers(1, 51))
            elif k == 1:
                r["l_linenumber"] = NEW_LINE_BASE + d
                r["l_quantity"] = float(rng.integers(1, 51))
            else:
                r["l_quantity"] = -1.0
        out.append(pa.Table.from_pylist(rows, schema=li.schema))
    return out


def write_deltas(seed, sf, count, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for i, t in enumerate(deltas(seed, sf, count)):
        pq.write_table(t, os.path.join(out_dir, f"delta_{i:03d}.parquet"))


def _digest(path):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def self_test():
    """Same seed gives the same bytes; another seed gives other bytes."""
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as tmp:
        def build(tag, seed):
            d = os.path.join(tmp, tag)
            write_source(seed, 0.001, os.path.join(d, "src"), dirty_rows=True)
            write_deltas(seed, 0.001, 3, os.path.join(d, "deltas"))
            return _digest(d)
        a, b, c = build("a", 7), build("b", 7), build("c", 8)
        assert a == b, "same seed gave different bytes"
        assert a != c, "different seeds gave the same bytes"
        t = clean_tables(7, 0.001)
        dt = dirty(t, 7)
        assert dt["lineitem"].num_rows > t["lineitem"].num_rows
        d0 = deltas(7, 0.001, 1)[0].to_pylist()
        assert any(r["l_quantity"] <= 0 for r in d0)
        assert any(r["l_linenumber"] >= NEW_LINE_BASE for r in d0)
        assert any(r["l_quantity"] > 0 and r["l_linenumber"] < NEW_LINE_BASE for r in d0)
    print("gen self-test ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--self-test", action="store_true", required=True)
    ap.parse_args()
    self_test()


if __name__ == "__main__":
    sys.exit(main())
