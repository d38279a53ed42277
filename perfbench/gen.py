"""Seeded input generator for the graft benchmark.

Everything the program reads during a benchmark run comes from here. The
tables follow the schemas and value distributions of graft's parquet
fixtures (a TPC-H-like star schema plus `events`, `documents` and
`embeddings`), so every registry query runs unchanged on them; the seed
decides every value and the row order. Same seed, same bytes.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "green", "hot", "red", "shiny", "small", "tall"]
THINGS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# row counts at scale factor 1; a staged set scales them linearly
ROWS_AT_SF1 = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000,
               "events": 1_000_000, "documents": 50_000, "embeddings": 20_000}


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n):
    """The event pool: dense ids from 0, ts ascending over 30 days."""
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def resample_events(rng, pool, n, first_id):
    """`n` pool rows drawn with replacement, given fresh dense ids from
    `first_id`: the id-keyed dirty-input classes (DLQ, required-field drop)
    land on different rows for every seed, while values stay in the pool's
    range so the pool-derived threshold dim covers them."""
    idx = np.sort(rng.integers(0, pool.num_rows, n))
    t = pool.take(pa.array(idx))
    return t.set_column(0, "event_id",
                        pa.array(np.arange(first_id, first_id + n, dtype=np.int64)))


def documents_table(rng, n):
    texts = []
    for i in range(n):
        # one in twenty is a near-duplicate of an earlier document
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def star_tables(rng, sf):
    rows = {k: max(1, int(v * sf)) for k, v in ROWS_AT_SF1.items()}
    nc, ns, npart, no, nl = (rows[k] for k in
                             ("customer", "supplier", "part", "orders", "lineitem"))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    names = np.array([f"{c} {s}" for c in COLORS for s in THINGS])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), npart)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * US_PER_DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)])})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, nl)) * US_PER_DAY)})
    t["events"] = events_table(rng, rows["events"])
    t["documents"] = documents_table(rng, rows["documents"])
    t["embeddings"] = embeddings_table(rng, rows["embeddings"])
    return t


def permuted(rng, table):
    """Row-permuted copy: same multiset of rows, seed-chosen order."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def stage_tables(seed, out_dir, sf):
    """Write one `<name>.parquet` per table (single row group, like the
    fixtures) with every table row-permuted by the seed."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in star_tables(rng, sf).items():
        pq.write_table(permuted(rng, table), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows + 1)
        rows += table.num_rows
    return rows


def event_pool(seed, n):
    return events_table(np.random.default_rng([seed, 2]), n)


def write_events(table, path):
    """Write a stream file by atomic rename, so a file source never lists a
    half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def stream_files(seed, pool, n_files, rows_per_file, stream):
    """Resampled files for one named stream, each a table of
    `rows_per_file` pool rows with fresh ids; the id base moves with the
    seed and the stream name."""
    rng = np.random.default_rng([seed, 3, zlib.crc32(stream.encode())])
    base = int(rng.integers(0, 1_000_000))
    return [resample_events(rng, pool, rows_per_file, base + i * rows_per_file)
            for i in range(n_files)]

