"""Seeded input generator for the graft benchmark.

Writes the ten tables the queries read (TPC-H-ish star schema, an events
stream table, a documents corpus and an embeddings table) as parquet,
with the column names, types and value domains of the graft test data.
The same (seed, sizes) always gives byte-identical tables; nothing is
read from outside the output directory.

The documents corpus plants near-duplicates: a DUP_SHARE fraction of
the documents is an earlier document's text plus one appended token, so
the dedup family has real work on every seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so cached oracle answers expire.
VERSION = 1

WORDS = ('spark window merge table column vector stream value data small '
         'join filter big group hash customer sort order slow line part '
         'fast row the agg key query a scan batch').split()
SEGMENTS = ['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING', 'FURNITURE']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
PART_ADJ = ['red', 'small', 'hot', 'cold', 'old', 'new', 'large', 'blue']
PART_NOUN = ['gear', 'gizmo', 'widget', 'ring', 'plate', 'anvil', 'bolt', 'rod']
PART_TYPES = ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO']
EVENT_TYPES = ['signup', 'click', 'error', 'view', 'purchase']
LANGS = ['en', 'zh', 'de', 'fr', 'es']
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000

# Row counts: the star schema and events at sf0.01 size (supplier keeps
# its sf0.1 size), the documents/embeddings corpus at sf0.1 size.
BASE_ROWS = {'customer': 1500, 'supplier': 1000, 'part': 2000,
             'orders': 15000, 'lineitem': 60000, 'events': 10000,
             'documents': 5000, 'embeddings': 2000}
CORPUS_TABLES = ('documents', 'embeddings')
# Share of the documents planted as near-duplicates.
DUP_SHARE = 0.05


def _us(y, m, d):
    return int(np.datetime64(f'{y:04d}-{m:02d}-{d:02d}', 'us').astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values):
    return pa.array(values, type=pa.timestamp('us'))


def _choice(rng, items, n, p=None):
    return pa.array(np.asarray(items, dtype=object)[rng.choice(len(items), n, p=p)].tolist(),
                    type=pa.string())


def star_schema(rng, rows):
    nc, ns, np_, no, nl = (rows[t] for t in
                           ('customer', 'supplier', 'part', 'orders', 'lineitem'))
    out = {}
    out['region'] = pa.table({
        'r_regionkey': pa.array(range(5), pa.int32()),
        'r_name': ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']})
    out['nation'] = pa.table({
        'n_nationkey': pa.array(range(25), pa.int32()),
        'n_name': [f'NATION_{i}' for i in range(25)],
        'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    out['customer'] = pa.table({
        'c_custkey': pa.array(np.arange(nc), pa.int64()),
        'c_name': [f'Customer#{i:09d}' for i in range(nc)],
        'c_nationkey': pa.array(rng.integers(0, 25, nc), pa.int32()),
        'c_acctbal': _money(rng, -999.99, 9999.99, nc),
        'c_mktsegment': _choice(rng, SEGMENTS, nc)})
    out['supplier'] = pa.table({
        's_suppkey': pa.array(np.arange(ns), pa.int64()),
        's_name': [f'Supplier#{i:09d}' for i in range(ns)],
        's_nationkey': pa.array(rng.integers(0, 25, ns), pa.int32()),
        's_acctbal': _money(rng, -999.99, 9999.99, ns)})
    adj = rng.integers(0, len(PART_ADJ), np_)
    noun = rng.integers(0, len(PART_NOUN), np_)
    out['part'] = pa.table({
        'p_partkey': pa.array(np.arange(np_), pa.int64()),
        'p_name': [f'{PART_ADJ[a]} {PART_NOUN[b]}' for a, b in zip(adj, noun)],
        'p_brand': [f'Brand#{i}' for i in rng.integers(1, 26, np_)],
        'p_type': _choice(rng, PART_TYPES, np_),
        'p_size': pa.array(rng.integers(1, 51, np_), pa.int32()),
        'p_retailprice': np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)})
    d0, d1 = _us(1995, 1, 1), _us(2001, 8, 1)
    out['orders'] = pa.table({
        'o_orderkey': pa.array(np.arange(no), pa.int64()),
        'o_custkey': pa.array(rng.integers(0, nc, no), pa.int64()),
        'o_orderstatus': _choice(rng, ['O', 'F', 'P'], no),
        'o_totalprice': _money(rng, 1000.0, 500000.0, no),
        'o_orderdate': _ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, no) * DAY_US),
        'o_orderpriority': _choice(rng, PRIORITIES, no)})
    s0 = _us(1995, 1, 2)
    out['lineitem'] = pa.table({
        'l_orderkey': pa.array(rng.integers(0, no, nl), pa.int64()),
        'l_partkey': pa.array(rng.integers(0, np_, nl), pa.int64()),
        'l_suppkey': pa.array(rng.integers(0, ns, nl), pa.int64()),
        'l_linenumber': pa.array(rng.integers(1, 8, nl), pa.int32()),
        'l_quantity': rng.integers(1, 51, nl).astype(np.float64),
        'l_extendedprice': _money(rng, 900.0, 105000.0, nl),
        'l_discount': rng.integers(0, 11, nl) / 100.0,
        'l_tax': rng.integers(0, 9, nl) / 100.0,
        'l_returnflag': _choice(rng, ['A', 'N', 'R'], nl),
        'l_linestatus': _choice(rng, ['O', 'F'], nl),
        'l_shipdate': _ts(s0 + rng.integers(0, 2499, nl) * DAY_US)})
    return out


def events(rng, n):
    t0 = _us(2024, 1, 1)
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        'event_id': pa.array(np.arange(n), pa.int64()),
        'ts': _ts(ts),
        'user_id': pa.array(rng.integers(0, 1500, n), pa.int64()),
        'event_type': _choice(rng, EVENT_TYPES, n),
        'value': np.round(rng.exponential(50.0, n), 2),
        'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n):
    """Random-token documents; DUP_SHARE of them are near-twins (an
    earlier document plus a trailing ' dup' token)."""
    lengths = rng.integers(8, 96, n)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [' '.join(vocab[rng.integers(0, len(WORDS), k)]) for k in lengths]
    n_dup = int(round(n * DUP_SHARE))
    dup_ids = np.sort(rng.choice(np.arange(1, n), n_dup, replace=False))
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, i))] + ' dup'
    ids = np.arange(n)
    return pa.table({
        'doc_id': pa.array(ids, pa.int64()),
        'text': texts,
        'lang': _choice(rng, LANGS, n, LANG_P),
        'source': [f'src{i % 20}' for i in ids],
        'n_chars': pa.array([len(t) for t in texts], pa.int64())}), n_dup


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        'vec_id': pa.array(np.arange(n), pa.int64()),
        'embedding': pa.array(list(x), pa.list_(pa.float32())),
        'label': pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(out_dir, seed, corpus):
    """Write every table under `out_dir`; returns {table: {rows, bytes}}
    plus the planted near-duplicate share of `documents`.

    `corpus` multiplies the documents and embeddings (the curation
    corpus)."""
    rng = np.random.default_rng(seed)
    rows = {t: max(1, int(round(n * (corpus if t in CORPUS_TABLES else 1))))
            for t, n in BASE_ROWS.items()}
    tables = star_schema(rng, rows)
    tables['events'] = events(rng, rows['events'])
    tables['documents'], n_dup = documents(rng, rows['documents'])
    tables['embeddings'] = embeddings(rng, rows['embeddings'])
    os.makedirs(out_dir, exist_ok=True)
    record = {}
    for name, t in tables.items():
        if t.num_rows == 0:
            raise SystemExit(f'generator produced an empty table: {name}')
        path = os.path.join(out_dir, f'{name}.parquet')
        pq.write_table(t, path)
        record[name] = {'rows': t.num_rows, 'bytes': os.path.getsize(path)}
    record['documents']['near_dup_share'] = n_dup / rows['documents']
    return record
