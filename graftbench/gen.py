"""Seeded input generation for the three workloads.

Every input the engine sees is made here from the workload seed, with
numpy's PCG64 generator and pyarrow's parquet writer at fixed settings,
so one seed always gives byte-identical files. Nothing is read from
outside the output directory.

Layout written under ``out``:

* ``sf/<table>.parquet`` -- a scale-factor directory in the testdata
  layout. ``documents`` is the curation corpus (``curate_docs``), the
  other nine tables are small stubs that exist so the oracle checker
  can register every view it expects.
* ``landing/part-NNNNN.parquet`` -- the dirty book scrape, one file per
  page batch (``etl_books``).
* ``events.parquet``, ``merges/batch_NNNNN.parquet`` and
  ``stream.txt`` -- the lake table's events, one fresh update+insert
  batch per MERGE, and the seeded request stream, one request a line:
  ``lookup <k1,k2,...>``, ``scan`` or ``merge <batch>`` (``lake_mixed``).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. They are chosen so one request of each class
# completes many times inside a run of the benchmark's run_seconds on a
# 4-core host (see README.md).
ETL_FILES = 32
ETL_ROWS_PER_FILE = 1500
ETL_TITLES = 2500
ETL_AUTHORS = 211

DOC_BASE = 120
DOC_REPLICAS = 2

LAKE_EVENTS = 40000
LAKE_DAYS = 20
LAKE_USERS = 1500
LAKE_REQUESTS = 500
# the request classes repeat in this fixed cycle, so every window holds
# them in the same proportions; the seed draws each request's keys and
# batch
LAKE_CYCLE = ("lookup", "lookup", "merge", "lookup", "scan")
LAKE_LOOKUP_KEYS = 8
LAKE_MERGE_UPDATES = 160
LAKE_MERGE_INSERTS = 40

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
BOOK_TYPES = ["Hardcover", "Paperback", "Kindle"]
# word soup in the testdata's style, plus the stopwords and language
# markers the quality and language-id operators count
VOCAB = ("agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table value vector window the a of and der und die ist "
         "el los que es le la et est").split()
LANGS = ["en", "de", "es", "fr", "zh"]
# the long tail of a larger vocabulary; most 3-shingles of unrelated
# documents then differ, as in natural text
TAIL_WORDS = 800
TAIL_SHARE = 0.7

_EPOCH_2024_US = 1704067200 * 1_000_000
_DAY_US = 86400 * 1_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _rng(seed, stream):
    # one independent generator per input family: changing one family's
    # size never shifts another family's draws
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _cents(c):
    return f"{c // 100}.{c % 100:02d}"


def landing_zone(out, seed):
    """Raw books as a scrape lands them: all strings, dirty on purpose
    (padded titles, "4.5 out of 5 stars", "1,234" counts, unrated
    rows, duplicated titles across pages)."""
    rng = _rng(seed, 1)
    n = ETL_ROWS_PER_FILE
    for page in range(ETL_FILES):
        t = rng.integers(0, ETL_TITLES, n)
        flag = rng.integers(0, 3, n)
        lpad = rng.integers(0, 3, n)
        rpad = rng.integers(0, 3, n)
        author = rng.integers(0, ETL_AUTHORS, n)
        btype = rng.integers(0, 3, n)
        cents = rng.integers(100, 20000, n)
        whole = rng.random(n) < 0.1
        unrated = rng.random(n) < 0.14
        r1 = rng.integers(1, 5, n)
        r2 = rng.integers(0, 10, n)
        rc = rng.integers(0, 5000, n)
        rows = {
            "page": pa.array(np.full(n, page, dtype=np.int32)),
            "pos": pa.array(np.arange(n, dtype=np.int32)),
            "title": [" " * lpad[i] + f"B-{t[i]}-{'ANR'[flag[i]]}" + " " * rpad[i]
                      for i in range(n)],
            "author": [f"A-{a}" for a in author],
            "book_type": [BOOK_TYPES[b] for b in btype],
            "price": [str(cents[i] // 100) if whole[i] else _cents(cents[i])
                      for i in range(n)],
            "rating": ["not rated" if unrated[i] else f"{r1[i]}.{r2[i]} out of 5 stars"
                       for i in range(n)],
            "rating_count": [f"{c // 1000},{c % 1000:03d}" if c >= 1000 else str(c)
                             for c in rc],
        }
        # prices are whole cents in [1, 200), so 'NN' and 'NN.CC' are
        # both exact at two decimals
        _write(pa.table(rows), f"{out}/landing/part-{page:05d}.parquet")
    return ETL_FILES * n


def documents(seed):
    """Curation corpus: a base corpus with exact and near duplicates,
    scaled by salted replicas (replica r > 0 doc_ids are offset and
    every word becomes ``w_r<r>``, so replicas never pair with each
    other and the near-duplicate structure scales linearly)."""
    rng = _rng(seed, 2)
    base = []
    for i in range(DOC_BASE):
        u = rng.random()
        if i > 10 and u < 0.03:
            words = list(base[int(rng.integers(0, i))])       # exact copy
        elif i > 10 and u < 0.15:
            words = list(base[int(rng.integers(0, i))])       # near copy
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            n = int(rng.integers(25, 70))
            words = [f"w{k}" if tail else VOCAB[k % len(VOCAB)] for k, tail in
                     zip(rng.integers(0, TAIL_WORDS, n), rng.random(n) < TAIL_SHARE)]
        base.append(words)
    langs = rng.integers(0, len(LANGS), DOC_BASE)
    ids, texts, lang, source, nchars = [], [], [], [], []
    for r in range(DOC_REPLICAS):
        for i, words in enumerate(base):
            text = " ".join(words if r == 0 else [f"{w}_r{r}" for w in words])
            ids.append(r * DOC_BASE + i)
            texts.append(text)
            lang.append(LANGS[langs[i]])
            source.append(f"src{i % 20}")
            nchars.append(len(text))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": lang,
        "source": source, "n_chars": pa.array(nchars, pa.int64())})


def _stub_tables():
    """Tiny stand-ins for the testdata tables no workload reads."""
    ts = pa.array([_EPOCH_2024_US], pa.timestamp("us"))
    return {
        "region": pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]}),
        "nation": pa.table({"n_nationkey": pa.array([0], pa.int32()), "n_name": ["ALGERIA"],
                            "n_regionkey": pa.array([0], pa.int32())}),
        "customer": pa.table({"c_custkey": pa.array([1], pa.int64()), "c_name": ["c1"],
                              "c_nationkey": pa.array([0], pa.int32()), "c_acctbal": [1.0],
                              "c_mktsegment": ["AUTO"]}),
        "supplier": pa.table({"s_suppkey": pa.array([1], pa.int64()), "s_name": ["s1"],
                              "s_nationkey": pa.array([0], pa.int32()), "s_acctbal": [1.0]}),
        "part": pa.table({"p_partkey": pa.array([1], pa.int64()), "p_name": ["p1"],
                          "p_brand": ["b1"], "p_type": ["t1"], "p_size": pa.array([1], pa.int32()),
                          "p_retailprice": [1.0]}),
        "orders": pa.table({"o_orderkey": pa.array([1], pa.int64()), "o_custkey": pa.array([1], pa.int64()),
                            "o_orderstatus": ["O"], "o_totalprice": [1.0], "o_orderdate": ts,
                            "o_orderpriority": ["1-URGENT"]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array([1], pa.int64()), "l_partkey": pa.array([1], pa.int64()),
            "l_suppkey": pa.array([1], pa.int64()), "l_linenumber": pa.array([1], pa.int32()),
            "l_quantity": [1.0], "l_extendedprice": [1.0], "l_discount": [0.0], "l_tax": [0.0],
            "l_returnflag": ["N"], "l_linestatus": ["O"], "l_shipdate": ts}),
        "events": pa.table({"event_id": pa.array([0], pa.int64()), "ts": ts,
                            "user_id": pa.array([0], pa.int64()), "event_type": ["view"],
                            "value": [1.0], "props": ['{"k": 1}']}),
        "embeddings": pa.table({"vec_id": pa.array([0], pa.int64()),
                                "embedding": pa.array([[0.0, 1.0]], pa.list_(pa.float32())),
                                "label": pa.array([0], pa.int32())}),
    }


def sf_dir(out, seed):
    docs = documents(seed)
    _write(docs, f"{out}/sf/documents.parquet")
    for name, table in _stub_tables().items():
        _write(table, f"{out}/sf/{name}.parquet")
    return docs.num_rows


def _event_rows(rng, ids, days):
    n = len(ids)
    ts = _EPOCH_2024_US + days * _DAY_US + rng.integers(0, _DAY_US, n)
    return {
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, LAKE_USERS, n), pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), n)],
        # whole cents, so decimal sums are exact in both engines
        "value": pa.array(rng.integers(0, 100000, n) / 100.0, pa.float64()),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        "day": [f"2024-01-{d + 1:02d}" for d in days],
    }


def lake(out, seed):
    """Events table, request stream and one MERGE batch per merge
    request. Updates keep the row's day (so its partition), inserts
    take fresh ids; every batch has distinct keys."""
    rng = _rng(seed, 3)
    days = np.sort(rng.integers(0, LAKE_DAYS, LAKE_EVENTS))
    _write(pa.table(_event_rows(rng, np.arange(LAKE_EVENTS), days)),
           f"{out}/events.parquet")
    day_of = list(days)           # day of every id ever written
    stream = []
    merges = 0
    for i in range(LAKE_REQUESTS):
        c = LAKE_CYCLE[i % len(LAKE_CYCLE)]
        if c == "lookup":
            # six live keys and two that were never written
            hit = rng.choice(len(day_of), LAKE_LOOKUP_KEYS - 2, replace=False)
            miss = len(day_of) + 10_000_000 + rng.choice(1000, 2, replace=False)
            keys = sorted({int(k) for k in np.concatenate([hit, miss])})
            stream.append(f"lookup {','.join(map(str, keys))}")
        elif c == "scan":
            stream.append("scan")
        else:
            upd = rng.choice(len(day_of), LAKE_MERGE_UPDATES, replace=False)
            new = np.arange(len(day_of), len(day_of) + LAKE_MERGE_INSERTS)
            new_days = rng.integers(0, LAKE_DAYS, LAKE_MERGE_INSERTS)
            ids = np.concatenate([upd, new])
            ddays = np.concatenate([np.array([day_of[k] for k in upd]), new_days])
            _write(pa.table(_event_rows(rng, ids, ddays)),
                   f"{out}/merges/batch_{merges:05d}.parquet")
            day_of.extend(int(d) for d in new_days)
            stream.append(f"merge {merges}")
            merges += 1
    with open(f"{out}/stream.txt", "w") as f:
        f.write("\n".join(stream) + "\n")
    return LAKE_LOOKUP_KEYS


def generate(workload, out, seed):
    """Write the workload's inputs under ``out``; return the input items
    one primary request processes (books rows, documents, or keys per
    lookup)."""
    os.makedirs(out, exist_ok=True)
    if workload == "etl_books":
        return landing_zone(out, seed)
    if workload == "curate_docs":
        return sf_dir(out, seed)
    if workload == "lake_mixed":
        return lake(out, seed)
    raise ValueError(f"unknown workload {workload}")
