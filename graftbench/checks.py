"""Correctness checks, run after the timed window, each against an
independent DuckDB computation over the same generated inputs.

Each check returns a list of mismatch descriptions; every entry counts
as one failed op.
"""
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def _rows(con, sql):
    return sorted(tuple(_cell(v) for v in r) for r in con.execute(sql).fetchall())


def _compare(name, got, want):
    if got == want:
        return []
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    i = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return [f"{name}: first difference at sorted row {i}: {got[i]} != {want[i]}"]


def _round_div4(n, d):
    """DuckDB twin of the engine's exact HALF_UP round(n/d, 4)."""
    return (f"CAST((2*CAST({n} AS HUGEINT)*10000 + CAST({d} AS HUGEINT)) "
            f"// (2*CAST({d} AS HUGEINT)) AS DOUBLE)/10000.0")


def etl_books(inputs, check_dir):
    """The Derby read-back of the enriched table against the reference
    flow's standardise + enrich, in the RefSurface oracle shape, over
    the same landing zone."""
    w = "CAST(CAST(rating AS DECIMAL(18,1))*10 AS BIGINT) * CAST(rating_count AS BIGINT)"
    cents = "CAST(CAST(price AS DECIMAL(18,2))*100 AS BIGINT)"
    oracle = f"""
    WITH books AS (
      SELECT title, author, book_type, CAST(price AS DOUBLE) AS price,
        CAST(NULLIF(regexp_extract(rating, '(\\d\\.\\d)', 1), '') AS DOUBLE) AS rating,
        CAST(replace(rating_count, ',', '') AS INT) AS rating_count
      FROM (
        SELECT trim(title) AS title, author, book_type, price, rating, rating_count,
          row_number() OVER (PARTITION BY trim(title) ORDER BY page, pos) AS rn
        FROM read_parquet('{inputs}/landing/*.parquet'))
      WHERE rn = 1)
    SELECT author,
      round(CAST(sum({w}) AS DOUBLE)/10, 4) AS sum_rating_count_rating,
      round(CAST(sum(CAST(rating_count AS BIGINT)) AS DOUBLE), 4) AS total_rating_count,
      {_round_div4(f"sum({w})", "10*sum(CAST(rating_count AS BIGINT))")} AS average_rating,
      {_round_div4(f"sum({cents})", "100*count(price)")} AS average_price,
      count(*) AS book_count
    FROM books WHERE rating IS NOT NULL GROUP BY author"""
    cols = ("author, sum_rating_count_rating, total_rating_count, average_rating, "
            "average_price, book_count")
    con = duckdb.connect()
    got = _rows(con, f"SELECT {cols} FROM read_parquet('{check_dir}/enriched/*.parquet')")
    want = _rows(con, f"SELECT {cols} FROM ({oracle})")
    return _compare("enriched_books", got, want)


def curate_docs(inputs, out_dir, steps):
    """Every step through tools/check.py, as the repo's oracle gate runs
    it, then the curated set against the same composition of the steps'
    oracle queries (``steps``: dedup_exact, dedup_keep_best)."""
    sf = f"{inputs}/sf"
    p = subprocess.run([sys.executable, f"{ROOT}/tools/check.py", sf, out_dir, *steps],
                       capture_output=True, text=True, timeout=120)
    bad = [l for l in p.stdout.splitlines() if not l.startswith("OK")]
    oks = sum(1 for l in p.stdout.splitlines() if l.startswith("OK"))
    fails = bad if p.returncode else []
    if oks != len(steps) and not fails:
        fails = [f"tools/check.py checked {oks} of {len(steps)} steps: {p.stderr[-500:]}"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    for step in steps:
        con.execute(f"CREATE VIEW o_{step} AS {oracle[step]}")
    want = _rows(con, """
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE doc_id IN (SELECT keep_id FROM o_dedup_exact)
        AND doc_id NOT IN (SELECT id FROM o_dedup_keep_best WHERE keep = 0)""")
    got = _rows(con, "SELECT doc_id, lang, source, n_chars "
                     f"FROM read_parquet('{out_dir}/curated/*.parquet')")
    return fails + _compare("curated", got, want)


_FINAL = ("SELECT event_id, {ts} AS ts_us, user_id, event_type, {value} AS value, "
          "props, day FROM {src}")


def _table_hash(con, sql):
    h = hashlib.sha256()
    for r in sorted(con.execute(sql).fetchall()):
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


def lake_mixed(inputs, check_dir, lanes):
    """Replays every lane's executed requests into a DuckDB model: each
    MERGE becomes delete-by-key plus insert, each lookup and scan must
    return exactly the model's rows at that point, and each lane's final
    table must hash like the model's."""
    stream = open(f"{inputs}/stream.txt").read().split("\n")
    log = [json.loads(l) for l in open(f"{check_dir}/lake_log.jsonl") if l.strip()]
    fails = []
    con = duckdb.connect()
    for lane in lanes:
        con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM "
                    f"read_parquet('{inputs}/events.parquet')")
        for e in (e for e in log if e["lane"] == lane):
            got = sorted(tuple(r) for r in e["rows"])
            line = stream[e["i"]].split(" ")
            if e["c"] == "lookup":
                want = con.execute(
                    "SELECT CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), event_type, "
                    "CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) FROM t "
                    f"WHERE event_id IN ({line[1]})").fetchall()
            elif e["c"] == "scan":
                want = con.execute(
                    "SELECT event_type, CAST(count(*) AS VARCHAR), "
                    "CAST(sum(CAST(value AS DECIMAL(28,2))) AS VARCHAR) FROM t "
                    "GROUP BY event_type").fetchall()
            else:
                batch = f"{inputs}/merges/batch_{int(line[1]):05d}.parquet"
                con.execute(f"DELETE FROM t WHERE event_id IN "
                            f"(SELECT event_id FROM read_parquet('{batch}'))")
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{batch}')")
                want = []
            want = sorted(tuple(r) for r in want)
            if got != want:
                fails.append(f"{lane} request {e['i']} ({e['c']}): {len(got)} rows, "
                             f"model has {len(want)}; first {got[:1]} vs {want[:1]}")
        spark = _table_hash(con, _FINAL.format(
            ts="ts_us", value="value",
            src=f"read_parquet('{check_dir}/final_{lane}/*.parquet')"))
        model = _table_hash(con, _FINAL.format(
            ts="epoch_us(ts)", value="CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)", src="t"))
        if spark != model:
            fails.append(f"{lane}: final table hash {spark[:12]} != model {model[:12]}")
    return fails
