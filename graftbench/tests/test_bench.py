"""The benchmark's own tests: tail rule, seeded inputs, the lake model
check, and the shape of the result line.

    python3 -m unittest discover -s graftbench/tests

They need python3 with numpy, pyarrow and duckdb, and no JVM.
"""
import hashlib
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def scratch(name):
    d = f"{BENCH}/.run/test-{name}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class TailRule(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in (20, 21, 37, 100, 250, 1000):
            xs = [float(i) for i in range(n)]
            p, v, beyond = stats.tail(xs)
            self.assertGreaterEqual(beyond, 10, n)
            # and it is the highest such whole percentile
            if p < 99:
                nxt = stats.percentile(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > nxt), 10, n)

    def test_few_samples_fall_back_to_the_median(self):
        for n in (1, 5, 19):
            p, v, _ = stats.tail([1.0] * n)
            self.assertEqual(p, 50)
        p, v, beyond = stats.tail([])
        self.assertEqual((p, beyond), (None, 0))

    def test_percentile_is_nearest_rank(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        d = scratch("seed")
        try:
            for w in run.WORKLOADS:
                a, b, c = (f"{d}/{w}-{k}" for k in "abc")
                gen.generate(w, a, 7)
                gen.generate(w, b, 7)
                gen.generate(w, c, 8)
                self.assertEqual(tree_digest(a), tree_digest(b), w)
                self.assertNotEqual(tree_digest(a), tree_digest(c), w)
        finally:
            shutil.rmtree(d, ignore_errors=True)


class LakeModel(unittest.TestCase):
    """Builds the outputs a correct engine would write, straight from
    the model, then injects one wrong row."""

    def setUp(self):
        self.d = scratch("lake")
        self.inputs, self.check = f"{self.d}/inputs", f"{self.d}/check"
        os.makedirs(self.check)
        gen.generate("lake_mixed", self.inputs, 3)
        stream = open(f"{self.inputs}/stream.txt").read().split("\n")
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.inputs}/events.parquet')")
        self.log = []
        for i, line in enumerate(stream[:12]):
            part = line.split(" ")
            rows = []
            if part[0] == "lookup":
                rows = con.execute(
                    "SELECT CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), event_type, "
                    f"CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) FROM t WHERE event_id IN ({part[1]})"
                ).fetchall()
            elif part[0] == "scan":
                rows = con.execute(
                    "SELECT event_type, CAST(count(*) AS VARCHAR), "
                    "CAST(sum(CAST(value AS DECIMAL(28,2))) AS VARCHAR) FROM t GROUP BY 1").fetchall()
            else:
                b = f"{self.inputs}/merges/batch_{int(part[1]):05d}.parquet"
                con.execute(f"DELETE FROM t WHERE event_id IN (SELECT event_id FROM read_parquet('{b}'))")
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{b}')")
            self.log.append({"lane": "main", "i": i, "c": part[0], "rows": [list(r) for r in rows]})
        os.makedirs(f"{self.check}/final_main")
        self.final = f"{self.check}/final_main/part-0.parquet"
        con.execute(
            "COPY (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, "
            "CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS value, props, day FROM t) "
            f"TO '{self.final}' (FORMAT PARQUET)")
        self.con = con

    def tearDown(self):
        shutil.rmtree(self.d, ignore_errors=True)

    def write_log(self):
        with open(f"{self.check}/lake_log.jsonl", "w") as f:
            f.write("\n".join(json.dumps(e) for e in self.log) + "\n")

    def test_model_accepts_correct_outputs(self):
        self.write_log()
        self.assertEqual(checks.lake_mixed(self.inputs, self.check, ["main"]), [])

    def test_wrong_lookup_row_is_caught(self):
        e = next(e for e in self.log if e["c"] == "lookup" and e["rows"])
        e["rows"][0][3] = "0.01" if e["rows"][0][3] != "0.01" else "0.02"
        self.write_log()
        fails = checks.lake_mixed(self.inputs, self.check, ["main"])
        self.assertEqual(len(fails), 1, fails)
        self.assertIn(f"request {e['i']} (lookup)", fails[0])

    def test_wrong_final_row_is_caught(self):
        self.write_log()
        self.con.execute(
            f"COPY (SELECT * REPLACE (CASE WHEN event_id = 0 THEN user_id + 1 ELSE user_id END "
            f"AS user_id) FROM read_parquet('{self.final}')) TO '{self.final}.x' (FORMAT PARQUET)")
        os.replace(f"{self.final}.x", self.final)
        fails = checks.lake_mixed(self.inputs, self.check, ["main"])
        self.assertEqual(len(fails), 1, fails)
        self.assertIn("final table hash", fails[0])


class ResultLine(unittest.TestCase):
    """The result object carries every metric BENCHMARK.json names, each
    with its unit; the report prints each per-workload metric with a unit and a
    sample count."""

    spec = json.load(open(f"{os.path.dirname(BENCH)}/BENCHMARK.json"))

    def fake(self, trace, ops=("lookup", "merge", "compact")):
        samples = [["window", c, s, True] for c, s in
                   [("lookup", 1.0), ("lookup", 1.2), ("merge", 2.1), ("lookup", 0.9),
                    ("scan", 0.5), ("merge", 2.6)]]
        res = {"setup": {"jvm_ready_s": 5.0, "fixture_s": 2.0, "warmup_s": 9.0, "warmup_n": 4},
               "primary": "lookup", "items_per_primary": 8,
               "samples": samples, "calib": [[0.5, 0.05], [1.0, 0.06]],
               "errors": [], "extra": {"bytes_per_live_byte": 1.4}}
        if trace:
            op = {"wall_s": 1.0, "jobs": 3, "stages": 4, "tasks": 9}
            res["samples"] += [["u", c, s, True] for c, s in
                               [("lookup", 1.0), ("merge", 2.0), ("scan", 0.4)]]
            res["trace"] = {
                "requests": 2, "wall_s": {"u": 2.0, "t1": 2.2, "t2": 2.3},
                "dv": {"t1": {"files": 20, "blobs": 4, "blob_bytes": 900, "table_bytes": 9e5},
                       "t2": {"files": 20, "blobs": 4, "blob_bytes": 900, "table_bytes": 9e5}},
                "ops": [{"lane": l, "op": o, "id": 10 * i, "counters": dict(op)}
                        for i, (l, o) in enumerate((l, o) for l in ("t1", "t2") for o in ops)],
                # one op (id 0): build 0-2e8 ns holding a job 1e8-2e8 ns,
                # action 2e8-1e9 ns holding a job 3e8-6e8 ns with a stage
                "spans": [[0, -1, "op", ops[0], 0, 10**9], [1, 0, "build", ops[0], 0, 2 * 10**8],
                          [2, 0, "action", ops[0], 2 * 10**8, 10**9],
                          [3, 0, "job", "job 1", 10**8, 2 * 10**8],
                          [4, 0, "job", "job 2", 3 * 10**8, 6 * 10**8],
                          [5, 4, "stage", "stage 1", 3 * 10**8, 5 * 10**8]]}
        return res

    def test_untraced_metrics_match_the_spec(self):
        out = run.report("lake_mixed", 1, 0, self.fake(False), 0.5, [])
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
        self.assertTrue(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (6, 0))
        self.assertEqual(out["metrics"]["p50_s"]["value"], 1.0)
        self.assertAlmostEqual(out["metrics"]["items_per_s"]["value"], 24 / 3.1, places=5)

    def test_traced_metrics_match_the_spec(self):
        want = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        for w, ops in (("lake_mixed", ("lookup", "merge", "compact")),
                       ("etl_books", ("standardise", "load_books", "delete"))):
            out = run.report(w, 1, 1, self.fake(True, ops), 0.5, [])
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want, w)
            self.assertTrue(out["correct"], out)

    def test_count_drift_between_traced_passes_fails_the_run(self):
        res = self.fake(True)
        res["trace"]["ops"][-1]["counters"]["jobs"] = 4
        out = run.report("lake_mixed", 1, 1, res, 0.5, [])
        self.assertFalse(out["correct"])

    def test_shuffle_record_drift_fails_the_run_and_byte_drift_does_not(self):
        def traced(w, ops, key):
            res = self.fake(True, ops)
            for o in res["trace"]["ops"]:
                o["counters"][key] = 1000.0
                if o["lane"] == "t2" and o["op"] == ops[1]:
                    o["counters"][key] = 1001.0
            return run.report(w, 1, 1, res, 0.5, [])
        for w, ops in (("etl_books", ("standardise", "delete", "enrich")),
                       ("curate_docs", ("exact", "keep_best", "write")),
                       ("lake_mixed", ("lookup", "merge", "compact"))):
            for key in ("shuffle_write_records", "shuffle_read_records"):
                self.assertFalse(traced(w, ops, key)["correct"], (w, key))
            # compressed block sizes follow row order and file names
            for key in ("shuffle_write_bytes", "shuffle_read_bytes"):
                self.assertTrue(traced(w, ops, key)["correct"], (w, key))

    def test_failed_warm_up_request_fails_the_run(self):
        res = self.fake(False)
        res["samples"].insert(0, ["warmup", "merge", 3.0, False])
        out = run.report("lake_mixed", 1, 0, res, 0.5, [])
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (7, 1))

    def test_self_time_excludes_jobs_and_children(self):
        selfs = run._self_times(self.fake(True)["trace"]["spans"])
        self.assertAlmostEqual(selfs[1][1], 0.1)   # build minus job 1
        self.assertAlmostEqual(selfs[2][1], 0.5)   # action minus job 2
        self.assertAlmostEqual(selfs[4][1], 0.1)   # job 2 minus its stage
        self.assertAlmostEqual(selfs[0][1], 0.0)   # op: build and action cover it
        res = self.fake(True, ("standardise", "load_books", "delete"))
        out = run.report("etl_books", 1, 1, res, 0.5, [])
        self.assertAlmostEqual(out["metrics"]["standardise.self_s"]["value"], 0.6)

    def test_mismatch_counts_as_failed(self):
        out = run.report("lake_mixed", 1, 0, self.fake(False), 0.5, ["x: wrong"])
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)

    def test_report_lines_carry_unit_and_sample_count(self):
        import contextlib
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run.report("lake_mixed", 1, 0, self.fake(False), 0.5, [])
        lines = buf.getvalue().splitlines()
        for name in ("setup_s", "fail_ratio", "lookup_p50_s", "lookup_tail_s", "merge_p50_s",
                     "merge_tail_s", "scan_p50_s", "bytes_per_live_byte"):
            line = next(l for l in lines if l.split()[1:2] == [name])
            self.assertRegex(line, r" n=\d+$")
            self.assertEqual(len(line.split()), 5, line)


if __name__ == "__main__":
    unittest.main()
