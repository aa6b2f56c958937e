#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 graftbench/run.py --workload etl_books --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from the checkout when their sources
changed (the first run of a checkout compiles), generates the seeded
inputs in a scratch directory of its own, runs the harness JVM there,
checks the outputs against DuckDB, prints a report and, as the last
line, one JSON object {"correct", "attempted", "failed", "metrics"}.
The scratch directory is removed afterwards. ``--workload all`` runs
every workload in turn and prints each one's report (no JSON line).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_books", "curate_docs", "lake_mixed")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# the gated metrics, one role each, filled by every workload: set-up
# time, the primary request's median latency, and the input items the
# primary request processes per second of its own time
END_TO_END = {"setup_s": "s", "p50_s": "s", "items_per_s": "1/s"}
# per-layer counters summed over a traced pass, divided by its requests
LAYER_KEYS = {
    "queries.build_s": ("build_s", "s"), "queries.self_s": ("self_s", "s"),
    "sched.jobs": ("jobs", "count"), "sched.stages": ("stages", "count"),
    "sched.tasks": ("tasks", "count"), "sched.launch_wait_s": ("launch_wait_s", "s"),
    "plans.executions": ("executions", "count"),
    "plans.analysis_ms": ("analysis_ms", "ms"), "plans.optimizer_ms": ("optimizer_ms", "ms"),
    "plans.planning_ms": ("planning_ms", "ms"),
    "exec.run_s": ("run_s", "s"), "exec.cpu_s": ("cpu_s", "s"), "exec.gc_s": ("gc_s", "s"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "shuffle.write_records": ("shuffle_write_records", "count"),
    "shuffle.fetch_wait_s": ("fetch_wait_s", "s"), "spill.bytes": ("spill_bytes", "bytes"),
    "sources.read_bytes": ("read_bytes", "bytes"), "sources.read_rows": ("read_rows", "count"),
    "sink.rows": ("write_rows", "count"), "sink.write_bytes": ("write_bytes", "bytes"),
}
# the short set kept per op class, for the op classes of etl_books and
# curate_docs; lake_mixed's op classes (LAKE_OPS) and its compaction
# time are printed, not part of the result line
OP_KEYS = {"wall_s": "s", "self_s": "s", "jobs": "count", "shuffle_write_bytes": "bytes"}
OPS = ("standardise", "load_books", "delete", "enrich", "load_enriched", "exact",
       "keep_best", "write")
LAKE_OPS = ("lookup", "merge", "scan", "compact")
SINK_OPS = ("load_books", "load_enriched", "write", "merge", "compact")
# graft-dv row-level writes, whose time outside jobs is the commit
DML_OPS = ("delete", "merge")
# counters that must repeat exactly between two traced passes
EXACT = ("jobs", "stages", "tasks", "read_rows", "write_rows",
         "shuffle_write_records", "shuffle_read_records")
# counters printed, not failed, when the two passes differ. Shuffle
# bytes are compressed blocks whose size follows the order rows arrive
# in, which follows the order map outputs are fetched in (keep_best on
# curate_docs: 144 989 vs 144 991 bytes), and, on graft-dv writes, the
# data file names, which hold a random UUID. The number of query
# executions varies with Spark's and the engine's caches.
NEAR = ("shuffle_write_bytes", "shuffle_read_bytes", "executions")


class Unbuildable(Exception):
    pass


def _log(msg):
    print(f"[graftbench] {msg}", flush=True)


def _source_stamp():
    h = hashlib.sha256(ROOT.encode())
    files = [f"{ROOT}/build.sbt", f"{ROOT}/project/build.properties",
             f"{HERE}/build.sbt", f"{HERE}/project/build.properties"]
    for base in (f"{ROOT}/src/main", f"{HERE}/src"):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the sources are
    unchanged since the last build; return the run classpath."""
    if not (os.path.isfile(f"{ROOT}/build.sbt") and os.path.isdir(f"{ROOT}/src/main")):
        raise Unbuildable(f"no engine build next to {HERE}")
    out = f"{HERE}/.build"
    stamp = _source_stamp()
    cp_file, stamp_file = f"{out}/classpath.txt", f"{out}/stamp"
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(f"{out}/tmp", exist_ok=True)
    # no JVM of the build, the sbt launcher's version probe included,
    # may write a perf-data file to the system temp directory
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
                                f"-Djava.io.tmpdir={out}/tmp"]).strip()
    _log("building engine and harness")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise Unbuildable(f"sbt did not run: {e}")
    if p.returncode != 0 or not os.path.exists(cp_file):
        raise Unbuildable("build failed:\n" + (p.stdout + p.stderr)[-3000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read()


def java_cmd(cp, run_dir):
    # the engine's forked-run options (build.sbt), plus this run's dirs
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/work"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main"]


def _layers(ops, requests, dv):
    """Per-request layer totals of one traced lane plus the per-op short set."""
    tot = {}
    per_op = {}
    for o in ops:
        c = o["counters"]
        for k, v in c.items():
            tot[k] = tot.get(k, 0.0) + v
        slot = per_op.setdefault(o["op"], {"n": 0})
        slot["n"] += 1
        for k in OP_KEYS:
            slot[k] = slot.get(k, 0.0) + c.get(k, 0.0)
    out = {}
    for name, (key, unit) in LAYER_KEYS.items():
        out[name] = (tot.get(key, 0.0) / requests, unit)
    wall = tot.get("wall_s", 0.0)
    out["exec.busy_cores"] = (tot.get("run_s", 0.0) / wall if wall else 0.0, "cores")
    sink = sum(o["counters"].get("wall_s", 0.0) for o in ops if o["op"] in SINK_OPS)
    out["sink.write_s"] = (sink / requests, "s")
    commit = sum(o["counters"].get("self_s", 0.0) for o in ops if o["op"] in DML_OPS)
    out["dv.commit_s"] = (commit / requests, "s")
    for k, unit in (("files", "count"), ("blobs", "count"), ("blob_bytes", "bytes"),
                    ("table_bytes", "bytes")):
        out[f"dv.{k}"] = (dv.get(k, 0.0), unit)
    for op in OPS + LAKE_OPS:
        slot = per_op.get(op, {"n": 0})
        for k, unit in OP_KEYS.items():
            out[f"{op}.{k}"] = (slot.get(k, 0.0) / slot["n"] if slot["n"] else 0.0, unit)
    return out


def _self_times(spans):
    """{span id: (kind, self seconds)}: each span's duration minus the
    part of it its children cover. Jobs hang off the build or action
    span of their op that holds their start."""
    spans = [dict(zip(("id", "parent", "kind", "name", "start", "end"), s)) for s in spans]
    phases = {}
    for s in spans:
        if s["kind"] in ("build", "action"):
            phases.setdefault(s["parent"], []).append(s)
    kids = {}
    for s in spans:
        parent = s["parent"]
        if s["kind"] == "job":
            parent = next((f["id"] for f in phases.get(parent, [])
                           if f["start"] <= s["start"] <= f["end"]), parent)
        kids.setdefault(parent, []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, hi = 0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, hi), min(b, s["end"])
            if b > a:
                covered += b - a
            hi = max(hi, b)
        out[s["id"]] = (s["kind"], (s["end"] - s["start"] - covered) / 1e9)
    return out


def _counts(ops, keys):
    c = {}
    for o in ops:
        for k in keys:
            key = f"{o['op']}.{k}"
            c[key] = c.get(key, 0.0) + o["counters"].get(k, 0.0)
    return c


def run_one(workload, seed, seconds, trace, cp):
    t_start = time.time()
    run_dir = f"{HERE}/.run/{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("inputs", "work", "tmp"):
        os.makedirs(f"{run_dir}/{d}")
    try:
        g0 = time.time()
        items = gen.generate(workload, f"{run_dir}/inputs", seed)
        gen_s = time.time() - g0
        cmd = java_cmd(cp, run_dir) + [
            "--workload", workload, "--inputs", f"{run_dir}/inputs",
            "--work", f"{run_dir}/work", "--out", f"{run_dir}/result.json",
            "--seconds", str(seconds), "--trace", str(trace), "--items", str(items)]
        with open(f"{run_dir}/jvm.log", "w") as logf:
            p = subprocess.run(cmd, cwd=f"{run_dir}/work", stdout=logf, stderr=subprocess.STDOUT,
                               timeout=max(30, RUN_TIMEOUT_S - (time.time() - t_start)))
        if not os.path.exists(f"{run_dir}/result.json"):
            raise RuntimeError("harness wrote no result (exit %d):\n%s" % (
                p.returncode, open(f"{run_dir}/jvm.log").read()[-4000:]))
        res = json.load(open(f"{run_dir}/result.json"))
        if p.returncode != 0 or "extra" not in res:
            raise RuntimeError("harness failed (exit %d): %s\n%s" % (
                p.returncode, res.get("errors"), open(f"{run_dir}/jvm.log").read()[-4000:]))
        inputs, check = f"{run_dir}/inputs", f"{run_dir}/work/check"
        c0 = time.time()
        if workload == "etl_books":
            mismatches = checks.etl_books(inputs, check)
        elif workload == "curate_docs":
            mismatches = checks.curate_docs(inputs, res["extra"]["check_dir"],
                                            res["extra"]["steps"])
        else:
            mismatches = checks.lake_mixed(inputs, check, res["extra"]["lanes"])
        _log(f"correctness checks took {time.time() - c0:.2f}s")
        return report(workload, seed, trace, res, gen_s, mismatches)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(workload, seed, trace, res, gen_s, mismatches):
    """Print the run's report and return its result object, from the
    harness's result file ``res`` and the correctness ``mismatches``."""
    su = res["setup"]
    setup_s = gen_s + su["jvm_ready_s"] + su["fixture_s"] + su["warmup_s"]
    # every request counts as attempted, warm-up included; the timed
    # ones are the window's, or in a traced run the untraced pass's
    samples = res["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s[3]) + len(mismatches)
    timed = [s for s in samples if s[0] == ("window" if trace == 0 else "u")]
    by_cls = {}
    for _, cls, secs, ok in timed:
        by_cls.setdefault(cls, []).append(secs)
    prim = by_cls.get(res["primary"], [])
    n_prim = len(prim)
    items_per_s = n_prim * res["items_per_primary"] / sum(prim) if prim else float("nan")
    mix_per_s = float("nan")
    if workload == "lake_mixed" and all(by_cls.get(c) for c in gen.LAKE_CYCLE):
        # requests per second of the fixed class mix, from each class's
        # mean latency: independent of where the window cut the cycle
        per_cycle = sum(sum(by_cls[c]) / len(by_cls[c]) for c in gen.LAKE_CYCLE)
        mix_per_s = len(gen.LAKE_CYCLE) / per_cycle
    calib = [c[1] for c in res["calib"]]

    _log(f"workload={workload} seed={seed} trace={trace} window_requests={len(timed)} "
         f"errors={res['errors'][:3]}")
    _log(f"setup: gen_s={gen_s:.2f} jvm_ready_s={su['jvm_ready_s']:.2f} "
         f"fixture_s={su['fixture_s']:.2f} warmup_s={su['warmup_s']:.2f} "
         f"(warm-up requests {su['warmup_n']})")
    _log("host.calib_s series: " + " ".join(f"{c:.4f}" for c in calib))
    for cls in sorted(by_cls):
        warm = [s[2] for s in res["samples"] if s[0] == "warmup" and s[1] == cls]
        _log(f"{cls} series: warm-up " + " ".join(f"{x:.3f}" for x in warm)
             + " | timed " + " ".join(f"{x:.3f}" for x in by_cls[cls]))
    for m in mismatches[:10]:
        _log(f"MISMATCH {m}")
    # the per-workload names, each with unit and sample count
    named = {"setup_s": (setup_s, "s", 1),
             "fail_ratio": (failed / max(1, attempted), "ratio", attempted)}
    for cls, xs in sorted(by_cls.items()):
        p, v, _ = stats.tail(xs)
        named[f"{cls}_p50_s"] = (stats.median(xs), "s", len(xs))
        if cls in ("run", "lookup", "merge"):
            named[f"{cls}_tail_s"] = (v, f"s@p{p}", len(xs))
    if workload == "etl_books":
        named["rows_per_s"] = (items_per_s, "rows/s", n_prim)
    elif workload == "curate_docs":
        named["docs_per_s"] = (items_per_s, "docs/s", n_prim)
    else:
        named["keys_per_s"] = (items_per_s, "keys/s", n_prim)
        named["requests_per_s"] = (mix_per_s, "1/s", len(timed))
        named["bytes_per_live_byte"] = (res["extra"]["bytes_per_live_byte"], "ratio", 1)
    for k, (v, unit, n) in named.items():
        _log(f"  {k:22s} {v:12.4f} {unit:8s} n={n}")

    metrics = {"setup_s": setup_s, "p50_s": stats.median(prim), "items_per_s": items_per_s}
    if any(v != v for v in metrics.values()):   # NaN: a class never ran
        failed += 1
        _log(f"MISSING a metric: {metrics}")
        metrics = {k: (0.0 if v != v else v) for k, v in metrics.items()}
    out = {k: {"value": round(v, 6), "unit": END_TO_END[k]} for k, v in metrics.items()}

    if trace:
        tr = res["trace"]
        selfs = _self_times(tr["spans"])
        parent = {sp[0]: sp[1] for sp in tr["spans"]}
        for o in tr["ops"]:
            # op time outside its jobs: the self time of its build and action
            o["counters"]["self_s"] = sum(t for i, (k, t) in selfs.items()
                                          if k in ("build", "action") and parent[i] == o["id"])
        by_kind = {}
        for k, t in selfs.values():
            by_kind[k] = by_kind.get(k, 0.0) + t
        _log("self time per traced request by span kind: " + ", ".join(
            f"{k} {t / (2 * tr['requests']):.3f}s" for k, t in sorted(by_kind.items())))
        ops = {lane: [o for o in tr["ops"] if o["lane"] == lane] for lane in ("t1", "t2")}
        dv = {lane: {f"dv.{k}": v for k, v in tr["dv"].get(lane, {}).items()}
              for lane in ("t1", "t2")}
        c1, c2 = ({**_counts(ops[lane], EXACT),
                   **{k: v for k, v in dv[lane].items() if k != "dv.table_bytes"}}
                  for lane in ("t1", "t2"))
        diff = sorted(k for k in set(c1) | set(c2) if c1.get(k) != c2.get(k))
        if diff:
            failed += 1
            _log("COUNTS DIFFER between traced passes: " + ", ".join(
                f"{k} {c1.get(k)} vs {c2.get(k)}" for k in diff[:10]))
        else:
            _log(f"{len(c1)} per-layer counts repeat exactly across two traced passes")
        n1, n2 = ({**_counts(ops[lane], NEAR),
                   **{k: v for k, v in dv[lane].items() if k == "dv.table_bytes"}}
                  for lane in ("t1", "t2"))
        drift = [f"{k} {n1[k]:.0f} vs {n2.get(k, 0):.0f}" for k in sorted(n1)
                 if n1[k] != n2.get(k)]
        _log("counters allowed to differ between traced passes, and differing: "
             + (", ".join(drift) if drift else "none"))
        layers = _layers(ops["t1"], tr["requests"], tr["dv"].get("t1", {}))
        wall = tr["wall_s"]
        over = (wall["t1"] + wall["t2"]) / 2 - wall["u"]
        layers["trace.overhead_s"] = (over / tr["requests"], "s")
        layers["trace.overhead_ratio"] = (over / wall["u"], "ratio")
        layers["host.calib_s"] = (stats.median(calib), "s")
        _log(f"traced pass: {tr['requests']} requests, wall u={wall['u']:.3f}s "
             f"t1={wall['t1']:.3f}s t2={wall['t2']:.3f}s")
        for op in OPS + LAKE_OPS:
            if layers[f"{op}.wall_s"][0]:
                _log(f"  op {op:14s} wall={layers[f'{op}.wall_s'][0]:.3f}s "
                     f"self={layers[f'{op}.self_s'][0]:.3f}s jobs={layers[f'{op}.jobs'][0]:.0f}")
        if workload == "lake_mixed":
            def lake_sum(key, op_names):
                return sum(o["counters"].get(key, 0.0) for o in ops["t1"]
                           if o["op"] in op_names) / tr["requests"]
            _log(f"  dv.compact_s {lake_sum('wall_s', ('compact',)):.4f} s, "
                 f"dv.rewritten_bytes {lake_sum('write_bytes', ('merge', 'compact')):.0f} "
                 "bytes per request")
        out = {k: {"value": round(v, 6), "unit": u} for k, (v, u) in layers.items()
               if k.split(".")[0] not in LAKE_OPS}

    correct = not mismatches and failed == 0
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args(argv)
    try:
        cp = build()
    except Unbuildable as e:
        print(f"[graftbench] cannot build: {e}", file=sys.stderr)
        return 2
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        try:
            result = run_one(w, a.seed, a.seconds, a.trace, cp)
        except Exception as e:  # noqa: BLE001 -- report and fail the run
            print(f"[graftbench] {w} failed: {e}", file=sys.stderr)
            return 1
        if a.workload != "all":
            print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
