#!/usr/bin/env python3
"""The repo's benchmark: one client on `local[4]`, one op at a time.

Usage (from the checkout root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists):
  etl_star   repeated full `Etl.run` star builds over a seeded,
             2x-replicated event log
  catalog    passes over short read-only catalog queries (the floor list)
             and job-heavy iterative ones (the iterative list)

The first run in a checkout compiles the engine and the benchmark
(perfbench/build.py). Every run then generates its input, runs the JVM
side (perfbench/scala), checks every output against DuckDB, and prints a
metric summary followed by one JSON line as the last line of stdout.
With --trace 0 the JSON holds the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True   # keep the checkout free of __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 160

# Short read-only catalog queries, one per query family for eight families,
# each under 0.5 s at sf0.1 in the r18 bench and hash-checked by the
# oracle. None is stateful and none touches the Etl star (q13/q14 are
# etl_star's).
FLOOR = [
    "q05_epoch_millis",            # relational
    "q258_series_source",          # ingest (custom data source)
    "q43_repetition_score",        # text
    "q20_dedup_exact",             # dedup
    "q69_embed_quantize",          # similarity
    "q68_rolling_hourly",          # window
    "q105_temperature_mix",        # sample
    "q71_cube",                    # olap
]

# Iterative queries: pagerank runs about 30 jobs with a second of
# driver-only time and materializes its edge list.
ITERATIVE = ["q89_pagerank"]

# `passes` is the least number of timed builds or passes a run makes; the
# heap peak is taken over that many, so it does not grow with host speed.
WORKLOADS = {
    "etl_star": {"kind": "etl_star", "data": "sf0.1", "replicas": 2,
                 "warm_builds": 3, "passes": 3},
    "catalog": {"kind": "catalog", "data": "sf0.1",
                "lists": {"floor": ("sf0.1", FLOOR), "iterative": ("sf0.01", ITERATIVE)},
                "warm_passes": 1, "passes": 3},
}

END_TO_END = {   # name -> unit
    "setup_s": "s", "op_p50_s": "s", "pass_s": "s",
    "rows_per_s": "1/s", "heap_peak_mb": "MB",
}

# Directories of engine state the benchmark must never change.
GUARDED = ["work/star/sf0.*", "work/fixtures/v3/sf0.*"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def snapshot(root):
    """(size, mtime) of every file under the guarded directories."""
    seen = {}
    for pattern in GUARDED:
        for top in glob.glob(os.path.join(root, pattern)):
            for d, _, names in os.walk(top):
                for n in names:
                    p = os.path.join(d, n)
                    st = os.stat(p)
                    seen[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return seen


def jvm(state, args):
    import build
    r = subprocess.run(build.java_cmd(state, args), cwd=state, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
    return r.returncode


def duck(state):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(state, 'tmp', 'duckdb')}'")
    return con


def check_etl(record, state):
    """Expected star counts: q13's oracle SQL in DuckDB over the same
    generated JSON. Returns {op index: problem} for wrong builds."""
    con = duck(state)
    rows = con.execute(record["oracle"]["q13_star_pipeline_counts"]).fetchall()
    con.close()
    expected = {t: int(n) for t, n in rows}
    bad = {}
    for i, op in enumerate(record["ops"]):
        if op["ok"] and op["counts"] != expected:
            bad[i] = f"counts {op['counts']} != oracle {expected}"
    return bad, expected


def load_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_hashes(sf_dir, queries, sql_of, state):
    """(columns, rows, hash) of each query's DuckDB oracle result. The data
    is read-only, so results are kept per checkout, keyed by the SQL and
    the data files, and DuckDB runs only for queries not seen before."""
    import build
    oracle = load_oracle_module()
    path = os.path.join(build.OUT, "oracle_cache.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    files = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    data_key = json.dumps([(f, os.path.getsize(f), os.path.getmtime(f)) for f in files])
    out, con = {}, None
    for q in queries:
        key = hashlib.sha256((data_key + sql_of[q]).encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duck(state)
                for f in files:
                    t = os.path.basename(f)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
            exp = con.execute(sql_of[q]).df()
            cache[key] = [sorted(exp.columns), len(exp), oracle.frame_hash(exp)]
        out[q] = cache[key]
    if con is not None:
        con.close()
        with open(path, "w") as fh:
            json.dump(cache, fh)
    return out


def check_catalog(record, data_of, verify_dir, state):
    """Each query's untimed-pass output against its DuckDB oracle over the
    same data, with the hash of tools/check_oracle.py. Returns
    {query: problem}."""
    import pandas as pd
    oracle = load_oracle_module()
    sql_of = record["oracle"]
    bad = {q: "no oracle SQL" for q in data_of if q not in sql_of}
    expected = {}
    for d in sorted(set(data_of.values())):
        expected.update(oracle_hashes(
            d, [q for q in data_of if q in sql_of and data_of[q] == d], sql_of, state))
    for q, (cols, rows, h) in expected.items():
        files = glob.glob(os.path.join(verify_dir, q, "*.parquet"))
        if q in record.get("warm_failures", []) or not files:
            bad[q] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if sorted(got.columns) != cols or len(got) != rows:
            bad[q] = f"shape spark={len(got)}x{sorted(got.columns)} oracle={rows}x{cols}"
        elif oracle.frame_hash(got) != h:
            bad[q] = "value hash mismatch"
    return bad


def passes(ops):
    """Σ op wall per complete pass, in pass order."""
    by = {}
    for op in ops:
        by.setdefault(op["pass"], []).append(op["wall_s"])
    return [sum(v) for _, v in sorted(by.items())]


# One round of perfbench/scala/perfbench/Calibrate.scala on four threads
# takes about this long on the 4-vCPU Xeon host the benchmark was sized on.
REF_ROUND_S = 0.08


def host_slowdown(record):
    """How much slower than the reference the host's cores ran during the
    run: its median calibration round over REF_ROUND_S."""
    return statistics.median(record["ref_s"]) / REF_ROUND_S


def end_to_end(record, ops, setup_s, input_rows, heap_samples, slowdown=1.0):
    """End-to-end metrics; every time is divided by `slowdown`, which
    restates it at the reference host speed."""
    walls = [op["wall_s"] for op in ops]
    pass_s = statistics.median(passes(ops)) / slowdown
    return {
        "setup_s": setup_s / slowdown,
        "op_p50_s": stats.percentile(walls, 0.5) / slowdown,
        "pass_s": pass_s,
        "rows_per_s": input_rows / pass_s,
        "heap_peak_mb": max(record["heap_mb"][:heap_samples]),
    }


def by_list(workload, lists, ops):
    """Summary lines of each query list of a catalog workload on its own."""
    lines = []
    for name, (_, queries) in lists.items():
        mine = [op for op in ops if op["name"] in queries]
        if mine:
            walls = [op["wall_s"] for op in mine]
            lines.append(f"{workload}/{name} op_p50_s = {stats.percentile(walls, 0.5):.6g} s; "
                         f"pass_s = {statistics.median(passes(mine)):.6g} s")
    return lines


PER_LAYER = {   # name -> unit
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.busy_s": "s",
    "scheduler.driver_only_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "sources.bytes_read": "bytes", "sources.records_read": "count",
    "sinks.bytes_written": "bytes", "sinks.records_written": "count",
    "shuffle.bytes_written": "bytes", "shuffle.records_written": "count",
    "shuffle.fetch_wait_s": "s",
    **{f"pipeline.{s}_s": "s" for s in (
        "stage_events", "stage_songs", "songplay", "users", "songs",
        "artists", "time", "counts")},
    "pipeline.overlap": "ratio",
    "materialize.rdds_created": "count", "materialize.rdds_left": "count",
    "materialize.bytes_peak": "bytes",
    "driver.gc_s": "s",
    "trace.overhead": "ratio",
}


def per_layer(record, ops):
    """Per-layer metrics of the traced ops: the mean per op for counts and
    times, ratios of totals for utilisation and overlap, the maximum for
    the storage peak."""
    traced = [op for op in ops if op["traced"]]
    n = len(traced)

    def mean(f):
        return sum(f(op) for op in traced) / n

    def jobs(op):
        return [(s, e) for _, s, e in op["trace"]["jobs"]]

    def tr(key, scale=1.0):
        return mean(lambda op: op["trace"][key] * scale)

    m = {
        "queries.construct_s": mean(lambda op: op["construct_s"]),
        "queries.construct_jobs": mean(lambda op: sum(
            1 for s, _ in jobs(op) if s <= op["construct_end_ms"])),
        "catalyst.analysis_s": tr("analysis_ms", 1e-3),
        "catalyst.optimization_s": tr("optimization_ms", 1e-3),
        "catalyst.planning_s": tr("planning_ms", 1e-3),
        "catalyst.executions": tr("executions"),
        "scheduler.jobs": mean(lambda op: len(op["trace"]["jobs"])),
        "scheduler.stages": tr("stages"),
        "scheduler.tasks": tr("tasks"),
        "scheduler.busy_s": mean(lambda op: stats.covered(
            op["start_ms"], op["end_ms"], jobs(op)) / 1e3),
        "scheduler.driver_only_s": mean(lambda op: stats.driver_only(
            op["start_ms"], op["end_ms"], jobs(op)) / 1e3),
        "exec.task_run_s": tr("task_run_ms", 1e-3),
        "exec.task_cpu_s": tr("task_cpu_ns", 1e-9),
        "exec.gc_s": tr("task_gc_ms", 1e-3),
        "exec.core_util": sum(op["trace"]["task_busy_ms"] for op in traced)
        / (record["cores"] * sum(op["wall_s"] * 1e3 for op in traced)),
        "sources.bytes_read": tr("bytes_read"),
        "sources.records_read": tr("records_read"),
        "sinks.bytes_written": tr("bytes_written"),
        "sinks.records_written": tr("records_written"),
        "shuffle.bytes_written": tr("shuffle_bytes"),
        "shuffle.records_written": tr("shuffle_records"),
        "shuffle.fetch_wait_s": tr("fetch_wait_ms", 1e-3),
        "materialize.rdds_created": tr("rdds_created"),
        "materialize.rdds_left": mean(lambda op: op["rdds_left"]),
        "materialize.bytes_peak": max(op["trace"]["stored_peak_bytes"] for op in traced),
        "driver.gc_s": mean(lambda op: op["driver_gc_ms"] / 1e3),
    }
    steps = record.get("steps") or {}
    for name in PER_LAYER:
        if name.startswith("pipeline.") and name != "pipeline.overlap":
            m[name] = steps.get(name[len("pipeline."):-2], 0.0)
    m["pipeline.overlap"] = (sum(steps.values()) / statistics.median(
        [op["wall_s"] for op in ops]) if steps else 0.0)
    # the first pass (first build) is still warming: leave it out
    warm = [op for op in ops if op["pass"] > 0]
    ratios = []
    for name in sorted({op["name"] for op in warm}):
        on = [op["wall_s"] for op in warm if op["name"] == name and op["traced"]]
        off = [op["wall_s"] for op in warm if op["name"] == name and not op["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off) - 1)
    m["trace.overhead"] = statistics.median(ratios) if ratios else 0.0
    return m


def summary(workload, metrics, units, ops, failed, attempted):
    walls = [op["wall_s"] for op in ops]
    tail = stats.tail_percentile(len(walls))
    lines = [f"{workload} {k} = {v:.6g} {units[k]}" for k, v in metrics.items()]
    lines.append(f"{workload} failed_frac = {failed / attempted:.6g} "
                 f"({failed} of {attempted} ops)")
    if walls:
        lines.append(f"{workload} op samples = {len(walls)}; highest percentile "
                     f"with >= 10 samples beyond it: "
                     + (f"p{tail * 100:g} = {stats.percentile(walls, tail):.6g} s"
                        if tail else "none"))
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    w = WORKLOADS[a.workload]

    import build
    try:
        build.build()
    except RuntimeError as e:
        log(f"build failed: {e}")
        return 2
    sf_dir = os.path.join(build.TESTDATA, w["data"])
    scales = {w["data"]} | {scale for scale, _ in w.get("lists", {}).values()}
    for d in sorted(os.path.join(build.TESTDATA, x) for x in scales):
        if not os.path.isdir(d):
            log(f"test data missing: {d}")
            return 2

    state = os.path.join(build.OUT, "state")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    guarded = snapshot(ROOT)
    out = os.path.join(state, "record.json")
    t_setup = time.time()
    args = ["--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out]
    if w["kind"] == "etl_star":
        import gen
        # the input's directory name keys the engine's star and fixture
        # directories: benchmark-only names under the benchmark's state
        data = os.path.join(state, "gen", f"perfbench_etl_x{w['replicas']}_s{a.seed}")
        os.makedirs(data)
        input_rows = gen.generate(sf_dir, data + "_log", a.seed, w["replicas"])
        args += ["--workload", "etl_star", "--data", data, "--log", data + "_log",
                 "--warm-builds", str(w["warm_builds"])]
    else:
        data_of = {q: os.path.join(build.TESTDATA, scale)
                   for scale, qs in w["lists"].values() for q in qs}
        verify_dir = os.path.join(state, "verify")
        import duckdb
        con = duckdb.connect()
        # rows of every input table, once per scale a list reads
        input_rows = sum(con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
                         for scale in sorted({s for s, _ in w["lists"].values()})
                         for p in sorted(glob.glob(os.path.join(build.TESTDATA, scale,
                                                                "*.parquet"))))
        con.close()
        args += ["--workload", "catalog", "--data", sf_dir, "--verify-dir", verify_dir,
                 "--queries", ",".join(f"{q}@{d}" for q, d in data_of.items()),
                 "--warm-passes", str(w["warm_passes"])]
    log(f"inputs ready after {time.time() - t_setup:.1f} s")
    # a traced run interleaves traced and untraced ops: twice the ops
    args += ["--min-ops", str(w["passes"] * (2 if a.trace else 1))]
    rc = jvm(state, args)
    if rc != 0 or not os.path.exists(out):
        log(f"JVM exited with code {rc}")
        return 1
    with open(out) as fh:
        record = json.load(fh)
    setup_s = record["first_op_ms"] / 1e3 - t_setup
    ops = record["ops"]

    if w["kind"] == "etl_star":
        problems, expected = check_etl(record, state)
        log(f"oracle star counts: {expected}")
        wrong = set(problems)
    else:
        problems = check_catalog(record, data_of, verify_dir, state)
        wrong = {i for i, op in enumerate(ops) if op["name"] in problems}
    for k, problem in problems.items():
        log(f"WRONG {k}: {problem}")
    failed = sum(1 for i, op in enumerate(ops) if not op["ok"] or i in wrong)
    attempted = len(ops)
    isolated = snapshot(ROOT) == guarded
    if not isolated:
        log("engine state under work/star or work/fixtures changed during the run")
    correct = failed == 0 and isolated and not record.get("warm_failures")

    good = [op for i, op in enumerate(ops) if op["ok"] and i not in wrong]
    if not good:
        log("no op succeeded; nothing to measure")
        return 1
    if a.trace:
        metrics = per_layer(record, good)
        units = PER_LAYER
    else:
        slowdown = host_slowdown(record)
        metrics = end_to_end(record, good, setup_s, input_rows, w["passes"], slowdown)
        units = END_TO_END
        raw = end_to_end(record, good, setup_s, input_rows, w["passes"])
        print(f"{a.workload} host slowdown = {slowdown:.4g} (median calibration round "
              f"{slowdown * REF_ROUND_S:.4g} s over {REF_ROUND_S} s); as measured: "
              + "; ".join(f"{k} = {raw[k]:.6g} {units[k]}"
                          for k in ("setup_s", "op_p50_s", "pass_s", "rows_per_s")))
    for line in summary(a.workload, metrics, units, good, failed, attempted):
        print(line)
    if "lists" in w:
        for line in by_list(a.workload, w["lists"], good):
            print(line)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
