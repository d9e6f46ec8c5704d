#!/usr/bin/env python3
"""Benchmark of the graft routing pipeline (parse -> enrich -> route ->
aggregate -> commit), batch and streaming.

Run from the repository root:

    python3 perfbench/run.py --workload route_bucketed --seed 1 --seconds 6 --trace 0

It builds the program and the harness from source with sbt on first use,
runs the harness JVM (perfbench/src), checks every output against a
reference computed here with DuckDB from the input parquet alone, prints a
human-readable report and, as its last line, one JSON object:
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. perfbench/README.md defines every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "target"
LAUNCHER = BUILD / "launcher.txt"
STAMP = BUILD / "launcher.stamp"
WORKLOADS = ("route_bucketed", "route_skew_config")
DEADLINE_S = 170.0   # a run must end within 180 s
BUILD_TIMEOUT_S = 850.0
HEAP = "3g"

# The reference topology, written out independently of the program: the
# grok pattern and the first-match sink predicates of configs/pipeline.json
# (which equal the coded defaults).
GROK = (r"tool=([A-Za-z0-9_]+) status=([A-Za-z0-9]+) latency=([0-9]+)ms")
SINK_SQL = """CASE WHEN tool_invoked IN ('search', 'browse', 'fetch') THEN 'tool_search'
                   WHEN regexp_matches(err_code, '^E5') THEN 'errors'
                   ELSE 'rest' END"""


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build --

def sources_digest():
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    for need in ("build.sbt", "src/main/scala", "configs/pipeline.json"):
        if not (ROOT / need).exists():
            fail(f"{need} not found: run from a checkout of the repository")
    digest = sources_digest()
    if LAUNCHER.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcherFile"],
                      cwd=HERE, env=env, stdout=out, timeout=deadline - time.monotonic())
    if rc != 0 or not LAUNCHER.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    STAMP.write_text(digest)


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


# ------------------------------------------------------------------ JVM --

def jvm(args, work, deadline):
    lines = LAUNCHER.read_text().splitlines()
    cp, opts = lines[0], [l for l in lines[1:] if l]
    cmd = (["java"] + opts + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dspark.local.dir={work / 'tmp'}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--cores", str(os.cpu_count()),
        "--t0-ns", str(time.time_ns())])
    with open(work / "run.log", "w") as log:
        rc = run_proc(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                      timeout=deadline - time.monotonic())
    out = work / "run.json"
    if rc != 0 or not out.exists():
        sys.stderr.write((work / "run.log").read_text()[-4000:])
        fail(f"harness JVM exited with {rc}")
    return json.loads(out.read_text())


# ------------------------------------------------------------ reference --

def reference_check(workload, run):
    """Compare the program's outputs with a DuckDB computation over the
    input parquet. Returns a dict of mismatch counts."""
    import duckdb
    if not run["output"]:
        fail("no runBatch call succeeded, so there is no output to check")
    con = duckdb.connect()
    con.execute("SET threads = 2")
    inp = Path(run["input"])
    out = Path(run["output"])
    con.execute(f"""CREATE VIEW inp AS SELECT conv_id, turn_idx, text, ts
                    FROM read_parquet('{inp}/*.parquet')""")
    g = GROK.replace("'", "''")
    con.execute(f"""CREATE TABLE ref AS
      WITH p AS (
        SELECT *, coalesce(regexp_extract(text, '{g}', 1), '') AS tool_invoked,
                  nullif(regexp_extract(text, '{g}', 2), '') AS status,
                  nullif(regexp_extract(text, '{g}', 3), '') AS lat
        FROM inp),
      e AS (
        SELECT *, CASE WHEN regexp_matches(status, '^E[0-9]{{3}}$') THEN status END AS err_code,
                  coalesce(CAST(lat AS BIGINT), -1) AS latency_ms
        FROM p)
      SELECT *, {SINK_SQL} AS sink FROM e""")
    con.execute(f"""CREATE VIEW routed AS SELECT conv_id, turn_idx, text, sink
                    FROM read_parquet('{out}/routed/**/*.parquet', hive_partitioning = true,
                                      hive_types_autocast = false)""")
    q = lambda s: con.execute(s).fetchone()
    missing = q("SELECT count(*) FROM (SELECT conv_id, turn_idx, text, sink FROM ref "
                "EXCEPT ALL SELECT * FROM routed)")[0]
    extra = q("SELECT count(*) FROM (SELECT * FROM routed "
              "EXCEPT ALL SELECT conv_id, turn_idx, text, sink FROM ref)")[0]
    h_in = q("SELECT count(*), sum(hash(conv_id, turn_idx, text)::HUGEINT) FROM inp")
    h_out = q("SELECT count(*), sum(hash(conv_id, turn_idx, text)::HUGEINT) FROM routed")
    sink_wrong = q(f"""SELECT count(*) FROM
        (SELECT sink, count(*) AS n FROM ref GROUP BY sink) r
        FULL OUTER JOIN
        (SELECT sink, sum(n_turns) AS n FROM read_parquet('{out}/sink_counts/**/*.parquet')
         GROUP BY sink) o USING (sink)
        WHERE r.n IS DISTINCT FROM o.n""")[0]
    res = {"routed_missing": missing, "routed_extra": extra,
           "routed_hash_equal": h_in == h_out, "input_rows": h_in[0],
           "sink_count_rows_wrong": sink_wrong, "rollup_rows_wrong": 0,
           "known_defect_rows": 0}
    if (out / "conv_rollup").exists():
        con.execute(f"""CREATE TABLE cmp AS
          WITH r AS (
            SELECT conv_id, count(*) AS n_turns, count(err_code) AS n_errors,
                   count(DISTINCT tool_invoked) FILTER (WHERE tool_invoked NOT IN ('', 'none'))
                     AS n_tools_distinct,
                   min(ts) AS first_ts, max(ts) AS last_ts, sum(latency_ms) AS sum_latency_ms,
                   bool_or(tool_invoked = '') AS has_miss
            FROM ref GROUP BY conv_id),
          o AS (SELECT * FROM read_parquet('{out}/conv_rollup/*.parquet'))
          SELECT r.has_miss,
                 r.conv_id IS NULL OR o.conv_id IS NULL AS unmatched,
                 r.n_turns IS DISTINCT FROM o.n_turns OR r.n_errors IS DISTINCT FROM o.n_errors
                   OR r.first_ts IS DISTINCT FROM o.first_ts OR r.last_ts IS DISTINCT FROM o.last_ts
                   OR r.sum_latency_ms IS DISTINCT FROM o.sum_latency_ms AS other_wrong,
                 o.n_tools_distinct - r.n_tools_distinct AS tools_diff
          FROM r FULL OUTER JOIN o USING (conv_id)""")
        res["rollup_rows_wrong"] = q("""SELECT count(*) FROM cmp WHERE unmatched OR other_wrong
                                        OR tools_diff IS DISTINCT FROM 0""")[0]
        # A known defect (ROADMAP.md, "one routing core"): the config path's
        # set-based rollup counts a grok miss ("") as a tool, so a
        # conversation with a miss reports one tool too many. Those rows,
        # and only those, are explained.
        if workload == "route_skew_config":
            res["known_defect_rows"] = q("""SELECT count(*) FROM cmp WHERE NOT unmatched
                AND NOT other_wrong AND tools_diff = 1 AND has_miss""")[0]
    res["wrong_rows"] = (missing + extra + sink_wrong + res["rollup_rows_wrong"])
    res["unexplained_rows"] = res["wrong_rows"] - res["known_defect_rows"]
    res["correct"] = (res["unexplained_rows"] == 0 and res["routed_hash_equal"]
                      and h_in[0] == run["input_rows"])
    con.close()
    return res


# -------------------------------------------------------------- metrics --

def median(xs):
    return statistics.median(xs) if xs else None


def summary(xs):
    """Median, the highest percentile with at least ten samples beyond it
    (None when the sample is too small for one) and the sample count."""
    xs = sorted(xs)
    n = len(xs)
    hi = (round(100 * (n - 10) / n), xs[n - 11]) if n >= 20 else None
    return {"median": median(xs), "p_hi": hi, "n": n}


def end_to_end(run):
    calls = run["calls"]
    ok = lambda ph: [c["s"] for c in calls if c["phase"] == ph and c["ok"]]
    cold, warm = ok("cold"), ok("warm")
    batch_s = median(warm)
    m = {"setup_s": run["setup_s"],
         "batch_s": batch_s,
         "turns_per_s": run["input_rows"] / batch_s if warm else None}
    info = {"cold_batch_s": cold[0] if cold else None,
            "gen_s": run["gen_s"], "input_rows": run["input_rows"],
            "batch_s": summary(warm),
            "peak_heap_mb": run["peak_heap_mb"],
            "calls_s": [(c["phase"], c.get("s")) for c in calls],
            "errors": [c["error"] for c in calls if not c["ok"]]}
    return m, info


LEDGER = ("scan.s", "parse.s", "enrich.s", "route.s", "commit.persist_s",
          "aggregate.partials_s", "aggregate.final_s", "commit.routed_write_s",
          "commit.tables_s", "commit.lineage_s", "commit.readback_s")


def calls_counts(run):
    """(attempted, failed) calls of runBatch; a failed call is left out of
    every timing."""
    return len(run["calls"]), sum(1 for c in run["calls"] if not c["ok"])


def per_layer(run, work):
    sp = {s["name"]: s for s in run["replay-2"]["spans"]}
    T = lambda n: sp[n]["s"] if n in sp else 0.0
    rows = sp["scan"]["counts"]["rows"]
    m = {
        "scan.s": T("scan"), "scan.rows": rows,
        "scan.input_bytes": sp["scan"]["tasks"]["input_bytes"],
        "parse.s": T("parse") - T("scan"), "enrich.s": T("enrich") - T("parse"),
        "route.s": T("route") - T("enrich"),
        "parse.hit_ratio": sp["parse"]["counts"]["hits"] / rows,
        "enrich.default_ratio": sp["enrich"]["counts"]["defaulted"] / rows,
    }
    for s in ("tool_search", "errors", "rest"):
        m[f"route.rows.{s}"] = sp["route"]["counts"][f"sink.{s}"]
    agg = [sp[n] for n in ("partials", "final") if n in sp]
    if "partials" in sp:
        m["aggregate.partials_s"] = T("partials")
        m["aggregate.final_s"] = T("final")
        m["aggregate.partial_rows"] = sp["partials"]["counts"]["rows"] / rows
    else:
        # the config path has no partials frame: the map-side stages of its
        # aggregates, which read the routed rows, are the partial aggregation
        maps = [st for st in sp["final"]["tasks"]["stages"]
                if not st["reads_shuffle"] and st["shuffle_write_records"] > 0]
        m["aggregate.partials_s"] = min(T("final"), sum(st["wall_s"] for st in maps))
        m["aggregate.final_s"] = T("final") - m["aggregate.partials_s"]
        m["aggregate.partial_rows"] = sum(st["shuffle_write_records"] for st in maps) / rows
    m["aggregate.shuffle_bytes"] = sum(s["tasks"]["shuffle_write_bytes"] for s in agg)
    m["aggregate.spill_bytes"] = sum(s["tasks"]["disk_spill_bytes"] for s in agg)
    m["aggregate.task_skew"] = skew([st for s in agg for st in s["tasks"]["stages"]],
                                    reduce_only=True)
    m["commit.persist_s"] = T("persist") - T("route")
    m["commit.routed_write_s"] = T("routed_write")
    m["commit.tables_s"] = T("tables") - T("final")
    m["commit.lineage_s"] = T("lineage")
    m["commit.readback_s"] = T("readback")
    files = [p for p in (work / "out" / "replay-2" / "routed").rglob("part-*") if p.is_file()]
    m["commit.files"] = len(files)
    m["commit.bytes"] = sum(p.stat().st_size for p in files)
    m["commit.spill_bytes"] = sp["routed_write"]["tasks"]["disk_spill_bytes"]
    m["commit.task_skew"] = skew(sp["routed_write"]["tasks"]["stages"], reduce_only=False)
    batches = run["drain"]["batches"]
    d = lambda k: median([b["duration_ms"].get(k, 0) / 1e3 for b in batches])
    m.update({"streaming.batches": len(batches),
              "streaming.rows_per_batch": median([b["rows"] for b in batches]),
              "streaming.add_batch_s": d("addBatch"),
              "streaming.wal_commit_s": d("walCommit"),
              "streaming.planning_s": d("queryPlanning")})
    after = [c for c in run["calls"] if c["phase"] == "after_replay" and c["ok"]]
    untraced = median([c["s"] for c in after])
    one = [c["s"] for c in run["calls"] if c["phase"] == "one_core" and c["ok"]]
    m["scaling_eff"] = median(one) / (os.cpu_count() * untraced) if one else None
    m["cold_batch_s"] = next((c["s"] for c in run["calls"] if c["phase"] == "cold" and c["ok"]),
                             None)
    m["jvm.gc_s"] = median([c["gc_s"] for c in after])
    m["jvm.peak_heap_mb"] = run["peak_heap_mb"]
    # The ledger: every layer's self time. Scan..route and persist add up to
    # the persist job, which re-runs scan..route.
    ledger = sum(m[k] for k in LEDGER)
    m["trace.unattributed_s"] = untraced - ledger
    m["trace.overhead_s"] = T("commit_chain") - untraced
    return m, {"ledger_s": ledger, "untraced_batch_s": untraced,
               "ledger_gap": (untraced - ledger) / untraced}


def skew(stages, reduce_only):
    """max / median task time, worst stage with at least two tasks."""
    pick = [st for st in stages if len(st["task_ms"]) >= 2 and
            (st["reads_shuffle"] or not reduce_only)]
    if reduce_only and not pick:
        pick = [st for st in stages if len(st["task_ms"]) >= 2]
    vals = [max(st["task_ms"]) / max(1.0, statistics.median(st["task_ms"])) for st in pick]
    return max(vals) if vals else 1.0


E2E_UNITS = {"setup_s": "s", "batch_s": "s", "turns_per_s": "1/s"}
LAYER_UNITS = {
    "scan.s": "s", "scan.rows": "count", "scan.input_bytes": "bytes",
    "parse.s": "s", "enrich.s": "s", "route.s": "s",
    "parse.hit_ratio": "ratio", "enrich.default_ratio": "ratio",
    "route.rows.tool_search": "count", "route.rows.errors": "count",
    "route.rows.rest": "count",
    "aggregate.partials_s": "s", "aggregate.partial_rows": "ratio",
    "aggregate.shuffle_bytes": "bytes", "aggregate.spill_bytes": "bytes",
    "aggregate.task_skew": "ratio", "aggregate.final_s": "s",
    "commit.persist_s": "s", "commit.routed_write_s": "s", "commit.files": "count",
    "commit.bytes": "bytes", "commit.spill_bytes": "bytes", "commit.task_skew": "ratio",
    "commit.tables_s": "s", "commit.lineage_s": "s", "commit.readback_s": "s",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.planning_s": "s",
    "jvm.gc_s": "s", "jvm.peak_heap_mb": "MB", "cold_batch_s": "s", "scaling_eff": "ratio",
    "trace.unattributed_s": "s", "trace.overhead_s": "s",
    "check.wrong_rows": "count"}


def fingerprint(plans):
    return hashlib.sha256("\n--\n".join(plans).encode()).hexdigest()[:16]


def obs_report(run):
    """The obsreport counters of one warm call and whether the routed rows
    they report equal the input rows."""
    obs = run.get("obs", {})
    return {"counters": obs, "route_sent_equals_input": obs.get("route/sent") == run["input_rows"]}


def fmt(v):
    return "n/a" if v is None else (f"{v:.6g}" if isinstance(v, float) else str(v))


def print_report(args, metrics, units, info, check, report):
    print(f"== perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={os.cpu_count()}")
    for k in units:
        print(f"  {k:28s} {fmt(metrics.get(k)):>14s} {units[k]}")
    for k, v in info.items():
        print(f"  {k:28s} {v}")
    print(f"  wrong_rows                   {check['wrong_rows']} "
          f"(known config-path n_tools_distinct defect: {check['known_defect_rows']}, "
          f"unexplained: {check['unexplained_rows']})")
    print(f"  reference check              {json.dumps(check)}")
    print(f"  plan fingerprint             {report['plan_fingerprint']} "
          f"({len(report['plan'])} queries)")
    print(f"  obsreport                    {json.dumps(report['obs'])}")


# ----------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    build(t_start + BUILD_TIMEOUT_S)
    deadline = time.monotonic() + DEADLINE_S
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        run = jvm(args, work, deadline)
        check = reference_check(args.workload, run)
        attempted, failed = calls_counts(run)
        if args.trace == 0:
            metrics, info = end_to_end(run)
            units = E2E_UNITS
        else:
            metrics, info = per_layer(run, work)
            metrics["check.wrong_rows"] = check["wrong_rows"]
            units = LAYER_UNITS
        info["error_rate"] = failed / attempted
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "metrics": metrics, "info": info, "check": check,
                  "plan_fingerprint": fingerprint(run["plan"]), "plan": run["plan"],
                  "obs": obs_report(run),
                  "spans": [s for r in ("replay-1", "replay-2") for s in run.get(r, {}).get("spans", [])]}
        reports = HERE / ".work" / "reports"
        reports.mkdir(exist_ok=True)
        (reports / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
            json.dumps(report, indent=1, default=str))
        print_report(args, metrics, units, info, check, report)
        missing = [k for k in units if metrics.get(k) is None]
        if missing:
            fail(f"no value for {missing}: every call failed")
        print(json.dumps({
            "correct": bool(check["correct"]), "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
