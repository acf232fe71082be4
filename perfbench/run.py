#!/usr/bin/env python3
"""Benchmark of the reference pipeline: takeout -> sessions -> embeddings ->
thresholds -> merge -> similarity graph -> interests -> clusters -> store,
plus sensor ticks with concurrent lookups and a hot-query mix.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_wide --seed 1 --seconds 10 --trace 0

It builds the program and the benchmark's JVM side from source on first use
(into `.bench_build/`), generates the seeded inputs, runs one JVM on
`local[N]` with N = the number of CPUs, checks every output, and prints a
report followed by one JSON line: `correct`, `attempted`, `failed` and the
metrics (end-to-end with `--trace 0`, per-layer with `--trace 1`).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_takeout  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) if os.path.exists(
    os.path.join(ROOT, "BENCHMARK.json")) else None

# Share of --seconds each timed phase gets. Each phase also runs a minimum
# number of operations, so a run always has enough samples.
SHARES = {"batch": 0.5, "ticks": 0.3, "queries": 0.2}
# Sensor ticks and the hot-query mix run in traced runs only: with their cold
# warm-ups they add about 30 s to a run on 4 cores, and the benchmark's 48
# runs must fit in under an hour.
QUERIES = ["q46_simhash", "q208_setsim_join", "q204_kcore"]
JVM_TIMEOUT_S = 170
# Offline: the toolchain's dependency caches are pre-warmed. Temp files go
# under .bench_build/ and no server socket opens; the one write outside the
# checkout left is the sbt launcher's lock on its shared boot directory.
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.server.autostart=false", "-Djna.tmpdir=" + os.path.join(BUILD, "tmp")]),
    "TMPDIR": os.path.join(BUILD, "tmp"),
    # every JVM the sbt runner starts, its version probe included
    "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_key():
    h = hashlib.sha256()
    for base in ["src/main/scala", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"]:
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile the program and the JVM side once per source state; returns
    the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        die("no program sources under src/main/scala: run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    key, cp_file, key_file = source_key(), os.path.join(BUILD, "classpath"), os.path.join(BUILD, "key")
    if os.path.exists(cp_file) and os.path.exists(key_file) and open(key_file).read() == key:
        return open(cp_file).read().strip()
    env = dict(os.environ, **SBT_ENV)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed, see {log}", 3)
    open(cp_file, "w").write(lines[-1])
    open(key_file, "w").write(key)
    return lines[-1]


# ------------------------------------------------------------------ run

def land(work, schedule, t0_ms, landed):
    """Open-loop arrivals: user i is due at t0 + schedule[i]; its directory
    moves from staged/ into ticks/ by one atomic rename."""
    for user, due_s in schedule:
        due = t0_ms / 1000.0 + due_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(work, "staged", user), os.path.join(work, "ticks", user))
        landed[user] = (due * 1000.0, time.time() * 1000.0)
    tmp = os.path.join(work, "arrivals.tmp")
    open(tmp, "w").close()
    os.rename(tmp, os.path.join(work, "arrivals.done"))


def run_jvm(cp, work, config):
    cfg_path = os.path.join(work, "config.json")
    json.dump(config, open(cfg_path, "w"))
    # a fixed heap: the peak resident set then does not depend on how far
    # the collector chose to grow the heap in this run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *ADD_OPENS, "-cp", cp, "perfbench.Main", cfg_path]
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    landed = {}
    err = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=err, stdin=subprocess.DEVNULL, text=True)
    killer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    killer.start()
    lander = None
    try:
        for line in proc.stdout:
            if line.startswith("TICKS ") and lander is None:
                lander = threading.Thread(target=land, daemon=True, args=(
                    work, config["schedule"], int(line.split()[1]), landed))
                lander.start()
        rc = proc.wait()
    finally:
        killer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        err.close()
    if lander is not None:
        lander.join(timeout=5)
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-25:]
        die("benchmark JVM failed (exit %s):\n%s" % (rc, "\n".join(tail)), 4)
    return json.load(open(os.path.join(work, "result.json"))), landed


# ------------------------------------------------------------------ checks

def oracle_check(work, result):
    """Every query result of every timed pass against its DuckDB oracle.
    Returns {(pass, query): ok}."""
    import duckdb
    con = duckdb.connect()
    for t in ["documents", "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/tables/{t}.parquet'")

    def rows(rel_cols, rel_rows):
        order = sorted(range(len(rel_cols)), key=lambda i: rel_cols[i])
        norm = [tuple("NaN" if isinstance(r[i], float) and r[i] != r[i] else r[i] for i in order)
                for r in rel_rows]
        return sorted(rel_cols), sorted(norm, key=repr)

    expected = {}
    for q, sql in result.get("oracle_sql", {}).items():
        try:
            rel = con.sql(sql)
            expected[q] = rows(rel.columns, rel.fetchall())
        except Exception as e:  # an oracle error fails every run of the query
            expected[q] = None
            print(f"oracle {q} failed: {e}", file=sys.stderr)
    ok = {}
    for r in result.get("query_runs", []):
        key = (r["pass"], r["query"])
        if not r["ok"] or expected.get(r["query"]) is None:
            ok[key] = False
            continue
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{work}/qout/p{r['pass']}/{r['query']}/*.parquet')")
            ok[key] = rows(rel.columns, rel.fetchall()) == expected[r["query"]]
        except Exception:
            ok[key] = False
    return ok


# ------------------------------------------------------------------ metrics

def end_to_end(result, manifest):
    passes = [p for p in result["batch_passes"] if not p["traced"]]
    pipeline_s = stats.median([p["wall_s"] for p in passes])
    look = [ms for ms, _ in result["lookups"]]
    l_tail = stats.tail(look)
    m = {
        "setup_s": result["setup_s"],
        "pipeline_s": pipeline_s,
        "rows_per_s": manifest["batch"]["rows"] / pipeline_s,
        "lookup_p50_ms": stats.median(look),
        "lookup_tail_ms": l_tail.value,
        "peak_rss_mb": result["peak_rss_mb"],
    }
    notes = {"batch_passes": len(passes), "lookup_tail": l_tail.describe()}
    return m, notes


def ticks(result, landed, manifest):
    """Freshness (from each new user's due time to the end of the tick
    that made it visible), idle ticks, and the lookups beside the ticks."""
    fresh = [(result["visible_ms"][u] - due) / 1000.0
             for u, (due, _) in landed.items() if u in result["visible_ms"]]
    idle = [(t["end"] - t["start"]) / 1000.0 for t in result["ticks"] if t["idle"]]
    look = [ms for ms, _ in result["tick_lookups"]]
    f_tail, l_tail = stats.tail(fresh), stats.tail(look)
    m = {
        "pipeline.tick.freshness_p50_s": stats.median(fresh),
        "pipeline.tick.freshness_tail_s": f_tail.value,
        "pipeline.tick.idle_wall_s": stats.median(idle),
        "sources.lookup.beside_ticks_p50_ms": stats.median(look),
        "sources.lookup.beside_ticks_tail_ms": l_tail.value,
    }
    lateness = [(act - due) / 1000.0 for due, act in landed.values()]
    notes = {
        "freshness_tail": f_tail.describe(), "lookup_beside_ticks_tail": l_tail.describe(),
        "idle_ticks": len(idle), "ticks": len(result["ticks"]), "arrivals_landed": len(landed),
        "arrival_rate_users_per_s": manifest["rate_users_per_s"],
        "generator_lateness_max_s": round(max(lateness), 4) if lateness else 0.0,
        "backlog_at_end": len(landed) - len([u for u in landed if u in result["visible_ms"]]),
    }
    return m, notes


LAYER_SPANS = ["pipeline.ingest", "operators.sessions", "operators.thresholds",
               "operators.merge", "operators.graph", "operators.interests",
               "cluster.clusters", "sources.upsert", "pipeline.tick", "sources.lookup"]
SPAN_COUNTERS = ["wall_s", "driver_s", "jobs", "cpu_s", "shuffle_mb", "spill_mb"]
QUERY_COUNTERS = ["wall_s", "jobs", "driver_s", "cpu_s"]
TICK_DURATIONS = {"latest_offset_ms": "latestOffset", "query_planning_ms": "queryPlanning",
                  "add_batch_ms": "addBatch", "wal_commit_ms": "walCommit"}


def per_layer(result, landed, manifest):
    spans = result["spans"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def self_s(s):
        return s["wall_s"] - sum(c["wall_s"] for c in children.get(s["group"], []))

    m = {}
    for name in LAYER_SPANS:
        for c in SPAN_COUNTERS:
            m[f"{name}.{c}"] = stats.median([s[c] for s in by_name[name]])
    traced = [s for s in by_name.get("pipeline.pass", [])
              if children.get(s["group"])]
    plain = [s for s in by_name.get("pipeline.pass", []) if not children.get(s["group"])]
    m["pipeline.pass.wall_s"] = stats.median([s["wall_s"] for s in traced])
    m["pipeline.pass.self_s"] = stats.median([self_s(s) for s in traced])
    m["queries.mix_s"] = stats.median(result["query_passes"])
    m["trace.overhead_s"] = m["pipeline.pass.wall_s"] - stats.median([s["wall_s"] for s in plain])
    m["sources.upsert.files"] = result["upsert_files"]["files"]
    m["sources.upsert.mb"] = result["upsert_files"]["mb"]
    data_ticks = [s for s in by_name.get("pipeline.tick", []) if s["progress"] and any(
        p["input_rows"] > 0 for p in s["progress"])]
    for metric, key in TICK_DURATIONS.items():
        m[f"streaming.tick.{metric}"] = stats.median(
            [sum(p["duration_ms"].get(key, 0) for p in s["progress"]) for s in data_ticks])
    for q in QUERIES:
        ss = [s for s in by_name.get(f"queries.{q}", []) if s["parent"] is None]
        for c in QUERY_COUNTERS:
            m[f"queries.{q}.{c}"] = stats.median([s[c] for s in ss])
    passes = result["batch_passes"]
    needed = manifest["batch"]["recent_chunks"] + 2 * manifest["batch"]["full_chunks"]
    prompts = [p["session_prompts"] + p["interest_prompts"] for p in passes]
    m["enrich.llm_prompts"] = stats.median(prompts)
    m["enrich.embed_texts"] = stats.median([p["embed_texts"] for p in passes])
    m["enrich.busy_s"] = stats.median([p["enrich_busy_s"] for p in passes])
    m["enrich.prompt_ratio"] = stats.median(prompts) / needed
    timed = [s for s in spans if not s["name"].startswith("setup.") and s["name"] != "checks"]
    m["total.tasks"] = sum(s["tasks"] for s in timed)
    m["total.gc_s"] = sum(s["gc_s"] for s in timed)
    m.update(ticks(result, landed, manifest)[0])
    return m


def failures(result, oracle_ok):
    """(attempted, failed) over timed operations: passes, ticks, lookups and
    query runs; a failed output check fails the operation it checks."""
    checks = result["checks"]
    pass_bad = sum(1 for ok in checks["batch_passes_ok"] if not ok)
    lookups = result["lookups"] + result.get("tick_lookups", [])
    look_bad = sum(1 for _, ok in lookups if not ok)
    query_bad = sum(1 for ok in oracle_ok.values() if not ok)
    tick_runs = result.get("ticks", [])
    # a wrong tick store fails the ticks; a user never made visible fails one
    tick_bad = sum(1 for t in tick_runs if not t["ok"])
    if tick_runs:
        tick_bad += (not checks["tick_store_ok"]) + (len(result["visible_ms"]) < result["arrivals"])
    attempted = (len(result["batch_passes"]) + len(tick_runs) + len(lookups)
                 + len(result.get("query_runs", [])))
    return attempted, pass_bad + tick_bad + look_bad + query_bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen_takeout.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()
    if SPEC is None:
        die("BENCHMARK.json not found: run from the root of a checkout")

    cp = build()
    t_start = time.time()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        import gen_tables
        manifest = gen_takeout.make_inputs(work, args.workload, args.seed,
                                           args.seconds * SHARES["ticks"])
        gen_tables.write_tables(os.path.join(work, "tables"))
        config = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": os.cpu_count(), "work": work,
            "batch_root": os.path.join(work, "batch"), "staged_root": os.path.join(work, "staged"),
            "tick_root": os.path.join(work, "ticks"),
            "tables": os.path.join(work, "tables"), "queries": QUERIES if args.trace else [],
            "shares": SHARES,
            "arrivals": len(manifest["schedule"]), "schedule": manifest["schedule"],
            "min_passes": 1 + args.trace, "min_query_passes": 1, "min_idle_ticks": 2,
            "check_users": gen_takeout.SHAPES[args.workload]["check_users"],
            "lookups": 25, "lookup_think_ms": 20, "drain_ms": 30000,
        }
        t_gen = time.time()
        result, landed = run_jvm(cp, work, config)
        t_jvm = time.time()
        oracle_ok = oracle_check(work, result)
        print(f"[perfbench] inputs {t_gen - t_start:.1f} s, jvm {t_jvm - t_gen:.1f} s, "
              f"oracle {time.time() - t_jvm:.1f} s", file=sys.stderr)
        attempted, failed = failures(result, oracle_ok)
        e2e, notes = end_to_end(result, manifest)
        if args.trace:
            notes.update(ticks(result, landed, manifest)[1])
        correct = (failed == 0 and not result["failures"]
                   and result["checks"]["null_timestamps"] == 0)
        names = SPEC["per_layer"] if args.trace else SPEC["end_to_end"]
        values = per_layer(result, landed, manifest) if args.trace else e2e
        units = {x["name"]: x["unit"] for x in names}
        for k, v in e2e.items():
            print(f"{k:>22} {v:14.4f} {next((x['unit'] for x in SPEC['end_to_end'] if x['name'] == k), '')}")
        print(f"{'failed_ops_frac':>22} {failed / attempted:14.4f} fraction ({failed}/{attempted})")
        for k, v in notes.items():
            print(f"{k:>22} {v}")
        for f in result["failures"]:
            print(f"failure: {f}")
        if args.trace:
            print(f"{'unattributed_jobs':>22} {result['unattributed_jobs']}")
            print(f"{'misattributed_jobs':>22} {result['misattributed_jobs']}")
            json.dump(result["spans"], open(os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.json"), "w"))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}))
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
