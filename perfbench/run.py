#!/usr/bin/env python3
"""spark-graft benchmark: one closed-loop client, one query at a time.

    python3 perfbench/run.py --workload tpch_small --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the engine and the
harness in perfbench/harness (sbt, offline) and later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed into
.bench_build/data/<seed> and reused while their fingerprint matches. The
JVM (perfbench/harness, graftbench.Harness) sets up, runs one untimed
warm-up pass and then timed passes for --seconds; this script checks the
warm-up pass's outputs against the engine's DuckDB oracles, prints every metric by name with its unit, and ends
with one JSON line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

TPCH = ["q1_agg", "q2_min_supp", "q3_shipping_priority", "q4_order_priority",
        "q5_local_supplier", "q6_forecast", "q7_volume_shipping", "q8_market_share",
        "q9_product_profit", "q10_returned_items", "q11_important_parts",
        "q12_priority_lines", "q13_cust_distribution", "q14_promo_effect",
        "q15_top_supplier", "q16_supplier_count", "q17_small_qty", "q18_large_volume",
        "q19_disjunctive", "q20_excess_supp", "q21_waiting_supp", "q22_global_sales"]

# name -> (queries of one pass, warm-up queries run by every set-up). The
# set-up warm-up is a row no workload measures.
WORKLOADS = {
    # the 22 TPC-H rows: per-job and per-stage fixed cost
    "tpch_small": (TPCH, ["agg_global"]),
    # one row for three of the eight families whose constructor runs
    # micro-batches, one per declaring module: relay sinks, checkpoints and
    # RocksDB state
    "stream": (["fsql_stream_tumble", "stream_interval_join", "queryable_state"],
               ["agg_global"]),
}

# construct layer: the engine module whose builder declares the row; rows
# not listed (the TPC-H rows) come from graft.operators
MODULE_PREFIXES = [("fsql_", "sql"), ("queryable_state", "streaming")]
MODULES = ["operators", "sql", "streaming", "pipeline", "graph"]

SETUPS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 165
EXIT_GRACE_S = 20
BUILD_TIMEOUT_S = 850
WORK = ".bench_build"
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def module_of(query):
    for prefix, module in MODULE_PREFIXES:
        if query.startswith(prefix):
            return module
    return "operators"


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties"]
    for root in ["src/main", "perfbench/harness/src", "perfbench/harness/build.sbt",
                 "perfbench/harness/project/build.properties"]:
        if os.path.isdir(root):
            files += [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        else:
            files.append(root)
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, done=None, **kw):
    """Run `cmd` in its own process group and return its exit code. If it
    times out, or this script is interrupted or terminated, kill the whole
    group and wait for it, so no process outlives the benchmark. Once the
    file `done` exists the command has delivered its result; if it has not
    exited EXIT_GRACE_S later, it is killed and counts as a success."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    deadline = time.time() + timeout
    try:
        while p.poll() is None:
            if time.time() > deadline:
                raise RuntimeError(f"{cmd[0]} did not finish within {timeout} s")
            if done and os.path.exists(done):
                try:
                    return p.wait(timeout=EXIT_GRACE_S)
                except subprocess.TimeoutExpired:
                    log(f"[perfbench] {cmd[0]} wrote its result but did not exit; killed")
                    return 0
            time.sleep(0.2)
        return p.returncode
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    stamp = os.path.join(WORK, "build", "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["sources"] == digest:
            return saved["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.repository.config="
                        + os.path.expanduser("~/.sbt/repositories")
                        + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")
    out = os.path.join(WORK, "build", "sbt.log")
    log("[perfbench] building engine and harness (sbt)")
    with open(out, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd="perfbench/harness", env=env, stdout=fh, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    with open(out) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        log("\n".join(lines[-30:]))
        raise RuntimeError(f"build failed (rc={rc})")
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cp[-1]}, f)
    return cp[-1]


# ---------------------------------------------------------------- inputs

def inputs(seed):
    """The generated tables for `seed`, regenerated unless they were written
    by this generator and their bytes still match the recorded fingerprint."""
    data = os.path.abspath(os.path.join(WORK, "data", str(seed)))
    manifest_path = os.path.join(data, "manifest.json")
    with open(gen.__file__, "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        try:
            if (manifest.get("generator") == generator
                    and gen.fingerprint(data) == manifest["fingerprint"]):
                return data, manifest
        except OSError:
            pass
    shutil.rmtree(data, ignore_errors=True)
    t0 = time.time()
    tables, fp = gen.generate(seed, data)
    manifest = {"seed": seed, "generator": generator, "fingerprint": fp, "tables": tables,
                "generate_s": time.time() - t0}
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return data, manifest


# ---------------------------------------------------------------- engine run

def run_harness(classpath, workload, data, seconds, trace, cpus):
    queries, warmups = WORKLOADS[workload]
    work = os.path.abspath(os.path.join(WORK, "work", workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "out")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Harness", data, out, str(seconds), str(trace),
              str(SETUPS), str(cpus), ",".join(warmups), ",".join(queries)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    jvm_log = os.path.join(work, "jvm.log")
    result = os.path.join(out, "result.json")
    with open(jvm_log, "w") as fh:
        rc = run_group(cmd, JVM_TIMEOUT_S, done=result, cwd=work, env=env, stdout=fh,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(result):
        with open(jvm_log, errors="replace") as fh:
            log("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"harness failed (rc={rc})")
    with open(result) as f:
        res = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        res["oracles"] = json.load(f)
    res["out"] = out
    return res


# ---------------------------------------------------------------- correctness

def _normalize(df):
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_with_oracle(con, sql, rows_file):
    """None when the engine's rows equal the oracle's, else a reason."""
    import numpy as np
    import pandas as pd
    with open(rows_file) as f:
        dump = json.load(f)
    got = pd.DataFrame(dump["rows"], columns=dump["columns"])
    exp = con.execute(sql).fetchdf()
    # the engine writes timestamps and dates as text; render the oracle's alike
    for c in exp.columns:
        if pd.api.types.is_datetime64_any_dtype(exp[c]):
            exp[c] = exp[c].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif exp[c].dtype == object:
            exp[c] = exp[c].map(lambda v: v.isoformat() if hasattr(v, "isoformat") else v)
    g, e = _normalize(got), _normalize(exp)
    if list(g.columns) != list(e.columns):
        return f"schema {list(g.columns)} vs oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows vs oracle {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_numeric_dtype(gv) and pd.api.types.is_numeric_dtype(ev):
            ok = np.isclose(gv.astype(float), ev.astype(float), rtol=1e-9, atol=1e-9,
                            equal_nan=True)
        else:
            ok = gv.astype(str).values == ev.astype(str).values
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} values differ"
    return None


def verify(res, data):
    """Queries whose output in the warm-up pass is wrong, with the reason."""
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    wrong = {}
    for e in res["warm_pass"]["executions"]:
        q = e["query"]
        if e["error"]:
            wrong[q] = e["error"]
        elif q in res["oracles"]:
            try:
                reason = compare_with_oracle(con, res["oracles"][q],
                                             os.path.join(res["out"], "rows", f"{q}.json"))
            except Exception as ex:  # an oracle that cannot run is a failed check
                reason = f"oracle check raised {type(ex).__name__}: {ex}"
            if reason:
                wrong[q] = reason
    return wrong


# ---------------------------------------------------------------- metrics

def end_to_end(passes, setups, peak_rss):
    execs = [e for p in passes for e in p["executions"]]
    tail_v, tail_pct, tail_n = stats.tail([e["seconds"] for e in execs])
    m = {
        "pass_s": (stats.median([p["seconds"] for p in passes]), "s"),
        "query_p50_s": (stats.median([e["seconds"] for e in execs]), "s"),
        "query_tail_s": (tail_v, "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in passes]), "s"),
        "setup_s": (stats.median(setups), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    return m, (tail_pct, tail_n)


def per_layer(res, cpus):
    passes = res["traced_passes"]
    tr = res["trace"]
    n = len(passes)
    windows = [(p["start_ms"], p["end_ms"]) for p in passes]
    wall_s = sum(p["seconds"] for p in passes)

    def inside(t):
        return any(s <= t <= e for s, e in windows)

    spans = tr["spans"]
    jobs = [j for j in tr["jobs"] if inside(j["start_ms"])]
    for j in jobs:
        j.setdefault("end_ms", j["start_ms"])
    job_stage_ids = {sid for j in jobs for sid in j["stage_ids"]}
    stages = [s for s in tr["stages"] if int(s["stage_id"]) in job_stage_ids]
    batches = [b for b in tr["batches"] if inside(b["start_ms"])]
    for b in batches:
        b["end_ms"] = b["start_ms"] + b["duration_ms"].get("triggerExecution", 0.0)
    execs = [e for p in passes for e in p["executions"]]

    def phase(name):
        return [s for s in spans if s["name"] == name]

    def within(span, events):
        return [(x["start_ms"], x["end_ms"]) for x in events
                if span["start_ms"] <= x["start_ms"] <= span["end_ms"]]

    def dur_s(ss):
        return sum(s["end_ms"] - s["start_ms"] for s in ss) / 1000.0

    def stage_sum(k):
        return sum(s.get(k, 0.0) for s in stages)

    m = {}
    construct = phase("construct")
    for mod in MODULES:
        m[f"construct.{mod}_s"] = (dur_s([s for s in construct if module_of(s["query"]) == mod]) / n, "s")
    m["construct.jobs"] = (sum(len(within(s, jobs)) for s in construct) / n, "count")
    m["construct.share"] = (dur_s(construct) / wall_s, "ratio")
    for ph in ("analysis", "optimize", "physical"):
        m[f"catalyst.{ph}_s"] = (dur_s(phase(f"catalyst.{ph}")) / n, "s")
    m["catalyst.plan_nodes"] = (sum(e["plan_nodes"] for e in execs) / n, "count")
    m["catalyst.exchanges"] = (sum(e["exchanges"] for e in execs) / n, "count")
    m["exec.jobs"] = (len(jobs) / n, "count")
    m["exec.stages"] = (len(stages) / n, "count")
    m["exec.tasks"] = (stage_sum("tasks") / n, "count")
    queue = sum(max(0.0, s.get("first_launch_ms", 0.0) - s["start_ms"]) / 1000.0
                for s in stages if "start_ms" in s and "first_launch_ms" in s)
    m["exec.sched_wait_s"] = ((stage_sum("sched_wait_s") + queue) / n, "s")
    m["exec.deser_s"] = (stage_sum("deser_s") / n, "s")
    listed = sum(len(j["stage_ids"]) for j in jobs)
    m["exec.skipped_stages"] = ((listed - len({int(s["stage_id"]) for s in stages})) / n, "count")
    m["exec.slot_busy"] = (stats.slot_busy(stage_sum("task_s"), cpus, wall_s), "ratio")
    m["exec.s"] = (stats.union_length([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1000.0 / n, "s")
    m["exec.task_s"] = (stage_sum("run_s") / n, "s")
    m["exec.task_cpu_s"] = (stage_sum("cpu_s") / n, "s")
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb", "written_mb"):
        m[f"exec.{k}"] = (stage_sum(k) / n, "MB")
    m["exec.peak_exec_mem_mb"] = (max([s.get("peak_exec_mem_mb", 0.0) for s in stages] or [0.0]), "MB")
    m["exec.gc_s"] = (stage_sum("gc_s") / n, "s")
    m["exec.input_rows"] = (stage_sum("input_rows") / n, "count")
    m["exec.result_rows"] = (sum(e["rows"] for e in execs) / n, "count")
    m["exec.failed_tasks"] = (stage_sum("failed_tasks") / n, "count")

    def dsum(key):
        return sum(b["duration_ms"].get(key, 0.0) for b in batches) / 1000.0 / n

    last = {}
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        last[b["run_id"]] = b
    m["streaming.queries"] = (len({b["run_id"] for b in batches}) / n, "count")
    m["streaming.batches"] = (len(batches) / n, "count")
    m["streaming.trigger_s"] = (dsum("triggerExecution"), "s")
    m["streaming.add_batch_s"] = (dsum("addBatch"), "s")
    m["streaming.commit_s"] = (dsum("walCommit") + dsum("commitOffsets"), "s")
    m["streaming.planning_s"] = (dsum("queryPlanning"), "s")
    m["streaming.input_rows"] = (sum(b["input_rows"] for b in batches) / n, "count")
    m["streaming.state_rows"] = (sum(b["state_rows"] for b in last.values()) / n, "count")
    m["streaming.state_mb"] = (sum(b["state_mb"] for b in last.values()) / n, "MB")
    m["streaming.state_commit_s"] = (sum(b["state_commit_ms"] for b in batches) / 1000.0 / n, "s")
    m["streaming.late_rows_dropped"] = (sum(b["late_rows_dropped"] for b in batches) / n, "count")
    m["jvm.gc_s"] = (sum(p["gc_s"] for p in passes) / n, "s")
    m["jvm.jit_s"] = (sum(p["jit_s"] for p in passes) / n, "s")

    # self time: each span minus what its children cover. A query's children
    # are its phases; a phase's are the jobs and micro-batches that started
    # inside it; a micro-batch's are its jobs.
    roots = [s for s in phase("query") if inside(s["start_ms"])]
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    m["self.query_s"] = (sum(stats.self_time((r["start_ms"], r["end_ms"]), kids.get(r["id"], []))
                             for r in roots) / 1000.0 / n, "s")
    for ph in ("construct", "catalyst.analysis", "catalyst.optimize", "catalyst.physical", "drain"):
        ss = [s for s in phase(ph) if inside(s["start_ms"])]
        m[f"self.{ph}_s"] = (sum(stats.self_time((s["start_ms"], s["end_ms"]),
                                                 within(s, jobs) + within(s, batches))
                                 for s in ss) / 1000.0 / n, "s")
    m["self.batch_s"] = (sum(stats.self_time((b["start_ms"], b["end_ms"]), within(b, jobs))
                             for b in batches) / 1000.0 / n, "s")
    # against the untraced passes run after the traced ones, at least as warm
    traced_pass_s = stats.median([p["seconds"] for p in passes])
    m["trace.pass_s"] = (traced_pass_s, "s")
    m["trace.overhead_s"] = (traced_pass_s - stats.median(
        [p["seconds"] for p in res["untraced_passes"]]), "s")
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.exists("build.sbt") and os.path.isdir("src/main/scala/graft")):
        log("[perfbench] no engine sources here: run from the repository root")
        return 2
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    data, manifest = inputs(args.seed)
    print(f"inputs seed={args.seed} fingerprint={manifest['fingerprint'][:16]}")
    for t, info in manifest["tables"].items():
        print(f"  table {t}: {info['rows']} rows, {info['bytes']} bytes")
    cpus = len(os.sched_getaffinity(0))
    res = run_harness(classpath, args.workload, data, args.seconds, args.trace, cpus)

    wrong = verify(res, data)
    passes = res["passes"]
    checked = {e["query"]: e["digest"] for e in res["warm_pass"]["executions"]}
    execs = [e for p in [res["warm_pass"]] + passes + res.get("traced_passes", [])
             + res.get("untraced_passes", []) for e in p["executions"]]
    for e in execs:
        e["digest_mismatch"] = not e["error"] and e["digest"] != checked[e["query"]]
    failed, attempted, rate = stats.error_rate(execs, wrong)

    e2e, (tail_pct, tail_n) = end_to_end(passes, res["setup_s"], res["peak_rss_mb"])
    print(f"workload {args.workload}: local[{cpus}], one client, closed loop, "
          f"{len(passes)} timed passes of {len(WORKLOADS[args.workload][0])} queries")
    for i, p in enumerate(passes):
        print(f"  pass {i + 1}: {p['seconds']:.3f} s, cpu {p['cpu_s']:.3f} s")
    print("  set-ups: " + ", ".join(f"{s:.3f} s" for s in res["setup_s"]))
    print(f"  untimed warm-up pass: {res['warm_pass']['seconds']:.3f} s")
    q1, q2, q3 = stats.quartiles([p["seconds"] for p in passes])
    print(f"  pass_s quartiles: {q1:.3f} / {q2:.3f} / {q3:.3f}")
    print(f"  query_tail_s is p{tail_pct:.1f} of n={tail_n} query executions")
    for q, why in sorted(wrong.items()):
        print(f"  WRONG {q}: {why}")
    for e in execs:
        if e["digest_mismatch"]:
            print(f"  DIGEST {e['query']} pass {e['pass']}: {e['digest']} vs {checked[e['query']]}")
    print(f"  error_rate: {rate:.4f} ({failed} of {attempted} query executions)")
    for k, (v, unit) in e2e.items():
        print(f"metric {k} = {v:.6g} {unit}")

    metrics = e2e
    if args.trace:
        metrics = per_layer(res, cpus)
        for k, (v, unit) in metrics.items():
            print(f"layer {k} = {v:.6g} {unit}")
        trace_file = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(res["trace"], f)
        print(f"  spans and events written to {trace_file}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    # a terminated run unwinds like an interrupted one, killing its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as ex:
        log(f"[perfbench] {type(ex).__name__}: {ex}")
        sys.exit(1)
