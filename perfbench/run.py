#!/usr/bin/env python3
"""Benchmark for the KG engine: one command per workload, every metric.

    python3 perfbench/run.py --workload cold_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the engine and
the harness from source (sbt, offline) and generates the input tables;
later calls reuse both while the sources are unchanged. The JVM side
(src/main/scala/graft/perfbench) runs the workload and writes a raw
record; this script checks outputs against answers computed in DuckDB,
turns the record into the metrics named in BENCHMARK.json and prints
them as the last line of stdout. `--trace 0` prints the end-to-end
metrics, `--trace 1` the per-layer metrics of a separate traced run.
See README.md in this directory.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
STATE = os.path.join(HERE, ".state")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

WORKLOADS = ("cold_sync", "resync")
# Input scale of the generated tables (documents: 50,000 x SF rows): the
# sync corpus is rendered from sf0.1 documents; the query pass of the
# traced resync run reads sf0.01 tables.
SYNC_SF = 0.1
QUERY_SF = 0.01
CORES = 4
# Untimed warm-up runs in set-up: after one, run time still falls by
# 10-20% as the JIT settles.
WARMUPS = 2
# Whole invocation must end within this many seconds.
WALL_BUDGET = 170.0
ORACLE_TIMEOUT = 20.0

STAGE_LAYERS = ["kg.extract", "kg.facts", "link.canonical", "kg.triples",
                "merge.upsert", "merge.cleanup"]
SCALING_LAYERS = STAGE_LAYERS[:5]
# One headline query of graft.Bench per engine module the syncs do not run.
QUERY_MIX = [
    "q2_join_agg",               # operators (relational join + aggregate)
    "q16_khop",                  # operators (graph traversal)
    "qdd2_neardup_allpairs",     # dedup (caches and never unpersists)
    "qtx14_bm25",                # text
    "qann4_ivf_topk",            # ann
    "qsk5_bloom_semijoin",       # sketch
    "qsp6_weighted_sample",      # sample
    "qev10_rfm",                 # events
    "qmm2_image_dims"]           # multimodal
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# JVM flags Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- metrics

def end_to_end_names():
    return [("setup_s", "s"), ("run_s", "s"), ("pages_per_s", "pages/s"),
            ("triples_per_s", "triples/s"), ("graph_bytes_per_page", "B/page"),
            ("peak_rss_mb", "MB")]


def per_layer_names():
    names = []
    for layer in STAGE_LAYERS:
        names += [(f"{layer}.s", "s"), (f"{layer}.cpu_s", "s"),
                  (f"{layer}.gc_s", "s"), (f"{layer}.serial_s", "s"),
                  (f"{layer}.read_mb", "MB"), (f"{layer}.shuffle_mb", "MB"),
                  (f"{layer}.spill_mb", "MB"), (f"{layer}.out_rows", "rows"),
                  (f"{layer}.out_mb", "MB"), (f"{layer}.skew", "ratio"),
                  (f"{layer}.jobs", "count")]
    names += [(f"{layer}.scaling_eff", "ratio") for layer in SCALING_LAYERS]
    names += [("kg.render.s", "s"), ("kg.render.mb_per_s", "MB/s"),
              ("kg.extract.self_s", "s"),
              ("snapshot.write_amp", "ratio"), ("snapshot.carried_share", "ratio"),
              ("merge.cleanup.nodes_deleted", "count"),
              ("merge.cleanup.edges_deleted", "count")]
    names += [(f"query.{q}.s", "s") for q in QUERY_MIX]
    names += [("query.cached_mb", "MB"), ("pipeline.scaling_eff", "ratio"),
              ("trace.overhead_ratio", "ratio"), ("trace.coverage", "ratio"),
              ("failed_ops_ratio", "ratio")]
    return names


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times_ms(spans):
    """Span id -> its duration minus the part its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = dur - union_ms(kids, s["start_ms"], s["end_ms"])
    return out


def serial_ms(span, task_intervals):
    """Time inside the span with no task running (the Amdahl term)."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - union_ms(task_intervals, lo, hi)


def skew(tasks):
    """max/median task time of the layer's dominant stage (the stage with
    the largest summed task time)."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[1], []).append(t[3] - t[2])
    if not by_stage:
        return 0.0
    durs = max(by_stage.values(), key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def layer_stats(trace, layer):
    """Per-layer numbers of one traced run (zeros if the layer did not
    run)."""
    spans = [s for s in trace["spans"] if s["name"] == layer]
    group = f"{trace['run_id']}/{layer}"
    tasks = [t for t in trace["tasks"] if t[0] == group]
    st = {"s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "serial_s": 0.0, "read_mb": 0.0,
          "shuffle_mb": 0.0, "spill_mb": 0.0, "out_rows": 0.0, "out_mb": 0.0,
          "skew": 0.0, "jobs": 0.0}
    if not spans:
        return st
    ivs = [(t[2], t[3]) for t in tasks]
    st["s"] = sum(s["end_ms"] - s["start_ms"] for s in spans) / 1e3
    st["serial_s"] = sum(serial_ms(s, ivs) for s in spans) / 1e3
    st["cpu_s"] = sum(t[4] for t in tasks) / 1e9
    st["gc_s"] = sum(t[5] for t in tasks) / 1e3
    st["read_mb"] = sum(t[6] for t in tasks) / 1e6
    st["shuffle_mb"] = sum(t[7] for t in tasks) / 1e6
    st["spill_mb"] = sum(t[8] for t in tasks) / 1e6
    st["skew"] = skew(tasks)
    st["jobs"] = float(trace["jobs"].get(group, 0))
    out = trace["run"].get("layers", {}).get(layer)
    if out:
        st["out_rows"] = float(out["out_rows"])
        st["out_mb"] = out["out_bytes"] / 1e6
    return st


def median_of(runs, f):
    vals = [f(r) for r in runs]
    return statistics.median(vals) if vals else 0.0


def end_to_end_metrics(raw):
    runs = raw["runs"]
    return {
        "setup_s": raw["setup_s"],
        "run_s": median_of(runs, lambda r: r["wall_s"]),
        "pages_per_s": median_of(runs, lambda r: r["pages"] / r["wall_s"]),
        "triples_per_s": median_of(runs, lambda r: r["triples"] / r["wall_s"]),
        "graph_bytes_per_page": median_of(
            runs, lambda r: r["graph_bytes"] / max(r["page_nodes"], 1)),
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def per_layer_metrics(raw):
    m = {name: 0.0 for name, _ in per_layer_names()}
    runs = raw["runs"]
    traces = {t["run_id"]: t for t in raw.get("traces", [])}
    main = traces[f"traced-c{raw['cores']}"]
    for layer in STAGE_LAYERS:
        for k, v in layer_stats(main, layer).items():
            m[f"{layer}.{k}"] = v
    one = traces.get("traced-c1")
    if one is not None:
        n = raw["cores"]
        for layer in SCALING_LAYERS:
            s1 = layer_stats(one, layer)["s"]
            sn = layer_stats(main, layer)["s"]
            m[f"{layer}.scaling_eff"] = (s1 / sn) / n if sn > 0 else 0.0
        w1 = one["run"]["wall_s"]
        m["pipeline.scaling_eff"] = (w1 / main["run"]["wall_s"]) / n
    render = raw.get("passes", {}).get("kg.render")
    if render:
        m["kg.render.s"] = render["s"]
        m["kg.render.mb_per_s"] = render["bytes"] / 1e6 / render["s"]
        m["kg.extract.self_s"] = m["kg.extract.s"] - render["s"]
    run = main["run"]
    if "graph_bytes" in run:
        m["snapshot.write_amp"] = run["graph_bytes_written"] / run["graph_bytes"]
        m["snapshot.carried_share"] = (run["partitions_carried"]
                                       / max(run["partitions_total"], 1))
        m["merge.cleanup.nodes_deleted"] = float(run.get("nodes_deleted", 0))
        m["merge.cleanup.edges_deleted"] = float(run.get("edges_deleted", 0))
    queries = traces.get("queries")
    if queries is not None:
        for s in queries["spans"]:
            if s["name"].startswith("query."):
                m[f"{s['name']}.s"] = (s["end_ms"] - s["start_ms"]) / 1e3
        m["query.cached_mb"] = queries["run"]["cached_mb"]
    # whole traced run: root span "run"; layers are its direct children
    spans = main["spans"]
    root = next(s for s in spans if s["name"] == "run" and s["parent"] < 0)
    selfs = self_times_ms(spans)
    wall = root["end_ms"] - root["start_ms"]
    layer_self = sum(selfs[s["id"]] for s in spans if s["parent"] == root["id"])
    m["trace.coverage"] = layer_self / wall
    m["trace.overhead_ratio"] = (wall / 1e3) / median_of(runs, lambda r: r["wall_s"])
    return m


def render_metrics(values, names):
    return {n: {"value": float(values[n]), "unit": u} for n, u in names}


# ------------------------------------------------------------ correctness

def duck():
    import duckdb
    return duckdb.connect()


def canon_value(v):
    """Value-exact canonical form; None/NaN compare equal to themselves."""
    if v is None:
        return ("null",)
    if isinstance(v, float) and v != v:
        return ("nan",)
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return ("list",) + tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return ("map",) + tuple(sorted((repr(k), canon_value(x)) for k, x in v.items()))
    return (type(v).__name__ if not isinstance(v, (int, float)) else "num", repr(v))


def canon_rows(df):
    """Columns by name, rows as tuples of canonical values, sorted. Rows
    are compared as tuples: no join of column reprs (a join without a
    separator makes (1, 23) equal (12, 3))."""
    cols = sorted(df.columns)
    rows = [tuple(canon_value(v) for v in rec)
            for rec in df[cols].astype(object).itertuples(index=False, name=None)]
    return cols, sorted(rows)


def same_rows(expected_df, got_df):
    return canon_rows(expected_df) == canon_rows(got_df)


def expected_triples(con, data_dir, pages, triple_cte, predicates):
    """(subj, pred, obj, n_sources) of the run's pages, by the corpus
    arithmetic of KgOps.tripleCte over documents.parquet — never from
    pipeline output. Page id i = doc_id + r * 10000 for each replica r of
    the run; resync runs leave out one slice (i + seed) mod m."""
    where = ""
    if "slice_mod" in pages:
        where = (f"WHERE (d.doc_id + r * 10000 + {int(pages['slice_seed'])}) "
                 f"% {int(pages['slice_mod'])} <> {int(pages['left_out'])}")
    docs = os.path.join(data_dir, "documents.parquet")
    con.execute(
        "CREATE OR REPLACE TEMP VIEW documents AS "
        f"SELECT d.doc_id + r * 10000 AS doc_id, d.lang "
        f"FROM read_parquet('{docs}') d, "
        f"range({int(pages['rep_from'])}, {int(pages['rep_to'])}) t(r) {where}")
    rows = con.execute(
        triple_cte + " SELECT cs, p, co, count(*) FROM cz GROUP BY ALL").fetchall()
    return sorted((f"e{cs:04d}", predicates[p], f"e{co:04d}", n)
                  for cs, p, co, n in rows)


def got_triples(con, path):
    return sorted(con.execute(
        f"SELECT subj, pred, obj, n_sources FROM read_parquet('{path}/*.parquet')"
    ).fetchall())


def check_triples(data_dir, spec):
    con = duck()
    exp = expected_triples(con, data_dir, spec["pages"], spec["triple_cte"],
                           spec["predicates"])
    return exp == got_triples(con, spec["path"]), len(exp)


def run_with_timeout(con, sql, timeout):
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        timer.cancel()


def check_queries(data_dir, specs, deadline):
    """Compare each query's result with its DuckDB oracle. Returns
    (checked, failed names, unchecked names)."""
    import pandas as pd
    con = duck()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    checked, failed, unchecked = 0, [], []
    for name, spec in specs.items():
        left = min(ORACLE_TIMEOUT, deadline - time.time())
        if left <= 1:
            unchecked.append(name)
            continue
        try:
            exp = run_with_timeout(con, spec["sql"], left)
        except Exception as e:  # timeout (interrupt) or oracle error
            if "nterrupt" in str(e):
                unchecked.append(name)
                continue
            log(f"oracle for {name} failed: {e}")
            failed.append(name)
            checked += 1
            continue
        files = sorted(f for f in os.listdir(spec["path"]) if f.endswith(".parquet"))
        got = pd.concat([pd.read_parquet(os.path.join(spec["path"], f)) for f in files],
                        ignore_index=True) if files else exp.iloc[0:0]
        checked += 1
        if not same_rows(exp, got):
            failed.append(name)
    return checked, failed, unchecked


# ------------------------------------------------------------- build, data

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark install found (set SPARK_HOME)")
    return home


def source_files():
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(env):
    stamp = digest(source_files())
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building engine + harness (sbt compile)")
    os.makedirs(STATE, exist_ok=True)
    blog = os.path.join(STATE, "build.log")
    with open(blog, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(blog).read()[-4000:])
        raise BenchError(f"sbt compile failed (exit {rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def ensure_data(sf):
    gen = os.path.join(HERE, "gen_data.py")
    key = digest([gen])[:12]
    data = os.path.join(STATE, "data", f"{key}-sf{sf}")
    if os.path.isdir(data):
        return data
    shutil.rmtree(data + ".tmp", ignore_errors=True)
    tmp = data + ".tmp"
    subprocess.check_call([sys.executable, gen, "--sf", str(sf), "--out", tmp],
                          stdin=subprocess.DEVNULL)
    os.rename(tmp, data)
    return data


def _die_with_parent():
    # the JVM gets SIGKILL if this process dies (e.g. a killed run)
    try:
        ctypes.CDLL("libc.so.6").prctl(1, signal.SIGKILL)
    except OSError:
        pass


def run_jvm(env, args, work, out, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    # fixed heap: the resident high-water mark then does not depend on
    # when G1 decides to grow the heap
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", args.data, "--work", work, "--out", out,
            "--cores", str(CORES), "--warmups", str(WARMUPS),
            "--queries", ",".join(QUERY_MIX), "--query-data", args.query_data]
    jlog = os.path.join(work, "jvm.log")
    with open(jlog, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             preexec_fn=_die_with_parent)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("benchmark JVM exceeded the wall budget")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(jlog).read()[-6000:])
        raise BenchError(f"benchmark JVM failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.seed < 0:
        raise BenchError("--seed must be >= 0")
    start = time.time()
    deadline = start + WALL_BUDGET
    if not os.path.isdir(ENGINE_SRC):
        raise BenchError(f"engine sources not found under {ENGINE_SRC}; "
                         "run from a checkout of the repository")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    # the build resolves nothing over the network
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    build(env)
    # a first (building) run may take long; measured runs get the budget
    deadline = max(deadline, time.time() + 150.0)
    args.data = ensure_data(SYNC_SF)
    args.query_data = ensure_data(QUERY_SF) if args.trace else ""
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)  # incl. leftovers of killed runs
    os.makedirs(work)
    try:
        raw = run_jvm(env, args, work, os.path.join(work, "record.json"), deadline)
        attempted, failed = raw["attempted"], raw["failed"]
        for e in raw["errors"]:
            log(f"failed op: {e}")
        checks = raw.get("checks", {})
        if "triples" in checks:
            attempted += 1
            try:
                ok, n = check_triples(args.data, checks["triples"])
            except Exception as e:
                ok, n = False, 0
                log(f"triple check error: {e}")
            if not ok:
                failed += 1
                log("triple edges differ from the corpus arithmetic")
            else:
                log(f"triple edges match the corpus arithmetic ({n} triples)")
        if "queries" in checks:
            n, bad, unchecked = check_queries(args.query_data, checks["queries"],
                                              deadline)
            attempted += n
            failed += len(bad)
            for q in bad:
                log(f"query {q} differs from its DuckDB oracle")
            for q in unchecked:
                print(f"unchecked: {q} (oracle did not finish in the budget)")
        if args.trace:
            values, names = per_layer_metrics(raw), per_layer_names()
            values["failed_ops_ratio"] = failed / max(attempted, 1)
        else:
            values, names = end_to_end_metrics(raw), end_to_end_names()
    finally:
        jlog = os.path.join(work, "jvm.log")
        if os.path.exists(jlog):
            shutil.copy(jlog, os.path.join(STATE, "last-jvm.log"))
        shutil.rmtree(work, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": int(attempted),
              "failed": int(failed), "metrics": render_metrics(values, names)}
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
