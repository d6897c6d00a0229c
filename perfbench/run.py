#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload ref_stream --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The first run builds graft together
with the harness under perfbench/harness (sbt, offline) into
.bench_build/; later runs reuse the build while the sources are
unchanged.  Inputs are generated from --seed; every output is checked
(the stream against a batch reference, each batch query against its
DuckDB oracle) and a wrong or failed operation makes the exit code 1.
With --trace 0 the line carries the end-to-end metrics, with --trace 1
the per-layer ones (Spark listeners on); see perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
CPUS = 4
HEAP = "2g"
TOTAL_LIMIT_S = 170.0
BUILD_LIMIT_S = 700.0

# the batch mix runs on tables generated at this scale factor
BATCH_SF = 0.001
BATCH_WRITE = ["f1_manifest_prune", "f13_delete_mor", "f22_sql_delete"]
# workload -> its SparkEntry queries, in BENCHMARK.json order
WORKLOADS = {"ref_stream": [], "batch_write": BATCH_WRITE}
# the tables the batch queries read
TABLES = ["events"]

# a steady phase whose backlog exceeds this is not a valid latency run
MAX_BACKLOG_S = 5.0

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("latency_p50_ms", "ms"),
              ("latency_p90_ms", "ms"), ("wall_s", "s"), ("geomean_s", "s")]
STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset", "getBatch"]


def per_layer():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order.
    A traced run prints all of them; a layer its workload does not run
    reads 0."""
    ms = ["stream.trigger_ms.p50", "stream.trigger_ms.p90"] + \
        [f"stream.{p}_ms.p50" for p in STREAM_PHASES]
    return ([("stream.triggers", "count"), ("stream.triggers_beyond_p90", "count")] +
            [(n, "ms") for n in ms] +
            [("stream.phase_cover", "ratio"), ("stream.jobs_per_trigger", "count"),
             ("stream.tasks_per_trigger", "count"), ("stream.rows_in", "count"),
             ("stream.rows_out_per_order", "ratio"),
             ("state.commit_ms.p50", "ms"), ("state.fsync_ms.p50", "ms"),
             ("state.updates_ms.p50", "ms"), ("state.removals_ms.p50", "ms"),
             ("state.rows_total.max", "count"), ("state.memory_bytes.max", "bytes"),
             ("state.dropped_by_watermark", "count"), ("state.instances", "count"),
             ("catchup.orders_per_s", "1/s"), ("catchup.trigger_ms.p50", "ms"),
             ("catchup.addBatch_ms.p50", "ms"), ("catchup.state_commit_ms.p50", "ms"),
             ("catchup.rows_per_trigger", "count"),
             ("sources.json_parse_s", "s"), ("sources.json_write_s", "s"),
             ("operators.enrich_batch_s", "s"),
             ("gen.late_ms.max", "ms"), ("gen.backlog_s.max", "s"),
             ("entry.build_s", "s"), ("spark.materialize_s", "s"), ("harness.gap_s", "s")] +
            [(f"q.{q}.s", "s") for q in BATCH_WRITE] +
            [("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
             ("catalyst.planning_ms", "ms"), ("catalyst.executions", "count"),
             ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
             ("spark.job_s", "s"), ("driver.gap_s", "s"),
             ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
             ("spill.bytes", "bytes"), ("exec.peak_mem_bytes", "bytes"),
             ("io.output_bytes", "bytes"), ("io.output_records", "count"),
             ("jvm.gc_s", "s"), ("host.canary_s", "s")])


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(f for f in glob.glob(os.path.join(ROOT, "src", "main", "**"), recursive=True)
                   if os.path.isfile(f))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "src", "**", "*.scala"),
                              recursive=True))
    files += [os.path.join(HERE, "harness", "build.sbt"),
              os.path.join(HERE, "harness", "project", "build.properties")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                       timeout=BUILD_LIMIT_S)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_child(cmd, cwd, env, stdout, timeout):
    """Run a child in its own process group; kill the whole group on
    timeout and always wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- inputs

def generate_tables(data, seed):
    """Generate the batch tables; return the seconds it took."""
    import gen
    t = time.perf_counter()
    gen.write(data, seed, BATCH_SF)
    return time.perf_counter() - t


# ---------------------------------------------------------------- checks

def check_batch(rec, data, work):
    """Compare every query's check-pass output with its DuckDB oracle.
    Returns the names of the queries whose rows are wrong or missing."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracles = rec.get("oracle_sql", {})
    bad = []
    for q in WORKLOADS[rec["workload"]]:
        out = os.path.join(work, "check", q)
        if q not in oracles or not glob.glob(os.path.join(out, "*.parquet")):
            bad.append(q)
            print(f"perfbench: {q}: no output or no oracle", file=sys.stderr)
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        got_d = M.rows_digest([c[0] for c in got.description], got.fetchall())
        want = con.execute(oracles[q])
        want_d = M.rows_digest([c[0] for c in want.description], want.fetchall())
        if got_d != want_d:
            bad.append(q)
            print(f"perfbench: {q}: rows differ from the oracle "
                  f"({got_d[1]} vs {want_d[1]} rows)", file=sys.stderr)
    return bad


def read_rows(path):
    rows = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            b, _, js = line.rstrip("\n").partition("\t")
            rows.append((int(b), js))
    return rows


def check_stream(work, rows, heartbeat_id):
    """Number of order ids whose streamed rows differ from the batch
    reference over the same input (the heartbeat's row excluded)."""
    with open(os.path.join(work, "reference.txt"), encoding="utf-8") as fh:
        want = [l.rstrip("\n") for l in fh]
    want = [l for l in want if M.order_id(l) < heartbeat_id]
    got = [js for _, js in rows if M.order_id(js) < heartbeat_id]
    if M.lines_digest(got) == M.lines_digest(want):
        return 0
    n = M.per_id_mismatches(got, want)
    print(f"perfbench: stream output differs from the batch reference for {n} "
          f"order ids ({len(got)} vs {len(want)} rows)", file=sys.stderr)
    return max(1, n)


# ---------------------------------------------------------------- metrics

def spans_of(rec):
    return [dict(id=s[0], name=s[1], start=s[2], end=s[3], parent=s[4], phase=s[5])
            for s in rec["trace"]["spans"]]


def counters(rec, phase):
    return rec["trace"]["counters"].get(phase, {})


def covered_ms(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    segs = sorted((max(lo, a), min(hi, b)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def stream_metrics(rec, rows):
    prog = sorted(rec["progress"], key=lambda p: p["batchId"])
    rate, tick = int(rec["rate"]), int(rec["tick_ms"])
    live_start = rec["live_start_ms"]
    steady_lo, steady_hi = rec["steady_start_ms"], rec["steady_end_ms"]
    ends = M.trigger_ends(prog)
    att = M.attribute_rows(rows, ends)
    lat = M.latency_samples(att, int(rec["first_live_id"]), int(rec["first_steady_id"]),
                            int(rec["heartbeat_id"]), live_start, rate, tick)
    invalid = []
    if not M.tail_supported(lat, 50):
        invalid.append(f"fewer than {M.MIN_BEYOND} triggers beyond the median latency")
    steady = [p for p in prog if steady_lo <= M.parse_iso_ms(p["timestamp"]) < steady_hi]
    # backlog at the end of each steady trigger: orders sent but not yet
    # taken by a trigger, in seconds of input
    ticks = rec["ticks"]
    taken, backlog = 0, []
    for p in prog:
        if M.parse_iso_ms(p["timestamp"]) < live_start:
            continue
        taken += p["numInputRows"]
        if p in steady:
            sent = [t for t in ticks if t[1] <= ends[p["batchId"]]]
            if sent:
                sent_rows = sent[-1][2] + int(sent[-1][0] - live_start) // 1000 + 1
                backlog.append(max(0.0, (sent_rows - taken) / (rate + 1)))
    late = [t[1] - t[0] for t in ticks if t[0] >= steady_lo]
    gen = {"gen.late_ms.max": max(late), "gen.backlog_s.max": max(backlog or [0.0]),
           "stream.triggers_beyond_p90": M.groups_beyond(lat, 90)}
    if gen["gen.backlog_s.max"] > MAX_BACKLOG_S:
        invalid.append(f"steady-phase backlog grew to {gen['gen.backlog_s.max']:.1f} s")
    # catch-up: the triggers that each took one backlog chunk, after the
    # untimed warm-up chunk(s)
    chunk = int(rec["catchup_chunk_orders"])
    warm, timed = int(rec["catchup_warm_chunks"]), int(rec["catchup_timed_chunks"])
    full = [p for p in prog if M.parse_iso_ms(p["timestamp"]) < live_start
            and p["numInputRows"] >= chunk]
    if len(full) != warm + timed:
        invalid.append(f"the backlog took {len(full)} full-chunk triggers, not {warm + timed}")
    chunks = full[warm:]
    first_timed = M.parse_iso_ms(chunks[0]["timestamp"])
    e2e = {
        "latency_p50_ms": M.percentile([v for v, _ in lat], 50),
        "latency_p90_ms": M.percentile([v for v, _ in lat], 90),
        # the drain time of the timed backlog chunks
        "wall_s": sum(p["durationMs"]["triggerExecution"] / 1000.0 for p in chunks),
        "geomean_s": M.geomean(p["durationMs"]["triggerExecution"] / 1000.0 for p in steady),
    }
    return e2e, gen, steady, chunks, invalid, first_timed


def stream_layers(rec, rows, steady, chunks, gen):
    L = dict(gen)
    n = len(steady)

    def p50(ps, key):
        return M.median([p["durationMs"].get(key, 0) for p in ps]) if ps else 0.0

    def state(ps, f):
        return [f(p["stateOperators"][0]) for p in ps if p.get("stateOperators")] or [0]
    tr = [p["durationMs"]["triggerExecution"] for p in steady]
    L["stream.triggers"] = n
    L["stream.trigger_ms.p50"] = M.percentile(tr, 50)
    L["stream.trigger_ms.p90"] = M.percentile(tr, 90)
    for ph in STREAM_PHASES:
        L[f"stream.{ph}_ms.p50"] = p50(steady, ph)
    L["stream.phase_cover"] = sum(p["durationMs"].get(ph, 0) for p in steady
                                  for ph in STREAM_PHASES) / max(1, sum(tr))
    c = counters(rec, "steady")
    L["stream.jobs_per_trigger"] = c.get("spark.jobs", 0) / max(1, n)
    L["stream.tasks_per_trigger"] = c.get("spark.tasks", 0) / max(1, n)
    L["stream.rows_in"] = sum(p["numInputRows"] for p in steady)
    L["stream.rows_out_per_order"] = len(rows) / int(rec["orders_sent"])
    L["state.commit_ms.p50"] = M.median(state(steady, lambda s: s.get("commitTimeMs", 0)))
    L["state.fsync_ms.p50"] = M.median(state(steady, lambda s: s.get(
        "customMetrics", {}).get("rocksdbCommitFileSyncLatencyMs", 0)))
    L["state.updates_ms.p50"] = M.median(state(steady, lambda s: s.get("allUpdatesTimeMs", 0)))
    L["state.removals_ms.p50"] = M.median(state(steady, lambda s: s.get("allRemovalsTimeMs", 0)))
    L["state.rows_total.max"] = max(state(steady, lambda s: s.get("numRowsTotal", 0)))
    L["state.memory_bytes.max"] = max(state(steady, lambda s: s.get("memoryUsedBytes", 0)))
    L["state.dropped_by_watermark"] = sum(state(rec["progress"], lambda s: s.get(
        "numRowsDroppedByWatermark", 0)))
    L["state.instances"] = max(state(steady, lambda s: s.get("numStateStoreInstances", 0)))
    L["catchup.orders_per_s"] = int(rec["catchup_chunk_orders"]) * len(chunks) / sum(
        p["durationMs"]["triggerExecution"] / 1000.0 for p in chunks)
    L["catchup.trigger_ms.p50"] = p50(chunks, "triggerExecution")
    L["catchup.addBatch_ms.p50"] = p50(chunks, "addBatch")
    L["catchup.state_commit_ms.p50"] = M.median(state(chunks, lambda s: s.get("commitTimeMs", 0)))
    L["catchup.rows_per_trigger"] = M.median([p["numInputRows"] for p in chunks])
    L.update(rec.get("calls", {}))
    # Spark jobs per steady trigger and the driver time they leave uncovered
    jobs = [(s["start"], s["end"]) for s in spans_of(rec) if s["name"] == "spark.job"
            and s["phase"] == "steady"]
    ends = M.trigger_ends(steady)
    gaps = [(ends[p["batchId"]] - M.parse_iso_ms(p["timestamp"])) -
            covered_ms(M.parse_iso_ms(p["timestamp"]), ends[p["batchId"]], jobs) for p in steady]
    L["spark.job_s"] = sum(b - a for a, b in jobs) / 1000.0 / max(1, n)
    L["driver.gap_s"] = sum(gaps) / 1000.0 / max(1, n)
    common_layers(L, c, n)
    return L


def batch_metrics(rec):
    """Batch latency is per query, from the builder call until the last
    row is materialized: each query's median over the timed passes,
    then the median and 90th percentile across the mix."""
    per_query = {}
    for _, q, s, ok in rec["query_times"]:
        if ok:
            per_query.setdefault(q, []).append(s)
    medians = [M.median(v) for v in per_query.values()]
    passes = [s for s in spans_of(rec) if s["name"] == "pass"]
    e2e = {
        "latency_p50_ms": M.percentile(medians, 50) * 1000,
        "latency_p90_ms": M.percentile(medians, 90) * 1000,
        "wall_s": M.median([(p["end"] - p["start"]) / 1000.0 for p in passes]),
        "geomean_s": M.geomean(medians),
    }
    return e2e, per_query, passes


def batch_layers(rec, per_query, passes):
    L = {f"q.{q}.s": M.median(v) for q, v in per_query.items()}
    sp = spans_of(rec)
    n = len(passes)

    def in_pass(name, p):
        return sum(s["end"] - s["start"] for s in sp if s["name"] == name
                   and p["start"] <= s["start"] <= p["end"]) / 1000.0
    L["entry.build_s"] = M.median([in_pass("entry.build", p) for p in passes])
    L["spark.materialize_s"] = M.median([in_pass("spark.materialize", p) for p in passes])
    L["harness.gap_s"] = M.median([(p["end"] - p["start"]) / 1000.0 - in_pass("entry.build", p)
                                   - in_pass("spark.materialize", p) for p in passes])
    jobs = [(s["start"], s["end"]) for s in sp if s["name"] == "spark.job"
            and s["phase"] == "timed"]
    qs = [s for s in sp if s["name"].startswith("q.") and s["phase"] == "timed"]
    gap = sum((s["end"] - s["start"]) - covered_ms(s["start"], s["end"], jobs) for s in qs)
    L["spark.job_s"] = sum(b - a for a, b in jobs) / 1000.0 / max(1, n)
    L["driver.gap_s"] = gap / 1000.0 / max(1, n)
    common_layers(L, counters(rec, "timed"), n)
    return L


def common_layers(L, c, units):
    """Counter-based layers, per timed unit (a pass or a steady trigger)."""
    u = max(1, units)
    for k in ["catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
              "catalyst.executions", "spark.jobs", "spark.stages", "spark.tasks",
              "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
              "io.output_bytes", "io.output_records"]:
        L[k] = c.get(k, 0) / u
    L["exec.peak_mem_bytes"] = c.get("exec.peak_mem_bytes", 0)
    L["jvm.gc_s"] = c.get("jvm.gc_ms", 0) / 1000.0 / u


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a termination request unwinds through run_child, which stops the
    # child's whole process group before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None or not os.path.isdir(SPARK_JARS):
        fail("needs sbt and the Spark jars under " + SPARK_JARS)
    build()
    t_built = time.monotonic()

    # one work directory per workload: a run's inputs and outputs are
    # kept for inspection until the next run of the same workload
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    gen_s = generate_tables(data, a.seed) if WORKLOADS[a.workload] else 0.0

    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            "-Dderby.system.home=" + work]
    for p in JDK_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "graftbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--data", data, "--cpus", str(CPUS),
             "--queries", ",".join(WORKLOADS[a.workload])]
    budget = TOTAL_LIMIT_S - (time.monotonic() - t_built) - 15
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_child(java, cwd=work, env=os.environ, stdout=log, timeout=budget)
    rec_path = os.path.join(work, "record.json")
    if not os.path.exists(rec_path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"the harness exited {rc} without a record", 1)
    rec = json.load(open(rec_path))
    if "error" in rec:
        sys.stderr.write(rec["error"] + "\n")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)
    result, e2e, layers = evaluate(a.workload, a.trace, rec, work, data, gen_s)
    if result["correct"]:
        if a.trace == 0:
            keep_result(a, e2e)
        else:
            write_trace(a, rec, e2e, layers)
    print(f"perfbench: {a.workload} seed {a.seed}: {time.monotonic() - t_start:.1f} s total",
          file=sys.stderr)
    print(json.dumps(result))
    sys.exit(exit_code(result))


def exit_code(result):
    return 0 if result["correct"] else 1


def evaluate(workload, trace, rec, work, data, gen_s):
    """Check a run's outputs and derive its metrics.

    Returns (result line, end-to-end metrics, per-layer metrics).  Any
    failed, wrong or invalid operation makes `correct` false and leaves
    the metrics out of the result line."""
    invalid, e2e, layers = [], {}, {}
    if workload == "ref_stream":
        rows = read_rows(os.path.join(work, "rows.tsv"))
        attempted = int(rec["orders_sent"])
        failed = check_stream(work, rows, int(rec["heartbeat_id"]))
        e2e, gen_layers, steady, chunks, invalid, first_timed = stream_metrics(rec, rows)
        e2e["setup_s"] = (first_timed - rec["jvm_start_ms"]) / 1000.0
    else:
        times = rec.get("query_times", [])
        for f in rec.get("failures", []):
            print("perfbench: " + f, file=sys.stderr)
        attempted = len(times) + int(rec.get("warm_runs", 0)) + len(WORKLOADS[workload])
        failed = len([t for t in times if not t[3]]) + int(rec.get("warm_failed", 0)) + \
            len(check_batch(rec, data, work))
        if {t[1] for t in times if t[3]} == set(WORKLOADS[workload]):
            e2e, per_query, passes = batch_metrics(rec)
            e2e["setup_s"] = gen_s + (rec["first_timed_ms"] - rec["jvm_start_ms"]) / 1000.0
    for msg in invalid:
        print(f"perfbench: invalid run: {msg}", file=sys.stderr)
    failed += len(invalid)
    correct = failed == 0 and bool(e2e)
    if not correct:
        failed = max(failed, 1)
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": {}}
    if correct:
        e2e["peak_rss_mb"] = int(rec["peak_rss_kb"]) / 1024.0
        if trace == 0:
            result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        else:
            if workload == "ref_stream":
                layers = stream_layers(rec, rows, steady, chunks, gen_layers)
            else:
                layers = batch_layers(rec, per_query, passes)
            layers["host.canary_s"] = rec["canary_s"]
            result["metrics"] = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                                 for k, u in per_layer()}
    return result, e2e, layers


def keep_result(a, e2e):
    d = os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{a.workload}-{a.seed}.json"), "w") as fh:
        json.dump(e2e, fh)


def write_trace(a, rec, e2e, layers):
    """Write the spans, counters and derived layers of a traced run, with
    the tracing overhead against the untraced run of the same workload
    and seed when one exists."""
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    base = os.path.join(BUILD, "results", f"{a.workload}-{a.seed}.json")
    overhead = {}
    if os.path.exists(base):
        untraced = json.load(open(base))
        overhead = {k: e2e[k] - untraced[k] for k, _ in END_TO_END if k in untraced}
        print("perfbench: tracing overhead (traced - untraced): " +
              ", ".join(f"{k} {v:+.3f}" for k, v in overhead.items()), file=sys.stderr)
    # a Spark job's parent is the innermost harness span it started in
    spans = rec["trace"]["spans"]
    harness = [s for s in spans if s[1] != "spark.job"]
    for s in spans:
        if s[1] == "spark.job":
            inside = [h for h in harness if h[2] <= s[2] <= h[3]]
            s[4] = min(inside, key=lambda h: h[3] - h[2])[0] if inside else 0
    with open(os.path.join(d, f"{a.workload}-{a.seed}.json"), "w") as fh:
        json.dump({"end_to_end_traced": e2e, "overhead": overhead, "layers": layers,
                   "trace": rec["trace"]}, fh)


if __name__ == "__main__":
    main()
