#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The first run builds the program and the
harness with sbt (offline) into the checkout; later runs reuse the build.
Inputs are generated from the seed, the unchanged program is driven on
every core of the machine (local[nproc], shuffle partitions = nproc), its
outputs are checked, and the last line of standard output is one JSON
object: correct, attempted, failed, and the metrics, each with its unit.
With --trace 0 they are the end-to-end metrics of BENCHMARK.json; with
--trace 1 the per-layer metrics, from a run with spans and an engine
listener attached. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import bench_lib as bl  # noqa: E402
import datagen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0

# Cross-family query set of batch_mix: reference-parity queries, the
# ROADMAP-targeted dedup, k-means, retrieval and decimal-mean sites, and
# one relational query. Sized so a pass takes ~7 s on 4 cores.
QUERIES = [
    "q_avg_sentiment_by_lang", "q_tfidf_scores", "q_rolling_metric",
    "q_dedup_minhash", "q_embed_isotropy", "q_embed_label_profile",
    "q_kmeans", "q_bm25_scores", "q_priority_revenue",
]

# The IngestHub layer of the traced stream_burst run: slices of
# SLICE_DOCS documents, one admitted per micro-batch; enough batches for
# the compacting delta logs to pass DeltaLog.CompactThreshold (16) once.
SLICE_DOCS = 250
INGEST_SLICES = 17

# sbt and the JVM need these when Spark runs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cpu_jiffies():
    """The machine's aggregate CPU time counters (Linux /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of the machine's CPU time the hypervisor gave to other guests
    between two cpu_jiffies() readings (field 8 of /proc/stat)."""
    if not before or not after or len(before) < 8:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for pat in ("src/main/**/*.scala", "src/main/**/*.java",
                "src/main/resources/**/*", "perfbench/src/**/*.scala"):
        files += sorted(glob.glob(pat, recursive=True))
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(("%s %d %d\n" % (f, st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(need):
            raise SystemExit("perfbench: %s not found; run from the "
                             "repository root" % need)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Xmx2g")
    log("building (sbt, offline)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(ROOT, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = [l for l in p.stdout.splitlines() if "perfbench/target" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return cp


# ----------------------------------------------------------------- inputs

def write_slices(out_dir, docs, ids, rows_per_slice):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    for k in range(0, len(ids), rows_per_slice):
        part = ids[k:k + rows_per_slice]
        base = [int(i % len(docs["text"])) for i in part]
        pq.write_table(pa.table({
            "doc_id": pa.array([int(i) for i in part], pa.int64()),
            "text": pa.array([docs["text"][b] for b in base], pa.string()),
            "lang": pa.array([docs["lang"][b] for b in base], pa.string()),
            "source": pa.array([docs["source"][b] for b in base], pa.string()),
        }), os.path.join(out_dir, "slice_%05d.parquet" % (k // rows_per_slice)))


def replica_ids(n, n_docs, seed, stream):
    """n distinct doc ids over replicas of an n_docs corpus: replica id
    offsets and the order come from the seed."""
    r = np.random.default_rng([seed, stream])
    reps = -(-n // n_docs)
    offsets = (1 + r.permutation(reps + 8)[:reps]) * 10_000_000
    pool = np.concatenate([off + np.arange(n_docs) for off in offsets])
    return r.permutation(pool)[:n]


def prepare(workload, seed, work, trace):
    corpus = datagen.CORPUS_SEED
    if workload == "stream_burst":
        docs = datagen.documents(300, corpus + 1)
        os.makedirs(os.path.join(work, "warm_lines"))
        with open(os.path.join(work, "warm_lines", "warm.json"), "w") as f:
            for i in range(300):
                f.write(datagen.wire_line(900_000_000 + i, docs["text"][i],
                                          docs["lang"][i], docs["source"][i],
                                          1.7e9 + i) + "\n")
        if trace:
            n_docs = 5000
            docs = datagen.documents(n_docs, corpus)
            ids = replica_ids(INGEST_SLICES * SLICE_DOCS, n_docs, seed, 21)
            write_slices(os.path.join(work, "slices"), docs, ids, SLICE_DOCS)
    else:
        write_data(work, corpus, "data", 500, 500, 10_000, 0.01)
        write_data(work, corpus + 1, "warm", 500, 500, 1000, 0.001)
        with open(os.path.join(work, "queries.txt"), "w") as f:
            f.write("\n".join(QUERIES) + "\n")


def write_data(work, corpus_seed, name, n_docs, n_vecs, n_events, tpch_sf):
    datagen.write_tables(os.path.join(work, name), corpus_seed, n_docs,
                         n_vecs, n_events, tpch_sf)


# -------------------------------------------------------------------- run

def java_cmd(cp, work, args):
    opens = []
    for m in ADD_OPENS:
        opens += ["--add-opens", m + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + ["-Xmx3g", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness"] + [str(a) for a in args])


def run_jvm(cp, a, work, t_start):
    port = 0
    gen = None
    procs = []
    try:
        if a.workload == "stream_burst":
            port_file = os.path.join(work, "gen_port")
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"),
                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--port-file", port_file,
                 "--done-file", os.path.join(work, "gen_done.json")],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=open(os.path.join(work, "gen.log"), "w"))
            procs.append(gen)
            while not os.path.exists(port_file):
                if gen.poll() is not None:
                    raise RuntimeError("generator exited early")
                time.sleep(0.01)
            port = int(open(port_file).read())
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            jvm = subprocess.Popen(
                java_cmd(cp, work, [a.workload, a.seed, a.seconds, a.trace,
                                    work, cores(), port]),
                stdin=subprocess.DEVNULL, stdout=jlog, stderr=jlog)
            procs.append(jvm)
            left = DEADLINE_S - (time.time() - t_start)
            code = jvm.wait(timeout=max(1.0, left))
        if gen is not None:
            gen.wait(timeout=20)
        return code
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()


# ---------------------------------------------------------------- metrics

def stream_metrics(res, work, ledger):
    import duckdb
    gen = json.load(open(os.path.join(work, "gen_done.json")))
    prog = res["progress"]
    commit = {p["batch"]: (p["start_ms"] + p["duration_ms"]
                           .get("triggerExecution", 0)) / 1e3 for p in prog}
    con = duckdb.connect()
    rows = con.execute(
        "SELECT id, regexp_extract(filename, '_b([0-9]+)\\.parquet', 1) b "
        "FROM read_parquet(?, filename=true)",
        [os.path.join(work, "out", "processed", "*", "*.parquet")]).fetchall()
    seen = {}
    for i, b in rows:
        seen.setdefault(int(i), []).append(int(b))
    due = dict(zip(gen["ids"], gen["due"]))
    dupes = sum(1 for v in seen.values() if len(v) > 1)
    missing = sum(1 for i in due if i not in seen)
    extra = sum(1 for i in seen if i not in due)
    ledger.check("check.exactly_once", dupes == 0 and missing == 0
                 and extra == 0, "%d duplicated, %d missing, %d unexpected "
                 "of %d events" % (dupes, missing, extra, len(due)))
    posts = con.execute(
        "SELECT coalesce(sum(post_count), 0) FROM read_parquet(?)",
        [os.path.join(work, "out", "subreddit_stats", "*.parquet")]
    ).fetchone()[0]
    ledger.check("check.subreddit_post_count", posts == len(due),
                 "subreddit_stats post_count sums to %d, %d events sent"
                 % (posts, len(due)))
    # freshness of every measured post; the headline is the base-rate
    # posts' median (steady overhead), the tail takes the bursts too
    burst = dict(zip(gen["ids"], gen["burst"]))
    fresh, fresh_base = [], []
    for i, d in due.items():
        if d >= gen["measure_start"] and i in seen and seen[i][0] in commit:
            fresh.append(commit[seen[i][0]] - d)
            if not burst[i]:
                fresh_base.append(fresh[-1])
    lines = sum(p["rows"] for p in prog)
    e2e = {
        "latency_s": bl.median(fresh_base),
        "cpu_ms_per_op": res["cpu_window_s"] * 1e3 / lines,
    }
    t = bl.tail(fresh)
    layer = {
        "gen.late_p99_ms": gen["late_p99_ms"],
        "stream.fresh_p50_s": bl.median(fresh),
        "stream.fresh_tail_s": t[1] if t else 0.0,
        "stream.events": float(len(fresh)),
        "Retention.files_deleted": float(deleted_by_retention(work, prog)),
    }
    log("batches: %s" % [p["rows"] for p in prog])
    log("freshness: base-rate p50 %.3f s over %d posts; all p50 %.3f s, "
        "p%s %.3f s over %d posts; %d batches; generator late p99 %.2f ms"
        % (e2e["latency_s"], len(fresh_base), layer["stream.fresh_p50_s"],
           t[0] if t else "-", t[1] if t else 0, len(fresh), len(prog),
           gen["late_p99_ms"]))
    return e2e, layer


def deleted_by_retention(work, prog):
    """Files the pipeline's retention removed: one file per batch per
    metric directory is written, whatever is left was kept."""
    left = sum(len(glob.glob(os.path.join(work, "out", d, "*.parquet")))
               for d in ("sentiment", "subreddit_stats", "references"))
    return 3 * len(prog) - left


def mix_metrics(res, work, ledger, data_dir):
    import duckdb
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    oracle = res.get("oracle", {})
    for q in QUERIES:
        files = glob.glob(os.path.join(work, "check", q, "*.parquet"))
        if not files:
            continue  # the check pass already counted this failure
        try:
            got = con.execute("SELECT * FROM read_parquet(?)",
                              [files]).df()
            want = con.execute(oracle[q]).df()
            ok, why = bl.frames_equal(got, want)
        except Exception as e:  # noqa: BLE001 - reported as a failure
            ok, why = False, "%s: %s" % (type(e).__name__, e)
        ledger.check("check.%s.oracle" % q, ok, why)
    passes = res["passes"]
    walls = res["pass_wall_s"]
    n_queries = sum(len(p) for p in passes)
    e2e = {
        "latency_s": bl.median(walls),
        "cpu_ms_per_op": res["cpu_window_s"] * 1e3 / n_queries,
    }
    log("batch_mix: %d passes of %d queries, pass median %.3f s; per query "
        "%s" % (len(passes), len(QUERIES), e2e["latency_s"], json.dumps(
            {q: round(bl.median([p[q] for p in passes]), 2) for q in QUERIES})))
    return e2e, {}


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("stream_burst", "batch_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    e2e_units, layer_units = load_spec()
    cp = build()
    t_start = time.time()  # the build is not part of a run's budget

    work = os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed,
                                                      os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare(a.workload, a.seed, work, a.trace)
        jiffies = cpu_jiffies()
        code = run_jvm(cp, a, work, t_start)
        steal = steal_pct(jiffies, cpu_jiffies())
        res_file = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(res_file):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
            raise SystemExit("perfbench: harness exited with %s" % code)
        res = json.load(open(res_file))
        ledger = bl.Ledger(res["attempted"], res["failures"])
        if a.workload == "stream_burst":
            e2e, layer = stream_metrics(res, work, ledger)
        else:
            e2e, layer = mix_metrics(res, work, ledger,
                                     os.path.join(work, "data"))
        e2e["setup_s"] = bl.median(res["setup_cycles_s"])
        e2e["heap_live_mb"] = res["heap_live_mb"]
        for f in ledger.failures:
            log("FAILED %s: %s" % (f["op"], f["error"]))
        log("phases (s since JVM start): %s; setup cycles %s" % (
            json.dumps(res["phases_s"]), res["setup_cycles_s"]))
        log("seed %d: %s; host steal %.1f%%" % (a.seed, json.dumps(
            {k: round(v, 4) for k, v in e2e.items()}), steal))
        save_untraced(a, e2e)
        if a.trace:
            layer.update(res["layer"])
            layer["jvm.rss_peak_mb"] = res["rss_peak_mb"]
            layer["host.steal_pct"] = steal
            layer["trace.latency_s"] = e2e["latency_s"]
            base = untraced_latency(a)
            layer["trace.overhead_ratio"] = (
                e2e["latency_s"] / base if base else 0.0)
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, "%s-seed%d.json"
                                   % (a.workload, a.seed)), "w") as f:
                json.dump({"spans": res.get("spans", []), "layer": layer,
                           "failures": ledger.failures}, f)
            metrics = {n: bl.metric(layer.get(n, 0.0), u)
                       for n, u in layer_units.items()}
        else:
            metrics = {n: bl.metric(e2e[n], u) for n, u in e2e_units.items()}
        print(bl.result_line(ledger, metrics), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def save_untraced(a, e2e):
    if a.trace:
        return
    d = os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, a.workload + ".jsonl"), "a") as f:
        f.write(json.dumps({"seed": a.seed, "latency_s": e2e["latency_s"]})
                + "\n")


def untraced_latency(a):
    """Median untraced latency of this workload's earlier runs in this
    checkout, the base of the tracing overhead ratio (0 when none ran)."""
    f = os.path.join(BUILD, "results", a.workload + ".jsonl")
    if not os.path.exists(f):
        return 0.0
    vals = [json.loads(l)["latency_s"] for l in open(f) if l.strip()]
    return bl.median(vals) if vals else 0.0


if __name__ == "__main__":
    main()
