#!/usr/bin/env python3
"""graft benchmark: run one workload once and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and this benchmark's driver with sbt (offline), generates the
fixed tables and caches DuckDB oracle answers, all under .bench_build/
(or $CARGO_TARGET_DIR). Later runs start the built driver directly.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Progress and errors go to stderr. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import http.client

import benchlib as bl

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")

SCALE = 0.01          # table scale factor (lineitem 60k rows)
TAIL = 75             # the tail percentile reported as latency_p75_ms
BATCH_PASSES = 50     # pass orders generated; runs stop on time first
JAVA_HEAP = "3g"

# query_batch runs a fixed query list: every run times the same queries,
# in a seeded order, so runs differ only by order and noise. The list
# covers every module of the relational and the corpus-curation families,
# and curation families that share FrameCache frames (minhash pairs,
# near-dup components, PQ codebook).
WORKLOADS = {
    "query_batch": {
        "EtlQueries": ["q_q1_pricing_summary", "q_join_salted"],
        "TpchQueries": ["q_q13_customer_distribution"],
        "AnalyticsQueries": ["q_corr_matrix"],
        "BehaviorQueries": ["q_cohort_retention"],
        "MiningQueries": ["q_fuzzy_join"],
        "EvalQueries": ["q_auc_rank"],
        "CompositionQueries": ["q_chi2_independence"],
        "LlmQueries": ["q_minhash_neardup", "q_neardup_pair_stats",
                       "q_neardup_components", "q_ann_pq_topk",
                       "q_mm_decode"],
        "CorpusQueries": ["q_bm25_search"],
        "PipelineQueries": ["q_sentence_dedup", "q_wordpiece"],
    },
    "serve_mixed": None,
}
ALL_MODULES = sorted({m for w in WORKLOADS.values() if w for m in w})

# serve_mixed traffic (see benchlib.serve_stream); the stream is longer
# than any run gets through
STREAM_LENGTH = 1000
# Retrains go to a second model name: a /predict that loads a model while
# a /train overwrites the same name fails (see README), and the benchmark
# must run without failed operations. Every /train still clears the
# server's response cache.
SETUP_TRAIN_PATH = "/train/?model_type=D_TREE&name=bench"
TRAIN_PATH = "/train/?model_type=D_TREE&name=bench_candidate"
SERVE = {"smoke_share": 0.05, "fresh_share": 0.65, "zipf_s": 1.1,
         "rows": (5, 20), "reuse_gap": 8}
CONNECTIONS = 4

E2E = {"setup_s": "s", "latency_p50_ms": "ms", f"latency_p{TAIL}_ms": "ms",
       "ops_per_s": "1/s", "retained_heap_mb": "MiB"}

# Every traced run prints all of these; a layer idle on a workload reads 0.
PER_LAYER = {
    "core.session_start_s": "s", "core.warmup_s": "s",
    "core.framecache.builds": "count", "core.framecache.build_s": "s",
    "core.scan_rows": "rows", "core.shuffle_bytes": "B",
    "core.shuffles": "count",
    **{f"queries.{m}.{part}_s": "s" for m in ALL_MODULES
       for part in ("plan", "exec")},
    "spark.jobs_per_query": "count", "spark.tasks_per_query": "count",
    "spark.task_busy_s": "s", "spark.sched_delay_s": "s", "spark.gc_s": "s",
    "spark.spill_bytes": "B", "spark.core_util": "ratio",
    "ml.train_s": "s", "ml.save_s": "s", "ml.load_s": "s", "ml.score_s": "s",
    "ml.registry_latest_ms": "ms", "ml.registry_entries": "count",
    "ml.modelcache.builds": "count", "ml.trainingcache.builds": "count",
    "etl.conform_s": "s",
    "serve.hit_ratio": "ratio", "serve.hit_ms_p50": "ms",
    "serve.miss_ms_p50": "ms", "serve.transport_ms": "ms",
    "serve.train_s": "s",
    "trace.overhead_pct": "%",
}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project"),
             os.path.join(BENCH, "src", "main")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in fs if f.endswith((".scala", ".sbt", ".properties")))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, config):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{JAVA_HEAP}",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", classpath,
            "graftbench.Main", config]


def ensure_built():
    """Build engine + driver once per source state; returns the classpath."""
    stamp = os.path.join(BUILD, "build.json")
    want = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("digest") == want:
            return st["classpath"]
    log("building engine and driver with sbt (first run in this checkout)")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    with open(os.path.join(BUILD, "sbt.log")) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"sbt build failed (rc={rc})")
    cps = [l for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    classpath = cps[-1].strip()
    reg_dir = os.path.join(BUILD, "registry")
    cfg = write_config(reg_dir, {"mode": "registry", "out_dir": reg_dir})
    subprocess.run(java_cmd(classpath, cfg), check=True,
                   stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    with open(stamp, "w") as f:
        json.dump({"digest": want, "classpath": classpath}, f)
    return classpath


def ensure_data():
    """The fixed tables, generated once per checkout."""
    d = os.path.join(BUILD, f"data-sf{SCALE}")
    with open(os.path.join(BENCH, "gen_data.py"), "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    stamp = os.path.join(d, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return d
    shutil.rmtree(d, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), d,
                    str(SCALE)], check=True, stdin=subprocess.DEVNULL)
    with open(stamp, "w") as f:
        f.write(want)
    return d


def write_config(out_dir, cfg):
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    return path


def registry():
    with open(os.path.join(BUILD, "registry", "registry.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- correctness

def _norm_value(v):
    # as tools/check_correctness.py: numpy scalars to python, NaN as NULL
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_digest(df):
    """Row count, column names and a hash over values with columns sorted
    by name (the engine's DuckDB oracle comparison)."""
    names = list(df.columns)
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = hashlib.sha256()
    n = 0
    for row in df.itertuples(index=False, name=None):
        n += 1
        for i in order:
            h.update(_norm_value(row[i]).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return {"rows": n, "columns": sorted(names), "hash": h.hexdigest()}


def check_batch_outputs(queries, data_dir, dump_dir, failed_warmup):
    """query -> None when its dumped output matches its DuckDB oracle,
    else the reason it does not."""
    import duckdb
    oracle_sql = registry()["oracle"]
    cache_dir = os.path.join(BUILD, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    verdict = {}
    for q in queries:
        if q in failed_warmup:
            verdict[q] = f"query failed: {failed_warmup[q]}"
            continue
        sql = oracle_sql.get(q)
        if sql is None:
            verdict[q] = "no oracle registered"
            continue
        key = hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            with open(cached) as f:
                want = json.load(f)
        else:
            want = frame_digest(con.execute(sql).df())
            with open(cached, "w") as f:
                json.dump(want, f)
        d = os.path.join(dump_dir, q)
        files = sorted(os.path.join(d, f) for f in os.listdir(d)
                       if f.endswith(".parquet"))
        sel = ", ".join(f"'{f}'" for f in files)
        got = frame_digest(con.execute(
            f"SELECT * FROM read_parquet([{sel}])").df())
        verdict[q] = None if got == want else (
            f"output differs from oracle: rows {got['rows']} vs "
            f"{want['rows']}, columns match {got['columns'] == want['columns']}")
    return verdict


def report_samples(n):
    p = bl.highest_supported_percentile(n)
    log(f"{n} latency samples; highest percentile with ten beyond: p{p}")
    if p is None or p < TAIL:
        log(f"warning: too few samples for latency_p{TAIL}_ms")


# ---------------------------------------------------------------- batch

def run_batch(workload, seed, seconds, trace, classpath, data_dir):
    mods = WORKLOADS[workload]
    module_of = {q: m for m, qs in mods.items() for q in qs}
    known = set(registry()["oracle"]) | {
        q for qs in registry()["modules"].values() for q in qs}
    missing = sorted(set(module_of) - known)
    if missing:
        fail(f"queries not in the engine's registry: {missing}")
    # the set-up's first pass runs in a fixed order, so set-up time does
    # not depend on the seed
    warmup = sorted(module_of)
    passes = bl.batch_order(workload, seed, warmup, BATCH_PASSES)
    out = os.path.join(BUILD, f"run-{workload}")
    shutil.rmtree(out, ignore_errors=True)
    cfg = write_config(out, {
        "mode": "batch", "out_dir": out, "data_dir": data_dir,
        "trace": bool(trace), "seconds": seconds,
        "min_samples": bl.min_samples_for(TAIL), "module_of": module_of,
        "warmup_order": warmup, "passes": passes})
    with open(os.path.join(out, "jvm.log"), "w") as errf:
        proc = subprocess.Popen(java_cmd(classpath, cfg), stdin=subprocess.DEVNULL,
                                stdout=errf, stderr=errf)
        try:
            rc = proc.wait(timeout=150)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        fail(f"engine driver exited with {rc}; see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    failed_warmup = {w["query"]: w["error"] for w in res["warmup_failed"]}
    verdict = check_batch_outputs(sorted(module_of), data_dir,
                                  os.path.join(out, "dump"), failed_warmup)
    wrong = {q for q, v in verdict.items() if v}
    for q in sorted(wrong):
        log(f"{q}: {verdict[q]}")
    samples = res["samples"]
    bad = [s for s in samples if not s["ok"] or s["query"] in wrong]
    for s in samples:
        if not s["ok"]:
            log(f"{s['query']} failed in pass {s['pass']}: {s['error']}")
    attempted = len(samples) + len(warmup)
    failed = len(bad) + len(failed_warmup)
    correct = not wrong

    report_samples(len(samples))
    if not trace:
        walls = [s["wall_s"] if s["ok"] else math.inf for s in samples]
        ok = sum(1 for s in samples if s["ok"])
        metrics = {
            "setup_s": res["setup_s"],
            "latency_p50_ms": 1000 * bl.percentile(walls, 50),
            f"latency_p{TAIL}_ms": 1000 * bl.percentile(walls, TAIL),
            "ops_per_s": ok / res["timed_s"],
            "retained_heap_mb": res["retained_heap_mb"],
        }
        log(f"{len(samples)} timed queries in {res['timed_s']:.1f}s, "
            f"{len(res['passes'])} passes; set-up {res['setup_s']:.1f}s, "
            f"its first pass {res['warmup_s']:.1f}s")
    else:
        metrics = batch_layers(res)
    return correct, attempted, failed, metrics


def batch_layers(res):
    traced = [s for s in res["samples"] if s["traced"] and s["ok"]]
    n = max(1, len(traced))
    spark = res["spark"]
    groups = [spark.get(s["id"], {}) for s in traced]

    def per_query(key):
        return sum(g.get(key, 0) for g in groups) / n

    traced_wall = sum(p["wall_s"] for p in res["passes"] if p["traced"])
    plain = [p["wall_s"] / p["queries"] for p in res["passes"] if not p["traced"]]
    spanned = [p["wall_s"] / p["queries"] for p in res["passes"] if p["traced"]]
    m = {
        "core.session_start_s": res["session_start_s"],
        "core.warmup_s": res["warmup_s"],
        "core.framecache.builds": res["framecache_builds"],
        "core.framecache.build_s": res["framecache_build_s"],
        "core.scan_rows": sum(s["scan_rows"] for s in traced) / n,
        "core.shuffle_bytes": sum(s["shuffle_bytes"] for s in traced) / n,
        "core.shuffles": sum(s["shuffles"] for s in traced) / n,
        "spark.jobs_per_query": per_query("jobs"),
        "spark.tasks_per_query": per_query("tasks"),
        "spark.task_busy_s": per_query("busy_ns") / 1e9,
        "spark.sched_delay_s": per_query("sched_delay_ms") / 1e3,
        "spark.gc_s": per_query("gc_ms") / 1e3,
        "spark.spill_bytes": per_query("spill_bytes"),
        "spark.core_util": sum(g.get("busy_ns", 0) for g in groups) / 1e9
        / max(1e-9, traced_wall * res["cores"]),
        "ml.modelcache.builds": res["modelcache_builds"],
        "ml.trainingcache.builds": res["trainingcache_builds"],
    }
    if plain and spanned:
        m["trace.overhead_pct"] = 100.0 * (statistics.fmean(spanned)
                                           / statistics.fmean(plain) - 1.0)
    for name, xs in bl.self_time_by_name(res["spans"]).items():
        if name.startswith("queries."):
            m[name + "_s"] = statistics.median(xs)
    return m


# ---------------------------------------------------------------- serve

class Load:
    """Closed-loop request generator: CONNECTIONS keep-alive connections,
    each sending the next request of the stream as soon as its previous
    one is answered, until `seconds` have passed. Each request is timed
    from send to response. The /train goes out on the first connection
    to free up after `train_at` × seconds."""

    def __init__(self, port, stream):
        self.port = port
        self.stream = stream
        self.records = []
        self.lock = threading.Lock()

    def _send(self, conn, req):
        if req["kind"] == "train":
            path, body = TRAIN_PATH, b""
        elif req["kind"] == "smoke":
            path, body = "/predict/?mode=smoke&name=bench", b""
        else:
            path = "/predict/?mode=upload&name=bench"
            body = self.stream["bodies"][req["body"]].encode()
        conn.request("POST", path, body=body,
                     headers={"Content-Type": "text/csv"})
        resp = conn.getresponse()
        return resp.status, resp.read()

    def _next(self, queue, now, t0, seconds):
        with self.lock:
            if now - t0 >= seconds or not queue:
                return None
            if not self.train_sent and now - t0 >= self.stream["train_at"] * seconds:
                self.train_sent = True
                return {"kind": "train"}
            return queue.pop(0)

    def _worker(self, queue, t0, seconds):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        while True:
            sent = time.monotonic()
            req = self._next(queue, sent, t0, seconds)
            if req is None:
                break
            try:
                status, body = self._send(conn, req)
            except (OSError, http.client.HTTPException) as e:
                status, body = 0, str(e).encode()
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                  timeout=60)
            end = time.monotonic()
            rec = dict(req, sent=sent - t0, end=end - t0, latency=end - sent,
                       status=status, resp=body.decode("utf-8", "replace"))
            with self.lock:
                self.records.append(rec)
        conn.close()

    def run(self, seconds, requests=None):
        """Drive the stream (or `requests`) for `seconds`; returns the wall
        time until the last answer arrived."""
        queue = list(self.stream["requests"] if requests is None else requests)
        self.train_sent = requests is not None
        t0 = time.monotonic()
        threads = [threading.Thread(target=self._worker,
                                    args=(queue, t0, seconds))
                   for _ in range(CONNECTIONS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.monotonic() - t0


def check_serve(records, stream, direct):
    """Validate every response; returns (failures, wrong answers)."""
    failures, wrong = [], []
    answers = {}
    for r in records:
        if r["status"] != 200:
            failures.append(f"{r['kind']} HTTP {r['status']}: {r['resp'][:200]}")
            continue
        try:
            js = json.loads(r["resp"])
        except ValueError:
            wrong.append(f"{r['kind']}: response is not JSON")
            continue
        r["json"] = js
        if r["kind"] == "train":
            acc = js.get("train_accuracy")
            if not (js.get("model_trained") is True and isinstance(acc, (int, float))
                    and 0.0 <= acc <= 1.0):
                wrong.append(f"train: bad response {r['resp'][:200]}")
            continue
        if r["kind"] == "smoke":
            score = js.get("test_score")
            if not (isinstance(score, (int, float)) and 0.0 <= score <= 1.0):
                wrong.append(f"smoke: bad test_score {r['resp'][:200]}")
                continue
            key, answer = ("smoke",), score
        else:
            body = stream["bodies"][r["body"]]
            n_rows = body.count("\n") - 1
            preds = js.get("predictions")
            if js.get("n_scored") != n_rows or not isinstance(preds, list) \
                    or len(preds) != n_rows:
                wrong.append(f"upload: {js.get('n_scored')} scored, "
                             f"{n_rows} rows sent")
                continue
            if preds != direct[r["body"]]:
                wrong.append(f"upload body {r['body']}: predictions differ "
                             "from MultiModel.score")
            key, answer = ("upload", r["body"]), preds
        # every answer for a key, cache hit or not, equals its first miss
        first = answers.setdefault(key, answer)
        if answer != first:
            wrong.append(f"{key}: answer differs from the first miss")
    return failures, wrong


def run_serve(seed, seconds, trace, classpath, data_dir):
    stream = bl.serve_stream(seed, STREAM_LENGTH, **SERVE)
    out = os.path.join(BUILD, "run-serve_mixed")
    shutil.rmtree(out, ignore_errors=True)
    cfg = write_config(out, {"mode": "serve", "out_dir": out,
                             "data_dir": data_dir, "trace": bool(trace),
                             "train_path": SETUP_TRAIN_PATH})
    errf = open(os.path.join(out, "jvm.log"), "w")
    proc = subprocess.Popen(java_cmd(classpath, cfg), stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=errf, text=True)
    watchdog = threading.Timer(150, proc.kill)
    watchdog.start()
    try:
        ready = json.loads(_read_json_line(proc))
        ready_at = time.monotonic()
        load = Load(ready["port"], stream)
        # the end of set-up: one cache miss per client, on bodies the stream
        # never sends, so the timed loop starts on a warm predict path
        warm = bl.rng_for("serve_warmup", seed)
        first = len(stream["bodies"])
        stream["bodies"] += [bl.upload_body(warm, 10) for _ in range(CONNECTIONS)]
        load.run(60.0, [{"kind": "upload", "body": first + i}
                        for i in range(CONNECTIONS)])
        warm_recs, load.records = load.records, []
        setup_s = ready["setup_s"] + (time.monotonic() - ready_at)
        wall = load.run(seconds)
        recs = load.records
        used = sorted({r["body"] for r in recs + warm_recs
                       if r["kind"] == "upload" and r["status"] == 200})
        vin = os.path.join(out, "verify_in.json")
        vout = os.path.join(out, "verify_out.json")
        with open(vin, "w") as f:
            json.dump({"bodies": [stream["bodies"][b] for b in used]}, f)
        proc.stdin.write(f"verify {vin} {vout}\n")
        proc.stdin.flush()
        _read_json_line(proc)
        with open(vout) as f:
            ver = json.load(f)
        proc.stdin.write("exit\n")
        proc.stdin.flush()
        rc = proc.wait(timeout=60)
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        errf.close()
    if rc != 0:
        fail(f"engine driver exited with {rc}; see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(out, "records.json"), "w") as f:
        json.dump(recs, f)

    direct = dict(zip(used, ver["predictions"]))
    failures, wrong = check_serve(warm_recs + recs, stream, direct)
    for w in wrong[:20]:
        log(f"wrong answer: {w}")
    causes = {}
    for f_ in failures:
        causes[f_] = causes.get(f_, 0) + 1
    for c, k in sorted(causes.items(), key=lambda x: -x[1])[:10]:
        log(f"failed x{k}: {c}")
    attempted = len(warm_recs) + len(recs)
    failed = len(failures) + len(wrong)
    correct = not wrong

    preds = [r for r in recs if r["kind"] != "train"]
    lat = [r["latency"] if r["status"] == 200 else math.inf for r in preds]
    report_samples(len(lat))
    # capacity with four predicts in flight (Little's law): the /train holds
    # a connection for a seed-dependent time, so counting answers per second
    # would mostly measure how long it ran
    ok = sum(1 for r in preds if r["status"] == 200)
    busy = sum(r["latency"] for r in preds)
    log(f"{len(preds)} predicts and {len(recs) - len(preds)} train in "
        f"{wall:.1f}s; {len(failures)} failed")
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "latency_p50_ms": 1000 * bl.percentile(lat, 50),
            f"latency_p{TAIL}_ms": 1000 * bl.percentile(lat, TAIL),
            "ops_per_s": ok * CONNECTIONS / busy,
            "retained_heap_mb": res["retained_heap_mb"],
        }
    else:
        metrics = serve_layers(res, ver, recs, preds)
    return correct, attempted, failed, metrics


def _read_json_line(proc):
    while True:
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError("engine driver closed its output")
        if line.startswith("{"):
            return line


def serve_layers(res, ver, recs, preds):
    ok = [r for r in preds if r["status"] == 200 and "json" in r]
    hits = [1000 * r["latency"] for r in ok if r["json"].get("from_cache")]
    misses = [1000 * r["latency"] for r in ok if not r["json"].get("from_cache")]
    trains = [r["latency"] for r in recs if r["kind"] == "train"]
    by_name = {k: statistics.median(v)
               for k, v in bl.self_time_by_name(ver["spans"]).items()}
    m = {
        "core.session_start_s": res["session_start_s"],
        "serve.hit_ratio": len(hits) / max(1, len(ok)),
        "ml.train_s": by_name["ml.train"],
        "ml.save_s": by_name["ml.save"],
        "ml.load_s": by_name["ml.load"],
        "ml.score_s": by_name["ml.score"],
        "ml.registry_latest_ms": 1000 * by_name["serve.hit_path"],
        "ml.registry_entries": res["registry_entries"],
        "ml.modelcache.builds": res["modelcache_builds"],
        "ml.trainingcache.builds": res["trainingcache_builds"],
        "etl.conform_s": by_name["etl.conform"],
        "trace.overhead_pct": 100.0 * (ver["layer_traced_s"]
                                       / ver["layer_bare_s"] - 1.0),
    }
    if hits:
        m["serve.hit_ms_p50"] = statistics.median(hits)
        m["serve.transport_ms"] = m["serve.hit_ms_p50"] - m["ml.registry_latest_ms"]
    if misses:
        m["serve.miss_ms_p50"] = statistics.median(misses)
    if trains:
        m["serve.train_s"] = statistics.median(trains)
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} missing under {ROOT})")
    classpath = ensure_built()
    data_dir = ensure_data()
    if WORKLOADS[a.workload] is None:
        correct, attempted, failed, metrics = run_serve(
            a.seed, a.seconds, a.trace, classpath, data_dir)
    else:
        correct, attempted, failed, metrics = run_batch(
            a.workload, a.seed, a.seconds, a.trace, classpath, data_dir)
    units = PER_LAYER if a.trace else E2E
    unknown = set(metrics) - set(units)
    if unknown:
        fail(f"metrics not declared: {sorted(unknown)}")
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
