#!/usr/bin/env python3
"""Benchmark of the graft engine: seeded workloads, end-to-end metrics,
a traced run for per-layer metrics, and output checks.

Usage (from the repository root):

    python3 perfbench/run.py --workload sweep|serve \
        --seed N --seconds S --trace 0|1 [--smoke]

The first run compiles the engine (src/main/scala) and the harness
(perfbench/harness) with the Scala compiler that ships with Spark, into
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench). Each run
then gets its own empty scratch directory (java.io.tmpdir, Spark local
dir, index and sink paths), generates its inputs from the seed, starts
one JVM (perfbench.Main), checks the outputs (DuckDB oracle with the
comparison rules of tools/check_oracle.py, recall@10 against exact
top-10, sink against a batch recompute) and prints, as the last stdout
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.

A traced run also runs the other workload, small and after the timed
region, for the per-layer metrics its own loop does not reach; a
per-layer metric that neither measures fails the run.

The line before it carries the workload's named metrics, the box and
config stamp and, for a traced run, its overhead against the untraced
run of the same workload and seed. A record of each run, and the span
file of a traced run, is kept under <build dir>/records.
"""
import argparse
import datetime
import hashlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((HERE / "spec.json").read_text())
CONTRACT = ROOT / "BENCHMARK.json"

DIM = 768
# The reference dashboard's three pages and, for each, the registered
# reads a view of the page serves through SparkEntry (one per view) and
# its parameterised read: a PlanCache range or last-point text, or a kNN
# search (spec.json "serve_traffic" gives the sources).
PAGES = {
    "close_prices": (["q_s4_range_scan", "q_s5_relative_scan"], "range"),
    "ohlc_signals": (["q_e3_signal_overlay", "q_s8_filter_limit", "q_s3_last_point",
                      "q_p7_last_per_series"], "last"),
    "sentiment": (["q_v3_knn_histogram"], "knn"),
}
DASHBOARD_QUERIES = [q for qs, _ in PAGES.values() for q in qs]
# In a traced run, the layers a workload's own loop does not reach are
# measured by a short run of the other workload after the timed region.
PROBE = {"sweep": "serve", "serve": "sweep"}
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark installation's jars: $SPARK_HOME, else spark-submit's."""
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (submit and Path(submit).resolve().parent.parent)
    if not home:
        die("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def scalac(jars, classpath, out, sources):
    out.mkdir(parents=True)
    args = out.parent / (out.name + ".args")
    args.write_text("\n".join(str(s) for s in sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath, f"@{args}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die(f"compile failed: {out.name}")


def build(build_dir, jars):
    """Compile the engine and the harness once per source tree."""
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "harness").glob("*.scala"))
    if not engine:
        die(f"no engine sources under {ROOT / 'src/main/scala'}")
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    tag = h.hexdigest()[:16]
    classes = build_dir / f"classes-{tag}"
    if not (classes / "DONE").exists():
        tmp = build_dir / f"building-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        scalac(jars, f"{jars}/*", tmp / "engine", engine)
        scalac(jars, f"{tmp / 'engine'}:{jars}/*", tmp / "harness", harness)
        (tmp / "DONE").write_text(f"{time.time() - t0:.1f}\n")
        for stale in build_dir.glob("classes-*"):
            shutil.rmtree(stale, ignore_errors=True)
        tmp.rename(classes)
    return classes, tag


# ------------------------------------------------------------------ inputs

def write_f64(path, a):
    np.ascontiguousarray(a, dtype="<f8").tofile(path)


def write_i32(path, a):
    np.ascontiguousarray(a, dtype="<i4").tofile(path)


def clustered(rng, centers, n, noise):
    lab = rng.integers(0, len(centers), n)
    return centers[lab] + noise * rng.standard_normal((n, centers.shape[1])), lab


def vector_inputs(rng, cfg, inp):
    centers = rng.standard_normal((cfg["clusters"], DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus, lab = clustered(rng, centers, cfg["corpus"], cfg["noise"])
    qv, _ = clustered(rng, centers, cfg["queries"], cfg["noise"])
    write_f64(inp / "corpus.f64", corpus)
    write_i32(inp / "labels.i32", lab)
    write_f64(inp / "qvecs.f64", qv)
    write_f64(inp / "centers.f64", centers)  # the IVF coarse quantizer's centroids
    return centers, corpus, qv


def sql_texts(rng, n):
    """Parameterised range and last-point texts over `events`, in seeded
    order, alternating the two templates: n distinct texts, more than
    PlanCache holds (128)."""
    day0 = datetime.datetime(2024, 1, 1)
    ranges, lasts = [], []
    for u in range(15):
        for d in range(30):
            a = day0 + datetime.timedelta(days=d)
            for w in (1, 3, 7):
                b = a + datetime.timedelta(days=w)
                ranges.append(
                    "SELECT user_id, count(*) AS n, min(value) AS lo, max(value) AS hi, "
                    "min(event_id) AS first_id, max(event_id) AS last_id FROM events "
                    f"WHERE user_id = {u} AND ts >= TIMESTAMP '{a:%Y-%m-%d %H:%M:%S}' "
                    f"AND ts < TIMESTAMP '{b:%Y-%m-%d %H:%M:%S}' GROUP BY user_id")
            for hh in (0, 6, 12, 18):
                t = a + datetime.timedelta(hours=hh)
                lasts.append(
                    "SELECT event_id, user_id, value FROM events "
                    f"WHERE user_id = {u} AND ts < TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}' "
                    "ORDER BY ts DESC, event_id DESC LIMIT 1")
    ranges = [ranges[i] for i in rng.permutation(len(ranges))]
    lasts = [lasts[i] for i in rng.permutation(len(lasts))]
    return [t for pair in zip(ranges, lasts) for t in pair][:n]


def gen_sweep(seed, cfg, inp, params):
    names = list(SPEC["sweep_queries"])[:cfg["queries"]]
    if cfg.get("one_per_pack"):
        # registry order, so the first query of each pack is the one run
        params.update(one_per_pack=1, sweep_warmup="")
    else:
        random.Random(seed).shuffle(names)
        params["sweep_warmup"] = ",".join(SPEC["sweep_warmup"])
    params["sweep_queries"] = ",".join(names)
    return {}


def gen_serve(seed, cfg, inp, params):
    rng = np.random.default_rng(seed)
    centers, corpus, qv = vector_inputs(rng, cfg, inp)
    texts = sql_texts(rng, cfg["sql_texts"])
    (inp / "sql.tsv").write_text("".join(f"{i}\t{t}\n" for i, t in enumerate(texts)))
    # hourly cycle inputs: candles (299 h of history, then one per
    # series per cycle), a vector batch per cycle, the series read back
    # and the query vector searched after the cycle's writes
    n_cycles, batch, series = cfg["blocks"] + 1, cfg["append_batch"], cfg["series"]
    adds, alab = clustered(rng, centers, n_cycles * batch, cfg["noise"])
    write_f64(inp / "appends.f64", adds)
    write_i32(inp / "append_labels.i32", alab)
    past = cfg["history_hours"]
    walk = 100.0 + np.cumsum(rng.standard_normal((past + n_cycles, series)), axis=0)
    t0 = 1709251200  # 2024-03-01T00:00:00Z
    hist, ticks = [], []
    for h in range(past + n_cycles):
        for s in range(series):
            row = f"{h * series + s}\t{t0 + h * 3600}\t{s}\t{float(walk[h, s])!r}\n"
            (hist if h < past else ticks).append(f"{-1 if h < past else h - past}\t{row}")
    (inp / "history.tsv").write_text("".join(hist))
    (inp / "ticks.tsv").write_text("".join(ticks))
    plan = [(int(rng.integers(series)), int(rng.integers(len(qv)))) for _ in range(n_cycles)]
    (inp / "cycles.tsv").write_text("".join(f"{c}\t{u}\t{q}\n" for c, (u, q) in enumerate(plan)))
    # dashboard reads: blocks of `page_views` views of each page in
    # seeded order, each block closed by one hourly cycle. A view is the
    # page's registered read plus its parameterised read; every block has
    # the same reads, only their order and parameters come from the seed.
    # The i-th view of a page in a block takes the page's registered
    # queries in turn. The PlanCache texts (even ids range, odd ids
    # last-point) come in two tiers: the first half of a page's views in
    # a block draw from a few hot texts (warmed in set-up, so hits), the
    # rest walk the other texts without repeats (misses). Sentiment views
    # alternate the NSW and IVF index.
    n_hot, views = cfg["sql_hot"], cfg["page_views"]
    hot = {"range": range(0, n_hot, 2), "last": range(1, n_hot, 2)}
    cold = {"range": iter(range(n_hot, len(texts), 2)),
            "last": iter(range(n_hot + 1, len(texts), 2))}
    lines = []  # (kind, arg, appended batches visible to the request, page view)
    for b in range(1, n_cycles):
        page_views = [(page, i) for page in PAGES for i in range(views)]
        for j in rng.permutation(len(page_views)):
            page, i = page_views[j]
            queries, param = PAGES[page]
            view = len(lines)
            lines.append(("query", queries[i % len(queries)], b, view))
            if param == "knn":
                kind, arg = ("nsw" if i % 2 == 0 else "ivf"), str(rng.integers(1, len(qv)))
            elif i < (views + 1) // 2:
                kind, arg = "sql", str(hot[param][rng.integers(len(hot[param]))])
            else:
                kind, arg = "sql", str(next(cold[param]))
            lines.append((kind, arg, b, view))
        lines.append(("cycle", str(b), b + 1, None))
    (inp / "schedule.tsv").write_text("".join(f"{k}\t{a}\n" for k, a, _, _ in lines))
    params.update(dashboard_queries=",".join(DASHBOARD_QUERIES), append_batch=batch,
                  min_blocks=cfg["min_blocks"], sql_hot=",".join(map(str, range(n_hot))))
    return {"corpus": np.vstack([corpus, adds]), "base": len(corpus), "batch": batch,
            "qv": qv, "plan": plan, "visible": [v for _, _, v, _ in lines],
            "view": [w for _, _, _, w in lines]}


GENERATORS = {"sweep": gen_sweep, "serve": gen_serve}


# ------------------------------------------------------------------ box stamp

def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_pct(a, b):
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / max(1, sum(d[:8])) if len(d) > 7 else 0.0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


# ------------------------------------------------------------------ checks

def load_check_oracle():
    path = ROOT / "tools" / "check_oracle.py"
    if not path.exists():
        die(f"missing {path}")
    sys.dont_write_bytecode = True  # leave no __pycache__ beside the tool
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(res_dir, data_dir, cache_dir):
    """Keys whose collected result differs from DuckDB, or (without an
    oracle) is empty — the rules of tools/check_oracle.py, whose DuckDB
    result memo is kept in `cache_dir`."""
    import duckdb
    import pandas as pd
    co = load_check_oracle()
    con = duckdb.connect()
    for t in co.TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    cache_dir.mkdir(exist_ok=True)
    corpus = co._corpus_fingerprint(str(data_dir))
    bad = {}
    for d in sorted(p for p in res_dir.iterdir() if p.is_dir()):
        spark_df = pd.read_parquet(d)
        sql_file = res_dir / f"{d.name}.sql"
        if not sql_file.exists():
            if len(spark_df) == 0:
                bad[d.name] = ["empty result"]
            continue
        try:
            duck_df = co._cached_duck(con, cache_dir, corpus, d.name, sql_file.read_text())
            problems = co.compare(d.name, spark_df, duck_df)
        except Exception as e:  # an oracle that cannot run is a failed check
            problems = [f"duckdb error: {e}"]
        if problems:
            bad[d.name] = problems
    return bad


# ------------------------------------------------------------------ metrics

def tail(values, pct):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(pct / 100.0 * len(s))) - 1))]


def geomean(values):
    return float(np.exp(np.mean(np.log(values))))


def metric(v, unit):
    return {"value": float(v), "unit": unit}


def span_layers(spans, measured_reqs, n_ops):
    """Listener counts and GC per measured operation, and self time per
    span name (duration minus the time its children cover)."""
    own = [s for s in spans if s["req"] in measured_reqs]
    per_op = max(1, n_ops)
    total = {k: sum(s[k] for s in own) for k in
             ("jobs", "tasks", "single_task_jobs", "shuffle_write_bytes", "spill_bytes")}
    gc_ms = sum(s["gc_ms"] for s in own if s["parent"] < 0)
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    self_ms = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + dur / 1e6
    layers = {
        "queries.jobs": total["jobs"] / per_op,
        "queries.tasks": total["tasks"] / per_op,
        "queries.single_task_jobs": total["single_task_jobs"] / per_op,
        "queries.shuffle_write_bytes": total["shuffle_write_bytes"] / per_op,
        "queries.spill_bytes": total["spill_bytes"] / per_op,
        "queries.gc_s": gc_ms / 1000.0 / per_op,
    }
    return layers, {k: round(v, 3) for k, v in sorted(self_ms.items())}


def tail_rule(values):
    """The highest percentile with at least ten samples beyond it (the
    11th largest value) and that percentile; None below 11 samples."""
    if len(values) < 11:
        return None, None
    return sorted(values)[-11], round(100.0 * (len(values) - 10) / len(values), 1)


def recall_gate():
    """Per index, the recall@10 below which one search fails and below
    which the mean of a run's searches fails them all: the lowest values
    the seed commit showed (spec.json seed_commit.recall10), less the
    margins of spec.json recall_gate."""
    g = SPEC["recall_gate"]
    return {k: (round(v["search_min"] - g["search_margin"], 6),
                round(v["run_mean_min"] - g["mean_margin"], 6))
            for k, v in SPEC["seed_commit"]["recall10"].items()}


def evaluate(workload, out, aux, data_dir, cache_dir):
    """Check outputs and compute metrics from the JVM's raw files."""
    ops = []
    for line in (out / "ops.tsv").read_text().splitlines():
        kind, key, ms, ok, req, detail = line.split("\t", 5)
        ops.append({"kind": kind, "key": key, "ms": float(ms), "ok": ok == "1",
                    "req": req, "detail": detail})
    setups = {"rep": [], "warm": []}
    for line in (out / "setup.tsv").read_text().splitlines():
        kind, sec = line.split("\t")
        setups[kind].append(float(sec))
    setup_s = statistics.median(setups["rep"]) + sum(setups["warm"])
    layers = {}
    for line in (out / "layers.tsv").read_text().splitlines():
        k, v = line.split("\t")
        layers[k] = float(v)
    bad = oracle_failures(out / "res", data_dir, cache_dir)
    named, tails = {}, {}

    def named_timing(name, values):
        named[f"{name}_p50_ms"] = metric(statistics.median(values), "ms")
        v, pct = tail_rule(values)
        if v is not None:
            named[f"{name}_tail_ms"] = metric(v, "ms")
        tails[f"{name}_tail_ms"] = {"percentile": pct, "samples": len(values)}

    if workload == "sweep":
        for o in ops:
            o["ok"] = o["ok"] and o["key"] not in bad
        named["sweep_s"] = metric(sum(o["ms"] for o in ops) / 1000.0, "s")
    else:
        corpus, base, batch = aux["corpus"], aux["base"], aux["batch"]
        norm = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
        cache, recalls = {}, {"nsw": [], "ivf": []}
        gate = recall_gate()

        def knn_ok(o, qi, visible):
            key = (qi, visible)
            if key not in cache:
                q = aux["qv"][qi]
                s = norm[:base + visible * batch] @ (q / np.linalg.norm(q))
                cache[key] = set(np.lexsort((np.arange(len(s)), -np.round(s, 12)))[:10].tolist())
            got = {int(x) for x in o["detail"].split(",") if x}
            o["recall"] = len(cache[key] & got) / 10.0
            recalls[o["kind"][:3]].append(o["recall"])
            return o["ok"] and o["recall"] >= gate[o["kind"][:3]][0]

        fed, bad_cycles = (out / "sink_check.txt").read_text().strip("\n").split("\t")
        bad_cycles = {int(x) for x in bad_cycles.split(",") if x}
        for o in ops:
            if o["req"].startswith("cycle"):
                c = int(o["key"])
                ok = o["ok"] and c not in bad_cycles and -1 not in bad_cycles
                if o["kind"] in ("nsw_fresh", "ivf_fresh"):
                    ok = knn_ok(o, aux["plan"][c][1], c + 1) and ok
            else:
                visible = aux["visible"][int(o["req"][2:])]
                if o["kind"] in ("nsw", "ivf"):
                    ok = knn_ok(o, int(o["key"]), visible)
                else:
                    key = o["key"] if o["kind"] == "query" else f"sql_{o['key']}"
                    ok = o["ok"] and key not in bad
            o["ok"] = ok
        for k, v in recalls.items():
            # a run whose mean recall falls below the gate fails all its
            # searches on that index, however many pass one by one
            if len(v) >= SPEC["recall_gate"]["mean_min_searches"] and statistics.mean(v) < gate[k][1]:
                for o in ops:
                    if o["kind"][:3] == k:
                        o["ok"] = False
        kinds = lambda *ks: [o["ms"] for o in ops if o["kind"] in ks]
        named_timing("read", kinds("query", "sql"))
        named_timing("knn", kinds("nsw", "ivf"))
        named_timing("knn_fresh", kinds("nsw_fresh", "ivf_fresh"))
        named_timing("tick", kinds("tick"))
        named_timing("fresh_read", kinds("fresh_read"))
        appended = batch * len(kinds("ivf_append"))
        named["upsert_vecs_per_s"] = metric(
            2 * appended / (sum(kinds("ivf_append", "nsw_append")) / 1000.0), "1/s")
        named["knn_recall10"] = metric(statistics.mean(recalls["nsw"] + recalls["ivf"]), "share")
        for k, v in recalls.items():
            layers[f"operators.{'NswIndex' if k == 'nsw' else 'IvfIndex'}.recall10"] = statistics.mean(v)

    # the client's requests: the sweep's queries, or the serve loop's
    # page views (the two reads of a view, summed); ops_per_s divides
    # them by all the loop's engine time, so the hourly cycles that block
    # the one client count too
    if workload == "sweep":
        reads = [o["ms"] for o in ops]
    else:
        views = {}
        for o in ops:
            if not o["req"].startswith("cycle"):
                w = aux["view"][int(o["req"][2:])]
                views[w] = views.get(w, 0.0) + o["ms"]
        reads = list(views.values())
    pct = SPEC["tail_percentile"][workload]
    cut = tail(reads, pct)
    beyond = [x for x in reads if x > cut]
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(len(reads) / (sum(o["ms"] for o in ops) / 1000.0), "1/s"),
        "op_geomean_ms": metric(geomean(reads), "ms"),
        "op_tail_ms": metric(statistics.mean(beyond or [cut]) if SPEC["tail_mean"][workload]
                             else cut, "ms"),
    }
    named["op_p50_ms"] = metric(statistics.median(reads), "ms")
    tails["op_tail_ms"] = {"percentile": pct, "samples": len(reads), "beyond": len(beyond),
                           "mean_beyond": SPEC["tail_mean"][workload]}
    return {"ops": ops, "e2e": e2e, "named": named, "tails": tails, "layers": layers,
            "setups": setups, "failed": sum(1 for o in ops if not o["ok"]),
            "oracle_failures": bad}


# ------------------------------------------------------------------ main

def prepare(workload, seed, seconds, trace, sizes, top, cores):
    """Directories, params file and seeded inputs of one workload's run
    under `top`; returns the params, the generator's data for the checks,
    and the directories."""
    dirs = {k: top / k for k in ("scratch", "inputs", "out")}
    for d in dirs.values():
        d.mkdir(parents=True)
    params = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "cores": cores, "setup_reps": sizes["setup_reps"],
              "data": HERE / "data", "inputs": dirs["inputs"], "out": dirs["out"],
              "scratch": dirs["scratch"], "dim": DIM}
    for k in ("nprobe", "ef_search"):
        if k in sizes:
            params[k] = sizes[k]
    aux = GENERATORS[workload](seed, sizes, dirs["inputs"], params)
    return params, aux, dirs


def write_params(params):
    path = params["inputs"] / "params.txt"
    path.write_text("".join(f"{k}={v}\n" for k, v in params.items()))
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for checking the benchmark itself")
    a = ap.parse_args()

    for required in (ROOT / "src" / "main" / "scala", ROOT / "tools" / "check_oracle.py", CONTRACT):
        if not required.exists():
            die(f"not a checkout of the engine: {required} is missing")
    jars = spark_jars()
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    build_dir.mkdir(parents=True, exist_ok=True)
    classes, src_tag = build(build_dir, jars)

    sizes = SPEC["smoke_sizes" if a.smoke else "sizes"][a.workload]
    cores = len(os.sched_getaffinity(0))
    run_dir = build_dir / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    params, aux, dirs = prepare(a.workload, a.seed, a.seconds, a.trace, sizes, run_dir, cores)
    for k in ("tmp", "local"):
        dirs[k] = run_dir / k
        dirs[k].mkdir()
    if a.trace:
        # the other workload, small and untimed, for the layers this
        # workload's loop does not reach; it runs after the timed region
        probe_w = PROBE[a.workload]
        probe_params, probe_aux, probe_dirs = prepare(
            probe_w, a.seed, 0, 1, SPEC["probe_sizes"][probe_w], run_dir / "probe", cores)
        params["probe"] = write_params(probe_params)
    params_file = write_params(params)

    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_LOCAL_DIRS=str(dirs["local"]), TMPDIR=str(dirs["tmp"]))
    xmx = SPEC["jvm_heap"]
    # -UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{xmx}", f"-Xmx{xmx}", f"-Djava.io.tmpdir={dirs['tmp']}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes / 'harness'}:{classes / 'engine'}:{jars}/*",
            "perfbench.Main", str(params_file)])
    cpu0, load0, t0 = cpu_times(), loadavg(), time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(dirs["out"] / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # never leave the JVM running: timeout, SIGTERM or Ctrl-C
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    cpu1, load1, wall = cpu_times(), loadavg(), time.time() - t0
    if rc != 0:
        sys.stderr.write((dirs["out"] / "jvm.log").read_text()[-6000:])
        die(f"engine run failed ({rc})")

    r = evaluate(a.workload, dirs["out"], aux, HERE / "data", build_dir / "oracle")
    attempted, failed = len(r["ops"]), r["failed"]
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "smoke": a.smoke, "nproc": os.cpu_count(), "spark_cores": cores, "xmx": xmx,
        "loadavg_start": load0, "loadavg_end": load1, "steal_pct": round(steal_pct(cpu0, cpu1), 3),
        "scratch": "cold", "spark_graft_env": knobs, "git_commit": git_commit(),
        "source_tag": src_tag, "jvm_wall_s": round(wall, 2),
        "loop": SPEC["loop_model"],
    }
    ops = r["ops"]
    record = {"stamp": stamp, "end_to_end": r["e2e"], "named": r["named"], "tails": r["tails"],
              "setup_runs_s": r["setups"], "attempted": attempted, "failed": failed,
              "oracle_failures": r["oracle_failures"],
              "ops": [[o["kind"], o["key"], round(o["ms"], 3), o["ok"]] +
                      ([o["recall"]] if "recall" in o else []) for o in ops]}
    records = build_dir / "records"
    records.mkdir(exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}{'-smoke' if a.smoke else ''}"

    if a.trace:
        spans = [json.loads(l) for l in (dirs["out"] / "spans.jsonl").read_text().splitlines()]
        listener, self_ms = span_layers(spans, {o["req"] for o in ops}, len(ops))
        layers = dict(r["layers"], **listener)
        source = {k: "loop" for k in layers}
        pr = evaluate(probe_w, probe_dirs["out"], probe_aux, HERE / "data", build_dir / "oracle")
        for k, v in pr["layers"].items():
            if k not in layers:
                layers[k], source[k] = v, f"probe ({probe_w})"
        missing = [m["name"] for m in json.loads(CONTRACT.read_text())["per_layer"]
                   if m["name"] not in layers]
        if missing:
            die(f"per-layer metrics not measured: {', '.join(missing)}")
        attempted += len(pr["ops"])
        failed += pr["failed"]
        record.update(attempted=attempted, failed=failed, layer_source=source,
                      probe={"workload": probe_w, "attempted": len(pr["ops"]),
                             "failed": pr["failed"], "oracle_failures": pr["oracle_failures"]})
        shutil.copy(dirs["out"] / "spans.jsonl", records / f"{stem}.spans.jsonl")
        record["self_ms_by_span"] = self_ms
        untraced = records / f"{stem}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            record["trace_overhead"] = {
                k: round(r["e2e"][k]["value"] / base[k]["value"] - 1.0, 4) for k in base}
        else:
            record["trace_overhead"] = "no untraced record for this workload and seed"
        metrics = {m["name"]: metric(layers[m["name"]], m["unit"])
                   for m in json.loads(CONTRACT.read_text())["per_layer"]}
    else:
        metrics = r["e2e"]
    (records / f"{stem}-trace{a.trace}.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
