#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload migration_ref|catalog --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the program and the harness from source
on first use (sbt, output under .bench_build/ or $CARGO_TARGET_DIR), makes the
workload's inputs from the seed, runs one benchmark JVM, checks the outputs,
and prints an effective-config header followed, as the last line, by one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the run is
traced and the metrics are the per-layer ones. `catalog` runs whole rounds of
its queries until --seconds have passed (at least one); `migration_ref` runs
one cold migration whatever --seconds says.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check_migration  # noqa: E402
import gen_catalog  # noqa: E402
import gen_migration  # noqa: E402

# The catalog pass: eight of the 23 queries named for it are left out (see
# README.md) so that one cold pass fits the run-time budget.
ITERATIVE = ["d21_pagerank", "d51_hits_scores", "d53_bfs_distances", "d54_scc",
             "d57_deepwalk_corpus", "h2_subtree_rollup"]
DATAFLOW = ["q1_pricing_summary", "j9_revenue_per_nation", "w2_topk_per_group", "e4_asof_join",
            "d4_ngram_jaccard_pairs", "d55_jw_best_match", "t88_modified_kn_perplexity",
            "t95_order5_modified_kn", "t97_corpus_to_batches_trained"]
# Catalog data scale (lineitem = 6,000,000 x sf rows).
CATALOG_SF = 0.002
SEED_PIPELINES = ["regions", "provinces", "municipalities", "permissions"]
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles program + harness with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources (src/main/scala/graft) not found: run from a checkout")
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved["digest"] == digest:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for flag in ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                 "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]:
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    env["PERFBENCH_BUILD_DIR"] = build_dir
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = p.stdout.strip().splitlines()[-1].strip()
    if "classes" not in cp:
        log(p.stdout[-4000:])
        raise SystemExit("build produced no classpath")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- harness

def run_jvm(classpath, work, cores, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        # Scratch and warehouse stay inside the checkout's build directory.
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
    })
    # The traced run reads jobs back from Spark's status store: keep them all.
    keep = ["-Dspark.ui.retainedJobs=100000", "-Dspark.ui.retainedStages=100000"] \
        if "trace" in args else []
    # Fixed heap and young generation: with adaptive sizing the peak resident
    # set followed GC pause times, which vary with host load (0.25 IQR/median
    # over five runs of the same workload).
    cmd = (["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false"] + keep +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-cp", classpath, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(args["result"]):
        with open(os.path.join(work, "jvm.log")) as fh:
            log(fh.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(args["result"]) as fh:
        return json.load(fh)


def tree_size(path, skip=()):
    total, files = 0, 0
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if x not in skip]
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def geomean(xs):
    # Floor at 10 ms: a 1-2 ms pipeline (poa_truncate, which only deletes
    # files) would otherwise swing the mean on noise alone.
    return math.exp(sum(math.log(max(x, 0.01)) for x in xs) / len(xs))


# ---------------------------------------------------------------- trace

def load_trace(path):
    spans, jobs, cache_peak = {}, [], 0
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if r["type"] == "span":
                spans[r["id"]] = r
            elif r["type"] == "job":
                jobs.append(r)
            else:
                cache_peak = r["cached_bytes_peak"]
    return spans, jobs, cache_peak


def under(spans, sid, root):
    while sid in spans:
        if sid == root:
            return True
        sid = spans[sid]["parent"]
    return False


def union_ms(intervals, lo, hi):
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def engine_metrics(spans, jobs, root, cores, cache_peak, source_bytes):
    span = spans[root]
    wall_ms = span["end_ms"] - span["start_ms"]
    js = [j for j in jobs if under(spans, j["span"], root)]
    s = lambda k: sum(j[k] for j in js)  # noqa: E731
    run_s = s("run_ms") / 1e3
    busy = union_ms([(j["start_ms"], j["end_ms"]) for j in js], span["start_ms"], span["end_ms"])
    return js, {
        "engine.jobs": len(js), "engine.stages": s("stages"), "engine.tasks": s("tasks"),
        "engine.scheduler_delay_s": s("sched_delay_ms") / 1e3,
        "engine.no_job_s": (wall_ms - busy) / 1e3,
        "engine.core_busy": run_s / (wall_ms / 1e3 * cores),
        "engine.executor_run_s": run_s, "engine.executor_cpu_s": s("cpu_ns") / 1e9,
        "engine.gc_s": s("gc_ms") / 1e3,
        "engine.shuffle_write_bytes": s("shuffle_write_bytes"),
        "engine.shuffle_read_bytes": s("shuffle_read_bytes"),
        "engine.spill_bytes": s("spill_bytes"), "engine.cached_bytes_peak": cache_peak,
        "io.scan_bytes": s("in_bytes"), "io.scan_records": s("in_records"),
        "io.scan_amplification": s("in_bytes") / source_bytes,
        "io.write_bytes": s("out_bytes"), "io.write_records": s("out_records"),
    }


def critical_path(times, deps):
    memo = {}

    def finish(p):
        if p not in memo:
            memo[p] = times.get(p, 0.0) + max((finish(d) for d in deps.get(p, [])), default=0.0)
        return memo[p]
    return max(finish(p) for p in times)


# ---------------------------------------------------------------- workloads

def migration_workload(a, cp, work, cores):
    src, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(src)
    manifest = gen_migration.generate(a.seed, src)
    trace = os.path.join(work, "trace.jsonl")
    args = {"in": src, "out": out, "result": os.path.join(work, "result.json")}
    if a.trace:
        args["trace"] = trace
    r = run_jvm(cp, work, cores, args)
    m = r["migration"]
    times = m["pipelines"]
    attempted = len(m["depends_on"])
    failed = attempted - len(times)
    # Runner is fail-fast: the failing pipeline and every one after it never
    # complete, and a run with a failure is not correct.
    if m["error"]:
        log(f"[perfbench] migration failed: {m['error']}")
    fails = check_migration.check(out, manifest) if m["error"] is None else [m["error"]]
    for f in fails:
        log(f"[perfbench] check: {f}")
    target_bytes, target_files = tree_size(out, skip=("_objects",))
    object_bytes, objects = tree_size(os.path.join(out, "_objects"))
    e2e = {
        "elapsed_s": m["wall_s"],
        "cpu_s": m["cpu_s"],
        "op_geomean_s": geomean(list(times.values())) if times else 0.0,
        "output_bytes": target_bytes,
    }
    layer = {}
    if a.trace:
        spans, jobs, peak = load_trace(trace)
        root = next(i for i, s in spans.items() if s["name"] == "migration")
        js, layer = engine_metrics(spans, jobs, root, cores, peak, manifest["source_parquet_bytes"])
        by_name = {s["name"][len("pipeline:"):]: i for i, s in spans.items()
                   if s["name"].startswith("pipeline:")}
        # The upload runs inside the job that counts the joined-back mapping
        # (CorePipelines.attachMappingWithRelease), with its AQE stage jobs.
        upload = [(j["start_ms"], j["end_ms"]) for j in js
                  if j["span"] == by_name.get("resolutions")
                  and j["call_site"].startswith("count at CorePipelines")]
        driver = 0.0
        for name, sid in by_name.items():
            sp = spans[sid]
            inside = [(j["start_ms"], j["end_ms"]) for j in js if j["span"] == sid]
            driver += (sp["end_ms"] - sp["start_ms"] - union_ms(inside, sp["start_ms"], sp["end_ms"])) / 1e3
        layer.update({
            "io.upload_s": union_ms(upload, 0, float("inf")) / 1e3,
            "io.object_bytes": object_bytes,
            "io.target_files": target_files,
            "io.attachments_per_s": objects / times["resolutions"] if times.get("resolutions") else 0.0,
            "io.seed_csv_s": sum(times.get(p, 0.0) for p in SEED_PIPELINES),
            "pipeline.sum_s": sum(times.values()),
            "pipeline.critical_path_s": critical_path(times, m["depends_on"]),
            "pipeline.gap_s": m["wall_s"] - sum(times.values()),
            "pipelines.driver_s": driver,
        })
        layer.update({f"pipelines.{p}_s": t for p, t in times.items()})
    return r, attempted, failed, not fails, e2e, layer


def catalog_workload(a, cp, work, cores):
    data, res = os.path.join(work, "data"), os.path.join(work, "results")
    os.makedirs(data)
    os.makedirs(res)
    gen_catalog.generate(a.seed, CATALOG_SF, data)
    names = ITERATIVE + DATAFLOW
    trace = os.path.join(work, "trace.jsonl")
    args = {"cat": data, "catout": res, "queries": ",".join(names),
            "catSeconds": str(a.seconds), "result": os.path.join(work, "result.json")}
    if a.trace:
        args["trace"] = trace
    r = run_jvm(cp, work, cores, args)
    c = r["catalog"]
    for n, why in c["failures"].items():
        log(f"[perfbench] {n} failed: {why}")
    t0 = time.time()
    ok = oracle_check(data, res, [n for n in names if n not in c["failures"]])
    log(f"[perfbench] oracle check {time.time() - t0:.1f} s")
    per_query = {n: statistics.median([x + y for x, y in zip(c["construct_s"][n], c["exec_s"][n])])
                 for n in names if c["exec_s"][n]}
    out_bytes, _ = tree_size(res)
    e2e = {
        "elapsed_s": sum(per_query.values()),
        "cpu_s": c["cpu_s"] / c["rounds"],
        "op_geomean_s": geomean(list(per_query.values())) if per_query else 0.0,
        "output_bytes": out_bytes,
    }
    layer = {}
    if a.trace:
        spans, jobs, peak = load_trace(trace)
        root = next(i for i, s in spans.items() if s["name"] == "catalog")
        src_bytes, _ = tree_size(data)
        js, layer = engine_metrics(spans, jobs, root, cores, peak, src_bytes)
        qspan = {}
        for i, s in spans.items():
            if s["name"].startswith("query:") and s["name"].count(":") == 1:
                qspan.setdefault(s["name"][6:], set()).add(i)
        layer.update({
            "queries.iterative_s": sum(per_query.get(n, 0.0) for n in ITERATIVE),
            "queries.dataflow_s": sum(per_query.get(n, 0.0) for n in DATAFLOW),
            "queries.construct_s": sum(statistics.median(c["construct_s"][n]) for n in per_query),
            "queries.exec_s": sum(statistics.median(c["exec_s"][n]) for n in per_query),
        })
        layer.update({f"queries.{n}_s": t for n, t in per_query.items()})
        for n in ITERATIVE:
            ids = qspan.get(n, set())
            n_jobs = sum(1 for j in js if j["span"] in ids or spans.get(j["span"], {}).get("parent") in ids)
            layer[f"queries.{n}.jobs"] = n_jobs / max(1, c["rounds"])
    return r, c["attempted"], c["failed"], ok, e2e, layer


def oracle_check(data, res, names):
    """DuckDB runs each query's oracle SQL over the same parquet files and the
    Spark result must match it, column names, DuckDB types and rows, after
    tools/check_oracle.py's normalisation (its frame_rows / frame_types,
    reused as is). Its second, pandas-path comparison is left out: it runs
    every oracle query again and would double the check's time."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = co.duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(res, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    ok = True
    for n in names:
        files = glob.glob(os.path.join(res, n, "*.parquet"))
        if n not in oracle or not files:
            log(f"[perfbench] oracle: {n}: no oracle SQL or no Spark result")
            ok = False
            continue
        got_sql = f"SELECT * FROM read_parquet({files!r})"
        try:
            want, got = co.frame_rows(con, oracle[n]), co.frame_rows(con, got_sql)
            types_ok = co.frame_types(con, oracle[n]) == co.frame_types(con, got_sql)
        except Exception as e:  # noqa: BLE001 - any DuckDB error fails the query
            log(f"[perfbench] oracle: {n}: {e}")
            ok = False
            continue
        if want != got or not types_ok:
            log(f"[perfbench] oracle: {n}: result differs (columns/types/rows)")
            ok = False
    return ok


WORKLOADS = {"migration_ref": migration_workload, "catalog": catalog_workload}


def main():
    ap = argparse.ArgumentParser(description="perfbench runner")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)
    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    t0 = time.time()
    r, attempted, failed, correct, e2e, layer = WORKLOADS[a.workload](a, cp, work, cores)
    e2e["setup_s"] = r["setup_s"]
    e2e["peak_rss_mb"] = r["vm_hwm_kb"] / 1024.0
    cfg = r["config"]
    print(f"# perfbench workload={a.workload} seed={a.seed} trace={a.trace} "
          f"catalog_sf={CATALOG_SF if a.workload == 'catalog' else '-'} "
          f"migration_scale={'ref' if a.workload == 'migration_ref' else '-'}")
    for k, v in cfg.items():
        print(f"# config {k}={v}")
    print(f"# setup_s={r['setup_s']} run_wall_s={time.time() - t0:.1f}")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layer if a.trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
