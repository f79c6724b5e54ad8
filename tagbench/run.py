#!/usr/bin/env python3
"""The repository benchmark: one command per workload and seed.

    python3 tagbench/run.py --workload tag_photos --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the engine from this checkout
(`tagbench/build.py`), generates the workload's inputs from the seed
(cached per seed, outside every timed region), starts one JVM that drives
the engine's public library functions on `local[<nproc>]` in a closed loop
with one client, checks the outputs, and prints every metric with its
unit. The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the line before it carries the run's
details (inputs, sample counts, source stamp). With `--trace 1` the
metrics are the per-layer ones of `BENCHMARK.json`, from one traced pass
after the untraced ones; a layer a workload does not exercise reads 0.

Workloads:
  tag_photos    Images.tagImages -> withRunMetrics -> writeSidecars ->
                releaseScored over a nested tree of photos (preprocess-bound)
  retag_logits  stored logits -> Tagging.pipeline -> parquet of tags
                (selection and shuffle-bound)
  query_mix     14 SparkEntry.queries, each result collected in full, over
                tagbench/tables, a key-range fifth of the sf0.1 fixture
                (query-engine-bound, read-only)

Build outputs, inputs and scratch files live under .bench_build/tagbench.
"""
import argparse
import contextlib
import hashlib
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
BUILD = os.path.join(ROOT, ".bench_build", "tagbench")
WORKLOADS = ("tag_photos", "retag_logits", "query_mix")
HEAP = "4g"
RUN_LIMIT_S = 160
KEEP_SEEDS = 3
# query_mix tables (tagbench/derive_tables.py): a key-range fifth of the sf0.1
# fixture, so that set-up plus one pass fits the time a run may take
TABLES = os.path.join(HERE, "tables")
# Spark 4 on JDK 17 outside spark-submit: the options build.sbt gives `run`
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, HERE)
import build  # noqa: E402
import derive_tables  # noqa: E402
import gen  # noqa: E402


def log(msg):
    print(f"[tagbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def files_key(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:12]


def table_files(d):
    return [os.path.join(d, f"{t}.parquet") for t in derive_tables.TABLES]


def java_cmd(classes, main, *args, heap=HEAP, tmp=None):
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC"] + ADD_OPENS
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", build.classpath(classes), main] + [str(a) for a in args]
    return cmd


def prepare_inputs(workload, seed, classes):
    """Inputs for (workload, seed), generated once and reused; byte-identical
    for the same seed. query_mix reads the committed tables (its seed sets
    only the query order); this cuts its warm-up tables from them."""
    if workload == "query_mix":
        key = files_key(os.path.join(HERE, "derive_tables.py"), *table_files(TABLES))
        d = os.path.join(BUILD, f"warm-tables-{key}")
    else:
        key = files_key(*(os.path.join(HERE, p) for p in
                          ("gen.py", "src/main/scala/graft/tagbench/GenPhotos.scala")))
        d = os.path.join(BUILD, "inputs", workload, f"{key}-{seed}")
    if os.path.exists(os.path.join(d, "DONE")):
        os.utime(d)
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    if workload == "query_mix":
        derive_tables.derive(TABLES, tmp, derive_tables.WARM_FRACTION, derive_tables.WARM_KEYS)
    else:
        entries = gen.write_vocab(seed, os.path.join(tmp, "vocab.json"))
        if workload == "tag_photos":
            subprocess.run(java_cmd(classes, "graft.tagbench.GenPhotos", seed, tmp, heap="1g"),
                           stdout=sys.stderr, check=True, timeout=120)
        else:
            info = gen.write_logits(seed, os.path.join(tmp, "logits"), entries)
            with open(os.path.join(tmp, "logits.json"), "w") as f:
                json.dump(info, f)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f} s")
    if workload != "query_mix":  # bound the cache: keep the latest seeds
        parent = os.path.dirname(d)
        old = sorted((os.path.join(parent, x) for x in os.listdir(parent)), key=os.path.getmtime)
        for x in old[:-KEEP_SEEDS]:
            shutil.rmtree(x, ignore_errors=True)
    return d


def source_stamp(src_hash):
    """The measured commit (when the checkout is a git work tree) and the
    hash of the sources the engine was compiled from."""
    stamp = {"src_sha256": src_hash, "git_head": None, "git_dirty": None}
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10)
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10)
        if head.returncode == 0 and os.path.samefile(top.stdout.strip(), ROOT):
            dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain",
                                    "--untracked-files=no"],
                                   capture_output=True, text=True, timeout=10)
            stamp["git_head"] = head.stdout.strip()
            stamp["git_dirty"] = bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        pass
    return stamp


def self_times(spans):
    """Span id -> the span's duration minus the part of its interval that
    its child spans cover, in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, cursor = 0, start
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cursor), min(c["end_ns"], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (end - start - covered) / 1e9
    return out


def oracle_failures(tables, out_dir):
    """Query names whose collected result differs from DuckDB's result for
    its oracle SQL under tools/verify_local.py's comparison rules. DuckDB's
    result is a function of the fixed tables and the SQL text, so it is
    computed once per (tables, SQL) and kept in the build directory."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import verify_local
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache = os.path.join(BUILD, "oracle", files_key(*table_files(tables)))
    os.makedirs(cache, exist_ok=True)
    os.environ["GRAFT_DUCKDB_TEMP"] = os.path.join(BUILD, "duckdb-tmp")
    failed = []
    with contextlib.redirect_stdout(sys.stderr):
        con = verify_local.fresh_con(tables)
        for name, sql in sorted(oracle.items()):
            want = os.path.join(cache, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.parquet")
            if not os.path.exists(want):
                con.execute(f"COPY ({sql}) TO '{want}.tmp' (FORMAT PARQUET)")
                os.rename(want + ".tmp", want)
            entry = verify_local.check_one(con, name, f"SELECT * FROM read_parquet('{want}')",
                                           tables, out_dir)
            if not entry.startswith("pass"):
                failed.append(name)
    return failed


def query_medians(res):
    """Each query's median latency over the timed passes."""
    per_query = {}
    for p in res["passes"]:
        for q, lat in p["ops"].items():
            per_query.setdefault(q, []).append(lat)
    return {q: statistics.median(v) for q, v in per_query.items()}


def end_to_end(workload, res):
    """pass_s: median pass wall. items_per_s: images per second on the tag
    workloads; on query_mix, queries per second with every query weighted
    equally (1 / geometric mean of the per-query median latencies)."""
    walls = [p["wall_s"] for p in res["passes"]]
    if workload == "query_mix":
        geomean = math.exp(statistics.fmean(math.log(v) for v in query_medians(res).values()))
        items = 1.0 / geomean
    else:
        items = statistics.median(p["items"] / p["wall_s"] for p in res["passes"])
    return {"pass_s": statistics.median(walls), "items_per_s": items}


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", action="store_true",
                    help="corrupt one output after the timed passes (harness self-test)")
    a = ap.parse_args()
    started = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes, src_hash = build.ensure_built(ROOT, BUILD)
    inputs = prepare_inputs(a.workload, a.seed, classes)
    warm = []
    if a.workload == "query_mix":
        inputs, warm = TABLES, ["--warm", inputs]
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")

    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--cores", cores(), "--input", inputs, "--work", work,
            "--out", out_file] + warm + (["--fault", "1"] if a.fault else [])
    # Spark's scratch space stays in the checkout: spark.local.dir is set by
    # the harness, and SPARK_LOCAL_DIRS would override it
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")  # local mode: never resolve the host name
    launch = time.time()
    ticks0 = cpu_ticks()
    proc = subprocess.run(java_cmd(classes, "graft.tagbench.Main", *args,
                                   tmp=os.path.join(work, "tmp")),
                          stdout=sys.stderr, stderr=sys.stderr, timeout=RUN_LIMIT_S, env=env)
    if proc.returncode != 0 or not os.path.exists(out_file):
        raise SystemExit(f"benchmark JVM failed with exit code {proc.returncode}")
    ticks1 = cpu_ticks()
    with open(out_file) as f:
        res = json.load(f)
    jvm_end = time.time()

    attempted, failed = res["attempted"], res["failed"]
    oracle_failed = []
    if a.workload == "query_mix":
        oracle_failed = oracle_failures(inputs, os.path.join(work, "query_out"))
        runs_per_query = attempted // len(res["passes"][0]["ops"])
        failed = min(attempted, failed + len(oracle_failed) * runs_per_query)
        log(f"oracle check: {time.time() - jvm_end:.1f} s")

    e2e = end_to_end(a.workload, res)
    e2e["setup_s"] = res["epoch_first_pass_ms"] / 1000.0 - launch
    details = {
        "workload": a.workload, "seed": a.seed, "cores": res["cores"],
        "source": source_stamp(src_hash), "input": res["input"],
        "passes": len(res["passes"]), "pass_walls_s": [p["wall_s"] for p in res["passes"]],
        "session_s": res["session_s"], "warmup_s": res["warmup_s"],
        "warmup_walls_s": res["warmup_walls_s"],
        "peak_rss_mb": res["peak_rss_mb"], "oracle_failed": oracle_failed,
        "error_rate": failed / attempted,
        # CPU time the hypervisor gave to other guests while this run wanted
        # it: a run with a high share ran on a contended host
        "host_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
    }
    if a.workload == "query_mix":
        details["query_median_s"] = query_medians(res)
        details["input"]["tables"] = derive_tables.profile(TABLES)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        tr = res["trace"]
        selft = self_times(tr["spans"])
        values = dict(tr["metrics"])
        values.update({k: selft[i] for k, i in tr["span_metrics"].items()})
        values["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        values["error_rate"] = failed / attempted
        names = [m["name"] for m in spec["per_layer"]]
        unknown = sorted(set(values) - set(names))
        if unknown:
            raise SystemExit(f"metrics missing from BENCHMARK.json: {unknown}")
        trace_file = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"spans": [dict(s, self_s=selft[s["id"]]) for s in tr["spans"]],
                       "groups": tr["groups"], "metrics": values}, f, indent=1)
        details["trace_file"] = os.path.relpath(trace_file, ROOT)
        details["emitted"] = sorted(values)
    else:
        values = e2e
        names = [m["name"] for m in spec["end_to_end"]]
    metrics = {n: {"value": values.get(n, 0), "unit": units[n]} for n in names}
    log(f"run: {time.time() - started:.1f} s")
    print(json.dumps(details, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
