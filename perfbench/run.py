#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload and seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It builds the engine and the harness
from source (cached by a hash of their sources), generates the workload's
inputs from the seed (cached per seed, generation time reported apart), runs
the harness JVM, checks every output against an independent oracle, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones from a traced run. A human-readable report (every metric
with its unit, failed_frac, sample counts and the run's stamp) goes to
stderr. Each result is also archived under
.bench_build/perfbench/results/<stamp>/,
where the stamp names cpus, heap and a hash of the sources, so runs with
different settings never overwrite each other.

Workloads (one JVM, local[cpus], one job or query at a time: a closed loop
with one client; BENCHMARK.json lists the first two):
  mr_wordcount  wc_map.sh/wc_reduce.sh Native twins over a Zipf corpus, M=4, R=8
  query_mix     four SparkEntry queries (batch and streaming) per pass
  mr_grep_exec  Exec grep scripts over one file split by byte ranges, R=1
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402

HEAP = "2g"
JVM_TIMEOUT_S = 160
MIB = 1 << 20

# setup_s is the median of `setups` session start-ups in one JVM; the first
# also loads the classes, so the median is a warm start-up. A query_mix
# start-up reads both tables (about 1 s), so it takes fewer samples to keep
# a run near a minute.
WORKLOADS = {
    "mr_wordcount": {"bytes": 8 * MIB, "files": 8, "reducers": 8, "setups": 9, "warmups": 3},
    "mr_grep_exec": {"bytes": 96 * MIB, "setups": 9, "warmups": 2},
    # Tables at 0.3 of the sf0.1 row counts (gen.SF01_ROWS). The untimed
    # oracle dump before the warm-up pass runs each query cold, once.
    "query_mix": {"frac": 0.3, "setups": 3, "warmups": 1},
}

# Batch (EventOps windows, Dedup's LSH + connected-components loop,
# Multimodal) and streaming (dropDuplicates state) queries, each with a
# DuckDB oracleSql twin.
QUERIES = ["events_sessionize", "multimodal_frame_dedup", "dedup_clusters", "docs_stream_dedup"]
# The query mix reads fixed tables (the connected-components loop's round
# count depends on the data); its seed permutes the query order of each pass.
QUERY_TABLE_SEED = 0

END_TO_END = {"pass_s": "s", "mb_per_s": "MB/s", "live_heap_mb": "MB", "setup_s": "s"}

PER_LAYER = {
    "mr.read_s": "s", "mr.map_s": "s", "mr.route_sort_write_s": "s",
    "mr.merge_s": "s", "mr.reduce_s": "s", "mr.sink_s": "s",
    "mr.map_stage_s": "s", "mr.reduce_stage_s": "s", "mr.executor_cpu_s": "s",
    "mr.shuffle_records": "count", "mr.shuffle_write_mb": "MB", "mr.spill_mb": "MB",
    "mr.fetch_wait_s": "s", "mr.part_mb": "MB", "mr.tasks": "count",
    "mr.reduce_task_max_s": "s", "mr.reduce_task_median_s": "s",
    "query.construct_s": "s", "query.plan_s": "s", "query.exec_s": "s",
    **{f"query.{q}.s": "s" for q in QUERIES},
    **{f"query.{q}.construct_s": "s" for q in QUERIES},
    "query.construct_jobs": "count", "query.jobs": "count", "query.stages": "count",
    "query.tasks": "count", "query.executor_cpu_s": "s", "query.shuffle_read_mb": "MB",
    "query.shuffle_write_mb": "MB", "query.spill_mb": "MB", "query.scan_mb": "MB",
    "stream.batches": "count", "stream.add_batch_s": "s", "stream.planning_s": "s",
    "stream.commit_s": "s", "stream.state_commit_s": "s", "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "jvm.gc_s": "s", "trace.overhead_frac": "ratio",
}

# JDK 17 module opens Spark needs outside spark-submit (as in the engine's build).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of the engine's and the harness's source content."""
    h = hashlib.sha256()
    files = [p for d in (ROOT / "src" / "main", BENCH / "src") for p in sorted(d.rglob("*"))
             if p.is_file()] + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:12]


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return str(Path(submit).resolve().parent.parent)


def build(src_hash):
    """Compile engine + harness with sbt; returns the runtime classpath."""
    stamp = BUILD / "classpath.txt"
    if stamp.is_file():
        h, cp = stamp.read_text().split("\n", 1)
        if h == src_hash:
            return cp.strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp.write_text(f"{src_hash}\n{lines[-1]}")
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


def prepare_inputs(workload, seed):
    """Generate (or reuse) the seed's inputs and oracle outputs."""
    w = WORKLOADS[workload]
    if workload == "query_mix":
        seed = QUERY_TABLE_SEED
    sizes = {k: v for k, v in w.items() if k not in ("setups", "warmups")}
    key = hashlib.sha256(json.dumps([workload, seed, sizes], sort_keys=True).encode()).hexdigest()[:10]
    root = BUILD / "data" / f"{workload}-s{seed}-{key}"
    data, expected = root / "input", root / "expected"
    if (root / "done").is_file():
        os.utime(root)
        return data, expected, 0.0
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.time()
    if workload == "mr_wordcount":
        gen.wordcount_corpus(seed, data, w["bytes"], w["files"])
        gen.write_parts(gen.wordcount_expected(data, w["reducers"]), expected)
    elif workload == "mr_grep_exec":
        gen.grep_corpus(seed, data, w["bytes"])
        gen.write_parts(gen.grep_expected(data), expected)
    else:
        gen.query_tables(seed, data, w["frac"])
    (root / "done").write_text("")
    # Keep the cache small: the four most recently used input sets.
    sets = sorted((BUILD / "data").iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in sets[4:]:
        shutil.rmtree(old, ignore_errors=True)
    return data, expected, time.time() - t0


def duckdb_mismatches(data, qout):
    """Queries whose Spark dump differs from DuckDB running the oracle SQL."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in gen.QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    sqls = json.loads((qout / "oracle_sql.json").read_text())

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = sorted((tuple(r[i] for i in order) for r in rows),
                     key=lambda t: tuple((x is None, str(x)) for x in t))
        return [cols[i] for i in order], out

    bad = {}
    for name, sql in sqls.items():
        try:
            cur = con.execute(sql)
            want = canon([d[0] for d in cur.description], cur.fetchall())
            tbl = pq.read_table(qout / name)
            got = canon(tbl.column_names, [tuple(r.values()) for r in tbl.to_pylist()])
            if want != got:
                bad[name] = f"{len(got[1])} rows differ from DuckDB's {len(want[1])}"
        except Exception as e:  # a missing dump or a failing oracle is a mismatch
            bad[name] = str(e)[:200]
    return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: run from a source checkout (no src/main/scala/graft here)")
    cpus = len(os.sched_getaffinity(0))
    src_hash = source_hash()
    cp = build(src_hash)
    data, expected, gen_s = prepare_inputs(a.workload, a.seed)

    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    w = WORKLOADS[a.workload]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "perfbench.Harness",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", str(data), "--expected", str(expected),
           "--work", str(work), "--out", str(out), "--cpus", str(cpus),
           "--setups", str(w["setups"]), "--warmups", str(w["warmups"]),
           "--queries", ",".join(QUERIES), "--exec-dir", str(BENCH / "exec")]
    env = dict(os.environ, GRAFT_LOCAL_DIR=str(work), SPARK_HOME=spark_home())
    t0 = time.time()
    try:
        with open(work / "jvm.log", "w") as jlog:
            code = subprocess.run(cmd, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        code = "a timeout"
    jvm_s = time.time() - t0
    if code != 0 or not out.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        sys.exit(f"perfbench: harness ended with {code}; log in {work / 'jvm.log'}")
    r = json.loads(out.read_text())

    failures = list(r["failures"])
    failed, attempted = r["failed"], r["attempted"]
    if a.workload == "query_mix":
        bad = duckdb_mismatches(data, work / "qout")
        runs = w["warmups"] + len(r["passes"]) + 1
        failed = min(attempted, failed + runs * len(bad))
        failures += [f"{n}: {m}" for n, m in sorted(bad.items())]

    timed = [p for p in r["passes"] if not p["traced"]]
    pass_s = median([p["pass_s"] for p in timed])
    if a.trace:
        rows = r["layers"]
        metrics = {k: sum(row.get(k, 0.0) for row in rows) / len(rows) for k in PER_LAYER}
        traced_s = median([p["pass_s"] for p in r["passes"] if p["traced"]])
        metrics["trace.overhead_frac"] = traced_s / pass_s - 1 if pass_s else 0.0
        units = PER_LAYER
        unknown = sorted({k for row in rows for k in row} - set(PER_LAYER))
        if unknown:
            sys.exit(f"perfbench: harness emitted undeclared metrics {unknown}")
    else:
        metrics = {
            "pass_s": pass_s,
            "mb_per_s": r["input_bytes"] / MIB / pass_s if pass_s else 0.0,
            "live_heap_mb": median([p["live_heap_mb"] for p in timed]),
            "setup_s": median(r["setup_s"]),
        }
        units = END_TO_END

    stamp = f"cpus{cpus}-heap{HEAP}-src{src_hash}"
    report = {
        "stamp": {"cpus": cpus, "max_heap": HEAP, "max_heap_mb": r["max_heap_mb"],
                  "seed": a.seed, "inputs": w, "input_bytes": r["input_bytes"], "src_hash": src_hash,
                  "workload": a.workload, "trace": a.trace, "seconds": a.seconds},
        "failed_frac": failed / attempted, "failures": failures, "gen_s": gen_s,
        "jvm_s": jvm_s, "warmup_s": r["warmup_s"], "setup_samples_s": r["setup_s"],
        "samples": {"passes": len(timed), "setups": len(r["setup_s"])},
        "passes": r["passes"], "layers": r["layers"], "spans": r["spans"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    res_dir = BUILD / "results" / stamp
    res_dir.mkdir(parents=True, exist_ok=True)
    res_file = res_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}.json"
    res_file.write_text(json.dumps(report))

    log(f"stamp {stamp} seed {a.seed} input {r['input_bytes']} B (generated in {gen_s:.1f} s)")
    log(f"passes {len(r['passes'])} (untraced {len(timed)}), warm-up {r['warmup_s']:.1f} s, "
        f"jvm {jvm_s:.1f} s")
    for k in units:
        log(f"{k} {metrics[k]:.6g} {units[k]}")
    log(f"failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted})")
    for f in failures[:10]:
        log(f"FAIL {f}")
    log(f"archived {res_file.relative_to(ROOT)}")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
