#!/usr/bin/env python3
"""Benchmark of the graft OSM/near-dup engine: two closed-loop workloads.

Usage (from the repository root):

    python3 osmbench/run.py --workload osm_queries --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source (sbt, offline) on first use,
generates the seeded inputs, runs the JVM harness (osmbench.Main), checks
every answer -- dumped first answers against DuckDB running the engine's
own oracle SQL, every later answer against the first -- and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See osmbench/README.md for the workloads, metrics and steadiness record.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".osmbench"
WORKLOADS = ("osm_queries", "neardup_queries")
# set-up repetitions per run; setup_s is their median
SETUPS = 3
# untimed warm-up rounds per run (the build's archive run does none)
WARMUP_ROUNDS = 6
HEAP = "2g"
# Spark task slots (local[SLOTS]) and shuffle partitions. The ops are
# small and mostly driver work: one slot ran neardup_queries about 25%
# faster than four, and its runs spread less (README.md).
SLOTS = 1
# a run must end inside 180 s (the first run in a checkout also builds)
RUN_TIMEOUT_S = 160

# per-layer metrics, every one reported on every workload (0 where the
# layer does no work in that workload)
LAYER_MEAN_KEYS = [
    "queries.build_ms", "queries.plan_ms", "queries.driver_self_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms",
    "spark.task_cpu_ms", "spark.slot_busy_frac", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "jvm.gc_ms",
    "sources.parse_ms", "shape.shape_ms", "sinks.write_ms",
    "sources.elements_per_s", "sinks.out_bytes_per_in_byte",
    "streaming.batch_ms", "streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.wal_commit_ms", "streaming.index_rows", "streaming.novel_frac",
]
OSM_QUERIES = [
    "o1_doc_count", "o4_top_contributors", "o5_most_referenced",
    "o11_edits_by_dow", "o13_key_census",
]
NEARDUP_QUERIES = ["x7_minhash_neardups", "x8_simhash_neardups", "v5_cosine_neardups"]
# RestMemo items the neardup_queries set-up builds (names as RestMemo
# reports them)
MEMO_ITEMS = ["minhash-pairs", "ivf-cells16-seed"]
# input sizes derived from the sf0.1 documents/embeddings
ND_DOCS, ND_VECS = 1000, 400
# the stream probe of the neardup_queries traced run: a start-up batch
# and two recorded ones
STREAM_DOCS_PER_BATCH, STREAM_BATCHES = 150, 3

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[osmbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*")
                      if p.is_file() and p.suffix in (".scala", ".java", ".sbt", ".properties")
                      and "target" not in p.relative_to(ROOT).parts]
    return sorted(files)


def code_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(Path(__file__).read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compiles engine and harness with sbt, once per source state, and
    records a class-data-sharing archive from a short run of both
    workloads (it cuts the JVM's cold start by seconds). Returns the
    runtime classpath (jars) and the archive, or None without one."""
    out = STATE / "build"
    cp_file, stamp_file, archive = out / "classpath.txt", out / "stamp", out / "classes.jsa"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), archive if archive.is_file() else None
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building engine and harness (sbt)...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export osmbench/Runtime/fullClasspathAsJars"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.0f} s; recording the class-data-sharing archive...")
    train = out / "train"
    try:
        prepare_inputs("neardup_queries", 0, 0, train / "neardup_queries" / "data")
        run_jvm(cp, ",".join(WORKLOADS), 0, 1, 0, train, 1, 0, time.time() + 300,
                [f"-XX:ArchiveClassesAtExit={archive}"])
    except SystemExit:
        log("no class-data-sharing archive; runs start without it")
        archive.unlink(missing_ok=True)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp, archive if archive.is_file() else None


def seeded_rng(seed, salt):
    import numpy as np
    return np.random.default_rng([int(seed) & 0xFFFFFFFF, salt])


def shuffled(table, seed, salt):
    """Seeded derivation of a committed sf0.1 table: its rows in seeded
    order. Callers take a prefix and renumber it, so the pairwise
    similarities of the sampled rows are those of the original corpus."""
    import pyarrow.parquet as pq
    t = pq.read_table(BENCH / "corpus" / f"{table}.parquet")
    return t.take(seeded_rng(seed, salt).permutation(t.num_rows))


def renumber(t, col):
    import pyarrow as pa
    i = t.schema.get_field_index(col)
    return t.set_column(i, col, pa.array(range(t.num_rows), type=pa.int64()))


def prepare_inputs(workload, seed, trace, data):
    import pyarrow.parquet as pq
    data.mkdir(parents=True, exist_ok=True)
    if workload == "neardup_queries":
        docs = shuffled("documents", seed, 1).slice(0, ND_DOCS)
        pq.write_table(renumber(docs, "doc_id"), data / "documents.parquet")
        vecs = shuffled("embeddings", seed, 2).slice(0, ND_VECS)
        pq.write_table(renumber(vecs, "vec_id"), data / "embeddings.parquet")
    if workload == "neardup_queries" and trace:
        docs = shuffled("documents", seed, 3)
        # exact duplicates (same lang + text) are dropped by the stream's
        # own exact dedup before near-dup ingest; feed distinct docs only so
        # that every fed doc lands in the index or the quarantine
        seen, keep = set(), []
        langs, texts = docs.column("lang").to_pylist(), docs.column("text").to_pylist()
        for i, key in enumerate(zip(langs, texts)):
            if key not in seen:
                seen.add(key)
                keep.append(i)
        need = STREAM_DOCS_PER_BATCH * STREAM_BATCHES
        if len(keep) < need:
            fail(f"only {len(keep)} distinct docs for {need} stream docs")
        docs = renumber(docs.take(keep[:need]), "doc_id")
        b = data / "batches"
        b.mkdir(parents=True, exist_ok=True)
        for j in range(STREAM_BATCHES):
            pq.write_table(docs.slice(j * STREAM_DOCS_PER_BATCH, STREAM_DOCS_PER_BATCH),
                           b / f"batch-{j:04d}.parquet")


def start_jvm(cp, workload, seed, seconds, trace, run_dir, setups, warmup, jvm_opts):
    """Starts the harness JVM, its output going to run_dir/jvm.log."""
    java = shutil.which("java") or fail("java not found", 3)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java, *[f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           # the heap is faulted in and backed by huge pages before main
           # starts, so no op pays for first-touching heap memory; on a VM
           # whose freed pages go back to the host that cost varies from
           # run to run
           "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages", *jvm_opts,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "osmbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--run-dir", str(run_dir),
           "--slots", str(SLOTS), "--setups", str(setups), "--warmup", str(warmup)]
    osm = run_dir if "," not in workload else run_dir / "osm_queries"
    env = dict(os.environ)
    env["SPARK_GRAFT_OSM_DIR"] = str(osm / "data" / "osm")
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "scratch" / "spark-local")
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(run_dir / "jvm.log", "w") as logf:
        return subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)


def wait_jvm(p, run_dir, deadline):
    """Waits for the harness (killing it at the deadline) and returns its
    result; exits with an error if it failed."""
    try:
        rc = p.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
        fail(f"harness exited with {rc}", 4)
    result = run_dir / "result.json"
    return json.loads(result.read_text()) if result.is_file() else None


def run_jvm(cp, workload, seed, seconds, trace, run_dir, setups, warmup, deadline,
            jvm_opts=()):
    p = start_jvm(cp, workload, seed, seconds, trace, run_dir, setups, warmup, jvm_opts)
    return wait_jvm(p, run_dir, deadline)


def canon_rows(con, sql):
    """Row count and order-insensitive digest of a DuckDB result, columns
    taken in name order (the engine and its oracle may order them
    differently)."""
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted(repr(tuple(norm(r[i]) for i in idx)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return [len(rows), sorted(cols), h.hexdigest()]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


class Oracle:
    """DuckDB answers to the engine's own oracle SQL on a run's input,
    computed after the JVM has exited (the OSM docs only exist once its
    set-up has shaped them) and cached per (workload, seed, code)."""

    def __init__(self, workload, seed, stamp, run_dir):
        self.run_dir = run_dir
        cache_dir = STATE / "oracle"
        cache_dir.mkdir(parents=True, exist_ok=True)
        self.cache_file = cache_dir / f"{workload}-{seed}-{stamp[:16]}.json"
        self.answers = (json.loads(self.cache_file.read_text())
                        if self.cache_file.is_file() else {})

    def _connect(self):
        import duckdb
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.run_dir / 'duckdb-tmp'}'")
        con.execute(f"SET threads={min(4, os.cpu_count() or 1)}")
        data = self.run_dir / "data"
        for t in ("documents", "embeddings"):
            if (data / f"{t}.parquet").exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data / t}.parquet')")
        return con

    def check(self, dumped):
        """Op types whose dumped first answer differs from the oracle."""
        if not dumped:
            return [], {}
        con = self._connect()
        sqls = json.loads((self.run_dir / "oracle_sql.json").read_text())
        todo = {op: sql for op, sql in sqls.items() if op not in self.answers}
        if todo:
            for op, sql in sorted(todo.items()):
                self.answers[op] = canon_rows(con, sql)
            self.cache_file.write_text(json.dumps(self.answers))
        wrong, detail = [], {}
        for op, path in sorted(dumped.items()):
            got = canon_rows(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
            if got != self.answers[op]:
                wrong.append(op)
                detail[op] = {"engine": got[:2], "oracle": self.answers[op][:2]}
        con.close()
        return wrong, detail


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, ok_timed):
    by_type = {}
    for o in ok_timed:
        by_type.setdefault(o["type"], []).append(o["ms"])
    lat = [o["ms"] for o in ok_timed]
    geo = math.exp(statistics.fmean(math.log(median(v)) for v in by_type.values())) if by_type else 0.0
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "ops_per_s": (len(lat) / (sum(lat) / 1000.0) if lat else 0.0, "1/s"),
        "op_p50_ms": (median(lat), "ms"),
        "op_geomean_ms": (geo, "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, ok_timed, failed, attempted):
    traced = [o for o in res["ops"] if o["phase"] == "traced" and o["ok"]]
    # probe ops carry the layers the workload's own ops do not reach: the
    # ETL split for osm_queries, the stream for neardup_queries (whose
    # parquet writes are the sink time the listener saw)
    probe = [o for o in res["ops"] if o["phase"] == "probe" and o["ok"]]
    for o in probe:
        o["layers"].setdefault("sinks.write_ms", o["layers"].get("sinks.write_sql_ms", 0.0))
    m = {}
    for k in LAYER_MEAN_KEYS:
        vals = ([o["layers"][k] for o in traced if k in o["layers"]]
                or [o["layers"][k] for o in probe if k in o["layers"]])
        unit = ("ms" if k.endswith("_ms") else "MB" if k.endswith("_mb")
                else "1/s" if k.endswith("_per_s") else "frac" if k.endswith("_frac")
                or k.endswith("per_in_byte") else "count")
        # index_rows is a level, not a per-op amount: report the last one
        v = vals[-1] if (k == "streaming.index_rows" and vals) else (statistics.fmean(vals) if vals else 0.0)
        m[k] = (v, unit)
    by_type = {}
    for o in ok_timed:
        by_type.setdefault(o["type"], []).append(o["ms"])
    for q in OSM_QUERIES + NEARDUP_QUERIES:
        m[f"queries.{q}.p50_ms"] = (median(by_type.get(q, [])), "ms")
    # memo figures: items built per set-up repetition, and each item's
    # build time attributed as (set-up answer - warm median) of the op
    # that built it
    setup_ops = [o for o in res["ops"] if o["phase"] == "setup"]
    reps = sorted({o["round"] for o in setup_ops})
    built = [sum(1 for o in setup_ops if o["round"] == r
                 for v in o.get("memo", {}).values() if v == "built") for r in reps]
    reloaded = sum(1 for o in setup_ops for v in o.get("memo", {}).values() if v == "reloaded")
    m["memo.built"] = (median(built), "count")
    m["memo.reloaded"] = (reloaded, "count")
    item_s = {}
    for o in setup_ops:
        items = [k for k, v in o.get("memo", {}).items() if v == "built"]
        warm = median(by_type.get(o["type"], []))
        for k in items:
            item_s.setdefault(k, []).append(max(0.0, o["ms"] - warm) / 1000.0 / len(items))
    for k in MEMO_ITEMS:
        m[f"memo.{k}.build_s"] = (median(item_s.get(k, [])), "s")
    timed_ms = sum(o["ms"] for o in res["ops"] if o["phase"] == "timed")
    traced_ms = sum(o["ms"] for o in res["ops"] if o["phase"] == "traced")
    m["trace.overhead_frac"] = (traced_ms / timed_ms - 1.0 if timed_ms else 0.0, "frac")
    m["warmup_s"] = (res["warmup_s"], "s")
    m["warmup_rounds"] = (res["warmup_rounds"], "count")
    m["ops_failed_frac"] = (failed / attempted if attempted else 0.0, "frac")
    m["host.load_1m"] = (res["load_1m"][0], "load")
    m["host.slots"] = (res["slots"], "count")
    m["host.cpu_probe_ms"] = (res["cpu_probe_ms"], "ms")
    return m


def main():
    # a SIGTERM unwinds like an exit, so the JVM is stopped and the run
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources not found next to the benchmark (build.sbt, src/main/scala)")
    started = time.time()
    stamp = code_stamp()
    cp, archive = build(stamp)
    # a run that builds gets the build's time on top of the usual limit
    deadline = time.time() + RUN_TIMEOUT_S
    run_dir = STATE / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    p = None
    try:
        prepare_inputs(args.workload, args.seed, args.trace, run_dir / "data")
        p = start_jvm(cp, args.workload, args.seed, args.seconds, args.trace, run_dir,
                      SETUPS, WARMUP_ROUNDS,
                      [f"-XX:SharedArchiveFile={archive}"] if archive else [])
        res = wait_jvm(p, run_dir, deadline)
        jvm_s = time.time() - started
        wrong, detail = Oracle(args.workload, args.seed, stamp, run_dir).check(res["answers"])
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    ops = res["ops"]
    bad = [o for o in ops if not o["ok"] or o["type"] in wrong]
    attempted, failed = len(ops), len(bad)
    ok_timed = [o for o in ops if o["phase"] == "timed" and o["ok"] and o["type"] not in wrong]
    reloaded = [k for o in ops if o["phase"] == "setup"
                for k, v in o.get("memo", {}).items() if v == "reloaded"]
    if wrong:
        log(f"oracle mismatch: {json.dumps(detail)}")
    if reloaded:
        log(f"memo reloaded where a cold build was expected: {reloaded}")
    for o in bad[:5]:
        log(f"failed op {o['phase']} {o['type']}: {o['err'] or 'oracle mismatch'}")
    if args.trace:
        metrics = per_layer(res, ok_timed, failed, attempted)
    else:
        metrics = end_to_end(res, ok_timed)
    log(f"{args.workload} seed={args.seed} setups={['%.2f' % s for s in res['setup_s']]} "
        f"warmup={res['warmup_rounds']} rounds/{res['warmup_s']:.1f}s "
        f"timed_ops={len(ok_timed)} load_1m={res['load_1m']} cpu_probe={res['cpu_probe_ms']:.0f}ms "
        f"jvm_done={jvm_s:.1f}s wall={time.time() - started:.1f}s")
    out = {
        "correct": not wrong and not bad and not reloaded and bool(ok_timed),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
