#!/usr/bin/env python3
"""Benchmark of the graft engine: three closed-loop workloads driven from one
JVM with one client thread (see README.md).

    python3 perfbench/run.py --workload shapes_small --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark's own Scala driver with scalac into .bench_build/. Each run
generates its inputs from the seed, runs the JVM in a fresh directory under
.bench_run/ (layout dir, java.io.tmpdir and Spark local dirs all inside it),
checks every op result against DuckDB, deletes the directory and prints one
JSON line: the end-to-end metrics, or with --trace 1 the per-layer metrics.
Each run's JVM figures (and a traced run's spans) are kept under
.bench_out/<workload>-seed<seed>/.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402
import pyarrow as pa  # noqa: E402

WORKLOADS = ("shapes_small", "pipeline")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA_VERSION = "2.13.17"
HEAP = "3g"
COMPACT_TARGET_MB = 1     # Prep.compact target on shapes_small
JVM_TIMEOUT_S = 150
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
PER_LAYER = [
    ("first_pass_s", "s"), ("op_p50_ms", "ms"), ("sources.frame_ms", "ms"), ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("codegen.compiles", "count"),
    ("codegen.warm_compiles_per_op", "count"), ("jvm.jit_ms", "ms"),
    ("sched.jobs_per_op", "count"), ("sched.stages_per_op", "count"), ("sched.tasks_per_op", "count"),
    ("sched.outside_jobs_ms", "ms"), ("exec.task_s_per_op", "s"), ("exec.cpu_s_per_op", "s"),
    ("exec.gc_s_per_op", "s"), ("scan.mb_per_op", "MB"), ("scan.rows_per_op", "count"),
    ("scan.rows_per_result", "count"), ("shuffle.write_mb_per_op", "MB"),
    ("shuffle.read_mb_per_op", "MB"), ("shuffle.spill_mb_per_op", "MB"), ("layouts.built", "count"),
    ("layouts.build_s", "s"), ("layouts.mb", "MB"), ("prep.compact_s", "s"), ("prep.files_in", "count"),
    ("prep.files_out", "count"), ("prep.out_mb", "MB"), ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
]
END_TO_END = [("setup_s", "s"), ("ops_per_s", "op/s"), ("cpu_s_per_op", "s"), ("stored_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compile src/main/scala plus the benchmark's Scala into .bench_build,
    unless the sources are unchanged since the last build."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no engine sources under {main_src}")
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    compiler = [os.path.join(SPARK_JARS, f"scala-{p}-{SCALA_VERSION}.jar") for p in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        fail(f"scala {SCALA_VERSION} compiler jars not found in {SPARK_JARS}")
    sources = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True)
                     + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", ":".join(jars), "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(BUILD_DIR, ignore_errors=True)
        fail("compilation failed:\n" + p.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def dir_bytes(*paths):
    """Bytes of the regular files under `paths` (links are not followed)."""
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            for fn in files:
                f = os.path.join(d, fn)
                if not os.path.islink(f):
                    total += os.path.getsize(f)
    return total


def parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def run_jvm(classes, args, run_dir):
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_LAYOUT_DIR": os.path.join(run_dir, "layouts"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    for d in ("layouts", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only: with C2 the JIT kept two cores busy through the whole run and
    # warm pass times were still falling when measuring began. C1 alone gets
    # a 48 MB code cache, which Spark fills; flushing it then slowed a whole
    # pass about 30 s into the run, so the code cache keeps the tiered size.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens
           + ["-cp", classes + ":" + os.path.join(SPARK_JARS, "*"), "graft.perfbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM exited with {rc}:\n{tail}")


def duck(run_dir, views):
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duck_tmp')}'")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def sql_result(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def check_results(con, workload, results, manifest):
    """Every logged result (first pass and any pass that differed from it)
    against DuckDB and the workload's properties."""
    errs = []
    first = {r["op"]: r["result"] for r in results if r["pass"] == "first"}
    refs = {}
    for r in results:
        op, got = r["op"], r["result"]
        tag = f"{op}@{r['pass']}"
        if op in checks.EXACT_SQL:
            if op not in refs:
                refs[op] = sql_result(con, checks.EXACT_SQL[op])
            errs += [f"{tag}: {e}" for e in checks.compare_exact(*refs[op], got)]
        if op == "t6_bm25_indexed":
            errs += [f"{tag}: {e}" for e in check_t6(con, got)]
        elif op == "s13_knn_join":
            errs += [f"{tag}: {e}" for e in check_s13(con, got, manifest)]
        elif op == "n16_containment_pairs":
            errs += [f"{tag}: {e}" for e in check_n16(con, got, manifest)]
    # an op that failed has no result to relate; it is counted as failed
    if workload == "shapes_small" and all(op in first for op in checks.SHAPES_PROPERTY_OPS):
        errs += checks.shapes_properties(first, manifest)
    return errs


def _temp_table(con, name, cols, rows):
    """Register integer rows as a DuckDB relation named `name`."""
    con.register(name, pa.table({c: pa.array([r[i] for r in rows], type=pa.int64()) for i, c in enumerate(cols)}))


def check_t6(con, got):
    ids, errs = checks.rank_column(got["rows"], got["columns"], "doc_id")
    scores = dict(con.execute(checks.BM25_SCORES_SQL).fetchall())
    return errs + checks.check_ranked([scores.get(i) for i in ids], list(scores.values()), checks.T6_K)


def check_s13(con, got, manifest):
    cols = got["columns"]
    vi, ri, ni = cols.index("vec_id"), cols.index("rnk"), cols.index("nbr_id")
    _temp_table(con, "got_knn", ["vec_id", "rnk", "nbr_id"],
                [(r[vi], r[ri], r[ni]) for r in got["rows"]])
    con.execute(f"CREATE TEMP TABLE IF NOT EXISTS cos_all AS {checks.COSINE_SQL}")
    rows = con.execute(
        f"WITH c AS (SELECT * FROM cos_all), "
        f"best AS (SELECT a, cos, row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS r FROM c) "
        f"SELECT b.a, b.r, b.cos, g.nbr_id, c.cos FROM best b "
        f"LEFT JOIN got_knn g ON g.vec_id = b.a AND g.rnk = b.r "
        f"LEFT JOIN c ON c.a = g.vec_id AND c.b = g.nbr_id WHERE b.r <= {checks.S13_K} ORDER BY b.a, b.r").fetchall()
    errs, knn = [], {}
    if len(rows) != len(got["rows"]):
        errs.append(f"{len(got['rows'])} neighbour rows != expected {len(rows)}")
    for a, r, want, nbr, cos in rows:
        knn.setdefault(a, []).append(nbr)
        if cos is None or abs(cos - want) > checks.RANK_TOL:
            errs.append(f"vec {a} rank {r}: neighbour {nbr} cos {cos} != exact {want}")
            break
    return errs + checks.neighbour_properties(knn, manifest["vec_groups"])


def check_n16(con, got, manifest):
    """Every planted pair (near, exact and contained duplicates) is found and
    every reported pair's containment, recomputed by DuckDB, clears 0.8."""
    cols = got["columns"]
    pairs = [(r[cols.index("doc_a")], r[cols.index("doc_b")]) for r in got["rows"]]
    _temp_table(con, "got_pairs", ["doc_a", "doc_b"], pairs)
    plants = manifest["doc_plants"]
    sims = dict(((a, b), s) for a, b, s in con.execute(
        "WITH " + checks.SHINGLES_CTE + " "
        "SELECT g.doc_a, g.doc_b, coalesce(p.inter, 0) / LEAST(ca.c, cb.c) FROM got_pairs g "
        "LEFT JOIN p ON p.da = g.doc_a AND p.db = g.doc_b "
        "JOIN cnt ca ON ca.doc_id = g.doc_a JOIN cnt cb ON cb.doc_id = g.doc_b").fetchall())
    planted = plants["near"] + plants["exact"] + plants["subset"]
    return checks.pair_properties("n16", pairs, planted, [sims.get(p) for p in pairs])


def check_compaction(con, stats, raw_dir, data_dir):
    errs = []
    for s in stats:
        t = s["table"]
        ins = parquet_files(os.path.join(raw_dir, t))
        outs = parquet_files(os.path.join(data_dir, f"{t}.parquet"))
        cols = [d[0] for d in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{ins[0]}')").fetchall()]
        agg = (f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT), bit_xor(hash({', '.join(cols)})) "
               "FROM read_parquet({})")
        agg_in = con.execute(agg.format(repr(ins))).fetchone()
        agg_out = con.execute(agg.format(repr(outs))).fetchone()
        errs += checks.compaction_properties(
            t, s, COMPACT_TARGET_MB << 20, len(ins), sum(os.path.getsize(f) for f in ins),
            [os.path.getsize(f) for f in outs], agg_in, agg_out)
    return errs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, raw_dir, out_dir = (os.path.join(run_dir, d) for d in ("data", "raw", "out"))
    try:
        manifest = gen.generate(a.workload, a.seed, data_dir, raw_dir)
        run_jvm(classes, ["--workload", a.workload, "--data", data_dir, "--raw", raw_dir,
                                "--out", out_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--compact-target-mb", str(COMPACT_TARGET_MB)], run_dir)
        with open(os.path.join(out_dir, "jvm.json")) as f:
            jvm = json.load(f)
        with open(os.path.join(out_dir, "results.jsonl")) as f:
            results = [json.loads(line) for line in f]

        compacted = [os.path.join(data_dir, f"{s['table']}.parquet") for s in jvm["compaction"]]
        layouts_b = dir_bytes(os.path.join(run_dir, "layouts"))
        stored = layouts_b + dir_bytes(os.path.join(run_dir, "tmp"), *compacted)

        views = {t: os.path.join(raw_dir, t) if os.path.isdir(os.path.join(raw_dir, t))
                 else os.path.join(data_dir, f"{t}.parquet") for t in manifest["rows"]}
        con = duck(run_dir, views)
        for e in jvm["errors"]:
            print(f"op failed: {e}", file=sys.stderr)
        errs = []
        ops_logged = {r["op"] for r in results if r["pass"] == "first"}
        if len(ops_logged) + jvm["failed"] < len(jvm["per_op"]):
            errs.append(f"first pass logged {len(ops_logged)} of {len(jvm['per_op'])} ops")
        errs += check_results(con, a.workload, results, manifest)
        errs += check_compaction(con, jvm["compaction"], raw_dir, data_dir)
        con.close()

        e2e = dict(jvm["e2e"], stored_mb=stored / 2**20)
        keep = os.path.join(ROOT, ".bench_out", f"{a.workload}-seed{a.seed}")
        os.makedirs(keep, exist_ok=True)
        if a.trace:
            layers = dict(jvm["layers"], first_pass_s=jvm["e2e"]["first_pass_s"], op_p50_ms=jvm["e2e"]["op_p50_ms"])
            layers["layouts.mb"] = layouts_b / 2**20
            layers["prep.compact_s"] = sum(s["secs"] for s in jvm["compaction"])
            layers["prep.files_in"] = sum(s["files_in"] for s in jvm["compaction"])
            layers["prep.files_out"] = sum(s["files_out"] for s in jvm["compaction"])
            layers["prep.out_mb"] = dir_bytes(*compacted) / 2**20
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
            shutil.copy(os.path.join(out_dir, "spans.json"), keep)
        else:
            layers = {}
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        tmp = os.path.join(run_dir, "tmp")
        tmp_mb = {e: dir_bytes(os.path.join(tmp, e)) / 2**20 for e in os.listdir(tmp)}
        with open(os.path.join(keep, f"run-trace{a.trace}.json"), "w") as f:
            json.dump(dict(jvm, e2e=e2e, layers=layers, tmp_mb=tmp_mb, check_errors=errs), f, indent=1)
        for e in errs[:20]:
            print(f"check failed: {e}", file=sys.stderr)
        print(json.dumps({"correct": not errs, "attempted": jvm["attempted"], "failed": jvm["failed"],
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    main()
