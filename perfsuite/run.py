#!/usr/bin/env python3
"""Steady benchmark of the graft engine: index build, short queries and
iterative loops.

    python3 perfsuite/run.py --workload index_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and this
harness with sbt (offline) into ``$CARGO_TARGET_DIR`` (default
``.bench_build``); later runs reuse the build while the sources are
unchanged. Each run forks one JVM with a fixed heap (``-Xms`` = ``-Xmx``)
that sets up a Spark session, runs a cold pass (the end of set-up), checks
outputs, warms up and then times passes for ``--seconds``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a run that alternates untraced and traced passes. Every run
writes its raw figures as JSON under ``<build>/perfsuite/results``. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0  # a run must end within 180 s once built

# Per workload: the sf tables it reads, its queries, the warm passes run
# after set-up and before timing, and the fewest timed passes. Warm-up is
# chosen with the pass-by-pass curves in perfsuite/calibration.json. Both
# keep speeding up for several passes after the cold one. index_build warms
# with 4 passes over a quarter of its files, which costs about two full
# passes; short_queries warms 3 full passes, after which its passes are
# within 5% of the tail. short_queries times at least 3 passes, as one pass
# in a run is often slowed by 20% or more when the shared host is busy; its
# median drops it.
# the seeded sf tables (TESTDATA.md) live under ~/testdata
TESTDATA = os.environ.get("PERFSUITE_TESTDATA", os.path.expanduser("~/testdata"))
WORKLOADS = {
    "index_build": {"sf": None, "warmup_passes": 4, "min_passes": 2, "queries": []},
    "short_queries": {"sf": "sf0.1", "warmup_passes": 3, "min_passes": 3, "queries": [
        "q237_serve_from_index", "q234_bm25_topk", "q22_token_counts", "q117_index_compaction"]},
}
SETTINGS = {"cores": 4, "partitions": 8, "heap": "2g"}
# The index_build corpus. The reference corpus (FIXTURES.md §A) is 355
# files, 6.4 MiB, 33,262 index rows; this one keeps its file count, is 4 MB
# to fit the run budget, and has a Zipf vocabulary whose size and exponent
# put its distinct words near the reference's 33k at that size (English
# word frequencies have an exponent near 1).
CORPUS = {"corpus_mb": 4, "corpus_files": 355, "corpus_vocab": 42000, "corpus_zipf_s": 1.1}

UNITS = {"pass_s": "s", "queries_per_s": "1/s", "input_mb_per_s": "MB/s", "setup_s": "s",
         "peak_rss_mb": "MB"}
QUERIES = [q for w in WORKLOADS.values() for q in w["queries"]]
PER_LAYER = [
    ("sources.manifest_s", "s"), ("sources.listing_jobs", "count"), ("sources.scan_s", "s"),
    ("sources.input_mb", "MB"),
    ("tokenizer.self_s", "s"), ("tokenizer.tokens", "count"),
    ("inverted_index.self_s", "s"), ("inverted_index.shuffle_write_mb", "MB"),
    ("inverted_index.combine_ratio", "ratio"), ("inverted_index.spill_mb", "MB"),
    ("inverted_index.task_skew", "ratio"),
    ("index_writer.self_s", "s"), ("index_writer.job_s", "s"), ("index_writer.finalize_s", "s"),
    ("index_writer.output_mb", "MB"), ("index_writer.sink_skew", "ratio"),
    ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.job_wall_s", "s"), ("driver.gap_s", "s"), ("exec.slot_busy_ratio", "ratio"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.sched_delay_s", "s"),
    ("exec.gc_s", "s"), ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.task_skew", "ratio"),
    ("release.release_s", "s"), ("release.persisted_rdds", "count"),
    ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
] + [(f"{q}.{m}", u) for q in QUERIES for m, u in
     (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))] + [
    ("trace.coverage", "ratio"), ("trace.overhead_ratio", "ratio"),
]
# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build depends on, engine and harness."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build(build_dir):
    """Compile engine + harness once per source state; return the classpath."""
    for f in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise BenchError(f"engine sources not found: {f}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, False
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found")
    os.makedirs(build_dir, exist_ok=True)
    log_path = os.path.join(build_dir, "build.log")
    # offline: every dependency must come from the local caches
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    with open(log_path, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfsuite/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    lines = [ln.strip() for ln in open(log_path) if ln.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or ".jar" not in cp or cp.startswith("["):
        raise BenchError(f"build failed, see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


# ---------------------------------------------------------------- JVM

def run_jvm(cp, work, sf_dir, args, deadline):
    """Run one benchmark JVM to completion; return its result.json."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{SETTINGS['heap']}", f"-Xmx{SETTINGS['heap']}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfsuite.Main", "--work", work, "--sf", sf_dir,
            "--cores", str(SETTINGS["cores"]), "--partitions", str(SETTINGS["partitions"])] + args
    with open(os.path.join(work, "jvm.log"), "w") as out:
        # spark.local.dir, set inside the run's work directory, must win
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"benchmark JVM timed out, see {work}/jvm.log")
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise BenchError(f"benchmark JVM exited {rc}:\n{tail}")
    return json.load(open(res))


# ---------------------------------------------------------------- oracle

def oracle_rules():
    """tools/check_oracle.py, the repository's replica of the correctness
    gate: its table list, canonical form and banned oracle types."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import check_oracle
    except ImportError as e:
        raise BenchError(f"tools/check_oracle.py not importable: {e}")
    return check_oracle


def oracle_frame(rules, sql, sf_dir, cache_dir):
    """DuckDB answer to `sql` over the sf tables, cached by SQL text."""
    import duckdb
    import pandas as pd
    key = hashlib.sha256((sf_dir + "\n" + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(cache_dir, 'duckdb-tmp')}'")
    for t in rules.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    rel = con.sql(sql)
    bad = [c for c, t in zip(rel.columns, rel.types) if str(t).upper() in rules.BAD_ORACLE_TYPES]
    if bad:
        raise BenchError(f"oracle emits HUGEINT columns {bad}")
    df = rel.fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_query(rules, result_dir, sql, sf_dir, cache_dir):
    """Compare the engine's checked result with DuckDB by check_oracle.py's
    rules; return (ok, rows, why)."""
    import pandas as pd
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return False, -1, "no result parquet"
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    want = oracle_frame(rules, sql, sf_dir, cache_dir)
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return False, len(got), f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return False, len(got), f"rows {len(got)} vs {len(want)}"
    kinds = [c for c in got.columns if got[c].dtype.kind != want[c].dtype.kind]
    if kinds:
        return False, len(got), f"dtype kind mismatch {kinds}"
    floats = {c for c in got.columns if got[c].dtype.kind == "f" and want[c].dtype.kind == "f"}
    if not rules.canon(got, floats).equals(rules.canon(want, floats)):
        return False, len(got), "value mismatch"
    return True, len(got), ""


# ---------------------------------------------------------------- metrics

def host_steal_s():
    """Steal time: CPU seconds the hypervisor took from all CPUs, or 0."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup-passes", type=int, help="override the workload's warm passes")
    a = ap.parse_args(argv)
    start = time.monotonic()
    build_dir = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                             "perfsuite")
    cp, built = build(build_dir)
    rules = oracle_rules()
    # a run that had to build may take longer; the rest of it may not
    deadline = (time.monotonic() if built else start) + DEADLINE_S
    wl = WORKLOADS[a.workload]
    sf_dir = os.path.join(TESTDATA, wl["sf"]) if wl["sf"] else ""
    if sf_dir and not os.path.isdir(sf_dir):
        raise BenchError(f"test data not found: {sf_dir}")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build_dir, "work", tag)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--queries", ",".join(wl["queries"]),
              "--tables", ",".join(rules.TABLES)] + \
        [x for k, v in CORPUS.items() for x in (f"--{k.replace('_', '-')}", str(v))]
    warmup = wl["warmup_passes"] if a.warmup_passes is None else a.warmup_passes
    t_jvm, steal0 = time.monotonic(), host_steal_s()
    res = run_jvm(cp, work, sf_dir, common + ["--seconds", str(a.seconds), "--warmup-passes", str(warmup),
                                              "--min-passes", str(wl["min_passes"]),
                                              "--trace", str(a.trace)], deadline)
    t_check = time.monotonic()

    passes = res["passes"]
    timed = [p for p in passes if p["kind"] == "timed"]
    traced = [p for p in passes if p["kind"] == "traced"]
    # every pass counts: a wrong cold or warm pass is as wrong as a timed one
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    failures = [f"pass {i}: {p['failed']} failed" for i, p in enumerate(passes) if p["failed"]]

    # outputs of the query workloads: the cold pass's against DuckDB, and
    # every later pass must return the checked row count
    for q, path in sorted(res["checked"].items()):
        attempted += 1
        try:
            ok, rows, why = check_query(rules, path, res["oracle_sql"][q], sf_dir,
                                        os.path.join(build_dir, "oracle-cache"))
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, rows, why = False, -1, f"oracle error: {e}"
        if not ok:
            failed += 1
            failures.append(f"{q}: {why}")
        # a pass in which the query threw has already counted it as failed
        bad = [p["counts"][q] for p in passes[1:] if q in p["counts"] and p["counts"][q] != rows]
        if bad:
            failed += len(bad)
            failures.append(f"{q}: pass row counts {bad} != checked {rows}")

    timing = {"build_s": t_jvm - start, "jvm_s": t_check - t_jvm, "check_s": time.monotonic() - t_check,
              "host_steal_s": host_steal_s() - steal0}
    walls = [p["wall_s"] for p in timed]
    pass_s = median(walls)
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "settings": dict(res["settings"], heap=SETTINGS["heap"], sf=wl["sf"],
                         **(CORPUS if a.workload == "index_build" else {})),
        "input_mb": res["input_mb"], "input_stats": res["input_stats"], "setup_s": res["setup_s"], "timed_passes": len(timed),
        "pass_curve": [[p["kind"], p["wall_s"]] for p in passes], "failures": failures,
        "run_timing": dict(timing, session_s=res["session_s"]),
    }
    if a.trace == 0:
        metrics = {
            "pass_s": pass_s,
            "queries_per_s": res["queries_per_pass"] / pass_s,
            "input_mb_per_s": res["input_mb"] / pass_s,
            "setup_s": res["setup_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        units = UNITS
    else:
        layers = {}
        for name, _ in PER_LAYER:
            layers[name] = median([p["layers"].get(name, 0.0) for p in traced])
        layers["jvm.jit_s"] = res["setup_jit_s"]
        layers["jvm.gc_s"] = res["setup_gc_s"]
        layers["trace.overhead_ratio"] = median([p["wall_s"] for p in traced]) / pass_s
        report["layers_per_pass"] = [p["layers"] for p in traced]
        metrics, units = layers, dict(PER_LAYER)
    report["metrics"] = metrics
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    with open(os.path.join(build_dir, "results", tag + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0
    for f in failures:
        log(f"FAILED {f}")
    n = len(traced) if a.trace else len(timed)
    print(f"# {a.workload} seed={a.seed}: {'correct' if correct else 'WRONG'}, "
          f"{attempted} attempted, {failed} failed; medians over {n} passes")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"benchmark error: {e}")
        sys.exit(2)
