#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (perfbench/build.sbt) into .bench_build
when their sources changed, runs one workload in a fresh JVM, checks its
outputs, and prints `check ...` and `metric <name> <value> <unit>` lines,
then one JSON object as the last line:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones, from Spark listeners attached to the run.
Everything a run writes goes under .bench_build/runs/<run>/: Spark's
WARN log, the JVM's stderr, result.json and, when traced, trace.json.
Exits non-zero, without a result line, when an input is missing or the
build or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["etl_ingest", "keyed_table", "corpus_curate"]
# The JVM may run --seconds of measurement plus this allowance for start,
# set-up, warm-up and checks (30-70 s on a 4-cpu machine), and the run
# that writes the class archive (15-20 s at exit) DUMP_ALLOWANCE_S more.
SETUP_ALLOWANCE_S = 110
DUMP_ALLOWANCE_S = 50
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def need_file(path, what):
    if not os.path.exists(path):
        fail(f"missing input: {what} ({os.path.relpath(path, ROOT)})")
    return path


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        jars = os.path.join(h, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    fail("missing input: the Spark distribution's jars "
         "(set SPARK_HOME or put spark-submit on PATH)")


def source_stamp():
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    """Compile with sbt unless the classpath file matches the sources."""
    need_file(os.path.join(ROOT, "src", "main", "scala"), "the engine's sources")
    need_file(os.path.join(HERE, "build.sbt"), "the benchmark's build file")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return stamp, lines[1]
    sbt = shutil.which("sbt") or fail("missing input: sbt on PATH")
    os.makedirs(BUILD, exist_ok=True)
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false",
           f"-Dperfbench.sparkJars={jars}",
           f"-Dperfbench.target={os.path.join(BUILD, 'sbt')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    cmd.append("export Runtime/fullClasspath")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS="-Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or os.path.join(BUILD, "sbt") not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see "
             f"{os.path.relpath(log, ROOT)}", 3)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1].strip() + "\n")
    return stamp, lines[-1].strip()


def heap_mb():
    """A sixth of physical memory, kept within 1-3 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1024, min(3072, total_kb // 1024 // 6))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def class_sharing(stamp, workload, run_dir):
    """JVM flags for class data sharing. The first run of a workload after
    a build writes the classes it loaded to an archive in .bench_build;
    later runs map that archive instead of loading and verifying those
    classes from the jars again, which takes several seconds off every
    set-up. Returns the flags and, for a dumping run, the (temporary,
    final) archive paths."""
    final = os.path.join(BUILD, f"cds-{workload}-{stamp[:16]}.jsa")
    if os.path.exists(final):
        return [f"-XX:SharedArchiveFile={final}"], None
    tmp = os.path.join(run_dir, "cds.jsa")
    return [f"-XX:ArchiveClassesAtExit={tmp}"], (tmp, final)


def run_jvm(cp, stamp, args, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java or not os.path.exists(java):
        fail("missing input: java (set JAVA_HOME or put java on PATH)")
    heap = heap_mb()
    sharing, dump = class_sharing(stamp, args.workload, run_dir)
    limit_s = args.seconds + SETUP_ALLOWANCE_S + (DUMP_ALLOWANCE_S if dump else 0)
    cmd = [java, f"-Xmx{heap}m", f"-Xms{heap}m", "-Xlog:all=warning:stderr"] + sharing
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the engine's own run setting (build.sbt javaOptions): a codegen
    # cache large enough that repeated plans reuse their compiled classes
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd += ["-Dspark.sql.codegen.cache.maxEntries=5000", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Dperfbench.log={os.path.join(run_dir, 'spark.log')}",
            "-cp", cp, "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds),
            str(args.trace), run_dir, str(cores())]
    with open(os.path.join(run_dir, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             text=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            if dump and os.path.exists(dump[0]):
                os.remove(dump[0])
            fail(f"the run passed its {limit_s} s limit ({args.seconds} s "
                 f"measured + {limit_s - args.seconds} s); see "
                 f"{os.path.relpath(run_dir, ROOT)}", 4)
    if dump and p.returncode == 0 and os.path.exists(dump[0]):
        for old in glob.glob(os.path.join(BUILD, f"cds-{args.workload}-*.jsa")):
            os.remove(old)
        os.replace(dump[0], dump[1])
    checks = [l for l in out.splitlines() if l.startswith("check ")]
    for l in checks:
        print(l)
    return p.returncode


def reference_check(run_dir):
    """Replay the engine's DuckDB reference SQL for the three curation
    queries over the generated corpus and compare with the engine's
    parquet outputs cell by cell (repr, so a decimal and a double holding
    the same number still differ)."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(run_dir, "oracle.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec[t]}/*.parquet')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        s = df.map(repr) if hasattr(df, "map") else df.applymap(repr)
        return s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)

    ok = True
    for name, sql in spec["queries"].items():
        want = norm(con.execute(sql).df())
        files = sorted(glob.glob(os.path.join(spec["outputs"], name, "*.parquet")))
        got = norm(pq.read_table(files).to_pandas())
        same = list(got.columns) == list(want.columns) and got.equals(want)
        print(f"check corpus_curate.{name}_equals_duckdb_reference "
              f"{'ok' if same else 'FAILED'} ({len(got)} rows, reference {len(want)})")
        ok = ok and same
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(need_file(os.path.join(ROOT, "BENCHMARK.json"), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = bench["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    stamp, cp = build(spark_jars())
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-"
                                          f"trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if args.workload == "corpus_curate":
        try:
            import duckdb, pandas, pyarrow  # noqa: F401
        except ImportError as e:
            fail(f"missing input: python module {e.name} (the DuckDB reference check)")
    code = run_jvm(cp, stamp, args, run_dir)
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        shutil.rmtree(os.path.join(run_dir, "data"), ignore_errors=True)
        fail(f"the run failed (exit {code}); see "
             f"{os.path.relpath(os.path.join(run_dir, 'stderr.log'), ROOT)}", 1)
    with open(result_file) as fh:
        res = json.load(fh)

    correct = True
    if args.workload == "corpus_curate":
        correct = reference_check(run_dir)
    shutil.rmtree(os.path.join(run_dir, "data"), ignore_errors=True)
    # every declared metric, in BENCHMARK.json's order; result.json keeps
    # the end-to-end figures BENCHMARK.json leaves out as too unsteady
    measured = res["layers" if args.trace else "end_to_end"]
    missing = [k for k in units if k not in measured]
    print(f"check metric_names_match_benchmark_json {'FAILED' if missing else 'ok'}")
    if missing:
        fail(f"BENCHMARK.json names metrics the run does not measure: {missing}", 1)
    metrics = {k: measured[k] for k in units}
    if res["first_failure"]:
        print(f"check failed_operations {res['failed']} of {res['attempted']}; "
              f"first: {res['first_failure']}")

    last_untraced = os.path.join(BUILD, "runs", f"last-{args.workload}.json")
    if args.trace:
        overhead = {}
        if os.path.exists(last_untraced):
            with open(last_untraced) as fh:
                base = json.load(fh)["end_to_end"]
            overhead = {k: {"traced": v, "untraced": base[k], "delta": v - base[k]}
                        for k, v in res["end_to_end"].items() if k in base}
            for k, o in overhead.items():
                print(f"overhead {k} {o['delta']:+.6g} (traced {o['traced']:.6g}, "
                      f"untraced {o['untraced']:.6g})")
        trace_file = os.path.join(run_dir, "trace.json")
        with open(trace_file) as fh:
            trace = json.load(fh)
        trace["overhead"] = overhead
        with open(trace_file, "w") as fh:
            json.dump(trace, fh)
    else:
        shutil.copy(result_file, last_untraced)

    for k, v in metrics.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    print(json.dumps({"correct": bool(correct), "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
