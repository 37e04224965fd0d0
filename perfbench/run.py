#!/usr/bin/env python3
"""Repo benchmark runner.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program (src/main/scala) together with the benchmark sources
(perfbench/src) using the Scala compiler that ships with the Spark
distribution, runs one workload in a fresh JVM with all of its state in a
scratch dir of its own, checks the lifecycle outputs against their DuckDB
oracles, and prints a human-readable summary followed by one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. See perfbench/DESIGN.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cas", "lifecycle-ingest")
JVM_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 600
ORACLE_TIMEOUT_S = 20
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the dir build.sbt
    names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark distribution with a Scala compiler at '{jars}'")
    return jars


def build(build_dir, jars):
    """Compiles program + benchmark into one jar, once per source state.
    Jars and archives of other source states are left alone."""
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        die("program sources (src/main/scala) not found next to perfbench/")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in program + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    jar = os.path.join(build_dir, "perfbench-" + h.hexdigest()[:16] + ".jar")
    if os.path.exists(jar):
        return jar
    classes = os.path.join(build_dir, f"classes{os.getpid()}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(program + bench) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        die("build failed")
    # a jar, not a class dir: the JVM's class-data sharing archives only jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    os.rename(jar + ".tmp", jar)
    print(f"perfbench: built {len(program)} program + {len(bench)} benchmark sources "
          f"in {time.time() - t0:.1f}s", file=sys.stderr)
    return jar


def train(jar, jars, build_dir):
    """Finishes a build: runs the set-ups and warm-ups of both workloads in
    one JVM, untimed, and keeps the classes it loaded as a class-data-sharing
    archive. Every measured run maps that archive instead of loading and
    verifying ~20k classes again, so all measured runs take the same
    start-up path. Returns the archive."""
    cds = jar[:-4] + ".jsa"
    if os.path.exists(cds):
        return cds
    tmp = f"{cds}.tmp{os.getpid()}"
    work = new_work_dir(build_dir, "train")
    t0 = time.time()
    try:
        run_jvm(jar, jars, work, "train", 0, 0, 0, [f"-XX:ArchiveClassesAtExit={tmp}"],
                TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(tmp):
        die("no class-data archive was written")
    os.replace(tmp, cds)
    print(f"perfbench: archived the workloads' classes in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return cds


def new_work_dir(build_dir, name):
    work = os.path.join(build_dir, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def run_jvm(jar, jars, work, workload, seed, seconds, trace, jvm_opts, timeout=JVM_TIMEOUT_S):
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p)] + [
        "-Xmx3g", "-XX:-UsePerfData", *jvm_opts, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmpdir,
        "-cp", jar + os.pathsep + os.path.join(jars, "*"),
        "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"{workload} did not finish within {timeout}s")
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"benchmark JVM exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def norm_rows(cur):
    """Rows with columns in name order; floats kept numeric, the rest as text."""
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = cur.fetchall()

    def norm(v):
        return v if isinstance(v, float) or v is None else str(v)
    return [names[i] for i in order], [tuple(norm(r[i]) for i in order) for r in rows]


def check_oracles(work):
    """Compares each lifecycle query's first output with its DuckDB oracle.

    Returns ({query: ok}, [queries whose oracle timed out]). A timed-out
    oracle falls back to the in-JVM check that every op equals the query's
    first op of the run.
    """
    import duckdb
    out = os.path.join(work, "life_out")
    corpus = os.path.join(work, "corpus")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    verdicts, fallback = {}, []
    for q, sql in sorted(oracles.items()):
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
        timed_out = threading.Event()

        def interrupt():
            timed_out.set()
            con.interrupt()
        timer = threading.Timer(ORACLE_TIMEOUT_S, interrupt)
        timer.start()
        try:
            want = norm_rows(con.execute(sql))
        except duckdb.Error as e:
            if timed_out.is_set():
                fallback.append(q)
                verdicts[q] = True
            else:
                print(f"perfbench: {q} oracle failed: {e}", file=sys.stderr)
                verdicts[q] = False
            continue
        finally:
            timer.cancel()
        rows, names = [], None
        for part in sorted(glob.glob(os.path.join(out, q, "*.parquet"))):
            # part order is row order for an ordered result
            names, part_rows = norm_rows(con.execute(f"SELECT * FROM read_parquet('{part}')"))
            rows += part_rows
        got = (names, rows)
        con.close()
        ok = got == want
        if not ok:
            print(f"perfbench: {q} differs from its oracle: {len(got[1])} vs {len(want[1])} rows",
                  file=sys.stderr)
        verdicts[q] = ok
    return verdicts, fallback


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    jars = spark_jars()
    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"),
                             "perfbench")
    if not os.path.isabs(build_dir):
        build_dir = os.path.join(ROOT, build_dir)
    os.makedirs(build_dir, exist_ok=True)
    jar = build(build_dir, jars)
    cds = train(jar, jars, build_dir)

    work = new_work_dir(build_dir, f"{args.workload}-{args.seed}")
    try:
        res = run_jvm(jar, jars, work, args.workload, args.seed, args.seconds, args.trace,
                      ["-XX:SharedArchiveFile=" + cds])
        attempted, failed = res["attempted"], res["failed"]
        notes = []
        if args.workload == "lifecycle-ingest" and failed == 0:
            with open(os.path.join(work, "life_out", "ops.json")) as fh:
                ops = json.load(fh)
            verdicts, fallback = check_oracles(work)
            for q, ok in verdicts.items():
                if not ok:
                    failed += ops[q]
                    res["failures"].append(f"{q}: output differs from its DuckDB oracle")
            if fallback:
                notes.append("oracle fallback (first op of the run): " + ",".join(fallback))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif args.trace:  # a layer this workload does not exercise
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            die(f"{args.workload} did not measure {name}")
    correct = failed == 0 and all(v["value"] is not None for v in metrics.values())

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"attempted={attempted} failed={failed} fail_ratio={failed / max(attempted, 1):.6f}")
    for name, v in got.items():
        print(f"  {name} = {v['value']:.6g} {v['unit']} (samples={v['samples']})")
    for f in res["failures"]:
        print(f"  FAILED: {f}")
    for n in notes:
        print(f"  note: {n}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
