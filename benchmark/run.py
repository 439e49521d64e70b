#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine (with its own build,
into target/) and the harness from source with sbt, once per source tree:
the build is keyed on a hash of every source and build file, and on the
size and time of every class file it produced. Then it runs
one workload in a fresh JVM inside a fresh directory under the build
directory, checks the outputs, and prints one JSON result object as the
last line of standard output. Exits non-zero when the build fails, the run
fails, or any output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("wire_dashboard", "pipeline_batch")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(d, *f) for d in (root, HERE)
             for f in (("build.sbt",), ("project", "build.properties"))]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def class_listing(classpath):
    """Path, size and modification time of every file in the classpath's
    class directories. The engine's classes live in its own target/, which
    any other build of the repository (an `sbt test` of another commit)
    also writes, so a reused build is trusted only while this is unchanged."""
    h = hashlib.sha256()
    for d in sorted(p for p in classpath.split(os.pathsep) if os.path.isdir(p)):
        for base, _, names in sorted(os.walk(d)):
            for n in sorted(names):
                st = os.stat(os.path.join(base, n))
                h.update(f"{os.path.join(base, n)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt unless this exact source tree was built already and
    its classes are untouched since; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        die(f"no engine sources under {root}/src/main/scala: run from a checkout root")
    digest = hashlib.sha256()
    for f in source_files(root):
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    sources = digest.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(cp_file) as fh:
            classpath = fh.read().strip()
        with open(stamp_file) as fh:
            if fh.read().strip() == f"{sources} {class_listing(classpath)}":
                return classpath
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(build_dir, "sbt-target"))
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # build offline against the user's configured sbt repositories
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(build_dir, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if proc.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {proc.returncode}); log: {log}")
    print(f"[perfbench] built in {time.time() - t0:.0f} s", flush=True)
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(f"{sources} {class_listing(classpath)}")
    return classpath


def oracle_check(work):
    """Compare each batch query's rows with its DuckDB twin: column names,
    row count, and every value after sorting (the engine's t2 oracle gate).
    Returns the names of the queries that differ."""
    import duckdb
    import numpy as np
    import pandas as pd

    con = duckdb.connect()
    data = os.path.join(work, "data")
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    with open(os.path.join(work, "out", "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
            elif str(df[c].dtype).startswith("datetime"):
                df[c] = pd.to_datetime(df[c]).astype("int64")
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            got = canon(pd.read_parquet(os.path.join(work, "out", name)))
            want = canon(con.execute(sql).fetchdf())
            same = list(got.columns) == list(want.columns) and len(got) == len(want)
            for c in got.columns if same else []:
                g, w = got[c], want[c]
                g_f = np.issubdtype(g.dtype, np.floating)
                if g_f != np.issubdtype(w.dtype, np.floating):
                    same = False
                elif g_f:
                    same &= np.array_equal(np.asarray(g, dtype=float), np.asarray(w, dtype=float),
                                           equal_nan=True)
                else:
                    same &= bool((g.fillna("<N>").astype(str) == w.fillna("<N>").astype(str)).all())
            detail = f"{len(got)} rows"
        except Exception as e:  # a failed twin is a failed check, reported by name
            same, detail = False, f"{type(e).__name__}: {e}"
        print(f"[perfbench] oracle {'OK  ' if same else 'DIFF'} {name} ({detail})", flush=True)
        if not same:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    spec_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        die("no BENCHMARK.json: run from the root of a checkout")
    with open(spec_file) as fh:
        spec = json.load(fh)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(root, build_dir)

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-cp", classpath, "graft.perf.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work])
    result = None
    try:
        with open(os.path.join(work, "jvm.log"), "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True)
            watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
            watchdog.start()
            try:
                for line in proc.stdout:
                    if line.startswith("RESULT "):
                        result = json.loads(line[len("RESULT "):])
                    else:
                        print(line.rstrip("\n"), flush=True)
            finally:
                watchdog.cancel()
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
        if proc.returncode != 0 or result is None:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            die(f"{args.workload} run failed (exit {proc.returncode})", 1)
        if args.workload == "pipeline_batch":
            bad = oracle_check(work)
            if bad:
                result["correct"] = False
                result["failed"] += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer" if args.trace == "1" else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(result["metrics"]) != set(units):
        die(f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(result['metrics']))}, "
            f"undeclared {sorted(set(result['metrics']) - set(units))}", 1)
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    print(f"[perfbench] error_rate={(result['failed'] / max(1, result['attempted'])):.4f} "
          f"correct={result['correct']}", flush=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
