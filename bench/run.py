#!/usr/bin/env python3
"""End-to-end benchmark of the library: one workload, one seed, one process.

Usage, from the root of a checkout:

    python3 bench/run.py --workload <window-agg|table-join|corpus-batch> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source with sbt (cached under
.bench_build until a source changes), runs bench.Main in one JVM at
local[nproc], checks the outputs (streaming: per-batch digests against a
reference inside the JVM; corpus-batch: every query against its DuckDB
oracle here), and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A readable table goes to stderr.
See bench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("window-agg", "table-join", "corpus-batch")
RUN_TIMEOUT_S = 170  # for the JVMs of one run together, after the build
BUILD_TIMEOUT_S = 800

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    lib = os.path.join(ROOT, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (lib, own):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compiles library + benchmark; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die(f"library sources not found under {ROOT}/src/main/scala; run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines) if "classes" in ln and not ln.startswith("[")), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    print(f"bench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[0] + f[1] + f[2] + f[5] + f[6], f[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, args, work, out, heap, deadline, extra=()):
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: the collector behaves the same in every run,
    # and all of the heap is resident, which Jvm.MemPeak relies on
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "bench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--out", out, *extra]
    with open(log_path, "w") as log:
        # few glibc arenas: native memory then does not vary with which
        # threads happened to allocate concurrently
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
                             stderr=log)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            tail(log_path)
            die(f"{args.workload} did not finish in {RUN_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(out):
        tail(log_path)
        die(f"{args.workload} exited with code {p.returncode}")
    with open(out) as fh:
        return json.load(fh)


def tail(path, n=60):
    try:
        with open(path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-n:]))
    except OSError:
        pass


# ------------------------------------------------------------- corpus oracle

def same(got, want):
    """Exact comparison of two frames normalized by dev/check.py's norm();
    returns a reason or None."""
    import numpy as np
    import pandas as pd
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c].values, want[c].values
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            ok = (af == bf) | (np.isnan(af) & np.isnan(bf))
        else:
            ok = (pd.Series(a).fillna("∅").astype(str) == pd.Series(b).fillna("∅").astype(str)).values
        if not ok.all():
            i = int(np.where(~ok)[0][0])
            return f"column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def sha(data):
    return hashlib.sha256(data).hexdigest()[:16]


def check_corpus(res, work):
    """Runs each query's oracle in DuckDB over the generated tables and
    compares with Spark's result. Oracle answers are cached by corpus (seed,
    sizes and the generator's source) and by the oracle's SQL text.
    Returns (attempted, failed, notes)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "dev"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in dev/
    from check import norm  # the repository's oracle normalization
    corpus = res["corpus_dir"]
    with open(os.path.join(HERE, "src", "main", "scala", "bench", "CorpusBench.scala"), "rb") as fh:
        key = f"{res['corpus_key']}-{sha(fh.read())}"
    cache = os.path.join(BUILD, "oracle", key)
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    con.execute(f"SET threads={os.cpu_count() or 1}")
    con.execute("SET enable_progress_bar=false")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet/*.parquet')")
    failed, notes = 0, []
    for q, sql in sorted(res["oracle_sql"].items()):
        cached = os.path.join(cache, f"{q}-{sha(sql.encode())}.parquet")
        try:
            if os.path.exists(cached):
                want = pd.read_parquet(cached)
            else:
                t0 = time.time()
                want = con.sql(sql).df()
                want.to_parquet(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
                print(f"bench: oracle {q} in {time.time() - t0:.1f} s", file=sys.stderr)
            got = pd.read_parquet(os.path.join(res["results_dir"], q))
            why = same(norm(got), norm(want))
        except Exception as e:  # an oracle or result that cannot be read is a failure
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            failed += 1
            notes.append(f"{q}: {why}")
    return len(res["oracle_sql"]), failed, notes


# ------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    started = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S

    busy0, steal0 = cpu_ticks()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, os.path.join(work, "result.json"), "2g", deadline)
        metrics = dict(res["metrics"])
        attempted, failed, notes = res["attempted"], res["failed"], list(res["notes"])
        if args.workload == "corpus-batch" and "oracle_sql" in res:
            a, f, n = check_corpus(res, work)
            attempted, failed, notes = attempted + a, failed + f, notes + n
        if args.trace and args.workload == "window-agg":
            one = run_jvm(cp, args, work, os.path.join(work, "single.json"), "1g", deadline,
                          ("--single-core",))
            metrics.update(one["metrics"])
            attempted, failed = attempted + one["attempted"], failed + one["failed"]
            notes += one["notes"]
        if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        name = m["name"]
        if name not in metrics:
            if not args.trace:
                die(f"{args.workload} did not report {name}")
            metrics[name] = 0.0  # a layer this workload does not exercise
        out[name] = {"value": metrics[name], "unit": m["unit"]}

    # CPU time the hypervisor gave to other guests while this run wanted it:
    # a run with a large share was measured on a contended machine
    busy1, steal1 = cpu_ticks()
    notes.append(f"steal: {100.0 * (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0):.1f}% "
                 "of the CPU time demanded during the run")
    for n in notes:
        print(f"bench: {n}", file=sys.stderr)
    print(f"bench: {args.workload} seed {args.seed} trace {args.trace}: "
          f"{attempted - failed}/{attempted} checks passed, "
          f"error_rate {failed / max(1, attempted):.4f}, {time.time() - started:.1f} s",
          file=sys.stderr)
    for name, v in out.items():
        print(f"  {name:44s} {v['value']:16.4f} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
