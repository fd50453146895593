#!/usr/bin/env python3
"""Benchmark runner for the RC-RAG Spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload rcrag_stub --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt (offline) into the
checkout's own build directories on first use, then runs one JVM that sets
the workload up, measures it for the given seconds and checks every
output. Prints a short summary, then one JSON line with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`).

    python3 perfbench/run.py --record

re-records `perfbench/expected/catalog.tsv` (catalog result digests) after
checking the results against the DuckDB oracles and the ANN recall bar.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["rcrag_stub", "rcrag_http", "catalog"]
# the catalog workloads run on a fixed corpus; the QA samples are drawn
# from the documents of the same generator at sf 0.1
DATA_SEED = 20240101
CATALOG_SF = 0.02
DOCS_SF = 0.1
GEN_REPS = 3
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# a fixed heap and young generation: with adaptive sizing the JVM's peak
# RSS moved by a third between runs of the same code
HEAP = ["-Xms3g", "-Xmx3g", "-XX:NewSize=1g", "-XX:MaxNewSize=1g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    picks = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            picks += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, subdirs, files in os.walk(src):
            subdirs.sort()
            picks += [os.path.join(d, f) for f in sorted(files)]
    return picks


def build():
    """Compile program and harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no program sources (build.sbt, src/main/scala) next to the benchmark")
        sys.exit(2)
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    log("building program and harness with sbt (first run in this checkout)")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(proc)
            rc = -1
        except BaseException:
            kill(proc)
            raise
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    cp = next((l.strip() for l in reversed(lines) if ".jar" in l and ":" in l and "[" not in l), None)
    if rc != 0 or not cp:
        log(f"build failed (exit {rc}); last lines of {log_path}:")
        for l in lines[-15:]:
            print(l, file=sys.stderr)
        sys.exit(1)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def kill(proc):
    """Stop a process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def java(cp, args, work, timeout):
    """Run the harness JVM; its stderr goes to a log under `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    # a model store of the run's own: the default per-user directory
    # outlives runs and would make set-up time depend on run order
    env["SPARK_GRAFT_MODEL_DIR"] = os.path.join(work, "models")
    cmd = ["java"] + HEAP + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Duser.timezone=UTC", "-Dsun.net.httpserver.nodelay=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    err_path = os.path.join(work, "jvm.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            kill(proc)
            rc = "timeout"
        except BaseException:
            kill(proc)
            raise
    with open(err_path, errors="replace") as fh:
        lines = fh.read().splitlines()
    for l in lines:
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    if rc != 0:
        log(f"harness JVM failed ({rc}); last lines of its log:")
        for l in lines[-25:]:
            print(l, file=sys.stderr)
    return rc


def generate(tables, workload):
    """Write the workload's tables GEN_REPS times; return the median seconds."""
    sys.path.insert(0, HERE)
    import gen
    times = []
    for _ in range(GEN_REPS):
        t0 = time.time()
        if workload.startswith("catalog"):
            gen.write_tables(tables, CATALOG_SF, DATA_SEED)
        else:
            gen.write_tables(tables, DOCS_SF, DATA_SEED, ["documents"])
        times.append(time.time() - t0)
    return sorted(times)[len(times) // 2], sum(times)


def run(args):
    cp = build()
    t0 = time.time()  # set-up starts once the build is current
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    out = os.path.join(work, "result.json")
    try:
        tables = os.path.join(work, "tables")
        gen_median, gen_total = generate(tables, args.workload)
        launch = time.time()
        # set-up before the JVM: build check plus one (median) generation
        before_s = launch - t0 - gen_total + gen_median
        rc = java(cp, ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--tables", tables, "--work", work, "--out", out,
                       "--launch-ms", str(int(launch * 1000)), "--before-s", repr(before_s),
                       "--trace-dir", trace_dir,
                       "--expected", os.path.join(HERE, "expected", "catalog.tsv")],
                  work, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(out):
            return 1
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"workload {res['workload']}  seed {res['seed']}  input size {res['input_size']}  "
          f"passes {[round(x, 3) for x in res['pass_walls_s']]}  prepare reps {[round(x, 3) for x in res['prepare_reps_s']]}  warm {res['warm_s']:.3f} s")
    for name, m in res["metrics"].items():
        print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
    print(f"  {'failed_share':32s} {res['failed_share']:14.4f} share "
          f"({res['failed']} of {res['attempted']})")
    for p in res["problems"]:
        print(f"  check failed: {p}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def record():
    """Re-record the catalog digests, gated on the DuckDB oracles and recall."""
    import duckdb
    cp = build()
    work = os.path.join(BUILD, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "expected")
    tables = os.path.join(work, "tables")
    sys.path.insert(0, HERE)
    import gen
    gen.write_tables(tables, CATALOG_SF, DATA_SEED)
    if java(cp, ["--record", out, "--tables", tables, "--work", work], work, 1800) != 0:
        return 1
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = 0
    for name, sql in sorted(oracles.items()):
        if "_expected_sf001.parquet" in sql:
            continue  # fixture oracles are pinned to the program's own sf0.01 tables
        got = con.execute(f"SELECT * FROM read_parquet('{out}/results/{name}/*.parquet')").df()
        want = con.execute(sql).df()
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        same = list(got.columns) == list(want.columns) and len(got) == len(want) and all(
            got[c].dtype.kind == want[c].dtype.kind and
            list(got[c].astype(str)) == list(want[c].astype(str)) for c in got.columns)
        print(f"{'PASS' if same else 'FAIL'} oracle {name} ({len(got)} rows)")
        bad += 0 if same else 1
    bad += knn_recall_check(con, out)
    if bad:
        print(f"{bad} checks failed; digests not recorded")
        return 1
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    shutil.copy(os.path.join(out, "catalog.tsv"), os.path.join(HERE, "expected", "catalog.tsv"))
    print("recorded perfbench/expected/catalog.tsv")
    return 0


def knn_recall_check(con, out):
    """q171 (NN-descent, no SQL oracle): recall@k of its graph against the
    exact neighbours, which must reach 0.9."""
    import numpy as np
    name = "q171_knn_graph_approx"
    got = con.execute(f"SELECT * FROM read_parquet('{out}/results/{name}/*.parquet')").df()
    emb = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").df()
    ids = emb["vec_id"].to_numpy()
    v = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    d = ((v[:, None, :] - v[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d, np.inf)
    k = int(got.groupby("vid").size().max())
    exact = {ids[i]: set(ids[np.argsort(d[i], kind="stable")[:k]]) for i in range(len(ids))}
    found = got.groupby("vid")["nbr"].apply(set)
    recall = float(np.mean([len(found.get(i, set()) & exact[i]) / k for i in ids]))
    ok = recall >= 0.9
    print(f"{'PASS' if ok else 'FAIL'} recall@{k} {name} {recall:.3f} (bar 0.9)")
    return 0 if ok else 1


def main():
    # a terminated run still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if args.record:
        return record()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
