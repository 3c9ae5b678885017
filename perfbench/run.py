#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload queries|stream_ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness and graft
with sbt (offline); later runs reuse the build while the sources are
unchanged. Each run generates its tables from --seed, starts the Scala
harness (perfbench/src) in one JVM, checks the outputs, deletes its work
directory and prints, as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (spans are kept in .bench_work/trace-<workload>.jsonl).
Query results are checked against graft's DuckDB oracle SQL.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
# Table scale factor per workload; stream_ingest makes its own input.
SCALE = {"queries": 0.01, "stream_ingest": None}
HEAP = "3g"
YOUNG = "1536m"
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        files += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p) and "/target/" not in p)
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the java command prefix."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft's sources (build.sbt, src/main/scala) are not next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    launch_file = os.path.join(HERE, "target", "launch.txt")
    stamp = source_stamp()
    fresh = os.path.isfile(launch_file) and os.path.isfile(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        # Offline always: the toolchain's caches hold every dependency.
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = env.get("SBT_OPTS") or "-Xmx2g"
        opts += " -Dsbt.offline=true -Dsbt.override.build.repos=true -Dsbt.server.forcestart=false"
        if os.path.isfile(repos):
            opts += f" -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = opts
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                  "compile", "writeLaunch"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.isfile(launch_file):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"build failed (rc={rc}); log in {log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(launch_file) as f:
        lines = [l for l in f.read().splitlines() if l]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # A fixed heap and young generation: with G1 sizing them adaptively (and
    # the heap probe's full GCs shrinking them), whole runs of the same code
    # settled 20-40% apart on a 4-vCPU shared VM, each run steady within
    # itself. CompileThresholdScaling: the JIT compiles hot
    # methods after a fifth of the usual invocations, so the window measures
    # steady-state code rather than the JIT's progress.
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            "-XX:CompileThresholdScaling=0.2"] + lines[1:] + ["-cp", lines[0]]


def oracle_failures(data_dir, results_dir, executions):
    """Compare each reference result with its DuckDB oracle, as
    tools/check_oracle.py does (column names, arrow types, sorted rows).
    A wrong reference makes every timed execution of that query wrong."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed, notes = 0, []
    for name, runs in sorted(executions.items()):
        why = None
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if name not in oracle:
            why = "no oracle SQL"
        elif not files:
            why = "no reference result"
        else:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
            want = con.execute(oracle[name]).fetch_arrow_table()
            gt = {f.name: str(f.type) for f in got.schema}
            wt = {f.name: str(f.type) for f in want.schema}
            if gt != wt:
                why = f"columns/types differ: {gt} vs {wt}"
            else:
                def norm(tbl):
                    cols = sorted(tbl.column_names)
                    rows = list(zip(*[tbl.column(c).to_pylist() for c in cols]))
                    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))
                if norm(got) != norm(want):
                    why = "rows differ from the oracle"
        if why:
            failed += runs
            notes.append(f"{name}: {why}")
    return failed, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer" if a.trace else "end_to_end"]

    started = time.time()
    java = build()
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(data)
    os.makedirs(os.path.join(work, "results"))
    if SCALE[a.workload]:
        subprocess.check_call([sys.executable, os.path.join(HERE, "gen.py"), data,
                               str(a.seed), str(SCALE[a.workload])])
    out = os.path.join(work, "result.json")
    cmd = java + [f"-Djava.io.tmpdir={work}/tmp", "graftbench.Harness",
                  "--workload", a.workload, "--data", data, "--work", work,
                  "--seconds", str(a.seconds), "--seed", str(a.seed),
                  "--trace", str(a.trace), "--out", out]
    log = os.path.join(work, "harness.log")
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(30, RUN_TIMEOUT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:  # also on a signal: the harness never outlives this script
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.isfile(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"harness exited with {rc}")
        with open(log) as f:  # the harness's own phase log
            sys.stderr.writelines(l for l in f if l.startswith("[graftbench"))
        with open(out) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res["failures"])
        if "executions" in res:
            bad, why = oracle_failures(data, os.path.join(work, "results"), res["executions"])
            failed += bad
            notes += why
        failed = min(failed, attempted)
        if a.trace and os.path.isfile(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(WORK, f"trace-{a.workload}.jsonl"))
        if a.trace:  # a layer the workload does not drive reads 0
            res["metrics"] = {m["name"]: res["metrics"].get(m["name"], 0.0) for m in names}
        missing = [m["name"] for m in names if res["metrics"].get(m["name"]) is None]
        if missing:
            fail(f"harness reported no value for {missing}; result: {json.dumps(res)[:2000]}")
        for n in notes[:20]:
            print(f"check: {n}", file=sys.stderr)
        print(json.dumps({k: v for k, v in res.items() if k not in ("metrics", "failures")}),
              file=sys.stderr)
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                   for m in names}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        if failed:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)  # only when no trace is kept
        except OSError:
            pass


if __name__ == "__main__":
    main()
