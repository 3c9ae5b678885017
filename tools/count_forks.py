#!/usr/bin/env python3
"""Count the `chmod` processes a command forks, grouped by path kind (stdlib only).

Usage:

    python3 tools/count_forks.py [--log FILE] [--top N] -- <command> [args...]

Without libhadoop, Hadoop's local filesystem sets the permission of every
file and directory it creates by forking `chmod`. This tool runs the command
with a logging `chmod` shim first on PATH (the shim records its arguments and
execs the real `chmod`), then prints how many forks touched each kind of path:

    store data        files and dirs under a table's `gen-*` or `ep-*` dirs
                      (parquet files, their `.crc`, partition dirs, DV files)
    store metadata    a catalog table's or keyed store's manifests, CURRENT,
                      `_CURRENT.tmp-*`, tag refs, leases and their `.crc`
    checkpoint/state  Spark's streaming checkpoint: offsets, commits, sources
                      log, state-store deltas and snapshots, metadata
    other             anything else

followed by the N directory shapes that forked most (digits read as N and
8-hex ids as *, so every generation's dir counts as one shape). The tool
exits with the command's status. Only PATH and the variable naming the log
differ in the command's environment.

Counting a perfbench run. Run the workload once without the tool first, so
the harness build (sbt) is fresh and its own forks are not counted; then

    python3 tools/count_forks.py -- \\
        python3 perfbench/run.py --workload stream_ingest --seed 7 --seconds 15
    python3 tools/count_forks.py -- \\
        python3 perfbench/run.py --workload queries --seed 7 --seconds 15

The counts cover the whole run, warm-up included. For per-batch figures,
divide the store-data forks by the batches the run committed (a `--trace 1`
run reports `streaming.batches` for its timed query).
"""
import argparse
import collections
import os
import re
import shutil
import stat
import subprocess
import sys
import tempfile

KINDS = ("store data", "store metadata", "checkpoint/state", "other")

_META = re.compile(r"^(\.?manifest-.*|CURRENT|_CURRENT\.tmp-.*|_?ref-.*|.*\.lease|_leases)$")
_CKPT_DIRS = {"offsets", "commits", "sources", "state"}


def kind(path):
    """The kind of `path` (a file or dir a `chmod` touched)."""
    parts = [p for p in path.split("/") if p]
    if not parts:
        return "other"
    name = parts[-1]
    # A checksum sidecar `.x.crc` is the same kind as `x`.
    if name.startswith(".") and name.endswith(".crc"):
        name = name[1:-4]
    dirs = parts[:-1]
    if any(d.startswith(("gen-", "ep-")) for d in dirs) or name.startswith(("gen-", "ep-")):
        return "store data"
    if _META.match(name):
        return "store metadata"
    if _CKPT_DIRS & set(dirs) or any("ckpt" in d or "checkpoint" in d for d in dirs) \
            or name in ("metadata", "_spark_metadata"):
        return "checkpoint/state"
    return "other"


def shape(d):
    """`d` with per-generation ids folded: `gen-12-a1b2c3d4/__bucket=3` -> `gen-N-*/__bucket=N`."""
    return re.sub(r"\d+", "N", re.sub(r"-[0-9a-f]{8}(?=/|$)", "-*", d))


def parse(log_lines):
    """(path, kind) per logged fork; the path is chmod's last argument."""
    out = []
    for line in log_lines:
        args = line.split()
        if args:
            out.append((args[-1], kind(args[-1])))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--log", help="keep the raw fork log here (one fork per line)")
    ap.add_argument("--top", type=int, default=8, help="directories to list (default 8)")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.command[1:] if a.command[:1] == ["--"] else a.command
    if not cmd:
        ap.error("no command given")
    real = shutil.which("chmod")
    if real is None:
        sys.exit("count_forks: no chmod on PATH")
    shim_dir = tempfile.mkdtemp(prefix="count_forks_")
    log = a.log or os.path.join(shim_dir, "forks.log")
    open(log, "w").close()
    shim = os.path.join(shim_dir, "chmod")
    with open(shim, "w") as f:
        f.write('#!/bin/sh\nprintf \'%s\\n\' "$*" >> "$GRAFT_CHMOD_LOG"\n'
                f'exec {real} "$@"\n')
    os.chmod(shim, stat.S_IRWXU)
    env = dict(os.environ, PATH=shim_dir + os.pathsep + os.environ.get("PATH", ""),
               GRAFT_CHMOD_LOG=os.path.abspath(log))
    try:
        rc = subprocess.call(cmd, env=env)
        with open(log) as f:
            forks = parse(f)
    finally:
        shutil.rmtree(shim_dir, ignore_errors=True)
    by_kind = collections.Counter(k for _, k in forks)
    by_dir = collections.Counter((k, shape(os.path.dirname(p))) for p, k in forks)
    print(f"chmod forks: {len(forks)}")
    for k in KINDS:
        print(f"  {k:<17} {by_kind.get(k, 0)}")
    if forks and a.top > 0:
        print("top directories:")
        for (k, d), n in by_dir.most_common(a.top):
            print(f"  {n:>6}  {k:<17} {d}")
    sys.exit(rc)


if __name__ == "__main__":
    main()
