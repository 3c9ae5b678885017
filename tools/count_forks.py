#!/usr/bin/env python3
"""Count the processes Hadoop forks under a command, by command and path kind (stdlib only).

Usage:

    python3 tools/count_forks.py [--log FILE] [--top N] -- <command> [args...]

Without libhadoop, Hadoop's local filesystem shells out for work the native
library would do in-process: `chmod` to set the permission of every file and
directory it creates, `readlink` to resolve symlinks on the FileContext path
that Spark's default streaming checkpoint manager takes (8 per checkpoint
file), and `stat` for a symlink-aware file status (Hadoop's `Stat`; no graft
or benchmark path has been seen to reach it). This tool runs the command
with a logging shim for each of `chmod`, `readlink` and `stat` first on PATH
(a shim records its command and arguments and execs the real one), then
prints how many forks each command made, per kind of path (the command's
last argument):

    store data        files and dirs under a table's `gen-*` or `ep-*` dirs
                      (parquet files, their `.crc`, partition dirs, DV files)
    store metadata    a catalog table's or keyed store's manifests, CURRENT,
                      `_CURRENT.tmp-*`, tag refs, leases and their `.crc`
    checkpoint/state  Spark's streaming checkpoint: offsets, commits, sources
                      log, state-store deltas and snapshots, metadata
    other             anything else (including the forks of the command's
                      own scripts, which count too)

followed by the N (command, directory shape) pairs that forked most (digits
read as N and 8-hex ids as *, so every generation's dir counts as one
shape). The tool exits with the command's status. Only PATH and the variable
naming the log differ in the command's environment.

Counting a perfbench run. Run the workload once without the tool first, so
the harness build (sbt) is fresh and its own forks are not counted; then

    python3 tools/count_forks.py -- \\
        python3 perfbench/run.py --workload stream_ingest --seed 7 --seconds 15
    python3 tools/count_forks.py -- \\
        python3 perfbench/run.py --workload queries --seed 7 --seconds 15

The counts cover the whole run, warm-up included. For per-batch figures,
divide a kind's forks by the batches the run committed (a `--trace 1` run
reports `streaming.batches` for its timed query).
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
COMMANDS = ("chmod", "readlink", "stat")

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
    """(command, path, kind) per logged fork; the path is the command's last argument."""
    out = []
    for line in log_lines:
        cmd, _, args = line.rstrip("\n").partition(" ")
        args = args.split()
        if cmd and args:
            out.append((cmd, args[-1], kind(args[-1])))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--log", help="keep the raw fork log here (one fork per line: command args)")
    ap.add_argument("--top", type=int, default=8, help="directories to list (default 8)")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.command[1:] if a.command[:1] == ["--"] else a.command
    if not cmd:
        ap.error("no command given")
    shim_dir = tempfile.mkdtemp(prefix="count_forks_")
    log = a.log or os.path.join(shim_dir, "forks.log")
    open(log, "w").close()
    shimmed = []
    for name in COMMANDS:
        real = shutil.which(name)
        if real is None:
            continue
        shim = os.path.join(shim_dir, name)
        with open(shim, "w") as f:
            f.write(f'#!/bin/sh\nprintf \'{name} %s\\n\' "$*" >> "$GRAFT_FORK_LOG"\n'
                    f'exec {real} "$@"\n')
        os.chmod(shim, stat.S_IRWXU)
        shimmed.append(name)
    if not shimmed:
        sys.exit(f"count_forks: none of {', '.join(COMMANDS)} on PATH")
    env = dict(os.environ, PATH=shim_dir + os.pathsep + os.environ.get("PATH", ""),
               GRAFT_FORK_LOG=os.path.abspath(log))
    try:
        rc = subprocess.call(cmd, env=env)
        with open(log) as f:
            forks = parse(f)
    finally:
        shutil.rmtree(shim_dir, ignore_errors=True)
    by_cmd_kind = collections.Counter((c, k) for c, _, k in forks)
    by_dir = collections.Counter((c, k, shape(os.path.dirname(p))) for c, p, k in forks)
    print(f"forks: {len(forks)} ({', '.join(shimmed)} shimmed)")
    print(f"  {'':<17} " + " ".join(f"{c:>9}" for c in shimmed) + f" {'total':>9}")
    for k in KINDS:
        row = [by_cmd_kind.get((c, k), 0) for c in shimmed]
        print(f"  {k:<17} " + " ".join(f"{n:>9}" for n in row) + f" {sum(row):>9}")
    totals = [sum(by_cmd_kind.get((c, k), 0) for k in KINDS) for c in shimmed]
    print(f"  {'total':<17} " + " ".join(f"{n:>9}" for n in totals) + f" {len(forks):>9}")
    if forks and a.top > 0:
        print("top directories:")
        for (c, k, d), n in by_dir.most_common(a.top):
            print(f"  {n:>6}  {c:<8} {k:<17} {d}")
    sys.exit(rc)


if __name__ == "__main__":
    main()
