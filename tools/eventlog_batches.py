#!/usr/bin/env python3
"""Per-micro-batch breakdown of a Spark event log (stdlib only).

Usage:

    python3 tools/eventlog_batches.py <event log file or dir> [...]

Each argument is an event log file (plain JSON lines, or `.zstd`, read through
the `zstd` CLI when it is on PATH) or a directory of them (a rolling
`eventlog_v2_*` dir, or the event log dir itself: every log in it is read).

For each streaming micro-batch, grouped by the `sql.streaming.queryId` and
`streaming.sql.batchId` job properties, it prints every SQL execution the
batch ran: its kind (the root operator of its physical plan, with its
description when that says more than the stream's id), its job wall time,
and for each of its jobs the job's wall time and the RDDs of its last stage,
then each stage's wall time and summed task time, all in milliseconds. Jobs
outside any micro-batch are summarised at the end.

Recording a log for a perfbench run without editing perfbench: the harness JVM
picks up system properties from JAVA_TOOL_OPTIONS, e.g.

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev" \\
      python3 perfbench/run.py --workload stream_ingest --seed 7 --seconds 15
    python3 tools/eventlog_batches.py /tmp/ev

Event logging adds its own overhead to every job: use such runs to diagnose
where a batch's time goes, never as benchmark numbers.
"""
import json
import os
import shutil
import subprocess
import sys
from collections import OrderedDict, defaultdict


def log_lines(path):
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if not name.startswith("."):
                yield from log_lines(os.path.join(path, name))
        return
    if path.endswith(".zstd"):
        if shutil.which("zstd") is None:
            sys.exit(f"{path}: zstd-compressed and no zstd CLI on PATH")
        out = subprocess.run(["zstd", "-dcq", path], check=True, capture_output=True).stdout
        yield from out.decode("utf-8", "replace").splitlines()
    elif path.endswith((".lz4", ".snappy", ".lzf")):
        sys.exit(f"{path}: unsupported codec (set spark.eventLog.compression.codec=zstd)")
    else:
        with open(path, encoding="utf-8", errors="replace") as f:
            yield from f


def read(paths):
    executions = {}                      # execution id -> kind
    jobs = OrderedDict()                 # job id -> dict
    stages = {}                          # (stage id, attempt) -> dict
    task_ms = defaultdict(int)           # (stage id, attempt) -> summed task time
    for path in paths:
        for line in log_lines(path):
            line = line.strip()
            if not line:
                continue
            try:
                e = json.loads(line)
            except ValueError:
                continue
            kind = e.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart"):
                executions[str(e.get("executionId"))] = execution_kind(e)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                infos = e.get("Stage Infos", [])
                last = max(infos, key=lambda i: i["Stage ID"]) if infos else {}
                rdds = [r["Name"].split()[0] for r in last.get("RDD Info", [])
                        if r.get("Name") and not r["Name"].startswith("MapPartitions")]
                jobs[e["Job ID"]] = {
                    "start": e.get("Submission Time", 0), "end": None,
                    "stages": e.get("Stage IDs", []),
                    "rdds": ", ".join(OrderedDict.fromkeys(rdds)) or "MapPartitionsRDD",
                    "exec": props.get("spark.sql.execution.id"),
                    "query": props.get("sql.streaming.queryId"),
                    "batch": props.get("streaming.sql.batchId"),
                }
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stages[key] = {"start": info.get("Submission Time"),
                               "end": info.get("Completion Time"),
                               "tasks": info.get("Number of Tasks", 0)}
            elif kind == "SparkListenerTaskEnd":
                t = e.get("Task Info") or {}
                if t.get("Launch Time") and t.get("Finish Time"):
                    task_ms[(e["Stage ID"], e.get("Stage Attempt ID", 0))] += \
                        t["Finish Time"] - t["Launch Time"]
    return executions, jobs, stages, task_ms


def execution_kind(e):
    """Root operator of the execution's physical plan, plus its description
    unless that is a streaming batch's `id = …` header."""
    lines = (e.get("physicalPlanDescription") or "").split("\n")
    root = lines[1] if len(lines) > 1 else ""
    root = root.lstrip("*+- ").rsplit(" (", 1)[0] or "sql"
    desc = (e.get("description") or "").strip().split("\n")[0]
    return root if not desc or desc.startswith("id = ") else f"{root} ({desc})"


def wall(js):
    return sum((j["end"] or j["start"]) - j["start"] for _, j in js)


def stage_rows(job, stages, task_ms):
    for sid in job["stages"]:
        for (s, attempt), st in sorted(stages.items()):
            if s == sid and st["start"] and st["end"]:
                yield sid, attempt, st, task_ms.get((s, attempt), 0)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    executions, jobs, stages, task_ms = read(sys.argv[1:])
    batches = OrderedDict()
    other = []
    for jid, job in jobs.items():
        if job["query"] is not None and job["batch"] is not None:
            batches.setdefault((job["query"], int(job["batch"])), []).append((jid, job))
        else:
            other.append((jid, job))
    for (query, batch), js in sorted(batches.items()):
        by_exec = OrderedDict()
        for jid, job in js:
            by_exec.setdefault(job["exec"], []).append((jid, job))
        print(f"query {query[:8]} batch {batch}: {len(by_exec)} executions, "
              f"{len(js)} jobs, {wall(js)} ms job wall")
        for ex, ejs in by_exec.items():
            kind = executions.get(ex, "sql") if ex is not None else "no SQL execution"
            label = f"exec {ex}" if ex is not None else "-"
            print(f"  {label:>8} {wall(ejs):6d} ms  {kind}")
            for jid, job in ejs:
                print(f"    job {jid:5d} {wall([(jid, job)]):6d} ms  last stage: {job['rdds']}")
                for sid, attempt, st, tms in stage_rows(job, stages, task_ms):
                    print(f"      stage {sid}.{attempt}: wall {st['end'] - st['start']:5d} ms, "
                          f"{st['tasks']:3d} tasks, {tms} ms task time")
    if other:
        print(f"outside micro-batches: {len(other)} jobs, {wall(other)} ms job wall")


if __name__ == "__main__":
    main()
