#!/usr/bin/env python3
"""Print one line per Spark job from an uncompressed Spark event log.

Each line gives the job id, its call site, the SQL execution id it ran
under, every stage with its task count and duration (or `skipped` when
the stage's output was reused), the job's wall time, and the driver gap:
the time between the end of the previous job and this job's submission,
spent on the driver (planning, listing, collecting) with no job running.
A last line sums jobs, tasks, job time and driver gaps.

Producing a log (Spark 4 compresses event logs with zstd by default, so
turn compression off):

    mkdir -p /tmp/eventlog
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.compress=false \\
      -Dspark.eventLog.dir=file:///tmp/eventlog" \\
      python3 perfbench/run.py --workload vector_serving --seed 42 --trace 0

The same prefix works on an sbt command (`sbt "testOnly graft.X"`); every
SparkContext started writes one log under the dir: Spark 4 writes a
directory `eventlog_v2_<app id>` holding `events_<n>_<app id>` files.
Pass that directory (its `events_*` files are read in order) or one file:

    python3 tools/eventlog_jobs.py /tmp/eventlog/eventlog_v2_local-*

Uses only the Python standard library. `--self-test` checks the parser
on a small synthetic log.
"""

import json
import os
import sys
import tempfile


def events(path):
    """The events of one log: a file, or a Spark 4 log directory whose
    `events_<n>_*` files are read in order of n."""
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n)
                 for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        if name.endswith((".zstd", ".zst", ".lz4", ".snappy", ".lzf")):
            sys.exit(f"{name}: compressed event log; rerun with "
                     "-Dspark.eventLog.compress=false")
        with open(name, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def load(path):
    """Jobs of one event log, in submission order: a list of dicts."""
    jobs, stages = {}, {}
    for e in events(path):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = sorted(e.get("Stage Infos", []), key=lambda s: s["Stage ID"])
            jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "submit": e.get("Submission Time"),
                "end": None,
                "exec": props.get("spark.sql.execution.id"),
                # the result stage (highest id) is named after the call site
                "site": props.get("callSite.short")
                or (infos[-1]["Stage Name"] if infos else "?"),
                "stages": [(s["Stage ID"], s.get("Number of Tasks", 0)) for s in infos],
            }
        elif kind == "SparkListenerStageCompleted":
            s = e["Stage Info"]
            if s.get("Submission Time") is not None and s.get("Completion Time") is not None:
                stages[s["Stage ID"]] = (s.get("Number of Tasks", 0),
                                         s["Completion Time"] - s["Submission Time"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e.get("Completion Time")
    out = sorted(jobs.values(), key=lambda j: (j["submit"] or 0, j["id"]))
    for j in out:
        # a stage that never completed in this job reused earlier output
        j["stages"] = [(sid, stages.get(sid)) for sid, _ in j["stages"]]
    return out


def render(jobs):
    lines, prev_end = [], None
    tot_tasks = tot_ms = tot_gap = 0
    for j in jobs:
        gap = None if prev_end is None or j["submit"] is None else j["submit"] - prev_end
        dur = None if j["end"] is None or j["submit"] is None else j["end"] - j["submit"]
        parts = []
        for sid, run in j["stages"]:
            if run is None:
                parts.append(f"{sid}[skipped]")
            else:
                tasks, ms = run
                tot_tasks += tasks
                parts.append(f"{sid}[{tasks} task{'s' if tasks != 1 else ''} {ms / 1000:.3f}s]")
        tot_ms += dur or 0
        tot_gap += max(gap or 0, 0)
        lines.append(
            f"job {j['id']:>4}  exec {j['exec'] if j['exec'] is not None else '-':>4}  "
            f"gap {'-' if gap is None else f'{gap / 1000:.3f}s':>7}  "
            f"dur {'-' if dur is None else f'{dur / 1000:.3f}s':>7}  "
            f"{j['site']}  stages: {' '.join(parts)}")
        if j["end"] is not None:
            prev_end = j["end"] if prev_end is None else max(prev_end, j["end"])
    lines.append(f"total: {len(jobs)} jobs, {tot_tasks} tasks, "
                 f"{tot_ms / 1000:.3f}s in jobs, {tot_gap / 1000:.3f}s driver gaps")
    return lines


def self_test():
    def job_start(jid, t, stages, execution):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage Infos": [{"Stage ID": s, "Stage Name": f"collect at X.scala:{s}",
                                 "Number of Tasks": n} for s, n in stages],
                "Properties": {"spark.sql.execution.id": execution}}

    def stage_done(sid, n, t0, t1):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Number of Tasks": n,
                               "Submission Time": t0, "Completion Time": t1}}

    log = [
        {"Event": "SparkListenerApplicationStart", "App Name": "t"},
        job_start(0, 1000, [(0, 4)], "1"),
        stage_done(0, 4, 1010, 1200),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1210},
        # stage 1 is a reused shuffle map stage: it never completes here
        job_start(1, 1500, [(2, 1), (1, 4)], "2"),
        stage_done(2, 1, 1510, 1550),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1560},
    ]
    with tempfile.TemporaryDirectory() as d:
        # a Spark 4 log dir, the events split over two files
        for n, part in ((1, log[:4]), (2, log[4:])):
            with open(os.path.join(d, f"events_{n}_local-1"), "w", encoding="utf-8") as f:
                f.write("\n".join(json.dumps(e) for e in part) + "\n")
        got = render(load(d))
    want = [
        "job    0  exec    1  gap       -  dur  0.210s  collect at X.scala:0  "
        "stages: 0[4 tasks 0.190s]",
        "job    1  exec    2  gap  0.290s  dur  0.060s  collect at X.scala:2  "
        "stages: 1[skipped] 2[1 task 0.040s]",
        "total: 2 jobs, 5 tasks, 0.270s in jobs, 0.290s driver gaps",
    ]
    assert got == want, "\n".join(got)
    print("self-test ok")


def main(argv):
    if argv == ["--self-test"]:
        self_test()
        return
    if len(argv) != 1 or argv[0].startswith("-"):
        sys.exit("usage: eventlog_jobs.py <uncompressed event log file or dir> | --self-test")
    print("\n".join(render(load(argv[0]))))


if __name__ == "__main__":
    main(sys.argv[1:])
