#!/usr/bin/env python3
"""Per-micro-batch summary of a Spark event log.

Usage: python3 tools/eventlog_summary.py <event log file | event log dir>

Reads an UNCOMPRESSED Spark event log (spark.eventLog.compress=false): one
file, a rolling log's `eventlog_v2_*` directory, or a directory of logs, of
which the newest is taken. Prints, for each streaming micro-batch
(the `streaming.sql.batchId` job property, per query):

  - the SQL executions its jobs ran in, with their wall time;
  - each job, and for each of its stages the wall time (submission to
    completion) against the summed executor run time of its tasks, so a
    stage that waits more than it works stands out;
  - the driver-side gaps between consecutive jobs (the latest end of the
    jobs so far to the submission of the next), where planning, commits
    and other driver work show up.

Jobs outside any micro-batch (batch queries, sink reads) are summarised on
one line. The last line summarises the steady micro-batches, every batch
but the first of its query in the log (that one creates the sink's table or
warms the query up): their count, and the median jobs, SQL executions and
first-submit-to-last-end span per batch.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def log_files(arg):
    """The event files of one application log, in write order: `arg` is a
    single-file log, a rolling log's `eventlog_v2_*` directory, or a
    directory of logs (its newest entry is taken)."""
    if os.path.isfile(arg):
        return [arg]
    entries = [os.path.join(arg, f) for f in os.listdir(arg)]
    events = [e for e in entries if os.path.basename(e).startswith("events_")]
    if events:  # rolling log: events_<n>_<app id>
        return sorted(events, key=lambda e: int(os.path.basename(e).split("_")[1]))
    if not entries:
        sys.exit(f"no event log in {arg}")
    return log_files(max(entries, key=os.path.getmtime))


def read_events(files):
    for path in files:
        with open(path, "rb") as f:
            if f.read(1) != b"{":
                sys.exit(f"{path} is not an uncompressed JSON event log "
                         "(run with spark.eventLog.compress=false)")
            f.seek(0)
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    files = log_files(sys.argv[1])
    jobs = {}          # job id -> dict(submit, end, stages, batch, exec)
    stages = {}        # (stage id, attempt) -> dict(name, submit, end, tasks, run_ms)
    execs = {}         # execution id -> dict(desc, start, end)
    for ev in read_events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            query = props.get("sql.streaming.queryId", "")
            jobs[ev["Job ID"]] = {
                "submit": ev.get("Submission Time"), "end": None,
                "stages": ev.get("Stage IDs", []),
                "batch": (query, int(batch)) if batch is not None else None,
                "exec": props.get("spark.sql.execution.id"),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            st = stages.setdefault((info["Stage ID"], info.get("Stage Attempt ID", 0)),
                                   {"tasks": 0, "run_ms": 0})
            st["name"] = info.get("Stage Name", "")
            st["submit"] = info.get("Submission Time")
            st["end"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault((ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                                   {"tasks": 0, "run_ms": 0})
            st["tasks"] += 1
            st["run_ms"] += (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
        elif kind == SQL_START:
            execs[str(ev["executionId"])] = {
                "desc": "".join((ev.get("description") or "").splitlines()[:1])[:60],
                "start": ev.get("time"), "end": None}
        elif kind == SQL_END:
            e = execs.get(str(ev["executionId"]))
            if e is not None:
                e["end"] = ev.get("time")

    def ms(a, b):
        return f"{b - a:6d} ms" if a is not None and b is not None else "     ? ms"

    attempts = defaultdict(list)  # stage id -> its attempts that ran
    for (s, attempt), st in sorted(stages.items()):
        if st.get("submit") is not None:  # skipped stages never run
            attempts[s].append((attempt, st))
    batches = defaultdict(list)
    loose = []
    for jid, j in sorted(jobs.items()):
        (batches[j["batch"]] if j["batch"] else loose).append((jid, j))
    print(f"{os.path.dirname(files[0]) if len(files) > 1 else files[0]}: "
          f"{len(jobs)} jobs, {len(batches)} micro-batches")
    steady = []  # (jobs, SQL executions, span ms) per steady batch
    seen_queries = set()
    for (query, batch), js in sorted(batches.items()):
        js.sort(key=lambda x: x[1]["submit"] or 0)
        ex_ids = sorted({j["exec"] for _, j in js if j["exec"] is not None}, key=int)
        t0, t1 = js[0][1]["submit"], max((j["end"] or 0) for _, j in js)
        if query in seen_queries and t0 is not None and t1:
            steady.append((len(js), len(ex_ids), t1 - t0))
        seen_queries.add(query)
        print(f"\nquery {query[:8]} batch {batch}: {len(js)} jobs in "
              f"{len(ex_ids)} SQL executions, first submit to last end {ms(t0, t1)}")
        for x in ex_ids:
            e = execs.get(x, {"desc": "?", "start": None, "end": None})
            print(f"  sql {x:>5} {ms(e['start'], e['end'])}  {e['desc']}")
        gaps = []
        prev_end = None
        for jid, j in js:
            if prev_end is not None and j["submit"] is not None:
                gaps.append(max(0, j["submit"] - prev_end))  # 0: jobs overlap
                print(f"    driver gap {gaps[-1]:6d} ms")
            print(f"  job {jid:>5} {ms(j['submit'], j['end'])}  sql {j['exec']}")
            for s in j["stages"]:
                for attempt, st in attempts[s]:
                    print(f"    stage {s:>5}.{attempt} wall {ms(st['submit'], st['end'])}"
                          f"  task run {st['run_ms']:6d} ms over {st['tasks']:3d} tasks"
                          f"  {st['name'][:50]}")
            prev_end = max(prev_end or 0, j["end"] or 0) or None
        if gaps:
            print(f"  driver gaps: {len(gaps)}, sum {sum(gaps)} ms, max {max(gaps)} ms")
    if loose:
        wall = sum((j["end"] or 0) - (j["submit"] or 0) for _, j in loose)
        print(f"\noutside micro-batches: {len(loose)} jobs, {wall} ms summed job wall")
    if steady:
        jobs_m, execs_m, span_m = (statistics.median(c) for c in zip(*steady))
        print(f"\nsteady micro-batches: {len(steady)}, median {jobs_m:g} jobs in "
              f"{execs_m:g} SQL executions, first submit to last end {span_m:g} ms")
    else:
        print("\nsteady micro-batches: 0")


if __name__ == "__main__":
    main()
