#!/usr/bin/env python3
"""Per-micro-batch job accounting from a Spark event log.

    python3 tools/batch_jobs.py <event log file or directory> [--sql]
    python3 tools/batch_jobs.py <event log file or directory> --stages N

For every streaming micro-batch in the log (one `QueryProgressEvent` each)
it prints the batch's trigger time, the jobs submitted inside it, their
busy time (the union of the jobs' run intervals), their task count, and
two job shapes that move no data the driver does not already hold:

  local->broadcast  a BroadcastExchange collect of a LocalTableScan alone
  footer            a parquet schema-inference job: a parallelize ->
                    mapPartitions collect, which is what a parquet read
                    without a schema runs over the files' footers

With `--sql` it also lists the batch's SQL executions: id, jobs, tasks,
wall ms and the top operators of the physical plan (a micro-batch's
executions all carry the stream's call site, so the plan is what names
them). `--match REGEX` keeps only the executions whose physical plan
matches, e.g. `--match minhash_text` for the near-dup candidate probe.

With `--stages N` it prints instead the N longest stages of each
application, micro-batch or not (longest by wall time, submission to
completion): stage and SQL execution ids, tasks, wall, task run and task
CPU seconds, records in (scan plus shuffle read) and out (write plus
shuffle write), shuffle bytes read and written, and the top operators of
the owning SQL execution. This is where a whole run's time goes, e.g. a
scan whose task CPU dwarfs its records.

A directory may be one event log (`eventlog_v2_*`, rolled `events_*`
files) or a directory of logs; every application with micro-batches is
reported. Enable the log with no code change, e.g.

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false"
"""
import argparse
import datetime
import json
import os
import re
import sys


def log_files(path):
    """The event files of each application under `path`, in roll order."""
    if os.path.isfile(path):
        return [[path]]
    names = sorted(os.listdir(path))
    rolled = [n for n in names if n.startswith("events_")]
    if rolled:
        def roll(n):
            m = re.match(r"events_(\d+)_", n)
            return int(m.group(1)) if m else 0
        return [[os.path.join(path, n) for n in sorted(rolled, key=roll)]]
    apps = []
    for n in names:
        apps.extend(log_files(os.path.join(path, n)))
    return apps


def scope_name(s):
    return json.loads(s).get("name") if s else None


def job_kind(start):
    """'local->broadcast', 'footer' or None for one SparkListenerJobStart."""
    rdds = [r for st in start["Stage Infos"] for r in st["RDD Info"]]
    scopes = {scope_name(r.get("Scope")) for r in rdds}
    action = scope_name(start.get("Properties", {}).get("spark.rdd.scope"))
    if (action == "BroadcastExchange" and "LocalTableScan" in scopes
            and scopes <= {"LocalTableScan", "BroadcastExchange"}):
        return "local->broadcast"
    if action == "collect" and scopes == {"parallelize", "mapPartitions"}:
        return "footer"
    return None


def iso_ms(ts):
    t = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def top_ops(plan, n=3):
    """The first `n` operators of a physical plan description, below the
    adaptive wrapper."""
    ops = []
    for line in (plan or "").split("\n")[1:]:
        if not line.strip():
            break
        op = re.sub(r"^[\s:+\-*]*", "", line)
        op = re.sub(r"\s*\(\d+\).*$", "", op)
        if op and op != "AdaptiveSparkPlan":
            ops.append(op)
        if len(ops) == n:
            break
    return " > ".join(ops)


def busy_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def add_task(stage, m):
    """Fold one task's `Task Metrics` into its stage's totals."""
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    for k, v in (
            ("tasks", 1),
            ("run_ms", m.get("Executor Run Time", 0)),
            ("cpu_ns", m.get("Executor CPU Time", 0)),
            ("rec_in", (m.get("Input Metrics") or {}).get("Records Read", 0)
             + sr.get("Total Records Read", 0)),
            ("rec_out",
             (m.get("Output Metrics") or {}).get("Records Written", 0)
             + sw.get("Shuffle Records Written", 0)),
            ("sh_read", sr.get("Remote Bytes Read", 0)
             + sr.get("Local Bytes Read", 0)),
            ("sh_write", sw.get("Shuffle Bytes Written", 0))):
        stage[k] = stage.get(k, 0) + v


def read_app(files):
    jobs, stage_job, sqls, batches, queries = {}, {}, {}, [], {}
    stages = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"], "end": None,
                        "sql": int(sql) if sql is not None else None,
                        "kind": job_kind(e), "tasks": 0}
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerTaskEnd":
                    add_task(stages.setdefault(e["Stage ID"], {}),
                             e.get("Task Metrics") or {})
                elif ev == "SparkListenerStageCompleted":
                    i = e["Stage Info"]
                    stages.setdefault(i["Stage ID"], {}).update(
                        submit=i.get("Submission Time"),
                        done=i.get("Completion Time"))
                elif ev.endswith("SQLExecutionStart"):
                    plan = e.get("physicalPlanDescription", "")
                    sqls[e["executionId"]] = {
                        "start": e["time"], "end": None, "plan": plan,
                        "top": top_ops(plan)}
                elif ev.endswith("SQLExecutionEnd"):
                    if e["executionId"] in sqls:
                        sqls[e["executionId"]]["end"] = e["time"]
                elif ev.endswith("QueryStartedEvent"):
                    queries.setdefault(e["runId"], len(queries) + 1)
                elif ev.endswith("QueryProgressEvent"):
                    p = e["progress"]
                    queries.setdefault(p["runId"], len(queries) + 1)
                    t0 = iso_ms(p["timestamp"])
                    batches.append({
                        "query": queries[p["runId"]], "batch": p["batchId"],
                        "t0": t0,
                        "t1": t0 + p["durationMs"].get("triggerExecution", 0)})
    for s, j in stage_job.items():
        jobs[j]["tasks"] += stages.get(s, {}).get("tasks", 0)
        stages.setdefault(s, {})["sql"] = jobs[j]["sql"]
    return jobs, sqls, batches, stages


def report_stages(stages, sqls, n):
    def wall(st):
        return (st.get("done") or 0) - (st.get("submit") or 0)
    print(f"{'stage':>6} {'sql':>5} {'tasks':>5} {'wall_s':>7} {'run_s':>7} "
          f"{'cpu_s':>7} {'rec_in':>9} {'rec_out':>9} {'sh_read':>10} "
          f"{'sh_write':>10}  sql plan")
    for sid, st in sorted(stages.items(), key=lambda kv: -wall(kv[1]))[:n]:
        sql = st.get("sql")
        print(f"{sid:>6} {sql if sql is not None else '-':>5} "
              f"{st.get('tasks', 0):>5} {wall(st) / 1e3:7.2f} "
              f"{st.get('run_ms', 0) / 1e3:7.2f} "
              f"{st.get('cpu_ns', 0) / 1e9:7.2f} {st.get('rec_in', 0):>9} "
              f"{st.get('rec_out', 0):>9} {st.get('sh_read', 0):>10} "
              f"{st.get('sh_write', 0):>10}  "
              f"{sqls.get(sql, {}).get('top', '(no SQL execution)')}")


def report(files, show_sql, match, top_stages):
    jobs, sqls, batches, stages = read_app(files)
    if top_stages:
        if stages:
            print(f"== {os.path.dirname(files[0]) or files[0]}")
            report_stages(stages, sqls, top_stages)
        return
    if not batches:
        return
    print(f"== {os.path.dirname(files[0]) or files[0]}")
    for b in batches:
        mine = {i: j for i, j in jobs.items()
                if b["t0"] <= j["start"] <= b["t1"]}
        kinds = [j["kind"] for j in mine.values()]
        print(f"query {b['query']} batch {b['batch']}: "
              f"trigger {b['t1'] - b['t0']} ms, {len(mine)} jobs, "
              f"busy {busy_ms([(j['start'], j['end'] or j['start']) for j in mine.values()])} ms, "
              f"{sum(j['tasks'] for j in mine.values())} tasks, "
              f"local->broadcast {kinds.count('local->broadcast')}, "
              f"footer {kinds.count('footer')}")
        if not show_sql:
            continue
        by_sql = {}
        for j in mine.values():
            by_sql.setdefault(j["sql"], []).append(j)
        for sid in sorted(by_sql, key=lambda k: (k is None, k or 0)):
            js = by_sql[sid]
            sq = sqls.get(sid, {})
            if match and not re.search(match, sq.get("plan", "")):
                continue
            wall = ((sq.get("end") or 0) - sq["start"]
                    if sq.get("start") else 0)
            extra = [k for k in (j["kind"] for j in js) if k]
            print(f"  sql {sid if sid is not None else '-':>5}: "
                  f"{len(js):3d} jobs {sum(j['tasks'] for j in js):4d} tasks "
                  f"{wall:6d} ms  {sq.get('top', '(no SQL execution)')}"
                  + (f"  [{', '.join(sorted(set(extra)))}]" if extra else ""))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("path", help="an event log file or directory")
    ap.add_argument("--sql", action="store_true",
                    help="also list each batch's SQL executions")
    ap.add_argument("--match", metavar="REGEX",
                    help="with --sql, only executions whose plan matches")
    ap.add_argument("--stages", metavar="N", type=int,
                    help="instead, each application's N longest stages")
    args = ap.parse_args()
    apps = log_files(args.path)
    if not apps:
        sys.exit(f"no event log under {args.path}")
    for files in apps:
        report(files, args.sql, args.match, args.stages)


if __name__ == "__main__":
    main()
