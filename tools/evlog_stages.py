#!/usr/bin/env python3
"""Summarize a Spark event log: per-stage wall time, task count, task
time, task CPU, GC, shuffle and spill — the offline half of the bench's
SPARK_GRAFT_EVENTLOG profiling aid (clusterSession in Bench.scala).

Reads a plain event log file, a zstd-compressed one (`*.zstd`, as Spark 4
writes by default; decompressed with the `zstd` command-line tool), or a
rolling log directory (`eventlog_v2_<app>/`, whose `events_<n>_*` files
are read in order).

Usage:
  python3 tools/evlog_stages.py LOG [minWallSec] [--prop KEY=VALUE ...]
                                [--by stage|exec]

  --prop KEY=VALUE  keep only stages of jobs whose job properties hold
                    KEY=VALUE (repeatable; all must match), e.g.
                    --prop "perfbench.span=job:job 3"
  --by exec         one row per SQL execution instead of per stage: jobs,
                    tasks, task CPU and shuffle write, with the first
                    graft./perfbench. frames of the execution's call site
                    (SQLExecutionStart details; DedupOps.materialize's
                    own frames are skipped). Jobs that run outside any
                    SQL execution get one row per call site, the name
                    of the job's last stage (e.g. "parquet at
                    Workloads.scala:421", a schema-inference read),
                    with "-" as their execution. Stages that adaptive
                    execution submits carry no library frame in their
                    names, so only this grouping attributes them.
                    Under each row, one "stage" line per stage the
                    execution ran, by stage id: tasks, CPU, deserialize
                    CPU, shuffle read and shuffle write, and the stage
                    name. minWallSec does not apply.

`cpu_s` is executor CPU plus executor deserialize CPU — the task CPU
perfbench's LayerListener counts. `deser_s` is the deserialize CPU part
of it on its own: a fixed cost per task (task binary, closures), so it
grows with the task count, not with the rows a task handles.
"""
import argparse, collections, glob, json, os, re, subprocess

ap = argparse.ArgumentParser(
    description="Per-stage summary of a Spark event log.")
ap.add_argument("log", help="event log file or eventlog_v2_* directory")
ap.add_argument("min_wall", nargs="?", type=float, default=1.0,
                help="hide stages shorter than this many seconds (1.0)")
ap.add_argument("--prop", action="append", default=[],
                metavar="KEY=VALUE", help="job-property filter")
ap.add_argument("--by", choices=["stage", "exec"], default="stage",
                help="group by stage (default) or by SQL execution")
args = ap.parse_args()
props = dict(p.split("=", 1) for p in args.prop)
min_wall = args.min_wall


def log_files(path):
    if not os.path.isdir(path):
        return [path]
    def index(f):
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return int(m.group(1)) if m else 0
    return sorted(glob.glob(os.path.join(path, "events_*")), key=index)


def lines(path):
    for f in log_files(path):
        if f.endswith((".zstd", ".zst")):
            p = subprocess.Popen(["zstd", "-dc", f], stdout=subprocess.PIPE,
                                 text=True)
            yield from p.stdout
            if p.wait() != 0:
                raise SystemExit(f"zstd -dc {f} failed")
        else:
            with open(f) as fh:
                yield from fh


stages = {}          # (stageId, attempt) -> dict
tasks = collections.defaultdict(lambda: dict(run=0, gc=0, n=0,
                                             spillMem=0, spillDisk=0,
                                             shRead=0, shWrite=0,
                                             deser=0, resSer=0,
                                             cpu=0, deserCpu=0))
jobs = []            # [jobId, submitted, completed, stageIds, kept, group]
execs = {}           # executionId -> call site
stage_exec = {}      # stageId -> executionId (from stage properties)
LIB_FRAME = re.compile(r"^\s*(?:at\s+)?((?:graft|perfbench)\.\S+)")
# DedupOps.materialize and its helpers run the job of every frame they
# pin; the call site is the frame that asked for it
HELPER_FRAME = re.compile(r"DedupOps\$\.(?:materialize|cachePersist)")

for line in lines(args.log):
    try:
        ev = json.loads(line)
    except json.JSONDecodeError:
        continue
    e = ev.get("Event")
    if e == "SparkListenerStageSubmitted":
        si = ev["Stage Info"]
        stages[(si["Stage ID"], si["Stage Attempt ID"])] = dict(
            name=si["Stage Name"], sub=si.get("Submission Time", 0),
            done=None, ntask=si["Number of Tasks"])
        sp = ev.get("Properties") or {}
        if "spark.sql.execution.id" in sp:
            stage_exec[si["Stage ID"]] = sp["spark.sql.execution.id"]
    elif e.endswith("SparkListenerSQLExecutionStart"):
        frames = [m.group(1) for m in map(LIB_FRAME.match,
                                          (ev.get("details") or "")
                                          .splitlines())
                  if m and not HELPER_FRAME.search(m.group(1))]
        execs[str(ev["executionId"])] = " < ".join(frames[:2]) or \
            (ev.get("description") or "")[:60]
    elif e == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        key = (si["Stage ID"], si["Stage Attempt ID"])
        st = stages.setdefault(key, dict(name=si["Stage Name"],
                                         sub=si.get("Submission Time", 0),
                                         done=None,
                                         ntask=si["Number of Tasks"]))
        st["done"] = si.get("Completion Time", 0)
    elif e == "SparkListenerTaskEnd":
        key = (ev["Stage ID"], ev["Stage Attempt ID"])
        m = ev.get("Task Metrics") or {}
        t = tasks[key]
        t["n"] += 1
        t["run"] += m.get("Executor Run Time", 0)
        t["cpu"] += (m.get("Executor CPU Time", 0) +
                     m.get("Executor Deserialize CPU Time", 0)) / 1e6
        t["deserCpu"] += m.get("Executor Deserialize CPU Time", 0) / 1e6
        t["gc"] += m.get("JVM GC Time", 0)
        t["deser"] += m.get("Executor Deserialize Time", 0)
        t["resSer"] += m.get("Result Serialization Time", 0)
        t["spillMem"] += m.get("Memory Bytes Spilled", 0)
        t["spillDisk"] += m.get("Disk Bytes Spilled", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        t["shRead"] += sr.get("Remote Bytes Read", 0) + \
            sr.get("Local Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        t["shWrite"] += sw.get("Shuffle Bytes Written", 0)
    elif e == "SparkListenerJobStart":
        jp = ev.get("Properties") or {}
        kept = all(jp.get(k) == v for k, v in props.items())
        # a job outside any SQL execution is grouped by its call site:
        # the name of its last (result) stage
        group = jp.get("spark.sql.execution.id") or "site:" + max(
            ev["Stage Infos"], key=lambda s: s["Stage ID"])["Stage Name"]
        jobs.append([ev["Job ID"], ev.get("Submission Time", 0), None,
                     [s["Stage ID"] for s in ev["Stage Infos"]], kept,
                     group])
    elif e == "SparkListenerJobEnd":
        for j in jobs:
            if j[0] == ev["Job ID"]:
                j[2] = ev.get("Completion Time", 0)

jobs = [j for j in jobs if j[4]]
kept_stages = {s for j in jobs for s in j[3]}

if args.by == "exec":
    # a stage counts once, toward the execution that submitted it (a
    # later job lists reused map stages again, as skipped)
    first_job_exec = {}
    for j in sorted(jobs):
        for sid in j[3]:
            first_job_exec.setdefault(sid, j[5])
    groups = collections.defaultdict(lambda: dict(jobs=0, n=0, cpu=0.0,
                                                  deserCpu=0.0, shWrite=0,
                                                  stages=[]))
    for j in jobs:
        groups[j[5]]["jobs"] += 1
    for key, st in stages.items():
        if st["done"] is None or key[0] not in kept_stages:
            continue
        ex = stage_exec.get(key[0], first_job_exec.get(key[0]))
        t = tasks.get(key, {})
        g = groups[ex]
        g["n"] += t.get("n", 0)
        g["cpu"] += t.get("cpu", 0) / 1e3
        g["deserCpu"] += t.get("deserCpu", 0) / 1e3
        g["shWrite"] += t.get("shWrite", 0)
        g["stages"].append((key, st, t))
    where = " ".join(f"{k}={v}" for k, v in props.items())
    print(f"SQL executions{' with ' + where if where else ''} "
          f"(n {len(groups)}, jobs {sum(g['jobs'] for g in groups.values())}"
          f", tasks {sum(g['n'] for g in groups.values())}, cpu "
          f"{sum(g['cpu'] for g in groups.values()):.3f}s, deser "
          f"{sum(g['deserCpu'] for g in groups.values()):.3f}s):")
    print(f"{'exec':>6} {'jobs':>4} {'tasks':>5} {'cpu_s':>8} {'deser_s':>8}"
          f" {'shW_mb':>7}  call site")
    for ex, g in sorted(groups.items(), key=lambda kv: -kv[1]["cpu"]):
        if ex.startswith("site:"):
            ex, site = "-", ex[len("site:"):]
        else:
            site = execs.get(ex, "-")
        print(f"{ex:>6} {g['jobs']:>4} "
              f"{g['n']:>5} {g['cpu']:8.3f} {g['deserCpu']:8.3f} "
              f"{g['shWrite']/1e6:7.3f}  {site}")
        for key, st, t in sorted(g["stages"], key=lambda s: s[0]):
            sid = f"{key[0]}" + (f".{key[1]}" if key[1] else "")
            print(f"{'':>6} stage {sid}: {t.get('n', 0)} tasks, cpu "
                  f"{t.get('cpu', 0)/1e3:.3f}s, deser "
                  f"{t.get('deserCpu', 0)/1e3:.3f}s, shR "
                  f"{t.get('shRead', 0)/1e6:.3f}MB, shW "
                  f"{t.get('shWrite', 0)/1e6:.3f}MB  {st['name'][:60]}")
    raise SystemExit(0)

rows = []
for key, st in stages.items():
    if st["done"] is None or st["sub"] == 0:
        continue
    if props and key[0] not in kept_stages:
        continue
    wall = (st["done"] - st["sub"]) / 1e3
    if wall < min_wall:
        continue
    t = tasks.get(key, {})
    rows.append((wall, key, st, t))
rows.sort(key=lambda r: (r[0], r[1]), reverse=True)

tot_wall = sum(r[0] for r in rows)
tot_cpu = sum(r[3].get("cpu", 0) for r in rows) / 1e3
tot_tasks = sum(r[3].get("n", 0) for r in rows)
tot_deser = sum(r[3].get("deserCpu", 0) for r in rows) / 1e3
where = " ".join(f"{k}={v}" for k, v in props.items())
print(f"stages >= {min_wall}s wall{' with ' + where if where else ''} "
      f"(n {len(rows)}, sum wall {tot_wall:.3f}s, tasks {tot_tasks}, "
      f"cpu {tot_cpu:.3f}s, deser {tot_deser:.3f}s):")
print(f"{'wall_s':>7} {'stage':>6} {'tasks':>5} {'task_s':>8} {'cpu_s':>8} "
      f"{'deser_s':>8} {'gc_s':>6} {'spill_mb':>8} {'shR_mb':>7} "
      f"{'shW_mb':>7}  name")
for wall, key, st, t in rows[:40]:
    print(f"{wall:7.3f} {key[0]:>6} {t.get('n', 0):>5} "
          f"{t.get('run', 0)/1e3:8.3f} {t.get('cpu', 0)/1e3:8.3f} "
          f"{t.get('deserCpu', 0)/1e3:8.3f} {t.get('gc', 0)/1e3:6.3f} "
          f"{t.get('spillDisk', 0)/1e6:8.1f} {t.get('shRead', 0)/1e6:7.3f} "
          f"{t.get('shWrite', 0)/1e6:7.3f}  {st['name'][:70]}")

# gaps: wall time not covered by any stage (driver-side/scheduling)
iv = sorted((st["sub"], st["done"]) for _, key, st, _ in rows)
merged = []
for s, e in iv:
    if merged and s <= merged[-1][1]:
        merged[-1] = (merged[-1][0], max(merged[-1][1], e))
    else:
        merged.append((s, e))
covered = sum(e - s for s, e in merged) / 1e3
starts = [j[1] for j in jobs if j[1]]
ends = [j[2] for j in jobs if j[2]]
if starts and ends:
    span = (max(ends) - min(starts)) / 1e3
    print(f"\njobs span {span:.3f}s; stage-covered {covered:.3f}s; "
          f"uncovered (driver/scheduling) {span - covered:.3f}s; "
          f"n_jobs {len(jobs)}")
