"""Per-round launch and deserialization figures of upsert rounds from a
Spark event log: for each parquet write execution, the driver time
before its first job, the gap between map-stage end and the result job,
the result stage's submit -> first task launch, and the Executor
Deserialize Time of its map-stage and write tasks."""
import json, sys, statistics

path, last = sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 10
execs, jobs, stages, tasks = {}, {}, {}, {}
for line in open(path):
    e = json.loads(line)
    ev = e["Event"]
    if ev.endswith("SQLExecutionStart"):
        execs[e["executionId"]] = {"start": e["time"], "plan": e.get("physicalPlanDescription", ""), "jobs": []}
    elif ev.endswith("SQLExecutionEnd"):
        if e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
    elif ev == "SparkListenerJobStart":
        props = e.get("Properties", {})
        eid = props.get("spark.sql.execution.id")
        jobs[e["Job ID"]] = {"submit": e["Submission Time"], "stages": e["Stage IDs"], "exec": eid}
        if eid is not None and int(eid) in execs:
            execs[int(eid)]["jobs"].append(e["Job ID"])
    elif ev == "SparkListenerJobEnd":
        jobs[e["Job ID"]]["end"] = e["Completion Time"]
    elif ev == "SparkListenerStageSubmitted":
        si = e["Stage Info"]
        stages.setdefault(si["Stage ID"], {})["submit"] = si.get("Submission Time")
    elif ev == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        st = stages.setdefault(si["Stage ID"], {})
        st["done"] = si.get("Completion Time"); st["name"] = si.get("Stage Name", "")
        st["submit"] = st.get("submit") or si.get("Submission Time")
    elif ev == "SparkListenerTaskEnd":
        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
        tasks.setdefault(e["Stage ID"], []).append({
            "launch": ti["Launch Time"], "deser": tm.get("Executor Deserialize Time", 0),
            "written": (tm.get("Output Metrics") or {}).get("Bytes Written", 0)})

rows = []
for eid in sorted(execs):
    x = execs[eid]
    if "InsertIntoHadoopFsRelationCommand" not in x["plan"] or not x["jobs"] or "end" not in x:
        continue
    js = sorted(x["jobs"], key=lambda j: jobs[j]["submit"])
    sids = [s for j in js for s in jobs[j]["stages"] if s in tasks]
    write = [s for s in sids if any(t["written"] > 0 for t in tasks[s])]
    if not write:
        continue
    w = write[-1]
    maps = [s for s in sids if s != w]
    map_end = max((stages[s]["done"] for s in maps if stages[s].get("done")), default=None)
    wjob = next(j for j in js if w in jobs[j]["stages"])
    rows.append({
        "to_first_job_ms": jobs[js[0]]["submit"] - x["start"],
        "map_end_to_result_job_ms": (jobs[wjob]["submit"] - map_end) if map_end else None,
        "result_submit_to_launch_ms": min(t["launch"] for t in tasks[w]) - stages[w]["submit"],
        "map_task_deser_ms": sorted(t["deser"] for s in maps for t in tasks[s]),
        "write_task_deser_ms": sorted(t["deser"] for t in tasks[w]),
        "exec_ms": x["end"] - x["start"], "jobs": len(js)})
rows = rows[-last:]
for r in rows:
    print(json.dumps(r))
def med(k):
    v = [r[k] for r in rows if r[k] is not None]
    return statistics.median(v) if v else None
print(json.dumps({"rounds": len(rows),
                  "median_exec_ms": med("exec_ms"),
                  "median_to_first_job_ms": med("to_first_job_ms"),
                  "median_map_end_to_result_job_ms": med("map_end_to_result_job_ms"),
                  "median_result_submit_to_launch_ms": med("result_submit_to_launch_ms"),
                  "write_task_deser_ms_range": [min(d for r in rows for d in r["write_task_deser_ms"]),
                                                max(d for r in rows for d in r["write_task_deser_ms"])],
                  "median_write_task_deser_ms": statistics.median(d for r in rows for d in r["write_task_deser_ms"]),
                  "map_task_deser_ms_range": [min(d for r in rows for d in r["map_task_deser_ms"] or [0]),
                                              max(d for r in rows for d in r["map_task_deser_ms"] or [0])]}))
