"""Per-layer metrics of a traced run, and its spans.

Jobs are attributed to the op whose job tag they carry; jobs without the
tag (driver-pool work, streaming micro-batches) go to the op whose span
contains their start, and jobs outside every op span are counted as
unattributed. Stages go to the job that ran them, Catalyst phase times to
the op whose SQL execution they belong to. Times and counts are reported
per op (mean over the traced ops) unless the name says otherwise."""
import os
import statistics

from stats import growth, self_time

SLACK_MS = 1.0  # Spark stamps listener events in whole milliseconds

PER_LAYER = [
    # name, unit
    ("queries.build_s", "s"), ("queries.eager_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.delay_s", "s"),
    ("scheduler.unattributed_jobs", "count"), ("driver.self_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"),
    ("executor.busy_frac", "ratio"), ("executor.straggler_ratio", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("spill.disk_bytes", "bytes"),
    ("gc.task_s", "s"), ("gc.jvm_s", "s"), ("executor.peak_mem_bytes", "bytes"),
    ("codegen.compile_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.latest_offset_s", "s"),
    ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.merge_growth", "ratio"), ("streaming.snapshot_growth", "ratio"),
    ("operators.merge.scan_bytes_per_batch", "bytes"),
    ("operators.snapshot.commit_s", "s"), ("operators.snapshot.read_s", "s"),
    ("operators.stage.embed_build_s", "s"),
    ("caps.dropped_rows", "count"), ("trace.overhead_frac", "ratio"),
]


def attribute(ops, jobs):
    """job id -> (op index or None, how)."""
    by_tag = {o["tag"]: i for i, o in enumerate(ops) if o.get("tag")}
    out = {}
    for j in jobs:
        tagged = [by_tag[t] for t in j["tags"] if t in by_tag]
        if tagged:
            out[j["job"]] = (tagged[0], "tag")
            continue
        hit = [i for i, o in enumerate(ops)
               if o["t0"] - SLACK_MS <= j["start"] <= o["t1"] + SLACK_MS]
        out[j["job"]] = (hit[0], "interval") if hit else (None, "none")
    return out


def stage_owner(jobs, stages):
    """(stage, attempt) -> job id: the job listing the stage whose span
    contains the stage's submission."""
    owner = {}
    for s in stages:
        cands = [j for j in jobs if s["stage"] in j["stages"]]
        inside = [j for j in cands
                  if j["start"] - SLACK_MS <= s["submitted"] <= j["end"] + SLACK_MS]
        pick = (inside or cands)
        if pick:
            owner[(s["stage"], s["attempt"])] = min(pick, key=lambda j: j["job"])["job"]
    return owner


def per_layer(wl, rec, cores):
    tr = rec["traced"]
    ops = [o for o in rec["region"]["ops"] if o["traced"]]
    untraced = [o for o in rec["region"]["ops"] if not o["traced"]]
    ev = tr["trace"]
    n = max(1, len(ops))
    jobs = ev["jobs"]
    job_op = attribute(ops, jobs)
    owner = stage_owner(jobs, ev["stages"])
    op_jobs = {i: [] for i in range(len(ops))}
    for j in jobs:
        i, _ = job_op[j["job"]]
        if i is not None:
            op_jobs[i].append(j)
    op_stages = {i: [] for i in range(len(ops))}
    for s in ev["stages"]:
        i, _ = job_op.get(owner.get((s["stage"], s["attempt"])), (None, None))
        if i is not None and s["tasks"] > 0:
            op_stages[i].append(s)
    # SQL executions -> op, via their tags or their jobs
    by_tag = {o["tag"]: i for i, o in enumerate(ops) if o.get("tag")}
    exec_op = {}
    for e in ev["execs"]:
        hit = [by_tag[t] for t in e["tags"] if t in by_tag]
        if hit:
            exec_op[e["exec"]] = hit[0]
    for j in jobs:
        i, _ = job_op[j["job"]]
        if j["exec"] is not None and i is not None:
            exec_op.setdefault(j["exec"], i)
    op_plans = {i: [] for i in range(len(ops))}
    for p in ev["plans"]:
        if p["exec"] in exec_op:
            op_plans[exec_op[p["exec"]]].append(p)

    def tot(key, scale=1.0):
        return sum(s[key] for ss in op_stages.values() for s in ss) * scale

    all_stages = [s for ss in op_stages.values() for s in ss]
    stream = wl["kind"] == "stream"
    m = {}
    m["queries.build_s"] = 0.0 if stream else sum(
        (o["built"] - o["t0"]) / 1e3 for o in ops) / n
    m["queries.eager_jobs"] = 0.0 if stream else sum(
        1 for i, o in enumerate(ops) for j in op_jobs[i] if j["start"] < o["built"]) / n
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = sum(p[f"{ph}_s"] for ps in op_plans.values() for p in ps) / n
    m["scheduler.jobs"] = sum(len(v) for v in op_jobs.values()) / n
    m["scheduler.stages"] = len(all_stages) / n
    m["scheduler.tasks"] = tot("tasks") / n
    m["scheduler.delay_s"] = tot("delay_ms", 1e-3) / n
    m["scheduler.unattributed_jobs"] = float(sum(1 for v in job_op.values() if v[0] is None))
    selfs = [self_time(o["t0"], o["t1"], [(j["start"], j["end"]) for j in op_jobs[i]]) / 1e3
             for i, o in enumerate(ops)]
    m["driver.self_s"] = sum(selfs) / n
    m["executor.run_s"] = tot("run_ms", 1e-3) / n
    m["executor.cpu_s"] = tot("cpu_ns", 1e-9) / n
    region_s = sum(p["s"] for p in rec["region"]["passes"] if p["traced"])
    m["executor.busy_frac"] = tot("run_ms", 1e-3) / (cores * region_s)
    ratios = []
    for ss in op_stages.values():
        multi = [s for s in ss if len(s["durations"]) >= 2]
        if multi:
            longest = max(multi, key=lambda s: s["completed"] - s["submitted"])
            med = statistics.median(longest["durations"])
            ratios.append(max(longest["durations"]) / med if med > 0 else 1.0)
    m["executor.straggler_ratio"] = statistics.median(ratios) if ratios else 1.0
    m["shuffle.write_bytes"] = tot("shuffle_write") / n
    m["shuffle.read_bytes"] = tot("shuffle_read") / n
    m["shuffle.fetch_wait_s"] = tot("fetch_wait_ms", 1e-3) / n
    m["spill.disk_bytes"] = tot("spill") / n
    m["gc.task_s"] = tot("gc_ms", 1e-3) / n
    m["gc.jvm_s"] = tr["gc_jvm_s"] / n
    m["executor.peak_mem_bytes"] = float(max((s["peak_mem"] for s in all_stages), default=0))
    m["codegen.compile_s"] = tr["codegen_compile_s"]

    batches = [(k, b) for o in ops for k, b in o.get("batches", {}).items()]
    for key, name in (("addBatch", "add_batch_s"), ("latestOffset", "latest_offset_s"),
                      ("queryPlanning", "query_planning_s"), ("walCommit", "wal_commit_s")):
        m[f"streaming.{name}"] = (
            sum(b["durations"].get(key, 0.0) for _, b in batches) / len(batches)
            if batches else 0.0)
    for sink in ("merge", "snapshot"):
        t = [b["durations"]["triggerExecution"] for k, b in batches if k == sink]
        m[f"streaming.{sink}_growth"] = growth(t) or 0.0
    job_by_id = {j["job"]: j for j in jobs}
    scan = []
    for i, o in enumerate(ops):
        if "merge" in o.get("batches", {}):
            q = o["batches"]["merge"]["query"]
            scan.append(sum(
                s["input_bytes"] for s in op_stages[i]
                if job_by_id[owner[(s["stage"], s["attempt"])]]["stream_query"] == q))
            o["scan_bytes"] = scan[-1]
    m["operators.merge.scan_bytes_per_batch"] = statistics.median(scan) if scan else 0.0
    snap = [b for k, b in batches if k == "snapshot"]
    m["operators.snapshot.commit_s"] = (
        sum(b["durations"].get("addBatch", 0.0) for b in snap) / len(snap) if snap else 0.0)
    reads = [o["read_s"] for o in ops if "read_s" in o]
    m["operators.snapshot.read_s"] = sum(reads) / len(reads) if reads else 0.0
    m["operators.stage.embed_build_s"] = rec["stage_build_s"].get("embed", 0.0)
    m["caps.dropped_rows"] = float(sum(tr["caps"].values()))
    if stream:
        a = statistics.median((o["t1"] - o["t0"]) for o in ops)
        b = statistics.median((o["t1"] - o["t0"]) for o in untraced)
    else:
        a = sum(o["t1"] - o["t0"] for o in ops)
        b = sum(o["t1"] - o["t0"] for o in untraced)
    m["trace.overhead_frac"] = a / b - 1.0

    fps = {}
    for i, ps in op_plans.items():
        if ps:
            fps[i] = max(ps, key=lambda p: p["exec"])["fingerprint"]
    spans = []
    for i, o in enumerate(ops):
        spans.append({"span": "op", "id": i,
                      "name": o.get("name") or os.path.basename(o["chunk"]),
                      "pass": o.get("pass"), "t0": o["t0"], "t1": o["t1"],
                      "tag": o.get("tag"), "fingerprint": fps.get(i),
                      "self_s": selfs[i]})
        if "built" in o:
            spans.append({"span": "build", "parent": i, "t0": o["t0"], "t1": o["built"]})
        if "scan_bytes" in o:
            spans[-1]["scan_bytes"] = o["scan_bytes"]
    for j in jobs:
        i, how = job_op[j["job"]]
        spans.append({"span": "job", "parent": i, "job": j["job"], "t0": j["start"],
                      "t1": j["end"], "tags": j["tags"], "exec": j["exec"],
                      "fingerprint": fps.get(i), "attributed": how})
    units = dict(PER_LAYER)
    return {k: (float(m[k]), units[k]) for k, _ in PER_LAYER}, spans
