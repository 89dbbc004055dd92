"""Per-layer metrics of a traced run, derived from its spans, counts,
Spark jobs and Catalyst phases (see Tracer.scala for how they are taken).

Jobs are attributed to an engine module by the source file of their call
site; `Tables.scala` and `Staging.scala` are split out of `core`."""
import os
import statistics

from metrics import union_ms

JOB_MODULES = ["llm", "streaming", "operators", "sinks", "plans", "pipelines"]


def module_map(root):
    """Source file name -> engine module (its directory under graft/)."""
    base = os.path.join(root, "src", "main", "scala", "graft")
    out = {}
    for d, _, files in os.walk(base):
        rel = os.path.relpath(d, base)
        mod = "entry" if rel == "." else rel.split(os.sep)[0]
        for f in files:
            out[f] = mod
    return out


def site_file(site):
    """'parquet at Tables.scala:60' -> 'Tables.scala'."""
    return site.rsplit(" at ", 1)[-1].split(":")[0]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(rec):
    """Seconds per pass spent in each span name inside the timed ops, outside
    its child spans (a span minus the part of its interval its children
    cover)."""
    kids = {}
    for s in rec["spans"]:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    passes = max(1, len({o["pass"] for o in rec["ops"]}))
    out = {}
    for s in (s for s in rec["spans"] if s["op"] >= 0):
        busy = s["end_ms"] - s["start_ms"] - union_ms(kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + busy / 1e3 / passes
    return out


def attribute(jobs, spans, ops, slack_ms=5.0):
    """Jobs with the span and op whose interval holds their start. A job
    carries the span and op current on the thread that launched it, but a
    pooled thread keeps the properties it inherited when it was created, so
    a job from one (`core.Par`) can name an earlier span: it is placed by
    its start time instead."""
    def holds(x, t):
        return x["start_ms"] - slack_ms <= t <= x["end_ms"] + slack_ms

    by_id = {s["id"]: s for s in spans}
    op_by_id = {o["idx"]: o for o in ops}
    out = []
    for j in jobs:
        j, t = dict(j), j["start_ms"]
        if j["span"] not in by_id or not holds(by_id[j["span"]], t):
            inner = [s for s in spans if holds(s, t)]
            j["span"] = max(inner, key=lambda s: s["start_ms"])["id"] if inner else -1
        if j["op"] not in op_by_id or not holds(op_by_id[j["op"]], t):
            j["op"] = next((o["idx"] for o in ops if holds(o, t)), -1)
        out.append(j)
    return out


def per_layer(rec, cores, landed, root):
    mods = module_map(root)
    ops = rec["ops"]
    spans = rec["spans"]
    jobs = attribute(rec["jobs"], spans, ops)
    counts = rec["counts"]
    passes = max(1, len({o["pass"] for o in ops}))
    by_id = {s["id"]: s for s in spans}

    def dur_s(x):
        return (x["end_ms"] - x["start_ms"]) / 1e3

    def under(span_id, name):
        """Whether span `span_id` is `name` or nested inside one."""
        while span_id >= 0:
            s = by_id[span_id]
            if s["name"] == name:
                return True
            span_id = s["parent"]
        return False

    def outside_s(span, js):
        inside = [(max(j["start_ms"], span["start_ms"]), min(j["end_ms"], span["end_ms"]))
                  for j in js]
        inside = [(a, b) for a, b in inside if b > a]
        return max(0.0, (span["end_ms"] - span["start_ms"] - union_ms(inside)) / 1e3)

    def count_vals(key):
        return [c["value"] for c in counts if c["key"] == key]

    m = {"core.session_s": rec["setup"]["session_s"][0],
         "core.warmup_s": med(rec["setup"].get("warmup_s", []))}
    # jobs by call-site module
    site_mod = [(j, mods.get(site_file(j["site"]), "other")) for j in jobs]
    for mod in JOB_MODULES:
        js = [j for j, md in site_mod if md == mod]
        m[mod + ".jobs"] = len(js) / passes
        m[mod + ".job_s"] = sum(dur_s(j) for j in js) / passes
    for key, fname in (("core.load", "Tables.scala"), ("core.staging", "Staging.scala")):
        js = [j for j in jobs if site_file(j["site"]) == fname]
        m[key + "_jobs"] = len(js) / passes
        m[key + "_job_s"] = sum(dur_s(j) for j in js) / passes

    # sync layers, per batch
    m["cursor.latest_s"] = med([dur_s(s) for s in spans if s["name"] == "cursor.latest"
                                and s["op"] >= 0])
    m["cursor.advance_s"] = med([dur_s(s) for s in spans if s["name"] == "cursor.advance"
                                 and s["op"] >= 0])
    cursor_jobs = {}
    for j in jobs:
        if j["op"] >= 0 and j["span"] >= 0 and (under(j["span"], "cursor.latest")
                                                or under(j["span"], "cursor.advance")):
            cursor_jobs[j["op"]] = cursor_jobs.get(j["op"], 0) + 1
    m["cursor.jobs"] = med(list(cursor_jobs.values()))
    m["cursor.table_files"] = max(count_vals("cursor.table_files") or [0])

    merged = [o for o in ops if o["ok"] and o["name"] in landed]
    m["sources.landed_rows"] = sum(landed[o["name"]][0] for o in merged)
    m["sources.landed_bytes"] = sum(landed[o["name"]][1] for o in merged)

    ups = [s for s in spans if s["name"] == "operators.upsert" and s["op"] >= 0]
    up_jobs = {s["id"]: [j for j in jobs if j["span"] >= 0 and under(j["span"], "operators.upsert")
                         and j["op"] == s["op"]] for s in ups}
    m["operators.upsert_s"] = med([dur_s(s) for s in ups])
    m["operators.upsert_jobs"] = med([len(up_jobs[s["id"]]) for s in ups])
    m["operators.upsert_tasks"] = med([sum(j["tasks"] for j in up_jobs[s["id"]]) for s in ups])
    m["operators.upsert_task_cpu_s"] = med([sum(j["cpu_s"] for j in up_jobs[s["id"]]) for s in ups])
    m["operators.upsert_outside_jobs_s"] = med([outside_s(s, up_jobs[s["id"]]) for s in ups])
    m["operators.upsert_shuffle_bytes"] = med([sum(j["shuffle_bytes"] for j in up_jobs[s["id"]])
                                               for s in ups])
    m["operators.upsert_partitions_touched"] = med(count_vals("operators.upsert.partitions_touched"))
    m["operators.upsert_rows_rewritten"] = med([sum(j["output_records"] for j in up_jobs[s["id"]])
                                                for s in ups])
    comp = [s for s in spans if s["name"] == "operators.compact"]
    m["operators.compact_s"] = med([dur_s(s) for s in comp])
    m["operators.compact_bytes_rewritten"] = sum(count_vals("operators.compact.bytes_written"))
    m["operators.compact_partitions"] = sum(count_vals("operators.compact.partitions_touched"))

    m["sinks.bytes_written"] = sum(o.get("bytes_written", 0) for o in ops) / passes
    m["sinks.files_written"] = sum(o.get("files_written", 0) for o in ops) / passes
    m["sinks.snapshot_files"] = float(rec["info"].get("snapshot_files", 0))
    m["sinks.snapshot_bytes"] = float(rec["info"].get("snapshot_bytes", 0))

    # op totals per pass
    op_jobs = [j for j in jobs if j["op"] >= 0]
    wall_s = sum(dur_s(o) for o in ops) / passes
    m["queries.jobs"] = len(op_jobs) / passes
    m["queries.stages"] = sum(j["stages"] for j in op_jobs) / passes
    m["queries.tasks"] = sum(j["tasks"] for j in op_jobs) / passes
    for key, field in (("task_cpu_s", "cpu_s"), ("shuffle_bytes", "shuffle_bytes"),
                       ("spill_bytes", "spill_bytes"), ("input_bytes", "input_bytes")):
        m["queries." + key] = sum(j[field] for j in op_jobs) / passes
    outside = 0.0
    for o in ops:
        outside += outside_s(o, [j for j in op_jobs if j["op"] == o["idx"]])
    m["queries.outside_jobs_s"] = outside / passes
    plan_ms = sum(p["plan_ms"] for p in rec["phases"]
                  if any(o["start_ms"] <= p["start_ms"] <= o["end_ms"] for o in ops))
    m["queries.plan_s"] = plan_ms / 1e3 / passes
    m["queries.core_util"] = m["queries.task_cpu_s"] / (wall_s * cores) if wall_s else 0.0
    m["queries.gc_s"] = rec["gc_ms"] / 1e3 / passes

    # the traced run's own end-to-end figures: compare with an untraced
    # run's wall_s / op_p50_s to read the tracing overhead
    lat = [dur_s(o) for o in ops if o["ok"]]
    m["trace.op_p50_s"] = med(lat)
    m["trace.wall_s"] = wall_s
    return m
