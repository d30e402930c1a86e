"""Turn one run's records into the benchmark's metrics.

End-to-end metrics are the same four on every workload; what an "op"
and an "item" are depends on the workload (see README.md). Per-layer
metrics come from the traced run's spans and listener records; a layer
the workload does not touch reports 0.
"""
import statistics

PACKS = ["Relational", "Scalars", "Windows", "TimeWindows", "TextOps", "Similarity",
         "Udx", "Multimodal", "Extras", "Pipeline", "Corpus", "Curation", "Graph",
         "Vocab", "Layout", "Geo", "Versioning", "Privacy"]

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _per_layer_units():
    u = {"setup.session_s": "s", "setup.warm_s": "s", "setup.gen_s": "s"}
    for k in ["login_s", "fetch_s", "server_s", "land_s", "publish_s", "publish_cpu_s"]:
        u[f"sources.{k}"] = "s"
    for k in ["http_requests", "http_retries", "publish_jobs", "publish_tasks", "out_files"]:
        u[f"sources.{k}"] = "count"
    for k in ["http_bytes", "shuffle_bytes", "out_bytes"]:
        u[f"sources.{k}"] = "bytes"
    for k in ["construct_s", "plan_s", "exec_s", "driver_only_s", "task_overhead_s",
              "executor_run_s", "executor_cpu_s", "gc_s", "pass_s"]:
        u[f"queries.{k}"] = "s"
    for k in ["jobs", "stages", "tasks", "tasks_per_stage_p50"]:
        u[f"queries.{k}"] = "count"
    u["queries.task_p50_ms"] = "ms"
    u["queries.core_busy_ratio"] = "ratio"
    for k in ["shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes"]:
        u[f"queries.{k}"] = "bytes"
    for p in PACKS:
        u[f"queries.pack.{p}_s"] = "s"
    for k in ["analysis_ms", "optimization_ms", "planning_ms"]:
        u[f"plans.{k}"] = "ms"
    u.update({"materialize.eager_jobs": "count", "materialize.eager_s": "s",
              "materialize.blocks_peak": "count", "materialize.storage_peak_mb": "MB"})
    for k in ["batches", "compactions", "batch_jobs_p50", "batch_tasks_p50", "store_files",
              "pairs_emitted"]:
        u[f"streaming.{k}"] = "count"
    for k in ["batch_plain_p50_s", "batch_compact_p50_s"]:
        u[f"streaming.{k}"] = "s"
    for k in ["add_batch_ms_p50", "planning_ms_p50", "wal_ms_p50", "offsets_ms_p50"]:
        u[f"streaming.{k}"] = "ms"
    for k in ["store_bytes", "store_bytes_written", "store_read_bytes_p50"]:
        u[f"streaming.{k}"] = "bytes"
    u["streaming.write_amp"] = "ratio"
    u["trace.overhead_ratio"] = "ratio"
    u["run.error_rate"] = "ratio"
    u["run.op_p90_s"] = "s"
    return u


PER_LAYER = _per_layer_units()


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Nearest-rank quantile (the value with a share ``q`` at or below it)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 1)) - 1))
    return xs[k]


def end_to_end(rec):
    """Metrics of an untraced run, from the JVM's records. Throughput is
    over the ops' own time: the checks and clean-up between ops are not
    in it."""
    ops = rec["ops"]
    secs = [o["s"] for o in ops]
    items = sum(o["items"] for o in ops)
    busy = sum(secs)
    return {
        "setup_s": rec["session_s"] + rec["warm_s"],
        "op_p50_s": median(secs),
        "items_per_s": items / busy if busy else 0.0,
        "peak_rss_mb": rec["rss_hwm_kb"] / 1024.0,
    }


def _union_ms(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(rec, gen_s, workload, untraced_op_p50, error_rate):
    """Metrics of a traced run."""
    m = {k: 0.0 for k in PER_LAYER}
    m["setup.session_s"] = rec["session_s"]
    m["setup.warm_s"] = rec["warm_s"]
    m["setup.gen_s"] = gen_s
    m["run.error_rate"] = error_rate
    m["run.op_p90_s"] = quantile((o["s"] for o in rec["ops"]), 0.9)
    tr = rec.get("trace", {"spans": [], "jobs": [], "tasks": []})
    spans = {s["id"]: s for s in tr["spans"]}
    ops = rec["ops"]
    op_p50 = median(o["s"] for o in ops)
    m["trace.overhead_ratio"] = op_p50 / untraced_op_p50 if untraced_op_p50 else 0.0

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def root_name(sid):
        """Name of the outermost span under the op span."""
        s = spans.get(sid)
        name = None
        while s is not None and s["name"] != "op":
            name = s["name"]
            s = spans.get(s["parent"])
        return name

    jobs = {}
    for j in tr["jobs"]:
        jobs.setdefault(j["job"], {}).update(j)
    for j in jobs.values():
        sp = spans.get(j.get("span", 0))
        j["op"] = sp["op"] if sp else -1
        j["layer"] = root_name(j.get("span", 0)) if sp else None
    by_job_tasks = {}
    for t in tr["tasks"]:
        by_job_tasks.setdefault(t["job"], []).append(t)

    def op_spans(name):
        per = {}
        for s in tr["spans"]:
            if s["name"] == name and s["op"] >= 0:
                per[s["op"]] = per.get(s["op"], 0.0) + dur(s)
        return per

    def per_op(fn, job_filter):
        """median over ops of fn(list of tasks, list of jobs) for matching jobs"""
        groups = {}
        for j in jobs.values():
            if j["op"] >= 0 and job_filter(j):
                groups.setdefault(j["op"], []).append(j)
        vals = []
        for o in sorted(op_spans("op")):
            js = groups.get(o, [])
            ts = [t for j in js for t in by_job_tasks.get(j["job"], [])]
            vals.append(fn(ts, js))
        return median(vals)

    if workload == "alert_etl":
        for k in ["login", "fetch", "land", "publish"]:
            m[f"sources.{k}_s"] = median(op_spans(f"sources.{k}").values())
        fin = rec["finish"]
        n_calls = len(ops) + rec["warm_ops"]  # the warm-up ran the handler too
        m["sources.server_s"] = fin["server_s"] / n_calls
        m["sources.http_requests"] = fin["http_requests"] / n_calls
        m["sources.http_retries"] = fin["http_retries"] / n_calls
        m["sources.http_bytes"] = fin["http_bytes"] / n_calls
        m["sources.out_bytes"] = fin["out_bytes"]
        m["sources.out_files"] = fin["out_files"]
        pub = lambda j: j["layer"] == "sources.publish"
        m["sources.publish_jobs"] = per_op(lambda ts, js: len(js), pub)
        m["sources.publish_tasks"] = per_op(lambda ts, js: len(ts), pub)
        m["sources.publish_cpu_s"] = per_op(
            lambda ts, js: sum(t.get("cpu_ns", 0) for t in ts) / 1e9, pub)
        m["sources.shuffle_bytes"] = per_op(lambda ts, js: sum(t.get("sw", 0) for t in ts), pub)

    if workload == "query_mix":
        fin = rec["finish"]
        for k in ["construct", "plan", "exec"]:
            m[f"queries.{k}_s"] = median(op_spans(f"queries.{k}").values())
        op_wall = op_spans("op")
        alljobs = lambda j: True
        m["queries.jobs"] = per_op(lambda ts, js: len(js), alljobs)
        m["queries.stages"] = per_op(lambda ts, js: sum(j.get("stages", 0) for j in js), alljobs)
        m["queries.tasks"] = per_op(lambda ts, js: len(ts), alljobs)
        # tasks of the timed ops only: the warm-up's cold jobs are not in them
        op_tasks = [t for j in jobs.values() if j["op"] >= 0
                    for t in by_job_tasks.get(j["job"], [])]
        per_stage = {}
        for t in op_tasks:
            per_stage[t["stage"]] = per_stage.get(t["stage"], 0) + 1
        m["queries.tasks_per_stage_p50"] = median(per_stage.values())
        m["queries.task_p50_ms"] = median(t["finish_ms"] - t["launch_ms"] for t in op_tasks)
        m["queries.task_overhead_s"] = per_op(lambda ts, js: sum(
            (t["finish_ms"] - t["launch_ms"]) - t.get("run_ms", 0) for t in ts) / 1e3, alljobs)
        for key, f, scale in [("executor_run_s", "run_ms", 1e3), ("executor_cpu_s", "cpu_ns", 1e9),
                              ("gc_s", "gc_ms", 1e3), ("shuffle_write_bytes", "sw", 1),
                              ("shuffle_read_bytes", "sr", 1), ("spill_bytes", "spill", 1),
                              ("input_bytes", "in", 1)]:
            m[f"queries.{key}"] = per_op(
                lambda ts, js, f=f, scale=scale: sum(t.get(f, 0) for t in ts) / scale, alljobs)
        # driver-only: op wall minus the union of its task-running intervals
        tasks_of_op = {}
        for j in jobs.values():
            if j["op"] >= 0:
                tasks_of_op.setdefault(j["op"], []).extend(
                    (t["launch_ms"], t["finish_ms"]) for t in by_job_tasks.get(j["job"], []))
        m["queries.driver_only_s"] = median(
            max(0.0, op_wall[o] - _union_ms(tasks_of_op.get(o, [])) / 1e3) for o in op_wall)
        busy = sum(t["finish_ms"] - t["launch_ms"] for ts in tasks_of_op.values()
                   for t in [{"launch_ms": a, "finish_ms": b} for a, b in ts]) / 1e3
        wall = sum(op_wall.values())
        m["queries.core_busy_ratio"] = busy / (wall * rec["cpus"]) if wall else 0.0
        # per pack: median op time of the pack's queries
        by_name = {}
        for o in ops:
            by_name.setdefault(o["name"], []).append(o["s"])
        packs = fin["packs"]
        for p in PACKS:
            vals = [s for q, ss in by_name.items() if packs.get(q) == p for s in ss]
            m[f"queries.pack.{p}_s"] = median(vals)
        names = [o["name"] for o in ops]
        n = len(set(names))
        passes = [sum(o["s"] for o in ops[i:i + n]) for i in range(0, len(ops) - n + 1, n)]
        m["queries.pass_s"] = median(passes)
        for k, ph in [("analysis_ms", "analysis"), ("optimization_ms", "optimization"),
                      ("planning_ms", "planning")]:
            m[f"plans.{k}"] = median(p.get(ph, 0) for p in fin["phases"])
        # eager jobs are rare (most queries build lazily): totals per pass
        eager = [j for j in jobs.values() if j["layer"] == "queries.construct"]
        n_passes = len(ops) / n if n else 1
        m["materialize.eager_jobs"] = len(eager) / n_passes
        m["materialize.eager_s"] = sum(
            j.get("end_ms", j["start_ms"]) - j["start_ms"] for j in eager) / 1e3 / n_passes
        st = fin["storage"]
        m["materialize.blocks_peak"] = max([s["blocks"] for s in st] or [0])
        m["materialize.storage_peak_mb"] = max([s["bytes"] for s in st] or [0]) / 2 ** 20

    if workload == "stream_dedup":
        fin = rec["finish"]
        prog = fin["progress"]
        every = fin["compact_every"]
        m["streaming.batches"] = len(prog)
        # the cadence compacts after batch ids every-1, 2*every-1, ...;
        # check.check_stream holds the store's watermark to it
        compacting = {p["batch"] for p in prog if (p["batch"] + 1) % every == 0}
        m["streaming.compactions"] = len(compacting)
        trig = {p["batch"]: p.get("triggerExecution", 0) / 1e3 for p in prog}
        m["streaming.batch_plain_p50_s"] = median(
            v for b, v in trig.items() if b not in compacting)
        m["streaming.batch_compact_p50_s"] = median(
            v for b, v in trig.items() if b in compacting)
        for key, parts in [("add_batch_ms_p50", ["addBatch"]),
                           ("planning_ms_p50", ["queryPlanning"]),
                           ("wal_ms_p50", ["walCommit", "commitOffsets"]),
                           ("offsets_ms_p50", ["latestOffset", "getBatch"])]:
            m[f"streaming.{key}"] = median(sum(p.get(k, 0) for k in parts) for p in prog)
        per_batch = {}
        for j in jobs.values():
            if j["op"] >= 0 and j.get("batch", -1) >= 0:
                per_batch.setdefault(j["batch"], []).append(j)
        tasks_of = {b: [t for j in js for t in by_job_tasks.get(j["job"], [])]
                    for b, js in per_batch.items()}
        m["streaming.batch_jobs_p50"] = median(len(js) for js in per_batch.values())
        m["streaming.batch_tasks_p50"] = median(len(ts) for ts in tasks_of.values())
        m["streaming.store_read_bytes_p50"] = median(
            sum(t.get("in", 0) for t in ts) for ts in tasks_of.values())
        written = sum(t.get("out", 0) for ts in tasks_of.values() for t in ts)
        m["streaming.store_bytes"] = fin["store_bytes"]
        m["streaming.store_files"] = fin["store_files"]
        m["streaming.store_bytes_written"] = written
        live = fin["store_bytes"] + fin["pairs_bytes"]
        m["streaming.write_amp"] = written / live if live else 0.0
        m["streaming.pairs_emitted"] = len(fin["pairs"])

    return m
