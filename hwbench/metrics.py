"""Metrics computed from one run's raw record (pure functions).

The record is what the JVM side writes: set-up phases, timed phases
(query executions or stream phases), and with tracing on the spans and
the per-job-group task totals from Spark's listeners.
"""
import stats

TAIL = 80   # the highest p with 10 samples beyond it in one sql_mix pass (80
            # queries) and in a paced telemetry phase (50 files in 8 s)
MB = 1024.0 * 1024.0

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("latency_p50_s", "s", "lower"),
    (f"latency_p{TAIL}_s", "s", "lower"),
]

# Every per-layer metric, reported by every traced run (0 where the
# workload has no such layer).
PER_LAYER = [
    ("engine.jvm_start_s", "s"), ("engine.session_s", "s"),
    ("catalog.load_s", "s"), ("catalog.cached_mb", "MB"),
    ("artifacts.build_s", "s"), ("artifacts.cached_mb", "MB"),
    ("queries.build_s", "s"), ("planner.plan_s", "s"),
    ("exec.sched_wait_s", "s"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.run_s", "s"), ("exec.task_s", "s"), ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.cpu_util", "ratio"), ("exec.spill_mb", "MB"),
    ("exec.task_retries", "count"),
    ("exchange.write_mb", "MB"), ("exchange.read_mb", "MB"),
    ("exchange.fetch_wait_s", "s"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "count"),
    ("storage.peak_mb", "MB"), ("storage.evicted_blocks", "count"),
    ("storage.recached_blocks", "count"),
    ("streaming.start_s", "s"), ("streaming.batches", "count"),
    ("streaming.batch_s", "s"), ("streaming.list_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.late_dropped_rows", "count"),
    ("snapshot.append_s", "s"), ("snapshot.compact_s", "s"),
    ("snapshot.live_files", "count"), ("snapshot.rewritten_mb", "MB"),
    ("snapshot.read_s", "s"),
    # self time per operation of the traced phase, by span layer
    ("self.query_s", "s"), ("self.queries_s", "s"), ("self.planner_s", "s"),
    ("self.exec_s", "s"), ("self.jobs_s", "s"), ("self.streaming_s", "s"),
    ("self.snapshot_s", "s"),
    # self time of the set-up that stays, by span layer
    ("setup.self_engine_s", "s"), ("setup.self_catalog_s", "s"),
    ("setup.self_artifacts_s", "s"), ("setup.self_streaming_s", "s"),
    # the workload-specific end-to-end figures, from the untraced phase
    ("sql_qps", "queries/s"), ("sql_p50_s", "s"), (f"sql_p{TAIL}_s", "s"),
    ("doc_pass_s", "s"), ("ingest_frames_per_s", "frames/s"),
    ("ingest_lag_p50_s", "s"), (f"ingest_lag_p{TAIL}_s", "s"),
    ("snapshot_read_p50_s", "s"), ("failed_ratio", "ratio"),
    ("cache_peak_mb", "MB"),
    # traced minus untraced
    ("trace.overhead_latency_p50_s", "s"),
    ("trace.overhead_throughput_per_s", "1/s"),
]


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def setup_seconds(setups):
    """Median of the repeated set-ups plus the one artifact build."""
    return stats.percentile([s["setup_s"] - s["artifacts_s"] for s in setups], 50) \
        + setups[-1]["artifacts_s"]


# ------------------------------------------------------------ timed phases

def query_phase(phase):
    """Latency, throughput and pass time of one phase of query passes."""
    lat = [o["t1"] - o["t0"] for o in phase["ops"]]
    passes = [p["t1"] - p["t0"] for p in phase["passes"]]
    return {
        "n": len(lat),
        "throughput_per_s": len(lat) / sum(passes),
        "latency_p50_s": stats.percentile(lat, 50),
        f"latency_p{TAIL}_s": stats.tail(lat, TAIL),
        "pass_s": stats.percentile(passes, 50),
    }


def file_commits(chk):
    """Commit time of the micro-batch that read each landed file."""
    dedup = [b for b in chk["batches"] if b["query"] == "dedup"]
    out = {}
    for f, off in chk["landing_offsets"].items():
        b = next((b for b in dedup if b["start_offset"] < off <= b["end_offset"]), None)
        if b is not None:
            out[f] = b["t1"]
    return out


def ingest_phase(record, mode):
    """Frames per second through both queries in the `mode` drain; lag
    (landing to the commit of the batch that read the file) and reader
    latency when the paced phase ran in that mode."""
    phases, chk = record["phases"], record["ingest_check"]
    drain = next(p for p in phases if p["kind"] == "drain" and p["mode"] == mode)
    # drained when the last rounds batch with input rows commits; the
    # no-data batch after it only evicts windows
    end = max((b["t1"] for b in chk["batches"] if b["query"] == "rounds"
               and b["input_rows"] > 0 and drain["t0"] <= b["t0"] < drain["t1"]),
              default=drain["t1"])
    out = {"throughput_per_s": drain["frames"] / (end - drain["t0"])}
    paced = next(p for p in phases if p["kind"] == "paced")
    if paced["mode"] == mode:
        commit = file_commits(chk)
        lags = [commit[x["file"]] - x["due"] for x in paced["landed"]]
        out.update({
            "n": len(lags),
            "latency_p50_s": stats.percentile(lags, 50),
            f"latency_p{TAIL}_s": stats.tail(lags, TAIL),
            "read_p50_s": stats.percentile(
                [r["t1"] - r["t0"] for r in paced["reads"]], 50),
            "generator_late_max_s": max(x["landed"] - x["due"] for x in paced["landed"]),
        })
    return out


def phase_metrics(record, mode):
    if record["workload"] == "telemetry_ingest":
        return ingest_phase(record, mode)
    return query_phase(next(p for p in record["phases"] if p["mode"] == mode))


def end_to_end(record):
    m = phase_metrics(record, "untraced")
    out = {k: m[k] for k, _, _ in END_TO_END if k in m}
    out["setup_s"] = setup_seconds(record["setups"])
    return out


def named(record, m, failed_ratio):
    """The workload's end-to-end figures under their workload names."""
    w = record["workload"]
    out = {"setup_s": setup_seconds(record["setups"]), "failed_ratio": failed_ratio}
    if w == "sql_mix":
        out.update({"sql_qps": m["throughput_per_s"], "sql_p50_s": m["latency_p50_s"],
                    f"sql_p{TAIL}_s": m[f"latency_p{TAIL}_s"]})
    elif w == "doc_curation":
        out["doc_pass_s"] = m["pass_s"]
    else:
        out["ingest_frames_per_s"] = m["throughput_per_s"]
        if "latency_p50_s" in m:
            out.update({"ingest_lag_p50_s": m["latency_p50_s"],
                        f"ingest_lag_p{TAIL}_s": m[f"latency_p{TAIL}_s"],
                        "snapshot_read_p50_s": m["read_p50_s"]})
    return out


# ------------------------------------------------------------------ traces

def with_jobs(spans, groups):
    """Nest the planner phases and each Spark job under the innermost
    benchmark span of the same key whose interval holds them, so self
    time separates the driver-side part of a call from planning and
    from the jobs it ran."""
    by_key = {}
    for s in spans:
        if s["layer"] != "planner":
            by_key.setdefault(s["key"], []).append(s)

    def innermost(key, t0, t1):
        inside = [s for s in by_key.get(key, [])
                  if s["t0"] <= t0 + 1e-3 and t1 <= s["t1"] + 1e-3]
        return min(inside, key=lambda s: s["t1"] - s["t0"])["id"] if inside else 0
    out = [dict(s, parent=innermost(s["key"], s["t0"], s["t1"]))
           if s["layer"] == "planner" else s for s in spans]
    nid = max([s["id"] for s in spans], default=0) + 1
    for key in by_key:
        for j in groups.get(key, {}).get("job_spans", []):
            out.append({"id": nid, "parent": innermost(key, j["t0"], j["t1"]),
                        "name": f"job{j['job']}", "layer": "jobs", "key": key,
                        "t0": j["t0"], "t1": j["t1"]})
            nid += 1
    return out


def traced_ops(record):
    """Job-group keys of the traced phase's operations and the window."""
    traced = [p for p in record["phases"] if p["mode"] == "traced"]
    t0, t1 = min(p["t0"] for p in traced), max(p["t1"] for p in traced)
    if record["workload"] == "telemetry_ingest":
        bs = [b for b in record["ingest_check"]["batches"] if t0 <= b["t0"] <= t1]
        keys = [f"stream/{b['query_id']}/{b['batch']}" for b in bs]
        keys += [k for k in record.get("groups", {}) if k.startswith("reader/")]
        return keys, max(1, len(bs)), t0, t1
    ops = traced[0]["ops"]
    return [o["key"] for o in ops], len(ops), t0, t1


def per_layer(record, failed_ratio):
    """Every PER_LAYER metric of a traced run."""
    setups, groups = record["setups"], record.get("groups", {})
    spans = record.get("spans", [])
    med = lambda k: stats.percentile([s[k] for s in setups], 50)  # noqa: E731
    m = {name: 0.0 for name, _ in PER_LAYER}
    m.update({
        "engine.jvm_start_s": record["jvm_start_s"],
        "engine.session_s": med("session_s"),
        "catalog.load_s": med("catalog_s"),
        "catalog.cached_mb": setups[-1]["catalog_cached_bytes"] / MB,
        "artifacts.build_s": setups[-1]["artifacts_s"],
        "artifacts.cached_mb": max(
            setups[-1]["artifact_cached_bytes"],
            record.get("warm_cached_bytes", 0) - setups[-1]["catalog_cached_bytes"]) / MB,
        "streaming.start_s": med("stream_s"),
        "storage.peak_mb": record["storage_peak_bytes"] / MB,
        "storage.evicted_blocks": record["evicted_blocks"],
        "storage.recached_blocks": record["recached_blocks"],
        "failed_ratio": failed_ratio,
    })
    m["cache_peak_mb"] = m["storage.peak_mb"]

    keys, n_ops, t0, t1 = traced_ops(record)
    g = [groups[k] for k in keys if k in groups]
    per_op = lambda f, scale=1.0: sum(x[f] for x in g) / scale / n_ops  # noqa: E731
    m.update({
        "exec.jobs": per_op("jobs"), "exec.tasks": per_op("tasks"),
        "exec.sched_wait_s": per_op("sched_wait_s"),
        "exec.run_s": per_op("run_s"), "exec.task_s": per_op("task_s"),
        "exec.cpu_s": per_op("cpu_s"), "exec.gc_s": per_op("gc_s"),
        "exec.cpu_util": sum(x["cpu_s"] for x in g) / ((t1 - t0) * record["cores"]),
        "exec.spill_mb": per_op("spill_bytes", MB),
        "exec.task_retries": sum(x["task_retries"] for x in g),
        "exchange.write_mb": per_op("shuffle_write_bytes", MB),
        "exchange.read_mb": per_op("shuffle_read_bytes", MB),
        "exchange.fetch_wait_s": per_op("fetch_wait_s"),
        "scan.input_mb": per_op("input_bytes", MB),
        "scan.input_rows": per_op("input_rows"),
    })
    if record["workload"] == "telemetry_ingest":
        m.update(stream_layers(record, t0, t1))
    else:
        ops = next(p for p in record["phases"] if p["mode"] == "traced")["ops"]
        m["queries.build_s"] = mean(o["build_s"] for o in ops)
        m["planner.plan_s"] = mean(o["plan_s"] for o in ops)

    timed = [s for s in spans if s["layer"] != "setup" and "/setup" not in s["key"]]
    for layer, v in stats.layer_self_times(with_jobs(timed, groups)).items():
        if f"self.{layer}_s" in m:
            m[f"self.{layer}_s"] = v / n_ops
    for layer, v in stats.layer_self_times(
            [s for s in spans if "/setup" in s["key"]]).items():
        if f"setup.self_{layer}_s" in m:
            m[f"setup.self_{layer}_s"] = v

    untraced = phase_metrics(record, "untraced")
    traced = phase_metrics(record, "traced")
    m.update(named(record, dict(traced, **untraced), failed_ratio))
    if "latency_p50_s" in untraced and "latency_p50_s" in traced:
        m["trace.overhead_latency_p50_s"] = traced["latency_p50_s"] - untraced["latency_p50_s"]
    m["trace.overhead_throughput_per_s"] = (
        traced["throughput_per_s"] - untraced["throughput_per_s"])
    return m


def stream_layers(record, t0, t1):
    chk = record["ingest_check"]
    bs = [b for b in chk["batches"] if t0 <= b["t0"] <= t1]
    d = lambda b, *ks: sum(b["durations_ms"].get(k, 0) for k in ks) / 1e3  # noqa: E731
    calls = [c for c in chk["calls"] if t0 <= c["t0"] <= t1]
    comp = [c for c in calls if c["name"] == "Snapshot.compact"]
    peak = {}
    for b in bs:
        peak[b["query"]] = max(peak.get(b["query"], 0), b["state_rows"])
    return {
        "streaming.batches": len(bs),
        "streaming.batch_s": mean(d(b, "triggerExecution") for b in bs),
        "streaming.list_s": mean(d(b, "latestOffset") for b in bs),
        "streaming.add_batch_s": mean(d(b, "addBatch") for b in bs),
        "streaming.commit_s": mean(d(b, "walCommit", "commitOffsets") for b in bs),
        "streaming.state_rows": sum(peak.values()),
        "streaming.late_dropped_rows": sum(b["late_dropped_rows"] for b in bs),
        "snapshot.append_s": mean(c["t1"] - c["t0"] for c in calls
                                  if c["name"] == "Snapshot.append"),
        "snapshot.compact_s": mean(c["t1"] - c["t0"] for c in comp),
        "snapshot.live_files": chk["live_files"],
        "snapshot.rewritten_mb": sum(c["bytes"] for c in comp) / MB,
        "snapshot.read_s": mean(s["t1"] - s["t0"] for s in record.get("spans", [])
                                if s["name"] == "Snapshot.read"),
    }


def query_profiles(record):
    """Layer profile of each query over its traced executions: mean wall
    time, self time per span layer, and task totals per execution."""
    ph = next((p for p in record["phases"] if p["mode"] == "traced"), None)
    if ph is None or "ops" not in ph:
        return {}
    groups = record.get("groups", {})
    spans = with_jobs(record.get("spans", []), groups)
    self_t = stats.self_times(spans)
    by_key = {}
    for s in spans:
        by_key.setdefault(s["key"], []).append(s)
    prof = {}
    for o in ph["ops"]:
        p = prof.setdefault(o["query"], {"n": 0, "wall_s": 0.0})
        p["n"] += 1
        p["wall_s"] += o["t1"] - o["t0"]
        for s in by_key.get(o["key"], []):
            k = f"self_{s['layer']}_s"
            p[k] = p.get(k, 0.0) + self_t[s["id"]]
        g = groups.get(o["key"], {})
        for f in ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "sched_wait_s",
                  "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
                  "spill_bytes"):
            p[f] = p.get(f, 0) + g.get(f, 0)
    return {q: {k: (v if k == "n" else v / p["n"]) for k, v in p.items()}
            for q, p in prof.items()}
