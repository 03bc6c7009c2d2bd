"""Turn a workload's raw record (written by the JVM) into its checks and its
end-to-end and per-layer metrics. Every percentile goes through benchlib.
"""
import bisect
import json
import os
import statistics

import benchlib

LATE_LIMIT_MS = 50.0  # open-loop validity: p99 send lateness


def p(values, q):
    return benchlib.percentile(values, q) if values else None


def spark_layer(raw):
    v = raw["values"]
    return {k: x for k, x in v.items() if k.startswith("spark.")}


def trace_layer(raw):
    v = raw["values"]
    out = {k: x for k, x in v.items() if k.endswith(".self_s")}
    out["jvm.peak_rss_mb"] = v.get("peak_rss_mb")
    out["trace.spans"] = v.get("trace.spans")
    out["trace.overhead_ms"] = v.get("trace.listener_ms", 0.0)
    return out


def common(raw):
    # the first set-up also starts the JVM's Spark session and runs cold
    # code: the median is over the warm set-ups after it
    return {"setup_s": statistics.median(raw["samples"]["setup_s"][1:])}


# ------------------------------------------------------------------ live_ingest

def live_ingest(raw, puts, subs):
    v, s = raw["values"], raw["samples"]
    notes = []
    t0 = v["t0_ms"]
    sent = v["sent"]
    open_puts = [x for x in puts if x["phase"] == "open"]
    # the warm-up puts went to the first set-up's pipelines: the measured
    # pipelines' source offsets count from the first open-loop put
    puts = [x for x in puts if x["phase"] != "warm"]
    base = puts[0]["idx"]

    store_b = [b for b in v["store_batches"] if b["end_offset"] > b["start_offset"]]
    hub_b = [b for b in v["hub_batches"] if b["end_offset"] > b["start_offset"]]

    # put -> store commit: the batch whose offset range holds the put
    starts = [b["start_offset"] for b in store_b]
    commit = []
    for x in open_puts:
        if x["kind"] == "future":
            continue  # deferred by design; its latency is the deferral
        off = x["idx"] - base
        i = bisect.bisect_right(starts, off) - 1
        if i >= 0 and store_b[i]["start_offset"] <= off < store_b[i]["end_offset"]:
            commit.append((store_b[i]["end_ms"] - x["t_ms"], store_b[i]["batch"]))

    # put -> subscriber callback, grouped by the hub batch that delivered it
    hub_ends = [b["end_ms"] for b in hub_b]
    notify = []
    for value, t in v["deliveries"]:
        x = puts[int(value[1:]) - base]
        if x["phase"] == "open" and x["kind"] != "future":
            g = bisect.bisect_left(hub_ends, t)
            notify.append((t - x["t_ms"], g))

    # throughput: cells per second of batch time over the store batches of
    # the closed-loop tail, leaving out one that started with the tail and
    # holds only its first frames
    n_tail = v["tail_batches"]
    tail = [b for b in store_b
            if b["start_ms"] >= v["tail_start_ms"] + v["tail_settle_ms"]][:n_tail]
    tail_cells = sum(len(x["fields"]) for b in tail for x in puts[b["start_offset"]:b["end_offset"]])
    tail_ms = sum(b["end_ms"] - b["start_ms"] for b in tail)
    capacity = tail_cells / (tail_ms / 1000.0) if len(tail) == n_tail else None
    if len(tail) < n_tail:
        notes.append(f"INVALID the closed-loop tail held {len(tail)} store batches, not {n_tail}")

    # correctness: the store's merged view and every subscriber's last value
    # must equal the LWW model
    model = benchlib.expected_store(puts, sent, t0)
    store = {(r[0], r[1]): (r[2], r[3]) for r in v["store_view"]}
    wrong = 0
    for k in set(model) | set(store):
        if model.get(k) != store.get(k):
            wrong += 1
            if wrong <= 5:
                notes.append(f"ERROR store {k}: got {store.get(k)}, model {model.get(k)}")
    last = {(r[0], r[1]): r[2] for r in v["sub_last"]}
    for k in subs:
        want = model.get(tuple(k), (None, None))[0]
        if last.get(tuple(k)) != want:
            wrong += 1
            notes.append(f"ERROR subscriber {k}: last {last.get(tuple(k))}, model {want}")
    if not v.get("drained"):
        notes.append("ERROR the pipelines did not drain before the check")
        wrong += 1

    # open-loop validity: each send is its own sample; without 10 sends
    # beyond p99 the maximum stands in for it
    late = s.get("late_ms", [])
    late_p99 = benchlib.supported_percentile([(x, i) for i, x in enumerate(late)], 99)
    if late_p99 is None and late:
        late_p99 = max(late)
    valid = late_p99 is not None and late_p99 <= LATE_LIMIT_MS
    if not valid:
        notes.append(f"INVALID generator fell behind: late p99 {late_p99} ms > {LATE_LIMIT_MS} ms")

    cpu_ms_per_op = v["cpu_open_s"] * 1000.0 / len(open_puts)
    e2e = dict(common(raw))
    e2e.update({
        # a mean: a short run holds too few batches for a supported p50
        "latency_ms": statistics.fmean(c for c, _ in commit) if commit else None,
        "throughput_per_s": capacity,
        "cpu_ms_per_op": cpu_ms_per_op,
    })

    sub_keys = set(map(tuple, subs))
    durs = lambda bs, k: [b["durations"].get(k, 0) for b in bs]
    per = {
        "gen.late_ms_p99": late_p99,
        "gen.late_ms_max": max(late) if late else None,
        "sources.frames_sent": sent,
        "sources.bytes_sent": sum(s.get("frame_bytes", [])),
        "sources.send_ms_p50": p(s.get("send_ms", []), 50),
        "sources.latest_offset_ms_p50": p(durs(store_b, "latestOffset"), 50),
        "sources.get_batch_ms_p50": p(durs(store_b, "getBatch"), 50),
        "sources.wal_commit_ms_p50": p(durs(store_b, "walCommit"), 50),
        "sources.read_lag_frames_max": max(
            [bisect.bisect_right(sorted(s.get("send_at_ms", [])), b["start_ms"]) - b["start_offset"]
             for b in store_b] or [0]),
        "streaming.batches": len(store_b),
        "streaming.rows_per_batch_p50": p([b["rows"] for b in store_b], 50),
        "streaming.trigger_ms_p50": p(durs(store_b, "triggerExecution"), 50),
        "streaming.trigger_ms_p95": p(durs(store_b, "triggerExecution"), 95),
        "streaming.query_planning_ms_p50": p(durs(store_b, "queryPlanning"), 50),
        "streaming.add_batch_ms_p50": p(durs(v["store_batches"], "addBatch"), 50),
        "streaming.state_update_ms_p50": p([b["state_update_ms"] for b in store_b], 50),
        "streaming.state_commit_ms_p50": p([b["state_commit_ms"] for b in store_b], 50),
        "streaming.state_rows_total": store_b[-1]["state_rows_total"] if store_b else None,
        "streaming.state_memory_bytes": store_b[-1]["state_memory_bytes"] if store_b else None,
        "streaming.updates_per_cell":
            sum(b["state_rows_updated"] for b in store_b) / max(1, sum(len(x["fields"]) for x in puts[:sent])),
        "streaming.store_append_ms_p50": p(durs(store_b, "addBatch"), 50),
        "streaming.store_append_ms_p95": p(durs(store_b, "addBatch"), 95),
        "streaming.store_compactions": v.get("streaming.store_compactions"),
        "streaming.store_files_per_bucket_max": v.get("streaming.store_files_per_bucket_max"),
        "streaming.store_bytes_per_cell": v["store_bytes"] / max(1, sum(len(x["fields"]) for x in puts[:sent])),
        "streaming.hub_batch_ms_p50": p(durs(hub_b, "addBatch"), 50),
        "streaming.hub_deliveries": len(v["deliveries"]),
        "streaming.hub_delivered_per_match": len(v["deliveries"]) / max(1, sum(
            1 for x in puts[:sent] for f in x["fields"] if (x["soul"], f) in sub_keys)),
        "ingest.commit_ms_p50": benchlib.supported_percentile(commit, 50),
        "ingest.notify_ms_p50": benchlib.supported_percentile(notify, 50),
        "ingest.tail_batches": len(tail),
        "ingest.notify_ms_mean": statistics.fmean(c for c, _ in notify) if notify else None,
    }
    per.update(spark_layer(raw))
    per.update(trace_layer(raw))
    return {"valid": valid, "attempted": sent + len(model) + len(subs), "failed": wrong,
            "end_to_end": e2e, "per_layer": per, "notes": notes}


# -------------------------------------------------------------- analytics_mix

def analytics_mix(raw, digests_path):
    import duckdb
    v, s = raw["values"], raw["samples"]
    notes = []
    with open(digests_path) as f:
        oracle = json.load(f)
    failed_names = set(v.get("failed_queries", []))
    con = duckdb.connect()
    for name, want in sorted(oracle.items()):
        files = os.path.join(v["results_dir"], name, "*.parquet")
        if name in failed_names:
            continue
        try:
            got, n = benchlib.frame_digest(con.sql(f"SELECT * FROM '{files}'").df())
        except Exception as e:  # no output written
            got, n = f"unreadable: {e}", 0
        if got != want["digest"]:
            failed_names.add(name)
            notes.append(f"ERROR {name}: result digest differs from the DuckDB oracle "
                         f"({n} rows, oracle {want['rows']} rows)")
    passes = v["passes"]
    queries = 13 * passes
    failed = sum(1 for n in failed_names) * passes
    pass_s = s.get("pass_s", [])
    per_query = [statistics.median(xs) for k, xs in s.items() if k.startswith("query_s.")]
    geomean = statistics.geometric_mean(per_query) if len(per_query) == 13 else None
    e2e = dict(common(raw))
    e2e.update({
        "latency_ms": statistics.median(pass_s) * 1000.0 if pass_s and not failed_names else None,
        "throughput_per_s": 13 / statistics.median(pass_s) if pass_s else None,
        "cpu_ms_per_op": v["cpu_s"] * 1000.0 / 13,
    })
    per = {k: x for k, x in v.items()
           if k.split(".")[0] in ("operators", "graph", "queries") and k.count(".") == 2}
    per["mix.query_geomean_ms"] = geomean * 1000.0 if geomean else None
    per.update(spark_layer(raw))
    per.update(trace_layer(raw))
    return {"valid": True, "attempted": queries, "failed": failed,
            "end_to_end": e2e, "per_layer": per, "notes": notes}
