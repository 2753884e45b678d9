"""Turn one run's raw record (``result.json`` of the JVM) into metrics."""
import math
import statistics

# Candidate tail percentiles, highest last.
LADDER = (50, 75, 80, 90, 95, 99, 99.9)


def tail_percentile(n):
    """The highest percentile of LADDER with at least 10 of ``n`` samples
    beyond it, or None when even the median has fewer."""
    best = None
    for p in LADDER:
        if n * (100 - p) / 100 >= 10 - 1e-9:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile (the smallest value with at least p% of the
    samples at or below it)."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100 * len(xs)))
    return xs[k - 1]


def tail(values):
    """(percentile, value) by the tail rule; the maximum when too few."""
    p = tail_percentile(len(values))
    if p is None:
        return 100, max(values)
    return p, percentile(values, p)


def self_times(spans):
    """Self time in seconds per span name.

    ``spans`` are ``[name, op, parent, start_ns, end_ns]`` with ``parent``
    the index of the enclosing span or -1.  A span's self time is its
    duration minus the part of it that its child spans cover (children
    that overlap each other are counted once).
    """
    children = {}
    for i, s in enumerate(spans):
        if s[2] >= 0:
            children.setdefault(s[2], []).append(i)
    out = {}
    for i, (name, _op, _parent, start, end) in enumerate(spans):
        covered = 0
        cur_s = cur_e = None
        for cs, ce in sorted((max(spans[c][3], start), min(spans[c][4], end))
                             for c in children.get(i, [])):
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[name] = out.get(name, 0.0) + (end - start - covered) / 1e9
    return out


def _dur(op):
    return (op["end"] - op["start"]) / 1e9


def end_to_end(workload, res):
    """The end-to-end metrics of one untraced run.

    Every workload reports every gated metric, each with one meaning: an
    op is a query or batch stage (an event on ``ingest``), ``makespan_s``
    is the timed window and ``ops_per_s`` the ops completed per second of
    it. ``rows_per_s`` (backlog rows per second of draining) exists on
    ``ingest`` only.
    """
    m = {"setup_s": res["setup_s"], "cpu_s": res["cpu_s"],
         "retained_heap_mb": res["retained_heap_mb"],
         "makespan_s": res["window_s"]}
    if workload == "ingest":
        ing = res["ingest"]
        lat = ing["latencies_s"]
        m["rows_per_s"] = (ing["backlog_rows"] * len(ing["drain_s"])
                           / sum(ing["drain_s"]))
        m["ops_per_s"] = ing["events"] / ing["open_s"]
    else:
        lat = [_dur(o) for o in res["ops"] if o["error"] is None]
        m["ops_per_s"] = len(lat) / res["window_s"]
    m["latency_p50_s"] = statistics.median(lat)
    p, m["latency_tail_s"] = tail(lat)
    return m, p, len(lat)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(workload, res):
    """The per-layer metrics of one traced run (medians per op)."""
    spans = res["spans"]
    groups = res["groups"]
    ops = [o for o in res["ops"] if o["error"] is None]
    probe_ops = [o for o in res.get("probe_ops", []) if o["error"] is None]
    by_op = {}
    for name, op, _p, s, e in spans:
        by_op.setdefault((op, name), 0.0)
        by_op[(op, name)] += (e - s) / 1e9

    def g(op_id, phase):
        return groups.get(f"op-{op_id}-{phase}", {})

    queries = [o for o in ops + probe_ops if o["kind"] == "query"]
    m = {}
    scan = [(g(o["id"], "ops.build").get("scan_bytes", 0)
             + g(o["id"], "exec.run").get("scan_bytes", 0),
             g(o["id"], "ops.build").get("scan_rows", 0)
             + g(o["id"], "exec.run").get("scan_rows", 0)) for o in queries]
    m["tables.scan_mb"] = _med([b / 1048576 for b, _ in scan])
    m["tables.scan_rows"] = _med([r for _, r in scan])
    m["ops.build_s"] = _med([by_op.get((o["id"], "ops.build"), 0.0)
                            for o in queries])
    m["ops.build_jobs"] = _med([g(o["id"], "ops.build").get("jobs", 0)
                               for o in queries])
    m["ops.build_task_s"] = _med([g(o["id"], "ops.build").get("run_ms", 0) / 1e3
                                 for o in queries])
    m["plans.plan_s"] = _med([by_op.get((o["id"], "plans.plan"), 0.0)
                             for o in queries])

    stream = res["stream"]["batches"]
    slots = res["slots"]
    if workload == "ingest":
        execs = [(groups.get(f"batch-{b['batch']}", {}),
                  b["durations"].get("addBatch", 0) / 1e3) for b in stream]
    else:
        execs = [(g(o["id"], "exec.run"), by_op.get((o["id"], "exec.run"), 0.0))
                 for o in ops]
    execs = [(c, t) for c, t in execs if t > 0]
    m["exec.run_s"] = _med([t for _, t in execs])
    for key, name, scale in (("jobs", "exec.jobs", 1),
                             ("stages", "exec.stages", 1),
                             ("tasks", "exec.tasks", 1),
                             ("run_ms", "exec.task_s", 1e-3),
                             ("cpu_ns", "exec.task_cpu_s", 1e-9),
                             ("wait_ms", "exec.task_wait_s", 1e-3),
                             ("gc_ms", "exec.gc_s", 1e-3),
                             ("shuffle_write", "exec.shuffle_write_mb", 1 / 1048576),
                             ("shuffle_read", "exec.shuffle_read_mb", 1 / 1048576),
                             ("spill", "exec.spill_mb", 1 / 1048576)):
        m[name] = _med([c.get(key, 0) * scale for c, _ in execs])
    m["exec.busy_share"] = _med([c.get("run_ms", 0) / 1e3 / (t * slots)
                                for c, t in execs])

    for k, v in res["kernels"].items():
        m[f"functions.{k}_ns_per_row"] = v

    sinks = {}
    for name, op, _p, s, e in spans:
        if name.startswith("sink:"):
            sinks.setdefault(op, {})[name[5:]] = (e - s) / 1e9
    phases = (("triggerExecution", "trigger_s"),
              ("latestOffset", "latest_offset_s"),
              ("getBatch", "get_batch_s"),
              ("queryPlanning", "query_planning_s"),
              ("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
              ("commitOffsets", "commit_offsets_s"))
    # Spark reports phases in whole milliseconds, so a sub-millisecond
    # phase reads 0 in most batches: these are means, not medians
    for key, name in phases:
        m[f"streaming.{name}"] = statistics.mean(
            [b["durations"].get(key, 0) / 1e3 for b in stream])
    # the ordinal of a sink span is the index of its non-empty batch
    probe = [b["durations"].get("addBatch", 0) / 1e3
             - sum(sinks.get(i, {}).values()) for i, b in enumerate(stream)]
    m["streaming.probe_s"] = _med(probe)
    for table, name in (("mastodon_posts", "sink_posts_s"),
                        ("streamed_toot_counts", "sink_window_counts_s"),
                        ("avg_toot_length_by_user", "sink_avg_length_s")):
        m[f"streaming.{name}"] = _med([sinks.get(i, {}).get(table, 0.0)
                                       for i in range(len(stream))])
    writes = res["stream"]["sink_writes"]
    per_batch = [writes[i:i + 3] for i in range(0, len(writes), 3)]
    m["streaming.sink_files"] = _med([sum(w[1] for w in b) for b in per_batch])
    m["streaming.sink_mb"] = _med([sum(w[2] for w in b) / 1048576
                                   for b in per_batch])
    m["streaming.batch_rows"] = _med([b["rows"] for b in stream])

    batch_ops = [o for o in ops + probe_ops if o["kind"] == "batch"]
    for stage in ("backfill", "clean", "analytics"):
        m[f"batch.{stage}_s"] = sum(_dur(o) for o in batch_ops
                                    if o["name"] == stage)
    m["batch.jobs"] = sum(g(o["id"], "exec.run").get("jobs", 0)
                          for o in batch_ops)
    m["batch.store_mb"] = res["store_bytes"] / 1048576
    return m


def breakdown(res):
    """Self time per layer (span name prefix) over the whole traced run."""
    out = {}
    for name, t in self_times(res["spans"]).items():
        layer = name.split(":")[0]
        out[layer] = out.get(layer, 0.0) + t
    return out
