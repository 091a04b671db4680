"""Per-layer metrics from a traced run's raw report.

The JVM side records spans (name, start, end, parent, trace id) around
each call into an engine layer, and Spark stage totals keyed by the span
that launched them. Every traced iteration holds two span trees:

  job    the timed job itself, identical to an untraced iteration:
         sources.read / operators.wordCount / sources.writeTsv
  probe  single-layer passes, each adding one layer to the last:
         sources.scan (scan only), functions.tokenize (scan + tokenize),
         operators.aggregate (the whole wordCount, noop sink); then, on
         wc_zipf_parquet only, plans.simulate over the corpus's document
         slice and streaming.query over its stream files

A layer's time in the job is the difference of consecutive probe passes;
the job tree's self times add up to the traced job time exactly.
"""

import statistics


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree(spans, root_id):
    """Ids of `root_id` and all its descendants."""
    ids, frontier = {root_id}, [root_id]
    while frontier:
        p = frontier.pop()
        for s in spans:
            if s["parent"] == p and s["id"] not in ids:
                ids.add(s["id"])
                frontier.append(s["id"])
    return ids


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


PER_LAYER = [
    ("sources.scan_s", "s"), ("sources.bytes_read", "bytes"), ("sources.read_tasks", "count"),
    ("sources.write_s", "s"), ("sources.bytes_written", "bytes"),
    ("functions.tokenize_s", "s"), ("functions.tokens", "count"),
    ("functions.tokens_per_cpu_s", "tokens/s"),
    ("operators.agg_s", "s"), ("operators.shuffle_records", "count"),
    ("operators.shuffle_bytes", "bytes"), ("operators.fetch_wait_s", "s"),
    ("operators.partial_reduction", "ratio"), ("operators.spill_bytes", "bytes"),
    ("operators.peak_exec_mem_mb", "MB"), ("operators.reduce_skew", "ratio"),
    ("operators.tasks", "count"),
    ("plans.simulate_s", "s"), ("plans.jobs", "count"), ("plans.stages", "count"),
    ("plans.naive_packets", "count"), ("plans.packets_sent", "count"),
    ("plans.encoded_packets", "count"), ("plans.comm_load", "ratio"), ("plans.decode_ok", "bool"),
    ("plans.shuffle_bytes", "bytes"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mem_mb", "MB"), ("streaming.state_commit_s", "s"),
    ("streaming.rows_per_s", "rows/s"),
    ("spark.cpu_s", "s"), ("spark.gc_s", "s"), ("spark.heap_peak_mb", "MB"),
    ("spark.sched_wait_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
    ("trace.job_s", "s"), ("trace.uncovered_s", "s"), ("trace.overhead_s", "s"),
]


def iteration_metrics(spans, stages, jobs, samples):
    """Layer metrics of one traced iteration (its spans, stages, jobs)."""
    by_name = {s["name"]: s for s in spans}
    dur = {n: s["end"] - s["start"] for n, s in by_name.items()}
    selfs = self_times(spans)

    def stages_under(name):
        if name not in by_name:
            return []
        ids = subtree(spans, by_name[name]["id"])
        return [st for st in stages if st["span"] in ids]

    def total(name, key):
        return sum(st[key] for st in stages_under(name))

    def first(key):
        return median(samples.get(key, []))

    m = {}
    job = by_name["job"]
    m["trace.job_s"] = dur["job"]
    m["trace.uncovered_s"] = selfs[job["id"]]

    if "sources.scan" in dur:
        m["sources.scan_s"] = dur["sources.scan"]
        m["sources.bytes_read"] = first("bytes_read")
        m["sources.read_tasks"] = total("sources.scan", "tasks")
        m["functions.tokenize_s"] = dur["functions.tokenize"] - dur["sources.scan"]
        tokens = first("tokens")
        m["functions.tokens"] = tokens
        cpu = total("functions.tokenize", "cpu_s")
        m["functions.tokens_per_cpu_s"] = tokens / cpu if cpu > 0 else 0.0
        agg = stages_under("operators.aggregate")
        m["operators.agg_s"] = dur["operators.aggregate"] - dur["functions.tokenize"]
        m["operators.shuffle_records"] = sum(st["shuffle_write_records"] for st in agg)
        # the combiner's output: what the map stages (no shuffle input) ship
        combined = sum(st["shuffle_write_records"] for st in agg if st["shuffle_read_records"] == 0)
        m["operators.shuffle_bytes"] = sum(st["shuffle_write_bytes"] for st in agg)
        m["operators.fetch_wait_s"] = sum(st["fetch_wait_s"] for st in agg)
        m["operators.partial_reduction"] = tokens / combined if combined else 0.0
        m["operators.spill_bytes"] = sum(st["spill_bytes"] for st in agg)
        m["operators.peak_exec_mem_mb"] = max([st["peak_exec_mem"] for st in agg] or [0]) / 2**20
        reduce_tasks = [t for st in agg if st["shuffle_read_records"] > 0 for t in st["task_s"]]
        mid = median(reduce_tasks)
        m["operators.reduce_skew"] = max(reduce_tasks) / mid if mid > 0 else 0.0
        m["operators.tasks"] = sum(st["tasks"] for st in agg)
        m["sources.write_s"] = dur["sources.writeTsv"] - dur["operators.aggregate"]
        m["sources.bytes_written"] = total("sources.writeTsv", "output_bytes")

    if "plans.simulate" in dur:
        sim = by_name["plans.simulate"]
        ids = subtree(spans, sim["id"])
        m["plans.simulate_s"] = dur["plans.simulate"]
        m["plans.jobs"] = sum(1 for j in jobs if j["span"] in ids)
        m["plans.stages"] = len(stages_under("plans.simulate"))
        m["plans.shuffle_bytes"] = total("plans.simulate", "shuffle_write_bytes")
        for k in ("naive_packets", "packets_sent", "encoded_packets", "decode_ok"):
            m["plans." + k] = first(k)
        m["plans.comm_load"] = m["plans.packets_sent"] / m["plans.naive_packets"]

    if "streaming.query" in dur:
        for k in ("batches", "batch_s", "state_rows", "state_mem_mb", "state_commit_s",
                  "rows_per_s"):
            m["streaming." + k] = first(k)

    job_stages = stages_under("job")
    job_ids = subtree(spans, job["id"])
    m["spark.cpu_s"] = sum(st["cpu_s"] for st in job_stages)
    m["spark.gc_s"] = sum(st["gc_s"] for st in job_stages)
    m["spark.sched_wait_s"] = sum(st["slot_wait_s"] for st in job_stages)
    m["spark.jobs"] = sum(1 for j in jobs if j["span"] in job_ids)
    m["spark.tasks"] = sum(st["tasks"] for st in job_stages)
    m["spark.failed_tasks"] = sum(st["failed_tasks"] for st in job_stages)
    return m


def per_layer(report):
    """Median over traced iterations of every per-layer metric; a layer a
    workload does not run reads 0. Also returns the job tree's self times
    (median seconds per span name) for the human-readable summary."""
    spans, stages, jobs = report["spans"], report["stages"], report["jobs"]
    per_iter, self_by_name = [], {}
    for it in report["traced"]:
        t = it["trace"]
        ts = [s for s in spans if s["trace"] == t]
        ids = {s["id"] for s in ts}
        m = iteration_metrics(ts, [st for st in stages if st["span"] in ids],
                              [j for j in jobs if j["span"] in ids], it["samples"])
        per_iter.append(m)
        job_ids = subtree(ts, next(s["id"] for s in ts if s["name"] == "job"))
        for sid, v in self_times(ts).items():
            s = next(s for s in ts if s["id"] == sid)
            if sid in job_ids:
                self_by_name.setdefault(s["name"], []).append(v)
    out = {name: median([m.get(name, 0.0) for m in per_iter]) for name, _ in PER_LAYER}
    out["trace.overhead_s"] = median(report["traced_job_s"]) - median(report["job_s"])
    out["spark.heap_peak_mb"] = report["heap_peak_mb"]
    return out, {k: median(v) for k, v in self_by_name.items()}
