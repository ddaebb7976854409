"""Pure functions that turn raw measurements into the benchmark's metrics.

Kept free of I/O so that `test_metrics.py` can check the arithmetic: the
percentile rule, span self time, and the improved / regressed labels.
"""

import statistics

# Percentiles the benchmark may report, lowest first.
PERCENTILE_LADDER = (50.0, 60.0, 70.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, p):
    """How many of n samples lie above the p-th percentile."""
    return int(n - n * p / 100.0 + 1e-9)


def highest_percentile(n, beyond=10):
    """The highest ladder percentile with at least `beyond` samples above
    it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILE_LADDER:
        if samples_beyond(n, p) >= beyond:
            best = p
    return best


def median(values, default=0.0):
    return statistics.median(values) if values else default


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, as `statistics.quantiles(values, n=4)` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, each clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of that interval
    its child spans cover. `spans` are dicts with id, parent, start_ms and
    end_ms; returns {id: self_ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            union_ms(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def driver_ms(span):
    """Wall time of a span not covered by any Spark job it started."""
    return (span["end_ms"] - span["start_ms"]) - union_ms(
        span["jobs"], span["start_ms"], span["end_ms"])


def label(parent, change, better, bound, pairs=None):
    """Label one (workload, metric) from two sets of runs by the rule of
    the choosing-metrics guide, section 8.

    parent, change: the metric's values, one per run. better: "lower" or
    "higher". bound: the share of the parent's median by which the metric
    may worsen. pairs: optional list of (parent_value, change_value) from
    interleaved pairs; defaults to zip(parent, change).

    - improved: the change wins at least 9/10 of the pairs (ties count for
      neither) and the medians differ, in its favour, by more than the
      parent's own quartile distance;
    - unresolved: the parent's spread (quartile distance over median) is
      wider than the bound, unless every change run reads better than
      every parent run;
    - regressed: the change's median is worse than the parent's by more
      than `bound`;
    - within_bound: none of these.
    """
    sign = -1.0 if better == "lower" else 1.0
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    spread = (q3 - q1) / abs(pm) if pm else float("inf")
    pairs = list(pairs if pairs is not None else zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    gain = sign * (cm - pm)
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if pairs and wins >= 0.9 * len(pairs) and gain > (q3 - q1):
        return "improved"
    if spread > bound and not all_better:
        return "unresolved"
    if pm and -gain / abs(pm) > bound:
        return "regressed"
    return "within_bound"


# Per workload: the percentile read_tail_ms reports and the reads a run
# makes at least, so that ten or more samples lie beyond that percentile.
# Reads cost 0.1 s (bulk_load) to 1 s (search_serve) each; the reads a
# run can afford within the benchmark's time budget set the percentile.
TAIL = {"bulk_load": (80.0, 50), "search_serve": (60.0, 25)}


def end_to_end(rec, workload):
    """End-to-end metrics of one run from the JVM's raw record."""
    s = rec["samples"]
    reads = s.get("read", [])
    return {
        "setup_s": rec["session_ready_s"] + rec["setup_s"],
        "ok_frac": 1.0 - rec["failed"] / max(rec["attempted"], 1),
        "peak_rss_mb": rec["peak_rss_kb"] / 1024.0,
        "ingest_docs_per_s": median(s.get("ingest_docs_per_s", [])),
        "bytes_per_doc": median(s.get("bytes_per_doc", [])),
        "read_p50_ms": percentile(reads, 50) if reads else 0.0,
        "read_tail_ms": percentile(reads, TAIL[workload][0]) if reads else 0.0,
        "write_p50_ms": median(s.get("write", [])),
    }


# Spans around the calls that answer one search_serve read op.
QUERY_SPANS = ("search.bm25", "search.bm25_batch8", "search.phrase", "search.fuzzy",
               "search.bool", "search.mlt", "similarity.knn", "search.hybrid")


def per_layer(rec, spans, stage_names):
    """Per-layer metrics of one traced run. `spans` are the span records
    of the run; only those of the measured window count. Layers a
    workload does not touch read 0."""
    win = [s for s in spans if s["run"] == "window"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x["id"], []))
        return out

    def named(name):
        return [s for s in win if s["name"] == name]

    def wall_s(name):
        return median([(s["end_ms"] - s["start_ms"]) / 1000.0 for s in named(name)])

    def wall_ms(name):
        return median([s["end_ms"] - s["start_ms"] for s in named(name)])

    writes = named("sink.write")
    map_stages = [[st for st in s["stages"] if st["shuffle_write"] > 0] for s in writes]
    out_stages = [[st for st in s["stages"] if st["shuffle_write"] == 0] for s in writes]

    def skew(stages):
        if not stages:
            return 0.0
        st = max(stages, key=lambda x: x["run_ms"])
        return st["max_task_ms"] / st["median_task_ms"] if st["median_task_ms"] else 0.0

    gets = named("sources.get")
    queries = [s for s in win if s["name"] in QUERY_SPANS]
    q_trees = [subtree(q) for q in queries]
    n_q = max(len(queries), 1)
    # the curation pipeline runs in search_serve's set-up
    pipes = [s for s in spans if s["name"] == "pipeline.run"]
    every_stage = [st for s in win for st in s["stages"]]
    m = {
        "transform.infer_s": wall_s("transform.infer"),
        "transform.map_task_s": median([sum(st["run_ms"] for st in x) / 1000.0 for x in map_stages]),
        "sink.write_s": wall_s("sink.write"),
        "sink.exchange_bytes": median([sum(st["shuffle_write"] for st in x) for x in map_stages]),
        "sink.write_task_s": median([sum(st["run_ms"] for st in x) / 1000.0 for x in out_stages]),
        "sink.write_task_skew": median([skew(x) for x in out_stages]),
        "sink.spill_bytes": median([sum(st["spill"] for st in s["stages"]) for s in writes]),
        "sink.install_s": wall_s("sink.install"),
        "sink.files_written": median(rec["samples"].get("files_written", [])),
        "sources.get_files_read": median([s["extra"].get("files_read", 0.0) for s in gets]),
        "sources.get_jobs": median([len(s["jobs"]) for s in gets]),
        "sources.get_driver_ms": median([driver_ms(s) for s in gets]),
        "search.jobs_per_query": sum(len(x["jobs"]) for t in q_trees for x in t) / n_q,
        "search.tasks_per_query":
            sum(st["tasks"] for t in q_trees for x in t for st in x["stages"]) / n_q,
        "search.driver_ms_per_query": sum(driver_ms(q) for q in queries) / n_q,
        "search.input_bytes_per_query":
            sum(st["input_bytes"] for t in q_trees for x in t for st in x["stages"]) / n_q,
        "streaming.batch_s": wall_s("streaming.append"),
        "search.build_s": median([(s["end_ms"] - s["start_ms"]) / 1000.0
                                  for s in spans if s["name"] == "search.build"]),
        "similarity.build_s": median([(s["end_ms"] - s["start_ms"]) / 1000.0
                                      for s in spans if s["name"] == "similarity.build"]),
        "streaming.index_files_end": rec["values"].get("index_files_end", 0),
        "pipeline.shuffle_bytes": median(
            [sum(st["shuffle_write"] for x in subtree(p) for st in x["stages"]) for p in pipes]),
        "pipeline.spill_bytes": median(
            [sum(st["spill"] for x in subtree(p) for st in x["stages"]) for p in pipes]),
        "jvm.gc_s": rec["gc_s"],
        "spark.task_cpu_s": sum(st["cpu_ms"] for st in every_stage) / 1000.0,
        "spark.failed_tasks": sum(st["failed"] for st in every_stage),
    }
    for name in QUERY_SPANS:
        m[name + "_p50_ms"] = wall_ms(name)
    for stage in stage_names:
        m[f"pipeline.{stage}_s"] = median(rec["samples"].get(f"stage.{stage}", []))
    return m
