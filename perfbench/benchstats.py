"""Arithmetic of the benchmark: order statistics, span self time, the
failed fraction, and the reduction of one raw JVM record to metrics.

Pure functions only; `test_benchstats.py` checks them.
"""
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    """Median of a non-empty sequence; the mean of the middle two for even n."""
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return float(xs[int(rank) - 1])


def tail_percentile(values, min_beyond=10):
    """The highest percentile in TAIL_PERCENTILES that still has at least
    `min_beyond` samples strictly above it, as (p, value, n_samples);
    None when no listed percentile qualifies."""
    xs = sorted(values)
    for p in TAIL_PERCENTILES:
        if not xs:
            break
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= min_beyond:
            return p, v, len(xs)
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Self time per span id: its duration minus the union of its direct
    children's intervals, each clipped to the parent. Overlapping children
    are not double-counted."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"]))
                   for c in children.get(s["id"], []) if by_id.get(c["parent"]) is s]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[s["id"]] = (s["end_s"] - s["start_s"]) - union_length(clipped)
    return out


def subtree(spans, root_id):
    """Spans under `root_id`, the root included."""
    keep, frontier = {root_id}, [root_id]
    while frontier:
        pid = frontier.pop()
        for s in spans:
            if s["parent"] == pid and s["id"] not in keep:
                keep.add(s["id"])
                frontier.append(s["id"])
    return [s for s in spans if s["id"] in keep]


def job_spans(spans, root_id):
    """The traced call's spans: the subtree of `root_id` without the
    harness's own output checks."""
    checks = set()
    for s in spans:
        if s["name"] == "check":
            checks.update(x["id"] for x in subtree(spans, s["id"]))
    return [s for s in subtree(spans, root_id) if s["id"] not in checks]


def failed_frac(attempted, failed):
    """Failed operations over attempted operations. An operation is a job
    call, a query, a micro-batch, or (extract) one page of a job call."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def duration(span):
    return span["end_s"] - span["start_s"]


def last_span(spans, name):
    found = [s for s in spans if s["name"] == name]
    if not found:
        raise KeyError(f"no span named {name}")
    return found[-1]


def end_to_end(rec):
    """Metrics a user of the job sees, from an untraced record."""
    setup = rec["startup_s"] + rec["setup_fixed_s"]
    if rec["setup_samples_s"]:
        setup += median(rec["setup_samples_s"])
    wall = median(rec["iteration_walls_s"])
    m = {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
        "wall_samples": (len(rec["iteration_walls_s"]), "count"),
        "docs_per_s": (rec["docs"] / wall, "1/s"),
        "heap_peak_mb": (rec["heap_peak_mb"], "MB"),
    }
    batches = rec["workload_record"].get("batch_s")
    if batches:
        m["batch_p50_s"] = (median(batches), "s")
        m["batch_samples"] = (len(batches), "count")
    return m


def per_layer(rec):
    """Layer metrics from a traced record: the core probe, the extract stage
    and commit layers, the stream and query probes, the scheduler totals of
    the traced iteration, the tracing overhead, and (release) the curate
    and export calls."""
    spans, layer, cores = rec["spans"], rec["layer"], rec["cores"]
    m = {}

    core = layer["core"]
    page_ns = median(core["page_ns"])
    page_us = page_ns / core["pages"] / 1e3
    m["core.page_us"] = (page_us, "us")
    # per-page latency: median and the highest percentile with ten or more
    # samples beyond it (a page's time, not the sample mean above)
    per_page_us = [ns / 1e3 for ns in core["per_page_ns"]]
    m["core.page_p50_us"] = (median(per_page_us), "us")
    tail = tail_percentile(per_page_us)
    m["core.page_tail_us"] = (tail[1], "us")
    m["core.page_tail_pct"] = (tail[0], "percentile")
    m["core.page_samples"] = (tail[2], "count")
    attributed = 0.0
    for step, ns in core["step_ns"].items():
        n = core["step_pages"][step]
        m[f"core.{step}_us"] = (median(ns) / n / 1e3 if n else 0.0, "us")
        if step != "segment":  # segment runs again inside boilerplate
            attributed += median(ns)
    m["core.unattributed_frac"] = (1.0 - attributed / page_ns, "fraction")
    m["core.generic_retry_frac"] = (core["generic_retries"] / max(1, core["text_pages"]), "fraction")
    warc = layer["warc"]
    m["core.warc_record_us"] = (median(warc["ns"]) / warc["records"] / 1e3, "us")

    stage = last_span(spans, "ExtractStage.run")
    pipeline = last_span(spans, "ExtractPipeline.run")
    stage_rate = layer["probe_pages"] / duration(stage)
    m["stage.docs_per_s"] = (stage_rate, "1/s")
    m["stage.efficiency"] = (stage_rate / (cores * 1e6 / page_us), "fraction")
    m["commit.s"] = (duration(pipeline) - duration(stage), "s")
    # rows scanned over table rows: the parquet reader's bytesRead metric
    # undercounts, its record count does not
    m["commit.input_read_ratio"] = (pipeline["spark"]["input_records"] / layer["probe_pages"], "ratio")
    m["commit.shuffle_write_bytes"] = (pipeline["spark"]["shuffle_write_bytes"], "bytes")
    files = layer.get("probe_files_written")
    if files is None:
        files = rec["workload_record"]["iterations_detail"][-1]["files_written"]
    m["commit.files_written"] = (files, "count")

    root = last_span(spans, "traced-iteration")
    inner = job_spans(spans, root["id"])
    totals = {k: sum(s["spark"][k] for s in inner) + layer["other_groups"].get(k, 0)
              for k in ("jobs", "stages", "tasks", "task_run_ms", "shuffle_write_bytes", "spill_bytes")}
    traced_wall = layer["traced_wall_s"]
    m["spark.jobs"] = (totals["jobs"], "count")
    m["spark.stages"] = (totals["stages"], "count")
    m["spark.tasks"] = (totals["tasks"], "count")
    m["spark.shuffle_write_bytes"] = (totals["shuffle_write_bytes"], "bytes")
    m["spark.spill_bytes"] = (totals["spill_bytes"], "bytes")
    m["spark.task_busy_frac"] = (totals["task_run_ms"] / 1e3 / (traced_wall * cores), "fraction")

    selfs = self_times(spans)
    m["trace.self_sum_s"] = (sum(selfs[s["id"]] for s in inner if s["id"] != root["id"]), "s")
    m["trace.overhead_s"] = (traced_wall - layer["untraced_after_s"], "s")
    m["failed_frac"] = (failed_frac(rec["attempted"], rec["failed"]), "fraction")

    stream = layer["stream"]
    add, trig = stream["add_batch_ms"], stream["trigger_execution_ms"]
    m["stream.add_batch_ms"] = (median(add), "ms")
    m["stream.trigger_overhead_ms"] = (median([t - a for t, a in zip(trig, add)]), "ms")
    m["stream.batch_samples"] = (len(add), "count")

    # each query's last traced run: the query workload's traced round, or
    # the pages-only queries probed after another workload's call
    exchanges = {q["name"]: q["exchanges"] for q in layer["queries"] if q["exchanges"] >= 0}
    for q, ex in exchanges.items():
        s = last_span(spans, q)
        m[f"query.{q}.s"] = (duration(s), "s")
        m[f"query.{q}.stages"] = (s["spark"]["stages"], "count")
        m[f"query.{q}.shuffle_bytes"] = (s["spark"]["shuffle_write_bytes"], "bytes")
        m[f"query.{q}.exchanges"] = (ex, "count")

    if rec["workload"] == "release":
        for name in ("curate.base", "curate.increment", "curate.compact", "curate.vacuum", "export.release"):
            m[f"{name}_s"] = (sum(duration(s) for s in inner if s["name"] == name), "s")
    return m
