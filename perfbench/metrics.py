"""Turn one run's raw record (written by the JVM harness) into metrics.

Pure functions only: no Spark, no files. `test_metrics.py` covers the
arithmetic (percentile choice, union of job intervals, self time).
"""
import math
import statistics

# The op kind whose latency each workload reports as op_ms_p50/op_ms_p90.
PRIMARY = {
    "ingest_publish": "preview",
    "corpus_curate": "curate",
    "analyst_queries": "query",
    "stream_sessionize": "batch",
}

LAYERS = ("harness", "ingest", "sink", "operators", "queries", "streaming")


def percentile(values, q):
    """Nearest-rank percentile: the smallest observed value with at least
    q% of the sample at or below it. It never interpolates, so a reported
    p90 is a latency some op really had."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def union_length(intervals, lo, hi):
    """Total length of the union of [start, end] intervals, clipped to
    [lo, hi]. Unfinished intervals (end is None or NaN) count as running
    until hi."""
    clipped = []
    for start, end in intervals:
        if end is None or (isinstance(end, float) and math.isnan(end)):
            end = hi
        start, end = max(start, lo), min(end, hi)
        if end > start:
            clipped.append((start, end))
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(clipped):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time per span id: its duration minus its direct children's."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def layer_self_ms(spans):
    """Self time summed per layer, in ms."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


def measured_ops(raw, kind=None):
    lo, hi = raw["window_ms"]
    return [o for o in raw["ops"] if o["ok"] and o["start"] >= lo - 1e-6
            and (kind is None or o["kind"] == kind)]


def end_to_end(raw):
    """The user-visible metrics of BENCHMARK.json; every workload reports
    all of them. The p90 is left to the report lines: a window holds 4 to
    20 primary ops, too few for ten samples beyond a p90."""
    w = raw["workload"]
    prim = measured_ops(raw, PRIMARY[w])
    lat = [o["end"] - o["start"] for o in prim]
    if w == "stream_sessionize":  # input rows per second from the first batch to the last
        span = max(o["end"] for o in prim) - min(o["start"] for o in prim)
        rate = sum(o["items"] for o in prim) / (span / 1e3)
    elif w == "corpus_curate":  # docs of one op over the median op time
        rate = statistics.median(o["items"] for o in prim) / (statistics.median(lat) / 1e3)
    else:  # rows published, or queries, per second spent on them, over the fixed mix
        rated = measured_ops(raw, "publish") if w == "ingest_publish" else prim
        rate = (sum(o["items"] for o in rated)
                / (sum(o["end"] - o["start"] for o in rated) / 1e3))
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "op_ms_p50": (percentile(lat, 50), "ms"),
        "items_per_s": (rate, "1/s"),
        "heap_peak_mb": (raw["heap_peak_mb"], "MB"),
    }


def named_end_to_end(raw):
    """The same figures under the workload's own names (plus the ones
    only one workload has), for the human-readable report."""
    w = raw["workload"]
    e2e = end_to_end(raw)
    lat = lambda kind: [o["end"] - o["start"] for o in measured_ops(raw, kind)]
    attempted = [o for o in raw["ops"] if o["start"] >= raw["window_ms"][0] - 1e-6]
    failed = sum(1 for o in attempted if not o["ok"])
    n = len(measured_ops(raw, PRIMARY[w]))
    out = {"ops_failed_frac": (failed / max(1, len(attempted)), "1"),
           f"{PRIMARY[w]}_samples": (n, "count"),
           "heap_peak_mb": e2e["heap_peak_mb"], "setup_s": e2e["setup_s"]}
    p50, rate = e2e["op_ms_p50"][0], e2e["items_per_s"][0]
    p90 = percentile(lat(PRIMARY[w]), 90)
    if w == "ingest_publish":
        out.update(preview_ms_p50=(p50, "ms"), preview_ms_p90=(p90, "ms"),
                   publish_s_p50=(percentile(lat("publish"), 50) / 1e3, "s"),
                   ingest_rows_per_s=(rate, "1/s"))
        for tag, ms in by_tag(raw, "preview").items():
            out[f"preview_ms_p50.{tag}"] = (ms, "ms")
        for tag, ms in by_tag(raw, "publish").items():
            out[f"publish_s_p50.{tag}"] = (ms / 1e3, "s")
    elif w == "corpus_curate":
        out.update(curate_s_p50=(p50 / 1e3, "s"), curate_s_p90=(p90 / 1e3, "s"),
                   curate_docs_per_s=(rate, "1/s"))
    elif w == "analyst_queries":
        out.update(query_s_p50=(p50 / 1e3, "s"), query_s_p90=(p90 / 1e3, "s"),
                   queries_per_s=(rate, "1/s"))
    else:
        out.update(batch_ms_p50=(p50, "ms"), batch_ms_p90=(p90, "ms"),
                   stream_rows_per_s=(rate, "1/s"))
    return out


def by_tag(raw, kind):
    """p50 latency in ms of the window's `kind` ops per tag (per upload
    format), for the report lines only."""
    lat = {}
    for o in measured_ops(raw, kind):
        lat.setdefault(o["tag"], []).append(o["end"] - o["start"])
    return {t: percentile(v, 50) for t, v in sorted(lat.items())}


def per_layer(raw):
    """Layer metrics for a traced run. Every workload reports every
    name; a layer the workload does not touch reads 0."""
    lo, hi = raw["window_ms"]
    sp = raw["spark"]
    spans = raw["spans"]
    span_tasks = raw["span_tasks"]
    detail = raw.get("detail", {})
    phases = raw["plan_phases"]

    def tasks_of(names, key):
        ids = [str(s["id"]) for s in spans if s["name"] in names]
        return sum(span_tasks.get(i, {}).get(key, 0) for i in ids)

    traced = [o for o in measured_ops(raw) if o["traced"]]
    traced_ms = sum(o["end"] - o["start"] for o in traced)
    self_ms = layer_self_ms(spans)
    out = {
        "spark.jobs": (len(raw["jobs"]), "count"),
        "spark.stages": (sp["stages"], "count"),
        "spark.tasks": (sp["tasks"], "count"),
        "spark.executor_run_ms": (sp["executor_run_ms"], "ms"),
        "spark.executor_cpu_ms": (sp["executor_cpu_ns"] / 1e6, "ms"),
        "spark.gc_ms": (sp["gc_ms"], "ms"),
        "spark.shuffle_read_bytes": (sp["shuffle_read_bytes"], "bytes"),
        "spark.shuffle_write_bytes": (sp["shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (sp["spill_bytes"], "bytes"),
        "spark.driver_gap_ms": ((hi - lo) - union_length(raw["jobs"], lo, hi), "ms"),
        "spark.task_failures": (sp["task_failures"], "count"),
        "queries.plan_ms.analysis": (sum(p.get("analysis", 0) for p in phases), "ms"),
        "queries.plan_ms.optimization": (sum(p.get("optimization", 0) for p in phases), "ms"),
        "queries.plan_ms.planning": (sum(p.get("planning", 0) for p in phases), "ms"),
        "queries.exec_s": (sum(p.get("exec_ms", 0) for p in phases) / 1e3, "s"),
        "trace.overhead_pct": (tracing_overhead_pct(raw), "%"),
        "ingest.rows_parsed": (tasks_of({"Readers.read"}, "input_records"), "count"),
        "sink.bytes_written": (detail.get("bytes_written", 0), "bytes"),
        "sink.files_written": (detail.get("files_written", 0), "count"),
        "sink.bytes_per_input_byte": (detail.get("bytes_per_input_byte", 0.0), "ratio"),
        "sink.versions_live": (detail.get("versions_live", 0), "count"),
        "operators.candidate_pairs": (detail.get("candidate_pairs", 0), "count"),
        "operators.verified_pairs": (detail.get("verified_pairs", 0), "count"),
        "operators.verify_yield": (detail.get("verified_pairs", 0)
                                   / max(1, detail.get("candidate_pairs", 0)), "ratio"),
        "streaming.state_rows": (detail.get("state_rows", 0), "count"),
        "streaming.input_rows": (sum(o["items"] for o in measured_ops(raw, "batch")), "count"),
    }
    for layer in LAYERS:
        share = 100.0 * self_ms.get(layer, 0.0) / traced_ms if traced_ms else 0.0
        out[f"self_pct.{layer}"] = (share, "%")
    return out


def layer_times(raw):
    """Span times of the traced ops, for the report lines: self time per
    layer (total over the window) and each public piece's mean time per
    call. Only the layers the workload touches appear."""
    spans = raw["spans"]
    t = {f"self_s.{k}": (v / 1e3, "s") for k, v in sorted(layer_self_ms(spans).items())}

    def mean_ms(*names):
        hits = [s["end"] - s["start"] for s in spans if s["name"] in names]
        return sum(hits) / len(hits) if hits else None

    def sum_or_none(*xs):
        return None if None in xs else sum(xs)

    def mean_s(*names):
        ms = mean_ms(*names)
        return ms / 1e3 if ms is not None else None

    pieces = {
        "ingest.sniff_ms": (mean_ms("Sniffer.sniff"), "ms"),
        "ingest.preview_ms": (mean_ms("Preview.preview"), "ms"),
        "ingest.parse_s": (mean_s("Readers.read"), "s"),
        "sink.save_self_s": (mean_s("Save.save"), "s"),
        "sink.snapshot_publish_s": (mean_s("Snapshots.publish", "Snapshots.publishBatch"), "s"),
        "operators.curate_pages_s": (mean_s("Corpus.curatePages"), "s"),
        "operators.exact_dedup_s": (mean_s("Dedup.exact"), "s"),
        "operators.minhash_s": (sum_or_none(mean_s("Dedup.minhashCandidates"),
                                            mean_s("Dedup.verifyJaccard")), "s"),
        "operators.survivors_s": (mean_s("Dedup.nearDupSurvivors"), "s"),
        "streaming.batch_ms": (mean_ms("Streams.sessionize"), "ms"),
    }
    t.update({k: v for k, v in pieces.items() if v[0] is not None})
    return t


def tracing_overhead_pct(raw):
    """Mean primary-op latency of traced rounds over untraced rounds of
    the same window, minus one, in percent."""
    prim = measured_ops(raw, PRIMARY[raw["workload"]])
    on = [o["end"] - o["start"] for o in prim if o["traced"]]
    off = [o["end"] - o["start"] for o in prim if not o["traced"]]
    if not on or not off:
        return 0.0
    return 100.0 * (statistics.mean(on) / statistics.mean(off) - 1.0)
