"""Pure helpers of the benchmark: percentiles with sample counts, interval
unions, span self time, and the metric assembly from one JVM result file.
Nothing here touches Spark, the file system or the clock, so it is tested
directly (tests/test_benchlib.py)."""

import math
import statistics

# Per-layer metrics in the order BENCHMARK.json lists them. A workload that
# bypasses a layer reports 0 for it.
PER_LAYER = [
    ("sources.read_s", "s"), ("sources.write_s", "s"), ("sources.merge_s", "s"),
    ("sources.files_written", "count"),
    ("sources.bytes_written_per_input_byte", "ratio"),
    ("pipeline.stages_completed", "count"), ("pipeline.stages_skipped", "count"),
    ("pipeline.stages_errored", "count"), ("pipeline.driver_s", "s"),
    ("operators.dimdate_s", "s"), ("operators.warehouse.dims_s", "s"),
    ("operators.warehouse.facts_s", "s"), ("operators.profiler_s", "s"),
    ("functions.cleaning_s", "s"),
    ("operators.dedup.signatures_s", "s"), ("operators.dedup.pairs_s", "s"),
    ("operators.dedup.edit_pairs_s", "s"), ("operators.dedup.components_s", "s"),
    ("operators.dedup.pairs_out", "count"), ("functions.text_s", "s"),
    ("queries.build_s", "s"), ("queries.action_s", "s"),
    ("expressions.cosine_s", "s"), ("expressions.hyperplane_sig_s", "s"),
    ("expressions.pq_encode_s", "s"),
    ("operators.ivf.train_s", "s"), ("operators.ivf.assign_s", "s"),
    ("operators.ivf.search_s", "s"), ("operators.pq.search_s", "s"),
    ("ann.recall_at_10", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.tasks_failed", "count"), ("spark.task_cpu_s", "s"),
    ("spark.task_gc_s", "s"), ("spark.task_run_s", "s"), ("spark.task_queue_s", "s"),
    ("spark.task_skew", "ratio"), ("spark.spill_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("core.session_s", "s"), ("jvm.gc_s", "s"),
    ("self.pipeline_s", "s"), ("self.queries_s", "s"), ("self.operators_s", "s"),
    ("self.sources_s", "s"), ("self.functions_s", "s"), ("self.expressions_s", "s"),
    ("trace.overhead_s", "s"), ("trace.overhead_pct", "%"),
]

# No tail percentile: a run of a listed workload times 2 (elt_daily) or 6
# (dedup_curation) operations, and a tail percentile needs ten samples
# beyond it; the report prints one where a run has enough (ann_retrieval).
END_TO_END = [
    ("setup_s", "s"), ("load_s", "s"), ("op_p50_s", "s"),
    ("work_per_s", "1/s"), ("peak_rss_mb", "MB"),
]


def percentile(values, q):
    """Linear-interpolation percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest whole percentile with at least ten of `n` samples beyond it,
    or None when there are fewer than 20 samples."""
    if n < 20:
        return None
    return math.floor(100.0 * (n - 10) / n)


def summarize(values):
    """Median, supported tail percentile and sample count of a timing."""
    out = {"n": len(values), "p50": percentile(values, 50) if values else None}
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_q"] = tail
        out["tail"] = percentile(values, tail)
    return out


def union_length(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total = 0.0
    end = None
    start = None
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def clipped(intervals, lo, hi):
    """Intervals cut to the window [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_times(spans):
    """Span id -> self time: its duration minus the part of it that its
    child spans cover (children may overlap each other)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length(clipped(children.get(s["id"], []), lo, hi))
        out[s["id"]] = (hi - lo - covered) / 1e3
    return out


def driver_seconds(span):
    """Call time minus the union of the span's Spark job intervals: the
    time the driver spent outside any job (planning, scheduling gaps,
    file listing, result handling)."""
    lo, hi = span["start_ms"], span["end_ms"]
    jobs = (span.get("counters") or {}).get("job_intervals_ms", [])
    return (hi - lo - union_length(clipped([tuple(j) for j in jobs], lo, hi))) / 1e3


def stage_skew(stage_task_ms, min_tasks=4):
    """Largest max/median task-time ratio over stages with enough tasks."""
    worst = 1.0
    for ms in stage_task_ms:
        if len(ms) >= min_tasks:
            med = statistics.median(ms)
            if med > 0:
                worst = max(worst, max(ms) / med)
    return worst


def spark_totals(spans, cycles=1):
    """Listener counters of the workload's timed steps, per timed cycle
    (layer-probe and overhead spans excluded, as are jobs that ran outside
    every step: the benchmark's own check preparation)."""
    keys = ["jobs", "stages", "tasks", "tasks_failed", "task_cpu_s", "task_gc_s",
            "task_run_s", "task_queue_s", "spill_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes"]
    tot = {k: 0.0 for k in keys}
    stage_ms = []
    for s in spans:
        c = s.get("counters")
        if not c or s.get("phase") != "cycle":
            continue
        for k in keys:
            tot[k] += c[k] / cycles
        stage_ms.extend(c["stage_task_ms"])
    tot["task_skew"] = stage_skew(stage_ms)
    return {f"spark.{k}": v for k, v in tot.items()}


def samples(result):
    """The timed operations that are samples of the op percentiles and the
    work rate (not the replayed or the empty day)."""
    return [o for o in result["ops"] if o.get("sample", True)]


def end_to_end(result):
    """The end-to-end metrics of an untraced run, from its result file."""
    ops = samples(result)
    secs = [o["s"] for o in ops]
    loads = result["loads"]
    return {
        "setup_s": result["setup"]["setup_s"],
        "load_s": statistics.median(loads),
        "op_p50_s": percentile(secs, 50),
        "work_per_s": sum(o["items"] for o in ops) / sum(secs),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def per_layer(result):
    """Every per-layer metric of a traced run (0 where the workload
    bypasses the layer), plus self time per layer from the spans. Values of
    the timed loop are per cycle (the JVM divides its own sums likewise),
    so a faster engine that fits more cycles into a run does not read as
    doing more work."""
    layers = dict(result["layers"])
    cycles = max(result.get("cycles", 1), 1)
    # the overhead probe's operations are extra work, not the workload's
    spans = [s for s in result["spans"] if "id" in s and s.get("phase") != "overhead"]
    vals = {name: 0.0 for name, _ in PER_LAYER}
    for k, v in layers.items():
        if k in vals:
            vals[k] = v
    if layers.get("sources.input_bytes"):
        vals["sources.bytes_written_per_input_byte"] = (
            layers.get("sources.bytes_written", 0.0) / layers["sources.input_bytes"])
    vals.update(spark_totals(spans, cycles))
    drivers = [driver_seconds(s) for s in spans
               if s["layer"] == "pipeline" and s.get("phase") == "cycle"]
    if drivers:
        vals["pipeline.driver_s"] = statistics.median(drivers)
    selfs = self_times(spans)
    for s in spans:
        key = f"self.{s['layer']}_s"
        if key in vals:
            vals[key] += selfs[s["id"]] / (cycles if s.get("phase") == "cycle" else 1)
    vals["jvm.gc_s"] = result["jvm_gc_s"]
    return vals


def components(pairs):
    """Connected components of an undirected edge list: node -> the
    smallest node of its component (what a transitive closure followed by
    min(reachable) gives)."""
    parent = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


CLOSURE_START = "\nedges AS ("
CLOSURE_END = "\nquality AS ("


def split_closure(sql):
    """Split an oracle SQL whose `edges`..`clusters` CTEs compute duplicate
    clusters by recursive transitive closure over the `pairs` CTE into
    (the query returning the pairs, the query with `clusters` read from a
    table `closure_clusters(doc_id, cluster_id)`). Raises ValueError when
    the SQL does not have that shape."""
    i, j = sql.find(CLOSURE_START), sql.find(CLOSURE_END)
    if i < 0 or j < i or "\nclusters AS (" not in sql[i:j] or "\npairs AS (" not in sql[:i]:
        raise ValueError("oracle SQL has no pairs -> closure -> clusters chain")
    pairs_sql = sql[:i].rstrip().rstrip(",") + "\nSELECT id_a, id_b FROM pairs"
    final_sql = (sql[:i] + "\nclusters AS (SELECT doc_id, cluster_id FROM closure_clusters),"
                 + sql[j:])
    return pairs_sql, final_sql


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
