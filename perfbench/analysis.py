"""Turns the JVM's raw run record into the reported metrics.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced one. Pure functions, so the arithmetic is unit-tested on its own
(perfbench/test_analysis.py).
"""
import math
import statistics

# the packs the query mix draws from (perfbench/scala/.../Main.scala QueryMix)
PACKS = ["SimilarityQueries", "CoreQueries", "TextQueries", "McdmQueries", "EvalQueries",
         "DedupQueries", "CorpusOpsQueries", "AsofQueries", "CurationQueries",
         "RankingQueries", "BarrierQueries", "EvalStatsQueries"]

# span name -> per-layer metric reporting the span's median wall time
SPAN_WALL = {
    "eventbars.bars": "eventbars.bars.wall_s",
    "laguerre.regimes": "laguerre.regimes.wall_s",
    "eventbars.signal_frame": "eventbars.signal_frame.wall_s",
    "barriers.triple_barrier": "barriers.triple_barrier.wall_s",
    "barriers.metrics_agg": "barriers.metrics_agg.wall_s",
    "resultsink.overwrite": "resultsink.overwrite.wall_s",
    "walkforward.run": "walkforward.run.wall_s",
    "sparkentry.construct": "sparkentry.construct_s",
    "sparkentry.plan": "sparkentry.plan_s",
    "sparkentry.exec": "sparkentry.exec_s",
    "staging.dedup": "staging.dedup_s",
    "staging.mcdm": "staging.mcdm_s",
    "op": "op.wall_s",
}
# span name -> per-layer metric reporting the span's median driver-side time
SPAN_DRIVER = {
    "walkforward.run": "walkforward.run.driver_s",
    "sparkentry.query": "sparkentry.driver_s",
    "op": "op.driver_s",
}
# counts recorded at layer boundaries, reported as medians per occurrence
COUNTS = ["eventbars.signals", "barriers.scans", "resultsink.bytes_written",
          "resultsink.files_written", "walkforward.fold_rows", "walkforward.survivors"]
SPARK = ["jobs", "stages", "tasks", "tasks_failed", "executor_run_s", "executor_cpu_s",
         "gc_s", "task_queue_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"]

# (name, unit) of every metric a run reports
END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("work_per_s", "1/s"),
              ("op_p50_s", "s")]
PER_LAYER = (
    [(m, "s") for m in SPAN_WALL.values()]
    + [(m, "s") for m in SPAN_DRIVER.values()]
    + [(c, "bytes" if c.endswith("bytes_written") else "count") for c in COUNTS]
    + [("barriers.ns_per_scan", "ns")]
    + [(f"query_mix.{p}.p50_s", "s") for p in PACKS]
    + [(f"spark.{s}", "s/op" if s.endswith("_s") else
        "bytes/op" if s.endswith("_bytes") else "count/op") for s in SPARK]
    + [("trace.overhead_s", "s"), ("trace.overhead_pct", "%"), ("op.unspanned_s", "s")]
)

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples, p):
    """Nearest-rank percentile; +inf samples (failures) sort last."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns (percentile, value). With fewer than 20 samples no percentile
    qualifies and the maximum (percentile 100) is returned instead.
    """
    n = len(samples)
    for p in TAIL_PERCENTILES:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return p, percentile(samples, p)
    return 100.0, max(samples)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Spans:
    """Span tree from [id, parent, name, start_ms, end_ms] records."""

    def __init__(self, spans, jobs=()):
        self.by_id = {s[0]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s[1], []).append(s[0])
        # job group (a span id, as text) -> [(start_ms, end_ms)]
        self.jobs = {}
        for _, group, start, end in jobs:
            self.jobs.setdefault(str(group), []).append((start, end))

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, []))
        return out

    def wall_s(self, sid):
        s = self.by_id[sid]
        return (s[4] - s[3]) / 1e3

    def self_s(self, sid):
        """Wall time minus the part of it that child spans cover."""
        s = self.by_id[sid]
        kids = [(self.by_id[c][3], self.by_id[c][4]) for c in self.children.get(sid, [])]
        return self.wall_s(sid) - union_length(kids, s[3], s[4]) / 1e3

    def driver_s(self, sid):
        """Wall time not covered by any Spark job of the span or its descendants."""
        s = self.by_id[sid]
        jobs = [iv for d in self.subtree(sid) for iv in self.jobs.get(str(d), [])]
        return self.wall_s(sid) - union_length(jobs, s[3], s[4]) / 1e3


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def op_walls(ops):
    """Latency samples: a failed operation counts as +inf."""
    return [o["wall_s"] if o["ok"] else math.inf for o in ops]


def end_to_end(record):
    ops = record["ops"]
    walls = op_walls(ops)
    busy = sum(o["wall_s"] for o in ops)
    done = sum(o["work"] for o in ops if o["ok"])
    tail_p, tail_v = tail_percentile(walls)
    metrics = {
        "setup_s": _median(record["setup_s"]),
        "peak_rss_mb": record["peak_rss_mb"],
        "work_per_s": done / busy if busy > 0 else 0.0,
        "op_p50_s": statistics.median(walls),
    }
    info = {"tail_percentile": tail_p, "tail_s": tail_v, "samples": len(walls)}
    return metrics, info


def per_layer(record):
    ops = record["ops"]
    spans = Spans(record.get("spans", []), record.get("jobs", []))
    # spans whose jobs the listener did not see (untraced ops) or that ran
    # before the clock started (warm-up) are left out
    skip = set()
    for o in ops:
        if o["kind"] == "untraced" and o.get("span"):
            skip.update(spans.subtree(o["span"]))
    for sid, s in spans.by_id.items():
        if s[2] == "warmup":
            skip.update(spans.subtree(sid))
    live = [s for sid, s in spans.by_id.items() if sid not in skip]

    m = {name: 0.0 for name, _ in PER_LAYER}
    for span_name, metric in SPAN_WALL.items():
        m[metric] = _median([spans.wall_s(s[0]) for s in live if s[2] == span_name])
    for span_name, metric in SPAN_DRIVER.items():
        m[metric] = _median([spans.driver_s(s[0]) for s in live if s[2] == span_name])
    for c in COUNTS:
        m[c] = _median([v for sid, name, v in record.get("counts", [])
                        if name == c and sid not in skip])
    if m["barriers.scans"] > 0:
        m["barriers.ns_per_scan"] = m["barriers.triple_barrier.wall_s"] / m["barriers.scans"] * 1e9

    packs = record.get("packs", {})
    for p in PACKS:
        m[f"query_mix.{p}.p50_s"] = _median(
            [w for o, w in zip(ops, op_walls(ops)) if packs.get(o["label"]) == p])

    traced = [o for o in ops if o["kind"] == "traced" and o.get("span")]
    groups = record.get("groups", {})
    for s in SPARK:
        total = sum(groups.get(str(g), {}).get(s, 0)
                    for o in traced for g in spans.subtree(o["span"]))
        m[f"spark.{s}"] = total / len(traced) if traced else 0.0

    m["trace.overhead_s"], m["trace.overhead_pct"] = overhead(ops)
    # self time of a decomposed operation's workload span: the part of the
    # operation no layer span covers
    m["op.unspanned_s"] = _median([spans.self_s(c) for o in ops
                                   if o["kind"] == "decomposed" and o.get("span")
                                   for c in spans.children.get(o["span"], [])])
    return m


def overhead(ops):
    """Median over operation labels of (traced - untraced) median wall time."""
    diffs, bases = [], []
    for label in sorted({o["label"] for o in ops}):
        t = [o["wall_s"] for o in ops if o["label"] == label and o["kind"] == "traced" and o["ok"]]
        u = [o["wall_s"] for o in ops if o["label"] == label and o["kind"] == "untraced" and o["ok"]]
        if t and u:
            diffs.append(statistics.median(t) - statistics.median(u))
            bases.append(statistics.median(u))
    if not diffs:
        return 0.0, 0.0
    d, b = statistics.median(diffs), statistics.median(bases)
    return d, (100.0 * d / b if b > 0 else 0.0)


def result(record, traced):
    """The benchmark's final JSON object for one run."""
    ops = record["ops"]
    failed_ops = sum(1 for o in ops if not o["ok"])
    failed_checks = sum(1 for c in record["checks"] if not c["ok"])
    if traced:
        values, units = per_layer(record), dict(PER_LAYER)
    else:
        values, units = end_to_end(record)[0], dict(END_TO_END)
    return {
        "correct": failed_ops == 0 and failed_checks == 0,
        "attempted": len(ops) + len(record["checks"]),
        "failed": failed_ops + failed_checks,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
