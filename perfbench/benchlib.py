"""Pure helpers of the benchmark: percentiles, span self time, call-site to
layer mapping, per-layer metrics from a trace, and the result schema.

Nothing here starts processes or touches the engine; see test_benchlib.py.
"""
import math
import statistics

# The engine's layers, named after the modules under src/main/scala/graft/.
LAYERS = ["sources", "features", "cluster", "coherence", "refine", "api",
          "operators", "streaming", "plans"]

# Package under graft. -> layer. Kernels in text/functions/expressions run
# inside featurization; schema readers belong to sources.
PACKAGE_LAYER = {
    "sources": "sources", "schema": "sources",
    "features": "features", "text": "features", "functions": "features",
    "expressions": "features",
    "cluster": "cluster", "coherence": "coherence", "refine": "refine",
    "api": "api",
    "operators": "operators", "ml": "operators", "enrich": "operators",
    "multimodal": "operators",
    "streaming": "streaming", "plans": "plans",
}

# (class, method or None, layer): checked on every frame before the package
# rule. MLlib's K-means and LDA run inside api/refine calls but are the
# cluster and refine layers' work; ModelPipeline's methods each drive one
# layer; the export manifest is the sources layer's commit protocol.
CLASS_RULES = [
    ("org.apache.spark.ml.clustering.KMeans", None, "cluster"),
    ("org.apache.spark.mllib.clustering.KMeans", None, "cluster"),
    ("org.apache.spark.ml.clustering.LDA", None, "refine"),
    ("org.apache.spark.mllib.clustering.LDA", None, "refine"),
    ("org.apache.spark.mllib.clustering.OnlineLDAOptimizer", None, "refine"),
    ("org.apache.spark.mllib.clustering.EMLDAOptimizer", None, "refine"),
    ("graft.api.ModelPipeline", "counts", "features"),
    ("graft.api.ModelPipeline", "weights", "features"),
    ("graft.api.ModelPipeline", "fit", "features"),
    ("graft.api.ModelPipeline", "split", "refine"),
    ("graft.api.ModelPipeline", "merge", "refine"),
    ("graft.api.ModelPipeline", "optimizeFrom", "refine"),
    # reportFrom's own action materializes the per-cluster top terms
    ("graft.api.ModelPipeline", "reportFrom", "cluster"),
    ("graft.api.ModelPipeline", "coherence", "coherence"),
    ("graft.operators.PackOps", "exportManifest", "sources"),
]


def percentile(values, q):
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def clipped(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(clipped(
            [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
            s["start"], s["end"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _frame(line):
    """'pkg.Class$.method(File.scala:1)' -> ('pkg.Class', ['method'])."""
    head = line.strip().split("(", 1)[0]
    if "." not in head:
        return "", []
    cls, method = head.rsplit(".", 1)
    cls = cls.split("$", 1)[0]
    return cls, [t for t in method.split("$") if t]


def layer_of_callsite(details, span_layer=None):
    """Layer of a stage from Spark's long call site (one frame per line,
    innermost first): the first frame that a class rule or a graft package
    claims decides; a stage with no engine frame (a benchmark action, a
    stream or broadcast thread) takes the layer of its enclosing span."""
    for line in (details or "").splitlines():
        cls, methods = _frame(line)
        if not cls:
            continue
        for rule_cls, rule_method, layer in CLASS_RULES:
            if cls == rule_cls and (rule_method is None or rule_method in methods):
                return layer
        if cls.startswith("graft."):
            pkg = cls.split(".")[1]
            if pkg in PACKAGE_LAYER:
                return PACKAGE_LAYER[pkg]
    if span_layer in LAYERS:
        return span_layer
    return "bench"


# ---- per-layer metrics from one run's trace ------------------------------

MB = 1024.0 * 1024.0


def per_layer_names():
    """Every per-layer metric the traced run reports, with its unit."""
    names = {
        "features.counts_s": "s", "features.tfidf_s": "s",
        "features.executor_s": "s", "features.shuffle_write_mb": "MB",
        "features.vectorize_s": "s",
        "cluster.kmeans_fit_s": "s", "cluster.kmeans_jobs": "count",
        "cluster.driver_s": "s", "cluster.top_terms_s": "s",
        "coherence.report_s": "s", "coherence.shuffle_read_mb": "MB",
        "refine.lda_split_s": "s", "refine.lda_jobs": "count",
        "refine.driver_s": "s", "refine.clusters_split": "count",
        "refine.merge_s": "s",
        "api.save_s": "s", "api.bytes_written_mb": "MB",
        "api.load_s": "s", "api.predict_s": "s", "api.predict_jobs": "count",
        "api.driver_s": "s",
        "api.memo_builds": "count", "api.memo_hits": "count",
        "api.memo_build_s": "s",
        "sources.input_mb": "MB", "sources.export_s": "s",
        "sources.export_mb": "MB",
        "operators.corpus_prep_s": "s", "operators.dedup_s": "s",
        "operators.admission_s": "s", "operators.executor_s": "s",
        "operators.shuffle_write_mb": "MB", "operators.spill_mb": "MB",
        "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
        "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.checkpoint_bytes": "bytes",
        "plans.codegen_classes": "count", "plans.codegen_ms": "ms",
        "session.gc_s": "s",
        "trace.overhead_pct": "%", "trace.span_coverage_pct": "%",
    }
    for layer in LAYERS:
        names[f"{layer}.task_failures"] = "count"
    return names


# span name -> the per-layer metric that reports its wall time
SPAN_METRICS = {
    "features.counts": "features.counts_s",
    "features.tfidf": "features.tfidf_s",
    "features.vectorize": "features.vectorize_s",
    "cluster.kmeans_fit": "cluster.kmeans_fit_s",
    "coherence.report": "coherence.report_s",
    "refine.lda_split": "refine.lda_split_s",
    "refine.merge": "refine.merge_s",
    "api.save": "api.save_s",
    "api.load": "api.load_s",
    "api.predict": "api.predict_s",
    "sources.export": "sources.export_s",
    "operators.corpus_prep": "operators.corpus_prep_s",
    "operators.dedup": "operators.dedup_s",
    "operators.admission": "operators.admission_s",
}

# span name -> (driver-time metric, job-count metric, layer the jobs count in)
SPAN_JOB_METRICS = {
    "cluster.kmeans_fit": ("cluster.driver_s", "cluster.kmeans_jobs", "cluster"),
    "refine.lda_split": ("refine.driver_s", "refine.lda_jobs", "refine"),
    "api.predict": ("api.driver_s", "api.predict_jobs", None),
}


class TraceIndex:
    """Joins one run's spans, jobs, stages and stream batches."""

    def __init__(self, spans, jobs, stages, batches):
        self.spans = {s["id"]: s for s in spans}
        self.jobs = jobs
        self.batches = batches
        self.stages = {}
        for st in stages:  # the last attempt of a stage wins
            self.stages[st["stage"]] = st
        self.stage_job = {}
        for j in jobs:
            for sid in j["stages"]:
                self.stage_job[sid] = j
        self.self_time = self_times(spans)

    def span_of(self, job):
        return self.spans.get(job["span"])

    def rep_of(self, job):
        s = self.span_of(job)
        return s["rep"] if s else None

    def stage_layer(self, st):
        job = self.stage_job.get(st["stage"])
        span = self.span_of(job) if job else None
        return layer_of_callsite(st.get("details"), span["layer"] if span else None)

    def job_layer(self, job):
        done = [self.stages[s] for s in job["stages"] if s in self.stages]
        if not done:
            span = self.span_of(job)
            return span["layer"] if span and span["layer"] in LAYERS else "bench"
        return self.stage_layer(max(done, key=lambda st: st["stage"]))

    def in_span(self, job, span_id):
        s = self.span_of(job)
        while s is not None:
            if s["id"] == span_id:
                return True
            s = self.spans.get(s["parent"])
        return False


def rep_layer_metrics(ix, rep, counters=None, extra=None):
    """Per-layer metrics of one traced repetition `rep`."""
    counters = counters or {}
    m = {name: 0.0 for name in per_layer_names()}
    def ours(r):  # the repetition and its sub-repetitions ("rep/part")
        return r is not None and (r == rep or r.startswith(rep + "/"))
    rep_spans = [s for s in ix.spans.values() if ours(s["rep"])]
    for s in rep_spans:
        key = SPAN_METRICS.get(s["name"])
        if key:
            m[key] += (s["end"] - s["start"]) / 1e9
        if s["name"] in SPAN_JOB_METRICS:
            driver_key, jobs_key, layer = SPAN_JOB_METRICS[s["name"]]
            own = [j for j in ix.jobs if ix.in_span(j, s["id"])]
            busy = union_length(clipped([(j["start"], j["end"]) for j in own],
                                        s["start"], s["end"]))
            m[driver_key] += ((s["end"] - s["start"]) - busy) / 1e9
            m[jobs_key] += sum(1 for j in own
                               if layer is None or ix.job_layer(j) == layer)
    rep_jobs = [j for j in ix.jobs if ours(ix.rep_of(j))]
    report = next((s for s in rep_spans if s["name"] == "coherence.report"), None)
    for j in rep_jobs:
        layer = ix.job_layer(j)
        secs = (j["end"] - j["start"]) / 1e9
        if report is not None and layer == "cluster" and ix.in_span(j, report["id"]):
            m["cluster.top_terms_s"] += secs
        first = [ix.stages[s] for s in j["stages"] if s in ix.stages]
        if first and min(first, key=lambda st: st["stage"])["name"].startswith(
                ("localCheckpoint", "checkpoint")):
            m["api.memo_build_s"] += secs
    export = [s for s in rep_spans if s["name"] == "sources.export"]
    save = [s for s in rep_spans if s["name"] == "api.save"]
    for st in ix.stages.values():
        job = ix.stage_job.get(st["stage"])
        if job is None or not ours(ix.rep_of(job)):
            continue
        layer = ix.stage_layer(st)
        if layer in LAYERS:
            m[f"{layer}.task_failures"] += st.get("task_failures", 0)
        if st.get("scan"):
            m["sources.input_mb"] += st.get("input_bytes", 0) / MB
        if layer == "features":
            m["features.executor_s"] += st.get("executor_run_ms", 0) / 1e3
            m["features.shuffle_write_mb"] += st.get("shuffle_write_bytes", 0) / MB
        if layer == "operators":
            m["operators.executor_s"] += st.get("executor_run_ms", 0) / 1e3
            m["operators.shuffle_write_mb"] += st.get("shuffle_write_bytes", 0) / MB
            m["operators.spill_mb"] += st.get("spill_bytes", 0) / MB
        if layer == "coherence":
            m["coherence.shuffle_read_mb"] += st.get("shuffle_read_bytes", 0) / MB
        if any(ix.in_span(job, s["id"]) for s in export):
            m["sources.export_mb"] += st.get("output_bytes", 0) / MB
        if any(ix.in_span(job, s["id"]) for s in save):
            m["api.bytes_written_mb"] += st.get("output_bytes", 0) / MB
    batches = [b for b in ix.batches if ours(b["rep"])]
    if batches:
        m["streaming.batches"] = len(batches)
        m["streaming.batch_p50_ms"] = median(
            [b["duration_ms"].get("triggerExecution", 0) for b in batches])
        m["streaming.add_batch_ms"] = sum(b["duration_ms"].get("addBatch", 0) for b in batches)
        m["streaming.wal_commit_ms"] = sum(
            b["duration_ms"].get("walCommit", 0) + b["duration_ms"].get("commitOffsets", 0)
            for b in batches)
        m["streaming.query_planning_ms"] = sum(
            b["duration_ms"].get("queryPlanning", 0) for b in batches)
        m["streaming.checkpoint_bytes"] = max(b.get("checkpoint_bytes", 0) for b in batches)
    m["api.memo_builds"] = counters.get("memo_builds", 0)
    m["api.memo_hits"] = counters.get("memo_hits", 0)
    m["plans.codegen_classes"] = counters.get("codegen_classes", 0)
    m["plans.codegen_ms"] = counters.get("codegen_ns", 0) / 1e6
    m["session.gc_s"] = counters.get("gc_ms", 0) / 1e3
    for k, v in (extra or {}).items():
        m[k] = v
    return m


def layer_self_table(ix, reps):
    """Layer -> summed self time (s) of the spans of `reps`."""
    out = {}
    for sid, t in ix.self_time.items():
        s = ix.spans[sid]
        if s["rep"] in reps:
            out[s["layer"]] = out.get(s["layer"], 0.0) + t / 1e9
    return out


def span_coverage(ix, rep, wall_s):
    """Share (%) of a repetition's wall time its call spans cover."""
    calls = [(s["start"], s["end"]) for s in ix.spans.values()
             if s["rep"] == rep and s["layer"] != "rep"]
    return 100.0 * union_length(calls) / 1e9 / wall_s if wall_s else 0.0


# ---- result line ---------------------------------------------------------

def result_line(correct, attempted, failed, metrics, units):
    """The benchmark's last stdout line, validated against its schema."""
    line = {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}
    check_result_line(line, list(units))
    return line


def check_result_line(line, names):
    """Raise ValueError unless `line` has exactly the contract's shape and
    reports every metric in `names` as a finite number."""
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(line)}")
    if not isinstance(line["correct"], bool):
        raise ValueError("correct must be a bool")
    for k in ("attempted", "failed"):
        if not isinstance(line[k], int) or isinstance(line[k], bool) or line[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if line["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    if set(line["metrics"]) != set(names):
        raise ValueError(f"metrics {sorted(line['metrics'])} != {sorted(names)}")
    for k, v in line["metrics"].items():
        if set(v) != {"value", "unit"} or not math.isfinite(v["value"]):
            raise ValueError(f"metric {k} malformed: {v}")
