"""Every metric the benchmark reports, with its unit, direction and, for a
per-layer metric, the end-to-end metric and workload it should move.

``BENCHMARK.json`` at the repository root lists the same metrics (the
self-tests keep the two in step); its fixed schema has no room for the
layer targets, which live here and in every span file.
"""

from __future__ import annotations

#: (name, unit, better, bound): bound is the share of the parent's median by
#: which the metric may worsen before a change counts as a regression. The
#: timings' run-to-run spread on a shared 4-core host is 0.1-0.18 of the
#: median (whole-host speed drifts by that much over minutes), so their
#: bounds sit at the 0.25 ceiling.
END_TO_END = [
    ("job_s", "s", "lower", 0.25),
    ("edges_per_s", "edges/s", "higher", 0.25),
    ("cc_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("heap_alloc_mb", "MB", "lower", 0.1),
    ("shuffle_mb", "MB", "lower", 0.15),
]

#: spans, in job order; each is a call into one engine layer
SPANS = [
    "session",  # parconnect_spark.get_spark
    "read",  # sources.tables.read_table
    "derive",  # operators.derive (+ operators.relabel)
    "fastq",  # sources.fastq
    "cc",  # plans.connectivity
    "hybrid",  # pipeline (+ plans.bfs, plans.decision)
    "pagerank",  # plans.pagerank
    "labelprop",  # plans.labelprop
    "triangles",  # plans.triangles
    "checkpoint.save",  # streaming.checkpoint
]

#: (suffix, unit, better) reported for every span; all but self_s include
#: the span's children
SPAN_METRICS = [
    ("s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_s", "s", "lower"),
    ("core_util", "ratio", "higher"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("failed_tasks", "count", "lower"),
]

#: (name, unit, better, span count it sums) for the layer-specific counts
LAYER_COUNTS = [
    ("cc.supersteps", "count", "lower", ("cc", "supersteps")),
    ("cc.jobs_per_superstep", "jobs/step", "lower", None),
    ("hybrid.bfs_s", "s", "lower", ("hybrid", "bfs_s")),
    ("hybrid.coloring_s", "s", "lower", ("hybrid", "coloring_s")),
    ("hybrid.coloring_supersteps", "count", "lower", ("hybrid", "coloring_supersteps")),
    ("pagerank.iters", "count", "lower", ("pagerank", "iters")),
    ("labelprop.iters", "count", "lower", ("labelprop", "iters")),
    ("derive.edges_out", "rows", "higher", ("derive", "edges_out")),
    ("fastq.edges_out", "rows", "higher", ("fastq", "edges_out")),
    ("triangles.count", "count", "higher", ("triangles", "count")),
    ("checkpoint.steps", "count", "lower", ("checkpoint.save", "steps")),
    ("checkpoint.mb_written", "MB", "lower", ("checkpoint.save", "mb_written")),
]

#: harness and host readings that ride along with the traced run
RUN_METRICS = [
    ("trace.overhead_s", "s", "lower"),
    ("host.loadavg1", "load", "lower"),
    ("host.steal_pct", "%", "lower"),
]

#: which end-to-end metric a layer's numbers should move, on which workload;
#: the most specific prefix wins
TARGETS = {
    "session": "setup_s on both workloads",
    "read": "job_s on transcripts",
    "derive": "job_s and edges_per_s on transcripts; no change on debruijn",
    "fastq": "job_s and edges_per_s on debruijn only",
    "cc": "cc_s on debruijn (many light supersteps); no change on transcripts",
    "checkpoint": "cc_s on debruijn",
    "hybrid": "cc_s on transcripts (BFS peel of the hub-dominated giant component)",
    "pagerank": "job_s on transcripts",
    "labelprop": "job_s on transcripts",
    "triangles": "job_s on transcripts",
    "trace": "none: tracing cost, traced minus untraced job_s",
    "host": "none: host load during the run",
}


def per_layer() -> list[tuple[str, str, str]]:
    out = [(f"{s}.{m}", unit, better) for s in SPANS for m, unit, better in SPAN_METRICS]
    out += [(n, unit, better) for n, unit, better, _ in LAYER_COUNTS]
    return out + RUN_METRICS


def target(metric: str) -> str:
    parts = metric.split(".")
    for i in range(len(parts), 0, -1):
        key = ".".join(parts[:i])
        if key in TARGETS:
            return TARGETS[key]
    raise KeyError(metric)

