"""The benchmark's workloads: input generation, oracle, job, check.

Two workloads cover every layer: ``transcripts`` runs derivation, the
hybrid pipeline (BFS peel + coloring), PageRank, label propagation and
triangles; ``debruijn`` runs FASTQ k-mer extraction and checkpointed
connected components.

Each job is one closed-loop request: a single client runs the layers in
order and the next job starts only after the previous one's last result is
materialised. Every call into an engine layer sits in a span named after
that layer, and every span ends on an action, so a layer's lazy plan is
executed, and timed, inside its own span.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import gen
import oracle
from spans import Tracer

from parconnect_spark.cache import release_caches
from parconnect_spark.operators import derive_edges
from parconnect_spark.pipeline import parconnect_pipeline
from parconnect_spark.plans import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from parconnect_spark.sources import read_table
from parconnect_spark.sources.fastq import debruijn_edges_from_fastq
from parconnect_spark.streaming import SuperstepCheckpoint

PR_ITERS = 5
LP_ITERS = 3
K = 31


@dataclass
class Job:
    """What one job leaves behind for the checks, outside the timed window."""

    edge_rows: int
    frames: dict  # name -> persisted DataFrame to collect for checking
    values: dict  # name -> plain value (counts, step lists)
    cached: list  # DataFrames to unpersist once checked
    cleanup: Callable[[], None] = lambda: None

    def collect(self) -> dict:
        out = {k: df.toPandas() for k, df in self.frames.items()}
        out.update(self.values)
        return out

    def release(self, spark) -> None:
        for df in self.cached:
            df.unpersist()
        release_caches(spark)
        self.cleanup()


class _Keep:
    """persist() that remembers what to unpersist after the check."""

    def __init__(self) -> None:
        self.cached: list = []

    def __call__(self, df):
        df = df.persist()
        self.cached.append(df)
        return df


class TimedCheckpoint:
    """SuperstepCheckpoint wrapper that puts every ``save`` in a
    ``checkpoint.save`` span and counts the bytes it commits."""

    def __init__(self, inner: SuperstepCheckpoint, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def save(self, step, df, metrics=None):
        with self._tracer.span("checkpoint.save") as s:
            out = self._inner.save(step, df, metrics)
            s.add("steps", 1)
            s.add("mb_written", _tree_bytes(os.path.join(self._inner.dir, f"step={step}")) / 1e6)
        return out


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ----------------------------------------------------------------- transcripts


def transcripts_job(spark, inp: str, tr: Tracer, work: str) -> Job:
    keep = _Keep()
    with tr.span("read"):
        table = read_table(spark, os.path.join(inp, "table"))
        table.count()
    with tr.span("derive") as s:
        edges, id_map = derive_edges(table)
        edges, id_map = keep(edges), keep(id_map)
        n_edges = edges.count()
        id_map.count()
        s.add("edges_out", n_edges)
    with tr.span("pagerank") as s:
        ranks = keep(pagerank(edges, tol=None, num_iters=PR_ITERS))
        ranks.count()
        s.add("iters", PR_ITERS)
    with tr.span("labelprop") as s:
        lp = keep(label_propagation(edges, num_iters=LP_ITERS, rule="majority"))
        lp.count()
        s.add("iters", LP_ITERS)
    with tr.span("triangles") as s:
        tri = triangle_count(edges)
        s.add("count", tri)
    with tr.span("hybrid") as s:
        # Last, because the pipeline unpersists its input edges on return.
        # BFS is forced: the power-law test declines it on this graph; this
        # is the reference benchmark's manual BFS switch. The peel takes the
        # single giant component, hub fan-out included.
        res = parconnect_pipeline(edges, force_bfs=True)
        labels = keep(res.labels)
        labels.count()
        coloring_s = sum(m["seconds"] for m in res.metrics if "superstep" in m)
        s.add("bfs_s", res.seconds - coloring_s)
        s.add("coloring_s", coloring_s)
        s.add("coloring_supersteps", res.coloring_iterations)
    return Job(
        edge_rows=n_edges,
        frames={"id_map": id_map, "edges": edges, "hybrid": labels, "pagerank": ranks, "labelprop": lp},
        values={"triangles": tri, "component_count": res.component_count},
        cached=keep.cached,
    )


# -------------------------------------------------------------------- debruijn


def debruijn_job(spark, inp: str, tr: Tracer, work: str) -> Job:
    keep = _Keep()
    with tr.span("fastq") as s:
        edges = keep(debruijn_edges_from_fastq(spark, os.path.join(inp, "reads.fastq"), k=K))
        rows = edges.count()
        s.add("edges_out", rows)
    ck_dir = os.path.join(work, "checkpoints")
    ck = TimedCheckpoint(SuperstepCheckpoint(spark, ck_dir, f"job-{tr.job}"), tr)
    with tr.span("cc") as s:
        cc = connected_components(edges, checkpoint=ck, checkpoint_every=1)
        labels = keep(cc.labels)
        labels.count()
        s.add("supersteps", cc.iterations)
    return Job(
        edge_rows=rows,
        frames={"edges": edges, "cc": labels},
        values={"checkpoint_steps": ck.committed_steps(), "supersteps": cc.iterations},
        cached=keep.cached,
        cleanup=lambda: shutil.rmtree(ck.dir, ignore_errors=True),
    )


# ---------------------------------------------------------------- registry


@dataclass
class Workload:
    name: str
    why: str
    sizes: dict
    warmup: dict  # sizes of the set-up's warm-up input
    generate: Callable[[str, int, dict], int]
    make_oracle: Callable[[str, dict, int], dict]
    job: Callable
    check: Callable[[dict, dict], dict]
    calls: tuple  # the checked analytics calls of one job
    cc_span: str  # the span whose time is the workload's cc_s


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "transcripts",
            "North-rule payload: 20k conversations from --seed. String derive + "
            "relabel; ~15 entity hubs in every conversation skew the BFS peel, "
            "PageRank, LP and triangles",
            {"n_convs": 20_000},
            {"n_convs": 200},
            lambda d, seed, z: gen.transcripts(os.path.join(d, "table"), seed, z["n_convs"]),
            lambda d, z, th: oracle.transcripts_oracle(os.path.join(d, "table"), PR_ITERS, th),
            transcripts_job,
            lambda o, out: oracle.check_transcripts(o, out, LP_ITERS),
            ("derive", "hybrid", "pagerank", "labelprop", "triangles"),
            "hybrid",
        ),
        Workload(
            "debruijn",
            "Paper's application: 2 genomes x 4 kb at 10x, 100-bp reads from "
            "--seed. FASTQ k-mer edges, then ~11 light CC supersteps, each with "
            "a durable checkpoint write",
            {"genomes": 2, "genome_len": 4000},
            {"genomes": 2, "genome_len": 1000},
            lambda d, seed, z: gen.fastq(
                os.path.join(d, "reads.fastq"), seed, z["genomes"], z["genome_len"]
            ),
            lambda d, z, th: oracle.debruijn_oracle(os.path.join(d, "reads.fastq"), K),
            debruijn_job,
            oracle.check_debruijn,
            ("fastq", "cc"),
            "cc",
        ),
    ]
}
