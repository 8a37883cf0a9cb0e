"""Self-tests of the benchmark harness: oracles, span bookkeeping, and span
attribution on small real jobs.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import catalog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from spans import JvmTracer, Span, Tracer, inclusive, self_seconds  # noqa: E402

# ------------------------------------------------------------ oracle kernels


def _components_by_search(n, edges):
    adj = [[] for _ in range(n)]
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    label = [-1] * n
    for v in range(n):
        if label[v] < 0:
            stack = [v]
            label[v] = v
            while stack:
                for w in adj[stack.pop()]:
                    if label[w] < 0:
                        label[w] = v
                        stack.append(w)
    return label


def test_min_label_components_matches_search():
    rng = np.random.default_rng(7)
    n = 300
    src, dst = rng.integers(0, n, 250), rng.integers(0, n, 250)
    want = _components_by_search(n, zip(src.tolist(), dst.tolist()))
    assert oracle.min_label_components(src, dst, n).tolist() == want


def test_majority_labels_matches_loop():
    rng = np.random.default_rng(8)
    n = 60
    src, dst = rng.integers(0, n, 400), rng.integers(0, n, 400)
    labels = rng.permutation(n) * 3
    lab = labels.copy()
    for _ in range(3):
        new = lab.copy()
        for u in range(n):
            counts: dict = {}
            for s, d in zip(src, dst):
                if s == u:
                    counts[lab[d]] = counts.get(lab[d], 0) + 1
            if counts:
                new[u] = min(counts, key=lambda x: (-counts[x], x))
        lab = new
    assert oracle.majority_labels(src, dst, labels, 3).tolist() == lab.tolist()


def test_pagerank_conserves_mass_with_dangling_vertices():
    src, dst = np.array([0, 1, 2, 2]), np.array([1, 2, 0, 3])  # 3 is dangling
    rank = oracle.pagerank(src, dst, 4, 20)
    assert rank.sum() == pytest.approx(1.0, abs=1e-12)


def test_triangle_count_matches_brute_force():
    import itertools

    import duckdb

    rng = np.random.default_rng(9)
    n = 25
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, n, (120, 2)) if a != b}
    und = {(min(a, b), max(a, b)) for a, b in pairs}
    want = sum(
        1
        for a, b, c in itertools.combinations(range(n), 3)
        if {(a, b), (a, c), (b, c)} <= und
    )
    con = duckdb.connect()
    con.register("rows", pd.DataFrame(sorted(pairs), columns=["a", "b"]))
    assert oracle.triangle_count(con, "SELECT a, b FROM rows") == want


def test_debruijn_oracle_on_a_hand_made_read(tmp_path):
    k = 3
    path = tmp_path / "r.fastq"
    path.write_bytes(b"@r0\nACGTNAC\n+\nIIIIIII\n@r1\nGTTNNAA\n+\nIIIIIII\n")

    def canon(s):
        val = lambda t: int(t.translate(str.maketrans("ACGT", "0123")), 4)  # noqa: E731
        return min(val(s), val(s[::-1].translate(str.maketrans("ACGT", "TGCA"))))

    o = oracle.debruijn_oracle(str(path), k)
    # only ACG->CGT spans k+1 called bases
    assert o["pair_rows"] == 1
    a, b = sorted((canon("ACG"), canon("CGT")))
    assert o["edges"].tolist() == [[a, b]]


# ----------------------------------------------------------- checks bite


@pytest.fixture(scope="module")
def small_transcripts(tmp_path_factory):
    d = tmp_path_factory.mktemp("tr")
    gen.transcripts(str(d / "table"), seed=3, n_convs=200)
    return oracle.transcripts_oracle(str(d / "table"), pr_iters=5, threads=2)


def _perfect_transcripts_output(o):
    names = o["names"]
    ids = np.arange(names.size) * 2 + 5  # any injective id assignment
    a, b = o["edges"][:, 0], o["edges"][:, 1]
    src, dst = np.concatenate([a, b]), np.concatenate([b, a])
    min_id = np.full(names.size, np.iinfo(np.int64).max)
    np.minimum.at(min_id, o["root"], ids)
    return {
        "id_map": pd.DataFrame({"name": names, "id": ids}),
        "edges": pd.DataFrame({"src": ids[src], "dst": ids[dst]}),
        "hybrid": pd.DataFrame({"v": ids, "label": min_id[o["root"]]}),
        "pagerank": pd.DataFrame({"v": ids, "rank": o["rank"]}),
        "labelprop": pd.DataFrame({"v": ids, "label": oracle.majority_labels(src, dst, ids, 3)}),
        "triangles": o["triangles"],
        "component_count": int(np.unique(o["root"]).size),
    }


def test_transcripts_check_accepts_correct_and_flags_each_wrong_output(small_transcripts):
    o = small_transcripts
    out = _perfect_transcripts_output(o)
    assert not any(oracle.check_transcripts(o, out, lp_iters=3).values())

    def broken(name, frame_fn):
        bad = dict(out)
        bad[name] = frame_fn(out[name])
        return oracle.check_transcripts(o, bad, lp_iters=3)

    assert broken("edges", lambda df: df.iloc[1:])["derive"]
    assert broken("hybrid", lambda df: df.assign(label=df["label"].where(df.index != 3, -1)))["hybrid"]
    assert broken("pagerank", lambda df: df.assign(rank=df["rank"] * (1 + 1e-4)))["pagerank"]
    assert broken("labelprop", lambda df: df.assign(label=df["label"].where(df.index != 0, -7)))["labelprop"]
    assert broken("triangles", lambda t: t + 1)["triangles"]


# ---------------------------------------------------------------- spans


def _fake(spans):
    out = []
    for i, (name, parent, start, end, jobs) in enumerate(spans):
        s = Span(i, name, parent, 1, start, end)
        s.own = {"jobs": jobs}
        out.append(s)
    return out


def test_self_and_inclusive_counters():
    spans = _fake([("cc", None, 0.0, 10.0, 5), ("checkpoint.save", 0, 1.0, 3.0, 2),
                   ("checkpoint.save", 0, 4.0, 5.0, 1)])
    assert self_seconds(spans[0], spans) == pytest.approx(7.0)
    assert inclusive(spans[0], spans)["jobs"] == 8


def test_tracer_records_parents_and_restores_nesting():
    tr = Tracer()
    tr.start_job(4)
    with tr.span("cc"):
        with tr.span("checkpoint.save") as inner:
            inner.add("steps", 1)
    with tr.span("pagerank"):
        pass
    cc, save, pr = tr.spans
    assert (cc.parent, save.parent, pr.parent) == (None, cc.id, None)
    assert {s.job for s in tr.spans} == {4}
    assert save.counts == {"steps": 1}


def test_catalog_names_are_unique_and_targeted():
    names = [n for n, _, _ in catalog.per_layer()] + [n for n, *_ in catalog.END_TO_END]
    assert len(names) == len(set(names))
    assert all(catalog.target(n) for n, _, _ in catalog.per_layer())


def test_benchmark_json_matches_catalog():
    import run
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        on_disk = json.load(f)
    assert on_disk["command"] == ["python3", "perfbench/run.py"]
    assert on_disk["paths"] == ["perfbench"]
    assert on_disk["run_seconds"] == run.RUN_SECONDS
    assert on_disk["workloads"] == [{"name": w.name, "why": w.why} for w in WORKLOADS.values()]
    assert [w["name"] for w in on_disk["workloads"]] == run.WORKLOAD_NAMES
    assert [tuple(m.values()) for m in on_disk["end_to_end"]] == catalog.END_TO_END
    assert [tuple(m.values()) for m in on_disk["per_layer"]] == catalog.per_layer()


# ------------------------------------------------ attribution on real jobs


@pytest.fixture(scope="module")
def spark():
    import run

    cpus = len(os.sched_getaffinity(0))
    dirs = run._prepare_env(cpus)
    session = run._start_session(cpus, dirs, trace=True)
    yield session
    run._shutdown(session)


@pytest.mark.slow
@pytest.mark.parametrize(
    "name,sizes",
    [("transcripts", {"n_convs": 300}), ("debruijn", {"genomes": 2, "genome_len": 300})],
)
def test_spans_nest_end_on_actions_and_count_supersteps(spark, tmp_path, name, sizes):
    from workloads import WORKLOADS

    wl = WORKLOADS[name]
    wl.generate(str(tmp_path), 5, sizes)
    o = wl.make_oracle(str(tmp_path), sizes, 2)
    sc = spark.sparkContext
    tr = JvmTracer(spark)
    tr.start_job(1)
    loose_before = len(sc.statusTracker().getJobIdsForGroup(None))
    import time

    t0 = time.perf_counter()
    job = wl.job(spark, str(tmp_path), tr, str(tmp_path / "work"))
    job_s = time.perf_counter() - t0
    tr.collect(1)
    spans = tr.job_spans(1)
    # every Spark job of the benchmark job ran inside some span
    assert len(sc.statusTracker().getJobIdsForGroup(None)) == loose_before
    by_id = {s.id: s for s in spans}
    for s in spans:
        assert s.end >= s.start
        assert self_seconds(s, spans) >= 0
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start and s.end <= p.end
        # each span ends on an action, so its layer's work ran inside it
        assert inclusive(s, spans)["jobs"] > 0, s.name
    assert sum(s.seconds for s in spans if s.parent is None) <= job_s
    out = job.collect()
    job.release(spark)
    assert not any(wl.check(o, out).values())
    if name == "debruijn":
        cc = next(s for s in spans if s.name == "cc")
        saves = [s for s in spans if s.name == "checkpoint.save"]
        assert cc.counts["supersteps"] == out["supersteps"] == len(saves)
        assert out["checkpoint_steps"] == list(range(1, len(saves) + 1))
