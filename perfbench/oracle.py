"""Independent oracles for every output the benchmark checks.

Nothing here imports the engine. Each function works from the generated
input files (numpy, pyarrow, DuckDB) or from collected outputs, and every
check returns a list of mismatch messages (empty = correct).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

DAMPING = 0.85


# --------------------------------------------------------------- graph kernels


def min_label_components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Union-find by hooking roots onto the smaller root, then full path
    compression, until every edge joins one root. Returns, per vertex
    0..n-1, the smallest vertex index of its component."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        ru, rv = parent[src], parent[dst]
        hook = ru != rv
        if not hook.any():
            return parent
        lo, hi = np.minimum(ru[hook], rv[hook]), np.maximum(ru[hook], rv[hook])
        np.minimum.at(parent, hi, lo)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def pagerank(src: np.ndarray, dst: np.ndarray, n: int, iters: int) -> np.ndarray:
    """Fixed-iteration PageRank over directed rows (duplicates count), with
    uniform teleport and dangling mass spread uniformly."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        share = np.zeros(n)
        np.divide(rank, deg, out=share, where=~dangling)
        summed = np.bincount(dst, weights=share[src], minlength=n)
        rank = (1.0 - DAMPING) / n + DAMPING * (summed + rank[dangling].sum() / n)
    return rank


def majority_labels(
    src: np.ndarray, dst: np.ndarray, labels: np.ndarray, iters: int
) -> np.ndarray:
    """Synchronous majority label propagation: every vertex with out-rows
    adopts the label most frequent among its rows' destinations, ties to
    the smaller label; the rest keep theirs. ``src``/``dst`` index into
    ``labels``."""
    lab = labels.copy()
    for _ in range(iters):
        nl = lab[dst]
        order = np.lexsort((nl, src))
        s, l = src[order], nl[order]
        first = np.r_[True, (s[1:] != s[:-1]) | (l[1:] != l[:-1])]
        starts = np.flatnonzero(first)
        counts = np.diff(np.r_[starts, s.size])
        gs, gl = s[starts], l[starts]
        best = np.lexsort((gl, -counts, gs))
        win = np.r_[True, gs[best][1:] != gs[best][:-1]]
        new = lab.copy()
        new[gs[best][win]] = gl[best][win]
        lab = new
    return lab


def triangle_count(con: duckdb.DuckDBPyConnection, edges_sql: str) -> int:
    """Exact triangle count of the undirected simple graph under the
    relation ``edges_sql`` (columns a, b): rank vertices by (degree, id),
    orient every edge toward the higher rank, and close each wedge of two
    out-edges with the edge between their heads."""
    return int(
        con.execute(
            f"""
            WITH und AS (
                SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
                FROM ({edges_sql}) WHERE a <> b),
            ends AS (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und),
            rnk AS (
                SELECT v, row_number() OVER (ORDER BY count(*), v) AS r
                FROM ends GROUP BY v),
            o AS (
                SELECT least(ra.r, rb.r) AS lo, greatest(ra.r, rb.r) AS hi
                FROM und JOIN rnk ra ON ra.v = und.a JOIN rnk rb ON rb.v = und.b)
            SELECT count(*) FROM o o1
            JOIN o o2 ON o1.lo = o2.lo AND o1.hi < o2.hi
            JOIN o o3 ON o3.lo = o1.hi AND o3.hi = o2.hi
            """
        ).fetchone()[0]
    )


def _edge_keys(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sorted unique undirected pairs as an (m, 2) array, smaller end first."""
    pairs = np.stack([np.minimum(a, b), np.maximum(a, b)], axis=1)
    return np.unique(pairs, axis=0)


def _covers(pos: np.ndarray, n: int) -> bool:
    """True if ``pos`` lists each of 0..n-1 exactly once."""
    return pos.size == n and bool((pos >= 0).all()) and np.unique(pos).size == n


def _connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


# ----------------------------------------------------------------- transcripts


def transcripts_oracle(table_dir: str, pr_iters: int, threads: int) -> dict:
    """Edges, components, PageRank and triangle count of the link graph the
    transcripts table defines: an edge between consecutive turns' entities
    (tool if present, else role) and between each conversation and every
    entity it contains; vertices are named, edges undirected."""
    con = _connect(threads)
    files = os.path.join(table_dir, "*.parquet")
    con.execute(
        f"""
        CREATE TABLE e AS
        WITH t AS (
            SELECT conv_id, turn_idx,
                   CASE WHEN tool IS NOT NULL THEN 't:' || tool
                        ELSE 'r:' || role END AS ent
            FROM read_parquet('{files}')),
        s AS (
            SELECT ent AS a,
                   lead(ent) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS b
            FROM t),
        u AS (
            SELECT a, b FROM s WHERE b IS NOT NULL
            UNION ALL SELECT 'c:' || conv_id, ent FROM t)
        SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM u WHERE a <> b
        """
    )
    pairs = con.execute("SELECT a, b FROM e").fetchnumpy()
    names = np.unique(np.concatenate([pairs["a"], pairs["b"]]).astype(object))
    a = np.searchsorted(names, pairs["a"].astype(object))
    b = np.searchsorted(names, pairs["b"].astype(object))
    n = names.size
    sym_src, sym_dst = np.concatenate([a, b]), np.concatenate([b, a])
    return {
        "names": names,
        "edges": _edge_keys(a, b),
        "root": min_label_components(a, b, n),
        "rank": pagerank(sym_src, sym_dst, n, pr_iters),
        "triangles": triangle_count(con, "SELECT a, b FROM e"),
    }


def check_transcripts(o: dict, out: dict, lp_iters: int) -> dict[str, list[str]]:
    """Check derive, hybrid, pagerank, labelprop and triangles outputs
    against the oracle. ``out`` holds pandas frames collected from the
    engine."""
    errs: dict[str, list[str]] = {
        k: [] for k in ("derive", "hybrid", "pagerank", "labelprop", "triangles")
    }
    names = o["names"]
    idm = out["id_map"]
    ids = idm["id"].to_numpy()
    nm = idm["name"].to_numpy(dtype=object)
    pos = np.searchsorted(names, nm)
    pos = np.minimum(pos, names.size - 1)
    if nm.size != names.size or np.unique(ids).size != ids.size or not np.array_equal(names[pos], nm):
        errs["derive"].append("id_map is not a bijection onto the oracle's vertex names")
        return {k: v or ["skipped: derive output wrong"] for k, v in errs.items()}
    id_order = np.argsort(ids)
    sorted_ids = ids[id_order]

    def to_pos(v: np.ndarray) -> np.ndarray:
        """engine ids -> oracle name positions (-1 if unknown)"""
        i = np.minimum(np.searchsorted(sorted_ids, v), sorted_ids.size - 1)
        return np.where(sorted_ids[i] == v, pos[id_order][i], -1)

    es, ed = to_pos(out["edges"]["src"].to_numpy()), to_pos(out["edges"]["dst"].to_numpy())
    if (es < 0).any() or (ed < 0).any():
        errs["derive"].append("edge endpoint missing from id_map")
    elif es.size != 2 * len(o["edges"]) or not np.array_equal(_edge_keys(es, ed), o["edges"]):
        errs["derive"].append(
            f"edge rows {es.size} do not match both orientations of the "
            f"{len(o['edges'])} oracle edges"
        )
    if errs["derive"]:
        return {k: v or ["skipped: derive output wrong"] for k, v in errs.items()}

    id_at = np.empty(names.size, dtype=np.int64)
    id_at[pos] = ids
    min_id = np.full(names.size, np.iinfo(np.int64).max)
    np.minimum.at(min_id, o["root"], id_at)
    want_label = min_id[o["root"]]

    lab = out["hybrid"]
    lv = to_pos(lab["v"].to_numpy())
    if not _covers(lv, names.size):
        errs["hybrid"].append(f"{lv.size} label rows for {names.size} vertices")
    elif not np.array_equal(lab["label"].to_numpy(), want_label[lv]):
        errs["hybrid"].append("component label differs from the component's min id")
    n_comp = np.unique(o["root"]).size
    if out["component_count"] != n_comp:
        errs["hybrid"].append(f"component_count {out['component_count']}, oracle {n_comp}")

    pr = out["pagerank"]
    pv = to_pos(pr["v"].to_numpy())
    if not _covers(pv, names.size):
        errs["pagerank"].append(f"{pv.size} rank rows for {names.size} vertices")
    elif not np.allclose(pr["rank"].to_numpy(), o["rank"][pv], rtol=1e-6, atol=0):
        err = np.max(np.abs(pr["rank"].to_numpy() / o["rank"][pv] - 1))
        errs["pagerank"].append(f"rank max relative error {err:.3g} > 1e-6")

    lp = out["labelprop"]
    qv = to_pos(lp["v"].to_numpy())
    want = majority_labels(es, ed, id_at, lp_iters)
    if not _covers(qv, names.size):
        errs["labelprop"].append(f"{qv.size} label rows for {names.size} vertices")
    elif not np.array_equal(lp["label"].to_numpy(), want[qv]):
        bad = int(np.sum(lp["label"].to_numpy() != want[qv]))
        errs["labelprop"].append(f"{bad} majority labels differ from the replay")

    if out["triangles"] != o["triangles"]:
        errs["triangles"].append(f"{out['triangles']} triangles, oracle {o['triangles']}")
    return errs


def _check_labels(verts, want, got_v, got_label) -> list[str]:
    """Engine labels (got_v, got_label) against the oracle's ``want`` over
    the sorted vertex ids ``verts``."""
    if got_v.size != verts.size:
        return [f"{got_v.size} label rows for {verts.size} vertices"]
    order = np.argsort(got_v)
    if not np.array_equal(got_v[order], verts):
        return ["label rows do not cover exactly the graph's vertices"]
    bad = int(np.sum(got_label[order] != want))
    return [f"{bad} labels differ from the component's min id"] if bad else []


# -------------------------------------------------------------------- debruijn


def _read_fastq_codes(path: str) -> np.ndarray:
    """Sequence lines of a fixed-read-length FASTQ as base codes
    (A=0 C=1 G=2 T=3, anything else 4)."""
    with open(path, "rb") as f:
        seqs = f.read().split(b"\n")[1::4]
    raw = np.frombuffer(b"".join(seqs), dtype=np.uint8).reshape(len(seqs), -1)
    lut = np.full(256, 4, dtype=np.uint8)
    for code, base in enumerate(b"ACGT"):
        lut[base] = code
    return lut[raw]


def debruijn_oracle(fastq_path: str, k: int) -> dict:
    """Canonical k-mer adjacency of the reads (k-mer id = base-4 value,
    first base most significant; canonical = min with the reverse
    complement) and its min-id components."""
    codes = _read_fastq_codes(fastq_path)
    n_kmers = codes.shape[1] - k + 1
    fwd = np.zeros((codes.shape[0], n_kmers), dtype=np.int64)
    rev = np.zeros_like(fwd)
    for j in range(k):
        c = np.minimum(codes[:, j : j + n_kmers], 3).astype(np.int64)
        fwd = fwd * 4 + c
        rev += (3 - c) << (2 * j)
    canon = np.minimum(fwd, rev)
    bad = (codes == 4).astype(np.int64)
    # a pair of adjacent k-mers spans k + 1 bases; drop it if any is uncalled
    window_bad = np.cumsum(np.pad(bad, ((0, 0), (1, 0))), axis=1)
    ok = (window_bad[:, k + 1 :] - window_bad[:, : n_kmers - 1]) == 0
    a, b = canon[:, :-1][ok], canon[:, 1:][ok]
    verts, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    return {
        "pair_rows": int(a.size),
        "edges": _edge_keys(a, b),
        "verts": verts,
        "label": verts[min_label_components(inv[: a.size], inv[a.size :], verts.size)],
    }


def check_debruijn(o: dict, out: dict) -> dict[str, list[str]]:
    errs: dict[str, list[str]] = {"fastq": [], "cc": []}
    e = out["edges"]
    src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
    if src.size != 2 * o["pair_rows"]:
        errs["fastq"].append(f"{src.size} edge rows, oracle {2 * o['pair_rows']}")
    elif not np.array_equal(_edge_keys(src, dst), o["edges"]):
        errs["fastq"].append("edge set differs from the oracle's k-mer adjacency")
    lab = out["cc"]
    errs["cc"] = _check_labels(o["verts"], o["label"], lab["v"].to_numpy(), lab["label"].to_numpy())
    if out["checkpoint_steps"] != list(range(1, out["supersteps"] + 1)):
        errs["cc"].append(
            f"committed checkpoint steps {out['checkpoint_steps']} != "
            f"supersteps 1..{out['supersteps']}"
        )
    return errs
