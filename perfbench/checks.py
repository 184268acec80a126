"""Correctness checks run on a workload's outputs after its Spark processes
have exited (outside every timed region).

Each check returns a list of mismatch descriptions; an empty list passes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def pagerank_reference(src, dst, w, n, alpha=0.85, tol=1e-6, max_iter=100, fixed=False):
    """NetworkX ``pagerank`` semantics (power iteration from the uniform
    vector, out-weight normalization, dangling mass spread uniformly, stop
    when the L1 change is below ``n * tol``) over integer vertex indices.
    ``fixed=True`` runs exactly ``max_iter`` steps. NumPy stands in for
    ``nx.pagerank``, which needs SciPy."""
    out_w = np.bincount(src, weights=w, minlength=n)
    has_out = out_w > 0
    p = w / np.where(has_out, out_w, 1.0)[src]
    x = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        last = x
        dangle = alpha * last[~has_out].sum()
        x = alpha * np.bincount(dst, weights=p * last[src], minlength=n)
        x += dangle / n + (1.0 - alpha) / n
        if not fixed and np.abs(x - last).sum() < n * tol:
            return x
    if fixed:
        return x
    raise RuntimeError("reference PageRank did not converge")


def _compare_scores(got: pd.DataFrame, ids: np.ndarray, want: np.ndarray, what: str) -> list[str]:
    got = got.set_index("id")["rank"]
    if len(got) != len(ids) or not got.index.isin(ids).all():
        return [f"{what}: vertex set differs ({len(got)} vs {len(ids)})"]
    diff = np.abs(got.loc[ids].to_numpy() - want)
    bad = int((diff > 1e-6).sum())
    return [f"{what}: {bad} scores off by more than 1e-6 (max {diff.max():.3g})"] if bad else []


def lpa_reference(nbrs: dict, max_iter: int = 20):
    """Synchronous LPA, weighted majority with min-label tie-break (the spec
    ``bluegraph_spark.operators.lpa`` implements)."""
    labels = {n: n for n in nbrs}
    for _ in range(max_iter):
        new, changed = {}, 0
        for n, adj in nbrs.items():
            if not adj:
                new[n] = labels[n]
                continue
            scores: dict = {}
            for m, w in adj.items():
                scores[labels[m]] = scores.get(labels[m], 0.0) + w
            best = min(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[n] = best
            changed += best != labels[n]
        labels = new
        if changed == 0:
            return labels, True
    return labels, False


def cooccurrence_reference(corpus: pd.DataFrame, cap: int) -> pd.DataFrame:
    """File co-occurrence edges (src < dst) with frequency and NPMI, over
    factors in at most ``cap`` files, NPMI > 0 kept. The generated tokens
    hold no stopwords or punctuation, so whitespace splitting is exactly
    the tokenizer's output."""
    occ = pd.DataFrame({
        "node": corpus["repo"] + "/" + corpus["path"] + "@" + corpus["commit"],
        "factor": corpus["content"].str.split(),
    }).explode("factor").drop_duplicates()
    occ = occ[occ.groupby("factor")["node"].transform("size") <= cap]
    pairs = occ.merge(occ, on="factor")
    pairs = pairs[pairs["node_x"] < pairs["node_y"]]
    e = pairs.groupby(["node_x", "node_y"]).size().rename("frequency").reset_index()
    e.columns = ["src", "dst", "frequency"]
    nf = occ.groupby("node").size()
    n = float(occ["factor"].nunique())
    co = e["frequency"].to_numpy(float)
    pmi = np.log2(n * co / (nf[e["src"]].to_numpy(float) * nf[e["dst"]].to_numpy(float)))
    alpha = -np.log2(co / n)
    npmi = np.where(alpha != 0, pmi / np.where(alpha != 0, alpha, 1.0), 0.0)
    e["npmi"] = np.where(npmi > 0, npmi, 0.0)
    return e[e["npmi"] > 0]


def corpus_pipeline(out: str, info: dict, spans: list[dict], corpus: str,
                    cap: int, supersteps: int) -> list[str]:
    import networkx as nx

    bad = []
    if info["sha256_mismatches"] != 0:
        bad.append(f"sha256: {info['sha256_mismatches']} rows changed through ingest")
    e = _read(f"{out}/edges")
    want = cooccurrence_reference(_read(corpus), cap).merge(
        e, on=["src", "dst"], how="outer", suffixes=("", "_got"), indicator=True)
    if (want["_merge"] != "both").any():
        bad.append(f"cooccurrence: {int((want['_merge'] != 'both').sum())} edges differ")
    elif (want["frequency"] != want["frequency_got"]).any() or not np.allclose(
            want["npmi"], want["npmi_got"], rtol=0, atol=1e-6):
        bad.append("cooccurrence: frequency or npmi differs from the reference")
    g = nx.Graph()
    g.add_weighted_edges_from(zip(e["src"], e["dst"], e["npmi"].astype(float)))
    ids = np.array(sorted(g.nodes))
    index = {v: i for i, v in enumerate(ids)}
    s = np.array([index[v] for v in e["src"]])
    d = np.array([index[v] for v in e["dst"]])
    w = e["npmi"].to_numpy(float)
    want = pagerank_reference(np.concatenate([s, d]), np.concatenate([d, s]),
                              np.concatenate([w, w]), len(ids), max_iter=supersteps,
                              fixed=True)
    bad += _compare_scores(_read(f"{out}/pagerank"), ids, want, "pagerank")

    cc = _read(f"{out}/components")
    want_cc = {v: min(c) for c in nx.connected_components(g) for v in c}
    if dict(zip(cc["id"], cc["component"])) != want_cc:
        bad.append("components: labels differ from networkx")

    lpa = _read(f"{out}/lpa")
    nbrs = {v: {m: a["weight"] for m, a in g[v].items() if m != v} for v in g}
    want_lpa, conv = lpa_reference(nbrs, supersteps)
    lpa_span = next(x for x in reversed(spans) if x["layer"] == "lpa")
    if dict(zip(lpa["id"], lpa["label"])) != want_lpa or lpa_span["converged"] != conv:
        bad.append("lpa: labels differ from the synchronous min-label reference")

    tri = _read(f"{out}/triangles")
    if dict(zip(tri["id"], tri["triangles"])) != nx.triangles(g):
        bad.append("triangles: counts differ from networkx")
    return bad


def pagerank_scale(out: str, inputs: str, supersteps: int) -> list[str]:
    e = _read(f"{inputs}/edges.parquet")
    ids, inv = np.unique(np.concatenate([e["src"], e["dst"]]), return_inverse=True)
    m = len(e)
    want = pagerank_reference(inv[:m], inv[m:], e["w"].to_numpy(float), len(ids),
                              max_iter=supersteps, fixed=True)
    return _compare_scores(_read(f"{out}/ranks"), ids, want, "pagerank")
