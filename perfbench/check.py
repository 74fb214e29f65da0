"""Output checks for the graft benchmark, computed from the generator's
truth with numpy and pandas, never with graft.

Each check takes one op's dumped outputs and returns (failures, values):
`failures` lists what did not match (empty means the op passed) and
`values` carries the quality figures the run record reports.
"""

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

REL_TOL = 1e-6
# Probit.cdf uses Abramowitz-Stegun 7.1.26 (|erf error| < 1.5e-7), so a
# quantile-normal round trip may move u by ~1e-7, i.e. x by up to
# (grid points - 1) * 1e-7 grid segments; 2e-7 leaves a factor 2.
NORMAL_CDF_TOL = 2e-7
NORMAL_GRID = 21  # the harness's quantile-normal grid
# HNSW recall@10 below this fails the op. hnswSearch's default fixed hop
# budget reaches ~0.22 on this corpus; the floor catches a search that
# loses most of what it finds today.
RECALL_FLOOR = 0.15
DEDUP_FLOOR = 0.99


def _tsv(path):
    return pd.read_csv(path, sep="\t", dtype=str, na_values=["\\N"], keep_default_na=False)


def _num(s):
    return pd.to_numeric(s, errors="coerce").to_numpy(dtype=np.float64)


class PrepTruth:
    """Original rows and fitted-grid expectations for one prep batch."""

    def __init__(self, data_dir, batch, truth):
        self.truth = truth
        t = pq.read_table(os.path.join(data_dir, f"prep_{batch}.parquet"))
        self.full = t.to_pandas()
        self.grids = {}
        for c in truth["numeric"]:
            v = self.full[c].to_numpy(dtype=np.float64, na_value=np.nan)
            v = v[np.isfinite(v)]
            self.grids[c] = np.quantile(v, np.arange(NORMAL_GRID) / (NORMAL_GRID - 1))

    def normal_slack(self, c, x):
        g = self.grids[c]
        w = np.diff(g)
        i = np.clip(np.searchsorted(g, x, side="right") - 1, 0, len(w) - 1)
        widest = np.maximum(w[i], np.maximum(w[np.maximum(i - 1, 0)], w[np.minimum(i + 1, len(w) - 1)]))
        return NORMAL_CDF_TOL * (NORMAL_GRID - 1) * widest


def check_prep(truth, prep_truth, dump_dir, encoded_columns):
    fails = []
    if encoded_columns != truth["encoded_columns"]:
        fails.append(f"{encoded_columns} encoded columns, expected {truth['encoded_columns']}")
    path = os.path.join(dump_dir, "restored.parquet")
    if not os.path.exists(path):
        return fails + ["prep: no output"]
    got = pq.read_table(path).to_pandas().set_index("id")
    orig = prep_truth.full.set_index("id")
    if len(got) != len(orig) or not got.index.isin(orig.index).all():
        return fails + [f"prep: {len(got)} restored rows, expected {len(orig)}"]
    got = got.loc[orig.index]

    def bad(col, mask):
        n = int(mask.sum())
        if n:
            fails.append(f"prep.{col}: {n} of {len(mask)} rows not restored")

    for c in truth["numeric"]:
        x = orig[c].to_numpy(dtype=np.float64, na_value=np.nan)
        r = _num(got[c])
        ok = np.isfinite(x)
        x, r = x[ok], r[ok]
        tol = REL_TOL * np.maximum(np.abs(x), 1.0) + prep_truth.normal_slack(c, x)
        bad(c, ~(np.abs(r - x) <= tol))
    dt = truth["datetime"]
    present = orig[dt].notna().to_numpy()
    xs = pd.to_datetime(orig[dt][present], format="%Y-%m-%d %H:%M:%S").astype("int64") // 10**9
    rs = pd.to_datetime(got[dt][present], format="%Y-%m-%d %H:%M:%S", errors="coerce")
    bad(dt, rs.isna().to_numpy() | ~(np.abs(rs.astype("int64").to_numpy() // 10**9 - xs.to_numpy()) <= 1))
    for c in [truth["boolean"], truth["target"], "series_id"]:
        o = orig[c].astype(str).str.lower().where(orig[c].notna(), None)
        g = got[c].astype(str).str.lower().where(got[c].notna(), None)
        bad(c, (o.to_numpy() != g.to_numpy()))
    for c, spec in truth["categorical"].items():
        o = orig[c]
        g = got[c].to_numpy(dtype=object)
        kept = o.isin(spec["keep"]).to_numpy()
        none = (o.isna() | (o == "")).to_numpy()
        bad(c, kept & (g != o.to_numpy(dtype=object)))
        bad(c + "[null]", none & ~pd.isna(g))
        bad(c + "[rare]", ~kept & ~none & (g != "other"))
    return fails


def check_ts(data_dir, dump_dir, missing):
    if missing:
        return [f"ts: output lacks {missing}"], {}
    path = os.path.join(dump_dir, "ts.tsv")
    if not os.path.exists(path):
        return ["ts: no output"], {}
    got = _tsv(path)
    want = np.load(os.path.join(data_dir, "ts_truth.npy"))
    sid = got["series_id"].astype(np.int64).to_numpy()
    fails = []
    if len(sid) != len(want) or len(np.unique(sid)) != len(want) or sid.min() < 0 or sid.max() >= len(want):
        return [f"ts: {len(sid)} series out, expected {len(want)}"], {}
    w = want[sid]
    for j, c in enumerate(["n", "mean_v", "min_v", "max_v"]):
        g = _num(got[c])
        tol = 1e-6 + REL_TOL * np.abs(w[:, j]) if c == "mean_v" else 1e-9
        n = int((~(np.abs(g - w[:, j]) <= tol)).sum())
        if n:
            fails.append(f"ts.{c}: {n} series differ")
    return fails, {}


def check_dedup_knn(data_dir, dump_dir):
    fails = []
    paths = {n: os.path.join(dump_dir, n + ".tsv") for n in ["pairs", "components", "hits"]}
    if not all(os.path.exists(p) for p in paths.values()):
        return ["dedup_knn: missing output"], {}
    clusters = np.load(os.path.join(data_dir, "clusters.npy"))
    pairs = _tsv(paths["pairs"]).astype(np.int64)
    a, b = pairs["id_a"].to_numpy(), pairs["id_b"].to_numpy()
    planted_out = (clusters[a] == clusters[b]) & (clusters[a] >= 0)
    precision = float(planted_out.mean()) if len(a) else 0.0
    comps = _tsv(paths["components"]).astype(np.int64)
    canon = np.arange(len(clusters), dtype=np.int64) + len(clusters)  # singletons
    canon[comps["id"].to_numpy()] = comps["canonical"].to_numpy()
    in_cluster = clusters >= 0
    df = pd.DataFrame({"c": clusters[in_cluster], "k": canon[in_cluster]})
    together = (df.groupby(["c", "k"]).size().pipe(lambda s: s * (s - 1) // 2)).sum()
    planted = (df.groupby("c").size().pipe(lambda s: s * (s - 1) // 2)).sum()
    recall = float(together / planted)
    if recall < DEDUP_FLOOR:
        fails.append(f"dedup: planted-pair recall {recall:.4f} < {DEDUP_FLOOR}")
    if precision < DEDUP_FLOOR:
        fails.append(f"dedup: pair precision {precision:.4f} < {DEDUP_FLOOR}")

    truth = json.load(open(os.path.join(data_dir, "truth.json")))
    k = truth["k"]
    top = np.load(os.path.join(data_dir, "knn_truth.npy"))
    qids = np.load(os.path.join(data_dir, "knn_qids.npy"))
    corpus = np.stack(pq.read_table(os.path.join(data_dir, "vectors.parquet"))["vec"].to_numpy(zero_copy_only=False))
    queries = np.stack(pq.read_table(os.path.join(data_dir, "queries.parquet"))["vec"].to_numpy(zero_copy_only=False))
    hits = _tsv(paths["hits"])
    q = hits["query_id"].astype(np.int64).to_numpy() - qids[0]
    nn = hits["nn_id"].astype(np.int64).to_numpy()
    rank = hits["rank"].astype(np.int64).to_numpy()
    if q.min() < 0 or q.max() >= len(qids) or nn.min() < 0 or nn.max() >= len(corpus):
        return fails + ["knn: hit ids out of range"], {"dup_pair_recall": recall, "pair_precision": precision}
    cos = _num(hits["cosine"])
    exact = (np.einsum("ij,ij->i", queries[q], corpus[nn])
             / (np.linalg.norm(queries[q], axis=1) * np.linalg.norm(corpus[nn], axis=1)))
    if not (np.abs(cos - exact) <= 1e-9).all():
        fails.append("knn: reported cosine differs from the exact cosine")
    if (rank < 1).any() or (rank > k).any() or len(set(zip(q, rank))) != len(q) or len(set(zip(q, nn))) != len(q):
        fails.append("knn: ranks or neighbours repeat or exceed k")
    found = np.zeros(len(qids))
    truth_sets = [set(row) for row in top]
    for qi, n in zip(q, nn):
        found[qi] += n in truth_sets[qi]
    recall_k = float(found.mean() / k)
    if recall_k < RECALL_FLOOR:
        fails.append(f"knn: recall@{k} {recall_k:.4f} < {RECALL_FLOOR}")
    return fails, {"dup_pair_recall": recall, "pair_precision": precision, "recall_at_10": recall_k}
