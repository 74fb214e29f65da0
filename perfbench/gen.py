"""Seeded input generator for the graft benchmark.

One seed drives every input. Each workload's files are written before
the engine session starts, and the program reads only those files.
Next to the inputs, `truth.json` (plus a few `.npy` arrays) carries what
the output checks in `check.py` compare against. The generator decides
that truth, so the checks do not depend on graft.
"""

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes and the reason for each workload. Later changes refer to the
# workloads by these names.
WORKLOADS = {
    "prep_small": {
        "rows": 20_000,
        "batches": 8,
        "why": "driver-bound prep (fit on a sample, small batches): the fit's job "
               "floor, analysis and codegen dominate; quantile-normal's plan cost shows",
    },
    "ts_features": {
        "series": 3_000,
        "points": 150_000,
        "why": "one wide shuffle plus window compute in operators/TsFeatures; "
               "uneven series lengths expose partition skew",
    },
    "dedup_knn": {
        "docs": 6_000,
        "vectors": 3_000,
        "queries": 200,
        "dim": 32,
        "k": 10,
        "why": "iterative operators bound by checkpoints and job count "
               "(minhash + connected components, HNSW build + beam search)",
    },
}

# Warm-up inputs: the same generators at a small size, run once per
# set-up so class loading and JIT are paid before timing.
WARMUP = {
    "prep_small": {"rows": 500, "batches": 1},
    "ts_features": {"series": 50, "points": 1_000},
    "dedup_knn": {"docs": 400, "vectors": 200, "queries": 10},
}


def zipf_shares(n_keep, s_keep, n_rare, rare_mass):
    """Zipf-skewed label shares: `n_keep` head labels, each at 3% or more,
    and `n_rare` tail labels, each at 1% or less, so sampling noise never
    moves a label across PrepConfig's 2% rare-label threshold."""
    head = 1.0 / np.arange(1, n_keep + 1) ** s_keep
    head = head / head.sum() * (1.0 - rare_mass)
    tail = 1.0 / np.arange(1, n_rare + 1)
    tail = tail / tail.sum() * rare_mass if n_rare else tail
    assert head.min() >= 0.03 and (n_rare == 0 or tail.max() <= 0.01), (head, tail)
    return np.concatenate([head, tail])


# (name, head labels, head skew, rare labels, rare mass, null share, "" share)
CATEGORICALS = [
    ("workclass", 6, 1.2, 4, 0.02, 0.02, 0.0),
    ("education", 10, 0.7, 6, 0.024, 0.0, 0.0),
    ("occupation", 12, 0.4, 5, 0.022, 0.03, 0.01),
    ("native_country", 4, 1.6, 36, 0.04, 0.01, 0.0),
]
HIGH_CARD = ("zip_code", 50_000)  # every label rare -> one "other" dummy


def _masked(rng, values, null_share):
    return pa.array(values, mask=rng.random(len(values)) < null_share)


def _with_inf(rng, values, pos_share, neg_share):
    u = rng.random(len(values))
    values = values.copy()
    values[u < pos_share] = np.inf
    values[(u >= pos_share) & (u < pos_share + neg_share)] = -np.inf
    return values


def prep_table(rng, n, id_base):
    """An adult-like table: numerics with null and +-inf shares, Zipf
    categoricals, one high-cardinality categorical, a string datetime,
    a boolean and a classification target."""
    cols = {"id": pa.array(np.arange(id_base, id_base + n, dtype=np.int64))}
    cols["series_id"] = pa.array(rng.integers(0, max(n // 20, 1), n, dtype=np.int64))
    age = rng.integers(17, 91, n).astype(np.int32)
    cols["age"] = _masked(rng, age, 0.03)
    fnlwgt = np.round(rng.lognormal(12.0, 0.6, n), 2)
    cols["fnlwgt"] = _masked(rng, _with_inf(rng, fnlwgt, 0.01, 0.005), 0.04)
    edu_num = rng.integers(1, 17, n).astype(np.int32)
    cols["education_num"] = pa.array(edu_num)
    gain = np.where(rng.random(n) < 0.9, 0.0, np.round(rng.lognormal(8.0, 1.0, n), 2))
    cols["capital_gain"] = _masked(rng, gain, 0.02)
    hours = np.round(rng.normal(40.0, 12.0, n), 1)
    cols["hours_per_week"] = _masked(rng, _with_inf(rng, hours, 0.005, 0.0), 0.05)
    score = np.round(rng.normal(0.0, 1.0, n), 6)
    cols["score"] = _masked(rng, _with_inf(rng, score, 0.005, 0.005), 0.05)
    for name, nk, sk, nr, mass, null_share, empty_share in CATEGORICALS:
        shares = zipf_shares(nk, sk, nr, mass)
        labels = np.array([f"{name[:3]}_{i:02d}" for i in range(len(shares))], dtype=object)
        vals = labels[rng.choice(len(shares), n, p=shares)]
        vals[rng.random(n) < empty_share] = ""
        cols[name] = _masked(rng, vals, null_share)
    hc_name, hc_card = HIGH_CARD
    cols[hc_name] = pa.array(np.char.add("z", rng.integers(0, hc_card, n).astype("U6")))
    start = np.datetime64("2015-01-01T00:00:00")
    secs = rng.integers(0, 10 * 365 * 86400, n)
    ts = np.datetime_as_string(start + secs.astype("timedelta64[s]"), unit="s")
    ts = np.char.replace(ts, "T", " ")
    cols["signup_ts"] = _masked(rng, ts, 0.02)
    cols["is_member"] = _masked(rng, rng.random(n) < 0.4, 0.03)
    logit = 0.25 * (edu_num - 10) + 0.03 * (age - 40) + rng.normal(0.0, 1.0, n) - 1.0
    cols["income"] = pa.array(np.where(logit > 0, ">50K", "<=50K"))
    return pa.table(cols)


def prep_truth():
    """Expected encoded layout: plain kept columns plus one dummy per
    post-shrink category of each categorical (keep + "other" + "None")."""
    plain = ["id", "series_id", "age", "fnlwgt", "education_num", "capital_gain",
             "hours_per_week", "score", "signup_ts", "is_member", "income"]
    cats = {}
    for name, nk, _, nr, _, null_share, empty_share in CATEGORICALS:
        keep = [f"{name[:3]}_{i:02d}" for i in range(nk)]
        cats[name] = {"keep": keep, "n_categories": nk + (nr > 0) + (null_share + empty_share > 0)}
    cats[HIGH_CARD[0]] = {"keep": [], "n_categories": 1}
    return {
        "plain": plain,
        "numeric": ["age", "fnlwgt", "education_num", "capital_gain", "hours_per_week", "score"],
        "categorical": cats,
        "datetime": "signup_ts",
        "boolean": "is_member",
        "target": "income",
        "encoded_columns": len(plain) + sum(c["n_categories"] for c in cats.values()),
    }


def ts_tables(rng, n_series, n_points):
    """Points of `n_series` series of uneven (log-normal) length plus four
    giants holding 2% of the points each; the label shifts each series'
    level and length, so count, mean, min and max stay among the
    relevant features."""
    y = (rng.random(n_series) < 0.5).astype(np.int32)
    raw = rng.lognormal(0.0, 0.5, n_series) * (1.0 + y)
    giants = rng.choice(np.flatnonzero(y == 1), 4, replace=False)
    raw[giants] = 0.0
    lengths = np.maximum(8, np.round(raw / raw.sum() * n_points * 0.92)).astype(np.int64)
    lengths[giants] = n_points // 50
    sid = np.repeat(np.arange(n_series, dtype=np.int64), lengths)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    idx = np.arange(len(sid)) - np.repeat(starts, lengths)
    t = 1_600_000_000 + idx * 60 + rng.integers(0, 30, len(sid))
    level = np.where(y == 1, 0.8, -0.8) + rng.normal(0.0, 0.5, n_series)
    freq = rng.uniform(0.05, 0.5, n_series)
    value = level[sid] + 0.7 * np.sin(idx * freq[sid]) + rng.normal(0.0, 0.6, len(sid))
    value = np.round(value, 4)
    points = pa.table({"series_id": pa.array(sid), "t": pa.array(t.astype(np.int64)),
                       "value": pa.array(value)})
    labels = pa.table({"series_id": pa.array(np.arange(n_series, dtype=np.int64)),
                       "y": pa.array(y)})
    truth = np.stack([lengths.astype(np.float64),
                      np.add.reduceat(value, starts) / lengths,
                      np.minimum.reduceat(value, starts),
                      np.maximum.reduceat(value, starts)], axis=1)
    return points, labels, truth


def _word(i):
    letters = "abcdefghijklmnopqrstuvwxyz"
    s = ""
    while True:
        s = letters[i % 26] + s
        i //= 26
        if i == 0:
            return "w" + s


def dedup_docs(rng, n_docs):
    """Random Zipf-worded documents plus planted near-duplicate clusters
    of varied size, including one large cluster. Each member swaps one
    word of its cluster's base text, so any two members share at least
    ~0.88 of their 3-word shingles (minhashPairs' threshold is 0.8)."""
    vocab = np.array([_word(i) for i in range(8000)], dtype=object)
    wp = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    wp /= wp.sum()
    sizes = ([n_docs // 100] + [10] * (n_docs // 5000) + [5] * (n_docs // 1000)
             + [3] * (3 * n_docs // 400) + [2] * (3 * n_docs // 100))
    n_clustered = sum(sizes)
    n_bases = len(sizes)
    n_random = n_docs - n_clustered
    assert n_random > 0
    cdf = np.cumsum(wp)

    def words(m):
        return vocab[np.minimum(np.searchsorted(cdf, rng.random(m)), len(vocab) - 1)]

    texts = [words(rng.integers(60, 140)) for _ in range(n_random)]
    cluster_of = [-1] * n_random
    for c, size in enumerate(sizes):
        base = words(rng.integers(80, 140))
        for m in range(size):
            doc = base.copy()
            if m > 0:
                pos = rng.integers(0, len(doc))
                doc[pos] = "x" + vocab[rng.integers(0, len(vocab))]  # never in base
            texts.append(doc)
            cluster_of.append(c)
    order = rng.permutation(n_docs)
    ids = np.arange(n_docs, dtype=np.int64)
    text_arr = np.array([" ".join(texts[i]) for i in order], dtype=object)
    clusters = np.array(cluster_of, dtype=np.int64)[order]
    docs = pa.table({"doc_id": pa.array(ids), "text": pa.array(text_arr)})
    return docs, clusters, n_bases


def knn_vectors(rng, n, n_queries, dim, k):
    """Clustered vectors and a held-out query batch from the same
    mixture; exact cosine top-k computed here by brute force."""
    centers = rng.normal(0.0, 1.0, (16, dim))
    def draw(m):
        return centers[rng.integers(0, len(centers), m)] + rng.normal(0.0, 0.8, (m, dim))
    corpus = np.round(draw(n), 6)
    queries = np.round(draw(n_queries), 6)
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    ids = np.arange(n, dtype=np.int64)
    qids = np.arange(n_queries, dtype=np.int64) + 10_000_000
    def table(idv, vecs):
        return pa.table({"id": pa.array(idv),
                         "vec": pa.array(list(vecs), type=pa.list_(pa.float64()))})
    return table(ids, corpus), table(qids, queries), ids[top], qids


def _write(table, path, row_groups=16):
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))


def generate(workload, seed, out_dir):
    """Write `workload`'s inputs and truth under `out_dir`, and a small
    warm-up input under `out_dir/warmup`; return (sizes, seconds)."""
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    sizes = _generate(workload, WORKLOADS[workload], rng, out_dir)
    _generate(workload, {**WORKLOADS[workload], **WARMUP[workload]}, rng,
              os.path.join(out_dir, "warmup"))
    return sizes, time.perf_counter() - t0


def _generate(workload, spec, rng, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    truth = {"workload": workload}
    if workload.startswith("prep"):
        n, b = spec["rows"], spec["batches"]
        for i in range(b):
            _write(prep_table(rng, n, i * n), os.path.join(out_dir, f"prep_{i}.parquet"))
        sizes = {"rows_per_batch": n, "batches": b}
        truth.update(prep_truth())
    elif workload == "ts_features":
        points, labels, ts_truth = ts_tables(rng, spec["series"], spec["points"])
        _write(points, os.path.join(out_dir, "points.parquet"))
        _write(labels, os.path.join(out_dir, "labels.parquet"), row_groups=1)
        np.save(os.path.join(out_dir, "ts_truth.npy"), ts_truth)
        lengths = ts_truth[:, 0]
        sizes = {"series": spec["series"], "points": int(points.num_rows),
                 "max_series_len": int(lengths.max()), "median_series_len": float(np.median(lengths))}
    elif workload == "dedup_knn":
        docs, clusters, n_clusters = dedup_docs(rng, spec["docs"])
        _write(docs, os.path.join(out_dir, "docs.parquet"))
        np.save(os.path.join(out_dir, "clusters.npy"), clusters)
        corpus, queries, top, qids = knn_vectors(rng, spec["vectors"], spec["queries"],
                                                 spec["dim"], spec["k"])
        _write(corpus, os.path.join(out_dir, "vectors.parquet"))
        _write(queries, os.path.join(out_dir, "queries.parquet"), row_groups=1)
        np.save(os.path.join(out_dir, "knn_truth.npy"), top)
        np.save(os.path.join(out_dir, "knn_qids.npy"), qids)
        sizes = {"docs": spec["docs"], "planted_clusters": n_clusters,
                 "vectors": spec["vectors"], "queries": spec["queries"],
                 "dim": spec["dim"], "k": spec["k"]}
        truth["k"] = spec["k"]
    else:
        raise ValueError(workload)
    truth["sizes"] = sizes
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return sizes
