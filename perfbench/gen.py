"""Seeded input generator for the benchmark workloads.

Writes schema-identical copies of the fixture tables the workloads read
(documents, embeddings, events, customer, orders) into one directory,
plus `manifest.json` (parameters, row counts, per-file SHA-256 and one
content digest) and `truth.json` (the planted near-duplicate pairs).

The same (workload, seed) always gives the same bytes, hence the same
digest; the harness recomputes the digest before it times anything.

    python3 perfbench/gen.py --workload mr_corpus --seed 1 --out DIR
"""

import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One parameter set per workload. Sizes are fitted to a 4-core machine
# and a measured pass of a few seconds; see perfbench/LAYERS.md. `stream`
# keys the workload's random streams: fixed, so adding a workload leaves
# the others' inputs (and golden digests) as they are.
PARAMS = {
    "mr_corpus": dict(stream=1, docs=20000, vocab=60000, zipf=1.05, len_median=60,
                      len_sigma=0.6, near_dup_rate=0.0, pii_rate=0.0,
                      files=8, embeddings=500, events=1000,
                      customers=5000, orders=50000),
    "llm_corpus": dict(stream=0, docs=4000, vocab=20000, zipf=1.05, len_median=50,
                       len_sigma=0.5, near_dup_rate=0.04, pii_rate=0.03,
                       files=8, embeddings=1000, events=1000,
                       customers=500, orders=5000),
}

LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + \
    [c + v + e for c in "bdklmnrst" for v in "aeiou" for e in "nrs"]
SHINGLE = 3          # q_dedup_minhash shingles word 3-grams
PLANT_MIN_J = 0.7    # ... and verifies pairs at Jaccard >= 0.7
PLANT_MIN_WORDS = 30


# The head of the vocabulary is real English, so stop-word and
# word-shape quality filters see prose-like text.
HEAD = ("the of and to a in is that for it as was with be by on not he this "
        "are or his from at which but have an they you were her she there "
        "been one all we their has would when if so no will more can out "
        "about up what some into them only other than its time then also "
        "these two may first new very after most people over such through "
        "where much before data table value query").split()


def vocabulary(rng, n):
    """n distinct words: the English head, then pseudo-words built from
    syllables, shorter for frequent (low-rank) ones."""
    words, seen = list(HEAD[:n]), set(HEAD[:n])
    syl = np.array(SYLLABLES)
    while len(words) < n:
        rank = len(words)
        k = 1 + int(rng.integers(0, 2)) + min(3, int(np.log10(rank + 1)))
        w = "".join(syl[rng.integers(0, len(syl), k)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def shingles(words):
    return {" ".join(words[i:i + SHINGLE])
            for i in range(len(words) - SHINGLE + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def pii_token(rng, vocab):
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return f"{vocab[rng.integers(0, 500)]}.{rng.integers(10, 99)}@mail{rng.integers(1, 9)}.com"
    if kind == 1:
        return f"+1 {rng.integers(200, 999)}-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}"
    if kind == 2:
        return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
    return "-".join(str(int(x)) for x in rng.integers(1000, 9999, 4))


def documents(rng, p):
    n = p["docs"]
    vocab = vocabulary(rng, p["vocab"])
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** p["zipf"]
    weights /= weights.sum()
    lens = np.clip(np.rint(rng.lognormal(np.log(p["len_median"]),
                                         p["len_sigma"], n)), 5, 600).astype(int)
    tokens = rng.choice(len(vocab), size=int(lens.sum()), p=weights)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [list(vocab[tokens[bounds[i]:bounds[i + 1]]]) for i in range(n)]

    # Near-duplicate clusters: a source doc plus 1-3 copies, each with a
    # few words replaced, written over randomly chosen other doc ids.
    clusters = []
    n_src = int(round(n * p["near_dup_rate"]))
    if n_src:
        order = rng.permutation(n)
        sources = [int(i) for i in order if len(docs[i]) >= PLANT_MIN_WORDS][:n_src]
        taken = set(sources)
        free = [int(i) for i in order if int(i) not in taken]
        for src in sources:
            members = [src]
            for _ in range(int(rng.integers(1, 4))):
                dst = free.pop()
                copy = list(docs[src])
                for pos in rng.choice(len(copy), size=max(1, len(copy) // 40), replace=False):
                    copy[pos] = vocab[rng.integers(0, len(vocab))]
                docs[dst] = copy
                members.append(dst)
            clusters.append(members)

    # PII-shaped tokens (email, phone, ipv4, card) at pii_rate per doc.
    n_pii = 0
    for i in np.nonzero(rng.random(n) < p["pii_rate"])[0]:
        docs[i].insert(int(rng.integers(0, len(docs[i]) + 1)), pii_token(rng, vocab))
        n_pii += 1

    # ground truth: planted pairs still similar enough to be found
    pairs = [[min(a, b), max(a, b)] for m in clusters
             for i, a in enumerate(m) for b in m[i + 1:]
             if jaccard(docs[a], docs[b]) >= PLANT_MIN_J]

    text = [" ".join(d) for d in docs]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    stats = dict(tokens=int(sum(len(d) for d in docs)),
                 distinct_words=int(len({w for d in docs for w in d})),
                 near_dup_clusters=len(clusters), planted_pairs=len(pairs),
                 pii_docs=n_pii)
    return table, sorted(pairs), stats


def embeddings(rng, n):
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    v = centers[labels] + 0.6 * rng.normal(size=(n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events(rng, n):
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 14 * 86400 * 10**6, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // 50), n), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["signup", "purchase", "view", "click", "error"], n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def customers(rng, n):
    keys = np.arange(1, n + 1)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n).tolist(),
            pa.string()),
    })


def orders(rng, n, n_cust):
    # as in TPC-H, a third of the customers place no orders
    active = np.arange(1, n_cust + 1)[np.arange(1, n_cust + 1) % 3 != 0]
    day = np.datetime64("1992-01-01T00:00:00", "us")
    dates = day + (rng.integers(0, 2400, n) * 86400 * 10**6).astype("timedelta64[us]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(1, n + 1) * 4, pa.int64()),
        "o_custkey": pa.array(rng.choice(active, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, n), 2), pa.float64()),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n).tolist(),
            pa.string()),
    })


def write(table, path, files):
    """One file, or a directory of `files` row-range parts."""
    if files <= 1:
        pq.write_table(table, path)
        return [path]
    os.makedirs(path)
    n, out = table.num_rows, []
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        out.append(f)
    return out


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(workload, seed, out):
    p = PARAMS[workload]
    # one independent stream per table, so resizing one leaves the others
    streams = np.random.SeedSequence([seed, p["stream"]]).spawn(5)
    rng = [np.random.default_rng(s) for s in streams]
    os.makedirs(out, exist_ok=False)
    docs, pairs, doc_stats = documents(rng[0], p)
    tables = {
        "documents": (docs, p["files"]),
        "embeddings": (embeddings(rng[1], p["embeddings"]), 1),
        "events": (events(rng[2], p["events"]), 1),
        "customer": (customers(rng[3], p["customers"]), 1),
        "orders": (orders(rng[4], p["orders"], p["customers"]), 1),
    }
    files, rows = {}, {}
    for name, (table, n_files) in tables.items():
        rows[name] = table.num_rows
        for f in write(table, os.path.join(out, f"{name}.parquet"), n_files):
            files[os.path.relpath(f, out)] = sha256(f)
    digest = hashlib.sha256("".join(f"{k}={v}\n" for k, v in sorted(files.items()))
                            .encode()).hexdigest()
    manifest = dict(workload=workload, seed=seed, params=p, rows=rows,
                    documents=doc_stats, files=files, digest=digest)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"planted_pairs": pairs}, f)
    return manifest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps({"digest": m["digest"], "rows": m["rows"],
                      "documents": m["documents"]}), file=sys.stderr)


if __name__ == "__main__":
    main()
