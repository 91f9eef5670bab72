#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet, a different seed writes different data. The engine
only ever sees the files written here, never the seed.

Usage:
  python3 perfbench/gen.py <workload> <seed> <out_dir>   # write one input set
  python3 perfbench/gen.py --check [scratch_dir]         # determinism check
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("curate_pipeline", "vector_mixed")

# Sizes. The host these were tuned on has 4 cores and 15 GB of RAM; every
# input below is far smaller than that (see sizes.json next to the data).
CURATE = dict(
    regular_docs=1500,      # ordinary documents, 30-90 words each
    lowq_frac=0.04,         # digit-heavy docs the quality filter drops
    blocked_frac=0.05,      # docs on blocklisted hosts
    exact_dup_frac=0.03,    # byte-identical copies of another doc
    cluster_bases=100,      # near-dup cluster seeds, heavy-tailed sizes
    cluster_max=40,
    hot_members=1040,       # boilerplate cluster: one band bucket > 1024 rows
)
# One corpus serves both the batch ops and the cached VectorTable; the
# serving queries are the first `query_pool` batch queries.
VECTORS = dict(dim=64, corpus=8000, queries=250, centers=64, spread=0.55,
               query_pool=64, rag_docs=600, rag_queries=32, batches=48, batch_rows=400,
               ops=6000, mix=(("s", 0.60), ("r", 0.20), ("a", 0.20)))

LANGS = ("en", "de", "fr", "es")
STOPWORDS = ("the", "a", "of", "and", "is")
BLOCKED_HOSTS = ("spam-farm.net", "ads.tracker.io", "junk.org")
# The hot cluster: filler pages made of two words, each repeated 5-37 times.
# Every member's (a, b) repeat pair is distinct, so the texts differ, but
# their 8-character shingle sets are identical (and small): every member
# lands in the same bucket of every minhash band.
HOT_FILLERS = ("go ", "up ")
HOT_REPEATS = range(5, 38)


def rng_for(workload, seed, stream=0):
    return np.random.default_rng([int(seed), WORKLOADS.index(workload), stream])


def write_parquet(table, path, parts=1):
    """One file, or a directory of `parts` files the way a table is stored;
    fixed writer options so one seed always yields the same bytes."""
    if parts > 1:
        os.makedirs(path, exist_ok=True)
        step = -(-table.num_rows // parts)
        for i in range(parts):
            write_parquet(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
        return
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, version="2.6")


def vocabulary(rng, letters, n):
    """n distinct lowercase words drawn with a language-specific letter skew."""
    p = rng.dirichlet(np.full(len(letters), 0.7))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(2, 10))
        words.add("".join(rng.choice(list(letters), size=ln, p=p)))
    return sorted(words)


def zipf_p(n, a=1.1):
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def make_text(rng, vocab, p, n_words):
    idx = rng.choice(len(vocab), size=n_words, p=p)
    toks = [vocab[i] for i in idx]
    stops = rng.random(n_words) < 0.12
    for j in np.nonzero(stops)[0]:
        toks[j] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
    return toks


def gen_curate(seed, out):
    c = CURATE
    rng = rng_for("curate_pipeline", seed)
    letter_sets = ("etaoinshrdlucmfwyp", "enisratdhulcgmobwf", "esaitnrulodcmpvqf",
                   "eaosrnidlctumpbgvy")
    vocabs = [vocabulary(rng, ls, 1500) for ls in letter_sets]
    zp = zipf_p(1500)
    hosts = [f"site{i}.example{int(i % 7)}.com" for i in range(60)]
    docs = []  # (lang, text, host)

    def regular(lang_i):
        return " ".join(make_text(rng, vocabs[lang_i], zp, int(rng.integers(30, 91))))

    for _ in range(c["regular_docs"]):
        li = int(rng.choice(len(LANGS), p=(0.4, 0.2, 0.2, 0.2)))
        docs.append([li, regular(li), hosts[int(rng.integers(len(hosts)))]])
    n0 = len(docs)
    for _ in range(int(n0 * c["lowq_frac"])):
        toks = [str(int(x)) for x in rng.integers(0, 10 ** 6, size=int(rng.integers(20, 60)))]
        docs.append([0, " ".join(toks), hosts[int(rng.integers(len(hosts)))]])
    for _ in range(int(n0 * c["blocked_frac"])):
        li = int(rng.integers(len(LANGS)))
        b = BLOCKED_HOSTS[int(rng.integers(len(BLOCKED_HOSTS)))]
        host = b if rng.random() < 0.5 else f"m{int(rng.integers(9))}.{b}"
        docs.append([li, regular(li), host])
    for _ in range(int(n0 * c["exact_dup_frac"])):
        src = docs[int(rng.integers(n0))]
        docs.append([src[0], src[1], hosts[int(rng.integers(len(hosts)))]])
    # near-dup clusters: Zipf-sized, each member a 1-3 word edit of its base
    sizes = np.minimum(rng.zipf(2.0, size=c["cluster_bases"]), c["cluster_max"])
    for size in sizes:
        base = docs[int(rng.integers(n0))]
        btoks = base[1].split(" ")
        for _ in range(int(size)):
            toks = list(btoks)
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(len(toks)))] = vocabs[base[0]][int(rng.integers(1500))]
            docs.append([base[0], " ".join(toks), hosts[int(rng.integers(len(hosts)))]])
    n_rep = len(HOT_REPEATS)
    for code in rng.choice(n_rep * n_rep, size=c["hot_members"], replace=False):
        a, b = HOT_REPEATS[int(code) // n_rep], HOT_REPEATS[int(code) % n_rep]
        text = (HOT_FILLERS[0] * a + HOT_FILLERS[1] * b).strip()
        docs.append([0, text, "mirror.example0.com"])
    # ids are a seeded permutation, so planted structure is spread over ids
    order = rng.permutation(len(docs))
    ids, langs, texts, urls = [], [], [], []
    for new_id, i in enumerate(order, start=1):
        li, text, host = docs[i]
        ids.append(new_id)
        langs.append(LANGS[li])
        texts.append(text)
        urls.append(f"https://{host}/p/{new_id}")
    perm = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)[perm]),
        "lang": pa.array([langs[i] for i in perm]),
        "text": pa.array([texts[i] for i in perm]),
        "n_chars": pa.array(np.array([len(texts[i]) for i in perm], dtype=np.int64)),
        "url": pa.array([urls[i] for i in perm]),
    })
    write_parquet(table, os.path.join(out, "documents.parquet"), parts=4)
    return {"documents": len(docs), "blocked_hosts": list(BLOCKED_HOSTS),
            "hot_members": c["hot_members"]}


def clustered(rng, n, dim, centers, spread):
    """Gaussian clusters; the first `centers` rows take one cluster each, so
    the IVF cells seeded from the lowest ids cover every cluster."""
    cent = rng.standard_normal((centers, dim))
    lab = rng.integers(0, centers, size=n)
    lab[:min(n, centers)] = np.arange(min(n, centers))
    x = cent[lab] + spread * rng.standard_normal((n, dim))
    return x.astype(np.float32), lab.astype(np.int32)


def vec_table(ids, x, labels):
    flat = pa.array(x.reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(ids, type=pa.int64()), "embedding": emb,
                     "label": pa.array(labels, type=pa.int32())})


def gen_vector(seed, out):
    v = VECTORS
    rng = rng_for("vector_mixed", seed)
    n, nq = v["corpus"], v["queries"]
    x, lab = clustered(rng, n + nq, v["dim"], v["centers"], v["spread"])
    write_parquet(vec_table(np.arange(1, n + 1), x[:n], lab[:n]),
                  os.path.join(out, "corpus.parquet"), parts=8)
    write_parquet(vec_table(np.arange(10 ** 7 + 1, 10 ** 7 + 1 + nq), x[n:], lab[n:]),
                  os.path.join(out, "queries.parquet"))
    vocab = vocabulary(rng, "etaoinshrdlucmfwyp", 2000)
    zp = zipf_p(len(vocab))
    rag_text = [" ".join(make_text(rng, vocab, zp, int(rng.integers(30, 260))))
                for _ in range(v["rag_docs"])]
    write_parquet(pa.table({
        "doc_id": pa.array(np.arange(1, v["rag_docs"] + 1), type=pa.int64()),
        "text": pa.array(rag_text)}), os.path.join(out, "rag_docs.parquet"))
    rag_q = [" ".join(make_text(rng, vocab, zp, int(rng.integers(2, 9))))
             for _ in range(v["rag_queries"])]
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    rows = v["batch_rows"]
    bx, blab = clustered(rng, v["batches"] * rows, v["dim"], v["centers"], v["spread"])
    for b in range(v["batches"]):
        lo = b * rows
        ids = np.arange(5 * 10 ** 7 + lo + 1, 5 * 10 ** 7 + lo + 1 + rows)
        write_parquet(vec_table(ids, bx[lo:lo + rows], blab[lo:lo + rows]),
                      os.path.join(out, "batches", f"batch_{b:03d}.parquet"))
    kinds = [k for k, _ in v["mix"]]
    probs = [p for _, p in v["mix"]]
    ops = []
    for k in rng.choice(len(kinds), size=v["ops"], p=probs):
        kind = kinds[int(k)]
        if kind == "s":
            ops.append(f"s{int(rng.integers(v['query_pool']))}")
        elif kind == "r":
            ops.append(f"r{int(rng.integers(v['rag_queries']))}")
        else:
            ops.append("a")
    with open(os.path.join(out, "ops.txt"), "w") as f:
        f.write("\n".join(ops) + "\n")
    with open(os.path.join(out, "rag_queries.txt"), "w") as f:
        f.write("\n".join(rag_q) + "\n")
    return {"corpus": n, "queries": nq, "query_pool": v["query_pool"],
            "rag_docs": v["rag_docs"], "batches": v["batches"], "batch_rows": rows,
            "dim": v["dim"]}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    meta = {"curate_pipeline": gen_curate, "vector_mixed": gen_vector}[workload](seed, out)
    meta["input_bytes"] = dir_bytes(out)
    meta["host_ram_frac"] = meta["input_bytes"] / (15 * 2 ** 30)
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def digest_dir(path):
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def check(scratch):
    """One seed regenerates byte-identical parquet; two seeds differ."""
    ok = True
    for w in WORKLOADS:
        dirs = [os.path.join(scratch, f"{w}-{tag}") for tag in ("a", "b", "c")]
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        generate(w, 1, dirs[0])
        generate(w, 1, dirs[1])
        generate(w, 2, dirs[2])
        same = digest_dir(dirs[0]) == digest_dir(dirs[1])
        differ = digest_dir(dirs[0]) != digest_dir(dirs[2])
        print(f"{w}: seed 1 twice identical={same}, seed 1 vs 2 differ={differ}")
        ok = ok and same and differ
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    return ok


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--check":
        scratch = sys.argv[2] if len(sys.argv) > 2 else os.path.join(".bench_build", "perfbench", "gencheck")
        sys.exit(0 if check(scratch) else 1)
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
