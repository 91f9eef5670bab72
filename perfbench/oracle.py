#!/usr/bin/env python3
"""Expected outputs for every timed op, computed once per (workload, seed).

DuckDB runs brute-force SQL over the generated parquet. The iterative
stages that SQL expresses badly (connected components, greedy BPE rounds)
run as plain Python over DuckDB-computed inputs. None of it shares code
with the engine under test.

Each expected output is reduced to an order-independent hash that the
benchmark's JVM side computes the same way over the engine's output:
columns sorted by name (as tools/check_oracle.py canonicalizes them), each
row rendered as its values cast to text joined by U+001F (NULL as \\N), and
the row digest md5(row). The hash is "rows:h1:h2", where h1 and h2 are the
sums over rows of the first and second 32-bit words of the digests, so row
order never matters. Only integer and text columns are hashed; a score is
checked through the ids and ranks it produces.

Usage: python3 perfbench/oracle.py <workload> <input_dir>
"""
import hashlib
import json
import os
import re
import sys

import duckdb

# Operator parameters shared with the JVM side (perfbench/scala/Workloads.scala
# reads them from the run's properties file, written by run.py from here).
PARAMS = {
    "curate_pipeline": dict(shingle_k=8, minhash_m=16, bands=4, jaccard_num=8,
                            jaccard_den=10, split_salt="bench",
                            split_weights=[["train", 0.8], ["val", 0.1], ["test", 0.1]],
                            bpe_merges=6),
    "vector_mixed": dict(k=10, ivf_cells=64, ivf_probes=4, pq_m=8, pq_ksub=16,
                         lsh_bits=8, lsh_bands=4, mp_bits=8, mp_flips=2, serving_ops=3,
                         rag_k=3, rag_chunk=300, index_bits=8, index_bands=4,
                         compact_every=4),
}

MINHASH_PRIME = 2147483647
SPLIT_BUCKETS = 10000
SEP = "\u0001"


def canon_sql(rel, cols):
    """Order-independent hash of relation `rel` over `cols` (see module doc)."""
    row = " || chr(31) || ".join(
        f"coalesce(CAST({c} AS VARCHAR), '\\N')" for c in sorted(cols))
    return (f"SELECT count(*) AS n, "
            f"coalesce(sum(CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)), 0) AS h1, "
            f"coalesce(sum(CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT)), 0) AS h2 "
            f"FROM (SELECT {row} AS s FROM {rel})")


def canon_rows(rows, cols):
    """canon_sql over Python rows (tuples aligned with `cols`)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h1 = h2 = 0
    for r in rows:
        s = "\u001f".join("\\N" if r[i] is None else str(r[i]) for i in order)
        d = hashlib.md5(s.encode("utf-8")).hexdigest()
        h1 += int(d[0:8], 16)
        h2 += int(d[8:16], 16)
    return f"{len(rows)}:{h1}:{h2}"


def run_hash(con, rel, cols):
    n, h1, h2 = con.sql(canon_sql(rel, cols)).fetchone()
    return f"{n}:{int(h1)}:{int(h2)}"


def connect(tmp_dir):
    con = duckdb.connect()
    con.sql("SET threads=4")
    con.sql("SET memory_limit='2GB'")
    con.sql("SET preserve_insertion_order=false")
    os.makedirs(tmp_dir, exist_ok=True)
    con.sql(f"SET temp_directory='{tmp_dir}'")
    return con


# ------------------------------------------------------------- curation ---

def curate_expected(con, d):
    p = PARAMS["curate_pipeline"]
    sizes = json.load(open(os.path.join(d, "sizes.json")))
    host_pattern = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)"
    blocked = ", ".join(f"('{h}')" for h in sizes["blocked_hosts"])
    con.sql(f"CREATE TABLE docs AS SELECT * FROM '{d}/documents.parquet/*.parquet'")
    con.sql(f"""CREATE TABLE urlkept AS
      SELECT * FROM (SELECT *, regexp_extract(lower(url), '{host_pattern}', 1) AS host FROM docs) d
      WHERE NOT EXISTS (SELECT 1 FROM (VALUES {blocked}) b(h)
                        WHERE d.host = b.h OR right(d.host, length(b.h) + 1) = '.' || b.h)""")
    stops = "'the', 'a', 'of', 'and', 'is'"
    con.sql(f"""CREATE TABLE quality AS
      SELECT doc_id, CAST(length(toks) AS BIGINT) AS n_tokens,
             CAST(length(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS bpe_tokens,
             CASE WHEN length(toks) BETWEEN 5 AND 2000
                   AND (CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / length(toks)) BETWEEN 2.0 AND 12.0
                   AND (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars) >= 0.6
                   AND (CAST(length(list_filter(toks, tk -> tk IN ({stops}))) AS DOUBLE) / length(toks)) <= 0.5
                  THEN 1 ELSE 0 END AS quality_ok
      FROM (SELECT *, string_split_regex(trim(text), ' +') AS toks FROM urlkept)""")
    con.sql("""CREATE TABLE kept AS SELECT u.* FROM urlkept u JOIN quality q USING (doc_id)
               WHERE q.quality_ok = 1""")
    con.sql("""CREATE TABLE dd AS SELECT k.* FROM kept k
               JOIN (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)) USING (doc_id)""")
    k, m, bands = p["shingle_k"], p["minhash_m"], p["bands"]
    con.sql(f"""CREATE TABLE sh AS SELECT doc_id,
        unnest(list_distinct(list_transform(range(1, greatest(length(text) - {k - 1}, 1) + 1),
               si -> substr(text, CAST(si AS INTEGER), {k})))) AS shingle FROM dd""")
    mins = ", ".join(
        f"min(({a} * hm + {b}) % {MINHASH_PRIME}) AS mh_{j}"
        for j, (a, b) in enumerate(mix_constants(m)))
    con.sql(f"""CREATE TABLE mh AS SELECT doc_id, {mins}, count(*) AS n_sh FROM (
        SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % {MINHASH_PRIME} AS hm
        FROM sh) GROUP BY doc_id""")
    rows = m // bands
    band_sel = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows)) + ")) AS band_key FROM mh"
        for b in range(bands))
    con.sql(f"CREATE TABLE bk AS {band_sel}")
    max_bucket = con.sql("SELECT max(c) FROM (SELECT count(*) AS c FROM bk GROUP BY band, band_key)").fetchone()[0]
    con.sql("""CREATE TABLE cand AS SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(count(*) AS BIGINT) AS n_bands
               FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
               GROUP BY 1, 2""")
    # exact set intersection per candidate pair over dictionary-encoded
    # shingle ids (integers compare faster than strings)
    con.sql("""CREATE TABLE shset AS SELECT sh.doc_id, list(d.sid) AS s FROM sh JOIN (
               SELECT shingle, row_number() OVER () AS sid FROM (SELECT DISTINCT shingle FROM sh)) d
               USING (shingle) GROUP BY sh.doc_id""")
    con.sql("""CREATE TABLE inter AS SELECT c.a_id, c.b_id,
               CAST(length(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_inter
               FROM cand c JOIN shset sa ON sa.doc_id = c.a_id JOIN shset sb ON sb.doc_id = c.b_id""")
    num, den = p["jaccard_num"], p["jaccard_den"]
    con.sql(f"""CREATE TABLE verified AS SELECT c.a_id, c.b_id,
               coalesce(i.n_inter, 0) AS n_inter,
               CAST(na.n_sh + nb.n_sh - coalesce(i.n_inter, 0) AS BIGINT) AS n_union
               FROM cand c LEFT JOIN inter i USING (a_id, b_id)
               JOIN mh na ON na.doc_id = c.a_id JOIN mh nb ON nb.doc_id = c.b_id
               WHERE coalesce(i.n_inter, 0) * {den} >= {num} * (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0))""")
    edges = con.sql("SELECT a_id, b_id FROM verified").fetchall()
    comp = components(edges)
    csize = {}
    for c in comp.values():
        csize[c] = csize.get(c, 0) + 1
    cc_rows = [(v, c, csize[c]) for v, c in comp.items()]
    con.sql("CREATE TABLE cc (id BIGINT, component_id BIGINT, csize BIGINT)")
    con.executemany("INSERT INTO cc VALUES (?, ?, ?)", cc_rows)
    con.sql("""CREATE TABLE final AS SELECT d.* FROM dd d LEFT JOIN cc ON cc.id = d.doc_id
               WHERE cc.component_id IS NULL OR cc.component_id = d.doc_id""")
    bounds, acc = [], 0
    for _, w in p["split_weights"]:
        acc += round(w * SPLIT_BUCKETS)
        bounds.append(acc)
    labels = [l for l, _ in p["split_weights"]]
    bucket = (f"((CAST('0x' || substr(md5('{p['split_salt']}:' || CAST(doc_id AS VARCHAR)), 1, 15) "
              f"AS BIGINT) % {MINHASH_PRIME}) % {SPLIT_BUCKETS})")
    cases = " ".join(f"WHEN {bucket} < {b} THEN '{l}'" for l, b in zip(labels[:-1], bounds[:-1]))
    con.sql(f"CREATE TABLE lab AS SELECT *, CASE {cases} ELSE '{labels[-1]}' END AS split FROM final")
    train = [t for (t,) in con.sql("SELECT text FROM lab WHERE split = 'train'").fetchall()]
    merges = bpe_learn(train, p["bpe_merges"])
    cohort_docs = con.sql("""SELECT split || ':' || lang AS cohort, text, n_chars FROM lab""").fetchall()
    fert = fertility(cohort_docs, merges)
    n_docs = con.sql("SELECT count(*) FROM docs").fetchone()[0]
    exp = {
        "url_filter": run_hash(con, "urlkept", ["doc_id"]),
        "quality": run_hash(con, "quality", ["doc_id", "n_tokens", "bpe_tokens", "quality_ok"]),
        "dedup_exact": run_hash(con, "dd", ["doc_id"]),
        "minhash_candidates": run_hash(con, "cand", ["a_id", "b_id", "n_bands"]),
        "jaccard_verify": run_hash(con, "verified", ["a_id", "b_id", "n_inter", "n_union"]),
        "connected_components": canon_rows(cc_rows, ["id", "component_id", "csize"]),
        "assign_split": run_hash(con, "lab", ["doc_id", "split"]),
        "bpe_learn": canon_rows([(i, a, b) for i, (a, b) in enumerate(merges)], ["i", "a", "b"]),
        "fertility": canon_rows(fert, ["cohort", "n_docs", "ws_tokens", "bpe_tokens", "sum_chars",
                                       "fertility_milli", "chars_per_bpe_milli"]),
    }
    facts = {"documents": n_docs, "max_bucket_rows": int(max_bucket),
             "candidate_pairs": con.sql("SELECT count(*) FROM cand").fetchone()[0],
             "verified_pairs": len(edges), "components": len(csize),
             "final_docs": con.sql("SELECT count(*) FROM final").fetchone()[0]}
    return exp, facts


def mix_constants(m):
    return [(((j + 1) * 2654435761) % MINHASH_PRIME,
             (j * 1099511628211 + 12820163) % MINHASH_PRIME) for j in range(m)]


def components(edges):
    """Union-find: vertex -> minimum vertex id of its component."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {v: find(v) for v in parent}


def spaced(word):
    return SEP + "".join(ch + SEP for ch in word)


def words_of(text):
    return re.split(" +", text.strip(" "))


def bpe_learn(texts, n):
    """Greedy BPE: argmax adjacent-pair count, ties to the smaller (a, b)."""
    freq = {}
    for t in texts:
        for w in words_of(t):
            freq[w] = freq.get(w, 0) + 1
    vocab = [[spaced(w), f] for w, f in freq.items()]
    merges = []
    while len(merges) < n:
        counts = {}
        for sp, f in vocab:
            parts = sp.split(SEP)
            for j in range(1, len(parts) - 2):
                key = (parts[j], parts[j + 1])
                counts[key] = counts.get(key, 0) + f
        if not counts:
            break
        (a, b), _ = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((a, b))
        old, new = SEP + a + SEP + b + SEP, SEP + a + b + SEP
        for e in vocab:
            e[0] = e[0].replace(old, new)
    return merges


def fertility(cohort_docs, merges):
    per = {}
    seg = {}
    for cohort, text, n_chars in cohort_docs:
        s = per.setdefault(cohort, [0, 0, 0, 0])  # n_docs, sum_chars, ws, bpe
        s[0] += 1
        s[1] += n_chars
        for w in words_of(text):
            if w not in seg:
                sp = spaced(w)
                for a, b in merges:
                    sp = sp.replace(SEP + a + SEP + b + SEP, SEP + a + b + SEP)
                seg[w] = sp.count(SEP) - 1
            s[2] += 1
            s[3] += seg[w]
    return [(c, n, ws, bp, ch, bp * 1000 // ws, ch * 1000 // bp)
            for c, (n, ch, ws, bp) in per.items()]


# -------------------------------------------------------------- vectors ---

def normalized(con, name, path):
    con.sql(f"""CREATE TABLE {name} AS SELECT vec_id, list_transform(e,
                x -> x / (sqrt(list_inner_product(e, e)) + 1e-12)) AS n
                FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM '{path}')""")


def hyperplane_list(j, dim):
    """Plane j (0-based) as a DuckDB list literal of the engine's weights."""
    return "[" + ", ".join(
        repr((((i + 1) * (j + 1) * 7919) % 193) / 193.0 - 0.5) for i in range(dim)) + "]"


def lsh_bucket_sql(v, dim, bits, band):
    return "(" + " + ".join(
        f"(CASE WHEN list_inner_product({v}, {hyperplane_list(band * bits + j, dim)}) > 0.0 "
        f"THEN {1 << j} ELSE 0 END)" for j in range(bits)) + ")"


def topk_sql(pairs, k):
    """Rank (query_id, neighbor_id, score) rows per query, keep the top k."""
    return f"""SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM ({pairs}))
      WHERE rk <= {k}"""


def vector_expected(con, d):
    p = PARAMS["vector_mixed"]
    sizes = json.load(open(os.path.join(d, "sizes.json")))
    dim, k = sizes["dim"], p["k"]
    normalized(con, "cn", f"{d}/corpus.parquet/*.parquet")
    normalized(con, "qn", f"{d}/queries.parquet")
    c = p["ivf_cells"]
    con.sql(f"CREATE TABLE cents AS SELECT vec_id AS cid, n FROM cn ORDER BY vec_id LIMIT {c}")
    con.sql("""CREATE TABLE assign AS SELECT d.vec_id, arg_max(c.cid, list_inner_product(d.n, c.n)) AS centroid_id
               FROM cn d CROSS JOIN cents c GROUP BY d.vec_id""")
    s = dim // p["pq_m"]
    con.sql(f"CREATE TABLE cb AS SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, n FROM "
            f"(SELECT * FROM cn ORDER BY vec_id LIMIT {p['pq_ksub']})")
    bits = max(1, (p["pq_ksub"] - 1).bit_length())
    code_terms = " + ".join(
        f"(SELECT arg_min(cb.code, list_distance(list_slice(cn.n, {j * s + 1}, {(j + 1) * s}), "
        f"list_slice(cb.n, {j * s + 1}, {(j + 1) * s}))) FROM cb) * {1 << (bits * j)}"
        for j in range(p["pq_m"]))
    con.sql(f"""CREATE TABLE ivfpq AS SELECT cn.vec_id, a.centroid_id, CAST({code_terms} AS BIGINT) AS pq_code
                FROM cn JOIN assign a USING (vec_id)""")
    lsh_sel = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {lsh_bucket_sql('n', dim, p['lsh_bits'], b)} AS bucket FROM cn"
        for b in range(p["lsh_bands"]))
    con.sql(f"CREATE TABLE lsh AS {lsh_sel}")
    con.sql(f"""CREATE TABLE knn AS {topk_sql(
        'SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, list_inner_product(q.n, d.n) AS score '
        'FROM qn q CROSS JOIN cn d', k)}""")
    con.sql(f"""CREATE TABLE probes AS SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid, row_number() OVER (PARTITION BY q.vec_id
          ORDER BY list_inner_product(q.n, c.n) DESC, c.cid) AS r FROM qn q CROSS JOIN cents c)
        WHERE r <= {p['ivf_probes']}""")
    con.sql(f"""CREATE TABLE ann_ivf AS {topk_sql(
        'SELECT pr.query_id, a.vec_id AS neighbor_id, list_inner_product(q.n, d.n) AS score '
        'FROM probes pr JOIN assign a ON a.centroid_id = pr.cid JOIN qn q ON q.vec_id = pr.query_id '
        'JOIN cn d ON d.vec_id = a.vec_id', k)}""")
    mb = p["mp_bits"]
    proj = "[" + ", ".join(f"list_inner_product(n, {hyperplane_list(j, dim)})" for j in range(mb)) + "]"
    con.sql(f"""CREATE TABLE qproj AS SELECT vec_id AS query_id, {proj} AS pr FROM qn""")
    con.sql("""CREATE TABLE qmarg AS SELECT query_id,
        CAST(list_sum(list_transform(pr, (x, i) -> CASE WHEN x > 0.0 THEN CAST(pow(2, i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS home,
        list_transform(pr, x -> abs(x)) AS a FROM qproj""")
    con.sql("""CREATE TABLE qflip AS SELECT query_id, home, a,
        list_position(a, list_min(a)) AS j1 FROM qmarg""")
    con.sql("""CREATE TABLE qflip2 AS SELECT query_id, home, j1,
        list_position(list_transform(a, (x, i) -> x + CASE WHEN i = j1 THEN 1e9 ELSE 0.0 END),
                      list_min(list_transform(a, (x, i) -> x + CASE WHEN i = j1 THEN 1e9 ELSE 0.0 END))) AS j2
        FROM qflip""")
    flips = p["mp_flips"]
    probe_list = "[home, xor(home, CAST(pow(2, j1 - 1) AS BIGINT))" + (
        ", xor(home, CAST(pow(2, j2 - 1) AS BIGINT))]" if flips == 2 else "]")
    con.sql(f"""CREATE TABLE mprobe AS SELECT DISTINCT query_id, unnest({probe_list}) AS bucket FROM qflip2""")
    con.sql(f"CREATE TABLE dbucket AS SELECT vec_id, {lsh_bucket_sql('n', dim, mb, 0)} AS bucket FROM cn")
    con.sql(f"""CREATE TABLE ann_mp AS {topk_sql(
        'SELECT pr.query_id, db.vec_id AS neighbor_id, list_inner_product(q.n, d.n) AS score '
        'FROM mprobe pr JOIN dbucket db ON db.bucket = pr.bucket JOIN qn q ON q.vec_id = pr.query_id '
        'JOIN cn d ON d.vec_id = db.vec_id', k)}""")
    knn_cols = ["query_id", "neighbor_id", "rank"]
    exp = {
        "ivf_centroids": run_hash(con, "cents", ["cid"]),
        "ivfpq_index": run_hash(con, "ivfpq", ["vec_id", "centroid_id", "pq_code"]),
        "lsh_index": run_hash(con, "lsh", ["vec_id", "band", "bucket"]),
        "knn_exact": run_hash(con, "knn", knn_cols),
        "ann_ivf": run_hash(con, "ann_ivf", knn_cols),
        "ann_multiprobe": run_hash(con, "ann_mp", knn_cols),
    }
    recall = {}
    for t in ("ann_ivf", "ann_mp"):
        recall[t] = con.sql(f"""SELECT count(*) / (SELECT count(*) FROM knn)::DOUBLE FROM {t} a
                                JOIN knn USING (query_id, neighbor_id)""").fetchone()[0]
    # VectorTable.search over the same corpus: serving query i is batch
    # query i, so its top k are that query's exact knn rows
    qids = [r[0] for r in con.sql(
        f"SELECT vec_id FROM qn ORDER BY vec_id LIMIT {sizes['query_pool']}").fetchall()]
    exp["search"] = {str(i): run_hash(
        con, f"(SELECT neighbor_id AS vec_id, rank FROM knn WHERE query_id = {q})", ["vec_id", "rank"])
        for i, q in enumerate(qids)}
    exp["rag"] = rag_expected(con, d, dim)
    return exp, {"recall": recall, "batch_rows": sizes["batch_rows"],
                 "index_bands": p["index_bands"]}


# ------------------------------------------------------------------ RAG ---

def rag_expected(con, d, dim):
    """Rag.answerFromIndex contexts, one hash per pooled query text."""
    p = PARAMS["vector_mixed"]
    rag_queries = open(os.path.join(d, "rag_queries.txt")).read().splitlines()
    # RAG: 300-char chunks with the length-only arithmetic embedding; scores
    # are folded left to right exactly as the engine's kernels sum them, so
    # the many exact ties (equal-length chunks) order by chunk id as there
    cs = p["rag_chunk"]
    con.sql(f"""CREATE TABLE chunks AS SELECT doc_id * 10000 + i AS vec_id,
        substr(text, CAST(i * {cs} + 1 AS INTEGER), {cs}) AS text FROM (
        SELECT doc_id, text, unnest(range(0, greatest(CAST(ceil(length(text) / {float(cs)}) AS BIGINT), 1))) AS i
        FROM '{d}/rag_docs.parquet')""")
    emb = f"list_transform(range(1, {dim + 1}), ai -> CAST((length(text) * ai) % 97 AS DOUBLE) / 97.0)"
    fold = "list_reduce(list_prepend(0.0, {l}), (acc, x) -> acc + x)"
    norm = lambda v: f"list_transform({v}, nx -> nx / (sqrt({fold.format(l=f'list_transform({v}, s1 -> s1 * s1)')}) + 1e-12))"
    con.sql(f"CREATE TABLE cemb AS SELECT vec_id, text, {norm('e')} AS n FROM (SELECT vec_id, text, {emb} AS e FROM chunks)")
    rag = {}
    for i, qt in enumerate(rag_queries):
        qe = emb.replace("length(text)", f"{len(qt)}")
        dot = fold.format(l=f"list_transform(range(1, {dim + 1}), zi -> c.n[zi] * q.n[zi])")
        rel = f"""(SELECT string_agg(text, '{chr(10)}---{chr(10)}' ORDER BY score DESC, vec_id) AS context FROM (
            SELECT c.vec_id, c.text, {dot} AS score FROM cemb c,
                   (SELECT {norm('e')} AS n FROM (SELECT {qe} AS e)) q
            ORDER BY score DESC, c.vec_id LIMIT {p['rag_k']}))"""
        rag[str(i)] = run_hash(con, rel, ["context"])
    return rag


def expected(workload, d, tmp_dir):
    con = connect(tmp_dir)
    try:
        fn = {"curate_pipeline": curate_expected, "vector_mixed": vector_expected}[workload]
        exp, facts = fn(con, d)
    finally:
        con.close()
    return {"expected": exp, "facts": facts}


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    import time
    t0 = time.time()
    out = expected(sys.argv[1], sys.argv[2], os.path.join(sys.argv[2], "duck_tmp"))
    out["oracle_s"] = round(time.time() - t0, 2)
    print(json.dumps(out, indent=1)[:3000])
