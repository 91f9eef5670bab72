#!/usr/bin/env python3
"""The benchmark: one command per (workload, seed) run.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine from source (once per
source state), generates the seeded inputs and their expected outputs
(once per workload and seed, outside any timing), runs the benchmark JVM
for --seconds of closed-loop work, checks every timed op's output against
the expected hash, prints each metric by name and unit, and prints as its
last line one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones, followed by the per-layer report.
Everything it writes stays under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

CORES = 4
SETUPS = 3
JVM_OPTS = [
    "-Xms2g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """(p, value): the highest of p75/p90/p95/p99/p99.9 with at least 10
    samples beyond it (nearest rank), else the maximum (p100)."""
    xs = sorted(xs)
    if not xs:
        return None, float("nan")
    best = (100, xs[-1])
    for p in (75, 90, 95, 99, 99.9):
        if len(xs) * (1 - p / 100.0) >= 10:
            best = (p, xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)])
    return best


def inputs(workload, seed, cache):
    """Generate inputs and expected outputs once per (workload, seed) and
    version of the generator and oracle."""
    h = hashlib.sha256()
    for m in (gen, oracle):
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    d = os.path.join(cache, f"{workload}-{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(d, "expected.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
        t = time.time()
        exp = oracle.expected(workload, d, os.path.join(cache, "duck_tmp"))
        exp["oracle_s"] = time.time() - t
        shutil.rmtree(os.path.join(cache, "duck_tmp"), ignore_errors=True)
        with open(done + ".tmp", "w") as f:
            json.dump(exp, f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        return d, json.load(f)


def settings(args, d, work, result):
    p = dict(oracle.PARAMS[args.workload])
    sizes = json.load(open(os.path.join(d, "sizes.json")))
    p.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
             input_dir=d, work_dir=work, result=result, cores=CORES, setups=SETUPS,
             dim=sizes.get("dim", 64))
    if args.workload == "curate_pipeline":
        p["blocked_hosts"] = ",".join(sizes["blocked_hosts"])
        p["split_weights"] = ",".join(f"{l}:{w}" for l, w in p["split_weights"])
    if args.workload == "vector_mixed":
        p["batch_rows"] = sizes["batch_rows"]

    def esc(v):
        return str(v).replace("\\", "\\\\").replace("\n", "\\n")
    path = os.path.join(work, "settings.properties")
    with open(path, "w") as f:
        for k, v in sorted(p.items()):
            f.write(f"{k}={esc(v)}\n")
    return path


def run_jvm(classes, jars, props, work, deadline):
    log = open(os.path.join(work, "jvm.log"), "w")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
                                 classes + os.pathsep + os.path.join(jars, "*"),
                                 "perfbench.Main", props]
    # Spark prefers SPARK_LOCAL_DIRS over its setting; keep scratch in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        log.close()


def check(res, exp, facts):
    """Count ops whose output hash differs from the expected one."""
    e = exp["expected"]
    failed = 0
    bad = []
    for o in res["ops"]:
        key = o["key"]
        kind, _, arg = key.partition(":")
        if kind == "append":
            want = str(int(arg) * facts["batch_rows"] * facts["index_bands"])
        elif arg:
            want = e.get(kind, {}).get(arg)
        else:
            want = e.get(key)
        if o["error"] or not key or o["observed"] != want:
            failed += 1
            bad.append(f"{o['name']}[{o['unit']}] {o['error'] or 'got ' + o['observed'] + ' want ' + str(want)}")
    return failed, bad


def unit_ms(ops, names=None, traced=None):
    per = {}
    for o in ops:
        if (names is None or o["name"] in names) and (traced is None or o["traced"] == traced):
            per[o["unit"]] = per.get(o["unit"], 0.0) + o["ms"]
    return list(per.values())


def end_to_end(workload, res):
    """BENCHMARK.json metrics plus the per-workload names they stand for."""
    f = res["facts"]
    ops = [o for o in res["ops"] if not o["traced"]]
    named = {"setup_s": (median(res["setup_s"]), "s"),
             "retained_heap_mb": (f["retained_heap_mb"], "MB")}
    if workload == "curate_pipeline":
        passes = unit_ms(ops)
        near = unit_ms(ops, {"minhash_candidates", "jaccard_verify", "connected_components"})
        named["curate_docs_per_s"] = (f["input_docs"] / (median(passes) / 1e3), "docs/s")
        named["neardup_docs_per_s"] = (f["input_docs"] / (median(near) / 1e3), "docs/s")
        named["pass_p50_ms"] = (median(passes), "ms")
        gen_map = {"throughput_per_s": "curate_docs_per_s", "build_per_s": "neardup_docs_per_s",
                   "latency_p50_ms": "pass_p50_ms"}
        samples = len(passes)
    else:
        by = {}
        for o in ops:
            by.setdefault(o["name"], []).append(o["ms"])
        # a run ends mid-round, so a batch metric sums per-op medians
        # rather than timing whole rounds
        def op_ms(*names):
            return sum(median(by.get(n, [])) for n in names)
        knn = by.get("knn_exact", [])
        named["knn_queries_per_s"] = (f["queries"] / (op_ms("knn_exact") / 1e3), "queries/s")
        named["index_build_vectors_per_s"] = (
            f["corpus"] / (op_ms("ivf_centroids", "ivfpq_index", "lsh_index") / 1e3), "vectors/s")
        named["ann_queries_per_s"] = (f["queries"] / (op_ms("ann_ivf", "ann_multiprobe") / 1e3), "queries/s")
        rec = [f.get("recall_ivf", float("nan")), f.get("recall_multiprobe", float("nan"))]
        named["ann_recall_at_10"] = (sum(rec) / 2, "fraction")
        named["ann_recall_at_10.ivf"] = (rec[0], "fraction")
        named["ann_recall_at_10.multiprobe"] = (rec[1], "fraction")
        named["stored_bytes_per_input_byte.index"] = (
            f.get("index_stored_bytes", float("nan")) / f["input_vector_bytes"], "ratio")
        for n in ("search", "rag", "append"):
            xs = by.get(n, [])
            named[f"{n}_p50_ms"] = (median(xs), "ms")
            if n != "rag":
                p, v = tail(xs)
                named[f"{n}_tail_ms"] = (v, f"ms@p{p},n={len(xs)}")
        serving = [o["ms"] for o in ops if o["name"] in ("search", "rag", "append")]
        named["serving_ops_per_s"] = (len(serving) / (sum(serving) / 1e3) if serving else float("nan"), "ops/s")
        vec_bytes = f["appended_rows"] * f["dim"] * 4
        named["stored_bytes_per_input_byte.stream"] = (
            f["stream_stored_bytes"] / vec_bytes if vec_bytes else float("nan"), "ratio")
        named["cached_corpus_mb"] = (f.get("cached_mb", float("nan")), "MB")
        gen_map = {"throughput_per_s": "knn_queries_per_s", "build_per_s": "index_build_vectors_per_s",
                   "latency_p50_ms": "search_p50_ms"}
        samples = len(by.get("search", []))
    metrics = {"setup_s": named["setup_s"], "retained_heap_mb": named["retained_heap_mb"]}
    for g, n in gen_map.items():
        metrics[g] = named[n]
    return metrics, named, gen_map, samples


def self_times(spans):
    """Per span name: count, total ms, self ms (duration minus children)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((c["start_ms"], c["start_ms"] + c["ms"]) for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            a, b = max(a, s["start_ms"]), min(b, s["start_ms"] + s["ms"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        t = out.setdefault(s["name"], [0, 0.0, 0.0])
        t[0] += 1
        t[1] += s["ms"]
        t[2] += max(0.0, s["ms"] - covered)
    return out


def per_layer(workload, res):
    """BENCHMARK.json per-layer metrics (per traced unit) and the report."""
    ops = res["ops"]
    traced = [o for o in ops if o["traced"] and "stats" in o]
    units = sorted({o["unit"] for o in traced})
    # a curate unit is a pass; a vector_mixed unit is one op
    n = max(1, len(units) if workload == "curate_pipeline" else len(traced))
    st = lambda o, k: o["stats"].get(k, 0.0)
    tot = lambda k: sum(st(o, k) for o in traced)
    wall_ms = sum(o["ms"] for o in traced)
    skews = []
    for u in units:
        uo = [o for o in traced if o["unit"] == u]
        top = max(uo, key=lambda o: st(o, "longest_stage_ms"))
        skews.append(st(top, "task_skew"))
    if workload != "curate_pipeline" and traced:
        skews = [st(max(traced, key=lambda o: st(o, "longest_stage_ms")), "task_skew")]
    m = {
        "spark.analysis_ms": tot("analysis_ms") / n,
        "spark.optimizer_ms": tot("optimizer_ms") / n,
        "spark.planning_ms": tot("planning_ms") / n,
        "spark.jobs": tot("jobs") / n,
        "spark.stages": tot("stages") / n,
        "spark.tasks": tot("tasks") / n,
        "spark.job_gap_ms": tot("job_gap_ms") / n,
        "spark.task_cpu_s": tot("cpu_s") / n,
        "spark.core_busy_frac": tot("run_ms") / (wall_ms * CORES) if wall_ms else 0.0,
        "spark.task_skew": median(skews) if skews else 1.0,
        "spark.gc_ms": tot("gc_ms") / n,
        "spark.shuffle_write_mb": tot("shuffle_write_mb") / n,
        "spark.shuffle_read_mb": tot("shuffle_read_mb") / n,
        "spark.spill_mb": tot("spill_mb") / n,
    }
    for k, v in res["kernel"].items():
        m[f"kernel.{k}"] = v
    if workload == "vector_mixed":
        on = [o["ms"] for o in ops if o["name"] == "search" and o["traced"]]
        off = [o["ms"] for o in ops if o["name"] == "search" and not o["traced"]]
    else:
        on, off = unit_ms(ops, traced=True), unit_ms(ops, traced=False)
    m["trace.overhead_frac"] = (median(on) - median(off)) / median(off) if on and off else 0.0
    return m, traced


def module_metrics(workload, res, traced):
    """The per-module layer metrics, by module-prefixed name."""
    f = res["facts"]
    spans = [s for s in res["spans"]]
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    # per pass on curate_pipeline, per round of batch ops on vector_mixed
    n_units = max(1, len({o["unit"] for o in traced}) if workload == "curate_pipeline"
                  else len([o for o in traced if o["name"] == "knn_exact"]))

    def secs(*names):
        return sum(s["ms"] for nm in names for s in by.get(nm, [])) / 1e3 / n_units

    def attr_s(name, a):
        return sum(s["attrs"].get(a, 0.0) for s in by.get(name, [])) / 1e3 / n_units

    def jobs(op):
        return sum(o["stats"]["jobs"] for o in traced if o["name"] == op) / n_units

    def med_ms(name, pred=lambda s: True):
        xs = [s["ms"] for s in by.get(name, []) if pred(s)]
        return median(xs) if xs else float("nan")

    if workload == "curate_pipeline":
        return {
            "sk.minhash_sig_s": attr_s("Sketches.minhashCandidates", "call_ms"),
            "sk.candidates_s": attr_s("Sketches.minhashCandidates", "force_ms"),
            "sk.candidate_pairs": f.get("candidate_pairs", float("nan")),
            "sk.max_bucket_rows": f.get("max_bucket_rows", float("nan")),
            "sk.verified_frac": f.get("verified_pairs", 0) / f["candidate_pairs"] if f.get("candidate_pairs") else float("nan"),
            "graph.cc_s": secs("Graph.connectedComponents", "Graph.componentSizes"),
            "graph.cc_jobs": jobs("connected_components"),
            "graph.components": f.get("components", float("nan")),
            "text.quality_s": secs("TextOps.qualityMetrics"),
            "text.dedup_exact_s": secs("TextOps.dedupExact"),
            "text.bpe_learn_s": secs("TextOps.bpeLearnMerges"),
            "text.bpe_learn_jobs": jobs("bpe_learn"),
            "text.fertility_s": secs("TextOps.tokenizerFertilityBpe"),
            "web.url_filter_s": secs("Web.urlFilter"),
            "splits.assign_s": secs("Splits.assignSplit"),
        }
    def rows(op, *keys):
        return sum(o["stats"].get(k, 0.0) for o in traced if o["name"] == op for k in keys) / n_units

    nq, nc = f["queries"], f["corpus"]
    scored = rows("knn_exact", "rows:BroadcastNestedLoopJoin", "rows:CartesianProduct")
    plain = med_ms("Streaming.compactingIndexAppend", lambda s: s["attrs"].get("compaction") == 0)
    comp = med_ms("Streaming.compactingIndexAppend", lambda s: s["attrs"].get("compaction") == 1)
    return {
        "vs.knn_join_s": secs("VectorSearch.knnJoin"),
        "vs.knn_pairs_scored": scored,
        "vs.knn_pairs_frac": scored / (nq * nc),
        "vs.ivf_centroids_s": secs("VectorSearch.ivfCentroids"),
        "vs.pq_codebooks_s": secs("VectorSearch.pqCodebooks"),
        "vs.index_table_s": secs("VectorSearch.ivfPqIndexTable", "VectorSearch.lshBucketTable"),
        "vs.ann_join_s": secs("VectorSearch.ivfKnnJoin", "VectorSearch.multiProbeKnnJoin"),
        "vs.ann_candidates_per_query.ivf": rows("ann_ivf", "rows:join:centroid_id") / nq,
        "vs.ann_candidates_per_query.multiprobe": rows("ann_multiprobe", "rows:join:bucket") / nq,
        "vs.topk_ms": median([s["attrs"].get("force_ms", 0.0) for s in by.get("VectorTable.search", [])])
        if by.get("VectorTable.search") else float("nan"),
        "rag.build_index_s": f.get("rag_build_index_s", float("nan")),
        "rag.answer_ms": med_ms("Rag.answerFromIndex"),
        "vt.cache_build_s": f.get("vt_cache_build_s", float("nan")),
        "vt.search_ms": med_ms("VectorTable.search"),
        "vt.cached_mb": f.get("cached_mb", float("nan")),
        "stream.trigger_ms": med_ms("Streaming.trigger"),
        "stream.batch_write_ms": plain,
        "stream.compaction_ms": comp - plain,
        "stream.fragment_files": f.get("fragment_files", float("nan")),
    }


def report(res, traced, mods, out):
    out("per-layer self time over traced units (ms):")
    out(f"  {'span':44s} {'count':>6s} {'total':>10s} {'self':>10s}")
    for name, (c, t, s) in sorted(self_times(res["spans"]).items(), key=lambda kv: -kv[1][2]):
        out(f"  {name:44s} {c:6d} {t:10.1f} {s:10.1f}")
    out("Spark listener counts per op (traced units, summed):")
    out(f"  {'op':22s} {'jobs':>6s} {'stages':>6s} {'tasks':>6s} {'cpu_s':>8s} "
        f"{'shuf_MB':>8s} {'gap_ms':>8s} {'plan_ms':>8s}")
    agg = {}
    for o in traced:
        a = agg.setdefault(o["name"], {})
        for k, v in o["stats"].items():
            a[k] = a.get(k, 0.0) + v
    for name, a in agg.items():
        plan = a["analysis_ms"] + a["optimizer_ms"] + a["planning_ms"]
        shuf = a["shuffle_write_mb"] + a["shuffle_read_mb"]
        out(f"  {name:22s} {a['jobs']:6.0f} {a['stages']:6.0f} {a['tasks']:6.0f} "
            f"{a['cpu_s']:8.2f} {shuf:8.2f} {a['job_gap_ms']:8.0f} {plan:8.1f}")
    out("module metrics:")
    for k, v in mods.items():
        out(f"  {k} = {v:.6g}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    log = lambda s: print(s, flush=True)
    load1 = os.getloadavg()[0]
    log(f"[perfbench] workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} nproc={os.cpu_count()} loadavg={load1:.2f}")
    bdir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    classes, jars = build.build(bdir)
    base = os.path.join(bdir, "perfbench")
    d, exp = inputs(args.workload, args.seed, os.path.join(base, "inputs"))
    work = os.path.join(base, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    props = settings(args, d, work, result)
    rc = run_jvm(classes, jars, props, work, start + 170)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    res = json.load(open(result))
    facts = res["facts"]
    facts.update(dim=json.load(open(os.path.join(d, "sizes.json"))).get("dim", 64))
    if args.workload == "vector_mixed":
        facts.update(batch_rows=exp["facts"]["batch_rows"], index_bands=exp["facts"]["index_bands"])
    failed, bad = check(res, exp, facts)
    attempted = len(res["ops"])
    for b in bad[:10]:
        log(f"[perfbench] WRONG {b}")
    metrics, named, gen_map, samples = end_to_end(args.workload, res)
    named["failed_ops_frac"] = (failed / attempted if attempted else 1.0, "fraction")
    log(f"[perfbench] {attempted} ops, {failed} failed, {int(facts['units'])} units in "
        f"{facts['loop_s']:.1f}s, {samples} samples of the main op; setups {res['setup_s']}")
    per_op = {}
    for o in res["ops"]:
        per_op.setdefault(o["name"], []).append(o["ms"])
    for k, xs in per_op.items():
        log(f"  op {k}: median {median(xs):.1f} ms over {len(xs)}")
    for k, (v, u) in named.items():
        log(f"{args.workload}.{k} = {v:.6g} {u}")
    for g, n in gen_map.items():
        log(f"  ({g} is {n} on this workload)")
    report_path = os.path.join(base, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(report_path), exist_ok=True)
    rep = {"args": vars(args), "nproc": os.cpu_count(), "loadavg_start": load1,
           "loadavg_end": os.getloadavg()[0], "named": named, "facts": facts,
           "setup_s": res["setup_s"], "oracle_facts": exp["facts"], "op_ms": per_op}
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        layer, traced = per_layer(args.workload, res)
        mods = module_metrics(args.workload, res, traced)
        report(res, traced, mods, log)
        values = layer
        rep.update(per_layer=layer, modules=mods, self_times=self_times(res["spans"]))
    else:
        values = {k: v for k, (v, _) in metrics.items()}
    wanted = declared["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    with open(report_path, "w") as f:
        json.dump(rep, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": out}), flush=True)


if __name__ == "__main__":
    main()
