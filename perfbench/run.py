#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload monitor|curate|serve|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the benchmark
(perfbench/build.sbt compiles graft's sources with the benchmark's own);
later runs reuse the build until a source changes. Each run generates its
inputs from the seed, runs the workload's closed loop for S seconds in one
JVM (local[nproc], one client thread), checks the outputs in an untimed
pass (DuckDB oracle, recall, stream == batch sweep, repeatable alerts), and
prints a table of every metric followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones in BENCHMARK.json; with
--trace 1 they are the per-layer ones (spans and Spark listener counters
on). A copy of each run's full report lands in .bench_runs/ for compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("monitor", "curate", "serve", "ingest")
SIZES = {
    "curate_docs": 600, "curate_vectors": 1000,
    "serve_vectors": 20_000, "serve_append_batches": 60, "serve_append_rows": 20,
    "ingest_batches": 12, "ingest_batch": 2000,
    "fn_rows": 1000, "fn_kernel_rows": 16_000, "fn_media_rows": 4000,
}
RUN_BUDGET_S = 170
# serve: mean recall@10 of the timed searches against exact cosine top-10
MIN_RECALL = 0.8
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_hash(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles graft plus the benchmark when any source changed; returns
    the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file, hash_file = os.path.join(target, "classpath.txt"), os.path.join(target, "sources.sha")
    want = source_hash(root)
    if os.path.exists(cp_file) and os.path.exists(hash_file) and open(hash_file).read() == want:
        return open(cp_file).read().strip()
    log("building graft and the benchmark (sbt) ...")
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(hash_file, "w") as f:
        f.write(want)
    return cp


# ---------------------------------------------------------------- metrics

def derive_means(values):
    """`x.sum` / `x.n` pairs become their mean `x`."""
    out = {k: v for k, v in values.items() if not k.endswith((".sum", ".n"))}
    for k, v in values.items():
        if k.endswith(".sum") and values.get(k[:-4] + ".n"):
            out[k[:-4]] = v / values[k[:-4] + ".n"]
    return out


def e2e_series(workload, samples):
    """The workload's (op, cycle) sample series behind the end-to-end slots."""
    if workload == "monitor":
        return samples.get("analytics_query", []), samples.get("monitor_run", [])
    if workload == "curate":
        ops = [x for k, v in samples.items() if k.startswith("ext.") for x in v]
        return ops, samples.get("curate_pass", [])
    if workload == "serve":
        return samples.get("search", []), samples.get("append_visible", [])
    return samples.get("ingest_batch", []), samples.get("ingest_batch_late", [])


def named_metrics(workload, samples, values):
    """The workload's metrics under the names the benchmark's documents use."""
    m = {}

    def med(series):
        xs = samples.get(series, [])
        return stats.median(xs) if xs else None

    def tl(series):
        xs = samples.get(series, [])
        return stats.tail(xs) if xs else (None, None)

    if workload == "monitor":
        m["monitor_run_p50_s"] = (med("monitor_run"), "s")
        m["analytics_query_p50_s"] = (med("analytics_query"), "s")
        v, p = tl("analytics_query")
        m["analytics_query_tail_s"] = (v, f"s (p{p})")
    elif workload == "curate":
        for g in ("text", "embed", "media"):
            m[f"curate_{g}_s"] = (med(f"curate_{g}"), "s")
    elif workload == "serve":
        m["search_p50_s"] = (med("search"), "s")
        v, p = tl("search")
        m["search_tail_s"] = (v, f"s (p{p})")
        m["append_visible_s"] = (med("append_visible"), "s")
    else:
        m["ingest_docs_per_s"] = (med("ingest_docs_per_s"), "docs/s")
        m["ingest_batch_p50_s"] = (med("ingest_batch"), "s")
        m["ingest_batch_late_s"] = (med("ingest_batch_late"), "s")
    return m


def layer_metrics(workload, samples, values, spans):
    """Per-layer figures of a traced run, including derived ones."""
    v = derive_means(values)
    if workload == "curate":
        for k in list(samples):
            if k.startswith("ext.q"):
                v[f"{k}_ms"] = stats.median(samples[k]) * 1000
    if workload == "ingest":
        b = samples.get("ingest_batch", [])
        if b:
            v["streaming.batch_ms"] = stats.median(b) * 1000
        early, late = samples.get("ingest_batch_early"), samples.get("ingest_batch_late")
        if early and late:
            v["streaming.batch_growth"] = stats.median(late) / stats.median(early)
        if "ingest_batch.spark.input_bytes" in v:
            v["streaming.state_bytes_read_per_batch"] = v["ingest_batch.spark.input_bytes"]
    ops, cycles = e2e_series(workload, samples)
    if ops and cycles:
        v["trace.op_p50_s"] = stats.median(ops)
        v["trace.cycle_s"] = stats.median(cycles)
    v["trace.spans"] = len(spans)
    if spans:
        for layer, ns in stats.self_times(spans).items():
            v[f"self.{layer}_ms"] = ns / 1e6
    if workload == "curate" and spans:
        # per registry query: its layers' self time, per pass
        root = {s[2]: s[4].split("_")[0] for s in spans if s[1] == -1}
        passes = len(samples.get("curate_pass", [])) or 1
        per = stats.self_times(spans, key=lambda s: (root[s[2]], s[3]))
        for (q, layer), ns in per.items():
            v[f"self.{q}.{layer}_ms"] = ns / 1e6 / passes
    return v


# ---------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    cp = build(root)

    t0 = time.time()
    deadline = t0 + RUN_BUDGET_S
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.write_all(gen.tables_for(a.workload, a.seed, SIZES), data)
    digest = gen.digest(data)
    gen_s = time.time() - t0
    if a.trace:
        gen.write_all(gen.fn_tables(a.seed, SIZES), os.path.join(work, "fn"))
    out_file = os.path.join(work, "jvm.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else "java"
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--work", work, "--out", out_file]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out_file):
        sys.stderr.write("".join(open(jvm_log).readlines()[-60:]))
        fail(f"JVM {'timed out' if rc is None else f'exited {rc}'}")
    r = json.load(open(out_file))
    jvm_done = time.time()

    # correctness: the JVM's own checks, plus the DuckDB oracle
    problems = {k: v for k, v in r["checks"].items() if v}
    verify_dir = os.path.join(work, "verify")
    if os.path.isdir(verify_dir):
        res = oracle.check(verify_dir, data)
        problems.update({f"oracle.{k}": v for k, v in res.items() if v})
        checked = len(res)
    else:
        checked = 0
    if a.workload == "serve":
        recall, per_kind = oracle.recall_at_10(r["outputs"], data)
        r["values"]["ann.recall_at_10"] = recall
        for k, v in per_kind.items():
            r["values"][f"ann.{k}.recall_at_10"] = v
        if recall < MIN_RECALL:
            problems["ann.recall_at_10"] = f"mean recall@10 {recall:.3f} below {MIN_RECALL}"
    oracle_s = time.time() - jvm_done
    wrong = len(problems)
    failed = r["failed"] + wrong
    attempted = max(1, r["attempted"])

    samples, values = r["samples"], r["values"]
    ops, cycles = e2e_series(a.workload, samples)
    if not ops or not cycles:
        fail(f"no timed samples: ops={len(ops)} cycles={len(cycles)}")
    setup_s = (r["setup_end_ms"] / 1000.0) - t0
    op_tail, tail_p = stats.tail(ops)
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": values["peak_rss_mb"],
        "op_p50_s": stats.median(ops),
        "op_tail_s": op_tail,
        "cycle_s": stats.median(cycles),
    }
    named = named_metrics(a.workload, samples, values)
    named["setup_s"] = (setup_s, "s")
    named["peak_rss_mb"] = (values["peak_rss_mb"], "MB")
    named["failed_frac"] = (failed / attempted, "ratio")
    layers = layer_metrics(a.workload, samples, values, r["spans"]) if a.trace else {}

    # the report
    print(f"graft benchmark  workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} inputs={digest} cores={os.cpu_count()}")
    print(f"  ops attempted={r['attempted']} failed={r['failed']} wrong_results={wrong} "
          f"oracle_queries={checked} op_samples={len(ops)} cycle_samples={len(cycles)} "
          f"tail=p{tail_p}")
    print("  run phases (s): after_timing=%.3f oracle=%.3f" % (
        jvm_done - r["setup_end_ms"] / 1000.0, oracle_s))
    print("  setup steps (s): generate_inputs=%.3f %s warm_up=%.3f" % (gen_s, " ".join(
        f"{k[6:]}={v:.3f}" for k, v in values.items() if k.startswith("setup.")),
        (r["setup_end_ms"] - r["session_ready_ms"]) / 1000.0))
    for k, v in problems.items():
        print(f"  WRONG {k}: {v}")
    print("  end-to-end (named):")
    for k, (v, unit) in named.items():
        print(f"    {k:34s} {'n/a' if v is None else f'{v:.6g}':>14s} {unit}")
    print("  end-to-end (benchmark slots):")
    for k, v in e2e.items():
        print(f"    {k:34s} {v:14.6g}")
    print("  sample series (n, median s):")
    for k, xs in samples.items():
        print(f"    {k:34s} {len(xs):5d} {stats.median(xs):10.4f}")
    if a.trace:
        print("  per-layer:")
        for k in sorted(layers):
            print(f"    {k:34s} {layers[k]:14.6g}")

    metric_defs = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = layers if a.trace else e2e
    metrics = {}
    for m in metric_defs:
        if m["name"] not in source:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    result = {"correct": wrong == 0 and r["failed"] == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}

    runs = os.path.join(root, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{int(t0 * 1000)}.json"),
              "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "inputs": digest,
                   "e2e": e2e, "samples": samples, "named": {k: v[0] for k, v in named.items()},
                   "layers": layers, "problems": problems, "result": result}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
