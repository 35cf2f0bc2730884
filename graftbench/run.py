#!/usr/bin/env python3
"""graft benchmark: builds the library and the harness from source, makes
seeded inputs, runs one workload in a single JVM on local[N] and prints
its metrics.

    python3 graftbench/run.py --workload analytics --seed 1 --seconds 18 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds the
provenance and detail (sample counts, percentiles used, checks). See
README.md for the workloads and the layer -> metric -> workload map.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen    # noqa: E402
import stats  # noqa: E402

CACHE = os.path.join(HERE, ".cache")   # generated inputs, by seed and size
WORK = os.path.join(HERE, ".work")     # per-run scratch: state, outputs
BUILD = os.path.join(HERE, "target")
DEADLINE_S = 170      # a run ends within 180 s once built
HEAP = "2g"

ANALYTICS_SIZE = 1.0  # x the row counts in gen.ANALYTICS_ROWS
DEDUP_BLOCKS = dict(n_docs=20000, n_blocks=30, hot_docs=6000, cap=4000)
ROUTE_THRESHOLD = 4000   # hot block above it, every other block below
INCR_DOCS, INCR_BATCHES, INCR_BATCH_DOCS = 8000, 5, 400

WORKLOADS = ("analytics", "dedup_batch", "dedup_incremental")
# Warm pass time (s) of each workload on a 4-vCPU KVM guest. --seconds
# buys round(seconds / PASS_S) timed passes, at least one: a fixed count,
# so the samples behind each median and percentile do not change with
# the host's speed that minute or with a faster build.
PASS_S = {"analytics": 8.0, "dedup_batch": 5.5, "dedup_incremental": 8.5}

# java.base packages Spark on JDK 17 needs opened when not started by
# spark-submit (the root build's javaOptions carry the same list).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def _source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build():
    """Compile the library and the harness unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources next to the benchmark ({need} missing)")
    h = hashlib.sha1()
    for f in sorted(_source_files()):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "source-hash")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "writeClasspath"], cwd=HERE, env=env,
                           stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(os.path.join(WORK, "build.log")) as log:
            sys.stderr.write("".join(log.readlines()[-30:]))
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip(), digest


# ---- inputs ----------------------------------------------------------------

def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs; returns (dir, summary)."""
    if workload == "analytics":
        key = f"analytics-s{seed}-x{ANALYTICS_SIZE}"
        make = lambda d: gen.analytics_fixture(d, seed, ANALYTICS_SIZE)
    elif workload == "dedup_batch":
        b = DEDUP_BLOCKS
        key = "dedup-s{}-n{n_docs}-b{n_blocks}-h{hot_docs}-c{cap}".format(
            seed, **b)
        make = lambda d: gen.dedup_corpus(d, seed, gen.zipf_blocks(**b))
    else:
        key = f"incr-s{seed}-n{INCR_DOCS}-k{INCR_BATCHES}x{INCR_BATCH_DOCS}"
        make = lambda d: gen.dedup_corpus(
            d, seed, gen.zipf_blocks(INCR_DOCS, 20, 0, INCR_DOCS)[1:],
            batches=INCR_BATCHES, batch_docs=INCR_BATCH_DOCS)
    d = os.path.join(CACHE, key)
    done = os.path.join(d, "inputs.json")
    if not os.path.exists(done):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        summary = make(tmp)
        with open(os.path.join(tmp, "inputs.json"), "w") as f:
            json.dump(summary, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(done) as f:
        return d, json.load(f)


# ---- the JVM ---------------------------------------------------------------

def run_jvm(cp, args, out, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in OPENS
                      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # Parallel GC: under G1 at this heap Spark's page-sized buffers are
    # humongous allocations, each starting a concurrent mark (measured:
    # 184 cycles in one dedup_batch run, their marking CPU varying pass
    # time by a third); the parallel collector halved process CPU.
    cmd += ["-XX:+UseParallelGC", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp,
            "graftbench.Main", "--work", WORK, "--out", out,
            "--t0", str(time.time_ns())] + args
    with open(os.path.join(WORK, "jvm.log"), "a") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness JVM exceeded the run deadline")
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"harness JVM exited with {p.returncode}; see {WORK}/jvm.log")
    with open(out) as f:
        return json.load(f)


# ---- output checks ---------------------------------------------------------

def compare(exp, got):
    """The oracle rule of scripts/check.py: columns sorted by name, rows
    sorted, floats equal within 1e-9, other values equal as strings,
    dtype kinds equal. Returns '' on a match, else the first difference."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"cols exp={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"
    exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind != g.dtype.kind:
            return f"col {c} dtype kind exp={e.dtype} got={g.dtype}"
        if e.dtype.kind in "fc" or g.dtype.kind in "fc":
            bad = ~((e.isna() & g.isna()) |
                    (abs(e.astype(float) - g.astype(float)) <= 1e-9))
        else:
            bad = e.astype(str) != g.astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"col {c} row {i}: exp={e[i]!r} got={g[i]!r}"
    return ""


def oracle_checks(data, res):
    """Compare each analytics output with its oracle SQL run in DuckDB
    over the same parquet tables."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in gen.ANALYTICS_ROWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    out = {}
    for item, sql in res["facts"]["oracle_sql"].items():
        try:
            out[item] = compare(con.sql(sql).df(), pd.read_parquet(
                os.path.join(WORK, "check", item)))
        except Exception as e:  # noqa: BLE001 - any failure fails the item
            out[item] = f"{type(e).__name__}: {e}"
    return out


# ---- metrics ---------------------------------------------------------------

def scored_samples(res, check_failures):
    """The untraced item samples, each failed if the harness caught an
    exception or timeout in it or if its item's output check failed."""
    return [dict(s, ok=s["ok"] and s["item"] not in check_failures)
            for s in res["samples"] if not s["traced"]]


def end_to_end(res, attempted_failed_lat):
    attempted, failed, lat = attempted_failed_lat
    passes = [p for p in res["passes"] if not p["traced"]]
    bad = {s["pass"] for s in res["samples"] if not s["traced"] and not s["ok"]}
    clean = [p for p in passes if p["pass"] not in bad] or passes
    pass_s = stats.median([p["wall_s"] for p in clean])
    p90, q, n, beyond = stats.tail_percentile(lat)
    metrics = {
        "pass_s": (pass_s, "s"),
        "rows_per_s": (res["input_rows"] / pass_s, "rows/s"),
        "item_p50_s": (stats.median(lat), "s"),
        "item_p90_s": (p90, "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in clean]), "s"),
        "setup_s": (res["setup_s"], "s"),
        "heap_mb": (max(p["heap_mb"] for p in passes), "MiB"),
    }
    detail = {"passes": len(passes), "item_samples": n,
              "item_p90_percentile": round(q, 4), "samples_beyond_p90": beyond,
              "fail_frac": failed / max(1, attempted),
              "pass_wall_s": [p["wall_s"] for p in passes],
              "pass_steal_s": [p.get("steal_s", 0.0) for p in passes]}
    return metrics, detail


def per_layer(res):
    spans, events, facts = res["spans"], res["events"], res["facts"]
    passes = [s for s in spans if s["name"] == "pass"]
    k = max(1, len(passes))
    sec = lambda name: stats.span_seconds(spans, name) / k
    named = lambda *names: [s for s in spans if s["name"] in names]
    total = stats.layer_counts(passes, events)
    wall_s = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in passes)
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    m = {
        "api.build_s": (sec("api.build"), "s"),
        "catalyst.plan_s": (sec("catalyst.plan"), "s"),
        "spark.injob_s": (total["injob_ms"] / 1e3 / k, "s"),
        "spark.driver_gap_s": ((wall_s - total["injob_ms"] / 1e3) / k, "s"),
        "spark.jobs": (total["jobs"] / k, "count"),
        "spark.stages": (total["stages"] / k, "count"),
        "spark.tasks": (total["tasks"] / k, "count"),
        "spark.task_cpu_s": (total["cpu_ns"] / 1e9 / k, "s"),
        "spark.task_gc_s": (total["gc_ms"] / 1e3 / k, "s"),
        "spark.cores_busy": (total["run_ms"] / 1e3 / max(wall_s, 1e-9),
                             "cores"),
        "spark.shuffle_write_bytes": (total["shuffle_write"] / k, "B"),
        "spark.shuffle_read_bytes": (total["shuffle_read"] / k, "B"),
        "spark.spill_bytes": (total["spill"] / k, "B"),
        "spark.input_bytes": (total["input"] / k, "B"),
        "spark.codegen_classes": (
            stats.median([p["codegen_classes"] for p in traced]) if traced
            else 0, "count"),
    }
    for layer in ("ops.metric", "ops.stat", "agg", "linear", "util.cumsum"):
        c = stats.layer_counts(named(layer), events)
        m[f"{layer}.s"] = (sec(layer), "s")
        m[f"{layer}.jobs"] = (c["jobs"] / k, "count")
        m[f"{layer}.shuffle_bytes"] = (c["shuffle_write"] / k, "B")
    sign = sec("text.minhash_sign") + sec("text.band_table") + \
        sec("text.batch_sign")
    counts = lambda name: sum(s["count"] for s in spans
                              if s["name"] == name) / k
    state_docs = facts.get("state_docs", 0)
    m.update({
        "text.tokenize_s": (sec("text.tokenize"), "s"),
        "text.jaccard_triangle_s": (sec("text.jaccard_triangle"), "s"),
        "text.jaccard_prefix_s": (sec("text.jaccard_prefix"), "s"),
        "text.minhash_sign_s": (sign, "s"),
        "text.minhash_pairs_s": (sec("text.minhash_pairs"), "s"),
        "text.jaccard_pairs": (facts.get("jaccard_pairs", 0), "count"),
        "text.minhash_pairs": (facts.get("minhash_pairs", 0), "count"),
        "text.minhash_recall": (facts.get("minhash_recall", 0), "ratio"),
        "graph.cc_s": (sec("graph.cc"), "s"),
        "graph.survivors_s": (sec("graph.survivors"), "s"),
        "graph.components": (facts.get("components", 0), "count"),
        "graph.survivors": (facts.get("survivors", 0), "count"),
        "text.band_table_s": (sec("text.band_table"), "s"),
        "text.batch_sign_s": (sec("text.batch_sign"), "s"),
        "text.sweep_s": (sec("text.sweep"), "s"),
        "state.write_s": (sec("state.write"), "s"),
        "state.write_bytes": (counts("state.write"), "B"),
        "state.read_bytes": (stats.layer_counts(named("text.sweep"),
                                                events)["input"] / k, "B"),
        "text.incremental_pairs": (facts.get("incremental_pairs", 0),
                                   "count"),
        "state.bytes_per_doc": (facts["state_bytes"] / state_docs
                                if state_docs else 0, "B"),
        "trace.overhead_frac": (
            stats.median([p["wall_s"] for p in traced]) /
            stats.median([p["wall_s"] for p in untraced]) - 1, "ratio"),
    })
    selfs = stats.self_times(spans)
    self_by_name = {}
    for s in spans:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0) + \
            selfs[s["id"]] / k
    return m, {"traced_passes": k, "self_s_by_span": self_by_name}


def provenance(res, digest, seed, summary):
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True,
                                  timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    p = dict(res["provenance"])
    p.update(git_head=head, source_sha1=digest, seed=seed,
             nproc=os.cpu_count(), heap=HEAP, inputs=summary,
             input_rows_per_pass=res["input_rows"])
    return p


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, digest = build()
    deadline = time.monotonic() + DEADLINE_S
    t = time.monotonic()
    data, summary = inputs(a.workload, a.seed)
    phases = {"inputs_s": time.monotonic() - t}
    shutil.rmtree(WORK + "/check", ignore_errors=True)
    shutil.rmtree(WORK + "/state", ignore_errors=True)
    out = os.path.join(WORK, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--passes", str(max(1, round(a.seconds / PASS_S[a.workload]))),
            "--trace", str(a.trace),
            "--data", data]
    if a.workload == "analytics":
        args += ["--rows", ",".join(f"{k}={v}" for k, v in summary.items())]
    elif a.workload == "dedup_batch":
        args += ["--route-threshold", str(ROUTE_THRESHOLD)]
        if a.trace:
            # the state path's per-layer numbers come from this run
            incr, incr_summary = inputs("dedup_incremental", a.seed)
            summary = dict(summary, incremental=incr_summary)
            args += ["--incr-data", incr, "--batches", str(INCR_BATCHES)]
    else:
        args += ["--batches", str(INCR_BATCHES)]
    t = time.monotonic()
    res = run_jvm(cp, args, out, deadline)
    phases.update(jvm_s=time.monotonic() - t, check_s=res["check_s"])

    checks = {c["item"]: c["detail"] for c in res["checks"]}
    if a.workload == "analytics":
        t = time.monotonic()
        for item, diff in oracle_checks(data, res).items():
            checks[item] = checks[item] or diff
        phases["oracle_s"] = time.monotonic() - t
    bad = {i: d for i, d in checks.items() if d}
    counted = stats.account(scored_samples(res, bad))
    if a.trace:
        metrics, detail = per_layer(res)
    else:
        metrics, detail = end_to_end(res, counted)
    attempted, failed, _ = counted
    print(json.dumps({"provenance": provenance(res, digest, a.seed, summary),
                      "detail": dict(detail, phases_s=phases, facts={
                          k: v for k, v in res["facts"].items()
                          if k != "oracle_sql"}),
                      "failed_checks": bad}))
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
