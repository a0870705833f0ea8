#!/usr/bin/env python3
"""Lakehouse benchmark, each run one workload in a fresh JVM on local[4]:
`full_build` (the sales then supplier medallion pipelines, raw parquet to
gold plus the DQ gate) or `incremental` (order deltas folded onto a
half-history base, then an ext read slice that covers every ext family and
persisted store).

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Builds the library and the harness from source with sbt (once per source
state), generates seeded inputs, runs the workload in the harness JVM,
checks every output (stage and DQ status, folded states against
from-scratch aggregates, gold tables and query results against their DuckDB
oracle SQL), and prints the workload's headline numbers and then one JSON
result line: end-to-end metrics, or with --trace 1 the per-layer counters of
a traced run. Everything it writes stays under perfbench/out/ in the
checkout. Exits non-zero when a correctness check fails or the program
cannot be built.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import signal
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIB = ROOT / "src" / "main" / "scala"
TOOLS = ROOT / "tools"
OUT = HERE / "out"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

DEADLINE_S = 170  # seconds a run may take after the build
# the ext read slice: a query per persisted store (TextIndex, VectorIndex,
# VectorIndexPq, FpStore) and per ext family: text retrieval, sim, media
# near-dups (over FpStore), sampling (over dedup clusters), stats quantiles,
# corpus (over MinHash-LSH dedup) and events
QUERIES = ["events_sessions", "text_bm25_index_search", "sim_ann_index", "sim_ann_index_pq_search",
           "dedup_cross_modal_indexed", "sampling_cluster_split", "stats_quantile_profile",
           "corpus_preprocess"]
WORKLOADS = ["full_build", "incremental"]
# sort keys of the (unordered) gold tables: the registry queries' orderBy
GOLD_KEYS = {
    "gold_revenue_by_region": ["region_name", "nation_name", "market_segment", "order_year",
                               "order_month"],
    "gold_customer_lifetime_value": ["customer_key"],
    "gold_monthly_sales_trends": ["order_year", "order_month"],
    "gold_supplier_performance": ["supplier_key"],
}
E2E = {"setup_s": "s", "timed_s": "s"}
# each workload's headline numbers, printed on the line before the result
HEADLINE_UNITS = {
    "full_build": {"sales_build_s": "s", "supplier_build_s": "s", "retained_cache_mb": "MB",
                   "failed_ratio": "ratio"},
    "incremental": {"incr_batch_p50_s": "s", "incr_batch_max_s": "s", "queries_s": "s",
                    "retained_cache_mb": "MB", "failed_ratio": "ratio"},
}
LAYERS = ["bronze", "stats", "silver", "gold", "quality"]
COUNTERS = {"wall_s": "s", "jobs": "count", "records_read": "count",
            "shuffle_write_bytes": "bytes", "executor_run_s": "s"}
INCR_STAGES = ["incr_monthly_revenue", "cdf_customer_profile", "incr_customer_profile",
               "cdf_supplier_parts", "incr_supplier_bridge"]
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def layer_units(workload):
    """The per-layer metrics a traced run of `workload` measures, with units."""
    m = {}
    if workload == "full_build":
        for p in ("sales", "supplier"):
            for layer in LAYERS:
                for c, u in COUNTERS.items():
                    m[f"{p}.{layer}.{c}"] = u
            m[f"{p}.spill_bytes"] = "bytes"
            m[f"{p}.catalyst_ms"] = "ms"
    else:
        for p in ("sales", "supplier"):
            for c, u in COUNTERS.items():
                m[f"incr.{p}.{c}"] = u
        for s in INCR_STAGES:
            m[f"incr.{s}.wall_s"] = "s"
        m["incr.state_supplier_bridge.rows"] = "count"
        m["incr.state_customer_profile.rows"] = "count"
        for q in QUERIES:
            m[f"q.{q}.construct_s"] = "s"
            m[f"q.{q}.run_s"] = "s"
            m[f"q.{q}.construct_jobs"] = "count"
        m.update({"queries.jobs": "count", "queries.shuffle_write_bytes": "bytes",
                  "queries.spill_bytes": "bytes", "queries.catalyst_ms": "ms"})
    m[f"{workload}.trace_overhead_pct"] = "%"
    m.update(HEADLINE_UNITS[workload])
    return m


def per_layer_units():
    """Every per-layer metric name of every workload, with its unit."""
    m = {}
    for w in WORKLOADS:
        m.update(layer_units(w))
    return m


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for base in (LIB, HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"):
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the first Spark installation on the PATH: a
    spark-submit whose installation has a jars/ directory."""
    if "SPARK_HOME" in os.environ:
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file() and (submit.resolve().parent.parent / "jars").is_dir():
            return str(submit.resolve().parent.parent)
    fail("no Spark installation: set SPARK_HOME or put Spark's bin/ on the PATH")


def build(deadline):
    """Compile library + harness with sbt and return the runtime classpath;
    reuse it while the sources are unchanged."""
    if not LIB.is_dir():
        fail(f"library sources not found at {LIB.relative_to(ROOT)}")
    OUT.mkdir(exist_ok=True)
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "classpath.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    code, out = run_child(cmd, HERE, env, deadline - time.time(), OUT / "build.log")
    lines = [ln.strip() for ln in out.splitlines() if "scala-2.13/classes" in ln]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {(OUT / 'build.log').relative_to(ROOT)}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


# ---------------------------------------------------------------- process

_child = None


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(3)


def run_child(cmd, cwd, env, timeout, log):
    """Run `cmd` in its own process group, output to `log`; kill the whole
    group on timeout. Returns (exit code, output)."""
    global _child
    with open(log, "w") as fh:
        _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                  start_new_session=True)
        try:
            code = _child.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
            code = -9
        _child = None
    return code, Path(log).read_text(errors="replace")


# ----------------------------------------------------------------- checks

def oracle_frame(con, inputs, sql):
    """The DuckDB result of `sql`, cached under out/oracle by the SQL text and
    the bytes of every input table it names: the ext corpus is the same for
    every seed, so its oracles are computed once per checkout."""
    import pandas as pd
    key = hashlib.sha256(sql.encode())
    for f in sorted(glob.glob(f"{inputs}/*.parquet")):
        if re.search(rf"\b{Path(f).stem}\b", sql, re.IGNORECASE):
            key.update(Path(f).read_bytes())
    cache = OUT / "oracle" / f"{key.hexdigest()}.pkl"
    if cache.exists():
        return pd.read_pickle(cache)
    df = con.sql(sql).df()
    cache.parent.mkdir(exist_ok=True)
    df.to_pickle(f"{cache}.{os.getpid()}")
    os.replace(f"{cache}.{os.getpid()}", cache)
    return df


def oracle_checks(inputs, entries):
    """Each Spark output against its oracle SQL in DuckDB, value by value
    with the repo's tools/compare.py; the gold tables, which the pipelines
    write unordered, are sorted by their registry query's keys first."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(TOOLS))
    from compare import diff
    con = duckdb.connect()
    for f in glob.glob(f"{inputs}/*.parquet"):
        con.execute(f"CREATE VIEW {Path(f).stem} AS SELECT * FROM read_parquet('{f}')")
    verdicts = {}
    for e in entries:
        files = sorted(glob.glob(f"{e['path']}/*.parquet"))
        if not e["sql"] or not files:
            verdicts[e["name"]] = "no oracle SQL" if not e["sql"] else "missing output"
            continue
        s = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if e["name"] in GOLD_KEYS:
            s = s.sort_values(GOLD_KEYS[e["name"]], kind="stable").reset_index(drop=True)
        verdicts[e["name"]] = diff(s, oracle_frame(con, inputs, e["sql"]))
    return verdicts


def trace_parses(path):
    """Every trace line parses as JSON, with no NaN or Infinity."""
    def reject(c):
        raise ValueError(c)
    with open(path) as fh:
        for ln in filter(str.strip, fh):
            json.loads(ln, parse_constant=reject)


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)

    # a build (the first run in a checkout) may take the rest of 900 s
    cp = build(time.time() + 900 - DEADLINE_S)
    deadline = time.time() + DEADLINE_S
    work = OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        inputs = work / "inputs"
        gen.generate(str(inputs), args.seed)
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
        cmd = ["java", *ADD_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Harness", args.workload, str(inputs), str(work),
               str(args.trace), str(args.seconds), ",".join(QUERIES)]
        code, log = run_child(cmd, ROOT, env, deadline - time.time() - 10, work / "harness.log")
        if code != 0 or not (work / "harness.json").exists():
            sys.stderr.write(log[-3000:])
            fail(f"harness exited {code}")
        h = json.loads((work / "harness.json").read_text())
        result = evaluate(args, h, work, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "headline": result.pop("headline")}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def evaluate(args, h, work, inputs):
    """The result line. An operation (pipeline stage, batch or query) fails
    when it throws, its stage reports FAIL, or a check of its output fails;
    any failure makes the run incorrect."""
    ops = h["ops"]
    bad = {o["name"] for o in ops if not o["ok"]}
    problems = [f"op {o['name']}: {o['error']}" for o in ops if not o["ok"]]
    for c in h["checks"]:
        if not c["ok"]:
            problems.append(f"check {c['name']}: {c['msg']}")
            bad.add(c["op"])
    verdicts = oracle_checks(str(inputs), h["oracle"])
    for e in h["oracle"]:
        verdict = verdicts[e["name"]]
        if verdict != "OK":
            problems.append(f"oracle {e['name']}: {verdict}")
            bad.add(e["op"])
    if args.trace:
        try:
            trace_parses(work / "trace.jsonl")
        except (OSError, ValueError) as e:
            problems.append(f"trace: {e}")
        layer = dict(h["layer"], **h["headline"])
        # the listeners' own handler time as a share of the timed work
        layer[f"{args.workload}.trace_overhead_pct"] = \
            100.0 * h["layer"]["trace_handler_s"] / h["timed_s"]
        expected = layer_units(args.workload)
        missing = sorted(set(expected) - set(layer) - {"failed_ratio"})
        if missing:
            problems.append(f"trace: counters missing: {missing}")
        idle = [k for k in expected if k.endswith(".jobs") and layer.get(k) == 0]
        if idle:
            problems.append(f"trace: no jobs attributed to {idle}")
    attempted = max(1, len(ops))
    failed = max(sum(o["name"] in bad for o in ops), 1 if problems else 0)
    headline = dict(h["headline"], failed_ratio=failed / attempted)
    if args.trace:
        layer["failed_ratio"] = headline["failed_ratio"]
        # the other workload's counters were not measured in this run
        metrics = {k: {"value": float(layer.get(k, 0.0)) if k in expected else 0.0, "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": float(h[k]), "unit": u} for k, u in E2E.items()}
    for p in problems:
        print(f"perfbench: FAIL {p}", file=sys.stderr)
    units = HEADLINE_UNITS[args.workload]
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": metrics,
            "headline": {k: {"value": v, "unit": units[k]} for k, v in headline.items()}}


if __name__ == "__main__":
    main()
