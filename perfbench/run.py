#!/usr/bin/env python3
"""Benchmark for the billing data loader engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1

Builds the engine together with the harness (sbt, offline), makes the
seeded inputs, runs one workload in one JVM at local[4], checks the
outputs against DuckDB, and prints one JSON object as the last line of
stdout. See perfbench/README.md for the metrics and workloads.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench"
BASE_DATA = BENCH / "data" / "sf0.01"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
APP_JAR = WORK / "perfbench.jar"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
DEADLINE_S = 175.0
# copies of sf0.01 lineitem in the ingest drop: enough rows that the loader
# call is bound by task CPU, few enough that a run stays near a minute
LOAD_COPIES = 16
# copies in the drop the ingest warm unit lands: the same code paths, so the
# JIT compiler warms up, in a fraction of the time of a full drop
WARM_COPIES = 2
KEY_STRIDE = 100_000_000  # clears every base key, as graft.StressGen does

LOADER = "bill_pipeline_e2e"
TRIGGER = ["stream_incremental", "stream_recovery", "stream_file_sink",
           "stream_jdbc_sink", "jdbc_sink"]
ANALYTICS = (
    ["tpch_q3", "tpch_q5", "tpch_q10", "tpch_q18"]
    + ["bill_price_index", "bill_aging", "bill_mrr_bridge"]
    + ["join_asof_native", "join_interval_native", "win_topk_native"]
    + ["llm_minhash", "llm_knn_classify", "graph_jaccard", "agg_groupby"])
ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
# nominal seconds of one timed unit on a 4-core host: a run times
# round(--seconds / nominal) units (at least one), the same work every run
NOMINAL_UNIT_S = {"ingest": 18.0, "analytics": 6.5}
WORKLOAD_TABLES = {
    "ingest": ["lineitem", "events", "orders"],
    "analytics": ALL_TABLES,
}
# SharedArtifacts.warm's artifacts, named here so the per-layer metric
# names stay fixed whatever a run builds
MEMO_ARTIFACTS = ["winnow_fp", "neardup_pairs", "cc_labels", "graph_pairs",
                  "graph_edges", "ngram3_sh", "rouge_f1", "bm25_post",
                  "bigram_doclp", "stream_incr", "stream_ddw", "bpe_merges",
                  "dpp_stage"]
# (name, unit, better) of every per-layer metric a traced run reports
PER_LAYER = (
    [("tables.warm_s", "s", "lower"), ("scan.bytes", "B", "lower"),
     ("scan.records", "count", "lower"),
     ("operators.build_s", "s", "lower"), ("operators.calls", "count", "higher"),
     ("memo.warm_s", "s", "lower")]
    + [(f"memo.warm.{a}_s", "s", "lower") for a in MEMO_ARTIFACTS]
    + [("plan.analysis_s", "s", "lower"), ("plan.optimizer_s", "s", "lower"),
       ("plan.physical_s", "s", "lower"), ("plan.actions", "count", "lower"),
       ("plan.share", "ratio", "lower"),
       ("codegen.compiles", "count", "lower"), ("codegen.compile_s", "s", "lower"),
       ("jvm.jit_s", "s", "lower"), ("jvm.gc_s", "s", "lower"),
       ("exec.jobs", "count", "lower"), ("exec.tasks", "count", "lower"),
       ("exec.task_cpu_s", "s", "lower"), ("exec.task_run_s", "s", "lower"),
       ("exec.cpu_util", "ratio", "higher"), ("exec.driver_gap_s", "s", "lower"),
       ("shuffle.write_bytes", "B", "lower"), ("shuffle.read_bytes", "B", "lower"),
       ("shuffle.fetch_wait_s", "s", "lower"), ("spill.mem_bytes", "B", "lower"),
       ("spill.disk_bytes", "B", "lower"),
       ("sink.bytes", "B", "lower"), ("sink.records", "count", "lower"),
       ("sink.files", "count", "lower"), ("sink.bytes_per_row", "B/row", "lower"),
       ("load.rows_per_s", "rows/s", "higher"),
       ("stream.batches", "count", "lower"), ("stream.trigger_s", "s", "lower"),
       ("stream.plan_s", "s", "lower"), ("stream.wal_commit_s", "s", "lower"),
       ("stream.add_batch_s", "s", "lower"), ("stream.state_commit_s", "s", "lower"),
       ("stream.state_rows", "count", "lower"),
       ("self.call_s", "s", "lower"), ("self.operators_s", "s", "lower"),
       ("self.action_s", "s", "lower"), ("self.plan_s", "s", "lower"),
       ("self.exec_s", "s", "lower"), ("self.stream_s", "s", "lower"),
       ("call_p50_s", "s", "lower"), ("call_p90_s", "s", "lower"),
       ("cpu_s", "s", "lower"),
       ("peak_rss_mb", "MB", "lower"), ("host.steal_s", "s", "lower")])
SELF_LAYERS = {"call": "self.call_s", "operators.build": "self.operators_s",
               "action": "self.action_s", "plan": "self.plan_s",
               "exec.job": "self.exec_s", "stream.batch": "self.stream_s"}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_home():
    """$SPARK_HOME, or the first Spark installation on PATH that ships its
    jars (a pip-installed pyspark's spark-submit does not)."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("spark-core_*.jar")):
            return home
    fail("no Spark installation with jars found: set SPARK_HOME")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt and pack the classes into one jar, unless the
    sources are unchanged since the last build."""
    stamp_file = WORK / "build.stamp"
    stamp = source_stamp()
    if APP_JAR.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return False
    stamp_file.unlink(missing_ok=True)
    log("building engine + harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=str(spark_home()))
    opts = ("-Dsbt.offline=true -Dsbt.override.build.repos=true "
            "-Dsbt.log.noformat=true -Xmx2g")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += f" -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    t0 = time.time()
    sbt_log = WORK / "sbt.log"
    if wait_group(["sbt", "--batch", "compile"], BENCH, env, sbt_log, 600) != 0:
        sys.stderr.write(sbt_log.read_text(errors="replace")[-4000:])
        fail("sbt compile failed", 3)
    with zipfile.ZipFile(APP_JAR, "w") as jar:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file():
                jar.write(f, f.relative_to(CLASSES).as_posix())
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return True


# ---------------------------------------------------------------- inputs

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def ingest_fixture(seed, copies):
    """The base tables, with lineitem replaced by `copies` key-offset
    copies of itself (the graft.StressGen scheme): copy i shifts every
    key by a seeded multiple of KEY_STRIDE, and the rows of all copies
    are shuffled by the seed. Cached by (seed, copies)."""
    out = WORK / "data" / f"ingest-x{copies}-seed{seed}"
    if (out / "lineitem.parquet").exists():
        return out
    rng = random.Random(seed)
    slots = rng.sample(range(1, 1000), copies)
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    con = duck()
    values = ", ".join(f"({i}, {s * KEY_STRIDE})" for i, s in enumerate(slots))
    con.execute(f"""
        COPY (
          SELECT l_orderkey + o.off AS l_orderkey, l_partkey + o.off AS l_partkey,
                 l_suppkey + o.off AS l_suppkey, l_linenumber, l_quantity,
                 l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
                 l_shipdate
          FROM read_parquet('{BASE_DATA}/lineitem.parquet', file_row_number = true) l
          CROSS JOIN (VALUES {values}) o(copy, off)
          ORDER BY hash(o.copy, l.file_row_number, {int(seed)})
        ) TO '{tmp}/lineitem.parquet' (FORMAT PARQUET)""")
    con.close()
    for t in ALL_TABLES:
        if t != "lineitem":
            shutil.copyfile(BASE_DATA / f"{t}.parquet", tmp / f"{t}.parquet")
    try:
        tmp.rename(out)
    except OSError:  # another run made it first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def units_for(workload, seed, seconds):
    """The units of a run and how many of them are warm-up. The warm-up
    units run untimed, in a fixed order, so that every run's JIT compiler
    sees the same warm-up: on ingest one unit, which runs the trigger calls
    once and lands the warm drop twice; on analytics two passes, because
    the second pass is still about 1.2x slower than the fourth and the
    timed passes should sit where the JIT compiler has mostly settled. The
    timed region runs the other units, each in an order drawn from the
    seed. An ingest unit runs each trigger call twice."""
    rng = random.Random(seed)
    if workload == "ingest":
        warm, mix = [TRIGGER + [LOADER, LOADER]], TRIGGER + [LOADER] + TRIGGER
    else:
        warm, mix = [ANALYTICS, ANALYTICS], ANALYTICS
    timed = max(1, round(seconds / NOMINAL_UNIT_S[workload]))
    return warm + [rng.sample(mix, len(mix)) for _ in range(timed)], len(warm)


# ---------------------------------------------------------------- run

def launch(workload, data_dir, warm_dir, tables, units, warm, trace, out, budget):
    """Run perfbench.Main; return its exit code (None on timeout)."""
    java = shutil.which("java") or fail("java not found")
    tmp = WORK / "tmp"
    local = tmp / f"spark-{os.getpid()}"
    local.mkdir(parents=True, exist_ok=True)
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx2g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={tmp}/derby.log",
        "-cp", f"{APP_JAR}:{spark_home() / 'jars'}/*", "perfbench.Main",
        "--workload", workload, "--dir", str(data_dir), "--warm-dir", str(warm_dir),
        "--tables", ",".join(tables),
        "--units", ";".join(",".join(u) for u in units), "--warm", str(warm),
        "--trace", str(trace),
        "--out", str(out), "--local", str(local)]
    code = wait_group(cmd, ROOT, None, out / "jvm.log", budget)
    shutil.rmtree(local, ignore_errors=True)
    return code


def wait_group(cmd, cwd, env, log_path, budget):
    """Run cmd in its own process group with output to log_path and wait
    for it; on timeout kill the whole group and return None."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def run_jvm(args, data_dir, warm_dir, units, n_warm, out, run_start):
    code = launch(args.workload, data_dir, warm_dir,
                  WORKLOAD_TABLES[args.workload], units, n_warm,
                  args.trace, out,
                  DEADLINE_S - (time.time() - run_start))
    jvm_log = (out / "jvm.log").read_text(errors="replace")
    if code != 0 or not (out / "result.json").exists():
        sys.stderr.write(jvm_log[-4000:])
        fail("JVM timed out" if code is None else f"JVM exited with {code}", 1)
    return json.loads((out / "result.json").read_text())


TICKS = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- checks

def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        return canon(v.tolist())
    return v


def sorted_rows(df):
    cols = sorted(df.columns)
    rows = [tuple(canon(x) for x in t) for t in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def oracle_mismatches(rec, data_dir, out):
    """Queries whose Spark result differs from DuckDB running the
    engine's own oracle SQL over the same inputs."""
    con = duck()
    for t in ALL_TABLES:
        p = Path(data_dir, f"{t}.parquet")
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(rec["oracle"].items()):
        res = out / "results" / name
        if not res.exists():
            bad[name] = "no reference result (every call failed)"
            continue
        try:
            d_cols, d_rows = sorted_rows(con.execute(sql).fetchdf())
            s_cols, s_rows = sorted_rows(con.execute(
                f"SELECT * FROM read_parquet('{res}/*.parquet')").fetchdf())
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if d_cols != s_cols:
            bad[name] = f"columns differ: duckdb={d_cols} spark={s_cols}"
        elif d_rows != s_rows:
            diff = sum(a != b for a, b in zip(d_rows, s_rows)) + abs(len(d_rows) - len(s_rows))
            bad[name] = f"{diff} of {len(d_rows)} rows differ"
    con.close()
    return bad


def load_check(data_dir, out):
    """Delivered rows, and whether the landed rows equal delivered rows
    minus the re-delivered duplicates."""
    con = duck()
    delivered, distinct = con.execute(f"""
        WITH src AS (SELECT * FROM read_parquet('{data_dir}/lineitem.parquet')),
        drop_ AS (SELECT * FROM src UNION ALL SELECT * FROM src WHERE l_orderkey % 10 = 0)
        SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber,
            l_returnflag, round(l_quantity, 2), round(l_extendedprice, 2),
            strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') FROM drop_))
        FROM drop_""").fetchone()
    landed = con.execute(
        f"SELECT sum(n) FROM read_parquet('{out}/results/bill_pipeline_e2e/*.parquet')"
    ).fetchone()[0]
    con.close()
    duplicates = delivered - distinct
    return delivered, landed, landed == delivered - duplicates


# ---------------------------------------------------------------- metrics

def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def p50_gmean(by_kind):
    """Geometric mean over the call kinds of each kind's median latency.
    Kinds differ in latency by up to 5x, so a plain median over a mix of a
    few samples per kind falls between kinds and jumps from run to run;
    this gives every kind the same weight, as TPC-H's power metric does."""
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_kind.values()))


def host_noise(rec):
    b, a = rec["host"]["before"], rec["host"]["after"]
    secs = max((a["time_ms"] - b["time_ms"]) / 1e3, 1e-9)
    out = {"loadavg1_before": b["loadavg1"], "loadavg1_after": a["loadavg1"],
           "steal_s": (a["steal_ticks"] - b["steal_ticks"]) / TICKS}
    if b["cpu_some_us"] is not None and a["cpu_some_us"] is not None:
        out["cpu_pressure_some_share"] = (a["cpu_some_us"] - b["cpu_some_us"]) / 1e6 / secs
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(WORKLOAD_TABLES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").exists():
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not (BASE_DATA / "lineitem.parquet").exists():
        fail(f"base fixture not found under {BASE_DATA}")
    WORK.mkdir(exist_ok=True)
    # a run that had to build may take longer; the deadline covers the rest
    run_start = time.time() if build() else START

    if args.workload == "ingest":
        data_dir = ingest_fixture(args.seed, LOAD_COPIES)
        warm_dir = ingest_fixture(args.seed, WARM_COPIES)
    else:
        data_dir = warm_dir = BASE_DATA
    units, n_warm = units_for(args.workload, args.seed, args.seconds)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}"
    out = WORK / "runs" / run_id
    out.mkdir(parents=True)
    rec = run_jvm(args, data_dir, warm_dir, units, n_warm, out, run_start)

    # ---- output checks (outside the timed region) ----
    # every call on the timed inputs must give the same result as the first;
    # only the loader's warm calls land another drop
    same_inputs = [c for c in rec["warm"]
                   if warm_dir == data_dir or c["name"] != LOADER] + rec["calls"]
    ref_hash = {}
    for c in same_inputs:
        if c["ok"]:
            ref_hash.setdefault(c["name"], c["hash"])
    problems = oracle_mismatches(rec, data_dir, out)
    for c in rec["warm"]:
        if not c["ok"]:
            problems.setdefault(c["name"], f"warm call failed: {c['err']}")
    for a in rec["memo_failed"]:
        problems[f"SharedArtifacts.warm {a}"] = "artifact build failed"
    calls = rec["calls"]
    wrong = [c for c in calls
             if not c["ok"] or c["name"] in problems or c["hash"] != ref_hash.get(c["name"])]
    if args.workload == "ingest":
        delivered, landed, balanced = load_check(data_dir, out)
        if not balanced:
            problems["bill_pipeline_e2e"] = (
                f"landed {landed} != delivered {delivered} minus duplicates")
            wrong = calls
    for name, why in sorted(problems.items()):
        log(f"check failed: {name}: {why}")
    correct = not problems and not wrong and len(calls) > 0

    # the latency samples: the trigger calls on ingest (the loader call is
    # in wall_s), every query on analytics
    by_kind = {}
    for c in calls:
        if c["name"] != LOADER:
            by_kind.setdefault(c["name"], []).append(c["dur_s"])
    durs = [d for ds in by_kind.values() for d in ds]
    noise = host_noise(rec)
    e2e = {
        "setup_s": (rec["setup_s"], "s"),
        "wall_s": (rec["wall_s"], "s"),
        "call_p50_gmean_s": (p50_gmean(by_kind), "s"),
    }
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "samples": len(durs), "kinds": len(by_kind),
               "units_timed": rec["units_timed"], "cpu_s": rec["cpu_s"],
               "call_p50_s": statistics.median(durs), "call_p90_s": p90(durs),
               "peak_rss_mb": rec["peak_rss_mb"],
               "failed_frac": len(wrong) / max(len(calls), 1),
               "e2e": {k: v for k, (v, _) in e2e.items()}, "host": noise,
               "per_query": {}}
    for c in calls:
        summary["per_query"].setdefault(c["name"], []).append(c["dur_s"])

    if args.trace:
        layers = dict(rec["layers"])
        trace = json.loads((out / "trace.json").read_text())
        self_s = {v: 0.0 for v in SELF_LAYERS.values()}
        for name, s in trace["self_s"].items():
            key = "call" if name.startswith("call.") else \
                  "plan" if name.startswith("plan.") else name
            if key in SELF_LAYERS:
                self_s[SELF_LAYERS[key]] += s
        layers.update(self_s)
        layers["call_p50_s"] = statistics.median(durs)
        layers["call_p90_s"] = p90(durs)
        layers["cpu_s"] = rec["cpu_s"]
        layers["peak_rss_mb"] = rec["peak_rss_mb"]
        layers["host.steal_s"] = noise["steal_s"]
        if args.workload == "ingest":
            loader = [c["dur_s"] for c in calls if c["name"] == LOADER]
            layers["load.rows_per_s"] = delivered / statistics.median(loader)
            layers["sink.bytes_per_row"] = rec["landed_bytes"] / landed
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u, _ in PER_LAYER}
        summary["layers"] = layers
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    (out / "summary.json").write_text(json.dumps(summary, indent=1))

    log(f"{args.workload} seed={args.seed} trace={args.trace}: {len(calls)} calls "
        f"in {time.time() - START:.1f} s total, "
        f"in {rec['units_timed']} units, wall {rec['wall_s']:.2f} s, "
        f"failed {len(wrong)}, host {noise}")
    for k, (v, u) in e2e.items():
        n = f" (n={len(durs)}, {len(by_kind)} kinds)" if k.startswith("call_") else ""
        log(f"  {k:<16} {v:12.4f} {u}{n}")
    print(json.dumps({"correct": correct, "attempted": max(len(calls), 1),
                      "failed": len(wrong) if calls else 1, "metrics": metrics}))


START = time.time()
if __name__ == "__main__":
    main()
