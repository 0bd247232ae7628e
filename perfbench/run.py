#!/usr/bin/env python3
"""Benchmark for the graft engine.

    python3 perfbench/run.py --workload <bus_ops|topic_consume|corpus>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library with the harness in
perfbench/ (sbt, once per source state), generates the workload's inputs
from the seed, runs one JVM, checks the outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see LAYERS.md).
Scratch files go to .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

CORES = min(os.cpu_count() or 1, 4)
DEADLINE_S = 170

# Corpus keys. c32: sf0.1 with 32 shuffle partitions, the 32-core
# partition layout on a 4-core session, where near-empty partitions and persisted
# intermediates dominate. sf1: the 10x replica with partitions = cores,
# where Tables.fanned engages (documents 50k, embeddings 20k rows).
CORPUS_C32 = ["minhash_containment", "k_core"]
CORPUS_SF1 = ["tfidf_cosine_topk"]

TOPIC = {"backlog_events": 6000, "rate_eps": 500.0, "chunk_ms": 20,
         "max_bytes_per_trigger": 200000, "warm_events": 2000}
# bus op latency falls for the first ~100 ops while the JIT compiles the
# Spark paths they share; the warm-up covers that, so the measured loop sits
# on the plateau instead of on the curve
BUS = {"store_size": 500, "warm_ops": 120}

E2E = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("op_p50_ms", "ms"),
       ("op_p90_ms", "ms"), ("ops_per_s", "1/s"), ("batch_wall_s", "s")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if not os.path.relpath(d, HERE).startswith("project/target")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build():
    """Compile library + harness once per source state; return the
    classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    # the toolchain resolves from its local caches only
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Dspark.jars.dir={spark_jars()}", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=850)
    with open(log) as f:
        lines = [ln.strip() for ln in f if "scala-2.13/classes" in ln]
    if rc != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].split()[-1]
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def data_dirs(workload, seed, seconds):
    """Generate (or reuse) the seeded inputs of a workload."""
    if workload == "bus_ops":
        sf, tables = 0.01, {"events", "customer"}
    elif workload == "topic_consume":
        # backlog + live phase + slack, as events rows
        sf, tables = (TOPIC["backlog_events"] + TOPIC["rate_eps"] * seconds + 1000) / 1e6, {"events"}
    else:
        sf, tables = 0.1, {"documents", "embeddings"}
    parent = os.path.join(BUILD, "data")
    base = os.path.join(parent, f"{workload}-s{seed}-sf{sf:g}")
    dirs = {"data_dir": os.path.join(base, "tables"), "sf1": os.path.join(base, "sf1")}
    if not os.path.exists(os.path.join(base, ".done")):
        # keep one input set per workload on disk
        if os.path.isdir(parent):
            for d in os.listdir(parent):
                if d.startswith(workload + "-"):
                    shutil.rmtree(os.path.join(parent, d))
        gen.generate(dirs["data_dir"], seed, sf, tables)
        if workload == "corpus":
            gen.replicate(dirs["data_dir"], dirs["sf1"])
            for t, n in (("documents", 50000), ("embeddings", 20000)):
                got = duckdb.sql(
                    f"SELECT count(*) FROM '{dirs['sf1']}/{t}.parquet'").fetchone()[0]
                if got != n:
                    fail(f"sf1 replica {t} has {got} rows, expected {n}")
        open(os.path.join(base, ".done"), "w").close()
    return dirs


def make_plan(args, work, dirs):
    plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "cores": CORES, "work_dir": work,
            "data_dir": dirs["data_dir"]}
    if args.workload == "bus_ops":
        plan.update(BUS)
    elif args.workload == "topic_consume":
        plan.update(TOPIC)
    else:
        plan["phases"] = [
            {"data_dir": dirs["data_dir"], "partitions": 32, "keys": CORPUS_C32, "fanned": []},
            {"data_dir": dirs["sf1"], "partitions": CORES, "keys": CORPUS_SF1,
             "fanned": ["documents", "embeddings"]}]
    return plan


def java_cmd(cp, plan_path, out_path):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.dirname(plan_path)}/tmp"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main", plan_path, out_path]


# ------------------------------------------------------------ correctness
def tools_check_oracle():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    return check_oracle


def digests_of(con, sql):
    """Row count, then tools/check_oracle.py's digest in result order and
    sorted (order-insensitive)."""
    co = tools_check_oracle()
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    return len(rows), co.table_digest(cols, rows), co.table_digest(cols, rows, False)


def check_outputs(res, workload, seed, problems):
    """Each key: row count and content hash against its DuckDB oracle and,
    where recorded, the order-insensitive hash in expected.json."""
    expected = {}
    exp_path = os.path.join(HERE, "expected.json")
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            expected = json.load(f).get(workload, {}).get(str(seed), {})
    digests = {}
    for key, o in res.get("outputs", {}).items():
        con = duckdb.connect()
        data_dir = o.get("data_dir") or res["_plan"]["data_dir"]
        for f in os.listdir(data_dir):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
        n, ordered, unordered = digests_of(
            con, f"SELECT * FROM read_parquet('{o['path']}/*.parquet')")
        digests[key] = [n, unordered]
        if o.get("oracle"):
            want = digests_of(con, o["oracle"])[:2]
            if (n, ordered) != want:
                problems.append(f"{key}: spark {(n, ordered)} != oracle {want}")
        elif n == 0:
            problems.append(f"{key}: no rows")
        if key in expected and expected[key] != [n, unordered]:
            problems.append(f"{key}: {[n, unordered]} != expected {expected[key]}")
        con.close()
    return digests


def check_topic(t, problems):
    con = duckdb.connect()
    # a sink the query never wrote to reads as empty
    def rows(path):
        if glob.glob(f"{path}/**/*.parquet", recursive=True):
            return f"SELECT uuid FROM read_parquet('{path}/**/*.parquet')"
        return "SELECT NULL::VARCHAR AS uuid WHERE false"
    def count(sql):
        return con.execute(sql).fetchone()[0]
    ok_rows = count(f"SELECT count(*) FROM ({rows(t['ok_path'])})")
    dlq_rows = count(f"SELECT count(*) FROM ({rows(t['dlq_path'])})")
    uuids = count(f"SELECT count(DISTINCT uuid) FROM ({rows(t['ok_path'])}"
                  f" UNION ALL {rows(t['dlq_path'])})")
    if ok_rows + dlq_rows != t["appended"]:
        problems.append(f"ok {ok_rows} + dlq {dlq_rows} != appended {t['appended']}")
    if uuids != ok_rows + dlq_rows:
        problems.append(f"{ok_rows + dlq_rows - uuids} duplicate uuids")
    if dlq_rows != t["expected_dlq"]:
        problems.append(f"dlq {dlq_rows} != expected {t['expected_dlq']}")
    return ok_rows, dlq_rows


# ---------------------------------------------------------------- metrics
def pct(values, q):
    """Percentile; 0.0 for an empty sample, which only a failed run has."""
    values = list(values)
    return stats.percentile(values, q)[0] if values else 0.0


def end_to_end(res, plan):
    setup = res["jvm_boot_s"] + res["session_s"] + res["warmup_s"]
    w = plan["workload"]
    if w == "bus_ops":
        ops = res["ops"]
        spark_ms = [o[1] for o in ops if o[2]]
        lat, n = spark_ms, len(spark_ms)
        loop_s = sum(o[1] for o in ops) / 1000.0
        ops_per_s = len(ops) / loop_s if loop_s > 0 else 0.0
        wall = sum(k[1] for k in res["keys"])
    elif w == "topic_consume":
        tn = res["_topic"]
        lat = [x for x in tn["latencies"] if x is not None]
        n = len(lat)
        ops_per_s, wall = tn["drain_eps"], tn["drain_s"]
    else:
        times = [k[1] for k in res["keys"]]
        lat, n = [x * 1000 for x in times], len(times)
        wall = sum(times)
        ops_per_s = len(times) / wall if wall > 0 else 0.0
    vals = {"setup_s": setup, "peak_rss_mb": res["peak_rss_mb"], "op_p50_ms": pct(lat, 50),
            "op_p90_ms": pct(lat, 90), "ops_per_s": ops_per_s, "batch_wall_s": wall}
    return vals, n


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res, plan, samples):
    spans = res.get("spans", [])
    c = res.get("counters", {})
    by_name = {}
    for s in spans:
        by_name.setdefault(s[1], []).append((s[3] - s[2]) / 1e6)
    builds = [s for s in spans if s[1] == "operators:build"]
    jobs = [s for s in spans if s[1] == "exec:job"]
    eager = sum(1 for j in jobs if any(b[2] <= j[2] and j[3] <= b[3] for b in builds))
    wall_ms = res["measured_s"] * 1000.0
    tasks = c.get("tasks", 0)
    v = {
        "bus.emit_us": mean(by_name.get("api.GraftBus:emit", [])) * 1000,
        "bus.include_ms": mean(by_name.get("api.GraftBus:include", [])),
        "bus.consume_ms": mean(by_name.get("api.GraftBus:consume", [])),
        "bus.push_and_receive_ms": mean(by_name.get("api.GraftBus:pushAndReceive", [])),
        "bus.to_df_ms": mean(by_name.get("api.GraftBus:toDF", [])),
        "operators.build_ms": mean(by_name.get("operators:build", [])),
        "operators.eager_jobs": eager,
        "catalyst.analysis_ms": c.get("analysis_ms", 0) / max(1, c.get("actions", 0)),
        "catalyst.optimization_ms": c.get("optimization_ms", 0) / max(1, c.get("actions", 0)),
        "catalyst.planning_ms": c.get("planning_ms", 0) / max(1, c.get("actions", 0)),
        "catalyst.actions": c.get("actions", 0),
        "exec.jobs": c.get("jobs", 0),
        "exec.stages": c.get("stages", 0),
        "exec.tasks": tasks,
        "exec.tasks_per_stage": tasks / max(1, c.get("stages", 0)),
        "exec.empty_task_ratio": c.get("empty_tasks", 0) / max(1, tasks),
        "exec.sched_delay_ms": c.get("sched_delay_ms", 0) / max(1, tasks),
        "exec.run_ms": c.get("run_ms", 0),
        "exec.busy_ratio": c.get("run_ms", 0) / (wall_ms * plan["cores"]),
        "exec.shuffle_read_bytes": c.get("shuffle_read_bytes", 0),
        "exec.shuffle_write_bytes": c.get("shuffle_write_bytes", 0),
        "exec.spill_bytes": c.get("spill_bytes", 0),
        "exec.gc_ms": c.get("gc_ms", 0),
        "exec.failed_tasks": c.get("failed_tasks", 0),
        "caches.persisted_rdds": c.get("persisted_rdds", 0),
        "caches.bytes": sum(k.get("cached_peak_bytes", 0) for k in res.get("per_key", [])),
        "caches.reads_per_persist": c.get("cache_reads", 0) / max(1, c.get("persisted_rdds", 0)),
        "caches.release_ms": mean(by_name.get("api.Caches:release", [])),
        "tables.fanned_ms": mean(f[1] for f in res.get("fanned", [])),
        "tables.scan_partitions": mean(f[2] for f in res.get("fanned", [])),
    }
    tn = res.get("_topic")
    batches = tn["batches"] if tn else []
    def dur(k):
        return mean(b["duration_ms"].get(k, 0) for b in batches)
    last = batches[-1] if batches else {}
    v.update({
        "topic.append_ms": mean(by_name.get("sources.GraftTopicSource:append", [])),
        "topic.latest_offset_ms": dur("latestOffset"),
        "topic.batch_rows": mean(b["rows"] for b in batches),
        "topic.backlog_bytes": mean(stats.pending_bytes(b) for b in batches),
        "consumer.add_batch_ms": dur("addBatch"),
        "consumer.query_planning_ms": dur("queryPlanning"),
        "consumer.wal_commit_ms": dur("walCommit"),
        "consumer.state_rows": last.get("state_rows", 0),
        "consumer.state_mem_bytes": last.get("state_mem_bytes", 0),
        "consumer.ok_rows": res.get("_ok_rows", 0),
        "consumer.dlq_rows": res.get("_dlq_rows", 0),
    })
    late = res.get("topic", {}).get("lateness_ms", [])
    v["gen.late_max_ms"] = max(late) if late else 0.0
    v["gen.late_p90_ms"] = pct(late, 90)
    v["gen.backlog_grew"] = int(bool(tn and tn["grew"]))
    selfs = stats.self_times_ms(spans)
    for layer, name in LAYER_NAMES.items():
        v[f"self.{name}_ms"] = selfs.get(layer, 0.0)
    v["trace.overhead_pct"] = 100.0 * res.get("trace_overhead_ms", 0.0) / wall_ms
    v["trace.spans"] = len(spans)
    v["op.samples"] = samples
    per_key = {k["key"]: k for k in res.get("per_key", [])}
    for key in CORPUS_C32 + CORPUS_SF1:
        k = per_key.get(key, {})
        v[f"corpus.{key}.empty_task_ratio"] = k.get("empty_tasks", 0) / max(1, k.get("tasks", 0))
        v[f"corpus.{key}.persisted_rdds"] = k.get("persisted_rdds", 0)
    return v


LAYER_NAMES = {"api.GraftBus": "bus", "operators": "operators", "catalyst": "catalyst",
               "exec": "exec", "api.Caches": "caches", "model.Tables": "tables",
               "sources.GraftTopicSource": "topic",
               "streaming.ConsumerPipeline": "consumer", "bench": "harness"}


def unit_of(name):
    for suffix, unit in (("_us", "us"), ("_ms", "ms"), ("bytes", "bytes"),
                         ("_ratio", "ratio"), ("_per_persist", "ratio"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


# ------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["bus_ops", "topic_consume", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    dirs = data_dirs(args.workload, args.seed, args.seconds)

    work = os.path.join(BUILD, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    plan = make_plan(args, work, dirs)
    plan_path = os.path.join(work, "plan.json")
    out_path = os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(cp, plan_path, out_path), cwd=work,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out, see {log_path}")
    if rc != 0 or not os.path.exists(out_path):
        fail(f"JVM exited {rc}, see {log_path}")
    with open(out_path) as f:
        res = json.load(f)
    res["_plan"] = plan

    problems = [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
    failed = res["failed"]
    if args.workload == "topic_consume":
        t = res["topic"]
        res["_ok_rows"], res["_dlq_rows"] = check_topic(t, problems)
        res["_topic"] = stats.topic_summary(t)
        failed += res["_topic"]["uncovered"]
        if not res["_topic"]["drained"]:
            failed += 1
            problems.append("backlog not drained")
        if res["_topic"]["grew"]:
            problems.append("backlog grew during the live phase: rate unsustainable")
    digests = check_outputs(res, args.workload, args.seed, problems)

    e2e, samples = end_to_end(res, plan)
    if samples == 0:
        problems.append("no latency samples")
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": e2e, "op_samples": samples, "problems": problems,
              "digests": digests, "keys": res.get("keys"), "per_key": res.get("per_key"),
              "fanned": res.get("fanned")}
    if args.trace:
        layer = per_layer(res, plan, samples)
        detail["per_layer"] = layer
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    if args.workload == "topic_consume":
        late = res["topic"]["lateness_ms"]
        detail["generator"] = {"late_max_ms": max(late) if late else 0.0,
                               "late_p90_ms": pct(late, 90),
                               "backlog_grew": res["_topic"]["grew"]}
    with open(os.path.join(work, "metrics.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} op samples={samples} "
          f"detail={os.path.relpath(os.path.join(work, 'metrics.json'), ROOT)}", file=sys.stderr)
    print(f"perfbench: run took {time.time() - t_start:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": not problems and failed == 0,
                      "attempted": int(res["attempted"]), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
