#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload <reference|extensions>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into perfbench/.work); later runs reuse
the build until a source file changes. Inputs are generated from the
seed and cached per (workload, seed) together with their DuckDB oracle
results. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ["reference", "extensions"]
# Row counts per workload, set from traced passes that compare these
# inputs with the corpus itself (perfbench/README.md, "Input sizes"):
# `reference` has the sf0.1 row counts of every table it reads; the
# `extensions` documents and embeddings are the smallest counts (in three
# replicas) at which its pair and graph trunks, like those of the sf0.1
# corpus, spend most of their time in tasks and shuffle rather than in
# per-job fixed cost. Tables a workload does not read stay small.
SF001 = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
SIZES = {
    "reference": dict(SF001, customer=15000, part=20000, orders=150000, lineitem=600000,
                      events=100000, documents=100, embeddings=100),
    "extensions": dict(SF001, documents=1500),
}
PAIR_REPLICAS = 3
# The reference workload's Part B stream: the first events, cut into
# files of about this many (the reference's batch size, Part_B.py:21).
STREAM_FILES, STREAM_PER_FILE = 2, 1000
RUN_TIMEOUT_S = 170

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ----------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness; returns the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("[perfbench] no engine build (build.sbt) at the checkout root")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
            return open(cp_file).read().strip()
        log("building engine and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"
            " -XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp")))
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Compile/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        if p.returncode != 0 or not lines or lines[-1].startswith("["):
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
            raise SystemExit("[perfbench] build failed")
        cp = lines[-1].strip()
        subprocess.run(["java", *JVM_OPTS, f"-Djava.io.tmpdir={WORK}/tmp", "-cp", cp,
                        "perfbench.Main", "--dump-oracle",
                        os.path.join(WORK, "oracle_sql.json")], check=True, timeout=120,
                       capture_output=True)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp, "w") as f:
            f.write(digest)
        return cp


# ---- inputs and oracle ----------------------------------------------------

def duck():
    """A DuckDB connection with bounded memory and threads."""
    return duckdb.connect(config={"memory_limit": "2GB", "threads": 2,
                                  "temp_directory": os.path.join(WORK, "tmp")})


CTE = re.compile(r"(\bWITH\s+|,\s*\n\s*)([A-Za-z_]\w*)\s+AS\s+\(")


def materialized(sql):
    """The oracle SQL with every CTE materialized: DuckDB otherwise inlines
    chains of CTEs that each read the previous one twice (the unrolled
    fixpoint rounds of the graph oracles) into an exponential plan."""
    return CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def checksum(con, rel):
    """Row count, order-insensitive checksum over every column (compared
    as text, so INT and BIGINT of one value agree and -0.0 equals 0.0),
    and the sorted column names of the relation `rel`."""
    cols = sorted((r[0], r[1]) for r in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall())
    parts = []
    for name, typ in cols:
        c = '"' + name.replace('"', '""') + '"'
        if "WITH TIME ZONE" in typ:
            c = f"CAST({c} AS TIMESTAMP)"
        elif typ in ("DOUBLE", "FLOAT"):
            c = f"({c} + 0.0)"
        parts.append(f"coalesce(CAST({c} AS VARCHAR), '<null>')")
    n, s = con.sql(f"SELECT count(*), coalesce(sum(hash({', '.join(parts)})), 0) "
                   f"FROM {rel}").fetchone()
    return {"rows": n, "sum": str(s), "columns": [c[0] for c in cols]}


def stream_expected(files):
    rows = [r for f in files for r in f]
    counts, users, seen, dedup = {}, {}, set(), {}
    for r in rows:
        counts[r["event_type"]] = counts.get(r["event_type"], 0) + 1
        users[str(r["user_id"])] = users.get(str(r["user_id"]), 0) + 1
        if r["event_id"] not in seen:
            seen.add(r["event_id"])
            dedup[r["event_type"]] = dedup.get(r["event_type"], 0) + 1
    return {"running_counts": counts, "running_user_counts": users, "dedup": dedup}


def inputs(workload, seed):
    """Generates (once per workload and seed) the tables, the stream files
    and the oracle results; returns the input directory. The directory name
    also carries a digest of everything that shapes them (the generator,
    the sizes, the oracle SQL), so a change to any of those regenerates."""
    sqls = json.load(open(os.path.join(WORK, "oracle_sql.json")))[workload]
    shape = json.dumps([open(gen.__file__).read(), SIZES[workload], PAIR_REPLICAS,
                        STREAM_FILES, STREAM_PER_FILE, sqls], sort_keys=True)
    digest = hashlib.sha256(shape.encode()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{workload}-{seed}-{digest}")
    if os.path.exists(os.path.join(d, "oracle.json")):
        return d
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tables = gen.corpus(seed, SIZES[workload])
    if workload == "extensions":
        tables = gen.replicate(tables, seed, PAIR_REPLICAS)
    gen.write_tables(tables, os.path.join(tmp, "tables"))
    oracle = {"keys": {}}
    if workload == "reference":
        files = gen.stream_files(tables["events"], seed, STREAM_PER_FILE, STREAM_FILES)
        gen.write_json_lines(files, os.path.join(tmp, "stream"))
        oracle["stream"] = stream_expected(files)
    con = duck()
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tmp, 'tables', t)}.parquet')")
    for key, sql in sqls.items():
        try:
            oracle["keys"][key] = checksum(con, f"({materialized(sql)})")
        except duckdb.Error:
            oracle["keys"][key] = checksum(con, f"({sql})")
    con.close()
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


# ---- metrics ----------------------------------------------------------------

def check_outputs(res, run_dir, oracle):
    """Output verdicts, name -> error or '': each key's pass-1 result
    against its oracle, and each stream query's final counts in every
    pass against the batch group-by over the same events. Also returns
    each key's output row count."""
    verdict, rows = {}, {}
    for name, want in oracle.get("stream", {}).items():
        verdict[name] = ""
        for p in res["passes"]:
            got = p["finals"].get(name, {})
            if got != want:
                diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
                verdict[name] = f"final counts differ on {diff[:5]}"
    con = duck()
    for key, want in oracle["keys"].items():
        path = os.path.join(run_dir, "out", key)
        if not os.path.isdir(path):
            verdict[key] = "no output"
            continue
        got = checksum(con, f"read_parquet('{path}/*.parquet')")
        rows[key] = got["rows"]
        verdict[key] = "" if got == want else f"output {got} != oracle {want}"
    con.close()
    return verdict, rows


def counts(res, verdict, stream_names):
    """(attempted, failed) over the timed passes: key runs plus
    micro-batches. A key run fails if it raised or its key's output is
    wrong; every batch of a pass fails if a stream query raised or
    produced wrong counts."""
    attempted = failed = 0
    stream_bad = any(verdict.get(n) for n in stream_names)
    for p in res["passes"]:
        for r in p["keys"]:
            attempted += 1
            failed += bool(r["error"] or verdict.get(r["key"]))
        n = len(p.get("batch_s", []))
        attempted += n
        failed += n if (stream_bad or p.get("errors")) else 0
    return attempted, failed


def e2e_metrics(res):
    passes = res["passes"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "heap_peak_mb": (max(p["heap_held_peak_bytes"] for p in passes) / 2**20, "MB"),
    }


def layer_metrics(res, cores):
    t = res["traced_pass"]
    untraced = res["baseline_pass"]["wall_s"]
    a, b, act, tr = t["all"], t["build"], t["action"], t["trunk"]
    mb = 2.0 ** 20
    trunks = t.get("trunks", {})
    keys = t.get("keys", [])
    prog = t.get("stream_progress", [])

    def med(field):
        return statistics.median(x[field] for x in prog) if prog else 0.0

    m = {
        "session.build_s": (res["session_build_s"], "s"),
        "session.warmup_s": (res["session_warmup_s"], "s"),
        "tables.pin_writes": (a["pin_writes"], "count"),
        "tables.pin_write_s": (a["pin_write_ms"] / 1e3, "s"),
        "tables.pin_mb": (a["pin_bytes"] / mb, "MB"),
        "tables.keyed_pins": (a["keyed_pins"], "count"),
        "tables.scan_s": (a["scan_ms"] / 1e3, "s"),
        "tables.scratch_peak_mb": (t["scratch_peak_bytes"] / mb, "MB"),
        "trunk.total_s": (sum(trunks.values()), "s"),
        "trunk.graph_adj_s": (trunks.get("graph_adj", 0.0), "s"),
        "trunk.dedup_s": (trunks.get("dedup", 0.0), "s"),
        "trunk.setsim_s": (trunks.get("setsim", 0.0), "s"),
        "trunk.jobs": (tr["jobs"], "count"),
        "queries.key_p50_s": (statistics.median(k["build_s"] + k["action_s"] for k in keys), "s"),
        "queries.build_s": (sum(k["build_s"] for k in keys), "s"),
        "queries.action_s": (sum(k["action_s"] for k in keys), "s"),
        "queries.eager_jobs": (b["jobs"], "count"),
        "queries.action_jobs": (act["jobs"], "count"),
        "queries.rows_out": (res.get("rows_out", 0), "count"),
        "spark.jobs": (a["jobs"], "count"),
        "spark.stages": (a["stages"], "count"),
        "spark.tasks": (a["tasks"], "count"),
        "spark.task_s": (a["task_ms"] / 1e3, "s"),
        "spark.busy_share": (a["task_ms"] / 1e3 / (t["wall_s"] * cores), "ratio"),
        "spark.shuffle_write_mb": (a["shuffle_write_bytes"] / mb, "MB"),
        "spark.shuffle_read_mb": (a["shuffle_read_bytes"] / mb, "MB"),
        "spark.spill_mb": (a["spill_bytes"] / mb, "MB"),
        "streaming.batches": (len(prog), "count"),
        "streaming.jobs": (t["stream"]["jobs"], "count"),
        "streaming.trigger_ms": (med("trigger_ms"), "ms"),
        "streaming.add_batch_ms": (med("add_batch_ms"), "ms"),
        "streaming.wal_commit_ms": (med("wal_commit_ms"), "ms"),
        "streaming.commit_offsets_ms": (med("commit_offsets_ms"), "ms"),
        "streaming.state_rows": (max((x["state_rows"] for x in prog), default=0), "count"),
        "streaming.state_mb": (max((x["state_bytes"] for x in prog), default=0) / mb, "MB"),
        "streaming.state_commit_ms": (med("state_commit_ms"), "ms"),
        "host.canary_s": (res["canary_s"], "s"),
        "trace.overhead": (t["wall_s"] / untraced, "ratio"),
    }
    for k, v in res["kernels"].items():
        m[k] = (v, "1/s")
    return m


def side_record(workload, res, verdict):
    """Per-key record of the traced pass: key-call and action time, jobs
    and stages in each, pin writes, shuffle bytes, spill and rows out;
    plus the trunk counters and, for the stream, every micro-batch."""
    t = res["traced_pass"]
    rows = res.get("rows_by_key", {})
    rec = {"workload": workload, "trunks": t["trunks"], "trunk_counters": t["per_trunk"],
           "stream_counters": t["stream"], "batches": t["stream_progress"], "keys": {}}
    for k in t["keys"]:
        name = k["key"]
        rec["keys"][name] = {
            "build_s": k["build_s"], "action_s": k["action_s"], "error": k["error"],
            "output_check": verdict.get(name, ""), "rows_out": rows.get(name),
            **{f"{phase}.{c}": v for phase in ("build", "action")
               for c, v in t["per_key"][name][phase].items()}}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records", f"{workload}-trace.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    log(f"per-key record written to {os.path.relpath(path, ROOT)}")


def run_harness(cp, args, data, run_dir, cores):
    """Runs the JVM harness; returns its result.json."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace), str(cores),
           os.path.join(data, "tables"), os.path.join(data, "stream"), run_dir]
    jlog = os.path.join(run_dir, "jvm.log")
    with open(jlog, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(jlog, errors="replace").read()[-4000:])
        raise SystemExit(f"[perfbench] harness failed ({rc})")
    return json.load(open(result))


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    t0 = time.time()
    cp = build()
    t1 = time.time()
    data = inputs(args.workload, args.seed)
    t2 = time.time()
    oracle = json.load(open(os.path.join(data, "oracle.json")))
    cores = os.cpu_count() or 1
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    try:
        res = run_harness(cp, args, data, run_dir, cores)
        t3 = time.time()
        log(f"build {t1 - t0:.1f}s, inputs {t2 - t1:.1f}s, harness {t3 - t2:.1f}s "
            f"(set-up {res['setup_s']:.2f}s from JVM start)")
        verdict, res["rows_by_key"] = check_outputs(res, run_dir, oracle)
        res["rows_out"] = sum(res["rows_by_key"].values())
        # Every session subtree must be gone once the harness has exited.
        tokens = [p["token"] for p in res["passes"]] + (
            [res["baseline_pass"]["token"], res["traced_pass"]["token"]] if args.trace else [])
        leftover = [os.path.join(d, n) for d, ds, fs in os.walk(os.path.join(run_dir, "scratch"))
                    for n in ds + fs if any(t in n for t in tokens)]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for i, p in enumerate(res["passes"], 1):
        log(f"pass {i}: {p['wall_s']:.2f}s; trunks " + " ".join(
            f"{k}={v:.2f}" for k, v in p["trunks"].items()) + "; keys " + " ".join(
            f"{r['key']}={r['build_s']:.2f}+{r['action_s']:.2f}" for r in p["keys"])
            + "; batches " + " ".join(f"{b:.2f}" for b in p.get("batch_s", [])))
    problems = [f"{k}: {v}" for k, v in verdict.items() if v]
    problems += [f"{r['key']}: {r['error']}" for p in res["passes"] for r in p["keys"] if r["error"]]
    problems += [f"stream: {e}" for p in res["passes"] for e in p.get("errors", [])]
    if leftover:
        problems.append(f"scratch left behind: {leftover[:3]}")
    st = res.get("self_test")
    if st is not None and not st["ok"]:
        problems.append(f"full-evaluation self-test failed: {st}")
    attempted, failed = counts(res, verdict, oracle.get("stream", {}))
    for p in problems:
        log(p)
    if args.trace:
        side_record(args.workload, res, verdict)
        metrics = layer_metrics(res, cores)
    else:
        metrics = e2e_metrics(res)
    log(f"{args.workload} seed={args.seed}: {len(res['passes'])} timed pass(es), "
        f"self-test={st}, attempted={attempted} failed={failed}")
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
