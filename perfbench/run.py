#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one local-mode Spark JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the JVM harness (perfbench/build.sbt) once per
source state, generates the fixtures once (perfbench/gendata.py), writes
the seed's inputs, runs the harness, checks every output and prints a
report followed by one JSON result line (the last line of stdout).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import functools
import glob
import hashlib
import importlib.util
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gendata  # noqa: E402

CPUS = 4
HEAP = "3g"
SETUPS = 5
JVM_TIMEOUT_S = 170

# 6 of the 281 SparkEntry queries whose combined profile matches the full
# suite's on one traced pass at sf0.001 (jobs per query, share of jobs run
# inside the SparkEntry call, executor use, per-query p50/p90, driver-only
# share); the figures are in README.md
SMALL_SUITE = [
    "q129_peak_concurrency", "q167_modularity", "q218_dup_source_matrix",
    "q24_text_stats", "q25_token_count", "q50_sample_per_group",
]

# name -> fixture scale and harness properties
WORKLOADS = {
    "small_suite": {"sf": 0.001, "kind": "query", "queries": SMALL_SUITE},
    "incremental_load": {"sf": 0.1, "kind": "load", "batches": 2,
                         "compact_every": 2},
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# --------------------------------------------------------------- build
def build():
    """Compile the engine and the harness with sbt and return a classpath
    whose class directories are copies under .work/build/<stamp>/, so a
    later run of the same sources uses exactly these classes even when sbt
    has since compiled other sources into target/. <stamp> hashes every
    file under src/main, the harness sources and the build files."""
    sources = (glob.glob(f"{ROOT}/src/main/**/*", recursive=True)
               + glob.glob(f"{HERE}/src/**/*", recursive=True)
               + glob.glob(f"{ROOT}/project/*.sbt")
               + [f"{ROOT}/build.sbt", f"{ROOT}/project/build.properties",
                  f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    stamp = sha_files([p for p in sources if os.path.isfile(p)])
    bdir = os.path.join(WORK, "build")
    sdir = os.path.join(bdir, stamp)
    cp_file = os.path.join(sdir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log(f"building (stamp {stamp}) ...")
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {bdir}/sbt.log)")
    for old in os.listdir(bdir):
        if os.path.isdir(os.path.join(bdir, old)):
            shutil.rmtree(os.path.join(bdir, old))
    cp = []
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(e) and os.path.abspath(e).startswith(ROOT + os.sep):
            copy = os.path.join(sdir, f"classes{i}")
            shutil.copytree(e, copy)
            e = copy
        cp.append(e)
    cp = os.pathsep.join(cp)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ------------------------------------------------------------ fixtures
def fixture(sf):
    """Generated tables at scale sf, checked against footer row counts."""
    gen = sha_files([os.path.join(HERE, "gendata.py")])
    d = os.path.join(WORK, "data", f"sf{sf}-{gen}")
    want = gendata.row_counts(sf)
    ok = os.path.isdir(d)
    if ok:
        for t, n in want.items():
            p = os.path.join(d, f"{t}.parquet")
            if not os.path.exists(p) or pq.ParquetFile(p).metadata.num_rows != n:
                ok = False
                break
    if not ok:
        log(f"generating sf{sf} fixture ...")
        shutil.rmtree(d, ignore_errors=True)
        rows = gendata.write(d + ".tmp", sf)
        os.replace(d + ".tmp", d)
        if rows != want:
            raise SystemExit(f"fixture row counts {rows} != {want}")
    return d


def load_inputs(spec, data, seed, run_dir):
    """Seed-drawn load batches over the fixture's orders, as parquet, plus
    the expected SinkStats and the replayed table after every batch."""
    orders = pq.read_table(os.path.join(data, "orders.parquet")).to_pandas()
    orders["o_version"] = np.int64(1)
    rng = np.random.default_rng(seed)
    n = len(orders)
    keys = rng.permutation(orders["o_orderkey"].to_numpy())
    init_keys, pool = keys[: n // 2], list(keys[n // 2:])
    cols = list(orders.columns)
    ix = {c: i for i, c in enumerate(cols)}
    source = {int(r[0]): tuple(r) for r in orders.itertuples(index=False)}
    table = {int(k): source[int(k)] for k in init_keys}

    def frame(rows):
        df = pd.DataFrame(rows, columns=cols) if rows else orders.iloc[0:0]
        return pa.Table.from_pandas(df.astype(orders.dtypes.to_dict()),
                                    preserve_index=False)

    os.makedirs(run_dir, exist_ok=True)
    pq.write_table(frame([table[int(k)] for k in init_keys]),
                   os.path.join(run_dir, "init.parquet"))
    n_new, n_newer, n_stale = n // 100, n // 200, n // 400
    n_upnew, n_purge = n // 1000, n // 1000
    expected = []
    for b in range(spec["batches"]):
        live = np.array(sorted(table))
        pick = rng.choice(live, n_newer + n_stale + n_purge, replace=False)
        newer, stale = pick[:n_newer], pick[n_newer:n_newer + n_stale]
        purge = pick[n_newer + n_stale:]
        fresh = [int(pool.pop()) for _ in range(n_new + n_upnew)]
        new_rows = [source[k] for k in fresh[:n_new]]
        upd_rows = []
        for k in newer:
            r = list(table[int(k)])
            r[ix["o_version"]] += 1
            r[ix["o_totalprice"]] = round(float(rng.integers(100000, 50000000)) / 100, 2)
            r[ix["o_orderstatus"]] = "FOP"[int(rng.integers(0, 3))]
            upd_rows.append(tuple(r))
        for k in stale:
            r = list(table[int(k)])
            r[ix["o_version"]] -= 1
            r[ix["o_orderstatus"]] = "X"
            upd_rows.append(tuple(r))
        for k in fresh[n_new:]:
            upd_rows.append(source[k])
        bdir = os.path.join(run_dir, "batches", str(b))
        os.makedirs(bdir, exist_ok=True)
        pq.write_table(frame(new_rows), os.path.join(bdir, "new.parquet"))
        pq.write_table(frame(upd_rows), os.path.join(bdir, "upd.parquet"))
        pq.write_table(pa.table({"o_orderkey": pa.array(purge, pa.int64())}),
                       os.path.join(bdir, "purge.parquet"))
        # replay: insert-new-only, upsert (higher version wins, the batch
        # wins ties), purge
        for r in new_rows:
            table[int(r[ix["o_orderkey"]])] = r
        for r in upd_rows:
            k = int(r[ix["o_orderkey"]])
            if k not in table or r[ix["o_version"]] >= table[k][ix["o_version"]]:
                table[k] = r
        for k in purge:
            del table[int(k)]
        dash = {}
        for r in table.values():
            s = dash.setdefault(r[ix["o_orderstatus"]], [0, 0])
            s[0] += 1
            s[1] += int(round(r[ix["o_totalprice"]] * 100))
        expected.append({
            "stats": {"insert_new": [n_new, 0, 0],
                      "upsert": [n_upnew, n_newer, 0],
                      "purge": [0, 0, n_purge]},
            "dashboard": [[k, v[0], v[1]] for k, v in sorted(dash.items())],
            "input_bytes": sum(os.path.getsize(os.path.join(bdir, f))
                               for f in os.listdir(bdir)),
        })
    final = frame([table[k] for k in sorted(table)])
    return expected, digest_table(final.to_pandas())


# -------------------------------------------------------------- checks
def digest_table(df):
    """check_oracle.py's comparison rules as a fingerprint: columns sorted
    by name, rows sorted by every column, values compared as strings."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode() + b"\0")
        h.update("\x1f".join(df[c].astype(str)).encode())
    return {"columns": list(df.columns), "rows": len(df), "digest": h.hexdigest()}


@functools.lru_cache(maxsize=None)
def oracle_rules():
    """pa_type_class / duck_type_class from tools/check_oracle.py."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_views(con, data):
    for t in gendata.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")


def oracle_expected(name, sql, data):
    """Oracle fingerprint, cached per (data set, oracle SQL)."""
    import duckdb
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cdir = os.path.join(WORK, "oracle", os.path.basename(data))
    path = os.path.join(cdir, f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    rules = oracle_rules()
    con = duckdb.connect()
    duck_views(con, data)
    try:
        rel = con.sql(sql)
        types = {c: rules.duck_type_class(t) for c, t in zip(rel.columns, rel.types)}
        exp = digest_table(rel.fetchdf())
        exp["types"] = types
    except Exception as e:  # an oracle that cannot run is a failed check
        exp = {"error": f"ORACLE_SQL_ERROR: {e}"}
    os.makedirs(cdir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(exp, f)
    return exp


def spark_output(path):
    import duckdb
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None, None
    rules = oracle_rules()
    sch = pq.read_schema(files[0])
    types = {n: rules.pa_type_class(sch.field(n).type) for n in sch.names}
    con = duckdb.connect()
    df = con.sql(f"SELECT * FROM '{path}/*.parquet'").fetchdf()
    return df, types


def check_query(name, out_dir, data, oracle_sql):
    """None when the output is right, else the reason."""
    got, types = spark_output(os.path.join(out_dir, name))
    if got is None:
        return "NO_RESULT"
    if any(t == "decimal" for t in types.values()):
        return "DECIMAL_OUTPUT"
    if name in oracle_sql:
        exp = oracle_expected(name, oracle_sql[name], data)
        if "error" in exp:
            return exp["error"]
        etypes = exp["types"]
    else:
        return None if len(got) > 0 else "ROWS_ONLY EMPTY"
    g = digest_table(got)
    if g["columns"] != exp["columns"]:
        return f"SCHEMA_MISMATCH {g['columns']} vs {exp['columns']}"
    bad = [c for c in g["columns"] if types.get(c) != etypes.get(c)]
    if bad:
        return f"TYPE_CLASS_MISMATCH {bad}"
    if g["rows"] != exp["rows"]:
        return f"ROWCOUNT got={g['rows']} exp={exp['rows']}"
    if g["digest"] != exp["digest"]:
        return "VALUE_MISMATCH"
    return None


# ---------------------------------------------------------- conditions
def cpu_s():
    """(busy, steal) CPU seconds of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]] + [0] * 8
    hz = os.sysconf("SC_CLK_TCK")
    return (sum(v[:7]) - v[3] - v[4]) / hz, v[7] / hz


def own_cpu_s():
    s = resource.getrusage(resource.RUSAGE_SELF)
    c = resource.getrusage(resource.RUSAGE_CHILDREN)
    return s.ru_utime + s.ru_stime + c.ru_utime + c.ru_stime


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + sha_files(glob.glob(f"{ROOT}/src/main/**/*.scala",
                                        recursive=True))


# ------------------------------------------------------------- metrics
def q(xs, p):
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(np.percentile(xs, p))


def per_layer(res, expected, cpus):
    rows = res["ledger"]
    by_pass = {}
    for r in rows:
        by_pass.setdefault(r["pass"], []).append(r)

    def per_pass(key):
        return statistics.median(sum(r[key] for r in rs) for rs in by_pass.values())

    def sink_call(key):
        v = [r[key] for r in rows if r[key] > 0]
        return statistics.median(v) if v else 0.0

    job_ms = [j for r in rows for j in r["sched.job_ms"]]
    job_wall = sum(r["sched.job_wall_s"] for r in rows)
    run = sum(r["exec.task_run_s"] for r in rows)
    passes = res["passes"]
    tr = [p["wall_s"] for p in passes if p["traced"]]
    un = [p["wall_s"] for p in passes if not p["traced"]]
    m = {
        "session.start_s": statistics.median(s["start_s"] for s in res["setups"]),
        "session.warmup_s": statistics.median(s["warmup_s"] for s in res["setups"]),
    }
    for k in ["entry.build_s", "entry.build_jobs", "entry.driver_only_s",
              "plan.analysis_s", "plan.optimize_s", "plan.physical_s",
              "sched.jobs", "sched.stages", "sched.tasks", "sched.job_wall_s",
              "sched.gap_s", "exec.task_run_s", "exec.task_cpu_s",
              "exec.deser_s", "exec.gc_s", "shuffle.write_mb",
              "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
              "sources.input_mb", "sources.input_rows", "collect.result_mb"]:
        m[k] = per_pass(k)
    m["sched.job_ms_p50"] = q(job_ms, 50)
    m["exec.core_util"] = run / (job_wall * cpus) if job_wall > 0 else 0.0
    m["exec.skew"] = statistics.median(r["exec.skew"] for r in rows)
    for k in ["sink.upsert_s", "sink.insert_new_s", "sink.purge_s",
              "sink.compact_s"]:
        m[k] = sink_call(k)
    is_load = expected is not None
    m["sink.jobs_per_batch"] = (statistics.mean(r["sink.jobs"] for r in rows)
                                if is_load else 0.0)
    in_mb = (sum(expected[int(r["name"][5:])]["input_bytes"] for r in rows)
             / 1048576.0 if is_load else 0.0)
    out_mb = sum(r["sink.write_mb"] for r in rows)
    m["sink.write_mb_per_input_mb"] = out_mb / in_mb if in_mb else 0.0
    m["sink.files"] = res.get("table_files", 0)
    m["sink.table_mb"] = res.get("table_mb", 0.0)
    m["read.p50_s"] = sink_call("read.s")
    m["trace.overhead_s"] = statistics.median(tr) - statistics.median(un)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")) \
            or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        log("engine sources not found next to perfbench/ (need build.sbt and "
            "src/main/scala/graft) — nothing to benchmark")
        return 2
    spec = WORKLOADS[a.workload]
    cp = build()
    data = fixture(spec["sf"])

    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    props = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cpus": CPUS, "setups": SETUPS, "data": data,
        "kind": spec["kind"], "result": f"{run_dir}/result.json",
        "spans": os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}.spans.jsonl"),
    }
    expected = final_digest = None
    if spec["kind"] == "query":
        props.update(checkdir=f"{run_dir}/out", oraclefile=f"{run_dir}/oracle_sql.json",
                     queries=",".join(spec["queries"]))
    else:
        expected, final_digest = load_inputs(spec, data, a.seed, run_dir)
        props.update(table=f"{run_dir}/table", init=f"{run_dir}/init.parquet",
                     batchdir=f"{run_dir}/batches", batches=spec["batches"],
                     compact_every=spec["compact_every"], key="o_orderkey",
                     version="o_version")
    os.makedirs(os.path.dirname(props["spans"]), exist_ok=True)
    pfile = f"{run_dir}/harness.properties"
    with open(pfile, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Harness", pfile])
    load0, (busy0, steal0), own0, t0 = os.getloadavg()[0], cpu_s(), own_cpu_s(), time.time()
    with open(f"{run_dir}/jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"harness timed out after {JVM_TIMEOUT_S} s (see {run_dir}/jvm.log)")
            return 3
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    wall = time.time() - t0
    (busy, steal), own = cpu_s(), own_cpu_s() - own0
    busy, steal = busy - busy0, steal - steal0
    load1 = os.getloadavg()[0]
    if rc != 0:
        log(f"harness exited {rc} (see {run_dir}/jvm.log)")
        return 3
    with open(props["result"]) as f:
        res = json.load(f)

    # ---- checks: reasons per op id; an op counts once however many of
    # its checks fail
    failures = {}
    ops = res["ops"]

    def fail(o, why):
        failures.setdefault(o["id"], []).append(f"{o['name']} (pass {o['pass']}): {why}")

    for o in ops:
        if o["error"]:
            fail(o, o["error"])
    if spec["kind"] == "query":
        with open(props["oraclefile"]) as f:
            oracle_sql = json.load(f)
        for o in ops:
            if o["pass"] == 0 and not o["error"]:
                why = check_query(o["name"], props["checkdir"], data, oracle_sql)
                if why:
                    fail(o, why)
    else:
        for o in ops:
            if o["error"]:
                continue
            e = expected[int(o["name"][5:])]
            if o["stats"] != e["stats"]:
                fail(o, f"stats {o['stats']} != {e['stats']}")
            if o["dashboard"] != e["dashboard"]:
                fail(o, "dashboard differs from the replayed table")
        # the final table is one more checked op
        got = pq.read_table(f"{run_dir}/table/data").to_pandas()
        if digest_table(got) != final_digest:
            fail({"id": "final", "name": "final table", "pass": "last"},
                 "differs from the replayed batches")
    attempted = len(ops) + (1 if spec["kind"] == "load" else 0)

    # ---- metrics
    timed = [o for o in ops if o["pass"] > 0 and not o["traced"] and not o["error"]]
    passes = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    op_s = [o["wall_s"] for o in timed]
    by_pass = {}
    for o in timed:
        by_pass.setdefault(o["pass"], []).append(o)
    # the best timed pass: a neighbour's burst slows some passes, never
    # speeds one up
    e2e = {
        "setup_s": (statistics.median(s["start_s"] + s["warmup_s"] for s in res["setups"]), "s"),
        "pass_cpu_s": (min(sum(o["cpu_s"] for o in ps) for ps in by_pass.values()), "s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    # reported, not bounded: wall time moves with the host's steal
    pass_s = min(sum(o["wall_s"] for o in ps) for ps in by_pass.values())
    other_cpu = busy - own
    contended = other_cpu + steal > 0.5 * wall or load0 > CPUS + 1
    cond = {
        "commit": git_commit(), "cpus": CPUS, "heap": HEAP,
        "spark": res["spark_version"], "jdk": res["jdk"],
        "loadavg_start": load0, "loadavg_end": load1,
        "other_cpu_s": round(other_cpu, 2), "steal_s": round(steal, 2),
        "run_wall_s": round(wall, 2),
        "contended": contended,
    }

    # ---- report (stdout, before the result line) and durable record
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(res['passes'])} timed passes, {len(timed)} timed ops, "
          f"{attempted} attempted, {len(failures)} failed")
    samples = {"setup_s": SETUPS, "pass_cpu_s": len(passes),
               "heap_live_mb": len(passes)}
    for k, (v, u) in e2e.items():
        print(f"  {k:<14} {v:12.4f} {u:<5} (n={samples[k]})")
    print(f"  {'pass_s':<14} {pass_s:12.4f} s     (n={len(passes)}, wall, not bounded)")
    print(f"  {'op_p50_s':<14} {q(op_s, 50):12.4f} s     (n={len(op_s)})")
    if len(op_s) >= 100:
        print(f"  {'op_p90_s':<14} {q(op_s, 90):12.4f} s     (n={len(op_s)})")
    print(f"  {'failed_frac':<14} {len(failures) / attempted:12.4f}       "
          f"(n={attempted})")
    reasons = [r for rs in failures.values() for r in rs]
    for r in reasons[:20]:
        print(f"  FAIL {r}")
    print("  conditions " + json.dumps(cond))
    if contended:
        print("  CONTENDED: other processes used "
              f"{other_cpu:.1f} CPU s during this {wall:.1f} s run")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "conditions": cond, "failures": reasons, "end_to_end": metrics,
              "pass_s": pass_s, "attempted": attempted}
    if a.trace:
        layer = per_layer(res, expected, CPUS)
        for k, v in layer.items():
            print(f"  {k:<28} {v:14.4f}")
        print(f"  tracing overhead: {layer['trace.overhead_s']:+.4f} s per pass "
              f"(traced minus untraced pass_s); spans in {props['spans']}")
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layer.items()}
        record["per_layer"] = metrics
        record["ledger"] = res["ledger"]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "entry.build_s": "s",
    "entry.build_jobs": "count", "entry.driver_only_s": "s",
    "plan.analysis_s": "s", "plan.optimize_s": "s", "plan.physical_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_wall_s": "s", "sched.gap_s": "s", "sched.job_ms_p50": "ms",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.deser_s": "s",
    "exec.gc_s": "s", "exec.core_util": "ratio", "exec.skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "collect.result_mb": "MB", "sink.upsert_s": "s", "sink.insert_new_s": "s",
    "sink.purge_s": "s", "sink.compact_s": "s", "sink.jobs_per_batch": "count",
    "sink.write_mb_per_input_mb": "ratio", "sink.files": "count",
    "sink.table_mb": "MB", "read.p50_s": "s", "trace.overhead_s": "s",
}

if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
