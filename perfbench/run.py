#!/usr/bin/env python3
"""graft benchmark: end-to-end and per-layer metrics on two workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]
    python3 perfbench/run.py --smoke

Run from the root of a graft checkout. The first run builds the harness and
graft's main sources with sbt (offline) into perfbench/target and generates
the fixed tables; later runs reuse both. Everything a run writes lands under
.perfbench/ in the checkout; the run's scratch directory is removed at the end.

Workloads (BENCHMARK.json says why each exists):
  mr_wordcount  the paper's job: MapReduceSpec + Engine.transform + OutputSink
  sql_batch     short declared queries from SparkEntry.queries: relational
                reads, one near-dup kernel, one streamed MERGE

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones. The line before it stamps the run (cores, heap,
JVM and Spark versions, commit, source hash, seed). Outputs are checked every
run: query results against DuckDB running the query's oracle SQL, word count
against counts tallied while the corpus was generated. A mismatch counts as a
failure.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None
CPUS = 4
XMX = "2g"
TABLE_SCALE = "0.01"
SMOKE_SCALE = "0.001"
CORPUS_MB = 8
RUN_LIMIT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compiles harness + graft main sources once per source tree."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"[perfbench] not a graft checkout: missing {missing}")
    stamp = tree_hash(sources)
    out = os.path.join(STATE, "build")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        raise SystemExit("[perfbench] set SPARK_HOME to the Spark 4.1 installation; the build compiles against its jars")
    opts = env.get("SBT_OPTS", "-Xmx2g")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        # the toolchain's own repository list, whose artifacts are cached
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts + " -Dsbt.offline=true -Dsbt.server.autostart=false"
    log("building harness and graft with sbt (offline)")
    t = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"[perfbench] sbt build failed (see {out}/sbt.log)")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(os.path.join(out, "stamp"), "w").write(stamp)
    log(f"built in {time.time() - t:.0f}s")
    return cp, stamp


def tables(scale):
    """Generates the fixed tables once per generator version and scale."""
    d = os.path.join(STATE, f"tables-{scale}")
    stamp = tree_hash([os.path.join(HERE, "gen_tables.py")]) + scale
    sf = os.path.join(d, "stamp")
    if not (os.path.exists(sf) and open(sf).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        sys.path.insert(0, HERE)
        import gen_tables
        gen_tables.generate(d, float(scale))
        open(sf, "w").write(stamp)
    return d


def java_run(cp, workload, seed, seconds, trace, table_dir, corpus_mb, deadline):
    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "results"):
        os.makedirs(os.path.join(work, sub))
    out = os.path.join(work, "record.json")
    cmd = (["java", f"-Xmx{XMX}", f"-Xms{XMX}", *ADD_OPENS,
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(CPUS), "--tables", table_dir,
            "--work", work, "--out", out, "--corpus-mb", str(corpus_mb)])
    logf = open(os.path.join(STATE, "jvm.log"), "w")
    # spark.local.dir above keeps shuffle files in the checkout; an inherited
    # SPARK_LOCAL_DIRS would override it
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("[perfbench] run exceeded its time limit")
    finally:
        logf.close()
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(STATE, "jvm.log")).read()[-3000:]
        raise SystemExit(f"[perfbench] JVM exited with {p.returncode}\n{tail}")
    rec = json.load(open(out))
    rec["check"] = check_queries(rec, table_dir) if rec.get("results") else []
    shutil.rmtree(work, ignore_errors=True)
    return rec


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


def check_queries(rec, table_dir):
    """Compares each result with DuckDB running the query's oracle SQL."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    problems = []
    for name, path in sorted(rec["results"].items()):
        files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")) \
            if os.path.isdir(path) else []
        if not files:
            problems.append(f"{name}: no result written")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        g_cols, g_rows = got.columns, canon(got.fetchall(), got.columns)
        sql = rec["oracles"].get(name)
        if sql is None:
            problems.append(f"{name}: no oracle SQL")
            continue
        exp = con.sql(sql)
        if sorted(exp.columns) != sorted(g_cols):
            problems.append(f"{name}: columns {sorted(g_cols)} != {sorted(exp.columns)}")
        elif canon(exp.fetchall(), exp.columns) != g_rows:
            problems.append(f"{name}: rows differ from the DuckDB oracle")
    return problems


def stamp(rec, src_hash, seed):
    jv = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True).stderr.splitlines()
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"cpus": rec["cpus"], "xmx": XMX, "max_heap_mb": round(rec["max_heap_mb"]),
            "jvm": jv[0] if jv else None,
            "spark": rec["spark_version"], "commit": commit, "source_sha256": src_hash[:16],
            "seed": seed, "workload": rec["workload"], "trace": rec["trace"]}


def one(args, workload, trace, scale, corpus_mb, deadline):
    cp, src_hash = build()
    rec = java_run(cp, workload, args.seed, args.seconds, trace, tables(scale), corpus_mb, deadline)
    failures = [f"{f['op']}: {f['error']}" for f in rec["failures"]] + rec["check"]
    attempted = rec["attempted"] + len(rec.get("results", {}))
    section = "per_layer" if trace else "end_to_end"
    names = [(m["name"], m["unit"]) for m in SPEC[section]]
    got = rec[section]
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in names}
    st = stamp(rec, src_hash, args.seed)
    detail = {k: rec[k] for k in ("passes", "samples", "kept_samples", "timed_steal", "query_medians_s",
                                  "samples_s", "samples_steal", "setup_rounds_s", "setup_steps")}
    detail["failed_frac"] = len(failures) / attempted
    detail["failures"] = failures
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    full = {"stamp": st, "detail": detail, "end_to_end": rec["end_to_end"],
            "per_layer": rec["per_layer"]}
    json.dump(full, open(os.path.join(STATE, "results",
                                      f"{workload}-seed{args.seed}-trace{trace}.json"), "w"), indent=1)
    for f in failures:
        log(f"FAILED {f}")
    print(json.dumps({"stamp": st, "failed_frac": detail["failed_frac"],
                      "passes": rec["passes"], "samples": rec["samples"],
                      "kept_samples": rec["kept_samples"], "timed_steal": rec["timed_steal"]}))
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if SPEC is None:
        raise SystemExit("[perfbench] BENCHMARK.json not found at the checkout root")
    workloads = [w["name"] for w in SPEC["workloads"]]
    if args.seconds is None:
        args.seconds = SPEC["run_seconds"]
    start = time.time()
    if args.smoke:
        # tiny tables and a 1 MB corpus: every metric name, both modes
        args.seconds = 1
        ok = True
        for w in workloads:
            for trace in (0, 1):
                r = one(args, w, trace, SMOKE_SCALE, 1, time.time() + 600)
                for n, m in r["metrics"].items():
                    print(f"{w:14s} trace={trace} {n:40s} {m['value']:.4f} {m['unit']}")
                ok &= r["correct"]
        print(json.dumps({"correct": ok}))
        return 0 if ok else 1
    if args.workload == "all":
        rows = {w: one(args, w, 0, TABLE_SCALE, CORPUS_MB, time.time() + 600) for w in workloads}
        for w, r in rows.items():
            for n, m in r["metrics"].items():
                print(f"{w:14s} {n:20s} {m['value']:12.4f} {m['unit']}")
            print(f"{w:14s} {'failed_frac':20s} {r['failed'] / r['attempted']:12.4f} 1")
        print(json.dumps({w: r for w, r in rows.items()}))
        return 0 if all(r["correct"] for r in rows.values()) else 1
    if args.workload not in workloads:
        raise SystemExit(f"[perfbench] unknown workload {args.workload!r}; one of {workloads}")
    first_build = not os.path.exists(os.path.join(STATE, "build", "classpath.txt"))
    limit = 880 if first_build else RUN_LIMIT_S
    r = one(args, args.workload, args.trace, TABLE_SCALE, CORPUS_MB, start + limit)
    print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
