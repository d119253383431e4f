#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness in
`perfbench/scala` and the engine it depends on with sbt
(`perfbench/build.sbt`, which depends on the repository's root build);
later runs reuse the build while the sources are unchanged. The input
tables are generated into `.bench_work/` (see gen.py). The harness JVM runs the workload, checks
its answers, and writes its numbers; the batch workload's answers are
then compared with DuckDB evaluating each gate's oracle SQL. The last
line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, and the spans and per-operation scheduler counts
are written under `.bench_work/traces/`.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("batch_dataflows", "stream_admission")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build depends on, sorted."""
    out = [os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compiles the engine and the harness unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    srcs = sources()
    missing = [p for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"))
               if not os.path.isfile(p)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit(f"no engine sources to build here (missing {missing or 'src/main/scala'}); "
                         "run from the repository root")
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime / fullClasspath"]
    with open(os.path.join(BUILD, "sbt.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=logf, stdin=subprocess.DEVNULL, text=True,
                           timeout=840)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (exit {p.returncode}); see .bench_build/sbt.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


def tables():
    """The input tables, generated once per version of gen.py."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        d = os.path.join(WORK, f"tables-{hashlib.sha256(f.read()).hexdigest()[:12]}")
    done = os.path.join(d, "COMPLETE")
    if not os.path.isfile(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d)
        open(done, "w").close()
    return d


def run_jvm(cp, args, work):
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dgraft.scratch.dir={os.path.join(work, 'scratch')}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", tables(), "--work", work, "--out", out,
              "--traces", os.path.join(WORK, "traces")])
    os.makedirs(os.path.join(work, "tmp"))
    logpath = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(logpath, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # Also reached when this script is interrupted or terminated:
            # the JVM never outlives it.
            if p.poll() is None:
                p.kill()
                p.wait()
    log(f"harness JVM ran {time.time() - t0:.1f}s")
    with open(logpath, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                log(line.rstrip()[len("[perfbench] "):])
    if rc != 0 or not os.path.isfile(out):
        with open(logpath, errors="replace") as f:
            tail = [l for l in f.read().splitlines() if "[perfbench]" in l or "Exception" in l]
        raise SystemExit(f"harness JVM failed ({rc}):\n" + "\n".join(tail[-40:]))
    with open(out) as f:
        return json.load(f)


# --- batch answers against DuckDB (the comparison scripts/check.py makes) ---

def _norm(v):
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    return str(v)


def _spark_value(v, kind):
    if v is None:
        return None
    if kind == "double":
        return float(v)
    if kind == "timestamp":
        return datetime.datetime.fromisoformat(v)
    if kind == "date":
        return datetime.date.fromisoformat(v)
    if kind == "decimal":
        return decimal.Decimal(v)
    return v


def oracle_rows(con, sql, cache_dir):
    """Column names and normalized rows of one oracle query. The tables
    are fixed, so an answer is cached under the hash of its SQL and
    reused by later runs in the same checkout."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    rel = con.sql(sql)
    cols = rel.columns
    rows = [[[v is None, _norm(v)] for v in r] for r in rel.fetchall()]
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump([cols, rows], f)
    os.replace(path + ".tmp", path)
    return cols, rows


def check_batch(tables_dir, outputs):
    """Failures of the batch answers against each gate's DuckDB oracle:
    same column names, and the same rows as a multiset of values
    rendered the way scripts/check.py renders them."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    failures, compared = [], 0
    for name, o in sorted(outputs.items()):
        if o["oracle"] is None:
            continue
        try:
            exp_cols, exp_rows = oracle_rows(con, o["oracle"],
                                             os.path.join(tables_dir, "oracle-answers"))
        except Exception as e:  # an oracle that does not run is a failure
            failures.append(f"{name}: oracle error {e}")
            continue
        cols = o["columns"]
        if sorted(cols) != sorted(exp_cols):
            failures.append(f"{name}: columns {sorted(cols)} vs oracle {sorted(exp_cols)}")
            continue
        gi = [cols.index(c) for c in sorted(cols)]
        ei = [exp_cols.index(c) for c in sorted(cols)]
        got = sorted([[v is None, _norm(v)] for v in
                      (_spark_value(r[i], o["types"][i]) for i in gi)] for r in o["rows"])
        want = sorted([r[i] for i in ei] for r in exp_rows)
        compared += 1
        if got != want:
            diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
            failures.append(f"{name}: {len(got)} rows vs oracle {len(want)}"
                            + (f", first difference at sorted row {diff}" if diff is not None else ""))
    return failures, compared


def main():
    # A terminating signal unwinds through the finally blocks below, which
    # stop the JVM and remove the run's work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work)
        failures = list(res["failures"])
        if args.workload == "batch_dataflows":
            with open(os.path.join(work, "batch_outputs.json")) as f:
                outputs = json.load(f)
            t0 = time.time()
            more, compared = check_batch(tables(), outputs)
            failures += more
            log(f"{compared} batch answers compared with their DuckDB oracle "
                f"in {time.time() - t0:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        log(f"check failed: {f}")
    log(f"{res['ops']} operations in {res['measured_s']:.1f}s; set-up rounds "
        f"(session, warm-up, prepare) {[['%.2f' % x for x in r] for r in res['setup_parts_s']]}s")
    by_kind = {}
    for op_id, ms, ok in res["op_list"]:
        by_kind.setdefault(op_id.split(":")[1], []).append(ms)
    for k, v in sorted(by_kind.items()):
        v.sort()
        log(f"  {k}: n={len(v)} median={v[len(v) // 2]:.0f}ms max={v[-1]:.0f}ms")
    print(json.dumps({
        "correct": not failures and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))


if __name__ == "__main__":
    main()
