#!/usr/bin/env python3
"""End-to-end benchmark of the engine's two pipelines and the Gold analyst loop.

Usage (from the repository root):

    python3 perfbench/run.py --workload dag_daily|analyst_gold|corpus_prep \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt (once per source
state, cached under .bench_build/), starts one JVM that generates the inputs
from the seed and runs the workload (perfbench.Main), checks every result
against DuckDB, and prints one JSON line last: the end-to-end metrics of
BENCHMARK.json when --trace 0, its per-layer metrics when --trace 1.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dag_daily", "analyst_gold", "corpus_prep")
DEADLINE_S = 170  # every run must end within 180 s once built
BUILD_TIMEOUT_S = 840
HEAP = "3g"


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f) and f.endswith((".scala", ".sbt", ".java", ".properties")):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(cache):
    """Compiles engine + harness; returns (classpath, JVM options)."""
    fp = source_fingerprint()
    launch = os.path.join(cache, f"launch-{fp}.txt")
    if not os.path.exists(launch):
        for f in os.listdir(cache):
            if f.startswith("launch-"):
                os.remove(os.path.join(cache, f))
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(cache, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"build failed ({rc})", 3)
        with open(os.path.join(HERE, "target", "launch.txt")) as fh:
            lines = fh.read().splitlines()
        # the engine's fork options minus its heap size: the benchmark sets its own
        lines = [lines[0]] + [o for o in lines[1:] if o and not o.startswith("-Xmx")]
        with open(launch, "w") as fh:
            fh.write("\n".join(lines) + "\n")
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


def run_jvm(classpath, jvm_opts, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    out = os.path.join(work, "result.json")
    # a fixed heap: one that grows during the run made operations in some
    # JVMs 15-20% slower than in others
    cmd = [java, *jvm_opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.language=en", "-Duser.country=US", "-cp", classpath, "perfbench.Main",
           *args, "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"workload JVM failed ({rc})", 4)
    if os.path.exists(out):
        with open(out) as fh:
            return json.load(fh)


# ---------------------------------------------------------------- checks ---

CSV_COLUMNS = ("{'date': 'DATE', 'symbol': 'VARCHAR', 'open': 'DOUBLE', 'high': 'DOUBLE', "
               "'low': 'DOUBLE', 'close': 'DOUBLE', 'volume': 'BIGINT'}")

# analyst query -> the registered oracle whose body computes it
ANALYST_TWINS = {
    "avg_volatility_per_ticker": "q04_top_volatility",  # without its LIMIT 1
    "risk_profile": "q05_risk_profile",
    "liquidity": "q06_liquidity",
    "top_performance": "q12_top_performance",
    "investor_scores": "q13_investor_scores",
    "global_stats": "q07_global_stats",
    "weekly_volatility_rounded": "q11_weekly_vol_rounded",
    "monthly_summary": "q14_monthly_summary",
}


def on_csv(sql, csv):
    """The oracle SQL with its events-derived `bars` CTE replaced by the CSV."""
    if not sql.startswith("WITH e AS ("):
        raise ValueError("oracle SQL does not start with the bars derivation")
    start = sql.index("bars AS (") + len("bars AS (")
    depth, i = 1, start
    while depth:
        depth += {"(": 1, ")": -1}.get(sql[i], 0)
        i += 1
    bars = f"SELECT * FROM read_csv('{csv}', header = true, columns = {CSV_COLUMNS})"
    return f"WITH bars AS ({bars})" + sql[i:]


def canon(rows):
    return [tuple(None if isinstance(v, float) and math.isnan(v) else v for v in r)
            for r in rows]


def check_market_dag(con, facts):
    """PipelineResult fingerprint vs DuckDB over the same CSV (q03, q04)."""
    o, csv = facts["oracle"], facts["csv"]
    n = con.sql(f"SELECT count(*) FROM read_csv('{csv}', header = true, "
                f"columns = {CSV_COLUMNS})").fetchone()[0]
    weekly = con.sql(f"SELECT count(*) FROM ({on_csv(o['q03_weekly_volatility'], csv)})").fetchone()[0]
    sym, vol = con.sql(on_csv(o["q04_top_volatility"], csv)).fetchone()
    report = f"Ticker mais volátil: {sym} (volatilidade média semanal {vol:.4f}%)"
    want = f"{n}|{n}|{weekly}|{report}"
    if facts["expected"] != want:
        return [f"DAG result {facts['expected']!r} != DuckDB {want!r}"]
    return []


def check_analyst(con, facts):
    """Every query's result rows vs its DuckDB twin, in order."""
    o, csv, errors = facts["oracle"], facts["csv"], []
    for q in facts["queries"]:
        sql = on_csv(o[ANALYST_TWINS[q]], csv)
        if q == "avg_volatility_per_ticker":
            sql = sql[:sql.rindex("LIMIT 1")]
        got = con.sql(f"SELECT * FROM read_parquet('{facts['dumps']}/{q}/*.parquet')")
        want = con.sql(sql)
        if got.columns != want.columns:
            errors.append(f"{q}: columns {got.columns} != {want.columns}")
            continue
        g, w = canon(got.fetchall()), canon(want.fetchall())
        if g != w:
            bad = next(i for i in range(min(len(g), len(w)) + 1)
                       if i >= min(len(g), len(w)) or g[i] != w[i])
            errors.append(f"{q}: {len(g)} rows vs {len(w)}; first difference at row {bad}")
    return errors


def check_corpus(con, facts):
    """Planted exact copies removed, survivors' texts distinct, count = nFinal."""
    n_final = int(facts["expected"].split("|")[3])
    con.sql(f"CREATE TEMP VIEW out AS SELECT * FROM "
            f"read_parquet('{facts['out']}/*/*.parquet', hive_partitioning = true)")
    con.sql("CREATE TEMP TABLE copies(doc_id BIGINT)")
    if facts["exact_copies"]:
        con.executemany("INSERT INTO copies VALUES (?)", [[x] for x in facts["exact_copies"]])
    n, n_text = con.sql("SELECT count(*), count(DISTINCT text) FROM out").fetchone()
    kept = con.sql("SELECT count(*) FROM out JOIN copies USING (doc_id)").fetchone()[0]
    errors = []
    if n != n_final:
        errors.append(f"output has {n} rows, pipeline reported nFinal={n_final}")
    if n_text != n:
        errors.append(f"{n - n_text} survivors share a text")
    if kept:
        errors.append(f"{kept} planted exact copies survived")
    return errors


CHECKS = {"dag_daily": check_market_dag, "analyst_gold": check_analyst,
          "corpus_prep": check_corpus}


# --------------------------------------------------------------- metrics ---

def pct(xs, q):
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def end_to_end(res):
    # failed operations never count as fast ones; if none passed, no
    # operation finished correctly within the whole measured time
    times = [op["s"] for op in res["ops"] if op["ok"]] or [res["op_time_s"]]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_s": pct(times, 0.5),
        "op_p90_s": pct(times, 0.9),
        "ops_per_s": sum(op["ok"] for op in res["ops"]) / res["op_time_s"],
        "store_bytes_per_input_byte": res["store_bytes"] / res["input_bytes"],
        "heap_peak_mb": res["heap_peak_mb"],
    }


# the spans each workload's traced run must produce; per-layer metrics of
# the other workloads' spans do not apply to it and read 0
SPANS = {
    "dag_daily": ("sources.load_staging", "operators.quality_checks", "operators.create_dims",
                  "operators.load_fact", "operators.volatility_view", "operators.report"),
    "analyst_gold": tuple(f"operators.{q}" for q in ANALYST_TWINS),
    "corpus_prep": ("sources.read", "operators.redact", "operators.quality_gate",
                    "operators.exact_dedup", "operators.near_dup", "operators.split",
                    "sources.write", "operators.profile"),
}
EVERY_WORKLOAD = ("pipeline.unattributed", "pipeline.tracing")


def per_layer(res, workload, wanted):
    """The per-layer values, and an error for each wanted metric of one of
    this workload's spans that the traced run did not produce."""
    values = dict(res["layer"])
    for span, measures in res["spans"].items():
        for m, v in measures.items():
            values[f"{span}.{m}"] = v
    own = SPANS[workload] + EVERY_WORKLOAD
    missing = [m["name"] for m in wanted
               if m["name"].rsplit(".", 1)[0] in own and m["name"] not in values]
    return values, [f"per-layer metric {name} was not produced" for name in missing]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a full checkout of the repository", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)

    cache = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    t_build = time.monotonic()
    classpath, jvm_opts = build(cache)
    deadline += time.monotonic() - t_build  # the build is not part of the run

    work = os.path.join(cache, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, jvm_opts,
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", a.trace], work, deadline)
        if res is None:
            fail("the workload JVM wrote no result", 4)
        import duckdb
        con = duckdb.connect()
        con.sql("SET threads TO 2")
        try:
            errors = CHECKS[a.workload](con, res["check"])
        except Exception as e:  # a check that cannot run fails the run
            errors = [f"check raised {type(e).__name__}: {e}"]
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace == "1":
        wanted = spec["per_layer"]
        values, missing = per_layer(res, a.workload, wanted)
        errors += missing
    else:
        values, wanted = end_to_end(res), list(spec["end_to_end"])
        if a.workload == "analyst_gold":
            # the one workload with enough operations per run for a 90th percentile
            wanted.append({"name": "op_p90_s", "unit": "s"})

    ops = res["ops"]
    attempted = len(ops)
    # a wrong shared result fails every operation that returned it
    failed = attempted if errors else sum(not op["ok"] for op in ops)
    for e in errors + [f"op {i} ({op['name']}): {op['error']}"
                       for i, op in enumerate(ops) if not op["ok"]]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    if a.trace == "1":
        print(json.dumps({"diagnostics": {
            "canary_cpu_s": res["canary_cpu_s"], "canary_shuffle_s": res["canary_shuffle_s"],
            "cpus": res["cpus"], "session_s": res["session_s"],
            "spans": res["spans"]}}, sort_keys=True))
    # 0 only for the spans of another workload (see SPANS), which do not apply
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
