#!/usr/bin/env python3
"""RCO refresh benchmark: one command that generates seeded inputs,
builds the program from source, runs one workload as a closed loop,
checks the outputs and prints every metric by name and unit.

Usage (from the repository root):
  python3 rcobench/run.py --workload backfill_wide --seed 1 \
      --seconds 1 --trace 0

The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Everything the run writes stays
under .bench_build/ in the current directory. See rcobench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = sorted(gen.SHAPES)
VERIFY_QUERIES = ["rco_sessionize", "rco_co_agg", "rco_brandcode",
                  "rco_first_stop", "rco_co_uptime", "rco_gantt",
                  "rco_gantt_events"]
JVM_TIMEOUT_S = 170

E2E_UNITS = {"refresh_s": "s", "setup_s": "s"}


def layer_unit(name):
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes") or counter.startswith("bytes_"):
        return "bytes"
    if counter.endswith(("_ratio", "_amp")):
        return "ratio"
    if counter.endswith("_mb"):
        return "MB"
    return "count"


def run_jvm(classes, args, work, log_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    cmd = ["java"] + build.JVM_OPTIONS + [
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", build.classpath(os.getcwd(), classes), "rcobench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


# CO_Aggregated_Data columns the DuckDB CO-aggregate twin also yields
# and that the load's adaptive rounding leaves untouched
CO_KEYS = ["CO_Identifier", "LINE", "n_events",
           "downtime_id_of_First_CO_Event", "downtime_id_of_Last_CO_Event",
           "Number_of_Machines"]
# upsertWindow's default pad on CO_Start_EPOCH (seconds)
CO_PAD_S = 10.0


def store_check(work, gen_dir, manifest):
    """The COs the measured pass landed in CO_Aggregated_Data equal the
    COs the DuckDB twin computes from the same events. In a pre-loaded
    store, a line's rows from its first new CO on (less the upsert pad)
    must be exactly the new batch: the windowed delete+append. Returns
    (checked, failed)."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{gen_dir}/events.parquet')")
    with open(os.path.join(work, "co_agg_oracle.sql")) as f:
        exp = con.execute(f.read()).df()
    got = con.execute(
        "SELECT * FROM read_parquet("
        f"'{work}/store/CO_Aggregated_Data/**/*.parquet', "
        "hive_partitioning = true)").df()
    servers = [s["server"] for s in manifest["sites"]]
    got = got[got["Server"].isin(servers)]
    if manifest["store"] == "preloaded":
        thr = exp.groupby("LINE")["CO_Start_EPOCH"].min() - CO_PAD_S
        got = got[got["LINE"].isin(thr.index)]
        got = got[got["CO_Start_EPOCH"] >= got["LINE"].map(thr)]

    def rows(df):
        return sorted(tuple(str(v) for v in r)
                      for r in df[CO_KEYS].itertuples(index=False))
    ok = len(exp) > 0 and rows(got) == rows(exp)
    with open(os.path.join(work, "store_check.log"), "w") as f:
        f.write(f"expected {len(exp)} COs, store has {len(got)}; "
                f"{'match' if ok else 'MISMATCH'}\n")
    return 1, int(not ok)


def oracle_check(root, gen_dir, verify_dir, log_path):
    """DuckDB replay of the spine queries' oracle SQL (tools/check.py)
    over the generated events. Returns (checked, failed)."""
    oracle_path = os.path.join(verify_dir, "oracle_sql.json")
    if not os.path.exists(oracle_path):
        return len(VERIFY_QUERIES), len(VERIFY_QUERIES)
    with open(oracle_path) as f:
        oracles = json.load(f)
    # Verify wrote every query's oracle; keep the ones it ran
    with open(oracle_path, "w") as f:
        json.dump({q: oracles[q] for q in VERIFY_QUERIES}, f)
    r = subprocess.run([sys.executable, os.path.join(root, "tools",
                        "check.py"), gen_dir, verify_dir, "--no-run"],
                       capture_output=True, text=True, timeout=120)
    with open(log_path, "w") as f:
        f.write(r.stdout + r.stderr)
    passed = sum(1 for ln in r.stdout.splitlines()
                 if ln.strip().startswith("✓"))
    failed = len(VERIFY_QUERIES) - passed
    # a non-zero exit with every query matching still fails the check
    return len(VERIFY_QUERIES), max(failed, int(r.returncode != 0))


def fixture_store(classes, workload):
    """The pre-loaded store of an upsert workload: the fixture history
    run through the pipeline once per build, then copied into each run."""
    fx = os.path.join(os.path.dirname(classes), "fixtures",
                      workload + ("-tiny" if gen.TINY else ""))
    if os.path.isdir(os.path.join(fx, "store")):
        return os.path.join(fx, "store")
    staging = fx + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    gen.main(workload, gen.FIXTURE_SEED, os.path.join(staging, "gen"),
             history=True)
    result = os.path.join(staging, "result.json")
    code = run_jvm(classes, ["--mode", "fixture", "--gen",
                             os.path.join(staging, "gen"), "--work", staging,
                             "--result", result],
                   staging, os.path.join(staging, "jvm.log"))
    ok = code == 0 and os.path.exists(result)
    if ok:
        with open(result) as f:
            ok = not json.load(f)["site_failures"]
    if not ok:
        sys.stderr.write(f"fixture load failed; see {staging}/jvm.log\n")
        sys.exit(1)
    for d in ("spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(staging, d), ignore_errors=True)
    os.rename(staging, fx)
    return os.path.join(fx, "store")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.ensure_built(root)  # exits non-zero on failure
    # part of the build: the first run in a checkout pays for it
    fixtures = {w: fixture_store(classes, w) for w in WORKLOADS
                if gen.SHAPES[w]["store"] == "preloaded"}
    work = os.path.join(root, ".bench_build", "runs",
                        f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    gen_dir = os.path.join(work, "gen")
    manifest = gen.main(a.workload, a.seed, gen_dir)
    print("inputs: " + json.dumps(manifest, sort_keys=True))
    if manifest["store"] == "preloaded":
        shutil.copytree(fixtures[a.workload], os.path.join(work, "store"))

    result_path = os.path.join(work, "result.json")
    code = run_jvm(classes, [
        "--mode", "trace" if a.trace else "timed", "--gen", gen_dir,
        "--work", work, "--seconds", str(a.seconds),
        "--result", result_path], work, os.path.join(work, "jvm.log"))
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write(f"benchmark JVM failed (exit {code}); "
                         f"see {work}/jvm.log\n")
        sys.exit(1)
    with open(result_path) as f:
        r = json.load(f)
    checks = [store_check(work, gen_dir, manifest)]
    if a.trace:
        checks.append(oracle_check(root, gen_dir, os.path.join(work, "verify"),
                                   os.path.join(work, "check.log")))
    for d in ("store", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    attempted = r["site_runs"] + r["hash_checks"] + sum(c for c, _ in checks)
    failed = len(r["site_failures"]) + r["hash_failures"] + \
        sum(f for _, f in checks)
    print("run: " + json.dumps({
        k: r[k] for k in ("cores", "pass_s", "phases_s",
                          "site_failures", "hash_checks", "hash_failures")}))
    print(f"checks: {attempted - failed}/{attempted} passed "
          f"(logs in {work})")
    if a.trace:
        layers = r["layers"]
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(layers.items())}
        print("trace: warm pass untraced (mean of the two) %.4f s, traced "
              "%.4f s; spans in %s"
              % (layers["trace.refresh_s"], r["traced_refresh_s"],
                 os.path.join(work, "trace_spans.json")))
    else:
        metrics = {k: {"value": r[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
