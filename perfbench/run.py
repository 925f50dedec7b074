#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 6 --trace 0

Builds the engine from source (`build.py`), generates the workload's
inputs from the seed (`gen.py`) under a fresh scratch root in the
checkout, runs the workload in its own JVM (`src/Harness.scala`), checks
the outputs (each batch query against its DuckDB oracle before timing,
then every timed execution against the verified rows), and prints one
JSON line last: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. Workloads and metrics: README.md here.
"""
import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CPUS = os.cpu_count() or 4

RELATIONAL = ["q01_pricing_summary", "q03_revenue_by_nation",
              "q14_top_customers", "q57_range_join"]

# name -> what the workload runs; `docs` sizes the generated corpus
WORKLOADS = {
    "curation": {"queries": ["q109_clean_bpe_shards"], "docs": 300},
    "relational": {"queries": RELATIONAL, "scale": 0.25},
    "stream_ingest": {"rates": [10, 30, 60]},
}

SETUPS = 3
# open-loop stream: one generator tick per file, a fixed latency limit
TICK_S = 0.1
LATENCY_LIMIT_S = 10.0


def gen_inputs(workload, seed, data, setups, seconds):
    """Write the workload's tables once per set-up (`data_<i>`, identical
    copies so path-keyed stores are rebuilt each time); returns
    (input rows, input bytes) of one copy."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    first = f"{data}_0"
    os.makedirs(first)
    if workload == "relational":
        stats = gen.relational(first, rng, spec["scale"])
    elif workload == "stream_ingest":
        stats = gen.stream_feed(first, rng, spec["rates"], seconds / len(spec["rates"]), TICK_S)
    else:
        stats = {"documents": gen.documents(first, rng, spec["docs"])}
    for i in range(1, setups):
        shutil.copytree(first, f"{data}_{i}")
    return sum(r for r, _ in stats.values()), sum(b for _, b in stats.values())


def java_cmd(classpath, run, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]


def oracle_check(data, verify):
    """Compare each verified result with its DuckDB oracle, using the
    canonicalization of the repository's `tools/check.py`. Returns the
    names of the queries that do not match."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools/check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in check.TABLES:
        p = f"{data}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{verify}/oracle_sql.json") as f:
        oracles = json.load(f)
    bad = []
    for name, sql in sorted(oracles.items()):
        files = sorted(f for f in os.listdir(f"{verify}/{name}") if f.endswith(".parquet"))
        got = check.canon(pd.concat([pd.read_parquet(f"{verify}/{name}/{f}") for f in files]))
        exp = check.canon(con.execute(sql).df())
        try:
            assert list(got.columns) == list(exp.columns) and len(got) == len(exp)
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False,
                                          rtol=0, atol=0)
        except AssertionError:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "tools/check.py")):
        sys.exit("perfbench: run from a checkout of the repository (tools/check.py missing)")
    classpath = build.build()

    run = os.path.join(ROOT, ".bench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(f"{run}/tmp")
    try:
        data = f"{run}/data"
        in_rows, in_bytes = gen_inputs(a.workload, a.seed, data, SETUPS, a.seconds)
        spec = WORKLOADS[a.workload]
        args = {"workload": a.workload, "data": data, "run": run, "seconds": a.seconds,
                "trace": a.trace, "setups": SETUPS, "cpus": CPUS}
        if "queries" in spec:
            args["queries"] = ",".join(spec["queries"])
        else:
            args.update(rates=",".join(map(str, spec["rates"])),
                        segment_s=a.seconds / len(spec["rates"]))
        env = dict(os.environ, SPARK_GRAFT_QUANTIZER_DIR=f"{run}/quantizers",
                   SPARK_LOCAL_DIRS=f"{run}/local")
        t_jvm = time.time()
        log = open(f"{run}/jvm.log", "w")
        r = subprocess.run(java_cmd(classpath, run, args), stdout=log, stderr=subprocess.STDOUT,
                           env=env, timeout=170)
        log.close()
        t_jvm = time.time() - t_jvm
        if r.returncode != 0:
            sys.stderr.write(open(f"{run}/jvm.log").read()[-3000:])
            sys.exit(f"perfbench: JVM exited {r.returncode}")
        with open(f"{run}/report.json") as f:
            rep = json.load(f)
        t_oracle = time.time()
        bad = [] if "queries" not in spec else oracle_check(f"{data}_0", f"{run}/verify")
        t_oracle = time.time() - t_oracle
        spans = metrics.load_spans(f"{run}/spans.jsonl") if a.trace else []
        leaked = metrics.leaked_dirs(f"{run}/tmp")
        store_bytes = metrics.store_bytes(run)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    kind = "batch" if "queries" in spec else "stream"
    e2e, tail_info = metrics.end_to_end(rep, kind, in_rows, LATENCY_LIMIT_S)
    summary = {"workload": a.workload, "seed": a.seed, "input_rows": in_rows,
               "input_bytes": in_bytes, "oracle_mismatch": bad,
               "failed_frac": rep["failed"] / rep["attempted"],
               "jvm_s": t_jvm, "oracle_s": t_oracle,
               "nproc": rep["nproc"], "spark_version": rep["spark_version"],
               "load_before": rep["load_before"], "load_after": rep["load_after"],
               "calibration_s": rep["calibration_s"], "setup_runs_s": rep["setup_s"],
               "session_start_s": rep["session_start_s"],
               "confs": dict(rep["confs"]), **tail_info, **e2e}
    print(json.dumps(summary, sort_keys=True))
    if a.trace:
        out = metrics.per_layer(rep, spans, kind, CPUS, in_bytes, leaked, store_bytes,
                                LATENCY_LIMIT_S)
    else:
        out = e2e
    print(json.dumps({"correct": not bad and rep["failed"] == 0,
                      "attempted": rep["attempted"], "failed": rep["failed"],
                      "metrics": {k: {"value": v, "unit": metrics.UNITS[k]}
                                  for k, v in out.items()}}))


if __name__ == "__main__":
    main()
