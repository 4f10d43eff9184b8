#!/usr/bin/env python3
"""Benchmark for the CDC upsert pipeline and the eager curation chains.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_updates --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest        # the harness's own tests
    python3 perfbench/run.py --record-oracle   # rewrite perfbench/oracle.json

Builds the program and the harness (perfbench/build.sh), runs one
workload once in a fresh JVM (perfbench.Main), checks its outputs and
prints, as the last line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The line before it holds the run's
details: sample counts, load average, set-up repeats.

`--trace 0` reports the end-to-end metrics. `--trace 1` attaches the
listeners and reports the per-layer metrics, plus the traced run's own
end-to-end numbers as `traced.*`; their difference from an untraced run
is the tracing overhead. Spans go to .bench_build/perfbench/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("cdc_updates", "curation_chains")
BUILD = os.path.join(".bench_build", "perfbench")
ORACLE = os.path.join("perfbench", "oracle.json")
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
CURATION = ("q58_neardup_clusters", "q105_incremental_clusters",
            "q161_dsir_resample", "q169_resample_release")

END_TO_END = {
    "setup_s": "s", "freshness_p50_ms": "ms", "freshness_p99_ms": "ms",
    "cpu_ms_per_1k_rows": "ms", "ingest_rows_per_s": "1/s", "pass_wall_s": "s",
    "peak_rss_mb": "MiB",
}
TRACED = {k: u for k, u in END_TO_END.items() if k != "setup_s"}
PER_LAYER = {
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.engine_overhead_ms_p50": "ms",
    "streaming.backlog_max_rows": "count", "streaming.generator_lag_ms_max": "ms",
    "pipeline.source_partitions": "count", "pipeline.parse_passes_per_batch": "count",
    "sinks.upsert_ms_p50": "ms", "sinks.jobs_per_batch": "count",
    "sinks.driver_gap_ms_p50": "ms", "sinks.shuffle_bytes_per_batch": "B",
    "sinks.merge_rows_read_per_batch": "count", "sinks.rows_written_per_batch": "count",
    "sinks.write_amplification": "ratio", "sinks.bytes_written_per_batch": "B",
    "sinks.table_files_end": "count", "sinks.table_bytes_end": "B",
    **{f"sinks.job_ms_p50.{r}": "ms" for r in
       ("is_empty", "source_scan", "merge", "listing", "schema", "write")},
    "operators.construction_s": "s", "operators.action_s": "s", "operators.jobs": "count",
    "operators.stages": "count", "operators.tasks": "count", "operators.eager_jobs": "count",
    "operators.materialize_jobs": "count", "operators.materialize_s": "s",
    "operators.idle_gap_s": "s", "operators.slot_utilization": "ratio",
    "operators.single_task_stage_share": "ratio", "operators.max_concurrent_jobs": "count",
    "operators.cancelled_jobs": "count", "operators.useful_job_ratio": "ratio",
    "operators.shuffle_write_bytes": "B",
    **{f"queries.{q}.{m}": u for q in CURATION for m, u in (("wall_s", "s"), ("jobs", "count"))},
    "sources.input_bytes": "B", "catalyst.plan_ms": "ms", "jvm.gc_s": "s",
    **{f"traced.{k}": u for k, u in TRACED.items()},
}


def java(main, args, run_dir):
    """Run a class of the build on Spark's jars and return its result
    line as a dict. Spark's own logging goes to stderr."""
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dlog4j.configurationFile=perfbench/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(BUILD, "classes") + os.pathsep + jars, main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {main} ran past {JVM_TIMEOUT_S}s")
    if proc.returncode != 0:
        sys.stderr.write(out)
        raise SystemExit(f"perfbench: {main} exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if len(lines) != 1:
        raise SystemExit(f"perfbench: {main} printed no result")
    return json.loads(lines[0][len("PERFBENCH "):])


def digest(df):
    """Order-independent digest of a result: columns by name, values in
    one canonical text form (doubles to 10 significant digits), rows
    sorted. Equal results digest equal whichever engine produced them."""
    cols = sorted(df.columns)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "\\N"
        if isinstance(v, float):
            return "%.10g" % v
        if hasattr(v, "item"):
            return cell(v.item())
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in r)
                  for r in df[cols].astype(object).itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def read_parquet_dir(path):
    import pandas as pd
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet")) \
        if os.path.isdir(path) else []
    if not files:
        return None
    return pd.concat([pd.read_parquet(os.path.join(path, f)) for f in files],
                     ignore_index=True)


def oracle_failures(check):
    """Results that are missing or differ from the DuckDB oracle's
    recorded answer. `check["queries"]` names only the queries that ran
    and wrote a result; the others are already counted as failed. A
    corpus that no longer matches the one the answers were recorded on
    fails every result."""
    import pandas as pd
    with open(ORACLE) as f:
        oracle = json.load(f)
    if digest(pd.read_parquet(check["data"])) != oracle["corpus"]:
        print("perfbench: the corpus differs from the one oracle.json was recorded on",
              file=sys.stderr)
        return len(check["queries"])
    bad = 0
    for q in check["queries"]:
        got = read_parquet_dir(os.path.join(check["out"], q))
        if got is None or digest(got) != oracle["results"][q]:
            print(f"perfbench: {q} differs from the oracle", file=sys.stderr)
            bad += 1
    return bad


def record_oracle(run_dir):
    """Evaluate each curation query's DuckDB oracle on the benchmark's
    corpus and store the answers' digests."""
    import duckdb
    import pandas as pd
    r = java("perfbench.Main", ["write_corpus", "0", "0", "0", run_dir,
                                os.path.join(run_dir, "trace")], run_dir)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{r['data']}/*.parquet'")
    results = {q: digest(con.sql(r["oracle"][q]).df()) for q in CURATION}
    with open(ORACLE, "w") as f:
        json.dump({"corpus": digest(pd.read_parquet(r["data"])), "results": results},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(results))


# The layers each workload passes through; the traced run reports the
# per-layer metrics of the other layers as 0.
LAYERS = {
    "cdc_updates": ("streaming.", "pipeline.", "sinks.", "jvm.", "traced."),
    "curation_chains": ("operators.", "queries.", "sources.", "catalyst.", "jvm.", "traced."),
}


def metric_block(measured, names, layers=None):
    if layers is not None:
        measured = {**{n: 0.0 for n in names if not n.startswith(layers)}, **measured}
    missing = sorted(set(names) - set(measured))
    if missing:
        raise SystemExit(f"perfbench: metrics missing: {missing}")
    out = {}
    for name in sorted(names):
        value = float(measured[name])
        if not math.isfinite(value):
            raise SystemExit(f"perfbench: metric {name} is {value}")
        out[name] = {"value": value, "unit": names[name]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-oracle", action="store_true")
    a = ap.parse_args()
    bench = not (a.selftest or a.record_oracle)
    if bench and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if subprocess.run(["bash", "perfbench/build.sh", BUILD], stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: the build failed")
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        if a.selftest:
            print(json.dumps(java("perfbench.SelfTest", [], run_dir)))
            return
        if a.record_oracle:
            record_oracle(run_dir)
            return
        trace_path = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        r = java("perfbench.Main", [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                    run_dir, trace_path], run_dir)
        failed = r["failed"]
        if "check" in r:
            failed += oracle_failures(r.pop("check"))
        measured = r.pop("metrics")
        names = PER_LAYER if a.trace else END_TO_END
        metrics = metric_block(measured, names, LAYERS[a.workload] if a.trace else None)
        r["other_metrics"] = {k: v for k, v in sorted(measured.items()) if k not in names}
        print(json.dumps(r))
        print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
