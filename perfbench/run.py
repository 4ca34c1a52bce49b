#!/usr/bin/env python3
"""The project's benchmark: one command per workload run.

    python3 perfbench/run.py --cpus 2 --workload reads --seed 1 --seconds 15 --trace 0

Builds the library and the harness from source (`build.py`), generates the
workload's inputs from the seed (`gen.py`), runs the harness in one JVM
with a session from `Bench.sessionBuilder` at a fixed task-slot count
(`--cpus`, set in BENCHMARK.json), checks every op's output (each catalog
op's first result against DuckDB with the project's `tools/check_oracle.py`,
every later result against the first), and prints the metrics as the last
stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` adds the tracer
(listeners and a counting filesystem, set only through the session
config) and reports the per-layer metrics, with per-op detail on the lines
before. Diagnostics (in-run quartiles, failing ops, load average, other
JVMs, CPU time the host stole, compiles during the timed passes, known
defects) go to the line before the result.
Everything is written under `.bench_build/perfbench` in the checkout and
the run's own directory is removed at the end.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Each workload's ops: catalog query names, plus `ingest_store`, the
# streaming `Jobs.eventStoreIngest` over a generated JSONL feed.
WORKLOADS = {
    # Read-only catalog queries: TPC-H-style aggregation and joins, grouping
    # sets, the two connected-components loops, IVF-PQ ANN and
    # sessionization. The listing/UDF queries are not used: they read the
    # reference crawl run, which is not part of the repository.
    "reads": """q_pricing_summary q_join_multi q_grouping_sets q_doc_split_safe
        q_dedup_clusters q_vec_ann_ivf_pq q_sessionize""".split(),
    # Store lifecycle: an append, SQL DML, a merge-on-read MERGE and the
    # maintenance CALLs, each on a fresh clone of a landed master, plus the
    # streaming ingest into an epochstore.
    "lakehouse": "q_store_write q_store_dml q_store_merge_mor q_store_call ingest_store".split(),
}
# Warm passes after the cold one, before timing starts. On a 4-core box
# both workloads' pass times fall until about the fifth pass (the JIT).
# Two warm passes put the median timed pass within about 5% of the
# plateau, so that how far down the slope a loaded host lets a run get
# matters little; more would not fit the time all runs may take.
WARM_PASSES = 2
# Nominal seconds of one pass on a 4-core box: turns --seconds into the
# fixed number of timed passes every run makes. A traced run makes half
# as many of each kind (timed and traced, alternating), so that it takes
# about as long as an untraced one.
PASS_S = 5.0
SF = 0.01                              # catalog tables: lineitem 60,000 rows
FEED_EVENTS, FEED_FILES = 12_000, 24   # 6 triggers for the ingest, 24 for the dual sink

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "op_p50_s": "s",
              "op_p90_s": "s", "cpu_s": "s", "rows_per_s": "1/s", "heap_retained_mb": "MB"}
PER_LAYER = {
    "queries.build_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s", "catalyst.planning_s": "s",
    "catalyst.aqe_replans": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.job_s": "s",
    "exec.task_s": "s", "exec.task_gc_s": "s", "exec.scan_rows": "rows",
    "exec.scan_bytes": "bytes", "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "driver.gap_s": "s", "driver.gap_share": "share",
    "fs.creates": "count", "fs.renames": "count", "fs.deletes": "count", "fs.mkdirs": "count",
    "fs.lists": "count", "fs.opens": "count", "fs.bytes_written": "bytes",
    "fs.bytes_read": "bytes",
    "streaming.triggers": "count", "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s", "streaming.input_rows": "rows",
    "streaming.trigger_p50_s": "s", "streaming.trigger_p90_s": "s",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "codegen.compiles": "count",
    "trace.overhead": "ratio",
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load():
    """(1-min loadavg, number of other JVMs, CPU seconds stolen from this
    machine by its host so far) — diagnostics, not metrics."""
    try:
        la = float(open("/proc/loadavg").read().split()[0])
        steal = int(open("/proc/stat").readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        la, steal = -1.0, 0.0
    jvms = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            if b"java" in open(f"/proc/{pid}/cmdline", "rb").read().split(b"\0")[0]:
                jvms += 1
        except OSError:
            pass
    return la, jvms, steal


def oracle_failures(data_dir, results_dir):
    """{op: reason} for every op whose dumped result disagrees with DuckDB,
    from the project's own oracle compare (`tools/check_oracle.py`, which
    prints `FAIL <op>: <reason>` per disagreeing op)."""
    path = os.path.join(build.ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        tool.main(data_dir, results_dir)
    bad = {}
    for line in report.getvalue().splitlines():
        if line.startswith("FAIL "):
            op, _, why = line[len("FAIL "):].partition(": ")
            bad[op] = "oracle mismatch: " + why
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()
    started = time.monotonic()
    classpath = build.build()
    build_s = time.monotonic() - started
    # the time limit of a run counts from here: a first run in a checkout
    # compiles the project first, which has a limit of its own
    deadline = time.monotonic() + 165
    run_dir = os.path.join(build.BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return measure(args, classpath, run_dir, started, deadline, build_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, classpath, run_dir, started, deadline, build_s):
    data = os.path.join(run_dir, "data")
    t0 = time.monotonic()
    ops = WORKLOADS[args.workload]
    passes = max(2, round(args.seconds / PASS_S))
    if args.trace:
        passes = max(2, passes // 2)
    hargs = ["--data", data, "--work", run_dir,
             "--out", os.path.join(run_dir, "out.json"),
             "--passes", str(passes),
             "--trace", str(args.trace), "--seed", str(args.seed), "--cpus", str(args.cpus),
             "--warm", str(WARM_PASSES), "--ops", ",".join(ops)]
    gen.tables(data, args.seed, SF)
    if "ingest_store" in ops:
        feed = os.path.join(data, "feed")
        gen.feed(feed, args.seed, FEED_EVENTS, FEED_FILES)
        hargs += ["--feed", feed]
    gen_s = time.monotonic() - t0

    la0, jvms0, steal0 = load()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed heap size: a heap that G1 shrinks after the explicit GCs
    # between passes made some runs' timed passes twice as costly in GC
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness"] + hargs)
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(10, deadline - time.monotonic() - 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    la1, jvms1, steal1 = load()
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    out = json.load(open(os.path.join(run_dir, "out.json")))
    samples = out["samples"]

    # Cross-check every catalog op's pass-0 output against DuckDB; a
    # mismatch fails all its executions (each one equals pass 0's output).
    t_h = time.monotonic()
    wrong = oracle_failures(data, os.path.join(run_dir, "results"))
    oracle_s = time.monotonic() - t_h
    for s in samples:
        if s["op"] in wrong and s["err"] is None:
            s["err"] = wrong[s["op"]]

    timed = stats.timing(samples, "timed")
    if timed["samples"] == 0:
        raise SystemExit(f"perfbench: every op failed: {timed['failed_ops']}")
    first = [s for s in samples if s["phase"] in ("cold", "warm")]
    setup_s = out["session_s"] + sum(s["wall"] for s in first)
    e2e = {"setup_s": setup_s, "pass_s": timed["pass_s"], "op_geomean_s": timed["op_geomean_s"],
           "op_p50_s": timed["op_p50_s"], "op_p90_s": timed["op_p90_s"], "cpu_s": timed["cpu_s"],
           "rows_per_s": timed["rows_per_s"], "heap_retained_mb": out["heap_retained_mb"]}

    diag = {
        "workload": args.workload, "seed": args.seed, "cpus": out["cpus"],
        "build_s": round(build_s, 3),
        "input_gen_s": round(gen_s, 3), "session_s": out["session_s"],
        "harness_s": round(t_h - t0 - gen_s, 3), "oracle_s": round(oracle_s, 3),
        "check_s": round(out["check_s"], 3), "probe_s": round(out["probe_s"], 3),
        "passes": {ph: len({s["pass"] for s in samples if s["phase"] == ph})
                   for ph in ("cold", "warm", "timed", "traced")},
        "samples": timed["samples"],
        "pass_walls": [round(sum(s["wall"] for s in samples if s["pass"] == p), 3)
                       for p in sorted({s["pass"] for s in samples})],
        "quartiles": {"pass_s": timed["pass_s_quartiles"], "cpu_s": timed["cpu_s_quartiles"],
                      "rows_per_s": timed["rows_per_s_quartiles"],
                      "op_s": timed["op_quartiles"]},
        "op_median_s": timed["op_median_s"],
        "failed_ops": timed["failed_ops"],
        "steady": out["timed_codegen_compiles"] == 0,
        "timed_codegen_compiles": out["timed_codegen_compiles"],
        "timed_jit_s": out["timed_jit_s"],
        "loadavg": [la0, la1], "other_jvms": max(jvms0, jvms1),
        "stolen_cpu_s": round(steal1 - steal0, 2),
    }
    if out.get("probes"):
        diag["known_defects"] = out["probes"]
    attempted, failed = timed["attempted"], timed["failed"]
    if args.trace:
        traced = stats.timing(samples, "traced")
        attempted += traced["attempted"]
        failed += traced["failed"]
        ops, total = stats.layers(out["traces"], out["triggers"], timed["pass_s"],
                                  traced.get("pass_s", float("nan")))
        missing = stats.uncovered(ops)
        if missing:
            raise SystemExit(f"perfbench: trace saw no job or no plan for {missing}")
        for op, m in sorted(ops.items()):
            print(json.dumps({"op": op, "per_layer": {k: round(v, 6) for k, v in m.items()}}))
        metrics = {k: {"value": total.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        diag["trace_overhead"] = total["trace.overhead"]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    diag["run_s"] = round(time.monotonic() - started, 3)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
