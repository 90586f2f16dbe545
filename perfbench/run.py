#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads over the program's
user-facing paths, each run in one JVM at local[<cores>].

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. W is one of:

  queries  analytics queries from the per-module registries over seeded
           star-schema and corpus tables (Spark relational operators
           and graft's corpus kernels)
  telecom  the reference's two CDR consumers: the medallion batch path
           (bronze and silver builds, then Pipeline.mergeParquet
           increments into silver_calls) and an open-loop feed into
           FraudDetection.detectStream

The first run builds the program and the harness (perfbench/build.py).
Each run works in its own fresh directory under .bench_build/runs and
checks the program's outputs outside the timers. The last stdout line
is one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones (setup_s, pass_s,
p50_s); with --trace 1 the harness also registers its tracing
listeners for the timed window and the metrics are the per-layer ones.
The full record (raw samples, plan fingerprints, counters, spans) is
kept in .bench_build/results. Exit status is non-zero when an output
check fails or the run cannot complete.

End-to-end metrics per workload (unit: seconds):

  metric   queries                       telecom
  setup_s  median of 3 session starts    median of 3 session starts
           + the check pass (cold) and   + the cold bronze and silver
           one warm-up pass              builds + one warm-up merge
                                         + the stream warm-up
  pass_s   one pass over the queries:    the 10 timed incremental
           sum of per-query medians      merges
  p50_s    median of the per-query       median merge
           medians

The fraud stream's alert latency (median and 95th percentile per event,
from scheduled send time to the end of the micro-batch that processed
it) is printed with the other named figures and is a per-layer metric,
but it is not gated: over 10 seeds on a shared 4-vCPU host its median
spread by 0.13 of itself from run to run, over half the largest bound
the benchmark may set, so a bound on it would mostly gate noise. No 95th
percentile is gated either: four queries or ten merges cannot
support one.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("queries", "telecom")
E2E = ("setup_s", "pass_s", "p50_s")
HARNESS_TIMEOUT_S = 165
HEAP = "3g"
RESULTS = build.BUILD_DIR / "results"
ORACLE_SCRIPT = Path("scripts/oracle_check.py")
QUERY_MODULES = ("Relational", "Temporal", "DedupOps", "SimilarityOps")
SPAN_KINDS = ("workload", "setup", "warmup", "query", "compose", "execute", "plan",
              "job", "stage", "pipeline", "table", "merge", "stream", "batch", "phase")
# the options the project's build gives every forked JVM (build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_OPTS = ([f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            # a fixed heap: no run spends its window growing it
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            # the JIT stays at its first tier: under the default tiered
            # JIT, per-query times kept falling through all seven passes
            # of a 40 s window (q03 2.0 s -> 0.9 s), so a short run
            # measured how far C2 had got rather than the program; at
            # C1 only they are flat from the first timed pass
            ["-XX:TieredStopAtLevel=1"])
# a micro-batch-feeding generator that runs this late, at worst, is
# no longer keeping its schedule
MAX_GENERATOR_LATE_MS = 100.0
RAMP_BATCHES = 2


def fail(msg, log=None):
    print(f"perfbench: {msg}")
    if log is not None and log.is_file():
        print("---- harness log (tail) ----")
        print("\n".join(log.read_text(errors="replace").splitlines()[-40:]))
    sys.exit(1)


def run_harness(args, run_dir, classes):
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cp = os.pathsep.join([str(classes.resolve()), build.spark_jars()])
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={tmp.resolve()}", f"-Dspark.local.dir={tmp.resolve()}",
            "-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", "record.json"])
    log = run_dir / "harness.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                  timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {HARNESS_TIMEOUT_S} s", log)
    rec_path = run_dir / "record.json"
    if not rec_path.is_file():
        fail(f"harness wrote no record (exit code {proc.returncode})", log)
    rec = json.loads(rec_path.read_text())
    if rec.get("error"):
        print(rec["error"])
        fail("harness failed", log)
    return rec


def oracle_verdicts(run_dir, rec):
    """Compare each query's dumped result with its DuckDB oracle SQL."""
    names = list(rec["attribution"])
    ran = {c["name"][len("run "):]: c["ok"] for c in rec["checks"] if c["name"].startswith("run ")}
    res = subprocess.run([sys.executable, str(ORACLE_SCRIPT), str(run_dir / "tables"),
                          str(run_dir / "check")], stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=120)
    return stats.query_verdicts(names, stats.parse_oracle_report(res.stdout), ran)


def rows_out(run_dir, name):
    import pyarrow.parquet as pq
    files = sorted((run_dir / "check" / name).glob("*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files) if files else None


def end_to_end(rec):
    """The end-to-end values, plus the workload's own names for them
    and the number of samples the median rests on."""
    w = rec["workload"]
    setup = stats.median(rec["setup_cycles_s"]) + rec["warmup_s"]
    ops = rec["ops"]
    if w == "queries":
        walls = {}
        for op in ops:
            if op["kind"] == "query" and op["ok"]:
                walls.setdefault(op["name"], []).append(op["wall_s"])
        per_query = [stats.median(v) for v in walls.values()]
        vals = (setup, sum(per_query), stats.median(per_query))
        named = {"suite_s": vals[1], "query_p50_s": vals[2]}
        samples = len(per_query)
    else:
        # the cold bronze and silver builds and the warm-up merge bring
        # the medallion up from nothing: they are set-up for the timed
        # merges
        build = [op["wall_s"] for op in ops if op["kind"] == "build"]
        warm = [op["wall_s"] for op in ops if op["kind"] == "warmup_merge"]
        merges = [op["wall_s"] for op in ops if op["kind"] == "merge"]
        lat, _ = stats.event_latencies(rec["stream"], rec["feed_start_ms"])
        setup += sum(build) + sum(warm)
        vals = (setup, sum(merges), stats.median(merges))
        named = {"bronze_silver_s": sum(build), "merge_incr_s": vals[2],
                 "alert_latency_p50_s": stats.median(lat),
                 "alert_latency_p95_s": stats.percentile(lat, 95)}
        samples = len(merges)
    return dict(zip(E2E, vals)), named, samples


def stream_validity(rec):
    """Open-loop hygiene: the generator kept its schedule, every window
    event was processed and the backlog did not grow."""
    s = rec["stream"]
    start = rec["feed_start_ms"]
    late = stats.generator_lateness_ms(s, start)
    _, lost = stats.event_latencies(s, start)
    # the feed starts on an empty queue, so the first window batches
    # are smaller than the steady state: judge growth after them
    series = [(t, b) for t, b in stats.backlog_series(s) if t >= start][RAMP_BATCHES:]
    grew = stats.backlog_grew(series, s["rate"])
    problems = []
    if late and max(late) > MAX_GENERATOR_LATE_MS:
        problems.append(f"generator ran {max(late):.0f} ms late")
    if lost:
        problems.append(f"{lost} window events never processed")
    if grew:
        problems.append("backlog grew during the window")
    return problems, late, series


def per_layer(rec, e2e):
    w = rec["workload"]
    window = rec["spark_window"]
    tot = {}
    for counters in window.values():
        for k, v in counters.items():
            tot[k] = tot.get(k, 0) + v
    jobs = [tuple(i) for i in rec["job_intervals"]]
    wall = sum(hi - lo for lo, hi in rec["windows"]) / 1000.0
    busy = sum(stats.union_length(jobs, lo, hi) for lo, hi in rec["windows"]) / 1000.0
    g = tot.get
    m = {
        "spark.jobs": g("jobs", 0), "spark.stages": g("stages", 0), "spark.tasks": g("tasks", 0),
        "spark.task_run_s": g("task_run_ms", 0) / 1e3, "spark.task_cpu_s": g("task_cpu_ns", 0) / 1e9,
        "spark.gc_s": g("gc_ms", 0) / 1e3, "spark.deser_s": g("deser_ms", 0) / 1e3,
        "spark.sched_delay_s": g("sched_delay_ms", 0) / 1e3,
        "spark.fetch_wait_s": g("fetch_wait_ms", 0) / 1e3,
        "spark.input_bytes": g("input_bytes", 0), "spark.shuffle_read_bytes": g("shuffle_read_bytes", 0),
        "spark.shuffle_write_bytes": g("shuffle_write_bytes", 0),
        "spark.output_bytes": g("output_bytes", 0), "spark.spill_bytes": g("spill_bytes", 0),
        "spark.failed_tasks": g("failed_tasks", 0),
        "spark.core_util": g("task_run_ms", 0) / 1e3 / (wall * rec["cores"]),
        "spark.driver_gap_s": wall - busy,
        "Tables.scan_tasks": g("scan_tasks", 0), "Tables.scan_s": g("scan_run_ms", 0) / 1e3,
    }
    ops = rec["ops"]
    for mod in QUERY_MODULES:
        m[f"queries.{mod}_s"] = sum(o["wall_s"] for o in ops
                                    if o["kind"] == "query" and o.get("module") == mod)
    m["queries.compose_s"] = sum(o["compose_s"] for o in ops if o["kind"] == "query")
    m["plans.plan_s"] = sum(o["plan_ms"] for o in ops if o["kind"] == "query") / 1e3
    medallion = rec.get("medallion", {})
    for k in ("bronze_s", "silver_s", "gate_s", "rows_written"):
        m[f"telecom.{k}"] = medallion.get(k, 0)
    merges = [o for o in ops if o["kind"] == "merge"]
    inc_rows = sum(o["increment_rows"] for o in merges)
    rewritten = sum(window.get(o["name"], {}).get("output_records", 0) for o in merges)
    m["telecom.merge_rewrite_ratio"] = rewritten / inc_rows if inc_rows else 0.0
    m["telecom.merge_s"] = stats.median([o["wall_s"] for o in merges]) if merges else 0.0
    m.update(stream_layer(rec) if w == "telecom" else {
        k: 0 for k in STREAM_METRICS})
    selfs = stats.self_times(rec["spans"])
    for kind in SPAN_KINDS:
        m[f"self.{kind}_s"] = selfs.get(kind, 0.0)
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    return m


STREAM_METRICS = ("streaming.batches", "streaming.events_per_batch", "streaming.add_batch_ms",
                  "streaming.query_planning_ms", "streaming.wal_commit_ms",
                  "streaming.state_commit_ms", "streaming.state_rows", "streaming.state_bytes",
                  "streaming.state_partitions", "streaming.backlog_events",
                  "streaming.generator_late_ms", "streaming.alert_p50_s",
                  "streaming.alert_p95_s")


def stream_layer(rec):
    start = rec["feed_start_ms"]
    batches = [b for b in rec["stream"]["batches"] if b["startMs"] >= start]
    _, late, series = stream_validity(rec)
    lat, _ = stats.event_latencies(rec["stream"], start)

    def med(key):
        return stats.median([b["phasesMs"].get(key, 0) for b in batches])
    last = batches[-1]
    return {
        "streaming.batches": len(batches),
        "streaming.events_per_batch": stats.median([b["inputRows"] for b in batches]),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.state_commit_ms": stats.median([b["stateCommitMs"] for b in batches]),
        "streaming.state_rows": last["stateRows"],
        "streaming.state_bytes": last["stateBytes"],
        "streaming.state_partitions": last["statePartitions"],
        "streaming.backlog_events": stats.median([b for _, b in series]) if series else 0,
        "streaming.generator_late_ms": max(late) if late else 0.0,
        "streaming.alert_p50_s": stats.median(lat),
        "streaming.alert_p95_s": stats.percentile(lat, 95),
    }


UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "core_util": "ratio",
         "merge_rewrite_ratio": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def git_commit():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return res.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not ORACLE_SCRIPT.is_file():
        fail(f"{ORACLE_SCRIPT} not found: run from the repository root")
    classes = build.build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = build.BUILD_DIR / "runs" / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    if args.workload == "queries":
        tables.write(run_dir / "tables", args.seed)
    rec = run_harness(args, run_dir, classes)

    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    ops = rec["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    if args.workload == "queries":
        verdicts = oracle_verdicts(run_dir, rec)
        for name, v in verdicts.items():
            a = rec["attribution"][name]
            a.update(oracle=v["oracle"], rows_out=rows_out(run_dir, name),
                     plan_fingerprint=stats.fingerprint(a.get("plan_tree")))
        bad = [n for n, v in verdicts.items() if not v["ok"]]
        attempted += len(verdicts)
        failed += len(bad)
        failed_checks += [{"name": f"oracle {n}", "ok": False, "detail": verdicts[n]}
                          for n in bad]
    else:
        attempted += len(rec["checks"])
        failed += len(failed_checks)
    if args.workload == "telecom":
        problems, _, _ = stream_validity(rec)
        attempted += len(rec["stream"]["batches"])
        if problems:
            failed += 1
            failed_checks.append({"name": "open-loop run valid", "ok": False, "detail": problems})

    e2e, named, samples = end_to_end(rec)
    named["failed_frac"] = failed / attempted
    metrics = per_layer(rec, e2e) if args.trace else e2e
    correct = failed == 0
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "git_commit": git_commit(),
        "source_sha256": (classes / ".stamp").read_text(),
        "bronze_seed": "fixed by telecom.Generators" if args.workload == "telecom" else None,
        "cores": rec["cores"], "heap_mb": rec["heap_mb"], "spark": rec["spark_version"],
        "java": rec["java_version"], "settings": rec["settings"],
        "setup_cycles_s": rec["setup_cycles_s"], "warmup_s": rec["warmup_s"],
        "end_to_end": e2e, "named": named, "samples": samples, "metrics": metrics,
        "checks": rec["checks"] + [c for c in failed_checks if c not in rec["checks"]],
        "attribution": rec.get("attribution"), "ops": ops,
    }
    RESULTS.mkdir(parents=True, exist_ok=True)
    (RESULTS / f"{tag}.json").write_text(json.dumps(result, indent=1))
    if args.trace:
        (RESULTS / f"{tag}.spans.json").write_text(json.dumps(rec["spans"]))

    print(json.dumps({"workload": args.workload, "seed": args.seed, "named": named,
                      "samples": samples, "record": str(RESULTS / f"{tag}.json")}))
    for c in failed_checks:
        print(f"check failed: {c['name']}: {json.dumps(c['detail'])}")
    if args.trace:
        untraced = RESULTS / f"{args.workload}-s{args.seed}-t0.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())["end_to_end"]
            print(json.dumps({"tracing_overhead": {
                k: {"traced": e2e[k], "untraced": base[k], "ratio": e2e[k] / base[k]}
                for k in E2E}}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
