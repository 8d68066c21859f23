#!/usr/bin/env python3
"""End-to-end benchmark of the logistics pipeline: landing files ->
`Pipeline.run` -> `Pipeline.serve` -> every dashboard view read over Spark
Connect. Run from the repository root:

    python3 perfbench/run.py --workload hourly_incremental --seed 1 \
        --seconds 10 --trace 0

Builds the program from source on first use (see build.py), runs one JVM for
the workload and prints each metric by name with its unit. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer ones with
`--trace 1`). A traced run also writes its spans and a per-layer table under
`<build dir>/trace/`. Exits non-zero when any correctness check fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["hourly_incremental", "backfill_full"]
# The JVM must be done well inside the 180 s a run may take.
JVM_TIMEOUT_S = 165
JVM_OPTS = ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def end_to_end(doc):
    """The end-to-end metrics of an untraced run, plus report lines."""
    cycles = doc["cycles"]
    queries = [ms for c in cycles for ms in c["query_ms"].values()]
    m = {
        "setup_s": (doc["setup_s"], "s"),
        "run_s": (statistics.median(c["run_s"] for c in cycles), "s"),
        "freshness_s": (statistics.median(c["freshness_s"] for c in cycles), "s"),
        "dash_qps": (statistics.median(len(c["query_ms"]) / c["refresh_s"]
                                       for c in cycles), "1/s"),
        "cycle_cpu_s": (statistics.median(c["cycle_cpu_s"] for c in cycles), "s"),
        "heap_mb": (doc["heap_mb"], "MB"),
    }
    # Eight reads of eight different views per cycle: their median flips
    # between views from run to run, so it is reported but not gated.
    t = stats.tail(queries)
    lines = [f"timed cycles: {len(cycles)}; dashboard queries: {len(queries)}",
             f"dash_p50_ms = {statistics.median(queries):.1f} ms (not gated)",
             "dash tail: " + (f"p{t[0]:.1f} = {t[1]:.1f} ms" if t else
                              f"no percentile has 10 of {len(queries)} samples beyond it")]
    return m, lines


def per_layer(doc):
    """The per-layer metrics of a traced run, plus the table's lines."""
    rows = stats.span_counters(doc["trace"]["spans"], doc["trace"]["jobs"])
    rows["pipeline"] = doc["pipeline"]
    m = {}
    for name, unit, _ in stats.layer_catalogue():
        span, counter = name.rsplit(".", 1)
        m[name] = (float(rows[span][counter]), unit)
    cols = [c for c, _, _ in stats.SPAN_COUNTERS]
    lines = [f"{'span':<36}" + "".join(f"{c:>11}" for c in cols)]
    for s in stats.STAGES + stats.SERVE + stats.QUERIES:
        lines.append(f"{s:<36}" + "".join(f"{rows[s][c]:>11.3f}" for c in cols))
    lines += [f"{n} = {m[n][0]:.4f} {u}" for n, u, _ in stats.EXTRA_COUNTERS]
    slowest = max(stats.STAGES + stats.SERVE, key=lambda s: rows[s]["self_s"])
    lines.append(f"slowest layer by self time: {slowest} "
                 f"({rows[slowest]['self_s']:.3f} s)")
    return m, lines


def run_jvm(classes, args, run_dir, deadline):
    result = run_dir / "result.json"
    # every scratch file the JVM and Spark write stays inside the run dir
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-cp",
           os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
           "perfbench.PipelineBenchMain", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(run_dir / "data"),
           "--out", str(result)]
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "benchmark JVM did not finish in time"
        finally:
            shutil.rmtree(run_dir / "data", ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
    if not result.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        return None, f"benchmark JVM wrote no result (exit {p.returncode}):\n{tail}"
    return json.loads(result.read_text()), None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    root = Path.cwd()
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    build_dir = build_dir if build_dir.is_absolute() else root / build_dir
    build_dir.mkdir(parents=True, exist_ok=True)
    try:
        classes = build.build(root, build_dir)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + JVM_TIMEOUT_S

    run_dir = build_dir / "runs" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    doc, err = run_jvm(classes, args, run_dir, deadline)
    if doc is None:
        print(err, file=sys.stderr)
        return 3

    s = doc["settings"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}; "
          f"nproc {s['nproc']}, clients {s['clients']}, "
          f"loadavg1 {s['loadavg1']}, conf {json.dumps(s['conf'])}")
    for e in doc["errors"]:
        print(f"FAILED: {e}")
    correct = doc["failed"] == 0
    metrics = {}
    if correct:
        if args.trace:
            metrics, lines = per_layer(doc)
            trace_dir = build_dir / "trace"
            trace_dir.mkdir(exist_ok=True)
            stem = trace_dir / f"{args.workload}-seed{args.seed}"
            Path(f"{stem}.spans.json").write_text(json.dumps(doc["trace"]))
            Path(f"{stem}.layers.txt").write_text("\n".join(lines) + "\n")
        else:
            metrics, lines = end_to_end(doc)
            lines += [f"{n} = {v:.4f} {u}" for n, (v, u) in metrics.items()]
        print("\n".join(lines))
    print(f"failed_frac = {doc['failed'] / doc['attempted']:.4f} ratio "
          f"({doc['failed']} of {doc['attempted']})")
    print(json.dumps({
        "correct": correct, "attempted": doc["attempted"],
        "failed": doc["failed"],
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
