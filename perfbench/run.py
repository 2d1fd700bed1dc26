"""Repository benchmark: one seeded workload per run, outputs checked
against the oracle, end-to-end metrics (``--trace 0``) or per-layer
metrics (``--trace 1``) printed as the last line of stdout.

    python3 perfbench/run.py --workload backfill_text --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10   # every workload, both modes

Run from the repository root. Everything the run writes (corpus cache,
outputs, Spark scratch, event logs, result files) stays under
``.perfbench_work/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

T_IMPORT = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

# Settings both sides of a comparison must share; recorded in every result.
DRIVER_MEM = "2g"
NPROC = len(os.sched_getaffinity(0))

END_TO_END = [
    ("clips_per_s", "1/s"),
    ("request_s_p50", "s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]
RULES = (
    "codec_invalid", "decode_failed", "sr_mismatch", "duration_mismatch",
    "audio_silence", "audio_clipping", "audio_dropout", "too_short",
    "too_long", "repetition", "perplexity_high", "lang_not_allowed",
    "langid_low_conf",
)
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.first_job_s", "s"),
    ("session.gc_share", "ratio"),
    ("session.spill_bytes", "bytes"),
    ("session.task_retries", "count"),
    ("operators.fused_stage.us_per_clip", "us"),
    ("operators.fused_stage.python_bytes_in_per_clip", "bytes"),
    ("operators.fused_stage.python_bytes_out_per_clip", "bytes"),
    ("operators.fused_stage.arrow_batches", "count"),
    ("functions.audio.decode_us_per_clip", "us"),
    ("functions.audio.decode_fail_ratio", "ratio"),
    ("functions.textscore.us_per_row", "us"),
    ("functions.scrub.us_per_row", "us"),
    ("functions.scrub.edits", "count"),
    ("operators.cascade.kept", "count"),
    *[(f"operators.cascade.dropped.{r}", "count") for r in RULES],
    ("plans.pipeline.plan_s", "s"),
    ("plans.pipeline.filter_s", "s"),
    ("plans.pipeline.scaling_eff_1to4", "ratio"),
    ("operators.partitioning.shuffle_write_bytes_per_clip", "bytes"),
    ("operators.partitioning.task_skew", "ratio"),
    ("plans.runner.wave_s_p50", "s"),
    ("plans.runner.wave_s_tail", "s"),
    ("plans.runner.spark_jobs_per_wave", "count"),
    ("plans.runner.outside_pipeline_share", "ratio"),
    ("sources.clips.write_s", "s"),
    ("sources.clips.files_written", "count"),
    ("sources.clips.input_bytes_per_clip", "bytes"),
    ("sources.lineage.append_s", "s"),
    ("sources.checkpoint.mark_done_s", "s"),
    ("sources.checkpoint.resume_redo_clips", "count"),
    ("sources.snapshot_table.merge_s_p50", "s"),
    ("sources.snapshot_table.compact_s", "s"),
    ("sources.snapshot_table.compactions", "count"),
    ("sources.snapshot_table.read_manifest_s", "s"),
    ("sources.snapshot_table.pending_deltas_max", "count"),
    ("sources.snapshot_table.buckets_per_lookup", "count"),
    ("sources.snapshot_table.bytes_written_per_clip", "bytes"),
    ("sources.snapshot_table.space_amp", "ratio"),
    ("streaming.upsert_stream.overhead_s", "s"),
    ("plans.curate.funnel_s", "s"),
    ("plans.curate.export_s", "s"),
    ("plans.export.shard_files", "count"),
    ("trace.clips_per_s", "1/s"),
]
# BENCHMARK.json names these two. A cold Spark start costs 20-40 s per run
# on a 4-core host whose speed swings about 2x within minutes, and the
# regression gate's repeated runs of more workloads do not fit its time
# budget; the other two stay runnable by name and under --all.
WORKLOAD_NAMES = ("curate_audio", "ingest_upsert")
ALL_WORKLOADS = ("backfill_text", "timebox_waves") + WORKLOAD_NAMES


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, StopIteration, IndexError, ValueError):
        return T_IMPORT


def configure_env(trace: bool) -> None:
    """Keep every file the JVM, Spark and the Python workers write inside
    the work dir, and pin the session settings that results depend on."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    # the launcher JVM (spark-class) and the driver JVM both: no
    # hsperfdata files or extracted native libraries outside the checkout
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = (
            os.environ.get(var, "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip()
    if trace:
        import tracing as tr_mod

        conf = os.path.join(WORK, "trace-conf")
        logs = os.path.join(WORK, "eventlog")
        shutil.rmtree(logs, ignore_errors=True)
        tr_mod.write_trace_conf(conf, logs)
        os.environ["SPARK_CONF_DIR"] = conf


def process_tree(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def jvm_tree_peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus every process below it
    (the Python daemon and its workers)."""
    total_kb = 0
    for pid in process_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(
                    int(l.split()[1]) for l in fh if l.startswith("VmHWM:")
                )
        except (OSError, StopIteration):
            continue
    return total_kb / 1024.0


def host_record() -> dict:
    import pyarrow
    import pyspark

    from bench_common import host_probe

    return {
        "host_probe": host_probe(),
        "nproc": NPROC,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop the session, shut the gateway JVM down and wait for it."""
    spark.stop()
    shutdown_gateway()


def shutdown_gateway() -> None:
    """Shut down the py4j gateway JVM, if one runs, and wait for it; its
    Python daemon and workers exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        tree = process_tree(proc.pid) if proc is not None else []
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the Python daemon and workers exit once the JVM has gone
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
            time.sleep(0.1)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_one(args) -> dict:
    t_proc = process_start_epoch()
    trace = bool(args.trace)
    configure_env(trace)
    import tracing as tr_mod

    from stats import timing_summary
    from workloads import WORKLOADS, Checker

    from wallaby2caom2_spark import session
    from wallaby2caom2_spark.config import DEFAULT_CONFIG

    host_before = host_record()
    wl = WORKLOADS[args.workload](
        os.path.join(WORK, "cache"), os.path.join(WORK, "run"), args.seed
    )
    gen_s = wl.prepare()

    tracer = tr_mod.Tracer(trace)
    tr_mod.patch_layers(tracer)
    chk = Checker()
    with tracer.span("session.get_spark"):
        t0 = time.time()
        spark = session.get_spark(cpus=NPROC)
        start_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc.pid
    # The first warm-up operation is the workload's own (see each
    # ``warmup``): it pays the first-job, Python-worker and JIT costs that
    # the timed operations then find paid.
    with tracer.span("session.first_job"):
        t0 = time.time()
        chk.op(wl.warmup, spark)
        t_setup_done = time.time()
        first_job_s = t_setup_done - t0
    setup_s = (t_setup_done - t_proc) - gen_s

    # Closed loop for --seconds: start another operation only while the
    # median operation so far still fits in the window (at least one runs).
    reps, walls = [], []
    t_loop0 = time.time()
    while True:
        t0 = time.time()
        with tracer.span("rep", index=len(reps)):
            reps.append(wl.rep(spark, chk, len(reps)))
        walls.append(time.time() - t0)
        if getattr(wl, "exhausted", lambda: False)():
            break
        if time.time() - t_loop0 + statistics.median(walls) > args.seconds:
            break
    t_loop1 = time.time()
    if hasattr(wl, "final_check"):
        wl.final_check(spark, chk)
    peak_rss = jvm_tree_peak_rss_mb(jvm)

    done = [r for r in reps if r["clips"]]
    samples = getattr(wl, "samples", None)
    if samples is not None:  # ingest: commits are the ops, lookups the requests
        request = samples["lookup"]
        detail = {
            "commit_s": timing_summary(samples["commit"]),
            "lookup_s": timing_summary(samples["lookup"]),
            "scan_s": timing_summary(samples["scan"]),
        }
    else:
        request = [r["op_s"] for r in done]
        detail = {}
    # throughput of the median operation: one slow operation on a noisy
    # host moves a median less than a total
    per_op = timing_summary([r["op_s"] / r["clips"] for r in done])["p50"]
    req = timing_summary(request)
    e2e = {
        "clips_per_s": 1.0 / per_op if per_op else 0.0,
        "request_s_p50": req["p50"],
        "peak_rss_mb": peak_rss,
        "setup_s": setup_s,
    }
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(trace),
        "settings": {
            "master": f"local[{NPROC}]",
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "spark.local.dir": os.environ["SPARK_GRAFT_LOCAL_DIR"],
            "arrow_batch_rows": DEFAULT_CONFIG.arrow_max_records_per_batch,
            "loop": "closed, 1 client",
        },
        "reps": len(reps),
        "rep_s": [r["op_s"] for r in reps],
        "request_s": req,
        **detail,
        "wrong_rows": chk.wrong_rows,
        "failed_ops_ratio": chk.failed / chk.attempted if chk.attempted else 0.0,
        "keep_f1_min": chk.f1_min,
        "gen_s": gen_s,
        "notes": chk.notes[:20],
        "end_to_end": e2e,
        "host_before": host_before,
    }

    if trace:
        from layers import per_layer

        result["per_layer"], result["na"], result["scaling_baseline"] = per_layer(
            spark, wl, tracer, reps, (t_loop0, t_loop1),
            {"start_s": start_s, "first_job_s": first_job_s},
            stop_spark, WORK, NPROC, e2e["clips_per_s"],
        )
    else:
        stop_spark(spark)
    tracer.close()
    result["host_after"] = host_record()

    correct = chk.wrong_rows == 0 and chk.failed == 0 and chk.f1_min >= 0.99
    out_dir = os.path.join(WORK, "results", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"seed{args.seed}-trace{int(trace)}")
    if trace:
        tracer.write(stem + "-spans.jsonl")
        untraced = stem.replace("trace1", "trace0") + ".json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["clips_per_s"]
            result["tracing_overhead"] = {
                "untraced_clips_per_s": base,
                "traced_clips_per_s": e2e["clips_per_s"],
                "slowdown": 1.0 - e2e["clips_per_s"] / base if base else None,
            }
        result["self_time"] = tracer.self_time_table()
        write_layer_table(stem + "-layers.md", result)
    result["correct"] = correct
    with open(stem + ".json", "w") as fh:
        json.dump(result, fh, indent=1, default=str)

    names = PER_LAYER if trace else END_TO_END
    values = result["per_layer"] if trace else e2e
    print_report(result, trace)
    return {
        "correct": correct,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }


def write_layer_table(path: str, r: dict) -> None:
    """The traced run's per-layer table as markdown."""
    lines = [
        f"# {r['workload']} seed {r['seed']}: per-layer metrics",
        "",
        "| metric | value | unit | note |",
        "|---|---|---|---|",
    ]
    for name, unit in PER_LAYER:
        lines.append(f"| `{name}` | {_fmt(r['per_layer'][name])} | {unit} | {r['na'].get(name, '')} |")
    lines.append("")
    for key in ("scaling_baseline", "tracing_overhead"):
        if r.get(key):
            lines.append(f"{key}: `{json.dumps(r[key])}`")
    lines.append("")
    lines.append("| span | count | total_s | self_s |")
    lines.append("|---|---|---|---|")
    for name, row in sorted(r["self_time"].items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"| `{name}` | {row['count']} | {row['total_s']:.4f} | {row['self_s']:.4f} |")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def _timing_line(w: str, name: str, s: dict) -> str:
    if s["tail"] is None:
        return f"{w} {name}_tail n/a s ({s['n']} samples < 20)"
    return f"{w} {name}_tail {s['tail']:.6g} s (p{s['tail_pct']:g} of {s['n']})"


def print_report(r: dict, trace: bool) -> None:
    w = r["workload"]
    print(f"# {w} seed={r['seed']} reps={r['reps']} trace={r['trace']}")
    for name, unit in END_TO_END:
        print(f"{w} {name} {_fmt(r['end_to_end'][name])} {unit}")
    print(_timing_line(w, "request_s", r["request_s"]))
    for op in ("commit_s", "lookup_s", "scan_s"):
        if op in r:
            print(f"{w} {op}_p50 {_fmt(r[op]['p50'])} s (n={r[op]['n']})")
            if op != "scan_s":
                print(_timing_line(w, op, r[op]))
    print(f"{w} wrong_rows {r['wrong_rows']} count")
    print(f"{w} failed_ops_ratio {r['failed_ops_ratio']:.6g} ratio")
    print(f"{w} gen_s {r['gen_s']:.6g} s (load generator, not in setup_s)")
    for note in r["notes"]:
        print(f"{w} note: {note}")
    if trace:
        for name, unit in PER_LAYER:
            na = r["na"].get(name)
            print(f"{w} {name} {_fmt(r['per_layer'][name])} {unit}"
                  + (f"  (note: {na})" if na else ""))
        for key in ("scaling_baseline", "tracing_overhead"):
            if r.get(key):
                print(f"{w} {key} {json.dumps(r[key])}")


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    rc = 0
    for w in ALL_WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            sys.stdout.write(p.stdout)
            rc = rc or p.returncode
    return rc


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=ALL_WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--all", action="store_true")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "wallaby2caom2_spark")):
        print("wallaby2caom2_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.all:
        return run_all(args)
    if args.workload is None:
        p.error("--workload is required without --all")
    try:
        out = run_one(args)
    finally:
        shutdown_gateway()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
