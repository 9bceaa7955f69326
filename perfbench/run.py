"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload c360_daily --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run sets up once: it starts the
JVM and the session, generates the inputs and, for
``index_maintenance``, builds the standing indexes; that time is
``setup_s``. It then runs the workload's closed loop: the first step is
the cold batch, the rest are warm batches until ``--seconds`` have
passed and at least ``MIN_STEPS`` steps ran. Every result is
checked; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
alternates traced and untraced warm steps and reports the per-layer
metrics. A full artifact (inputs' content hashes, every step, every
span) goes to ``.perfbench_out/``.

All scratch state (warehouse, streaming checkpoints, Spark local dirs,
sinks) lives in ``.perfbench_run/`` under the checkout and is wiped at
the start and end of every run.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "customer_360_etl_pipeline_on_azure_cloud_spark"
MIN_STEPS = 2  # the cold step and at least one warm one
# a traced run alternates traced and untraced warm steps, so it needs one
# of each for the tracing overhead
MIN_STEPS_TRACED = 3
MAX_STEPS = 60
DRIVER_MEMORY = "2g"

# The end-to-end metrics every workload reports, and the name each one
# has in that workload's own terms (printed beside the JSON result).
E2E_UNITS = {"setup_s": "s", "cold_batch_s": "s", "batch_s": "s",
             "quality": "frac"}
NAMES = {
    "c360_daily": {"cold_batch_s": "c360.cold_batch_s",
                   "batch_s": "c360.batch_s", "quality": "c360.match_share"},
    "corpus_dedup": {"cold_batch_s": "dedup.cold_batch_s",
                     "batch_s": "dedup.batch_s", "quality": "dedup.pair_recall"},
    "index_maintenance": {"cold_batch_s": "index.cold_day_s",
                          "batch_s": "index.day_s",
                          "quality": "index.recall_at_k"},
}

# workload notes (``Workload.note``) and the per-layer metric each feeds
EXTRA_NAMES = {"candidate_yield": "operators.dedup.candidate_yield",
               "files_per_bucket": "index.files_per_bucket",
               "ingest_s": "index.ingest_s", "probe_s": "index.probe_s",
               "compact_s": "index.compact_s",
               "unseen_append_rows": "index.unseen_append_rows"}

SPANS = (
    "sources.read_json_daily", "sources.read_parquet_daily",
    "sources.read_csv_dim", "plans.interaction_features",
    "plans.search_trends", "plans.merge_feature_tables", "sinks.write_parquet",
    "operators.dedup.minhash_lsh_pairs", "operators.dedup.exact_verify_pairs",
    "operators.graph.dedup_survivors", "streaming.run_foreach_batch",
    "operators.dedup.write_minhash_index_append",
    "operators.similarity.append_ivf_index",
    "operators.similarity.cosine_topk_ivf_indexed",
    "operators.dedup.minhash_lsh_join", "operators.dedup.compact_minhash_index",
    "operators.similarity.compact_ivf_index",
)
SPAN_COUNTERS = {"jobs": "count", "tasks": "count",
                 "shuffle_write_bytes": "B", "spill_bytes": "B",
                 "executor_busy_s": "s"}
LAYERS = ("sources", "plans", "sinks", "operators.dedup", "operators.graph",
          "operators.similarity", "streaming")


def layer_of(span: str) -> str:
    return span.rsplit(".", 1)[0]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in BENCHMARK.json order."""
    units = {}
    for s in SPANS:
        units[f"{s}.s"] = "s"
        for c, u in SPAN_COUNTERS.items():
            units[f"{s}.{c}"] = u
    for layer in LAYERS:
        units[f"layer.{layer}.self_s"] = "s"
    units.update({
        "operators.dedup.candidate_yield": "frac",
        "streaming.trigger_overhead_s": "s",
        "index.files_per_bucket": "count",
        "index.ingest_s": "s",
        "index.probe_s": "s",
        "index.compact_s": "s",
        "index.unseen_append_rows": "count",
        "sources.input_bytes": "B",
        "sinks.output_bytes": "B",
        "spark.busy_share": "frac",
        "trace.overhead_s": "s",
    })
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_id() -> dict[str, str]:
    """git sha when the checkout is a repository, and always a hash of the
    package sources, so artifacts of identical code share a key."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        git = sha.stdout.strip() if sha.returncode == 0 else ""
    except (OSError, subprocess.TimeoutExpired):
        git = ""
    return {"git_sha": git or "none", "source_sha": h.hexdigest()}


def start_spark(run_dir: str):
    from customer_360_etl_pipeline_on_azure_cloud_spark.session import get_spark

    n = nproc()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "local"),
            # a heap fixed at its maximum, so it is not resized mid-run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                f"-Xms{DRIVER_MEMORY}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s, steps) -> dict[str, float]:
    warm = steps[1:]
    return {
        "setup_s": setup_s,
        "cold_batch_s": steps[0]["batch_s"] if steps else 0.0,
        "batch_s": median([s["batch_s"] for s in warm]),
        # a fixed prefix of steps, so the value repeats for a seed
        "quality": statistics.fmean(s["quality"] for s in steps[:MIN_STEPS])
        if steps else 0.0,
    }


def per_layer(spans, steps, extra) -> dict[str, float]:
    out = dict.fromkeys(per_layer_units(), 0.0)
    by_step: dict[str, dict[str, dict]] = {}
    for sp in spans:
        by_step.setdefault(sp["trace_id"], {})[sp["name"]] = sp
    traced = list(by_step.values())
    if not traced:
        return out
    first = traced[0]  # counters from one fixed step repeat for a seed
    for name in SPANS:
        durs = [st[name]["end"] - st[name]["start"] for st in traced if name in st]
        out[f"{name}.s"] = median(durs)
        if name in first:
            for c in SPAN_COUNTERS:
                out[f"{name}.{c}"] = first[name][c]
    for layer in LAYERS:
        out[f"layer.{layer}.self_s"] = median([
            sum(sp["self_s"] for n, sp in st.items() if layer_of(n) == layer)
            for st in traced
        ])
    out["streaming.trigger_overhead_s"] = median([
        st["streaming.run_foreach_batch"]["self_s"] for st in traced
        if "streaming.run_foreach_batch" in st
    ])
    for key, vals in extra.items():
        out[EXTRA_NAMES[key]] = median(vals)
    out["sources.input_bytes"] = sum(
        sp["input_bytes"] for n, sp in first.items() if layer_of(n) == "sources")
    out["sinks.output_bytes"] = sum(
        sp["output_bytes"] for n, sp in first.items() if layer_of(n) == "sinks")
    busy = sum(sp["executor_busy_s"] for sp in first.values())
    wall = sum(sp["self_s"] for sp in first.values())
    out["spark.busy_share"] = busy / (wall * nproc()) if wall else 0.0
    t = [s["batch_s"] for s in steps[1:] if s["traced"]]
    u = [s["batch_s"] for s in steps[1:] if not s["traced"]]
    out["trace.overhead_s"] = median(t) - median(u) if t and u else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    load_start = os.getloadavg()

    spark = None
    try:
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        t0 = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, False)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.prepare_check()

        steps = []
        min_steps = MIN_STEPS_TRACED if args.trace else MIN_STEPS
        t0 = time.perf_counter()
        for i in range(MAX_STEPS):
            if i >= min_steps and time.perf_counter() - t0 >= args.seconds:
                break
            tracer.enabled = bool(args.trace) and i % 2 == 1
            rec = wl.run_step(i)
            if rec is not None:
                steps.append({**rec, "traced": tracer.enabled})
        tracer.enabled = False
        load_end = os.getloadavg()
        spans = tracer.exclusive()

        if args.trace:
            metrics = per_layer(spans, steps, wl.extra)
            units = per_layer_units()
        else:
            metrics = end_to_end(setup_s, steps)
            units = E2E_UNITS
        correct = wl.failed == 0 and len(steps) >= min_steps
        artifact = {
            **source_id(), "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": nproc(),
            "spark_version": spark.version, "driver_memory": DRIVER_MEMORY,
            "loadavg_start": load_start, "loadavg_end": load_end,
            "input_sha256": wl.input_hashes, "setup_s": setup_s,
            "session_start_s": session_s,
            "steps": steps, "extra": wl.extra, "spans": spans,
            "attempted": wl.attempted, "failed": wl.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    key = (f"{args.workload}-{artifact['git_sha'][:12]}-"
           f"{artifact['source_sha'][:12]}-{nproc()}c-seed{args.seed}-"
           f"trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}")
    with open(os.path.join(out_dir, key + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)

    names = NAMES[args.workload]
    for m, v in metrics.items():
        label = names.get(m, m)
        print(f"{label:48s} {v:14.6g} {units[m]}")
    if not args.trace:  # the parts of batch_s, by name, for a reader
        for key, vals in wl.extra.items():
            name = EXTRA_NAMES[key]
            print(f"{name:48s} {median(vals):14.6g} {per_layer_units()[name]}")
    frac = wl.failed / max(wl.attempted, 1)
    print(f"{'ops_failed_frac':48s} {frac:14.6g} frac")
    print(json.dumps({
        "correct": correct, "attempted": wl.attempted, "failed": wl.failed,
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
