"""One benchmark run inside a single Spark session (started by run.py).

Untraced (``--trace 0``): set up (session start, input generation, expected
outputs, untimed warm-up), then run timed operations back to back until
their timed sections add up to ``--seconds`` (at least one), check every output, and report
the end-to-end metrics. Traced (``--trace 1``): the same set-up, one
untraced operation, then one operation with spans installed; reports the
per-layer metrics and the tracing overhead, and writes the spans to
``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from perfbench.spans import SparkCounters, Tracer, median
from perfbench.workloads import WORKLOADS, busy_share, cpu_ticks, log


def start_session(work: str):
    from webcrawler_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    width = spark.sparkContext.defaultParallelism
    if width > cores:
        spark.stop()
        raise SystemExit(f"refusing an oversubscribed session: local[{width}] on {cores} cores")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(base, f))
    return n_bytes, n_files


def layer_metrics(tracer: Tracer, op, before: dict, after: dict, setup_extra: dict,
                  spark) -> dict:
    d = SparkCounters.delta(before, after)
    busy, pages, errs = tracer.parse_acc.value if tracer.parse_acc else (0.0, 0, 0)
    canon = tracer.named("admission.canonicalize")
    n_in = sum(s.rows.get("in", 0) for s in canon)
    split = tracer.named("bloom.split")
    maybe = sum(s.rows.get("out0", 0) for s in split)
    new = sum(s.rows.get("out1", 0) for s in split)
    pol = tracer.named("politeness.assign")
    fetch = sum(s.rows.get("out0", 0) for s in pol)
    queue = fetch + sum(s.rows.get("out1", 0) for s in pol)
    store = op.extra["store"]
    n_bytes, n_files = dir_usage(store.root)
    crawl_metrics = op.extra.get("metrics")
    skew = 0.0
    if crawl_metrics is not None:
        rows = [r["rows"] for r in store.read_all(spark, "lineage").select("rows").collect()]
        skew = max(rows) / median(rows) if rows and median(rows) else 0.0
    rounds = op.rounds if crawl_metrics is not None else 0
    m = {
        "html.parse_s": (busy, "s"),
        "html.pages": (pages, "count"),
        "html.pages_per_busy_s": (pages / busy if busy else 0.0, "1/s"),
        "html.error_rows": (errs, "count"),
        "urls.udf_share": (sum(s.rows.get("udf", 0) for s in canon) / n_in if n_in else 0.0, "ratio"),
        "admission.canonicalize_s": (tracer.total_self("admission.canonicalize"), "s"),
        "admission.filter_s": (tracer.total_self("admission.filter"), "s"),
        "admission.dedup_s": (tracer.total_self("admission.dedup"), "s"),
        "admission.antijoin_s": (tracer.total_self("admission.antijoin"), "s"),
        "admission.candidates": (n_in, "count"),
        "admission.admitted": (sum(s.rows.get("out", 0) for s in tracer.named("admission.admit")), "count"),
        "bloom.build_s": (setup_extra.get("bloom.build_s", 0.0) + tracer.total_self("bloom.build"), "s"),
        "bloom.split_s": (tracer.total_self("bloom.split"), "s"),
        "bloom.merge_s": (tracer.total_self("bloom.merge"), "s"),
        "bloom.definitely_new_share": (new / (maybe + new) if maybe + new else 0.0, "ratio"),
        "bloom.false_positive_rate": (op.extra.get("bloom.false_positive_rate", 0.0), "ratio"),
        "politeness.assign_s": (tracer.total_self("politeness.assign"), "s"),
        "politeness.queue_rows": (queue, "count"),
        "politeness.fetch_share": (fetch / queue if queue else 0.0, "ratio"),
        "politeness.salted_rounds": (sum(1 for s in crawl_metrics or [] if s.get("salted")), "count"),
        "storage.commit_s": (tracer.total_self("storage.commit"), "s"),
        "storage.bytes_written": (n_bytes, "bytes"),
        "storage.files_written": (n_files, "count"),
        "storage.seen_append_s": (tracer.total_self("storage.seen_append"), "s"),
        "storage.compact_s": (tracer.total_self("storage.compact"), "s"),
        "storage.export_s": (tracer.total_self("storage.export"), "s"),
        "crawl.round_s": (median(op.round_s) if rounds else 0.0, "s"),
        "crawl.jobs_per_round": (d["jobs"] / rounds if rounds else 0.0, "count"),
        "crawl.tasks_per_round": (d["tasks"] / rounds if rounds else 0.0, "count"),
        "spark.shuffle_write_mb": (d["shuffle_write"] / 2**20, "MB"),
        "spark.spill_mb": (d["spill"] / 2**20, "MB"),
        "spark.fetch_partition_skew": (skew, "ratio"),
        "spark.failed_tasks": (d["failed_tasks"], "count"),
        "spark.gc_s": (d["gc_ms"] / 1000.0, "s"),
        "spark.cores": (spark.sparkContext.defaultParallelism, "count"),
        "trace.spans": (len(tracer.spans), "count"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="launch time (time.monotonic)")
    args = ap.parse_args()
    c_start = cpu_ticks()

    workload = WORKLOADS[args.workload](args.seed, args.work)
    workload.trace = bool(args.trace)
    # input generation is pure Python: overlap it with the JVM start
    with ThreadPoolExecutor(max_workers=1) as pool:
        generated = pool.submit(workload.generate)
        spark, cores = start_session(args.work)
        log(f"session started on local[{cores}]")
        generated.result()
    counters = SparkCounters(spark)
    setup_extra = workload.setup(spark)
    setup_share = busy_share(c_start, cpu_ticks())
    setup_s = (time.monotonic() - args.t0) * setup_share
    log(f"set up in {setup_s:.2f}s (busy share {setup_share:.3f})")

    ops, failed = [], 0

    def run_one():
        nonlocal failed
        before = counters.failed_tasks()
        try:
            op = workload.run_op()
        except Exception:  # a raising op counts as failed; the run goes on
            traceback.print_exc()
            failed += 1
            ops.append(None)
            return None
        if counters.failed_tasks() > before:
            op.ok = False
            op.problems.append("failed Spark tasks")
        if not op.ok:
            print(f"{workload.name}: output check failed: {op.problems}", file=sys.stderr)
            failed += 1
        ops.append(op)
        return op

    if not args.trace:
        # measure until the timed sections add up to --seconds (checks run
        # between operations and do not count); an operation is never cut
        t_give_up = time.monotonic() + 4 * args.seconds
        while True:
            run_one()
            timed = sum(o.wall_s for o in ops if o is not None)
            if timed >= args.seconds or time.monotonic() >= t_give_up:
                break
        good = [o for o in ops if o is not None]
        # times are steal-corrected: wall x busy / (busy + steal), so a host
        # that runs other machines on these CPUs does not count as slowness
        busy_wall = sum(o.wall_s * o.busy_share for o in good)
        metrics = {
            "throughput_per_s": {
                "value": sum(o.units for o in good) / busy_wall if good else 0.0,
                "unit": "1/s"},
            "round_s_p50": {
                "value": median([t * o.busy_share for o in good for t in o.round_s]),
                "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        print(f"{workload.name}: {len(ops)} ops, {sum(o.rounds for o in good)} rounds "
              f"on local[{cores}]", file=sys.stderr)
    else:
        plain = run_one()
        tracer = Tracer(spark)
        tracer.install()
        before = counters.snapshot()
        try:
            traced = run_one()
        finally:
            tracer.uninstall()
        after = counters.snapshot()
        metrics = {}
        if plain is not None and traced is not None:
            metrics = layer_metrics(tracer, traced, before, after, setup_extra, spark)
            metrics["trace.overhead_s"] = {"value": traced.wall_s - plain.wall_s, "unit": "s"}
        tracer.release()
        out_dir = os.path.join(os.getcwd(), ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))

    attempted = sum(o.rounds if o is not None else 1 for o in ops)
    failed_rounds = sum(o.rounds if o is not None else 1 for o in ops if o is None or not o.ok)
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed_rounds,
        "metrics": metrics,
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
