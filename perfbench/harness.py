"""One benchmark run of one workload in a fresh process (started by
run.py under taskset). Prints one JSON line with the raw measurements.

Order of a run, chosen for steadiness:
1. setup: session up, input read and persisted (timed from process
   spawn, so a cold JVM);
2. first pass, timed: the one-shot cost of a fresh session, every op
   forced exactly as in a steady pass;
3. check pass, untimed: every op again, its outputs collected and
   checked against DuckDB or the single-process kernels. It also warms
   the session, so the steady passes start past the steep part of the
   JIT curve;
4. STEADY_PASSES steady passes, timed, and more until --seconds have
   passed, with System.gc() outside each timed window; every op's row
   count, in the first pass too, must equal the check pass's;
5. the driver heap's peak use, read from the JVM;
6. traced runs only: layer counts, some of which need their own query.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

STEADY_PASSES = 3
DRIVER_HEAP = "2g"


def build_session(cores: int, work_dir: str):
    from pyspark.sql import SparkSession

    from movingspark.session import JVM_CODEGEN_OPTS, tune_builder

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the whole fixed heap is committed and touched at launch, so the
    # JVM's share of peak RSS does not depend on when G1 grows the heap;
    # run.py swaps that constant for the measured peak of what the
    # program keeps on the heap
    jvm_opts = f"{JVM_CODEGEN_OPTS} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
    spark = (
        tune_builder(
            SparkSession.builder.master(f"local[{cores}]")
            .appName("movingspark-perfbench")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", DRIVER_HEAP)
            .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        )
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_gc(spark) -> None:
    spark.sparkContext._jvm.System.gc()


def jvm_heap(spark) -> dict:
    """Committed driver heap and each heap pool's peak use since launch, in
    bytes."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = {
        p.getName(): p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    }
    return {"committed": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted(), "peak_by_pool": pools}


def run_pass(wl, spark, tracer, inputs, data_dir, label, collect=False):
    from workloads import PassContext

    ctx = PassContext(spark, tracer, label, collect)
    with tracer.span("pass", label=label):
        t = time.perf_counter()
        wl.run_pass(ctx, inputs, data_dir)
        wall = time.perf_counter() - t
    return ctx, wall


def layer_metrics(wl, spark, tracer, steady_labels, cores, inputs, checked, extra, data_dir):
    """Per-layer numbers from the traced run: medians over the steady
    passes of each layer's self time, plus counts at the layer
    boundaries."""
    from spans import stage_totals, wait_for_listeners

    selfs = tracer.self_times()
    per_pass: dict[str, dict[str, float]] = {}
    harness_self = []
    sums_ok = True
    for s in tracer.spans:
        if s.name == "pass" and s.attrs.get("label") in steady_labels:
            acc: dict[str, float] = {}
            for c in tracer.children(s.id):
                acc[c.name] = acc.get(c.name, 0.0) + selfs[c.id]
            per_pass[s.attrs["label"]] = acc
            harness_self.append(selfs[s.id])
            sums_ok &= sum(acc.values()) <= (s.end - s.start) * cores
    names = sorted({k for acc in per_pass.values() for k in acc})
    med = {k: statistics.median(acc.get(k, 0.0) for acc in per_pass.values()) for k in names}
    out: dict[str, float] = dict(med)
    gmap = [k for k in med if k.startswith("gmap.call_s.")]
    if gmap:
        out["gmap.call_s"] = statistics.median(
            sum(acc.get(k, 0.0) for k in gmap) for acc in per_pass.values()
        )
    out["trace.harness_self_s"] = statistics.median(harness_self)

    wait_for_listeners(spark)
    ex = [stage_totals(spark, f"{lab}|") for lab in steady_labels]
    out["exchange.shuffle_write_bytes"] = statistics.median(e["shuffle_write_bytes"] for e in ex)
    out["exchange.spill_bytes"] = statistics.median(e["spill_bytes"] for e in ex)

    # the first grouped kernel call in the fresh session: worker spawn + import
    first_pass = next(s for s in tracer.spans if s.name == "pass" and s.attrs["label"] == "first")
    gmap_first = [c for c in tracer.children(first_pass.id) if c.name.startswith("gmap.")]
    if gmap_first:
        out["gmap.first_call_s"] = gmap_first[0].end - gmap_first[0].start

    out.update(wl.layer_counts(spark, inputs, checked, extra, steady_labels[-1], data_dir))
    if out.get("kernels.bare_s") and out.get("gmap.call_s"):
        # single-thread kernel seconds over K-core gmap wall
        out["gmap.boundary_share"] = 1.0 - out["kernels.bare_s"] / (out["gmap.call_s"] * cores)
    notes = {"self_times_within_wall_x_cores": bool(sums_ok)}
    return out, notes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spans", help="where a traced run writes its spans")
    ap.add_argument("--t0", type=float, required=True, help="time.time() when the process was spawned")
    args = ap.parse_args()

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import workloads
    from spans import Tracer

    run_id = f"{args.workload}-{os.getpid()}"
    tracer = Tracer(run_id, bool(args.trace))
    wl = workloads.make(args.workload, args.work_dir)

    # 1. setup, cold
    with tracer.span("setup"):
        t = time.perf_counter()
        with tracer.span("session.start_s"):
            spark = build_session(args.cores, args.work_dir)
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("ingest.read_s"):
            inputs, n_rows = wl.read(spark, args.data_dir)
        read_s = time.perf_counter() - t
    setup_s = time.time() - args.t0

    # 2. first pass in the fresh session
    jvm_gc(spark)
    first, first_wall = run_pass(wl, spark, tracer, inputs, args.data_dir, "first")
    wl.after_pass(first)
    # 3. check pass: outputs collected, then checked
    jvm_gc(spark)
    checked, _ = run_pass(wl, spark, tracer, inputs, args.data_dir, "check", collect=True)
    wl.after_pass(checked)
    t = time.perf_counter()
    problems, extra = wl.check(checked, args.data_dir)
    check_s = time.perf_counter() - t
    checked.outputs.clear()
    ops = [op.name for op in wl.ops]
    ref_rows = dict(checked.rows)

    attempted = failed = 0
    failures: list[str] = []

    def score(ctx, value_problems=None):
        nonlocal attempted, failed
        for name in ops:
            attempted += 1
            why = None
            if name in ctx.errors:
                why = ctx.errors[name]
            elif value_problems and name in value_problems:
                why = value_problems[name]
            elif ctx.rows.get(name) != ref_rows.get(name):
                why = f"rows {ctx.rows.get(name)} != checked {ref_rows.get(name)}"
            if why:
                failed += 1
                failures.append(f"{ctx.label}/{name}: {why}")

    score(checked, problems)
    score(first)

    # 4. steady passes
    walls = []
    labels = []
    t_end = time.perf_counter() + args.seconds
    while len(walls) < STEADY_PASSES or time.perf_counter() < t_end:
        jvm_gc(spark)
        label = f"steady{len(walls)}"
        ctx, wall = run_pass(wl, spark, tracer, inputs, args.data_dir, label)
        wl.after_pass(ctx)
        score(ctx)
        walls.append(wall)
        labels.append(label)

    med_wall = statistics.median(walls)
    # 5. driver heap, before the traced runs' extra queries
    heap = jvm_heap(spark)

    layers, notes = {}, {}
    if tracer.enabled:
        layers, notes = layer_metrics(wl, spark, tracer, labels, args.cores, inputs, checked, extra,
                                      args.data_dir)
        layers["session.start_s"] = session_s
        layers["ingest.read_s"] = read_s
        layers["ingest.rows"] = n_rows
        layers["trace.rows_per_s"] = n_rows / med_wall
        tracer.dump(args.spans)
    spark.stop()

    print(
        "PERFBENCH_RESULT "
        + json.dumps(
            {
                "workload": wl.name,
                "rows": n_rows,
                "setup_s": setup_s,
                "heap": heap,
                "first_pass_s": first_wall,
                "steady_pass_s": walls,
                "rows_per_s": n_rows / med_wall,
                "attempted": attempted,
                "failed": failed,
                "failures": failures[:20],
                "check_s": check_s,
                "layers": layers,
                "notes": notes,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
