"""movingspark benchmark: one command, every metric by name with its unit.

    python3 perfbench/run.py --workload traj_kernels --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Each workload runs in a fresh single-process Spark session (local[K],
pinned with taskset, fixed driver heap, shuffle partitions = K) on a
seeded input that is generated and cached before anything is timed.
Outputs are checked against DuckDB or the single-process numpy kernels.

The last stdout line is one JSON object with exactly the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 the per-layer ones from spans around
each layer call. The line before it holds side fields (per-pass times,
host noise, failures) that never change a metric's value.

`--workload all` runs every workload untraced and traced and reports
`<workload>/<metric>` for both, plus each workload's tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, HERE)

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_ops_frac": "frac",
}

PER_LAYER = {
    "session.start_s": "s",
    "ingest.read_s": "s",
    "ingest.rows": "count",
    "ingest.explode_s": "s",
    "ingest.points_out": "count",
    "ingest.span_invariant_s": "s",
    "gmap.first_call_s": "s",
    "gmap.call_s": "s",
    "gmap.call_s.stops": "s",
    "gmap.call_s.dp": "s",
    "gmap.call_s.tdtr": "s",
    "gmap.call_s.kalman": "s",
    "gmap.call_s.split_angle": "s",
    "gmap.call_s.overlay_clip": "s",
    "gmap.groups": "count",
    "gmap.rows_in": "count",
    "kernels.bare_s": "s",
    "gmap.boundary_share": "frac",
    "derive.kinematics_s": "s",
    "joins.pip_s": "s",
    "joins.pip_candidates": "count",
    "joins.pip_hits": "count",
    "joins.tile_rollup_s": "s",
    "joins.knn_s": "s",
    "proximity.pairs_s": "s",
    "proximity.candidates": "count",
    "proximity.pairs_out": "count",
    "convoy.pairs_s": "s",
    "convoy.facts": "count",
    "raster.regions_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.bytes_per_input_byte": "ratio",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "trace.rows_per_s": "1/s",
    "trace.harness_self_s": "s",
}

REQUIRED = (
    "movingspark/__init__.py",
    "__spark_entry__.py",
    "tools/gen_pinned_oracles.py",
    "tools/check_correctness.py",
)
RUN_LIMIT_S = 170.0  # a run must end within 180 s


def cpu_jiffies() -> tuple[int, int, int]:
    """(steal, system, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], vals[2], sum(vals)


def tree_rss_kb(root_pid: int) -> int:
    """Resident memory (VmRSS) of root_pid and all its descendants. A
    JVM's child that still runs the JVM's own binary is one that
    posix_spawn (vfork) has not yet exec'd: it shares the JVM's address
    space and is not counted again. (Comparing the two VmRSS values
    misses it: the JVM's changes between the two reads.) Hadoop's local
    file system spawns such children when it writes files.
    /proc/<pid>/status is cheap to read; smaps_rollup (PSS) walks the
    page tables under the JVM's mmap lock and slowed the runs it
    measured."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    rss: dict[int, int] = {}
    exe: dict[int, str] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            exe[pid] = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        rss[pid] = int(line.split()[1])
                        break
        except OSError:
            pass

    def unspawned_jvm_child(pid: int) -> bool:
        return (pid != root_pid and os.path.basename(exe.get(pid, "")) == "java"
                and exe.get(pid) == exe.get(parent.get(pid)))

    return sum(v for pid, v in rss.items() if not unspawned_jvm_child(pid))


def pinned_cpus() -> tuple[list[int], int]:
    """At most four CPUs to pin to, and K = task slots: one CPU is left
    for the driver JVM and the harness when there are three or more."""
    cpus = sorted(os.sched_getaffinity(0))[:4]
    return cpus, (len(cpus) - 1 if len(cpus) >= 3 else len(cpus))


def warm_imports(env: dict) -> None:
    """Load the Python worker's imports once so the timed fresh session
    reads them from the page cache, not from disk."""
    code = "import numpy, pandas, pyarrow, duckdb, pyspark.sql, pyspark.worker, movingspark.kernels"
    subprocess.run([sys.executable, "-c", code], env=env, cwd=ROOT, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120)


def run_one(workload: str, seed: int, seconds: float, trace: int, size: str) -> dict:
    import gen

    t_start = time.time()

    data_dir = gen.ensure(workload, seed, size)
    work_dir = os.path.join(CACHE, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "tmp"))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = os.path.join(work_dir, "tmp")
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    warm_imports(env)

    cpus, k = pinned_cpus()
    cmd = [sys.executable, os.path.join(HERE, "harness.py"), "--workload", workload,
           "--data-dir", data_dir, "--work-dir", work_dir, "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(k),
           "--spans", os.path.join(CACHE, f"spans-{workload}-s{seed}.json")]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", ",".join(map(str, cpus))] + cmd
    log_path = os.path.join(CACHE, f"{workload}-s{seed}.log")
    peak = [0]
    j0 = cpu_jiffies()
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], stdout=subprocess.PIPE, stderr=log,
                                cwd=ROOT, env=env, start_new_session=True, text=True)

        def sample():
            while proc.poll() is None:
                peak[0] = max(peak[0], tree_rss_kb(proc.pid))
                time.sleep(0.1)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            out, _ = proc.communicate(timeout=max(10.0, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            out = ""
        finally:
            try:
                os.killpg(proc.pid, 9)
            except ProcessLookupError:
                pass
            proc.wait()
            sampler.join()
    j1 = cpu_jiffies()
    shutil.rmtree(work_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{workload} run failed (exit {proc.returncode}):\n{tail}")
    res = json.loads(lines[-1].split(" ", 1)[1])
    dt = max(j1[2] - j0[2], 1)
    # The driver heap is pre-touched, so its whole committed size sits in
    # every RSS sample. Count in its place the peak of what the program
    # keeps on the heap: every pool but eden, whose peak is the young-gen
    # size G1 picks, not the program's use.
    heap = res["heap"]
    kept = sum(v for k, v in heap["peak_by_pool"].items() if "Eden" not in k)
    res["tree_rss_peak_mb"] = peak[0] / 1024.0
    res["peak_rss_mb"] = (peak[0] * 1024.0 - heap["committed"] + kept) / 2**20
    res["host"] = {"steal_frac": (j1[0] - j0[0]) / dt, "sys_frac": (j1[1] - j0[1]) / dt,
                   "cpus": cpus, "k": k, "wall_s": time.time() - t0}
    return res


def end_to_end(res: dict) -> dict:
    ok = (res["attempted"] - res["failed"]) / res["attempted"]
    vals = {
        "setup_s": res["setup_s"],
        "first_pass_s": res["first_pass_s"],
        "rows_per_s": res["rows_per_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "ok_ops_frac": ok,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def per_layer(res: dict) -> tuple[dict, list[str]]:
    layers = res["layers"]
    absent = [k for k in PER_LAYER if k not in layers]
    return {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}, absent


def side_fields(res: dict) -> dict:
    walls = res["steady_pass_s"]
    side = {
        "workload": res["workload"],
        "input_rows": res["rows"],
        "steady_passes": len(walls),
        "steady_pass_s": walls,
        "steady_pass_median_s": statistics.median(walls),
        "tree_rss_peak_mb": res["tree_rss_peak_mb"],
        "heap_mb": {"committed": res["heap"]["committed"] / 2**20,
                    **{k: v / 2**20 for k, v in res["heap"]["peak_by_pool"].items()}},
        "check_s": res["check_s"],
        "failures": res["failures"],
        "host": res["host"],
        "notes": res["notes"],
    }
    if len(walls) >= 20:  # a tail percentile only with >= 10 samples beyond it
        side["steady_pass_tail"] = {"p": 1 - 10 / len(walls), "s": sorted(walls)[len(walls) - 10]}
    return side


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through run_one, which kills the session


def main(argv=None) -> int:
    import workloads

    signal.signal(signal.SIGTERM, _terminate)

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full", help="input size preset (full, tiny)")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not inside a movingspark checkout (missing {missing})", file=sys.stderr)
        return 2
    os.makedirs(CACHE, exist_ok=True)

    try:
        if args.workload == "all":
            detail, metrics = {}, {}
            attempted = failed = 0
            for wl in workloads.WORKLOADS:
                plain = run_one(wl, args.seed, args.seconds, 0, args.size)
                traced = run_one(wl, args.seed, args.seconds, 1, args.size)
                layer_vals, absent = per_layer(traced)
                for k, v in {**end_to_end(plain), **layer_vals}.items():
                    metrics[f"{wl}/{k}"] = v
                metrics[f"{wl}/trace.overhead_frac"] = {
                    "value": 1 - traced["rows_per_s"] / plain["rows_per_s"], "unit": "frac"}
                detail[wl] = {**side_fields(plain), "absent_layers": absent,
                              "traced_notes": traced["notes"]}
                for r in (plain, traced):
                    attempted += r["attempted"]
                    failed += r["failed"]
        else:
            res = run_one(args.workload, args.seed, args.seconds, args.trace, args.size)
            attempted, failed = res["attempted"], res["failed"]
            detail = side_fields(res)
            if args.trace:
                metrics, absent = per_layer(res)
                detail["absent_layers"] = absent
            else:
                metrics = end_to_end(res)
    except Exception as e:  # the run produced no measurement: no result line
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
