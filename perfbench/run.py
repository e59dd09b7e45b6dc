"""Repository benchmark: seeded workloads through the engine's public
functions, end-to-end metrics, output checks, and a traced per-layer ledger.

    python3 perfbench/run.py --workload pipeline_ckpt --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

Run from the repository root. Each run is one closed loop with one
client: this process submits one Spark job at a time to a fresh
local[nproc] session. Inputs are generated from --seed and cached under
.perfbench_work/. With --trace 0 the last line of stdout is the JSON
result with every end-to-end metric; with --trace 1 it carries every
per-layer metric of one traced pass. perfbench/README.md defines each
metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3  # sessions created per untraced run; setup_s is their median
MIN_TIMED_PASSES = 1

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "stored_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.rows": "count",
    "series.derive_s": "s",
    "series.rows_out": "count",
    "series.shuffle_mb": "MB",
    "rollup.tier_1m_s": "s",
    "rollup.tier_1h_s": "s",
    "rollup.tier_1d_s": "s",
    "rollup.gapfill_s": "s",
    "rollup.gapfill_rows_added": "count",
    "rollup.shuffle_mb": "MB",
    "rollup.exchanges": "count",
    "profile.assemble_s": "s",
    "profile.assemble_shuffle_mb": "MB",
    "profile.mp_stage_s": "s",
    "profile.udf_python_s": "s",
    "profile.series_in": "count",
    "profile.series_skipped": "count",
    "profile.task_p50_s": "s",
    "profile.task_max_s": "s",
    "profile.kernel_share": "ratio",
    "kernels.kernel_s_sum": "s",
    "kernels.floor_s": "s",
    "compress.encode_s": "s",
    "compress.bits_per_point": "bit/point",
    "lineage.write_s": "s",
    "lineage.readback_s": "s",
    "lineage.files_written": "count",
    "lineage.bytes_written": "bytes",
    "sink.write_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "trace.wall_s": "s",
    "trace.outside_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}


def host_setup() -> dict:
    """Host-safe launch settings, applied through the environment before
    any session exists, and recorded in every result."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # an eighth of host memory, at most 2g, is ample for these inputs: the
    # engine's own 48g default is larger than many hosts' physical memory
    driver_gb = max(1, min(2, round(mem_kb / (8 * 1024 * 1024))))
    local_dir = os.path.join(WORK, "spark-local")
    tmp_dir = os.path.join(WORK, "tmp")
    for d in (local_dir, tmp_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ.update(
        {
            "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
            "SPARK_LOCAL_DIRS": local_dir,
            "TMPDIR": tmp_dir,
            # the Python workers unpickle engine functions by module path
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "driver_memory": f"{driver_gb}g",
        "master": f"local[{nproc}]",
        "spark_local_dirs": os.path.relpath(local_dir, ROOT),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def kernel_probe_ms() -> float:
    """bench.py's single-thread host-speed probe: one 16,384-point w=128
    MPX kernel after one full-size warm-up, no Spark running."""
    import numpy as np

    from go_matrixprofile_spark.kernels.matrix_profile import MPOpts, compute_mp

    n = 16384
    sig = np.sin(np.linspace(0, 40 * np.pi, n)) + 0.1 * np.random.default_rng(5).standard_normal(n)
    compute_mp(sig, None, 128, MPOpts(algorithm="mpx"))
    t0 = time.perf_counter()
    compute_mp(sig, None, 128, MPOpts(algorithm="mpx"))
    return (time.perf_counter() - t0) * 1000.0


def new_session(name: str, nproc: int):
    from go_matrixprofile_spark.session import get_spark

    return get_spark(
        f"perfbench-{name}",
        cores=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # the whole heap committed and touched at JVM start: peak RSS
            # then follows the workload (Python workers, off-heap buffers),
            # not when the collector grows the heap
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
        },
    )


def shutdown_jvm() -> None:
    """Stop the JVM the sessions ran in and wait for it (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.terminate()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def layer_metrics(spans: list[dict], extras: dict, nproc: int, untraced_wall: float) -> dict:
    from perfbench.trace import self_time, sum_stage

    def span_rows(name):
        return float(sum(s.get("rows", 0) for s in spans if s["name"] == name))

    root = spans[0]
    mp_stages = [st for s in spans if s["name"] == "profile.mp_stage" for st in s["stages"]]
    kernel_stage = max(mp_stages, key=lambda st: st["run_s"], default={})
    all_stages = [st for s in spans for st in s["stages"]]
    m = {name: self_time(spans, name[:-2]) for name in PER_LAYER if name.endswith("_s") and "." in name}
    m.update(
        {
            "sources.rows": span_rows("sources.scan"),
            "series.rows_out": span_rows("series.derive"),
            "series.shuffle_mb": sum_stage(spans, "shuffle_write_mb", names={"series.derive"}),
            "rollup.shuffle_mb": sum_stage(spans, "shuffle_write_mb", layers={"rollup"}),
            "rollup.exchanges": float(
                sum(st["shuffle_write_mb"] > 0 for s in spans if s["layer"] == "rollup" for st in s["stages"])
            ),
            "profile.assemble_shuffle_mb": sum_stage(spans, "shuffle_write_mb", names={"profile.assemble"}),
            "profile.udf_python_s": sum(s["udf_python_s"] for s in spans if s["name"] == "profile.mp_stage"),
            "profile.series_in": span_rows("profile.assemble"),
            "profile.task_p50_s": kernel_stage.get("task_p50_s", 0.0),
            "profile.task_max_s": kernel_stage.get("task_max_s", 0.0),
            "spark.executor_run_s": sum(st["run_s"] for st in all_stages),
            "spark.executor_cpu_s": sum(st["cpu_s"] for st in all_stages),
            "spark.shuffle_write_mb": sum(st["shuffle_write_mb"] for st in all_stages),
            "spark.spill_mb": sum(st["spill_mb"] for st in all_stages),
            "spark.jobs": float(sum(s["jobs"] for s in spans)),
            "spark.stages": float(len(all_stages)),
            "trace.wall_s": root["wall_s"],
            "trace.outside_s": root["self_s"],
            "trace.untraced_wall_s": untraced_wall,
            "trace.overhead_s": root["wall_s"] - untraced_wall,
        }
    )
    m.update(extras)
    m["spark.cpu_util"] = m["spark.executor_cpu_s"] / (root["wall_s"] * nproc)
    m["kernels.floor_s"] = m.get("kernels.kernel_s_sum", 0.0) / nproc
    m["profile.kernel_share"] = m["kernels.floor_s"] / m["profile.mp_stage_s"] if m["profile.mp_stage_s"] else 0.0
    return {name: float(m.get(name, 0.0)) for name in PER_LAYER}


def run(args) -> dict:
    import numpy as np

    from perfbench.trace import RssSampler, Tracer, median
    from perfbench.workloads import WORKLOADS, dir_bytes

    wl = WORKLOADS[args.workload]
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    host = host_setup()
    nproc = host["nproc"]
    steal0 = cpu_steal()
    if args.trace:
        host["kernel_16k_mpx_ms"] = kernel_probe_ms()
    inp = wl.prepare(os.path.join(WORK, "inputs"), args.seed, args.size)
    out_root = os.path.join(WORK, "out", wl.name)
    shutil.rmtree(out_root, ignore_errors=True)
    rng = np.random.default_rng([args.seed, 99])
    calls = 0
    phase("inputs")

    def one_pass(k: int, tracer):
        nonlocal calls
        out_dir = os.path.join(out_root, f"pass{k}")
        t0 = time.perf_counter()
        stats = wl.run_pass(spark, inp, out_dir, tracer)
        wall = time.perf_counter() - t0
        calls += tracer.calls
        stats["stored_bytes"] = dir_bytes(out_dir)[1]
        return wall, out_dir, stats

    sampler = RssSampler()
    spark = new_session(wl.name, nproc)
    phase("setup")
    setups = [phases["setup"]]
    sampler.start(spark.sparkContext._gateway.proc.pid)
    result: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace, "size": args.size, "host": host}
    try:
        # pass 0: the first job of a fresh session, and the repetition
        # every later pass follows
        walls = [one_pass(0, Tracer(spark, False))]
        if args.trace:
            wl.cleanup(*walls[-1][1:])
            walls.append(one_pass(1, Tracer(spark, False)))  # warm, untraced
            wl.cleanup(*walls[-1][1:])
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tracer = Tracer(spark, True)
            with tracer.span("pass", "outside"):
                walls.append(one_pass(2, tracer))
            phase("passes")
            ledger = tracer.ledger()
            tracer.release()
            extras = wl.layer_extras(spark, inp, walls[-1][1], walls[-1][2], rng)
            metrics = layer_metrics(ledger["spans"], extras, nproc, walls[1][0])
            units = PER_LAYER
            result["spans"] = ledger["spans"]
            phase("ledger")
        else:
            t_end = time.perf_counter() + args.seconds
            while len(walls) < 1 + MIN_TIMED_PASSES or time.perf_counter() < t_end:
                wl.cleanup(*walls[-1][1:])
                walls.append(one_pass(len(walls), Tracer(spark, False)))
            timed = [w for w, _, _ in walls[1:]]
            metrics = {
                "wall_s": walls[0][0],
                "items_per_s": walls[-1][2]["items"] / median(timed),
                "stored_mb": walls[-1][2]["stored_bytes"] / (1024.0 * 1024.0),
            }
            units = END_TO_END
            phase("passes")
        sampler.stop()  # the workload's memory, not the checks'
        result["pass_walls_s"] = [w for w, _, _ in walls]
        _, out_dir, stats = walls[-1]
        result["checks"] = wl.checks(spark, inp, out_dir, stats, rng)
        wl.cleanup(out_dir, stats)
        phase("checks")
    finally:
        sampler.stop()
        spark.stop()
    if not args.trace:
        for _ in range(SETUPS - 1):
            t0 = time.perf_counter()
            new_session(wl.name, nproc).stop()
            setups.append(time.perf_counter() - t0)
        metrics["setup_s"] = median(setups)
        metrics["peak_rss_mb"] = sampler.peak_bytes / (1024.0 * 1024.0)
        result["setups_s"] = setups
        phase("setups")
    shutdown_jvm()
    shutil.rmtree(out_root, ignore_errors=True)
    phase("shutdown")
    steal1 = cpu_steal()
    # share of host CPU time taken by other guests while the run lasted
    host["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    result["phases_s"] = phases

    failed = sum(not ok for _, ok, _ in result["checks"])
    attempted = calls + len(result["checks"])
    result.update(
        {
            "items": wl.items,
            "failed_share": failed / attempted,
            "final": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
            },
        }
    )
    return result


def report(result: dict) -> None:
    """Human-readable lines, the full record under .perfbench_work/results,
    and the JSON result as the last line of stdout."""
    final = result["final"]
    head = f"perfbench {result['workload']} seed={result['seed']} trace={result['trace']}"
    print(f"{head} host: {json.dumps(result['host'])}")
    for name, ok, detail in result["checks"]:
        print(f"{head} check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    for name, m in final["metrics"].items():
        print(f"{head} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{head} failed_share = {result['failed_share']:.6g} ({final['failed']} of {final['attempted']} calls)")
    if result["trace"]:
        m = final["metrics"]
        print(f"{head} tracing overhead = {m['trace.overhead_s']['value']:.3f} s "
              f"(traced {m['trace.wall_s']['value']:.3f} s vs untraced {m['trace.untraced_wall_s']['value']:.3f} s)")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{result['workload']}-seed{result['seed']}-trace{result['trace']}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(json.dumps(final))


def self_check(seconds: int) -> int:
    """Run every workload once at small size, traced and untraced, each in
    its own process; confirm that every metric BENCHMARK.json names is
    present with its unit and that every output check passes."""
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}, {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    if declared != (END_TO_END, PER_LAYER):
        problems.append("BENCHMARK.json metrics differ from run.py's tables")
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", name, "--seed", "1",
                   "--seconds", str(seconds), "--trace", str(trace), "--size", "small"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            try:
                final = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                problems.append(f"{name} trace={trace}: no result (exit {proc.returncode}): {proc.stderr[-2000:]}")
                continue
            want = declared[trace]
            got = {k: v.get("unit") for k, v in final["metrics"].items()}
            if got != want:
                problems.append(f"{name} trace={trace}: metrics/units differ from BENCHMARK.json")
            if not final["correct"] or final["failed"]:
                problems.append(f"{name} trace={trace}: checks failed: {[l for l in lines if 'FAILED' in l]}")
            print(f"self-check {name} trace={trace}: {'ok' if final['correct'] else 'FAILED'}, "
                  f"{final['attempted']} calls", flush=True)
    for p in problems:
        print(f"self-check problem: {p}")
    print("self-check: " + ("ALL OK" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["rollup_tiers", "pipeline_ckpt", "mp_fleet_16k", "mp_fleet_small"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10, help="length of the timed loop of passes")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "small"], default="default")
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "go_matrixprofile_spark")):
        print(f"perfbench: engine package go_matrixprofile_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.self_check:
        return self_check(args.seconds)
    if not args.workload:
        ap.error("--workload is required")
    report(run(args))
    return 0


if __name__ == "__main__":
    sys.exit(main())
