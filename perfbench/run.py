"""The repository's benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload cli_many_files --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

A run sets up the package in this fresh process (timed as ``setup_s``),
makes the workload's inputs from ``--seed``, runs a cold pass and then warm
passes back to back for ``--seconds`` (at least three), and checks every
pass's outputs outside the timed code. Timings are net of the CPU time the
hypervisor stole (see ``stolen_share``). With ``--trace 1`` it runs four warm
passes, untraced and traced, and reports the per-layer metrics instead of the
end-to-end ones.
The last line of stdout is one JSON object: correct, attempted, failed,
metrics. A failed output check exits 1; a run that cannot start exits 2.

Everything a run writes goes under ``.perfbench_work/`` in the checkout; the
per-run directory is removed at the end and only the span dump of a traced
run is kept.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

WORKLOADS = ("cli_many_files", "registry_keys")
# Warm passes even when --seconds runs out first. The first warm pass still
# runs 15-30% slower than later ones while the JIT compiles; the median of
# three keeps it from setting pass_s. A separate warm-up pass would make a
# run 15% longer, and the two workloads' runs must fit their time budget.
MIN_PASSES = 3
E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "records_per_s": "1/s",
}
UNITS = {
    **E2E_UNITS,
    "annotate.rows_per_s": "rows/s",
    "json_io.bytes_per_record": "bytes/record",
    "spark.busy_share": "ratio",
    "error_share": "ratio",
    "jvm_peak_rss_mb": "MB",
    "host.stolen_share": "ratio",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def tail_note(values: list[float]) -> str:
    """Sample count and the highest percentile with >= 10 samples beyond it."""
    n = len(values)
    for p in (99, 95, 90, 50):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(values, n=100)[p - 1]
            return f"n={n} p{p}={q:.4f}"
    return f"n={n}, no percentile has 10 samples beyond it: {[round(v, 4) for v in values]}"


def isolate(workdir: pathlib.Path) -> None:
    """Keep every file the run writes inside ``workdir`` and let Python
    workers import the package from any working directory."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["DEBIAS_WAREHOUSE_DIR"] = str(workdir / "warehouse")
    os.environ["DEBIAS_LOCAL_DIR"] = str(workdir / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.chdir(workdir)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def settle() -> None:
    """Start every pass with the files of earlier passes written back to
    disk and the benchmark's own garbage collected, so that neither lands in
    the next timed pass."""
    os.sync()
    gc.collect()


def cpu_ticks() -> tuple[int, int]:
    """CPU time the hypervisor stole, and CPU time wanted (busy or stolen),
    summed over all CPUs since boot, in clock ticks."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    f += [0] * (8 - len(f))  # kernels without a steal column
    return f[7], sum(f) - f[3] - f[4]


def stolen_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two ``cpu_ticks`` readings that
    the hypervisor gave to other guests.

    On a shared virtual machine this share swings from a few percent to
    almost a half within minutes, and every thread then runs that much
    slower. Each
    timing is reported net of it, wall * (1 - share), so that runs on a busy
    and on a quiet host compare; the wall times are printed as well."""
    wanted = t1[1] - t0[1]
    return (t1[0] - t0[0]) / wanted if wanted > 0 else 0.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def run_workload(args, workdir: pathlib.Path) -> tuple[dict, list[str], int, int]:
    ticks = cpu_ticks()
    t0 = time.perf_counter()
    import debias_spark.cli  # noqa: F401  (the package import is set-up)
    import debias_spark.dashboard  # noqa: F401
    from debias_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark()
    t2 = time.perf_counter()
    if args.workload == "registry_keys":
        from debias_spark.registry import load_all_queries

        load_all_queries()
    t3 = time.perf_counter()
    stolen = stolen_share(ticks, cpu_ticks())
    setup = {"setup_s": t3 - t0, "session.get_spark_s": t2 - t1, "registry.load_s": t3 - t2}
    try:
        return measure(args, spark, workdir, {
            "stolen": stolen, "wall": setup["setup_s"],
            **{k: v * (1 - stolen) for k, v in setup.items()},
        })
    finally:
        stop_spark(spark)


def measure(args, spark, workdir: pathlib.Path, setup: dict) -> tuple[dict, list[str], int, int]:
    import pyspark

    from perfbench import workloads
    from perfbench.trace import DrainListener, Tracer

    cls = {w.name: w for w in (workloads.ManyFiles, workloads.RegistryKeys)}
    wl = cls[args.workload](workdir, args.seed)
    cores = int(spark.sparkContext.defaultParallelism)
    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark_cores": cores, "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
    print("env " + json.dumps(env), flush=True)

    tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
    listener = None
    if tracer is not None and args.workload == "registry_keys":
        listener = DrainListener()
        spark.streams.addListener(listener)

    fails: list[str] = []
    attempted = failed = 0
    # Per pass kind: net time, wall time, stolen share.
    timed: dict[str, list[float]] = {"cold": [], "warm": [], "traced": []}
    walls: dict[str, list[float]] = {k: [] for k in timed}
    stolen: dict[str, list[float]] = {k: [] for k in timed}
    rates: list[float] = []
    layers: list[dict] = []
    last_out = None

    def one_pass(i: int, kind: str) -> None:
        nonlocal attempted, failed, last_out
        pass_dir = workdir / f"pass-{i}"
        pass_dir.mkdir()
        ticks = cpu_ticks()
        if kind == "traced":
            if listener is not None:
                listener.take()  # drop the batches of untraced passes
            with tracer.patched(wl.spans, wl.timers), tracer.span("pass", window=True) as rec:
                tracer.timers.clear()
                res = wl.run_pass(spark, pass_dir, tracer)
            elapsed = rec["end"] - rec["start"]
            if listener is not None:
                res["batches"] = listener.take()
        else:
            t = time.perf_counter()
            res = wl.run_pass(spark, pass_dir)
            elapsed = time.perf_counter() - t
        share = stolen_share(ticks, cpu_ticks())
        timed[kind].append(elapsed * (1 - share))
        walls[kind].append(elapsed)
        stolen[kind].append(share)
        fails.extend(f"pass {i}: {f}" for f in wl.check(pass_dir, res))
        attempted += res["attempted"]
        failed += res["failed"]
        if kind == "traced":
            m = wl.layer_metrics(tracer, rec, pass_dir, res)
            m.update(workloads.engine_metrics(tracer, rec, cores))
            layers.append(m)
        elif kind == "warm":
            rates.append(wl.pass_records(res) / timed[kind][-1])
        if last_out is not None:
            shutil.rmtree(last_out.parent, ignore_errors=True)
        last_out = pass_dir / "out"
        settle()

    settle()
    one_pass(0, "cold")
    # A traced run interleaves its passes as untraced, traced, traced,
    # untraced, so that the warm passes' downward JIT drift weighs the same
    # on both sides of trace.overhead_s.
    order = ["warm", "traced", "traced", "warm"] if tracer is not None else ["warm"]
    min_passes = len(order) if tracer is not None else MIN_PASSES
    start, i = time.perf_counter(), 0
    while i < min_passes or (tracer is None and time.perf_counter() - start < args.seconds):
        one_pass(i + 1, order[i % len(order)])
        i += 1

    e2e = {
        "setup_s": setup["setup_s"],
        "cold_pass_s": timed["cold"][0],
        "pass_s": statistics.median(timed["warm"]),
        "records_per_s": statistics.median(rates),
    }
    samples = {"pass_s": timed["warm"], "records_per_s": rates}
    for name, value in e2e.items():
        note = tail_note(samples[name]) if name in samples else "n=1"
        print(f"{name} = {value:.4f} {E2E_UNITS[name]} ({note})", flush=True)
    print(
        f"wall times, stolen time included: setup {setup['wall']:.4f} s, "
        f"cold pass {walls['cold'][0]:.4f} s, warm passes {[round(v, 4) for v in walls['warm']]}; "
        f"stolen share: setup {setup['stolen']:.3f}, cold pass {stolen['cold'][0]:.3f}, "
        f"warm passes {[round(v, 3) for v in stolen['warm']]}",
        flush=True,
    )
    if tracer is None:
        return e2e, fails, attempted, failed

    per_layer = dict.fromkeys(workloads.per_layer_names(), 0.0)
    for name in per_layer:
        vals = [m[name] for m in layers if name in m]
        if vals:
            per_layer[name] = statistics.median(vals)
    per_layer.update(wl.probes(spark, tracer, last_out, layers))
    per_layer["session.get_spark_s"] = setup["session.get_spark_s"]
    per_layer["registry.load_s"] = setup["registry.load_s"] if args.workload == "registry_keys" else 0.0
    per_layer["error_share"] = failed / attempted
    per_layer["trace.overhead_s"] = statistics.median(timed["traced"]) - e2e["pass_s"]
    per_layer["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    per_layer["host.stolen_share"] = statistics.median(stolen["warm"] + stolen["traced"])
    for name, value in per_layer.items():
        print(f"{name} = {value:.4f} {unit_of(name)}", flush=True)
    dump = ROOT / ".perfbench_work" / f"trace-{args.workload}-seed{args.seed}.json"
    tracer.dump(str(dump))
    print(f"spans written to {dump.relative_to(ROOT)}", flush=True)
    return per_layer, fails, attempted, failed


def run_all(args) -> int:
    """Every workload in turn, each in its own process; one table at the end."""
    rows, ok, attempted, failed = {}, True, 0, 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(f"[{w}] {line}" for line in lines[:-1]), flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"[{w}] no result (exit {proc.returncode})", flush=True)
            ok = False
            continue
        ok = ok and res["correct"] and proc.returncode == 0
        attempted += res["attempted"]
        failed += res["failed"]
        rows.update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    for name, m in rows.items():
        print(f"{name:45s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": ok, "attempted": max(attempted, 1), "failed": failed, "metrics": rows}))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "debias_spark" / "__init__.py").is_file():
        print(f"perfbench: no debias_spark package in {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    workdir = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    isolate(workdir)
    try:
        metrics, fails, attempted, failed = run_workload(args, workdir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    for f in fails[:20]:
        print(f"CHECK FAILED: {f}", flush=True)
    result = {
        "correct": not fails,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
