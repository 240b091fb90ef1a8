"""Benchmark runner for the spark-graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One run is one process with one
closed-loop client:

1. checks the input tables in ``data/`` against their sha256 in
   ``workloads.json`` (the reference test data, so every run does the same
   work) and copies the engine package into ``perfbench/.work/app`` (so the
   run owns the package's ``.scratch`` state directory).  ``--seed`` sets
   the op order of every warm pass;
2. sets up SETUPS times: stop any session, wipe the program's on-disk
   state, start the session, rebuild the docstore collection and touch the
   first table.  The first set-up also launches the JVM; ``setup_s`` is the
   median;
3. runs the workload's ops once, in the listed order (the cold pass), and
   checks every op's output against its DuckDB oracle, untimed;
4. runs warm passes, each in a seed-shuffled order, until ``--seconds``
   have passed (at least MIN_WARM_PASSES).  ``run_s`` sums each op's median
   warm call; ``op_p50_s``/``op_p90_s`` are percentiles over those medians.

Every call is ``fn(spark, sf_dir)`` followed by a write into the ``noop``
sink.  The last stdout line is one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics (``layers.py``) with ``--trace 1``.
The op lists and the reasons for them are in ``workloads.json``.
"""

from __future__ import annotations

import argparse
import atexit
import contextlib
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "build_pipeline_with_apache_beam_spark"
SETUPS = 5              # the first one launches the JVM; setup_s is their median
MIN_WARM_PASSES = 2
SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def copy_program() -> str:
    """Copy the engine package under WORK/app, so the program's ``.scratch``
    state lives in the run's own directory."""
    app = os.path.join(WORK, "app")
    shutil.rmtree(app, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, PKG), os.path.join(app, PKG),
                    ignore=shutil.ignore_patterns("__pycache__"))
    return app


def check_data(data: dict) -> str | None:
    """The input directory, or None when a table is missing or differs."""
    sf_dir = os.path.join(ROOT, data["dir"])
    for name, want in data["sha256"].items():
        path = os.path.join(sf_dir, name)
        if not os.path.isfile(path):
            print(f"input table {path} not found", file=sys.stderr)
            return None
        with open(path, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                print(f"input table {path} differs from its sha256", file=sys.stderr)
                return None
    return sf_dir


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def main() -> int:
    args = _args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")):
        print(f"engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    wl = spec["workloads"][args.workload]
    sf = spec["sf"]
    cpus = len(os.sched_getaffinity(0))

    sf_dir = check_data(spec["data"])
    if sf_dir is None:
        return 2

    app = copy_program()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine's 24g default heap is sized for sf10 sweeps; the
        # benchmark's sf0.01 inputs need a small fraction of it
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_GRAFT_ORACLE_SF_DIR": sf_dir,
        "PYTHONPATH": os.pathsep.join(
            [app] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": tmp,
        # every JVM the run starts (the launcher too) keeps temp files in the run
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    # the engine keeps spill/shuffle files under its own scratch dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    sys.path.insert(0, app)

    tracer = None
    if args.trace:
        import layers

        tracer = layers.Tracer(os.path.join(WORK, "trace"), args.workload,
                               args.seed, cpus)
        tracer.install(PKG)   # wrappers go in before the registry is imported

    from build_pipeline_with_apache_beam_spark import catalog, registry, session
    from build_pipeline_with_apache_beam_spark.oracle import compare, duck_connect
    from build_pipeline_with_apache_beam_spark.oracle_checksum import compare_checksum
    from build_pipeline_with_apache_beam_spark.sources import docstore
    from pyspark import SparkContext

    scratch = os.path.join(app, ".scratch")
    spark = None

    def stop_jvm() -> None:
        """Stop the session and wait until the JVM the run launched exits
        (also on an error path, through atexit)."""
        gateway = SparkContext._gateway
        if gateway is None or gateway.proc.poll() is not None:
            return
        if spark is not None:
            spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    atexit.register(stop_jvm)

    def setup() -> float:
        nonlocal spark
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)
        spark = session.get_spark("perfbench", SESSION_CONF)
        docstore.build_collection(spark, sf_dir)
        catalog.load_table(spark, sf_dir, "region").count()
        return time.perf_counter() - t0

    setups = [setup() for _ in range(SETUPS)]
    if tracer:
        tracer.attach(spark)

    qs = registry.queries()
    oracles = registry.oracle_sql()
    con = duck_connect(sf_dir)
    ops = list(wl["ops"])
    rng = random.Random(args.seed)
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
    records: list[dict] = []

    def call(op: str, pass_no: int) -> object:
        rec = {"op": op, "pass": pass_no, "ok": True}
        if tracer:
            tracer.begin_call(rec)
        df = None
        t0 = time.perf_counter()
        try:
            with span("op." + op):
                with span("operators.call"):
                    df = qs[op](spark, sf_dir)
                t1 = time.perf_counter()
                with span("sink.noop_write"):
                    df.write.format("noop").mode("overwrite").save()
            rec["call_s"] = t1 - t0
        except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
            rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
            df = None
        rec["wall_s"] = time.perf_counter() - t0
        if tracer:
            tracer.end_call(rec, df)
        records.append(rec)
        return df

    def check(op: str, df, rec: dict) -> None:
        """Untimed oracle gate: exact compare, checksum on a collect failure."""
        if df is None:
            return
        try:
            ok, msg = compare(df, con, oracles[op])
        except Exception:  # noqa: BLE001 - too big or not collectable
            ok, msg = compare_checksum(df, con, oracles[op])
        rec["oracle"] = msg
        if not ok:
            rec["ok"] = False
            rec["error"] = f"oracle mismatch: {msg}"

    # cold pass: the first call of every op in this process, in the listed
    # order, so which op pays the JVM's warm-up does not depend on the seed
    for op in ops:
        if op not in oracles:
            records.append({"op": op, "pass": 0, "ok": False, "wall_s": 0.0,
                            "error": "no oracle for op"})
            continue
        df = call(op, 0)
        check(op, df, records[-1])
    cold = [r for r in records if r["pass"] == 0]

    # warm passes until --seconds have passed (at least MIN_WARM_PASSES);
    # a traced run alternates traced and untraced passes and needs an
    # untraced one between two traced ones, so the overhead it reports does
    # not include the speed-up from one pass to the next
    t_warm = time.perf_counter()
    passes: list[list[dict]] = []
    while (len(passes) < MIN_WARM_PASSES + args.trace
           or time.perf_counter() - t_warm < args.seconds):
        order = ops[:]
        rng.shuffle(order)
        if tracer:
            tracer.set_active(len(passes) % 2 == 0)
        for op in order:
            call(op, len(passes) + 1)
        passes.append(records[-len(order):])
    warm_s = time.perf_counter() - t_warm

    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"])
    warm = [r for p in passes for r in p]
    # each op's median warm call, so one slow call does not move a metric
    op_s = {op: statistics.median([r["wall_s"] for r in warm if r["op"] == op and r["ok"]]
                                  or [0.0]) for op in ops}
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_run_s": (sum(r["wall_s"] for r in cold), "s"),
        "run_s": (sum(op_s.values()), "s"),
        "op_p50_s": (statistics.median(op_s.values()), "s"),
        "op_p90_s": (statistics.quantiles(op_s.values(), n=10, method="inclusive")[-1], "s"),
        "success_rate": (1.0 - failed / attempted, "ratio"),
    }

    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    info = {
        "process_s": round(time.perf_counter() - T_PROCESS, 2),
        "setups_s": [round(s, 4) for s in setups],
        "warm_s": round(warm_s, 2),
        "warm_passes": len(passes),
        "pass_s": [round(sum(r["wall_s"] for r in p), 3) for p in passes],
        "warm_calls": len(warm),
        "error_rate": failed / attempted,
        "oracle_mismatches": sum(1 for r in records if "oracle mismatch" in r.get("error", "")),
        "driver_jvm_peak_rss_mb": round(_vm_hwm_kb(jvm_pid) / 1024, 1),
        "python_peak_rss_mb": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1),
    }
    for r in records:
        if not r["ok"]:
            print(f"# FAILED {r['op']} (pass {r['pass']}): {r.get('error')}", file=sys.stderr)
    for op in ops:
        c = [r["wall_s"] for r in cold if r["op"] == op]
        w = [r["wall_s"] for r in warm if r["op"] == op]
        print(f"op {op:<34} cold {c[0] if c else 0:8.3f} s  warm median "
              f"{op_s[op]:8.3f} s  over {len(w)} calls")
    tag = f"workload={args.workload} seed={args.seed} cpus={cpus} sf={sf}"
    for name, (value, unit) in e2e.items():
        print(f"{name:>14} = {value:.4f} {unit:<5} ({tag})")
    print("info " + json.dumps(info))

    if tracer:
        metrics = tracer.finish(records, passes, info)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    stop_jvm()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
