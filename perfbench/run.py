#!/usr/bin/env python3
"""FtM lakehouse benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 2 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. Inputs come from ``--seed``; the serving
phase lasts ``--seconds``; every output is checked. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything the run writes goes under
``.perfbench/`` in the repository root: stores and Spark scratch in a
per-run directory removed at exit, reports in ``.perfbench/out/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics, in report order, with units. The serving
#: latencies and the get_many rate are reported but are not end-to-end
#: metrics: on a 4-core shared VM they swing by more than any usable
#: regression bound between runs of the same code.
E2E = {
    "setup_s": "s",
    "batch_ops_s": "s",
    "pipeline_s": "s",
    "bulk_op_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "row_bytes_per_input_byte": "ratio",
}
CPUS = "4"
DRIVER_MEM = "3g"


def calibrate() -> float:
    """Fixed single-core CPU spin (sha256 over 64 MiB), wall seconds: a
    record of host speed and contention next to each result."""
    chunk = bytes(1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(chunk)
    h.hexdigest()
    return time.perf_counter() - t0


def host_context() -> dict:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "calib_s": calibrate(),
        # CPU time the hypervisor gave to other guests, since boot
        "steal_s": int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else None,
    }


def _prepare_env(work: str, trace: bool) -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the launcher JVM that spark-submit starts first stays out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work} -XX:-UsePerfData",
    ]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}"]
    os.environ["SPARK_GRAFT_CONF"] = ";".join(conf)
    import tempfile

    tempfile.tempdir = work


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import ftm_lakehouse_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: the engine package is not importable here ({e})")
    import selftest
    import tracing
    from workloads import GATES, WORKLOADS, Ctx

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    try:
        _prepare_env(work, trace)
        host = {"start": host_context()}
        from ftm_lakehouse_spark.session import get_spark

        tr = tracing.Tracer() if trace else tracing.NullTracer()
        if trace:
            tracing.install(tr)
        t = time.perf_counter()
        spark = get_spark("perfbench")
        spark_start_s = time.perf_counter() - t
        tr.spark = spark
        ctx = Ctx(spark, work, seed, seconds, tr)
        for name, ok, detail in selftest.checks(seed):
            ctx.check(f"selftest.{name}", ok, detail)
        try:
            e2e = WORKLOADS[workload](ctx)
        finally:
            _stop_spark(spark)
        host["end"] = host_context()
        result = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "host": host, "spark_start_s": spark_start_s, "phases_s": ctx.phases,
            "samples": ctx.samples,
            "inputs": ctx.inputs,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in ctx.named.items()},
            "e2e": e2e, "attempted": ctx.attempted, "failed": ctx.failed,
            "failures": ctx.failures,
        }
        stem = os.path.join(out_dir, f"{workload}-seed{seed}")
        if trace:
            jobs = tracing.read_event_log(os.path.join(work, "eventlog"))
            layers = tracing.per_layer(tr.spans, jobs, ctx.extra, list(GATES))
            result["per_layer"] = layers
            result["self_time"] = tracing.layer_report(tr.spans)
            result["spark_jobs"] = len(jobs)
            tr.dump(stem + "-spans.jsonl")
            if os.path.exists(stem + "-untraced.json"):
                with open(stem + "-untraced.json") as fh:
                    plain = json.load(fh)["e2e"]
                result["trace_overhead"] = {
                    k: e2e[k] / plain[k] - 1.0 for k in E2E if plain.get(k)
                }
        with open(stem + ("-traced.json" if trace else "-untraced.json"), "w") as fh:
            json.dump(result, fh, indent=1, default=str)
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def print_result(result: dict) -> None:
    trace = result["trace"]
    print(f"# {result['workload']} seed={result['seed']} host={json.dumps(result['host'])}")
    for k, v in result["named"].items():
        print(f"{result['workload']}.{k} = {v['value']:.6g} {v['unit']}")
    attempted, failed = result["attempted"], result["failed"]
    print(f"{result['workload']}.failed_frac = {failed / attempted:.6g} (failed/attempted)")
    for k, v in (result.get("trace_overhead") or {}).items():
        print(f"trace_overhead.{k} = {v:+.3%}")
    if trace:
        import tracing

        metrics = {k: {"value": v, "unit": tracing.unit_of(k)}
                   for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": result["e2e"][k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def run_all(args) -> int:
    """Run every workload in its own process; print all their lines."""
    from workloads import WORKLOADS

    code = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        code = code or proc.returncode
    return code


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=2.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    print_result(run_one(args.workload, args.seed, args.seconds, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
