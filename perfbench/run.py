"""Repository benchmark: one closed-loop client against Spark local[nproc].

Usage (from the repository root)::

    python3 perfbench/run.py --workload vdb_read --seed 1 --seconds 7 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``vdb_read``: reads against a seeded FLAT + IVF_FLAT collection;
- ``vdb_rw``: upsert/update/delete beside reads that must observe them;
- ``batch_pipeline``: one pass of fifteen registry queries, each built
  once in the warm-up;
- ``stream_ingest``: four epoch-index ingest twins, epoch by epoch.

Each run builds its inputs from ``--seed``, sets up twice (the
median counts), warms up, then issues whole cycles of its operation mix
for about ``--seconds`` seconds (at least one cycle) and checks every
output. Human-readable lines go first; the
last stdout line is one JSON object. With ``--trace 0`` it carries the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run, whose spans and counters are also written to
``.bench_run/traces/``. All state lives under ``.bench_run/`` in the
working directory and the run's own part is removed at exit, after the
Spark JVM and every Python worker it started have ended (``procs.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
from stats import percentile, tail_ok  # noqa: E402

WORKLOADS = ("vdb_read", "vdb_rw", "batch_pipeline", "stream_ingest")

# end-to-end metrics of every workload, as in BENCHMARK.json
E2E_UNITS = {
    "setup_s": "s",
    "cycle_s": "s",
    "space_amp": "ratio",
}


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    scale: str
    run_dir: str
    tracer: object | None


DRIVER_MEM = "2g"


def start_spark(run_dir: str, trace: bool):
    """The package's own session (``get_spark``) at local[nproc], with
    every file it, its Python workers and the package's fixture store
    write under ``run_dir``; Python workers import the package from the
    repository root."""
    local_dir = os.path.join(run_dir, "spark-local")
    tmp_dir = os.path.join(run_dir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM Spark launches: temp files under run_dir, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"
    os.environ["SPARK_GRAFT_PAYLOAD_STORE"] = os.path.join(run_dir, "payloads")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # settings get_spark leaves alone reach spark-submit this way
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
    }
    if trace:
        import counters

        conf.update(counters.spark_conf())
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    from aiotcvectordb_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def phase(name: str) -> None:
    """Where the run's wall time goes, on stderr: seconds since start."""
    print(f"phase {name} {time.perf_counter() - T_START:.1f} s", file=sys.stderr, flush=True)


def run_workload(name: str, ctx: Context) -> dict:
    if name in ("vdb_read", "vdb_rw"):
        import vdb

        return (vdb.run_read if name == "vdb_read" else vdb.run_rw)(ctx)
    if name == "batch_pipeline":
        import batch

        return batch.run(ctx)
    import stream

    return stream.run(ctx)


def cycle_seconds(rec, cycle) -> float:
    """Time of one cycle of the workload's operation mix with every
    operation at the median latency of its kind: a throughput measure
    that one stalled operation does not move. A kind whose every call
    failed counts at its failed calls' latency."""
    med = {}
    for k in set(cycle):
        lat = rec.latencies_ms({k}) or rec.latencies_ms({k}, failed_too=True)
        med[k] = statistics.median(lat) / 1e3
    return sum(med[k] for k in cycle)


def e2e_metrics(res: dict, session_s: float) -> dict[str, float]:
    rec = res["rec"]
    lat = rec.latencies_ms() or rec.latencies_ms(failed_too=True)
    return {
        "setup_s": session_s + statistics.median(res["setup_reps"]) + res["warm_s"],
        "cycle_s": cycle_seconds(rec, res["cycle"]),
        "ops_per_s": (rec.attempted - rec.failed) / res["wall_s"],
        "p50_ms": percentile(lat, 50),
        "space_amp": res["space_amp"],
    }


def named_lines(workload: str, res: dict, e2e: dict, attempted: int, failed: int) -> list[str]:
    """The workload's named end-to-end metrics, each with unit and
    sample count."""
    rec = res["rec"]
    lines = [
        f"setup_s {e2e['setup_s']:.3f} s (n={len(res['setup_reps'])} set-ups)",
        f"ops_per_s {e2e['ops_per_s']:.3f} 1/s (n={rec.attempted} ops in {res['wall_s']:.1f} s)",
        f"cycle_s {e2e['cycle_s']:.3f} s (n={len(res['cycle'])} ops per cycle)",
        f"p50_ms {e2e['p50_ms']:.1f} ms (n={len(rec.latencies_ms())})",
    ]
    for metric, (kinds, p) in res["classes"].items():
        lat = rec.latencies_ms(kinds)
        if not lat:
            continue
        note = "" if p == 50 or tail_ok(len(lat), p) else ", fewer than 10 samples beyond it"
        lines.append(f"{metric} {percentile(lat, p):.1f} ms (n={len(lat)}{note})")
    if "batch_s" in res:
        lines.append(f"batch_s {res['batch_s']:.3f} s (n=1 pass of {len(res['cycle'])} queries)")
    lines.append(f"space_amp {e2e['space_amp']:.3f} ratio")
    lines.append(f"fail_frac {failed / attempted:.4f} ratio (n={attempted} operations)")
    return [f"{workload} {line}" for line in lines]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="input sizes; smoke is a tiny self-test size")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "aiotcvectordb_spark")):
        print("error: the aiotcvectordb_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "tools"))  # the parity rule

    base = os.path.join(os.getcwd(), ".bench_run")
    run_dir = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tag = procs.tag_environment()
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, bool(args.trace))
        session_s = time.perf_counter() - t0
        phase("session")
        tracer = None
        if args.trace:
            import counters
            import layers
            from spans import Tracer

            tracer = Tracer(counters.job_group_setter(spark))
            layers.install(tracer, spark)
        ctx = Context(spark, args.seed, args.seconds, args.scale, run_dir, tracer)
        res = run_workload(args.workload, ctx)
        phase("workload")
        rec, untimed = res["rec"], res["untimed"]
        attempted = rec.attempted + untimed.attempted
        failed = rec.failed + untimed.failed
        rec.report_errors()
        untimed.report_errors()
        e2e = e2e_metrics(res, session_s)
        for line in named_lines(args.workload, res, e2e, attempted, failed):
            print(line)
        if args.trace:
            values, per_op = layers.metrics(tracer, spark, rec, res["layer_extra"])
            units = layers.METRICS
            metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
            _write_trace(base, args, tracer, values, e2e, per_op)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
            _save(os.path.join(base, "results"), f"{_run_name(args)}.json", {"e2e": e2e})
    finally:
        phase("report")
        try:
            procs.stop_spark(tag)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        phase("stopped")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _run_name(args) -> str:
    return f"{args.workload}-{args.scale}-seed{args.seed}"


def _save(directory: str, name: str, payload: dict) -> None:
    os.makedirs(directory, exist_ok=True)
    with open(os.path.join(directory, name), "w") as f:
        json.dump(payload, f)


def _write_trace(base: str, args, tracer, values: dict, e2e: dict, per_op: dict) -> None:
    """Write spans, per-operation counters and layer metrics; report
    tracing overhead against the untraced run of the same workload and
    seed when one was saved."""
    directory = os.path.join(base, "traces")
    os.makedirs(directory, exist_ok=True)
    tracer.dump(os.path.join(directory, f"{_run_name(args)}.json"),
                {"layers": values, "e2e": e2e, "op_counters": per_op})
    for name in sorted(values):
        if values[name]:
            print(f"{args.workload} {name} {values[name]:.6g}")
    untraced = os.path.join(base, "results", f"{_run_name(args)}.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            plain = json.load(f)["e2e"]["cycle_s"]
        over = e2e["cycle_s"] - plain
        print(f"{args.workload} tracing_overhead {over:.3f} s per cycle "
              f"({100 * over / plain:.1f}% of the untraced cycle_s)")


if __name__ == "__main__":
    raise SystemExit(main())
