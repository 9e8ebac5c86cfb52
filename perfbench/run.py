"""Benchmark entry point: run one workload with one seed and print its
metrics as one JSON line (the last line of standard output).

    python3 perfbench/run.py --workload wordcount_state --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
named in BENCHMARK.json; ``--trace 1`` prints its per-layer metrics and
writes the spans to ``.perfbench/traces/``. See perfbench/README.md.

Every run works in a fresh temporary directory under ``.perfbench/tmp/``
(TMPDIR, SPARK_LOCAL_DIRS, the JVM's java.io.tmpdir, checkpoints, topics and
tables all live there) and deletes it at the end. Exit codes: 0 with a
result, 2 when the system under test or BENCHMARK.json is missing, 3 when
the run was invalid (see ``common.InvalidRun``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("relay", "wordcount_state", "batch_analytics")
DRIVER_MEMORY = "2g"


def _isolate(tmp: str) -> None:
    """Point every temporary-file location of this process, the JVM and the
    Python workers at ``tmp`` (must run before Spark starts)."""
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    # -XX:-UsePerfData: each JVM (the launcher's and the driver's) would
    # otherwise keep a file in /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    tempfile.tempdir = tmp


def _shutdown() -> None:
    """Stop Spark, the JVM and every process this run started, and wait
    until each has ended."""
    try:
        from pyspark import SparkContext

        from kasper_spark.session import stop_spark

        stop_spark()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
    except ImportError:
        pass
    from common import alive, descendants

    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if alive(p)]
            if not pids:
                return
            time.sleep(0.05)


def _overheads(workload: str, e2e: dict) -> dict:
    """Traced minus untraced end-to-end values; the untraced base is the
    median of this checkout's earlier untraced runs of the workload."""
    from common import percentile

    base: dict[str, list[float]] = {}
    path = os.path.join(STATE, "results.jsonl")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                rec = json.loads(line)
                if rec["workload"] == workload and not rec["trace"]:
                    for k, v in rec["metrics"].items():
                        base.setdefault(k, []).append(v["value"])
    n = min((len(base.get(k, [])) for k in e2e), default=0)
    out = {"trace.base_runs": (n, "count")}
    for k, (value, unit) in e2e.items():
        out[f"trace.overhead.{k}"] = (value - percentile(base[k], 50) if n else 0.0, unit)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "kasper_spark")) or not os.path.exists(spec_path):
        print("perfbench: run from a checkout holding kasper_spark/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    from common import InvalidRun, RssSampler, contention_probe, cpu_times
    from spans import Tracer

    env = contention_probe()
    steal0, total0 = cpu_times()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    tmp = os.path.join(STATE, "tmp", run_id)
    os.makedirs(tmp)
    _isolate(tmp)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    rss = RssSampler()
    try:
        if args.workload == "batch_analytics":
            import batch

            res = batch.run(args.seed, args.seconds, tracer, tmp, rss)
        else:
            import stream

            res = stream.run(args.workload, args.seed, args.seconds, tracer, tmp, rss)
    except InvalidRun as exc:
        print(f"perfbench: invalid run, nothing reported: {exc}", file=sys.stderr)
        return 3
    finally:
        _shutdown()
        shutil.rmtree(tmp, ignore_errors=True)

    steal1, total1 = cpu_times()
    env["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    e2e = dict(res["e2e"])
    e2e["peak_rss_mb"] = (rss.peak_mb, "MB")
    if args.trace:
        layers = dict(res["layers"])
        layers.update(_overheads(args.workload, e2e))
        layers["env.nproc"] = (env["nproc"], "count")
        layers["env.loadavg_1m"] = (env["loadavg_1m"], "load")
        layers["env.foreign_jvms"] = (env["foreign_jvms"], "count")
        layers["env.steal_pct"] = (env["steal_pct"], "%")
        declared, produced = spec["per_layer"], layers
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.write(os.path.join(STATE, "traces", f"{run_id}.json"))
    else:
        declared, produced = spec["end_to_end"], e2e
    metrics = {}
    for m in declared:
        value, unit = produced.pop(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit} != declared {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    if args.trace == 0 and any(v["value"] == 0 for v in metrics.values()):
        raise ValueError(f"an end-to-end metric read 0: {metrics}")
    if produced:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(produced)}")

    if not args.trace:
        with open(os.path.join(STATE, "results.jsonl"), "a", encoding="utf-8") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "env": env,
                                 "metrics": metrics}) + "\n")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
