"""Benchmark entry point.

    python3 perfbench/run.py --workload {tpch,pyboundary,stream_sql} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Starts one `local[nproc]` session with
the program's default settings, runs the workload's closed loop (one
client) for about S seconds after its untimed warm-up, checks every
output against an independent computation, and prints one JSON object
as the last line of standard output.  `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics, read
from Spark's status store, SQL metrics and streaming progress.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402


def _metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def _environment(work: str) -> None:
    """Python workers import the program from the repository root
    whatever the working directory; temporary files stay in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(probes.process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("tpch", "pyboundary", "stream_sql"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    ready_clock = time.monotonic() - probes.process_age_s()  # process start

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    steal = probes.StealSampler()
    spark = None
    try:
        _environment(work)
        if args.workload == "stream_sql":
            from perfbench import stream as workload
        else:
            from perfbench import batch as workload
        res = workload.run(args, ready_clock, work)
        spark = res.pop("spark")
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "steal_share": round(steal.share(), 4),
            "settings": probes.effective_settings(spark),
            **res["info"],
            "end_to_end": res["end_to_end"],
            "peak_rss_mb": res["layers"]["session.peak_rss_mb"],
        }
    finally:
        if spark is None and "pyspark.sql" in sys.modules:  # the run failed
            spark = sys.modules["pyspark.sql"].SparkSession._instantiatedSession
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    if args.trace:
        rounds = res["timed_rounds"]
        metrics = {
            name: {
                "value": res["layers"][name]
                if name in res["layers"]
                else probes.median([r.get(name, 0.0) for r in rounds]),
                "unit": unit,
            }
            for name, unit in _metrics("per_layer")
        }
    else:
        metrics = {
            name: {"value": res["end_to_end"][name], "unit": unit}
            for name, unit in _metrics("end_to_end")
        }
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
