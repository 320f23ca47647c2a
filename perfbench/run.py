"""Job-shape benchmark: ``ExtractionJob.run`` on ``local[nproc]``.

    python3 perfbench/run.py --workload fixture_mix --seed 1 \\
        --seconds 12 --trace 0

Workloads: ``fixture_mix`` and ``distinct_flate`` (BENCHMARK.json says
why each exists), and ``resume_tail``, a resume of the last 16 of 64
buckets, which runs by hand but is left out of BENCHMARK.json: every
run spends ~40 s starting Spark and warming the job path, so a third
workload would make a full set of runs too long.

After set-up and one discarded warm-up job, jobs run until
``--seconds`` of job time have passed, at least three of them.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
of BENCHMARK.json; with ``--trace 1`` it carries the per-layer metrics,
whose names start with the layer (``session``, ``sources.turns``,
``job`` for ``pipeline.job``, ``extraction`` for
``operators.extraction``, ``kernel``; ``trace.overhead_s`` is the
tracer's own), timed from this package around calls into each layer's
public functions. Every timed job is checked
against the golden text; ``failed`` counts the turns that were
missing, duplicated, wrong, or wrongly flagged, and
``failed_turns_ratio`` is ``failed`` / ``attempted``.

Everything the run writes — Spark local dirs, JVM temp files, corpus,
output and lineage — lives under ``.perfbench_work/<pid>`` at the
repository root and is removed at exit. ``bench.py`` and its demo-query
headline are a separate harness, not part of this benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "4g"  # of a 15 GB host without swap


def _configure(work: str) -> None:
    """Environment for the JVM and the Python workers, set before
    pyspark starts: workers import the package from ``ROOT``, and every
    temporary file goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    sys.path.insert(0, ROOT)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    # workers run this interpreter, and Spark binds to loopback only
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # C1 only: the first job in the JVM took 9.7 s instead of 12.8 s,
    # and the jobs after it ran as fast as with C2 in a process this
    # short (fixture_mix on 4 cores)
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                 " -XX:TieredStopAtLevel=1")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell")


def _remove_stale(parent: str) -> None:
    """Remove the work directories of runs that were killed."""
    if not os.path.isdir(parent):
        return
    for name in os.listdir(parent):
        if name.isdigit() and not os.path.exists(f"/proc/{name}"):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _bench(args, work: str, cores: int) -> dict:
    import pyarrow
    import pyspark

    from perfbench import host, jobrun, layers

    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "busy_loop_mops_before": host.busy_loop_mops(cores)}
    bench = jobrun.Bench(jobrun.WORKLOADS[args.workload], args.seed, work,
                         cores)
    try:
        bench.setup()
        if args.trace:
            values, trace_ok = layers.trace(bench)
        else:
            results = bench.measure(args.seconds)
            values = jobrun.end_to_end(bench, results)
            info["job_s_samples"] = [r.job_s for r in results]
            trace_ok = True
        info["corpus"] = bench.stats
        info["session_s"] = bench.session_s
        info["setups"] = bench.setups
    finally:
        bench.close()
    info["busy_loop_mops_after"] = host.busy_loop_mops(cores)
    print(json.dumps({"info": info}))

    units = _declared("per_layer" if args.trace else "end_to_end")
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(values)} differ from "
                           f"BENCHMARK.json {sorted(units)}")
    for name, value in values.items():
        print(f"{name:38s} {value:14.6g} {units[name]}")
    print(f"{'failed_turns_ratio':38s} "
          f"{bench.failed / max(bench.checked, 1):14.6g} ratio")
    return {"correct": trace_ok and bench.failed == 0,
            "attempted": bench.checked, "failed": bench.failed,
            "metrics": {n: {"value": v, "unit": units[n]}
                        for n, v in values.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("fixture_mix", "distinct_flate", "resume_tail"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pdf_parser_spark")):
        print(f"error: no pdf_parser_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _remove_stale(os.path.dirname(work))
    _configure(work)
    try:
        result = _bench(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
