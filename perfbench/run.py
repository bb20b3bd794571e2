#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The workload's inputs are generated from
``--seed`` under ``.perfbench_work/`` in the current directory, the timed
part runs for about ``--seconds``, outputs are checked, and the last line
of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, taken from spans around each
call into the program plus Spark's job counters for those spans.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import traceback

# the workloads BENCHMARK.json names, each a list of workload modules whose
# units run in turn; a traced run of any of them prints the per-layer
# metrics of all modules (0 where a layer is not used)
WORKLOADS = {
    "survey_report": ("perfbench.wl_survey",),
    "curation_star": ("perfbench.wl_curation", "perfbench.wl_star"),
}
PACKAGE = "automated_review_analysis_pipeline_spark"
DEADLINE_S = 170


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Environment the driver JVM and Spark's Python workers inherit:
    the repo root on PYTHONPATH (workers unpickle benchmark-owned
    functions such as the stub LLM client), and every scratch path
    inside the run's work directory."""
    from perfbench.harness import nproc

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (Spark launcher, Spark driver, javac): temp files in the work
    # dir and no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("OPENAI_API_KEY", None)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root ({PACKAGE}/ not found "
              f"in {root})", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.harness import Run, fresh_dir, layer_values, run_workload

    work = fresh_dir(os.path.join(root, ".perfbench_work", args.workload))
    prepare_env(root, work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              root, work)

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    all_modules = [importlib.import_module(m)
                   for names in WORKLOADS.values() for m in names]
    modules = [importlib.import_module(m) for m in WORKLOADS[args.workload]]
    try:
        run.launch()
        run_workload(run, modules)
        if run.trace:
            run.layer_spans()
            for m in modules:
                if hasattr(m, "record_totals"):
                    m.record_totals(run)
            layers = layer_values(run, [n for m in all_modules
                                        for n in m.layer_names()])
            run.tracer.dump(os.path.join(work, "spans.jsonl"))
    except Exception:
        traceback.print_exc()
        print("error: workload raised; no result", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        run.close()
    run.put("ok_rate", (run.attempted - run.failed) / max(run.attempted, 1),
            "ratio")
    for what in run.failures:
        print(f"check failed: {what}", file=sys.stderr)
    if run.trace:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in run.metrics.items()}
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if here not in sys.path:
        sys.path.insert(0, here)
    sys.exit(main())
