"""Benchmark command: three workloads against the package as deployed.

    python3 perfbench/run.py --workload {dashboard,live_tally,curate} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root.  The session is the package's own
``session.get_spark`` at ``local[nproc]`` (``SPARK_GRAFT_CPUS`` is set
to the usable core count); the benchmark adds no session tuning.  Inputs
are the parquet tables under ``perfbench/data`` plus what ``--seed``
derives from them.  All scratch (Spark local dirs, temp files, stream
feeds, curated output) lives under ``.bench_run/`` in the checkout and
is removed on exit.

stdout: one detail JSON line per run (environment, per-pass series and
the workload's own metric names), then -- always last -- the result
line ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORKLOADS = ("dashboard", "live_tally", "curate")


def _prepare_env(work: str) -> int:
    """Deployment environment, set before the JVM starts: the core
    count, the repo root on the Python workers' path, and every scratch
    location inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    # -XX:-UsePerfData: HotSpot's hsperfdata file ignores java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    return cpus


def _commit() -> str:
    """The checked-out commit, when the checkout is a git repository."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() or "unknown"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "de_realtime_voting_spark", "__init__.py")):
        print(f"no de_realtime_voting_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"missing benchmark inputs {DATA}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        cpus = _prepare_env(work)
        sys.path.insert(0, ROOT)
        import pyspark

        wl = importlib.import_module(args.workload)  # perfbench/<workload>.py
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": cpus,
            "master": f"local[{cpus}]",
            "pyspark": pyspark.__version__,
            "data_dir": os.path.relpath(DATA, ROOT),
            "commit": _commit(),
        }
        res = wl.run(
            seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            data=DATA, work=work, env=env,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch is still there
    print(json.dumps({"env": env, **res["detail"]}), flush=True)
    print(json.dumps({
        "correct": res["correct"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()
        },
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
