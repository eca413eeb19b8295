"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One process runs one
workload (see ``harness.make_workload``); inputs come from ``--seed``.
Progress goes to standard error; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. All scratch files live in ``.perfbench_work/`` under the
checkout and are removed before exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "xcrawl3r_spark", "__init__.py")):
        print(f"perfbench: {root} holds no xcrawl3r_spark package; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # every temporary file the run, Spark and its workers make stays here
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM (launcher and driver): no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}")
    sys.path.insert(0, root)
    try:
        import harness

        if args.workload not in harness.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose "
                  f"from {', '.join(harness.WORKLOADS)}", file=sys.stderr)
            return 2
        try:
            result = harness.run(args.workload, args.seed, args.seconds,
                                 bool(args.trace), work, T_PROCESS)
        finally:
            harness.stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
