"""Same-host benchmark for the KG pipeline.

    python3 perfbench/run.py --workload build_distinct --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, drives the pipeline through its public functions in a closed loop
(one client: each job or ingest batch starts when the previous one ends) for
``--seconds``, checks every output, and prints one JSON object as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
repeats the loop with spans on and runs the per-layer ledger. Exit code 1
when any output check fails; 2 when the repository is not there; 3 when the
run outlasts ``DEADLINE_S`` plus ``--seconds``.

This process only supervises: the run itself is ``child.py`` in a child
process, and every process the run starts is stopped and reaped before this
one exits (``procs.py``).
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("build_distinct", "build_episodes", "ingest_incremental", "near_dup_notes")
# with --seconds 6 a run ends within 180 s: stopping takes at most 16 more
DEADLINE_S = 150.0


def parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p


class _Stopped(Exception):
    pass


def _on_signal(signum, _frame):
    raise _Stopped(signal.Signals(signum).name)


def main(argv: list[str]) -> int:
    args = parser().parse_args(argv)
    root = Path.cwd()
    needed = [root / "llacie_spark" / "pipeline.py", root / "fixtures" / "admission-100.txt"]
    missing = [str(x.relative_to(root)) for x in needed if not x.exists()]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    here = Path(__file__).resolve().parent
    sys.path.insert(0, str(here))
    from procs import become_subreaper, die_with_parent, stop_all

    work = root / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # everything the run writes, Spark and Python temp files included,
    # stays under the checkout
    env = dict(os.environ, TMPDIR=str(work / "tmp"),
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")  # no /tmp/hsperfdata_*
    become_subreaper()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _on_signal)
    code = 3
    try:
        child = subprocess.Popen(
            [sys.executable, str(here / "child.py"), *argv, "--work", str(work)],
            env=env, preexec_fn=die_with_parent,
        )
        try:
            code = child.wait(timeout=DEADLINE_S + args.seconds)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run outlasted {DEADLINE_S + args.seconds:.0f} s; stopped",
                  file=sys.stderr)
    except _Stopped as e:
        print(f"perfbench: {e}; stopped", file=sys.stderr)
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
