"""One benchmark run in this process. ``run.py`` starts it, owns the work
directory (``--work``) and stops whatever this process leaves running; run
``run.py``, not this file."""

from __future__ import annotations

import sys
from pathlib import Path


def main(argv: list[str]) -> int:
    from run import parser

    p = parser()
    p.add_argument("--work", required=True)
    args = p.parse_args(argv)
    root = Path.cwd()
    sys.path.insert(1, str(root))  # after this directory

    import workloads

    return workloads.run(args, root, Path(args.work))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
