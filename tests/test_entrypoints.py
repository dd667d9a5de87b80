"""Every runnable file has a documented caller (Spark-free).

A script that nothing names is a harness nobody re-runs: it rots while the
code under it moves. These checks keep the runnable surface equal to what
README's "Running" block, ``bench.py`` and the tests say it is.
"""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _running_block() -> list[list[str]]:
    readme = (REPO / "README.md").read_text()
    section = readme.split("## Running", 1)[1]
    block = re.search(r"```bash\n(.*?)```", section, re.S).group(1)
    lines = (ln.split("#", 1)[0].split() for ln in block.splitlines())
    return [words for words in lines if words]


def _bench_main_modes() -> set[str | None]:
    """The ``--mode`` flags ``bench.py``'s ``__main__`` branches on; None
    stands for the default (the final ``else``)."""
    tree = ast.parse((REPO / "bench.py").read_text())
    main = next(
        n for n in tree.body
        if isinstance(n, ast.If) and "__main__" in ast.unparse(n.test)
    )
    modes: set[str | None] = set()
    branch = main.body[0]
    while isinstance(branch, ast.If):
        test = branch.test
        assert isinstance(test, ast.Compare) and ast.unparse(test.comparators[0]) == "sys.argv"
        modes.add(test.left.value)
        if len(branch.orelse) == 1 and isinstance(branch.orelse[0], ast.If):
            branch = branch.orelse[0]
        else:
            if branch.orelse:
                modes.add(None)
            break
    return modes


def test_every_script_is_named_somewhere():
    this = Path(__file__).resolve()
    texts = [(REPO / "README.md").read_text(), (REPO / "bench.py").read_text()]
    texts += [p.read_text() for p in (REPO / "tests").rglob("*.py") if p.resolve() != this]
    unnamed = [
        p.name for p in sorted((REPO / "scripts").glob("*.py"))
        if not any(p.name in t for t in texts)
    ]
    assert unnamed == [], f"scripts with no caller or README entry: {unnamed}"


def test_readme_running_block_names_real_files_and_bench_modes():
    readme_modes: set[str | None] = set()
    for words in _running_block():
        if words[0] != "python" or words[1] == "-m":
            continue
        assert (REPO / words[1]).is_file(), f"README runs a missing file: {words[1]}"
        if words[1] == "bench.py":
            flags = [w for w in words[2:] if w.startswith("--")]
            assert len(flags) <= 1, words
            readme_modes.add(flags[0] if flags else None)
    assert readme_modes == _bench_main_modes()


def test_bench_keeps_the_steal_probes_other_harnesses_import():
    # perfbench/workloads.py and scripts/lifecycle_stress.py import these
    from bench import _cpu_stat, _steal_pct

    before = _cpu_stat()
    assert 0.0 <= _steal_pct(before, _cpu_stat()) <= 100.0
