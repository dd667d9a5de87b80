"""Every runnable file has a documented caller, and every public catalog
and incremental-derivation entry point a program caller (Spark-free).

A script that nothing names is a harness nobody re-runs: it rots while the
code under it moves. These checks keep the runnable surface equal to what
README's "Running" block, ``bench.py`` and the tests say it is. A public
method only tests call is the same kind of rot one level down: code kept
alive by its own tests.
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



# where a program caller may live: everything runnable except the tests
CALLER_FILES = [
    *(REPO / "llacie_spark").rglob("*.py"),
    *(REPO / "jobs").glob("*.py"),
    *(REPO / "scripts").glob("*.py"),
    *(REPO / "perfbench").glob("*.py"),
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
]
# the receivers a SnapshotCatalog goes by in the caller files (``self``
# inside io.py, whose one class with methods is the catalog). Matching the
# receiver keeps a DataFrame call of the same name (``df.drop``) from
# counting as a catalog caller.
CATALOG_RECEIVERS = {"cat", "catalog", "SnapshotCatalog"}
# public methods with no program caller on purpose, and why
OPERATOR_ONLY = {
    "drop": "an operator's command: the rebuild the manifest-format error "
    "asks for, and the way to clear tables nothing reads any more",
}


def _public_defs(path: Path, cls: str | None = None) -> set[str]:
    body = ast.parse(path.read_text()).body
    if cls is not None:
        body = next(n for n in body if isinstance(n, ast.ClassDef) and n.name == cls).body
    return {
        n.name for n in body
        if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
    }


def _receiver(node: ast.expr) -> str | None:
    """Last name of a call's receiver: ``cat`` for ``self.cat.f()``,
    ``SnapshotCatalog`` for ``SnapshotCatalog(root).f()``."""
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    return getattr(node, "id", None)


def _called_names(catalog_only: bool) -> set[str]:
    """Names called in the caller files, ``f(...)`` and ``x.f(...)``; with
    ``catalog_only``, only methods called on a catalog."""
    names: set[str] = set()
    for path in CALLER_FILES:
        receivers = CATALOG_RECEIVERS | ({"self"} if path == REPO / "llacie_spark/io.py" else set())
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute):
                if not catalog_only or _receiver(f.value) in receivers:
                    names.add(f.attr)
            elif isinstance(f, ast.Name) and not catalog_only:
                names.add(f.id)
    return names


def test_every_catalog_method_has_a_program_caller():
    methods = _public_defs(REPO / "llacie_spark/io.py", "SnapshotCatalog")
    uncalled = methods - _called_names(catalog_only=True) - set(OPERATOR_ONLY)
    assert uncalled == set(), f"SnapshotCatalog methods only tests call: {sorted(uncalled)}"
    assert set(OPERATOR_ONLY) <= methods


def test_every_incremental_function_has_a_program_caller():
    funcs = _public_defs(REPO / "llacie_spark/incremental.py")
    uncalled = funcs - _called_names(catalog_only=False)
    assert uncalled == set(), f"incremental functions only tests call: {sorted(uncalled)}"


def test_headline_report_is_written_where_git_ignores_it():
    """A plain ``python bench.py`` must not overwrite the committed
    ``BENCH/headline_r*.json`` reports: its report path is git-ignored."""
    import subprocess

    from bench import HEADLINE_DIR

    path = HEADLINE_DIR / "headline_r0.json"
    assert HEADLINE_DIR.parent == REPO
    ignored = subprocess.run(
        ["git", "check-ignore", "-q", str(path.relative_to(REPO))], cwd=REPO
    )
    assert ignored.returncode == 0, f"{path} is not git-ignored"


# a path ending in .py, then ":<line>"; not inside a longer path or word
_LINE_CITATION = re.compile(r"(?<![\w/.-])((?:[\w.-]+/)*[\w.-]+\.py):\d+")


def line_citations(text: str, repo_py: set[str]) -> list[str]:
    """The citations of one of ``repo_py``'s files by line number in ``text``;
    a citation of the reference (``llacie/...``) is not one."""
    return [
        m[0] for m in _LINE_CITATION.finditer(text)
        if not m[1].startswith("llacie/") and m[1].rsplit("/", 1)[-1] in repo_py
    ]


def test_docs_cite_repo_python_by_symbol():
    """README.md, COVERAGE.md and docs/*.md cite this repo's Python files by
    symbol (``scorer.GazetteerScorer``), not by line: a line number goes
    stale with the next edit above it."""
    repo_py = {p.name for p in REPO.rglob("*.py") if ".git" not in p.parts}
    assert line_citations("see `scorer.py:311` and llacie/vocab.py:86-121", repo_py) == ["scorer.py:311"]
    assert line_citations("`materialize.py:4-15`, the reference's llacie/db.py:237", repo_py) == ["materialize.py:4"]
    docs = [REPO / "README.md", REPO / "COVERAGE.md", *sorted((REPO / "docs").glob("*.md"))]
    found = {d.name: line_citations(d.read_text(), repo_py) for d in docs}
    assert not any(found.values()), {k: v for k, v in found.items() if v}
