"""What ships in the package: every engine module is reached, and the
--py-files zip holds exactly the engine modules and imports on its own.

A module under ``sparkextract/`` is shipped in the zip, so one that no
driver query, task, CLI command or benchmark imports is dead weight kept
alive only by its own tests. The walk follows every ``import`` and
``from ... import`` statement (function-local ones included) from the
production roots below, through any module of this repository it reaches.
"""

import ast
import glob
import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PRODUCTION_ROOTS = (
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "submit_job.py",
    "sparkextract/cli.py",
    "perfbench/*.py",
    "BENCH/*.py",
)


def _module_file(name: str) -> str | None:
    path = os.path.join(ROOT, *name.split("."))
    for cand in (path + ".py", os.path.join(path, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _imported_names(path: str):
    rel_dir = os.path.relpath(os.path.dirname(path), ROOT)
    pkg = [] if rel_dir == "." else rel_dir.split(os.sep)
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            parts = pkg[: len(pkg) - node.level + 1] if node.level else []
            base = ".".join(parts + ([node.module] if node.module else []))
            yield base
            # `from pkg import mod` imports a module, not just a name
            yield from (f"{base}.{a.name}" for a in node.names)


def _reached_files() -> set[str]:
    todo = []
    for pattern in PRODUCTION_ROOTS:
        matched = glob.glob(os.path.join(ROOT, pattern))
        assert matched, f"production root {pattern!r} matches no file"
        todo += matched
    seen: set[str] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        todo += filter(None, map(_module_file, _imported_names(path)))
    return seen


# The media codecs (image decode, JPEG, WAV/AVI) are reached only from
# their own tests; their removal is a separate change. The list may only
# shrink: a module leaves it when it is deleted or a root starts using it.
PENDING_REMOVAL = {"jpeg.py", "multimodal.py", "riffav.py"}


def _engine_modules() -> list[str]:
    return sorted(glob.glob(os.path.join(ROOT, "sparkextract", "*.py")))


def test_every_engine_module_is_reached_from_a_production_root():
    reached = _reached_files()
    unreached = {
        os.path.basename(p)
        for p in _engine_modules()
        if p not in reached and os.path.basename(p) != "__init__.py"
    }
    assert not unreached - PENDING_REMOVAL, (
        f"no production root imports: {sorted(unreached - PENDING_REMOVAL)}"
    )
    assert PENDING_REMOVAL <= unreached, (
        "reached or deleted, drop from PENDING_REMOVAL: "
        f"{sorted(PENDING_REMOVAL - unreached)}"
    )


def test_build_zip_ships_the_engine_and_imports_without_the_repo(tmp_path):
    from sparkextract import cli

    zpath = str(cli.build_zip(tmp_path / "p.zip"))
    with zipfile.ZipFile(zpath) as z:
        members = sorted(z.namelist())
    assert members == [
        f"sparkextract/{os.path.basename(p)}" for p in _engine_modules()
    ]

    # -I drops PYTHONPATH and the working directory from sys.path, so the
    # engine can only come from the zip.
    probe = (
        "import sys\n"
        f"sys.path.insert(0, {zpath!r})\n"
        f"assert not any(p and {ROOT!r} in p for p in sys.path[1:]), sys.path\n"
        "import sparkextract.fused as f\n"
        "print(f.__file__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", probe],
        cwd=tmp_path, capture_output=True, text=True, check=True,
    ).stdout
    assert out.strip() == os.path.join(zpath, "sparkextract", "fused.py")
