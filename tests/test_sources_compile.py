"""Every tracked Python file outside perfbench/ compiles with warnings as
errors: invalid string escapes warn today and become errors in later
Pythons."""

import os
import subprocess
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_py_files():
    out = subprocess.run(["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True,
                         text=True, check=True).stdout.split()
    return [p for p in out if not p.startswith("perfbench/")]


def test_tracked_sources_compile_warning_free():
    files = _tracked_py_files()
    assert "__spark_entry__.py" in files
    failed = []
    for rel in files:
        with open(os.path.join(ROOT, rel), "rb") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, rel, "exec")
            except (SyntaxError, Warning) as exc:
                failed.append(f"{rel}: {exc}")
    assert failed == []
