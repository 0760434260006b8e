"""Every source file compiles with warnings raised as errors, so an invalid
escape sequence (a SyntaxWarning from Python 3.12) cannot creep back."""

from __future__ import annotations

import glob
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    paths = ["__spark_entry__.py", *glob.glob("bench*.py", root_dir=ROOT)]
    for top in ("transmog_spark", "jobs", "scripts"):
        paths += glob.glob(f"{top}/**/*.py", root_dir=ROOT, recursive=True)
    return sorted(paths)


def test_sources_compile_without_warnings():
    failures = []
    for path in _sources():
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, path, "exec")
            except (SyntaxError, Warning) as exc:
                failures.append(f"{path}: {exc}")
    assert len(_sources()) > 50
    assert not failures, failures
