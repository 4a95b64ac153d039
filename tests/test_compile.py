"""Every tracked Python file compiles with warnings as errors, so an
invalid string escape (a SyntaxWarning today, an error in a later
Python) fails the suite instead of scrolling past in the log."""

import subprocess
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _tracked_python_files() -> list:
    try:
        out = subprocess.run(["git", "ls-files", "*.py"], cwd=ROOT,
                             check=True, capture_output=True, text=True)
        return out.stdout.split()
    except (OSError, subprocess.CalledProcessError):   # not a checkout
        return [str(p.relative_to(ROOT)) for p in ROOT.rglob("*.py")
                if not any(part.startswith(".")
                           for part in p.relative_to(ROOT).parts)]


def test_tracked_python_compiles_with_warnings_as_errors():
    files = _tracked_python_files()
    assert "__spark_entry__.py" in files
    bad = []
    for name in files:
        src = (ROOT / name).read_text(encoding="utf-8")
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, name, "exec")
            except SyntaxError as exc:
                bad.append(f"{name}:{exc.lineno}: {exc.msg}")
    assert not bad, bad
