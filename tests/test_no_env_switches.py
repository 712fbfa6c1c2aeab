"""Static guard: the package reads no ``SPARK_GRAFT_*`` environment
switch beyond the two session settings. Each operator has one code
path, so an env-selected alternative implementation is a regression.

Scans ``scalecast_spark/**/*.py`` with ``ast`` — no Spark session. Every
string literal that is exactly an env-style ``SPARK_GRAFT_*`` name (or
the bare prefix, which would build one) counts as a read; docstrings
and comments that mention a name inside longer text do not.
"""

import ast
import re
from pathlib import Path

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
_NAME = re.compile(r"SPARK_GRAFT_[A-Z0-9_]*")
_PKG = Path(__file__).resolve().parent.parent / "scalecast_spark"


def _env_names():
    found = {}
    for path in sorted(_PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _NAME.fullmatch(node.value)
            ):
                rel = path.relative_to(_PKG.parent)
                found.setdefault(node.value, []).append(f"{rel}:{node.lineno}")
    return found


def test_package_reads_only_session_env_names():
    found = _env_names()
    extra = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not extra, f"SPARK_GRAFT_* switches read by the package: {extra}"
    # the scan is live: the session settings are still found
    assert set(found) == ALLOWED
