"""Every package module imports without a SparkSession."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "knowledge_extraction_pipeline_spark"


def test_every_module_imports_without_a_session():
    """A module that builds a Column at import time needs an active
    SparkSession (SESSION_OR_CONTEXT_NOT_EXISTS): import them all in one
    fresh interpreter, where none exists."""
    modules = sorted(
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
        for p in (ROOT / PACKAGE).rglob("*.py"))
    code = ("import importlib, sys\n"
            "for name in sys.argv[1:]:\n"
            "    importlib.import_module(name)\n")
    run = subprocess.run([sys.executable, "-c", code, *modules], cwd=ROOT,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
