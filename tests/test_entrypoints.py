"""The spark-submit jobs and the tools scripts still import and compile.

The imports run inside the tests, not at module level, so a job that
imports a deleted name fails here as a test instead of dropping out of
the suite as a collection error.
"""

import importlib
import py_compile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "module", ["jobs.crawl_round", "jobs.frontier_bench", "jobs.parse_bench"]
)
def test_job_imports(module):
    importlib.import_module(module)


@pytest.mark.parametrize("script", ["tools/scaling_bench.py", "tools/check_contract.py"])
def test_tool_compiles(script, tmp_path):
    py_compile.compile(
        str(REPO / script), cfile=str(tmp_path / "out.pyc"), doraise=True
    )
