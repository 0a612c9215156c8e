"""The spark-submit jobs and the tools scripts still import and compile,
the crawl job runs and continues end to end, its session carries the
engine defaults (and no other file builds a session), the scaling
bench's frontier round runs and its seen set prunes, every CrawlConfig
knob is set somewhere, and perfbench's tracer still finds every layer
entry point it patches.

The imports run inside the tests, not at module level, so a job that
imports a deleted name fails here as a test instead of dropping out of
the suite as a collection error.
"""

import dataclasses
import importlib
import io
import json
import os
import py_compile
import subprocess
import sys
import tokenize
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


def test_crawl_round_help_parses():
    out = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "crawl_round.py"), "--help"],
        capture_output=True, text=True, timeout=60, check=True,
    ).stdout
    assert "--checkpoint" in out and "--robots-from-pages" in out
    assert "--resume" not in out  # every run continues its checkpoint


def _crawl_round(tmp_path, paths, *extra):
    """Run jobs/crawl_round.py as its own process and return the JSON
    summary it prints last, with the process's stderr."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "crawl_round.py"),
         "--pages", paths["pages"], "--seeds", paths["seeds"],
         "--checkpoint", str(tmp_path / "ckpt"),
         "--max-depth", "1", "--max-rounds", "1", *extra],
        capture_output=True, text=True, timeout=600, check=True,
        cwd=str(tmp_path), env=env,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def test_crawl_round_runs_and_resumes(fixture_web, tmp_path):
    """The spark-submit entry crawls the fixture web end to end, and the
    same command re-submitted over the finished checkpoint prints the same
    round metrics. A healthy crawl logs no missing-path stack trace for the
    fresh seen table and no warning for a released checkpoint."""
    paths = fixture_web["paths"]
    first, first_err = _crawl_round(tmp_path, paths)
    again, _ = _crawl_round(tmp_path, paths)
    assert first["rounds"] == 2
    assert [m["round"] for m in first["metrics"]] == [0, 1]
    assert first["metrics"][1]["fetched"] > 0
    assert again == first
    assert "FileNotFoundException" not in first_err
    assert "lineage has been truncated" not in first_err


def test_frontier_workload_prunes_seen_and_splits_admitted(spark):
    """The scaling bench's round splits every admitted URL into exactly
    one half, and its seen set holds admission's keys: it admits fewer
    URLs than the same candidates against an empty seen set."""
    from jobs.frontier_bench import WHITELIST, run_frontier_workload, synth_candidates
    from webcrawler_spark.operators import admission

    out = run_frontier_workload(spark, 2000)
    assert out["fetch_now"] + out["deferred"] == out["admitted"]
    empty_seen = spark.createDataFrame([], "url_sha1 string")
    unpruned = admission.admit(
        synth_candidates(spark, 2000, 4), empty_seen, WHITELIST, max_depth=4
    ).count()
    assert 0 < out["admitted"] < unpruned, (out, unpruned)


def test_traced_entry_points_stay_patchable(spark):
    """perfbench's tracer patches the engine's layer entry points by name;
    a refactor that renames or drops one fails here, not in the traced
    benchmark run."""
    from perfbench.spans import Tracer
    from webcrawler_spark.operators import admission

    admit = admission.admit
    tracer = Tracer(spark)
    try:
        tracer.install()
        assert admission.admit is not admit
    finally:
        tracer.uninstall()
    assert admission.admit is admit


def _names_set(path: Path) -> set[str]:
    """Names a source file sets: a NAME token followed by ``=`` (keyword
    arguments, assignments). A read (``cfg.max_depth``) sets nothing, and
    comments and strings are tokens of their own, so a mention there sets
    nothing either."""
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
        if t.type not in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE)
    ]
    return {
        a.string for a, b in zip(toks, toks[1:])
        if a.type == tokenize.NAME and b.string == "="
    }


def test_every_crawl_config_knob_is_exercised():
    """Every CrawlConfig field is set in the code of some test or benchmark
    workload: a knob nothing sets is a plan nobody checks, and goes (or
    becomes a constant) instead."""
    from webcrawler_spark.plans.crawl import CrawlConfig

    used = set().union(*(
        _names_set(p)
        for d in ("tests", "perfbench")
        for p in sorted((REPO / d).glob("*.py"))
    ))
    unused = [f.name for f in dataclasses.fields(CrawlConfig) if f.name not in used]
    assert not unused, f"CrawlConfig fields no test or workload sets: {unused}"


# runs jobs/crawl_round.py's main() with run_crawl replaced by a stub that
# prints the settings of the session the job built, then crawls nothing
_SESSION_PROBE = """
import json, sys, types
import webcrawler_spark.plans.crawl as crawl
from jobs import crawl_round

keys = json.loads(sys.argv.pop())
def run_crawl(spark, *args, **kwargs):
    print(json.dumps({k: spark.conf.get(k) for k in keys}))
    return types.SimpleNamespace(rounds=0, metrics=[])
crawl.run_crawl = run_crawl
crawl_round.main()
"""


def test_crawl_round_session_takes_engine_defaults_under_launcher_conf(
    fixture_web, tmp_path
):
    """The spark-submit job's session carries every engine default the
    launcher leaves unset, and a launcher ``--conf`` wins over one."""
    paths = fixture_web["paths"]
    launcher = {"spark.sql.execution.arrow.maxRecordsPerBatch": "512"}
    expected = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        **launcher,
    }
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in launcher.items()
    ) + " pyspark-shell"
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_PROBE,
         "--pages", paths["pages"], "--seeds", paths["seeds"],
         "--checkpoint", str(tmp_path / "ckpt"), json.dumps(list(expected))],
        capture_output=True, text=True, timeout=600, check=True,
        cwd=str(tmp_path), env=env,
    )
    assert json.loads(proc.stdout.strip().splitlines()[0]) == expected

    from webcrawler_spark.session import ENGINE_DEFAULTS

    assert expected == {**ENGINE_DEFAULTS, **launcher}


def test_only_the_session_module_builds_a_session():
    """Every session the engine starts goes through webcrawler_spark/session.py,
    so none misses the engine defaults: no other file of the engine, the
    jobs or the tools builds one itself."""
    builders = [
        str(p.relative_to(REPO))
        for d in ("webcrawler_spark", "jobs", "tools")
        for p in sorted((REPO / d).rglob("*.py"))
        if "SparkSession.builder" in p.read_text()
    ]
    assert builders == ["webcrawler_spark/session.py"]
