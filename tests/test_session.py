"""Per-session state: tuning, memos and resource lifetimes follow the
SparkSession object, not its applicationId, and the engine runs the same
from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__  # noqa: E402
from pipelinejobs_indexer_spark.session import (  # noqa: E402
    _REQUIRED_CONFS,
    _RUNTIME_CONFS,
    tune,
)
from pipelinejobs_indexer_spark.tables import jobs  # noqa: E402


def _sink_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]


def test_cloned_session_gets_its_own_tuning_and_plans(spark, sf_dir):
    """A newSession() clone shares the applicationId but has its own
    SQLConf: it must be tuned itself, and fixture plans built on it must
    belong to it, not to the session that memoized them first."""
    jobs(spark, sf_dir)
    clone = spark.newSession()
    assert tune(clone) is clone
    for k, v in _RUNTIME_CONFS.items():
        assert clone.conf.get(k) == v, k
    assert jobs(clone, sf_dir).sparkSession is clone
    assert jobs(spark, sf_dir).sparkSession is spark


def test_sink_views_are_dropped_at_the_next_query_entry(spark, sf_dir):
    """Each streaming replay leaves a memory-sink view holding its rows;
    the next query's entry drops it, so a sweep keeps at most the
    current query's view alive, and that one still reads."""
    queries = __spark_entry__.queries()
    first = queries["stream_tumbling_counts"](spark, sf_dir).count()
    assert first > 0
    assert queries["stream_ingest_dedupe"](spark, sf_dir).count() > 0
    again = queries["stream_tumbling_counts"](spark, sf_dir)
    assert len(_sink_views(spark)) == 1, _sink_views(spark)
    assert again.count() == first


class _Conf:
    """SQLConf stand-in whose ``set`` rejects one key."""

    def __init__(self, bad: str) -> None:
        self.bad = bad
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key == self.bad:
            raise ValueError(f"cannot modify {key}")
        self.values[key] = value

    def get(self, key: str, default: str | None = None) -> str | None:
        return self.values.get(key, default)


def _fake_session(bad: str):
    return types.SimpleNamespace(
        conf=_Conf(bad), sparkContext=types.SimpleNamespace(environment={})
    )


@pytest.mark.parametrize("bad", _REQUIRED_CONFS)
def test_tune_raises_when_a_parity_conf_cannot_be_set(bad):
    fake = _fake_session(bad)
    with pytest.raises(RuntimeError, match=bad):
        tune(fake)
    # nothing memoized: the next call tries (and fails) again
    assert not hasattr(fake, "_graft_state")
    with pytest.raises(RuntimeError, match=bad):
        tune(fake)


def test_tune_skips_other_unsettable_confs():
    fake = _fake_session("spark.sql.adaptive.skewJoin.enabled")
    tune(fake)
    assert hasattr(fake, "_graft_state")
    assert fake.conf.values["spark.sql.session.timeZone"] == "UTC"
    assert fake.conf.values["spark.sql.adaptive.enabled"] == "true"


def test_python_workers_find_the_package_from_any_working_directory(tmp_path, sf_dir):
    """A driver started outside the repo root, with its own bare session
    and no PYTHONPATH, must still run a pandas-UDF query: the workers
    start in the driver's working directory."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        import __spark_entry__
        rows = __spark_entry__.queries()["sink_webdataset"](spark, {sf_dir!r}).collect()
        assert rows and all(r.roundtrip_ok for r in rows), rows
        print("OK", len(rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "OK" in out.stdout
