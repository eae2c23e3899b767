"""Session warm-up runs when forced, and a failing warm-up says so."""

import os
import subprocess
import sys
import textwrap

import pytest

from lucene_solr_old_spark.session import warm_session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_forced_warmup_at_local2_runs_without_warning():
    """SPARK_GRAFT_WARMUP=1 warms a local[2] session (a fresh JVM: the
    test session is already warm) and emits no warning."""
    script = textwrap.dedent(f"""
        import os, sys, warnings
        sys.path.insert(0, {REPO!r})
        from lucene_solr_old_spark.session import get_spark, warm_session
        os.environ["SPARK_GRAFT_WARMUP"] = "0"
        spark = get_spark("warmup-test", master="local[2]",
                          shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        os.environ["SPARK_GRAFT_WARMUP"] = "1"
        sc = spark.sparkContext
        sc.setJobGroup("warmup", "warmup")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            warm_session(spark)
        jobs = len(sc.statusTracker().getJobIdsForGroup("warmup"))
        print("WARMUP", jobs, [str(w.message) for w in caught])
        spark.stop()
    """)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("WARMUP")][-1]
    jobs, warned = line.split(" ", 2)[1:]
    assert int(jobs) > 0
    assert warned == "[]"


class _FailingSession:
    """Just enough of a SparkSession for warm_session to start, with a
    ``range`` that fails."""

    class sparkContext:  # noqa: N801 — mirrors the attribute name
        defaultParallelism = 2

        @staticmethod
        def getLocalProperty(_key):
            return None

        @staticmethod
        def setJobDescription(_desc):
            pass

    def range(self, *_args):
        raise RuntimeError("no cluster")


def test_failing_warmup_warns(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WARMUP", "1")
    with pytest.warns(RuntimeWarning,
                      match="(?s)warm-up failed.*no cluster"):
        warm_session(_FailingSession())
