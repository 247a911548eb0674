"""Self-tests of the benchmark's measurement code.

Run from the repository root: ``python3 -m pytest perfbench/ -q``
(about 15 s: one local Spark session).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
import procstat  # noqa: E402
from spans import Span, Tracer, group_of, self_seconds  # noqa: E402


@pytest.fixture(scope="module")
def spark_and_logs(tmp_path_factory):
    from data_pipeline_csv_spark.session import get_spark
    from run import shutdown

    logs = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(app_name="perfbench-selftest", cpus=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": logs,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
    })
    yield spark, logs
    shutdown(spark)


def _is_java(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False


def test_sampler_sees_jvm_cpu_grow_across_spark_action(spark_and_logs):
    spark, _ = spark_and_logs
    me = os.getpid()
    jvm = [p for p in procstat.tree_pids(me) if _is_java(p) and procstat.age_s(p) >= procstat.MIN_AGE_S]
    assert len(jvm) == 1, "the process tree holds exactly one JVM"
    jvm_before = procstat.cpu_seconds(jvm[0])
    tree_before = procstat.tree_cpu_seconds(me)
    spark.range(0, 30_000_000, numPartitions=2).selectExpr("sum(id * id % 7) AS s").collect()
    grew = procstat.cpu_seconds(jvm[0]) - jvm_before
    assert grew > 0.2
    assert procstat.tree_cpu_seconds(me) - tree_before >= grew
    assert procstat.tree_mem_bytes(me) > procstat.mem_bytes(me) + procstat.mem_bytes(jvm[0]) / 2


def test_event_log_charges_a_shuffle_to_its_span(spark_and_logs):
    spark, logs = spark_and_logs
    tracer = Tracer(spark.sparkContext)
    with tracer.span("test", "groupby"):
        spark.range(0, 200_000, numPartitions=4).selectExpr("id % 10 AS k").groupBy("k").count().collect()
    spark.range(10).collect()  # outside every span: charged to none
    # the log is flushed at each job end once the listener bus drains
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    recs = eventlog.jobs(eventlog.read_events(
        eventlog.app_log_files(logs, spark.sparkContext.applicationId)))
    [span] = tracer.spans
    owned = eventlog.attribute(recs, tracer.spans, group_of)[span.sid]
    assert len(owned) >= 1
    assert all(recs[j]["group"] == group_of(span) for j in owned)
    assert sum(recs[j]["shuffle_write_b"] for j in owned) > 0
    assert sum(recs[j]["shuffle_read_b"] for j in owned) > 0
    assert len(owned) < len(recs)


def test_self_time_subtracts_merged_child_cover():
    parent = Span(1, None, "a", "p", 0.0, 10.0)
    kids = [
        Span(2, 1, "b", "c", 1.0, 4.0),
        Span(3, 1, "b", "c", 3.0, 5.0),  # overlaps the first child
        Span(4, 1, "b", "c", 9.0, 12.0),  # runs past the parent's end
        Span(5, 2, "c", "g", 1.5, 2.0),  # grandchild: not the parent's child
    ]
    got = self_seconds([parent, *kids])
    assert got[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[5] == pytest.approx(0.5)
