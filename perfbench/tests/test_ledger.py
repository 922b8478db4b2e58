import pytest

from perfbench.ledger import Ledger, combine, interval_union


def test_interval_union_merges_overlaps():
    assert interval_union([]) == 0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert interval_union([(0, 10), (2, 3)]) == 10
    assert interval_union([(None, 3), (1, 2)]) == 1


def _stage(**kw):
    base = {
        "tasks": 2, "failed_tasks": 0, "run_ms": 1000, "cpu_ns": 4e8,
        "gc_ms": 10, "input_b": 1e6, "output_b": 0, "shuffle_read_b": 0,
        "shuffle_write_b": 2e6, "spill_mem_b": 0, "spill_disk_b": 0,
        "max_task_ms": 700, "submit_ms": 0, "complete_ms": 1000,
    }
    base.update(kw)
    return base


def test_combine_sums_and_derives_python_wait():
    st = combine([_stage(), _stage(submit_ms=500, complete_ms=2000, max_task_ms=900)])
    assert st.tasks == 4
    assert st.run_s == pytest.approx(2.0)
    assert st.py_wait_s == pytest.approx(2.0 - 0.8)
    assert st.shuffle_write_mb == pytest.approx(4.0)
    assert st.max_task_s == pytest.approx(0.9)
    assert st.busy_s == pytest.approx(2.0)


@pytest.fixture(scope="module")
def spark():
    from feature_extractor_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def test_each_stage_goes_to_the_innermost_open_span(spark):
    led = Ledger(spark, enabled=True)
    with led.span("outer") as outer:
        # a shuffle: two stages in one job
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with led.span("inner") as inner:
            spark.range(100).count()
        spark.range(10).collect()
    own_outer = {s["stage_id"] for s in outer.stages}
    own_inner = {s["stage_id"] for s in inner.stages}
    assert outer.jobs >= 2 and inner.jobs >= 1
    assert own_inner and own_outer and not (own_inner & own_outer)
    # the nested total covers both spans' stages
    assert led.stats(outer).tasks == sum(s["tasks"] for s in outer.stages + inner.stages)
    assert led.jobs(outer) == outer.jobs + inner.jobs
    assert [s.parent for s in led.spans] == [None, outer.span_id]


def test_disabled_ledger_records_nothing(spark):
    led = Ledger(spark, enabled=False)
    with led.span("quiet"):
        spark.range(10).count()
    assert led.spans == []
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
