import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("BAMBOO_SHUFFLE_PARTITIONS", "4")


@pytest.fixture(scope="session")
def spark():
    from bamboo_spark.session import get_spark

    spark = get_spark("bamboo_spark_tests")
    yield spark


def assert_frame(expected: dict, pdf):
    """Golden comparator in the spirit of the reference's df_equality
    (reference python/bamboo_tests/test_utils.py:22-32): exact column set,
    per-column equality with NaN/None tolerance for floats."""
    import math

    assert list(pdf.columns) == list(expected.keys()), (
        list(pdf.columns),
        list(expected.keys()),
    )
    for name, values in expected.items():
        got = list(pdf[name])
        assert len(got) == len(values), (name, got, values)
        for g, e in zip(got, values):
            if e is None:
                assert g is None or (isinstance(g, float) and math.isnan(g)), (name, got)
            elif isinstance(e, float) and math.isnan(e):
                assert isinstance(g, float) and math.isnan(g), (name, got)
            elif isinstance(e, float):
                assert g is not None and abs(g - e) < 1e-9, (name, got, values)
            else:
                assert g == e, (name, got, values)


def assert_one_job_no_exchange(spark, df) -> None:
    """Decode-shape guard for the binary sources: the executed plan has
    no shuffle, and materializing ``df`` runs exactly one Spark job of
    one stage (counted through the job group's status tracker)."""
    import uuid

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    sc = spark.sparkContext
    group = "one-job-%s" % uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1


def spy_split_tables(monkeypatch, module) -> list:
    """Record the split table of each decode job ``module`` drives
    through ``decode_splits``."""
    seen = []
    real = module.decode_splits

    def spy(spark, splits, *a, **kw):
        seen.append(list(splits))
        return real(spark, splits, *a, **kw)

    monkeypatch.setattr(module, "decode_splits", spy)
    return seen
