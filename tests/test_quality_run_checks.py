"""run_checks with one injected violation: the failing check comes back by
name with its count, and each check's violations plan runs once."""

from __future__ import annotations

from youtube_analytics_lakehouse_databricks_spark.quality import checks as q


def test_run_checks_names_the_failure_and_counts_each_check_once(spark):
    df = spark.createDataFrame([(1, 5), (1, 3), (2, 0)], "k int, m int")
    checks = [q.unique_grain(df, ["k"], name="unique_k"), q.not_null(df, ["k"]), q.non_negative(df, ["m"])]
    tracker = spark.sparkContext.statusTracker()
    # job ids grow monotonically and the newest ones are always retained
    last_job = lambda: max(tracker.getJobIdsForGroup(None), default=-1)
    start = last_job()
    for c in checks:
        c.count()
    mid = last_job()
    report = q.run_checks(checks)
    end = last_job()
    assert report["unique_k"] == {"count": 1, "severity": "error", "passed": False}
    assert [n for n, r in report.items() if not r["passed"]] == ["unique_k"]
    assert mid - start >= len(checks)
    assert end - mid == mid - start  # one count() job set per check, not two
