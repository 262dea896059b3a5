"""run_checks with injected violations: each failing check comes back by
name with the count its violations frame holds, and the checks on one
frame share one aggregate instead of one count() each."""

from __future__ import annotations

import datetime as dt

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
    assert end - mid < mid - start  # one shared aggregate, fewer jobs than a count() per check


def test_fused_counts_equal_violation_counts(spark):
    """One violation of every kind on one frame: the fused counts equal
    each violations frame's own count()."""
    d = dt.date(2025, 8, 1)
    df = spark.createDataFrame(
        [
            ("v1", d, "MOBILE", "YT_SEARCH", 5),
            ("v1", d, "MOBILE", "YT_SEARCH", 1),  # duplicate grain
            (None, d, "TV", "EXT_URL", 2),  # NULL key; NULL FK key is not an orphan
            ("v2", d, "TV", "EXT_URL", -3),  # negative metric
            ("v3", d, "SPACESHIP", "brand_new", 0),  # orphan, bad enum, unknown source
            ("v3", dt.date(2025, 7, 1), "TV", " ", 0),  # blank source is not unknown
        ],
        "video_id string, date date, device string, source_id string, views int",
    )
    parent = spark.createDataFrame([("v1",), ("v2",), ("v2",)], "video_id string")
    checks = [
        q.unique_grain(df, ["video_id", "date"], "unique"),
        q.not_null(df, ["video_id", "date"], "not_null"),
        q.non_negative(df, ["views"], "non_negative"),
        q.relationships(df, parent, "video_id", "fk"),
        q.accepted_values(df, "device", ["MOBILE", "TV"], "enum"),
        q.freshness(df, "date", 7, "2025-08-20", "stale"),
        q.freshness(df, "date", 30, "2025-08-20", "fresh"),
        q.warn_unknown_values(df, "source_id", ["YT_SEARCH", "EXT_URL"], "unknown"),
        # a second grain, and distinct values outside the grain, cannot
        # ride the grain aggregate: they are counted on their own
        q.unique_grain(df, ["device"], "unique_device"),
    ]
    flat = df.select("*")  # another frame, no grain: every check rides its aggregate
    checks += [
        q.relationships(flat, parent, "video_id", "fk_flat"),
        q.accepted_values(flat, "device", ["MOBILE", "TV"], "enum_flat"),
        q.warn_unknown_values(flat, "source_id", ["YT_SEARCH", "EXT_URL"], "unknown_flat"),
        q.not_null(flat, ["video_id"], "not_null_flat"),
        q.freshness(flat, "date", 7, "2025-08-20", "stale_flat"),
    ]
    want = {c.name: c.count() for c in checks}
    assert want == {
        "unique": 1, "not_null": 1, "non_negative": 1, "fk": 1, "enum": 1,
        "stale": 1, "fresh": 0, "unknown": 1, "unique_device": 2,
        "fk_flat": 1, "enum_flat": 1, "unknown_flat": 1, "not_null_flat": 1, "stale_flat": 1,
    }
    report = q.run_checks(checks)
    assert {n: r["count"] for n, r in report.items()} == want
    assert list(report) == [c.name for c in checks]
    assert report["unknown"]["severity"] == "warn"
