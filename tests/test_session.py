"""Session helpers: concurrent job arms carry the caller's context."""

from __future__ import annotations

import warnings

from social_media_sentiment_analysis_spark.session import run_concurrently


def test_run_concurrently_arms_inherit_session_tags(spark):
    """Every arm sees a tag the caller added, so a tag-based cancel
    (``spark.interruptTag``) reaches all arms of a query, not only its
    calling thread."""
    spark.addTag("probe-tag")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            seen = run_concurrently(*[lambda: sorted(spark.getTags())] * 3)
    finally:
        spark.removeTag("probe-tag")
    assert seen == [["probe-tag"]] * 3
    assert not [w for w in caught if "Tags will not be inherited"
                in str(w.message)]


def test_run_concurrently_runs_arms_without_pinned_threads(spark,
                                                           monkeypatch):
    """With pinned-thread mode off, ``inheritable_thread_target(session)``
    hands back the session rather than a wrapper; the arms must still
    run. The mode is read from the gateway's type, so a gateway that is
    not a py4j ``ClientServer`` selects it."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert run_concurrently(lambda: 1, lambda: 2) == [1, 2]
