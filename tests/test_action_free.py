"""Builders of the ``query_mix`` benchmark queries run no hidden Spark job.

Each query is built twice at sf0.001 without executing it; the second build
must launch no job, apart from the build-time actions named in ``ALLOWED``.
Those run from known call sites, and the test moves their jobs (and the
query-stage jobs adaptive execution launches beneath them) into a separate
job group, so any other action in a builder — a schema-inference read, an
eager count, a collect — fails here. A pin is made by ``tsrollup.io.pin``,
so its site is the function that called ``pin``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR  # noqa: E402

# the smallest star tables, beside the ones bench.py runs at
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")

QUERIES = ("sketch_distinct asof_nearest asof_join lttb_series "
           "binary_segments dtw_knn dedup_cluster grid_gapfill "
           "cross_channel_spectral pca_whiten rollup_tier_reagg "
           "token_budget topk_events heartbeat_agg").split()

# query → the (file, function, method) call sites allowed to act at build
# time. A lazy pin (io.pin) runs the shuffle stages below it when called,
# so the pins count as actions too.
ALLOWED = {
    "dtw_knn": {
        ("__spark_entry__.py", "q_dtw_knn", "localCheckpoint"),
        ("dtw.py", "dtw_knn", "localCheckpoint"),
        ("dtw.py", "_collect_queries", "collect"),  # the query set
        ("dtw.py", "dtw_knn", "collect"),  # the per-query tau bounds
    },
    "dedup_cluster": {
        ("dedup.py", "near_dup_clusters", "localCheckpoint"),  # edge pin
        ("dedup.py", "near_dup_clusters", "count"),  # the edge count
        ("dedup.py", "_driver_labels", "toArrow"),  # the driver finish
    },
    "sketch_distinct": {
        ("__spark_entry__.py", "q_sketch_distinct", "localCheckpoint"),
    },
}

ACTIONS = ("collect", "count", "toArrow", "toPandas", "take", "first",
           "head", "localCheckpoint", "checkpoint")


@pytest.mark.skipif(not os.path.isdir(SF), reason="needs the sf0.001 tables")
def test_query_mix_builders_launch_no_hidden_job(spark, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    import __spark_entry__ as entry
    from tsrollup.io import pin

    sc = spark.sparkContext
    tracker = spark._jsc.sc().statusTracker()
    qs = entry.queries()
    for q in QUERIES:  # first build: memos fill, pins and fixtures warm
        qs[q](spark, SF)

    group = {"build": None}
    seen: set = set()

    def reroute(name):
        orig = getattr(DataFrame, name)

        def action(self, *a, **k):
            f = sys._getframe(1)
            if f.f_code is pin.__code__:
                f = f.f_back
            site = (os.path.basename(f.f_code.co_filename),
                    f.f_code.co_name, name)
            if site not in ALLOWED.get(group["q"], ()):
                return orig(self, *a, **k)
            seen.add(site)
            sc.setJobGroup(group["allowed"], "allowed build-time action")
            try:
                return orig(self, *a, **k)
            finally:
                sc.setJobGroup(group["build"], "build")

        monkeypatch.setattr(DataFrame, name, action)

    for name in ACTIONS:
        reroute(name)
    hidden, stale = {}, {}
    for q in QUERIES:
        seen.clear()
        group.update(q=q, build=f"action-free-{q}",
                     allowed=f"action-free-{q}-allowed")
        sc.setJobGroup(group["build"], "build")
        try:
            qs[q](spark, SF)
        finally:
            sc.setJobGroup(None, None)
        n = len(tracker.getJobIdsForGroup(group["build"]))
        if n:
            hidden[q] = n
        # every allowlisted site still acts, so the list cannot go stale
        if seen != ALLOWED.get(q, set()):
            stale[q] = ALLOWED.get(q, set()) - seen
    assert not hidden, f"builders launched hidden jobs: {hidden}"
    assert not stale, f"allowlisted sites that no longer act: {stale}"
