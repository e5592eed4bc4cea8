"""Session preparation: every registered query calls `prep_session` on
the session the driver hands in, so a conf the driver (or an earlier
query) changed must come back before the query is planned."""

from __future__ import annotations

from mapreduce_project_spark.session import RUNTIME_CONFS, prep_session


def test_prep_session_restores_every_runtime_conf(spark):
    flipped = {"true": "false", "false": "true", "UTC": "America/New_York"}
    try:
        for key, val in RUNTIME_CONFS:
            spark.conf.set(key, flipped[val])
        assert all(spark.conf.get(k) != v for k, v in RUNTIME_CONFS)
        prep_session(spark)
        assert {k: spark.conf.get(k) for k, _ in RUNTIME_CONFS} == dict(RUNTIME_CONFS)
    finally:
        prep_session(spark)
