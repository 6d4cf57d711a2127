"""session.py's contracts: the local core count and what configure_session
may change on a session it did not create."""

from __future__ import annotations

import os

from the_movie_database_import_spark.session import configure_session, local_cpus

TZ = "spark.sql.session.timeZone"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_local_cpus_reads_env_else_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cpus() == len(os.sched_getaffinity(0))


def test_configure_session_sets_only_tz_and_nanos(spark):
    """A fresh session passed through configure_session gains exactly the
    UTC time zone and nanosAsLong, and the session it came from is left
    as it was."""
    fresh = spark.newSession()
    fresh.conf.set(TZ, "America/New_York")
    fresh.conf.unset(NANOS)
    before, parent_before = fresh.conf.getAll, spark.conf.getAll
    configure_session(fresh)
    after = fresh.conf.getAll
    changed = {k for k in before.keys() | after.keys() if before.get(k) != after.get(k)}
    assert changed == {TZ, NANOS}
    assert (after[TZ], after[NANOS]) == ("UTC", "true")
    assert spark.conf.getAll == parent_before
