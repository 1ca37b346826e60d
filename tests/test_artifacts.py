"""The session-shared artifact cache: ``registry.artifact`` and
``registry.build_artifacts``."""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE
from vector_search_spark import registry
from vector_search_spark.registry_dedup import _shared_shingles
from vector_search_spark.registry_extensions import _shared_pq_index

SHINGLE_CLOSURE = {
    "_shared_shingles",
    "_shared_signatures",
    "_shared_simhash_sigs",
    "_shared_lsh_candidates",
    "_shared_verified_pairs",
    "_shared_sym_edges",
    "_shared_components",
    "_shared_lpa_labels",
}
SUFFIX_CLOSURE = {"_shared_suffix", "_shared_sa_adjacent"}


@pytest.fixture(scope="module")
def cold(spark):
    """A session no artifact has been built on, with every artifact built."""
    session = spark.newSession()
    built = registry.build_artifacts(session, SF_SMOKE)
    return session, built


def test_build_artifacts_builds_all_in_table_order(cold):
    _, built = cold
    assert list(built) == list(registry.ARTIFACTS)
    assert len(built) == 23


def test_declared_deps_are_what_each_build_requests(cold):
    for a in registry.ARTIFACTS.values():
        assert a.requested == set(a.deps), a.name


def test_second_call_same_session_returns_same_object_and_runs_no_job(cold):
    session, _ = cold
    sc = session.sparkContext
    tracker = sc.statusTracker()
    first = {a.name: a.get(session, SF_SMOKE) for a in registry.ARTIFACTS.values()}
    group = "test-artifact-cache-hit"
    before = tracker.getJobIdsForGroup(group)
    sc.setJobGroup(group, "second artifact calls")
    try:
        for a in registry.ARTIFACTS.values():
            assert a.get(session, SF_SMOKE) is first[a.name], a.name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup(group) == before == []


def test_new_session_rebuilds_and_unpersists_the_old_value(spark):
    one, two = spark.newSession(), spark.newSession()
    old_sh = _shared_shingles(one, SF_SMOKE)
    old_pq = _shared_pq_index(one, SF_SMOKE)
    assert old_sh.is_cached and all(df.is_cached for df in old_pq)

    new_sh = _shared_shingles(two, SF_SMOKE)
    new_pq = _shared_pq_index(two, SF_SMOKE)
    assert new_sh is not old_sh and new_sh.is_cached
    assert not old_sh.is_cached
    assert all(n is not o for n, o in zip(new_pq, old_pq))
    assert not any(df.is_cached for df in old_pq)
    assert sorted(new_sh.collect()) == sorted(old_sh.collect())


@pytest.mark.parametrize(
    "skip, closure",
    [("_shared_shingles", SHINGLE_CLOSURE), ("_shared_suffix", SUFFIX_CLOSURE)],
)
def test_skip_also_skips_every_dependent(cold, skip, closure):
    session, _ = cold
    built = registry.build_artifacts(session, SF_SMOKE, skip={skip})
    assert set(registry.ARTIFACTS) - set(built) == closure
    assert list(built) == [n for n in registry.ARTIFACTS if n not in closure]


def test_skip_names_must_be_artifacts(cold):
    session, _ = cold
    with pytest.raises(ValueError, match="_shared_nope"):
        registry.build_artifacts(session, SF_SMOKE, skip={"_shared_nope"})
