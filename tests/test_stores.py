"""The staged-store contract (marketing_attribution_etl_framework__maef_spark/stores.py):
keying by (applicationId, sf_dir), dead-application eviction, release
that really frees checkpoint blocks, and the bench pre-stage set."""

from __future__ import annotations

import os
import re

import __spark_entry__ as entrymod
from marketing_attribution_etl_framework__maef_spark import domain, stores

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the stores bench.py builds before its timed region: domain.events plus
# the 13 getters it pre-staged by name before the registry existed
BENCH_PRESTAGED = {
    "events",
    "_journeys",
    "_basket_pairs",
    "_bpe_encode",
    "_neardup_corpus_bands",
    "_kmeans8",
    "_aug_kmeans8",
    "_minhash_pairs",
    "_dup_clusters",
    "_stream_sessions",
    "_stream_user_flags",
    "_ngram_sets",
    "_ann_truth",
    "_pq_index",
}
NOT_PRESTAGED = {"_simhash_cands", "_bpe_rules", "_aug_bands", "_dup_spans"}


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_clear_all_frees_checkpoint_blocks(spark, sf_dir):
    stores.clear_all()
    start = _persistent(spark)
    built = [entrymod._journeys(spark, sf_dir), entrymod._ngram_sets(spark, sf_dir)]
    ids = {_rdd_id(df) for df in built}
    assert ids <= _persistent(spark)
    stores.clear_all()
    # DataFrame.unpersist() alone leaves localCheckpoint blocks registered
    assert _persistent(spark) <= start
    assert not entrymod._journeys.entries and not entrymod._ngram_sets.entries


def test_new_application_rebuilds_and_dead_entries_are_released(spark):
    builds = []

    def build(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(10).localCheckpoint()

    probe = stores.Store(build, prestage=False)
    live = (spark.sparkContext.applicationId, "sf_probe")
    first = probe(spark, "sf_probe")
    assert probe(spark, "sf_probe") is first and len(builds) == 1
    # re-key the entry as if an earlier, now-dead application built it
    probe.entries[("app-dead", "sf_probe")] = probe.entries.pop(live)
    assert _rdd_id(first) in _persistent(spark)
    second = probe(spark, "sf_probe")
    assert second is not first and len(builds) == 2
    assert list(probe.entries) == [live]
    assert _rdd_id(first) not in _persistent(spark)
    assert _rdd_id(second) in _persistent(spark)
    probe.clear()
    assert _rdd_id(second) not in _persistent(spark)


def test_release_handles_tuple_and_plain_values(spark):
    tup = stores.Store(
        lambda s, d: (s.range(3).localCheckpoint(), s.range(4).localCheckpoint(), 7),
        prestage=False,
    )
    plain = stores.Store(lambda s, d: [("a", 1)], prestage=False)
    ids = {_rdd_id(df) for df in tup(spark, "sf_probe")[:2]}
    assert plain(spark, "sf_probe") == [("a", 1)]
    assert ids <= _persistent(spark)
    tup.clear()
    plain.clear()
    assert not ids & _persistent(spark)


def test_clear_events_cache_clears_only_the_events_store(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    domain.events(spark, sf_dir)
    entrymod._journeys(spark, sf_dir)
    domain.clear_events_cache()
    assert not domain.events.entries
    assert key in entrymod._journeys.entries


def test_prestage_flags_are_the_bench_set():
    names = {s.__name__ for s in stores.registered()}
    assert names == BENCH_PRESTAGED | NOT_PRESTAGED
    assert {s.__name__ for s in stores.registered() if s.prestage} == BENCH_PRESTAGED


def test_prestage_all_stages_exactly_the_bench_set(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    stores.clear_all()
    stores.prestage_all(spark, sf_dir)
    staged_now = {s.__name__ for s in stores.registered() if key in s.entries}
    # _bpe_rules is _bpe_encode's input and was always staged with it
    assert staged_now == BENCH_PRESTAGED | {"_bpe_rules"}
    stores.clear_all()


def test_no_store_or_scratch_bookkeeping_outside_stores():
    paths = ["__spark_entry__.py", "bench.py"]
    paths += [os.path.join("marketing_attribution_etl_framework__maef_spark", "domain.py")]
    paths += [os.path.join("tools", f) for f in os.listdir(os.path.join(REPO, "tools"))]
    for rel in paths:
        if not rel.endswith(".py"):
            continue
        with open(os.path.join(REPO, rel)) as fh:
            src = fh.read()
        assert not re.search(r"^_\w*_CACHE\b", src, re.M), rel
        for marker in ("_evict_stale", "applicationId", ".stream_tmp", "SPARK_GRAFT_SCRATCH"):
            assert marker not in src, (rel, marker)
