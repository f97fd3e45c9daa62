"""Round-11 session additions: exact-substring duplicated-span dedup
(the span family) and its planted-recall devices."""

from __future__ import annotations

from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd
from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

# ------------------------------------------------- duplicated spans


def _span_fixture(spark):
    # docs 1 and 2 share the 10-token boilerplate run b1..b10 embedded
    # mid-document between unique halves; doc 3 is all-unique; doc 4
    # repeats doc 1's boilerplate at its very start.
    boiler = " ".join(f"b{i}" for i in range(1, 11))
    rows = [
        (1, f"u1a u1b u1c u1d {boiler} u1e u1f u1g u1h"),
        (2, f"v2a v2b v2c v2d v2e {boiler} v2f v2g v2h"),
        (3, "w3a w3b w3c w3d w3e w3f w3g w3h w3i w3j w3k w3l"),
        (4, f"{boiler} x4a x4b x4c x4d x4e x4f x4g x4h"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicated_spans_finds_planted_boilerplate(spark):
    spans = dd.duplicated_spans(_span_fixture(spark), k=8, min_docs=2)
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in spans.collect()
    }
    # doc 1: boiler occupies tokens 5..14 -> 8-gram positions 5..7
    # duplicated -> span [5, 14], 10 tokens; similarly doc 2 at 6..15,
    # doc 4 at 1..10.  doc 3 has no duplicated 8-gram.
    assert got == {1: (5, 14, 10), 2: (6, 15, 10), 4: (1, 10, 10)}


def test_duplicated_spans_islands_split_on_gap(spark):
    # two disjoint shared runs inside one doc must come out as TWO
    # maximal spans, never merged across the unique gap.
    run_a = " ".join(f"a{i}" for i in range(1, 10))  # 9 tokens
    run_b = " ".join(f"c{i}" for i in range(1, 10))  # 9 tokens
    rows = [
        (1, f"{run_a} gap1x gap2x gap3x {run_b}"),
        (2, f"{run_a} other1 other2 other3 other4 {run_b}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dd.duplicated_spans(docs, k=8, min_docs=2)
    d1 = sorted(
        (r["span_start"], r["span_end"], r["span_tokens"])
        for r in spans.filter(F.col("doc_id") == 1).collect()
    )
    # doc 1: run_a = tokens 1..9 (8-gram positions 1..2), run_b =
    # tokens 13..21 (positions 13..14)
    assert d1 == [(1, 9, 9), (13, 21, 9)]


def test_duplicated_spans_short_doc_whole_text_semantics(spark):
    # docs shorter than k words collapse to one whole-text shingle
    # (word_shingles' short-doc rule): exact short duplicates are
    # still caught, span = the whole doc.
    rows = [
        (1, "tiny short doc"),
        (2, "tiny short doc"),
        (3, "another tiny one"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dd.duplicated_spans(docs, k=8, min_docs=2)
    got = {r["doc_id"]: (r["span_start"], r["span_tokens"]) for r in spans.collect()}
    # position 1 only; span_tokens reports k (=8) because the islands
    # arithmetic is k-based — acceptable for the <k-word edge, and
    # deterministic in both engines.
    assert set(got) == {1, 2}


def test_span_coverage_rollup_disjoint_sum(spark):
    run_a = " ".join(f"a{i}" for i in range(1, 10))
    run_b = " ".join(f"c{i}" for i in range(1, 10))
    rows = [
        (1, f"{run_a} gap1x gap2x gap3x {run_b}"),
        (2, f"{run_a} other1 other2 other3 other4 {run_b}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cov = dd.span_coverage(dd.duplicated_spans(docs, k=8, min_docs=2))
    r1 = cov.filter(F.col("doc_id") == 1).collect()[0]
    assert (r1["n_spans"], r1["dup_tokens"], r1["max_span"]) == (2, 18, 9)


# ------------------------------------------------- streaming export ledger


def _ledger_docs(spark):
    rows = [
        # quality english docs (enough words, diverse, stopwords)
        (1, "the quick brown fox jumps over the lazy dog today", "en"),
        (2, "a stitch in time saves nine and more besides that", "en"),
        (3, "it is a truth universally acknowledged that a man thinks", "en"),
        # rejected: too short
        (4, "tiny doc", "en"),
        # rejected: repetitive (low distinct ratio)
        (5, "spam spam spam spam spam spam spam spam spam spam", "en"),
        # rejected: non-english
        (6, "der die das und ist nicht mit ein der die", "de"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).select(
        "doc_id", "text", "lang",
        F.lit("s").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )


def test_export_ledger_matches_batch_and_conserves(spark, tmp_path):
    docs = _ledger_docs(spark)
    src = str(tmp_path / "docs")
    # two files -> two micro-batches under maxFilesPerTrigger=1,
    # exercising the SUM/SUM merge law across batches
    docs.repartition(2).write.parquet(src)
    root = str(tmp_path / "ledger")
    drv = inc.IncrementalExportLedger(spark, root)
    drv.start(inc.stream_documents(spark, src)).awaitTermination()
    got = {r["split"]: (r["n_docs"], r["n_tokens"]) for r in drv.ledger().collect()}

    batch = {
        r["split"]: (r["n_docs"], r["n_tokens"])
        for r in drv._gated(docs)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .collect()
    }
    assert got == batch
    # conservation: docs and token mass sum to the corpus totals
    assert sum(v[0] for v in got.values()) == docs.count()
    total_tokens = drv._gated(docs).agg(F.sum("n_tokens")).collect()[0][0]
    assert sum(v[1] for v in got.values()) == total_tokens
    # the three rejection shapes all land in 'rejected'
    assert got["rejected"][0] == 3


def test_export_ledger_replay_idempotent(spark, tmp_path):
    docs = _ledger_docs(spark)
    root = str(tmp_path / "ledger2")
    drv = inc.IncrementalExportLedger(spark, root)
    drv.process_batch(docs, 0)
    before = {r["split"]: (r["n_docs"], r["n_tokens"]) for r in drv.ledger().collect()}
    # at-least-once replay of the same batch_id must not double-count
    drv.process_batch(docs, 0)
    after = {r["split"]: (r["n_docs"], r["n_tokens"]) for r in drv.ledger().collect()}
    assert before == after


# ------------------------------------------------- contamination recall


def test_decontaminate_planted_excerpt_recall(spark):
    from marketing_attribution_etl_framework__maef_spark.llm import curation as cur

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn"),
            (2, "zz yy xx wv uu tt ss rr qq pp oo nn2 mm2 ll2"),
        ],
        "doc_id long, text string",
    )
    # eval = tokens [3, 12] of doc 1 (the L325 excerpt rule)
    ev = spark.createDataFrame(
        [(1, "cc dd ee ff gg hh ii jj kk ll")], "doc_id long, text string"
    )
    flagged = {r["doc_id"] for r in cur.decontaminate(docs, ev, k=5).collect()}
    assert flagged == {1}


# ------------------------------------------------- LSH recall audit


def test_lsh_multiprobe_exclude_self(spark):
    from marketing_attribution_etl_framework__maef_spark.llm import similarity as sim

    rows = [(i, [1.0 if j == i % 4 else 0.1 * i for j in range(4)]) for i in range(8)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = sim.random_hyperplanes(spark, n_planes=2, dim=4)
    with_self = sim.lsh_multiprobe_topk(e, e.filter(F.col("vec_id") == 0), planes, k=3, t=1)
    without = sim.lsh_multiprobe_topk(
        e, e.filter(F.col("vec_id") == 0), planes, k=3, t=1, exclude_self=True
    )
    ws = [r["vec_id"] for r in with_self.orderBy("rank").collect()]
    wo = [r["vec_id"] for r in without.orderBy("rank").collect()]
    assert ws[0] == 0          # self is the trivial rank-1 hit
    assert 0 not in wo         # audit mode drops it before ranking


# ------------------------------------------------- span scrub


def test_scrub_spans_excises_planted_run(spark):
    docs = _span_fixture(spark)
    spans = dd.duplicated_spans(docs, k=8, min_docs=2)
    got = {r["doc_id"]: r for r in dd.scrub_spans(docs, spans).collect()}
    # doc 3 has no spans -> not in the ledger at all
    assert set(got) == {1, 2, 4}
    r1 = got[1]
    assert (r1["n_tokens_in"], r1["covered_tokens"], r1["n_tokens_out"]) == (18, 10, 8)
    # the kept text is exactly the unique halves, in order
    import hashlib

    expect = hashlib.md5(b"u1a u1b u1c u1d u1e u1f u1g u1h").hexdigest()
    assert r1["scrub_md5"] == expect


def test_scrub_spans_fully_covered_doc(spark):
    # exact short duplicates: whole-text shingle, span covers (clipped)
    # everything -> n_tokens_out 0, md5 of the empty string
    docs = spark.createDataFrame(
        [(1, "tiny short doc"), (2, "tiny short doc")],
        "doc_id long, text string",
    )
    spans = dd.duplicated_spans(docs, k=8, min_docs=2)
    got = {r["doc_id"]: r for r in dd.scrub_spans(docs, spans).collect()}
    import hashlib

    for r in got.values():
        assert r["n_tokens_out"] == 0
        assert r["covered_tokens"] == r["n_tokens_in"] == 3
        assert r["scrub_md5"] == hashlib.md5(b"").hexdigest()


# ------------------------------------------------- distinct-count IVM


def test_distinct_view_maintenance(spark):
    from marketing_attribution_etl_framework__maef_spark.operators import ivm

    facts = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 3)], "g string, v long"
    )
    support = ivm.distinct_view_snapshot(facts, ["g"], "v")
    # retract ONE of the two (a,1) facts -> v=1 still supported;
    # retract the only (a,2) -> a loses a distinct value;
    # insert (b,4) -> b gains one
    delta = spark.createDataFrame(
        [("a", 1, -1), ("a", 2, -1), ("b", 4, 1)], "g string, v long, op long"
    )
    maintained = ivm.apply_aggregate_delta(support, delta, ["g", "v"], {})
    got = {
        r["g"]: r["n_distinct"]
        for r in ivm.distinct_view(maintained, ["g"]).collect()
    }
    assert got == {"a": 1, "b": 2}


def test_distinct_view_negative_support_errors(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    from marketing_attribution_etl_framework__maef_spark.operators import ivm

    facts = spark.createDataFrame([("a", 1)], "g string, v long")
    support = ivm.distinct_view_snapshot(facts, ["g"], "v")
    bad = spark.createDataFrame([("a", 9, -1)], "g string, v long, op long")
    with pytest.raises((Py4JJavaError, SparkRuntimeException, PySparkRuntimeError, Exception)):
        ivm.apply_aggregate_delta(support, bad, ["g", "v"], {}).collect()


# ------------------------------------------------- within-doc repeats


def test_repeated_spans_period_tail(spark):
    # doc 1: 12 unique tokens + its last 10 repeated -> two 10-token
    # spans (the straddling shingles break the period and occur once)
    base = [f"t{i}" for i in range(1, 13)]
    text = " ".join(base + base[-10:])
    docs = spark.createDataFrame(
        [(1, text), (2, " ".join(f"u{i}" for i in range(1, 15)))],
        "doc_id long, text string",
    )
    spans = sorted(
        (r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.repeated_spans(docs, k=8, min_repeats=2).collect()
    )
    assert spans == [(3, 12, 10), (13, 22, 10)]


# ------------------------------------------------- streaming repeat gate


def test_repeat_gate_matches_batch_across_slicing(spark, tmp_path):
    base = [f"t{i}" for i in range(1, 13)]
    rows = [
        (1, " ".join(base + base[-10:]), "a"),   # flagged: period-10 tail
        (2, " ".join(f"u{i}" for i in range(1, 15)), "a"),
        (3, " ".join(f"v{i}" for i in range(1, 15)), "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string").select(
        "doc_id", "text", F.lit("en").alias("lang"), "source",
        F.length("text").cast("long").alias("n_chars"),
    )
    src = str(tmp_path / "docs")
    docs.repartition(2).write.parquet(src)
    root = str(tmp_path / "gate")
    drv = inc.IncrementalRepeatGate(spark, root)
    drv.start(inc.stream_documents(spark, src)).awaitTermination()
    got = {r["source"]: (r["n_docs"], r["n_flagged"], r["rep_instances"]) for r in drv.gate().collect()}
    batch = {r["source"]: (r["n_docs"], r["n_flagged"], r["rep_instances"]) for r in drv._gate(docs).collect()}
    assert got == batch
    assert got["a"] == (2, 1, 6)  # 3 interior 8-grams x 2 occurrences
    assert got["b"] == (1, 0, 0)


def test_contamination_gate_matches_batch_across_slicing(spark, tmp_path):
    # eval doc shares the 5-gram e1..e5 with train doc 1 (source a)
    # twice-shingled? no: one distinct shared shingle; doc 2 clean.
    rows = [
        (1, "e1 e2 e3 e4 e5 x1 x2 x3 x4", "a"),
        (2, "y1 y2 y3 y4 y5 y6 y7", "a"),
        (3, "z1 z2 z3 z4 z5 z6 z7", "b"),
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string, source string").select(
        "doc_id", "text", F.lit("en").alias("lang"), "source",
        F.length("text").cast("long").alias("n_chars"),
    )
    ev = spark.createDataFrame(
        [(100, "q1 e1 e2 e3 e4 e5 q2", "bench")],
        "doc_id long, text string, source string",
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"), "source",
        F.length("text").cast("long").alias("n_chars"),
    )
    src = str(tmp_path / "docs")
    train.repartition(2).write.parquet(src)
    from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

    drv = inc.IncrementalContaminationGate(spark, str(tmp_path / "gate"), ev)
    drv.start(inc.stream_documents(spark, src)).awaitTermination()
    got = {
        r["source"]: (
            r["n_train"], r["n_contaminated"], r["shared_shingles"], r["contamination_q20"]
        )
        for r in drv.gate().collect()
    }
    # streamed counters == batch recompute of the same expressions
    batch = {
        r["source"]: (r["n_train"], r["n_contaminated"], r["shared_shingles"])
        for r in drv._gate(train).collect()
    }
    assert {s: v[:3] for s, v in got.items()} == batch
    # doc 1 shares exactly the two 5-shingles covering e1..e5 with the
    # eval doc?  e1..e5 is one 5-gram in train doc 1 (positions 1-5)
    # and appears in eval at positions 2-6 -> 1 distinct shared shingle
    assert got["a"] == (2, 1, 1, (2 * 1 * 1048576 + 2) // (2 * 2))
    assert got["b"] == (1, 0, 0, 0)


def test_gate_ablation_marginal_counts(spark):
    from marketing_attribution_etl_framework__maef_spark.llm import text as txt

    rows = [
        # passes all four rules
        (1, "the cat and dog run to market in town today"),
        # sole pii (email)
        (2, "the big and small dog is happy contact bob@example.com now"),
        # sole lang (German stopwords, quality ok)
        (3, "der hund und die katze ist nicht mit haus baum"),
        # sole low_quality (<5 words, still English)
        (4, "the and is"),
        # sole repetitive (duplicate bigrams, distinct ratio ok, en)
        (5, "the of a the of a the of a and is but"),
        # lang + low_quality together -> counts in n_failing, never sole
        (6, "der und"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["rule"]: (r["n_failing"], r["n_sole"], r["words_sole"])
        for r in txt.gate_ablation(docs).collect()
    }
    assert got == {
        "low_quality": (2, 1, 3),
        "repetitive": (1, 1, 12),
        "lang": (2, 1, 10),
        "pii": (1, 1, 10),
    }


def test_zone_map_skipping_sound_and_clustering_wins(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["rel_zone_map_skipping"](spark, sf_dir).collect()
    assert rows
    by_layout = {"scattered": 0, "date_ranged": 0}
    for r in rows:
        # pruning must be SOUND: a surviving-bucket scan covers every
        # matching row
        assert r["buckets_scanned"] <= r["n_buckets"]
        assert r["rows_scanned"] >= r["rows_matching"]
        by_layout[r["layout"]] += r["buckets_scanned"]
    # the date-ranged layout must skip strictly more than the
    # scattered one in aggregate — the point of the audit
    assert by_layout["date_ranged"] < by_layout["scattered"]


def test_ivm_topk_retraction_promotes_from_support(spark):
    from marketing_attribution_etl_framework__maef_spark.operators import ivm

    # history: channel x has days d1=30, d2=20, d3=10, d4=5 cents
    facts = spark.createDataFrame(
        [("x", "d1", 30), ("x", "d2", 20), ("x", "d3", 10), ("x", "d4", 5)],
        "channel string, day string, _cents long",
    )
    support = ivm.aggregate_snapshot(
        facts, ["channel", "day"], {"cents": F.col("_cents")}
    )
    # retract d1 entirely: d4 must be PROMOTED into the top-3 — the
    # case that proves the view grain alone cannot be maintained
    delta = spark.createDataFrame(
        [("x", "d1", 30, -1)], "channel string, day string, _cents long, op int"
    )
    maintained = ivm.apply_aggregate_delta(
        support, delta, ["channel", "day"], {"cents": F.col("_cents")}
    )
    got = [
        (r["rnk"], r["day"], r["cents"])
        for r in ivm.topk_view(maintained, ["channel"], "cents", 3)
        .orderBy("rnk")
        .collect()
    ]
    assert got == [(1, "d2", 20), (2, "d3", 10), (3, "d4", 5)]


def test_geo_holdout_lift_share_scaled_counterfactual(spark):
    from marketing_attribution_etl_framework__maef_spark.operators import experiments as xp

    grain = spark.createDataFrame(
        [
            # control pool: pre 100+300, post 150+250 -> trend 400/400
            ("c1", False, 100, 150),
            ("c2", False, 300, 250),
            # treated: pre 200 -> counterfactual = 400 * 200/400 = 200
            ("t1", True, 200, 260),
            # treated with rounding: pre 150 -> 400*150/400 = 150
            ("t2", True, 150, 100),
        ],
        "nation string, is_treated boolean, pre_cents long, post_cents long",
    )
    got = {
        r["nation"]: (r["counterfactual_cents"], r["lift_cents"])
        for r in xp.geo_holdout_lift(grain).collect()
    }
    assert got == {"t1": (200, 60), "t2": (150, -50)}


def test_ann_ensemble_recall_dominates_parts(spark, sf_dir):
    import __spark_entry__ as entrymod

    r = entrymod.queries()["llm_ann_ensemble_recall"](spark, sf_dir).collect()[0]
    # the ensemble can never recall FEWER truth neighbors than either
    # part alone: every part hit whose pair survives the union rerank
    # is an ensemble hit, and a pair only drops out of the top-5 when
    # displaced by a higher-cosine pair from the other index
    assert r["sum_hits_ens"] >= max(r["sum_hits_ivf"], r["sum_hits_lsh"]) - 5
    assert 0 <= r["sum_hits_ens"] <= 5 * r["n_queries"]
    assert r["k"] == 5


def test_ivf_topk_exclude_self_drops_query_row(spark, sf_dir):
    from marketing_attribution_etl_framework__maef_spark import domain
    from marketing_attribution_etl_framework__maef_spark.llm import similarity as sim

    e = domain.load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 7)
    cents = e.filter(F.col("vec_id") < 8)
    with_self = sim.ivf_topk(e, q, cents, k=1, probe=2)
    without = sim.ivf_topk(e, q, cents, k=1, probe=2, exclude_self=True)
    # rank-1 with self included is the query itself (cos=1); without,
    # it never is
    assert with_self.filter(F.col("vec_id") == F.col("query_id")).count() > 0
    assert without.filter(F.col("vec_id") == F.col("query_id")).count() == 0


def test_dataset_card_fields(spark):
    from marketing_attribution_etl_framework__maef_spark.llm import text as txt

    rows = [
        # source a: one quality en doc, duplicated normalized text
        (1, "The cat and dog run to market in town", "a"),
        (2, "the cat and dog run to  market in town", "a"),  # same after norm
        # source a: short (fails quality), no dup
        (3, "the and is", "a"),
        # source b: German + email pii
        (4, "der hund und die katze ist nicht mit a@b.com haus", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (
            r["n_docs"], r["total_words"], r["n_quality"], r["n_en"],
            r["n_pii_docs"], r["n_exact_dup"],
        )
        for r in txt.dataset_card(docs).collect()
    }
    # a: 3 docs, words 9+9+3=21; 2 quality; 3 en; 0 pii; docs 1,2 dup
    assert got["a"] == (3, 21, 2, 3, 0, 2)
    # b: 1 doc, 10 words, quality, de, pii, no dup
    assert got["b"] == (1, 10, 1, 0, 1, 0)
