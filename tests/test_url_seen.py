"""Bloom-shard URL-seen filter + canonicalization unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators import url_seen as US
from ba_gepris_crawler_spark.operators.canonicalize import canonical_url, host_of


def _urls(spark, n, prefix="https://h.example.org/p"):
    return spark.range(n).select(F.concat(F.lit(prefix), F.col("id")).alias("url"))


def _n_maybe_seen(frontier, bloom) -> tuple[int, int]:
    """(definitely-new, maybe-seen) row counts of the flagged frame."""
    flagged = US.flag_by_bloom(frontier, bloom)
    n_maybe = flagged.filter(F.col("_maybe_seen")).count()
    return flagged.count() - n_maybe, n_maybe


def test_bloom_no_false_negatives(spark):
    seen = _urls(spark, 5000)
    bloom = US.build_bloom(seen, fpp=0.01)
    n_new, n_maybe = _n_maybe_seen(seen, bloom)
    assert n_new == 0  # every seen url must test positive
    assert n_maybe == 5000


def test_bloom_fpp_in_range(spark):
    seen = _urls(spark, 5000)
    bloom = US.build_bloom(seen, fpp=0.01)
    fresh = _urls(spark, 20000, prefix="https://other.example.org/q")
    _, n_maybe = _n_maybe_seen(fresh, bloom)
    fp_rate = n_maybe / 20000
    assert fp_rate < 0.05, fp_rate  # target 1%, generous bound


def test_new_urls_exact_with_and_without_bloom(spark):
    frontier = _urls(spark, 1000)
    seen = _urls(spark, 600).withColumn("round", F.lit(0))  # first 600 seen
    bloom = US.build_bloom(seen, fpp=0.01)
    no_bloom = {r.url for r in US.new_urls(frontier, seen).collect()}
    with_bloom = {r.url for r in US.new_urls(frontier, seen, bloom).collect()}
    assert no_bloom == with_bloom
    assert len(no_bloom) == 400


def test_canonicalize(spark):
    cases = [
        ("HTTPS://Gepris.Example.ORG:443/gepris/projekt/5#frag", "https://gepris.example.org/gepris/projekt/5"),
        ("http://Host.de:80/a?x=1", "http://host.de/a?x=1"),
        ("https://h.de", "https://h.de/"),
        ("https://h.de/p?", "https://h.de/p"),
        # NON-default ports are distinct origins and must survive
        ("https://h.de:80/x", "https://h.de:80/x"),
        ("http://h.de:443/x", "http://h.de:443/x"),
        ("ftp://h.de:80/x", "ftp://h.de:80/x"),
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [w for _, w in cases]
    hosts = [r.h for r in df.select(host_of("url").alias("h")).collect()]
    assert hosts[0] == "gepris.example.org"


def test_new_urls_exact_path_has_no_seen_side_shuffle_aggregate(spark):
    """The exact anti-join must NOT dedup its right side: left_anti is
    duplicate-tolerant there and url_seen rows are unique per URL by
    construction, so a dropDuplicates would full-shuffle the largest table
    in the system (10^9+ rows at web scale) every round for identical
    results (review r5 #7). Plan-asserted: no Aggregate anywhere in the
    exact path's physical plan — and results are still exact even if the
    right side DOES carry duplicate URLs."""
    frontier = _urls(spark, 100)
    seen = _urls(spark, 60).withColumn("round", F.lit(0))
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        US.new_urls(frontier, seen)._jdf.queryExecution(), "formatted"
    )
    assert "Aggregate" not in plan, plan
    dup_seen = seen.unionByName(seen)  # duplicate-tolerance backstop
    got = {r.url for r in US.new_urls(frontier, dup_seen).collect()}
    assert len(got) == 40


def test_bloom_broadcast_reused_and_released(spark):
    """One bitmap broadcast PER MODEL, reused across probe calls, released
    by unpersist_broadcast(): the old per-call broadcast was never cleaned
    up — rounds x bitmap-size of executor memory leaked over a long crawl
    (review r5 engine #4)."""
    seen = _urls(spark, 200).withColumn("round", F.lit(0))
    bloom = US.build_bloom(seen, fpp=0.01)
    frontier = _urls(spark, 50)
    US.flag_by_bloom(frontier, bloom)
    bc1 = bloom._bc
    US.flag_by_bloom(frontier, bloom)
    assert bloom._bc is bc1  # reused, not re-broadcast
    bloom.unpersist_broadcast()
    assert bloom._bc is None
    # a released model still works (lazy re-broadcast on next use)
    assert sum(_n_maybe_seen(frontier, bloom)) == 50
    bloom.unpersist_broadcast()


def test_update_bloom_tracks_growth_and_saturation(spark):
    """n_items must GROW with each incremental delta so estimated_fpp()
    detects a filter outgrowing its sizing (the rebuild trigger) — frozen
    n_items made saturation invisible (review r5 engine #8)."""
    seen = _urls(spark, 100).withColumn("round", F.lit(0))
    bloom = US.build_bloom(seen, expected_items=100, fpp=0.01)
    f0 = bloom.estimated_fpp()
    assert 0 < f0 < 0.05
    b2 = US.update_bloom(bloom, _urls(spark, 400, prefix="https://h.example.org/q"))
    assert b2.n_items == 500
    assert b2.estimated_fpp() > f0  # saturation is now visible
    b3 = US.update_bloom(b2, _urls(spark, 100, prefix="https://h.example.org/r"))
    assert b3.n_items == 600  # the shard kernel's own count, no count job
    # no false negatives after growth: every inserted URL still admits
    hashed = US._hash_cols(_urls(spark, 100, prefix="https://h.example.org/r"), "url").collect()
    import numpy as np

    h1 = np.array([r["_h1"] for r in hashed])
    h2 = np.array([r["_h2"] for r in hashed])
    assert b3.might_contain_vec(h1, h2).all()


def test_build_bloom_counts_actual_insertions_not_capacity(spark):
    """n_items must be the ACTUAL inserted row count (aggregated for free
    by the shard kernel), not the expected_items design capacity: seeding
    it with capacity made a near-empty bootstrap filter report the design
    fpp immediately, so the round loop's `estimated_fpp() <= 4*fpp`
    saturation gate fired after ~1.4x capacity of phantom growth and
    forced recurring full-seen-set rebuilds (review r5 tail #2)."""
    seen = _urls(spark, 12).withColumn("round", F.lit(0))
    bloom = US.build_bloom(seen, expected_items=131072, fpp=0.01)
    assert bloom.n_items == 12  # actual, not 131072
    # a filter 0.01% full reports a vanishing fpp, nowhere near 4x design
    assert bloom.estimated_fpp() < 1e-6
    # growth still accumulates from the shard-counted deltas (no count job)
    b2 = US.update_bloom(bloom, _urls(spark, 30, prefix="https://h.example.org/q"))
    assert b2.n_items == 42
    # and the treeReduce (giant) branch counts identically
    giant = US.build_bloom(
        seen.repartition(4), expected_items=12,
        m=(65 * 1024 * 1024) * 8, k=3,
    )
    assert giant.n_items == 12


def test_giant_bloom_path_arrow_shards(spark):
    """The >64 MiB treeReduce branch must stream Arrow batches into the
    shard bitmaps (executor-resident merge), not materialize partitions as
    Python lists (review r5 engine #5). Forced small-scale via explicit m:
    membership must hold with zero false negatives."""
    seen = _urls(spark, 1000).withColumn("round", F.lit(0)).repartition(4)
    m = (65 * 1024 * 1024) * 8  # 65 MiB bitmap -> giant branch
    bloom = US.build_bloom(seen, expected_items=1000, m=m, k=3)
    assert bloom.m == m and len(bloom.bits) == m // 8
    hashed = US._hash_cols(_urls(spark, 1000), "url").collect()
    import numpy as np

    h1 = np.array([r["_h1"] for r in hashed])
    h2 = np.array([r["_h2"] for r in hashed])
    assert bloom.might_contain_vec(h1, h2).all()


def test_new_urls_bloom_gate_is_single_probe_pass(spark):
    """The bloom gate must appear ONCE in the anti-join plan: the old
    two-branch union (definitely_new ∪ maybe_seen⟕seen) filtered the
    probed frame twice, and Spark re-ran the unshared mapInPandas probe —
    plus the whole frontier lineage — per branch, every round (review r5
    ops #3). The flagged-frame form folds the gate into one anti-join
    whose residual condition exempts flagged-false rows."""
    frontier = spark.range(0, 1000).select(
        F.concat(F.lit("https://h/p/"), F.col("id").cast("string")).alias("url")
    )
    seen = spark.range(0, 500).select(
        F.concat(F.lit("https://h/p/"), F.col("id").cast("string")).alias("url")
    )
    bloom = US.build_bloom(seen, expected_items=2000)
    out = US.new_urls(frontier, seen, bloom)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert {r.url for r in out.collect()} == {
        f"https://h/p/{i}" for i in range(500, 1000)
    }


def test_new_urls_respects_url_col_on_both_sides(spark):
    """url_col names the URL column in BOTH frames: the seen side was
    hard-coded to `url`, so a non-default url_col crashed — or, if the
    seen table carried both columns, silently anti-joined the WRONG key
    and re-fetched already-crawled URLs (review r5 ops #6)."""
    frontier = spark.range(0, 10).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("canon_url")
    )
    seen = spark.range(0, 6).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("canon_url"),
        F.lit("https://decoy").alias("url"),  # decoy: must NOT be the join key
    )
    got = {r.canon_url for r in US.new_urls(frontier, seen, url_col="canon_url").collect()}
    assert got == {f"c{i}" for i in range(6, 10)}
    bloom = US.build_bloom(seen, url_col="canon_url", expected_items=100)
    got_b = {
        r.canon_url
        for r in US.new_urls(frontier, seen, bloom, url_col="canon_url").collect()
    }
    assert got_b == got
