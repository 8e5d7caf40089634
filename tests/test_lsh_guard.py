"""Hot-bucket skew guard for minhash_lsh_pairs.

A boilerplate mega-cluster (many documents sharing every band hash)
must not reach the band-bucket self-join: occupancy above
MAX_BUCKET_OCCUPANCY is dropped before pair generation, and the
dropped keys are reported by minhash_lsh_hot_buckets for recall
accounting.  Reference behaviour anchor: the unguarded join is
quadratic per bucket — the guard bounds any single (band, bucket)
shuffle key to max_bucket²/2 pairs.
"""

from __future__ import annotations

from ticdc_spark.llm.dedup import (
    MAX_BUCKET_OCCUPANCY,
    N_BANDS,
    minhash_lsh_hot_buckets,
    minhash_lsh_pairs,
)


#: one genuine near-dup pair (Jaccard above 0.6) that no guard may drop
_NEAR_DUP_PAIR = [
    (1000, "a unique long document about distributed query engines "
           "and shuffle partitioning strategies in apache spark"),
    (1001, "a unique long document about distributed query engines "
           "and shuffle partitioning strategy in apache spark"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_mega_cluster_dropped(spark):
    # 80 identical docs (> cap of 64) + one genuine near-dup pair.
    boiler = [(i, "the same boilerplate footer text repeated verbatim "
                  "across every page of the crawl " * 3) for i in range(80)]
    docs = _docs(spark, boiler + _NEAR_DUP_PAIR)

    hot = minhash_lsh_hot_buckets(docs).collect()
    # the identical docs share every band -> all N_BANDS buckets are hot
    assert len(hot) == N_BANDS
    assert all(r.occ == 80 for r in hot)
    assert all(r.dropped_pairs == 80 * 79 // 2 for r in hot)

    pairs = minhash_lsh_pairs(docs, threshold=0.6).collect()
    ids = {(r.a_id, r.b_id) for r in pairs}
    # mega-cluster pairs are gone; the genuine near-dup pair survives
    assert (1000, 1001) in ids
    assert all(a >= 1000 for a, _ in ids)


def test_hot_bucket_is_counted_never_collected(spark):
    """A degenerate bucket (25x the cap) yields no pairs, and the guard
    is an occupancy window BELOW the member-list aggregate: a hot
    bucket's list is never built.  The window rides the aggregate's
    (band, bucket) Exchange, so the plan keeps its 9 shuffles."""
    docs = _docs(spark, [(i, "identical boilerplate " * 10)
                         for i in range(200)] + _NEAR_DUP_PAIR)
    out = minhash_lsh_pairs(docs, threshold=0.6, max_bucket=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # a tree string lists each operator above its child
    assert (plan.index("partial_collect_list(doc_id")
            < plan.index("Window [count(1)"))
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 9
    assert {(r.a_id, r.b_id) for r in out.collect()} == {(1000, 1001)}


def test_guard_noop_below_cap(spark):
    # cluster size exactly at the cap -> untouched, all pairs emitted
    n = MAX_BUCKET_OCCUPANCY
    docs = _docs(spark, [(i, "identical content " * 10) for i in range(n)])
    assert minhash_lsh_hot_buckets(docs).count() == 0
    assert minhash_lsh_pairs(docs).count() == n * (n - 1) // 2


def test_length_band_keeps_exact_boundary_pair(spark):
    """r9 length filter: J >= t forces |B| >= t*|A| — the band must not
    drop a pair sitting EXACTLY on the bound.  A = 5 distinct trigram
    shingles, B = subset of 4 -> J = 4/5 = 0.8 at threshold 0.8.  A
    naive float band (n_b >= n_a * 0.8 with 0.8's binary excess) would
    cut it; the floor()-guarded band keeps it."""
    from ticdc_spark.llm.dedup import ngram_jaccard_pairs

    words = ["alpha", "bravo", "carol", "delta", "echos", "fiver", "golfs"]
    a_text = " ".join(words)          # 7 words -> 5 distinct trigrams
    b_text = " ".join(words[:6])      # 6 words -> 4 trigrams, subset of A
    docs = _docs(spark, [(1, a_text), (2, b_text)])
    got = ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.a_id, r.b_id, r.n_inter, r.jaccard) == (1, 2, 4, 0.8)


def test_length_band_prunes_only_unqualifiable_sizes(spark):
    """Size-incompatible pair (|B| < t*|A|) is gone; results otherwise
    equal the unfiltered definition (dup pair at J=1.0 survives)."""
    from ticdc_spark.llm.dedup import ngram_jaccard_pairs

    big = "one two three four five six seven eight nine ten eleven twelve"
    small = "one two three four"       # 2 trigrams, both in big (10)
    docs = _docs(spark, [(1, big), (2, small), (3, big)])
    got = {(r.a_id, r.b_id): r.jaccard
           for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert got == {(1, 3): 1.0}
