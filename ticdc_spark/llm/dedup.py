"""Deduplication operators (beyond-reference, SURVEY §7.2 phase 7).

Four dedup families over ``documents``:

- **exact**: content-hash groupBy — one shuffle on the digest.
- **n-gram Jaccard**: inverted-index self-join on shingles (NOT a cross
  join): explode shingles → join on shingle → count intersections →
  |A∪B| = |A|+|B|−|∩|. At 100 TB the shingle join is the scalable
  candidate generator; hot shingles are the skew risk (AQE skew-join
  handles, or drop top-frequency shingles as stopwords).
- **MinHash + LSH**: per-doc signature = array_min over md5-salted
  shingle hashes (map-only, no shuffle); band buckets → equi-join on
  (band, bucket) generates candidates in O(collisions), then exact
  Jaccard verifies. The classic sub-quadratic near-dup pipe.
- **SimHash**: 16-bit signature from per-token FNV-1a hashes, bitwise
  majority vote — map-only column algebra.

Everything is deterministic (md5 / FNV-1a) so the DuckDB oracle can
reproduce results exactly; no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ticdc_spark.llm.text import shingles_col, tokens_col
from ticdc_spark.operators.routing import fnv1a32

NUM_PERM = 8       # minhash permutations
BAND_SIZE = 2      # rows per LSH band
N_BANDS = NUM_PERM // BAND_SIZE


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: groups + canonical (min) doc id."""
    h = F.md5(F.col("text"))
    return (
        docs.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def _doc_shingles(docs: DataFrame) -> DataFrame:
    # Single-file test inputs arrive as one partition; spread the
    # per-doc shingle/hash compute across cores. At real scale the scan
    # already has many splits and this becomes a cheap rebalance.
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(parallelism).select(
        "doc_id", shingles_col(3).alias("shingles")
    )


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """Strictly-ordered co-occurrence pairs (a, b) from an inverted
    index whose ``_ds`` column holds the SORTED, duplicate-free member
    list of each bucket.  Enumerating each bucket's pairs in place
    (member i with every later member) yields exactly the multiset the
    classic ``index.alias("a").join(index.alias("b"), key & (a.id <
    b.id))`` produces — but the bucket key crosses the wire once, in
    the single groupBy exchange that built ``_ds``, instead of feeding
    a self-join (guide §2.3: shuffle keys once, stream the pairs
    downstream as two bare ids with map-side partial aggregation)."""
    return (
        buckets.select("_ds", F.posexplode("_ds").alias("_i", "a"))
        .select("a", F.explode(
            F.expr("slice(_ds, _i + 2, size(_ds))")).alias("b"))
    )


def _length_band(na: Column, nb: Column, threshold: float) -> Column:
    """Exact length filter of the similarity-join literature (Arasu et
    al. 2006): J(A,B) ≥ t forces |A∩B| ≥ t·|A∪B| ≥ t·|A| and
    |A∩B| ≤ |B|, so |B| ≥ t·|A| (and symmetrically) — any pair outside
    the size band cannot qualify and can be dropped BEFORE the pair
    stream is aggregated.  floor() keeps the float product from ever
    rounding the bound up past an exact integer boundary (which would
    drop a truly qualifying pair); the filter is thus a provable superset
    and the exact Jaccard filter downstream keeps results identical."""
    t = F.lit(float(threshold))
    return (nb >= F.floor(na * t)) & (na >= F.floor(nb * t))


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ threshold.

    The exploded-shingle self-join carries each doc's shingle-set size
    so the length band (:func:`_length_band`) prunes size-incompatible
    pairs at the join, before the (a, b) intersection-count
    aggregation — the measured cost center (~150M pair rows at sf1 for
    a 604-row result; the band cuts ~3× on this corpus's size spread).
    A prefix-filter variant (candidates from rare-ordered prefixes +
    array verification) was built and measured SLOWER here (29.8 →
    43.8 s at sf1): this corpus's shingle df is near-uniform (~122
    avg / 170 max), so prefixes stay dense — 29M candidates whose
    full-array verify join dwarfed the saved aggregation."""
    sh = _doc_shingles(docs).cache()
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sh.select(
        "doc_id", F.size("shingles").alias("n"),
        F.explode("shingles").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & _length_band(F.col("a.n"), F.col("b.n"), threshold))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("n_b"))
    j = (
        inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "n_inter", "jaccard")
    )
    return j


def minhash_signature(docs: DataFrame, _shingles: DataFrame | None = None) -> DataFrame:
    """Per-doc minhash signature columns mh0..mh{NUM_PERM-1} + LSH band
    bucket hashes band0..band{N_BANDS-1} — all map-side."""
    sh = _shingles if _shingles is not None else _doc_shingles(docs)
    cols = [F.col("doc_id")]
    mh = []

    def salted(seed: int):
        # NB: must stay a 1-arg lambda — a second (even defaulted) param
        # makes pyspark pass the array index as the extra argument.
        return lambda x: F.md5(F.concat(F.lit(f"{seed}:"), x))

    for s in range(NUM_PERM):
        m = F.array_min(F.transform(F.col("shingles"), salted(s)))
        mh.append(m)
        cols.append(m.alias(f"mh{s}"))
    for b in range(N_BANDS):
        band = F.md5(F.concat_ws("|", *mh[b * BAND_SIZE:(b + 1) * BAND_SIZE]))
        cols.append(band.alias(f"band{b}"))
    return sh.select(*cols)


#: Band buckets holding more than this many documents are excluded from
#: candidate generation.  A bucket of occupancy n produces n·(n-1)/2
#: candidate pairs on a single shuffle key — one boilerplate mega-cluster
#: (all docs sharing a band hash) turns the self-join quadratic on that
#: key at 100 TB.  Buckets above the cap are near-certainly such clusters;
#: each doc in one still has N_BANDS-1 other bands to collide on, so the
#: recall loss is bounded (and accounted for by
#: :func:`minhash_lsh_hot_buckets`).
MAX_BUCKET_OCCUPANCY = 64


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.8,
                      max_bucket: int = MAX_BUCKET_OCCUPANCY) -> DataFrame:
    """Candidate pairs via LSH band-bucket equi-join, verified with exact
    Jaccard. Output identical shape to ngram_jaccard_pairs (the LSH is a
    recall-optimizing candidate generator, not a different metric).

    Skew guard (the 100 TB shape): band buckets with occupancy above
    ``max_bucket`` are dropped from candidate generation before any
    member list is built — a window count over (band, bucket) filters
    the band rows, then the groupBy collects only the buckets that
    survive.  So the self-join is skew-free by construction (no
    single (band, bucket) key can exceed max_bucket²/2 pairs) and no
    task ever holds a hot bucket's list in memory.

    The shingle table feeds three subtrees (signatures + both sides of
    the verify join) — cache it so the split/slice work runs once."""
    sh_cached = _doc_shingles(docs).cache()
    sig = minhash_signature(docs, _shingles=sh_cached)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                for b in range(N_BANDS)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # hot-bucket guard ahead of the member lists: the occupancy window
    # and the groupBy share one hash partitioning on (band, bucket), so
    # the guard adds no Exchange; the window's row buffer spills, and a
    # bucket over the cap never reaches collect_list
    occupancy = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    buckets = (
        bands.withColumn("_n", occupancy)
        .filter(F.col("_n") <= max_bucket)
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ds"))
    )
    cand = (
        _bucket_pairs(buckets)
        .select(F.col("a").alias("a_id"), F.col("b").alias("b_id"))
        .distinct()
    )
    sa = sh_cached.select(F.col("doc_id").alias("a_id"), F.col("shingles").alias("sh_a"))
    sb = sh_cached.select(F.col("doc_id").alias("b_id"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "n_inter", "jaccard")
    )
    return verified


def minhash_lsh_hot_buckets(docs: DataFrame,
                            max_bucket: int = MAX_BUCKET_OCCUPANCY) -> DataFrame:
    """Recall accounting for the :func:`minhash_lsh_pairs` skew guard:
    the (band, bucket, occupancy) rows that the guard drops, plus how
    many candidate pairs each would have generated.  Empty at healthy
    data distributions; at 100 TB this is the audit trail for what the
    guard excluded."""
    sig = minhash_signature(docs)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                for b in range(N_BANDS)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return (
        bands.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > max_bucket)
        .select(
            "band", "bucket", "occ",
            (F.col("occ") * (F.col("occ") - 1) / 2)
            .cast("long").alias("dropped_pairs"),
        )
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Per-doc SimHash: majority vote over token FNV-1a hash bits."""
    # Single pass: one aggregate accumulating the per-bit vote vector
    # (array<long> of length `bits`) instead of `bits` separate
    # aggregates each re-walking the hash array.
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    with_h = docs.repartition(parallelism).withColumn(
        "_hashes", F.transform(tokens_col(), lambda t: fnv1a32(t))
    )
    zero = F.array(*[F.lit(0).cast("long") for _ in range(bits)])
    bit_positions = F.array(*[F.lit(i) for i in range(bits)])

    def step(acc, h):
        # shiftright needs a literal shift amount, so derive the bit via
        # exact double arithmetic: floor(h / 2^i) % 2 (h < 2^32 « 2^53).
        return F.zip_with(
            acc,
            bit_positions,
            lambda a, i: a
            + F.when(
                F.floor(h / F.pow(F.lit(2.0), i)).cast("long") % 2 == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    votes = F.aggregate(F.col("_hashes"), zero, step)
    sim = F.aggregate(
        F.zip_with(
            votes,
            F.array(*[F.lit(1 << i).cast("long") for i in range(bits)]),
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return with_h.select("doc_id", sim.alias("simhash"))


def dedup_clusters(
    docs: DataFrame, threshold: float = 0.8, max_iter: int = 25
) -> DataFrame:
    """Near-dup CLUSTER formation: connected components over the verified
    LSH pair graph, labeling every member with the minimum doc_id of its
    component (the canonical survivor — what a training-data pipeline
    actually keeps/drops).

    Distributed min-label propagation: each round every vertex takes the
    minimum label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup components are shallow —
    star-like around a template). Each round is one equi-join + one
    groupBy; lineage is truncated per round (``localCheckpoint``) so the
    plan doesn't grow — the standard Spark iterative-graph pattern
    (GraphX/GraphFrames CC does the same with large-star/small-star to
    get O(log n) rounds; at 100 TB swap the propagation body for that).

    Output: (doc_id, cluster_id, cluster_size, is_canonical) for every
    doc that belongs to some near-dup pair; singletons are not emitted
    (they are "keep" by definition).
    """
    pairs = minhash_lsh_pairs(docs, threshold).select("a_id", "b_id")
    edges = (
        pairs.union(pairs.select(F.col("b_id").alias("a_id"),
                                 F.col("a_id").alias("b_id")))
        .withColumnRenamed("a_id", "src").withColumnRenamed("b_id", "dst")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
        )
        # carry the changed flag through the SAME join instead of
        # re-joining old vs new labels afterwards: the convergence probe
        # becomes a filter over the already-checkpointed round output —
        # one equi-join (+ its exchange) less per round (guide §2.4)
        new_with_flag = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["src"], "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.coalesce("nbr_label", "label") < F.col("label")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_with_flag.filter("chg").limit(1).count()
        labels = new_with_flag.select("doc_id", "label")
        if changed == 0:
            break
    sized = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sized, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("label")).alias("is_canonical"),
        )
    )


def dedup_clusters_star(
    docs: DataFrame, threshold: float = 0.8, max_iter: int = 10
) -> DataFrame:
    """The at-scale variant of :func:`dedup_clusters`: connected
    components via alternating **large-star / small-star** (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    O(log n) rounds instead of O(diameter), which is what survives a
    deep-chain component at 100 TB.

    Each round is two groupBy+join passes over the edge list, all
    JVM-side; lineage is truncated per round (``localCheckpoint``).
    Edges are kept oriented large→small, so every intermediate edge set
    is at most the symmetric closure of the input. At the fixed point
    every edge points directly at its component minimum.

    Convergence is detected with an edge-set symmetric-difference probe
    (two anti-join ``limit(1)`` jobs — cheap relative to the round
    itself); ``max_iter`` = log2-ish backstop.

    Output contract is identical to :func:`dedup_clusters`:
    (doc_id, cluster_id, cluster_size, is_canonical) for every doc in
    some near-dup pair; cluster_id = min doc_id of the component.
    """
    pairs = minhash_lsh_pairs(docs, threshold).select("a_id", "b_id")
    lab = connected_components_star(pairs, max_iter)
    sized = lab.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return lab.join(sized, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def connected_components_star(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Large-star/small-star connected components over an (a_id, b_id)
    pair list → (doc_id, cluster_id = component min) for every vertex.
    O(log n) rounds; see :func:`dedup_clusters_star` for the round
    anatomy."""
    verts = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .union(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    # oriented large→small; LSH pairs have a_id < b_id so no self-loops
    edges = (
        pairs.select(
            F.greatest("a_id", "b_id").alias("src"),
            F.least("a_id", "b_id").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    w_src = Window.partitionBy("src")
    for _ in range(max_iter):
        # large-star: every node u connects its strictly-larger
        # neighbors to min(Γ(u) ∪ {u}); output stays oriented
        # large→small because m ≤ src < dst.  min-over-window instead
        # of groupBy+join-back: the per-round aggregate and its
        # re-attachment share ONE exchange by src (guide §2.4) — the
        # r8 shape shuffled sym twice (groupBy, then join) per star.
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        lw = sym.withColumn(
            "mn", F.least(F.min("dst").over(w_src), F.col("src")))
        ls = (
            lw.filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .distinct()
        )
        # small-star: every node u re-points its (all-smaller) neighbors
        # and itself at min(N(u)); m < src for every emitted edge.
        sw = ls.withColumn("mn", F.min("dst").over(w_src))
        new_edges = (
            sw.filter(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .union(sw.select("src", F.col("mn").alias("dst")))
            .distinct()
            .localCheckpoint()
        )
        # set-equality probe in ONE full-outer join instead of two
        # subtract anti-joins (both edge sets are distinct by
        # construction, so "symmetric difference empty" == "no row with
        # a null side") — one exchange less per round (guide §2.4)
        changed = (
            new_edges.withColumn("_n", F.lit(1))
            .join(edges.withColumn("_o", F.lit(1)), ["src", "dst"],
                  "full_outer")
            .filter(F.col("_n").isNull() | F.col("_o").isNull())
            .limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            break
    labels = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.min("dst").alias("cluster_id")
    )
    roots = verts.join(
        edges.select(F.col("src").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("cluster_id"))
    return labels.union(roots)


def decontaminate(
    docs: DataFrame, bench_mod: int = 97, threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose word-shingle
    overlap with an evaluation set exceeds ``threshold``.

    The eval set here is the deterministic slice ``doc_id % bench_mod ==
    0`` (stand-in for a real benchmark table — swap the filter for a
    join against it). Scale shape: eval benchmarks are MBs even when the
    corpus is 100 TB, so the distinct eval shingle index BROADCASTS; the
    corpus side is one map-side explode + a single groupBy(doc_id) whose
    partial aggregation collapses per-split — no corpus self-join
    anywhere (contrast with near-dup pairs, which need the
    inverted-index join).
    """
    sh = _doc_shingles(docs)
    bench = (
        sh.filter(F.col("doc_id") % bench_mod == 0)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    corp = sh.filter(F.col("doc_id") % bench_mod != 0).cache()
    hits = (
        corp.select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_sh = F.size("shingles")
    score = F.round(
        F.col("n_contaminated").cast("double") / n_sh, 6
    )
    return (
        corp.join(hits, "doc_id", "left")
        .na.fill({"n_contaminated": 0})
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            "n_contaminated",
            F.when(n_sh > 0, score).alias("contamination"),
            F.when(n_sh > 0, score >= threshold)
            .otherwise(F.lit(False))
            .alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication via embedding clusters
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication"): k-means-cluster the embeddings, then
# prune items whose cosine to another member of the SAME cluster exceeds
# tau, keeping one representative per near-duplicate group.
#
# 100 TB shape: cell assignment is map-only column algebra against the
# broadcast codebook; the candidate join is a (cell) equi-join — within-
# cluster pairs only, never all-pairs (the clustering IS the blocking
# step, the same sub-quadratic trick as MinHash-LSH but in embedding
# space). Deterministic keep policy: the lowest vec_id in a dup pair is
# the representative, so the prune set needs no iterative consensus.
# ---------------------------------------------------------------------------


def semantic_dedup(emb: DataFrame, tau: float = 0.95,
                   cents: list[list[float]] | None = None) -> DataFrame:
    """Pruned items with their kept representative: (vec_id, rep_id,
    cell, cos_sim) — rep is the lower-id same-block neighbor with the
    highest cosine (ties → lowest id).

    Blocking is (k-means cell × LSH sign-bucket) — a product quantizer:
    with k cells alone the intra-cell pair volume is quadratic in n/k
    (measured 7.6 s at 51k vectors with k=8); the sign-bucket sub-block
    caps block size without growing the centroid codebook, and a
    near-duplicate's tiny perturbation preserves both its cell and its
    sign pattern, so recall on true near-dups is essentially unchanged
    (the planted-twin oracle keeps this honest)."""
    from pyspark.sql import Window

    from ticdc_spark.llm.similarity import (
        _dot, _norm, hyperplanes, ivf_cell_col, ivf_centroids,
        lsh_bucket_col,
    )

    cents = cents or ivf_centroids()
    planes = hyperplanes()
    # both sides of the self-join read this frame; cache it so the
    # k×dim distance fold and the plane projections run once per row,
    # not once per side
    cells = emb.select(
        "vec_id", "embedding",
        ivf_cell_col(F.col("embedding"), cents).alias("cell"),
        lsh_bucket_col(F.col("embedding"), planes).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    ).cache()
    lo = cells.select(F.col("vec_id").alias("rep_id"),
                      F.col("embedding").alias("a_emb"),
                      F.col("nrm").alias("a_nrm"), "cell", "bucket")
    hi = cells.select(F.col("vec_id").alias("vec_id"),
                      F.col("embedding").alias("b_emb"),
                      F.col("nrm").alias("b_nrm"), "cell", "bucket")
    pairs = (
        lo.join(hi, ["cell", "bucket"])
        .filter(F.col("rep_id") < F.col("vec_id"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("a_emb"), F.col("b_emb"))
                    / (F.col("a_nrm") * F.col("b_nrm")), 6),
        )
        .filter(F.col("cos_sim") >= tau)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("rep_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "rep_id", F.col("cell").cast("long").alias("cell"),
                "cos_sim")
    )


# ---------------------------------------------------------------------------
# Exact substring duplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better"): repeated fixed-length word
# n-grams across (and within) documents mark boilerplate/copied spans.
#
# 100 TB shape: posexplode to (gram, doc, pos) then ONE groupBy on the
# gram — the suffix-array of the paper replaced by a shuffle on the
# gram key. Here the gram text itself is the key (portable vs the
# oracle); the at-scale variant keys on a 128-bit hash of the gram,
# which changes bytes shuffled, not the plan shape.
# ---------------------------------------------------------------------------

SUBSTR_W = 8  # words per gram — the paper's 50-token spans, scaled down


def substring_dup_stats(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """Per-document duplicated-substring profile: (doc_id, n_grams,
    n_dup_grams, dup_frac) where a gram is duplicated iff it occurs
    more than once in the corpus (any document, including this one)."""
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    grams = (
        toks.withColumn("n_toks", F.size("t"))
        .filter(F.col("n_toks") >= w)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_toks") - w),
                    lambda i: F.concat_ws(" ", F.slice("t", i + 1, w)),
                )
            ).alias("pos", "gram"),
        )
    )
    # (An r8 restructure — join only dup-gram occurrences and derive
    # n_grams map-side as n_toks - w + 1 — measured SLOWER at sf0.1
    # (1.97s -> 2.64s, 6 -> 8 Exchanges): the extra doc-keyed base
    # join costs more than the narrower aggregation saves at this
    # scale.  Reverted; same category as the table_diff_fix_sql
    # lesson in OPTIMIZATION_r08.md §6.)
    gram_counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_occ"))
    per_doc = (
        grams.join(gram_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
            .alias("n_dup_grams"),
        )
    )
    return per_doc.select(
        "doc_id", "n_grams",
        F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
        F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_frac"),
    )


def ngram_jaccard_pairs_pruned(docs: DataFrame, threshold: float = 0.8,
                               max_df_frac: float = 0.02) -> DataFrame:
    """Skew-resistant variant of :func:`ngram_jaccard_pairs`: shingles
    appearing in more than ``max_df_frac`` of documents are dropped
    from the inverted index AND the per-doc sizes (Jaccard over the
    pruned shingle space).  This is the 100 TB shape: the hot keys
    that would dominate the self-join's shuffle (a stop-shingle can
    touch every document → O(n²) candidate pairs on one key) are
    removed by a broadcast anti-join against a tiny hot-set, so the
    remaining join is skew-free by construction.  The df threshold is
    a 1-row broadcast aggregate — no driver-side count."""
    sh = _doc_shingles(docs).cache()
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    # docs contributing >=1 shingle — counted from the per-doc arrays
    # (map-only), NOT count_distinct over the exploded occurrences,
    # which would re-shuffle the whole shingle table for one number
    tot = F.broadcast(
        sh.filter(F.size("shingles") > 0).agg(
            F.count(F.lit(1)).alias("n_docs")))
    hot = (
        ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(tot)
        .filter(F.col("df") > F.col("n_docs") * max_df_frac)
        .select("s")
    )
    # kept feeds three consumers (sizes + both self-join sides): cache
    # it so the anti-join and upstream explode run once.  A window over
    # doc_id attaches each doc's PRUNED size to its kept rows (sizes
    # and Jaccard live in the pruned space) so the exact length band
    # prunes size-incompatible pairs at the join, before the
    # intersection-count aggregation — same move as
    # :func:`ngram_jaccard_pairs`, same prefix-filter negative result.
    kept = (
        ex.join(F.broadcast(hot), "s", "left_anti")
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .cache()
    )
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & _length_band(F.col("a.n"), F.col("b.n"), threshold))
        .groupBy(F.col("a.doc_id").alias("a_id"),
                 F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "n_inter", "jaccard")
    )


def source_overlap_matrix(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    number of distinct ``w``-word grams they share and the overlap
    fraction vs the smaller side — the dataset-vs-dataset analog of
    benchmark decontamination (is corpus B partially a copy of A?).

    100 TB shape: per-source gram sets are distinct-deduped before the
    gram-keyed equi-join (so a gram repeated 1M times inside one source
    contributes ONE row), and the output is |sources|² — control-plane
    sized."""
    toks = docs.select("source", tokens_col(F.col("text")).alias("t"))
    grams = (
        toks.withColumn("n_toks", F.size("t"))
        .filter(F.col("n_toks") >= w)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_toks") - w),
                    lambda i: F.concat_ws(" ", F.slice("t", i + 1, w)),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    # NOTE (r9): a one-exchange inverted shape (groupBy(gram) →
    # collect_set(source) → in-bucket pairs) was built and measured
    # 0.76× at sf1 — w-word grams are mostly unique, so the set
    # aggregation rides ObjectHashAggregate's sort-based fallback and
    # costs more than the ReusedExchange self-join it replaces.  Kept
    # the join shape.
    totals = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (
        a.join(b, (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"),
                 F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = totals.select(F.col("source").alias("src_a"),
                       F.col("n_grams").alias("n_a"))
    tb = totals.select(F.col("source").alias("src_b"),
                       F.col("n_grams").alias("n_b"))
    return (
        shared.join(F.broadcast(ta), "src_a").join(F.broadcast(tb), "src_b")
        .select(
            "src_a", "src_b", "n_shared", "n_a", "n_b",
            F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6)
            .alias("overlap"),
        )
    )


def substring_excise(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """Exact-substring REMOVAL (the second half of Lee et al. 2021:
    the paper cuts duplicated spans out of the text, it does not drop
    documents).  A token is removed iff any corpus-duplicated ``w``-gram
    covers it; remaining tokens reassemble in order.

    Shape: gram counts = one shuffle on the gram key; duplicated-gram
    START POSITIONS fold back to one int list per document (a second,
    position-sized shuffle); the excision itself is per-doc array
    algebra — expand positions to covered indexes, ``array_except``
    against 0..n-1, re-slice the token array — so token rows never
    leave their document and the reassembly needs no sort or
    ``collect_list`` shuffle.  (The previous shape exploded every
    token into its own row and pushed them through an anti-join plus a
    collect_list regroup: ~3 extra token-volume exchanges doing work
    the document's own array can do in place.)
    """
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    grams = (
        toks.withColumn("n_toks", F.size("t"))
        .filter(F.col("n_toks") >= w)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_toks") - w),
                    lambda i: F.concat_ws(" ", F.slice("t", i + 1, w)),
                )
            ).alias("pos", "gram"),
        )
    )
    dup_grams = (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > 1).select("gram")
    )
    dup_pos = (
        grams.join(dup_grams, "gram")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("dup_starts"))
    )
    base = toks.filter(F.size("t") > 0)
    covered = F.array_distinct(F.flatten(F.transform(
        F.coalesce(F.col("dup_starts"),
                   F.array().cast("array<int>")),
        lambda p: F.sequence(p, p + w - 1))))
    kept_idx = F.array_except(
        F.sequence(F.lit(0), F.size("t") - 1), covered)
    cleaned_text = F.concat_ws(
        " ", F.transform(kept_idx, lambda i: F.element_at("t", i + 1)))
    n_kept = F.size(kept_idx)
    return (
        base.join(dup_pos, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            n_kept.cast("long").alias("n_kept"),
            (F.size("t") - n_kept).cast("long").alias("n_removed"),
            cleaned_text.alias("cleaned_text"),
        )
    )
