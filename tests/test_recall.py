"""Self-oracles for the hash-family-specific operators (VERDICT r1 #1c).

The raw LSH candidate sets cannot be recomputed by an external SQL engine
(they depend on Spark's xxhash64), so their QUALITY is verified here
instead of by the DuckDB gate:

- MinHash-LSH recall vs the exact shingle-Jaccard >= 0.8 pair set;
- SimHash banding recall vs the exact hamming<=3 pair set (must be 1.0
  by pigeonhole: 3 bit flips cannot touch all 4 bands);
- approximate cosine top-k recall@k vs the brute-force answer;
- hot-bucket cap: a degenerate corpus of near-identical docs completes
  with O(n) star pairs instead of an O(n^2) blowup, and the degraded
  buckets are surfaced (never silently dropped).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _exact_pairs(docs, threshold):
    """True near-dup pair set by exact all-pairs shingle Jaccard."""
    from gear5_spark.text.dedupe import ngram_jaccard

    ids = docs.select("doc_id")
    cands = (
        ids.select(F.col("doc_id").alias("doc_id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("doc_id_b")))
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
    )
    return {
        (r.doc_id_a, r.doc_id_b)
        for r in ngram_jaccard(docs, candidates=cands, threshold=threshold)
        .select("doc_id_a", "doc_id_b")
        .collect()
    }


def test_minhash_lsh_recall(docs):
    from gear5_spark.text.dedupe import lsh_near_duplicates

    true_pairs = _exact_pairs(docs, threshold=0.8)
    assert true_pairs, "corpus must contain near-dup pairs"
    cands = {
        (r.doc_id_a, r.doc_id_b)
        for r in lsh_near_duplicates(docs, num_hashes=32, bands=16).collect()
    }
    missed = true_pairs - cands
    recall = 1 - len(missed) / len(true_pairs)
    # 16 bands x 2 rows: P[miss | jaccard>=0.8] < 1e-7 per pair, and the
    # hash family is seeded — this is deterministic for the fixed corpus
    assert recall == 1.0, f"missed {missed}"


def test_simhash_band_recall_is_exactly_one(docs):
    from gear5_spark.text.dedupe import simhash, simhash_near_duplicates

    sigs = simhash(docs)
    a = sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sb"))
    exact = {
        (r.doc_id_a, r.doc_id_b)
        for r in a.crossJoin(b)
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .collect()
    }
    banded = {
        (r.doc_id_a, r.doc_id_b)
        for r in simhash_near_duplicates(docs).collect()
    }
    # pigeonhole guarantee: banding recall for hamming<=3 is exactly 1
    assert banded == exact


def test_ann_recall_at_k(emb):
    from gear5_spark.sim.ann import cosine_topk, lsh_cosine_topk

    queries = emb.filter(F.col("vec_id") < 50)
    true = {
        (r.vec_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r.vec_id, r.neighbor_id)
        for r in lsh_cosine_topk(emb, queries, k=3).collect()
    }
    recall = len(true & approx) / len(true)
    # multi-probe (radius 1) sign-LSH on this corpus; deterministic seed
    assert recall >= 0.75, f"ANN recall@3 degraded to {recall:.3f}"


def test_hot_bucket_cap_star_degradation(spark):
    from gear5_spark.text.dedupe import (
        lsh_band_buckets,
        lsh_bucket_stats,
        lsh_near_duplicates,
    )

    n = 1000
    degenerate = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical text repeated for every single document here").alias(
            "text"
        ),
    )
    pairs = lsh_near_duplicates(degenerate, max_bucket_size=100)
    rows = pairs.collect()
    # star pairing: every doc pairs with the bucket min (doc 0) exactly
    # once -> n-1 pairs, not n*(n-1)/2
    assert len(rows) == n - 1
    assert {r.doc_id_a for r in rows} == {0}
    # the cap is surfaced, never silent
    stats = lsh_bucket_stats(
        lsh_band_buckets(degenerate), max_bucket_size=100
    ).collect()
    assert stats and all(r.bucket_size == n for r in stats)


def test_ngram_jaccard_default_path_keeps_star_edges(spark):
    """ngram_jaccard's internally built candidates must carry star
    marking so hot-bucket connectivity edges survive the jaccard
    confirm — same contract the simhash/embedding paths already honor.
    threshold > 1 is the test device: NO pair can pass on similarity, so
    any surviving edge is provably a star connectivity edge."""
    import sys

    from gear5_spark.text.dedupe import ngram_jaccard

    n = 30
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical text repeated for every single document here").alias(
            "text"
        ),
    )
    starred = ngram_jaccard(docs, threshold=1.1, max_bucket_size=8)
    # bucket of 30 identical docs degraded at cap 8 -> n-1 star edges,
    # all sub-"threshold", all kept for connectivity
    rows = starred.collect()
    assert len(rows) == n - 1
    assert {r.doc_id_a for r in rows} == {0}
    # the marker must be IN the output (review r4): without it these
    # sub-threshold connectivity edges are indistinguishable from
    # confirmed similarity pairs to a per-pair consumer
    assert all(r.star for r in rows)
    # uncapped: no degradation, no star edges, the impossible threshold
    # filters everything — proving survival above came from star marking
    assert (
        ngram_jaccard(docs, threshold=1.1, max_bucket_size=sys.maxsize)
        .count()
        == 0
    )


def test_md5_mode_matches_banding_exactness(spark):
    """md5 hash family (the oracle-reproducible mode): banded candidate
    generation must still be EXACT for hamming<=3 (pigeonhole over 4x15
    bit bands) — equality against the direct all-pairs computation."""
    from pyspark.sql import functions as F

    from gear5_spark.text.dedupe import (
        simhash,
        simhash_bits,
        simhash_near_duplicates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = simhash(docs, hasher="md5")
    assert simhash_bits("md5") == 60
    # every signature fits 60 bits (no sign-bit, engine-portable)
    assert sigs.filter(
        (F.col("simhash") < 0) | (F.col("simhash") >= F.lit(1 << 60))
    ).count() == 0
    a = sigs.select(F.col("doc_id").alias("doc_id_a"),
                    F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("doc_id_b"),
                    F.col("simhash").alias("sb"))
    direct = (
        a.crossJoin(b)
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .select("doc_id_a", "doc_id_b")
    )
    banded = simhash_near_duplicates(docs, hasher="md5").select(
        "doc_id_a", "doc_id_b"
    )
    got = {(r.doc_id_a, r.doc_id_b) for r in banded.collect()}
    want = {(r.doc_id_a, r.doc_id_b) for r in direct.collect()}
    assert got == want


def test_embedding_near_dup_star_cap_preserves_connectivity(spark):
    """VERDICT r3 #2: a bucket past max_bucket_size degrades to star
    pairing; star edges must survive the cosine confirm (connectivity
    edges, not similarity claims) or mutually-similar members of the
    degraded bucket silently disconnect. Asserts (a) a bucket really
    degraded, (b) the pre-fix failure mode is present — the capped
    output carries sub-threshold star edges whose drop WOULD have split
    a component — and (c) no uncapped-confirmed pair loses connectivity
    under the cap."""
    import sys

    import numpy as np

    from gear5_spark.sim.ann import embedding_near_duplicates
    from gear5_spark.text.dedupe import connected_components

    rng = np.random.RandomState(0)
    vecs = rng.uniform(-1.0, 1.0, size=(48, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    kw = dict(threshold=0.6, n_planes=2, n_tables=4, dim=8)

    uncapped = embedding_near_duplicates(
        emb, max_bucket_size=sys.maxsize, **kw
    ).collect()
    capped = embedding_near_duplicates(emb, max_bucket_size=8, **kw).collect()

    # (a) with 48 vectors over 4 buckets/table, some bucket exceeded 8 —
    # visible as star edges in the capped output
    capped_pairs = {(r.vec_id_a, r.vec_id_b) for r in capped}
    uncapped_pairs = {(r.vec_id_a, r.vec_id_b) for r in uncapped}
    assert capped_pairs != uncapped_pairs, "no bucket degraded; raise n"
    # (b) sub-threshold star edges passed the confirm un-filtered —
    # and every one of them carries the star marker, so per-pair
    # consumers can tell connectivity edges from similarity claims
    assert min(r.cosine for r in capped) < 0.6
    assert min(r.cosine for r in uncapped) >= 0.6
    assert all(r.star for r in capped if r.cosine < 0.6)
    assert all(not r.star for r in uncapped)

    # (c) every uncapped-confirmed pair stays in one component
    cap_df = spark.createDataFrame(
        [(a, b) for a, b in capped_pairs], "doc_id_a long, doc_id_b long"
    )
    label = {
        r.node: r.label
        for r in connected_components(cap_df).collect()
    }
    split = [
        (a, b)
        for a, b in uncapped_pairs
        if label.get(a, a) != label.get(b, b)
    ]
    assert not split, f"star cap disconnected mutually-similar pairs: {split}"


def test_arrow_confirm_matches_sql_mode(spark):
    """confirm_impl='arrow' (mapInPandas numpy einsum) must produce the
    SAME pair set, star markers, and 6-decimal cosines as the default
    JVM-expression mode — including ragged vectors (length mismatch
    scores NaN in arrow / NULL in SQL: dropped either way unless star)
    and degraded-bucket star edges (kept in both)."""
    import sys

    import numpy as np

    from gear5_spark.sim.ann import embedding_near_duplicates

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(40)]
    # near-duplicate pair + a ragged vector that can't stack with dim 8
    # + a NULL vector (hashes to bucket 0, so it DOES enter candidate
    # pairs — the arrow path must score it NaN, not crash on len(None))
    rows.append((100, [x * 1.001 for x in rows[0][1]]))
    rows.append((101, [1.0, 2.0, 3.0]))
    rows.append((102, None))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    kw = dict(threshold=0.6, n_planes=2, n_tables=4, dim=8)

    def _canon_cos(c):
        # both modes must emit a true NULL for an unscorable pair —
        # a NaN leaking into the public output is a defect, not a
        # representation to canonicalize away
        assert c == c or c is None, f"NaN cosine in public output: {c!r}"
        return None if c is None else round(c, 6)

    for cap in (sys.maxsize, 6):  # uncapped AND star-degraded buckets
        sql_rows = {
            (r.vec_id_a, r.vec_id_b, _canon_cos(r.cosine), r.star)
            for r in embedding_near_duplicates(
                emb, max_bucket_size=cap, confirm_impl="sql", **kw
            ).collect()
        }
        arrow_rows = {
            (r.vec_id_a, r.vec_id_b, _canon_cos(r.cosine), r.star)
            for r in embedding_near_duplicates(
                emb, max_bucket_size=cap, confirm_impl="arrow", **kw
            ).collect()
        }
        assert sql_rows == arrow_rows
        assert sql_rows  # non-vacuous: the seeded near-dup pair exists
        # at least one star edge must be unscorable here (the NULL /
        # ragged vector) so the NULL-on-the-wire contract is exercised
        if cap != sys.maxsize:
            assert any(c is None for (_, _, c, _) in arrow_rows)
    with pytest.raises(ValueError):
        embedding_near_duplicates(emb, confirm_impl="simd", **kw).collect()


def _broadcast_hints(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    return sum(
        "broadcast" in line
        for line in plan.splitlines()
        if "ResolvedHint" in line
    )


def test_vector_joins_carry_no_forced_broadcast(spark):
    """A post-aggregate ``emb`` has a collapsed static size estimate; the
    vector sides of the cosine joins must not be pinned as a broadcast
    on it (AQE picks the build side from runtime sizes)."""
    from gear5_spark.sim.ann import _confirm_cosine_pairs, lsh_cosine_topk

    # a range scan has real stats; the aggregate's estimate is ~500 bytes
    raw = spark.range(40).select(
        (F.col("id") % 20).alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0), F.lit(0.5)).alias(
            "embedding"
        ),
    )
    emb = raw.groupBy("vec_id").agg(F.first("embedding").alias("embedding"))
    cand = spark.createDataFrame(
        [(i, i + 1, False) for i in range(19)],
        "doc_id_a long, doc_id_b long, star boolean",
    )
    confirmed = _confirm_cosine_pairs(emb, cand, 0.9, "embedding", "vec_id")
    assert _broadcast_hints(confirmed) == 0
    # nor are lsh_cosine_topk's query-side bucket probes and vectors: a
    # large query set must not be pinned past AQE's size check either
    topk = lsh_cosine_topk(emb, emb.limit(3), k=2, dim=3)
    assert _broadcast_hints(topk) == 0
