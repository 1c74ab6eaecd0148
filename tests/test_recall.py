"""The north-rule headline: dup-pair recall >= 0.99 on planted truth pairs
with exact Jaccard >= threshold, cluster assignments = transitive closure
of truth, substring stage recovers planted spans, hot bucket stays guarded.

RECALL_CONFIG is sized from the S-curve so that P(detect | J = 0.7) >= 0.99:
1 - (1 - 0.7^4)^20 = 0.996 (r=4, b=20) — see lsh_rs_spark/stats.py.
"""

import pytest
from pyspark.sql import functions as F

from lsh_rs_spark import stats
from lsh_rs_spark.config import DedupConfig
from lsh_rs_spark.operators import components as CC
from lsh_rs_spark.operators import lsh as L
from lsh_rs_spark.operators import suffix as SX
from lsh_rs_spark.operators import verify as V
from lsh_rs_spark.sources.fixtures import make_truth_corpus

RECALL_CONFIG = DedupConfig(
    num_perm=80,
    bands=20,
    rows_per_band=4,
    jaccard_threshold=0.7,
    hash_family="xxhash64",
    minhash_mode="kperm",
    seed=7,
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs, truth = make_truth_corpus(spark, n_docs=1500, seed=42)
    return docs.cache(), truth.cache()


def test_scurve_supports_config():
    p = stats.det_prob_query(0.7, RECALL_CONFIG.rows_per_band, RECALL_CONFIG.bands)
    assert p >= 0.99


def test_dup_pair_recall_ge_99(spark, corpus):
    docs, truth = corpus
    cfg = RECALL_CONFIG
    sig = L.signatures(docs, cfg).persist()
    pairs = L.candidate_pairs(L.explode_bands(sig, cfg), cfg)
    edges = V.jaccard_edges(pairs, sig, cfg)
    got = {(r.src, r.dst) for r in edges.select("src", "dst").collect()}

    want_rows = truth.where(
        (F.col("kind").startswith("near") | (F.col("kind") == "exact"))
        & (F.col("exact_value") >= cfg.jaccard_threshold)
    ).collect()
    want = {(min(r.src, r.dst), max(r.src, r.dst)) for r in want_rows}
    assert len(want) >= 100, "fixture must plant enough qualifying pairs"
    recall = len(got & want) / len(want)
    assert recall >= 0.99, f"recall {recall:.4f}; missed {sorted(want - got)[:5]}"

    # precision-by-construction: every edge is exact-verified
    for r in edges.collect():
        assert r.jaccard >= cfg.jaccard_threshold

    # below-threshold planted pairs must NOT appear as edges (0.5 level)
    low = {
        (min(r.src, r.dst), max(r.src, r.dst))
        for r in truth.where(F.col("exact_value") < 0.65).collect()
    }
    assert not (got & low)


def test_cluster_assignments_match_truth_closure(spark, corpus):
    docs, truth = corpus
    cfg = RECALL_CONFIG
    sig = L.signatures(docs, cfg).persist()
    edges = V.jaccard_edges(
        L.candidate_pairs(L.explode_bands(sig, cfg), cfg), sig, cfg
    )
    labels = {
        r.doc_id: r.cluster_id
        for r in CC.connected_components(edges, cfg.cc_max_iters)[0].collect()
    }

    # union-find over the qualifying truth pairs
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    qualifying = truth.where(
        (F.col("kind").startswith("near") | (F.col("kind") == "exact"))
        & (F.col("exact_value") >= 0.75)  # comfortably above threshold
    ).collect()
    for r in qualifying:
        ra, rb = find(r.src), find(r.dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # every qualifying truth pair must be co-clustered in our output
    together = sum(
        1 for r in qualifying if labels.get(r.src) == labels.get(r.dst)
        and labels.get(r.src) is not None
    )
    assert together / len(qualifying) >= 0.99


def test_substring_stage_recovers_planted_spans(spark, corpus):
    docs, truth = corpus
    planted = {
        (min(r.src, r.dst), max(r.src, r.dst))
        for r in truth.where(F.col("kind") == "substring").collect()
    }
    assert planted
    got = {
        (r.src, r.dst)
        for r in SX.substring_dup_pairs(docs, min_match=100, k_gram=24).collect()
    }
    recall = len(got & planted) / len(planted)
    assert recall >= 0.95, f"substring recall {recall}"


def test_boilerplate_hot_bucket_is_guarded(spark, corpus):
    docs, _ = corpus
    cfg = DedupConfig(
        num_perm=80, bands=20, rows_per_band=4, hash_family="xxhash64",
        minhash_mode="kperm", seed=7, max_bucket_size=8,
    )
    buckets = L.explode_bands(L.signatures(docs, cfg), cfg)
    dropped = L.dropped_buckets(buckets, cfg)
    # the shared template forms one bucket per band larger than the cap
    assert dropped.count() >= cfg.bands
    assert dropped.agg(F.max("bucket_size")).first()[0] >= 10


def test_embedding_near_dup_lsh_recall_on_planted_dups(spark):
    """SRP-bucketed embedding near-dup recovers planted high-cosine twins.

    Planted pairs at cos >= 0.95: S-curve for 16 bits / 4 bands gives
    per-pair detection >= 0.98 (1-(1-(1-acos(.95)/pi)^4)^4); assert >= 0.9
    over 40 planted pairs to keep the test deterministic-seeded but slack.
    """
    import numpy as np

    from lsh_rs_spark.config import SRPConfig
    from lsh_rs_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    dim, n_base, n_dup = 64, 200, 40
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # twins: tiny perturbation — noise norm ≈ 0.03·√64 = 0.24 against a
    # unit signal → cosine ≈ 0.97
    twins = base[:n_dup] + 0.03 * rng.standard_normal((n_dup, dim))
    twins /= np.linalg.norm(twins, axis=1, keepdims=True)
    X = np.concatenate([base, twins])
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    cfg = SRPConfig(n_bits=16, bands=4, dim=dim, seed=42)

    got = {
        (r.src, r.dst)
        for r in embedding_near_dup_lsh(emb, cfg, 0.9, use_udf=True).collect()
    }
    truth = {
        (r.src, r.dst)
        for r in embedding_near_dup_pairs(emb, 0.9).collect()
    }
    planted = {(i, n_base + i) for i in range(n_dup)} & truth
    assert len(planted) >= 30  # most twins are above the 0.9 bar
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"embedding near-dup recall {recall}"
    # precision is exact by construction (cosine verify): no false edges
    assert got <= truth


def test_ivf_seeded_codebook_topk_recall(spark):
    """Seeded-codebook IVF (oracle-gated variant): planted twins are
    recovered at rank 1 for most queries, and assignment puts every vector
    in exactly one list."""
    from pyspark.sql import functions as F

    from lsh_rs_spark.operators.ivf import (
        assign_lists_join,
        ivf_topk_seeded,
        seed_codebook,
    )
    from lsh_rs_spark.sources.embeddings import synth_embeddings

    emb = synth_embeddings(spark, 2_000, partitions=4).persist()
    twins = emb.where(F.col("is_twin")).persist()
    truth = twins.select(
        F.col("vec_id").alias("query_id"), F.col("twin_of").alias("neighbor_id")
    )
    res = ivf_topk_seeded(twins, emb, mod=50, nprobe=4, k=1)
    hits = res.join(truth, ["query_id", "neighbor_id"], "left_semi").count()
    n = twins.count()
    assert n and hits / n >= 0.9

    cb = seed_codebook(emb, 50)
    idx = assign_lists_join(emb, cb, 1)
    assert idx.count() == emb.count()          # one list per vector
    assert idx.select("vec_id").distinct().count() == emb.count()
