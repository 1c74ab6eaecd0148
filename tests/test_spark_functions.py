"""Spark ↔ NumPy ↔ DuckDB agreement for the function layer.

The oracle-parity invariant everything else rests on: the md5_64 hash
family, shingling, MinHash, SimHash and the text functions produce
bit-identical values whether computed by Spark Column expressions, the
Arrow/NumPy kernels, or DuckDB SQL."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_rs_spark.config import DedupConfig, SimHashConfig
from lsh_rs_spark.functions.hashing import (
    md5_64,
    md5_64_py,
    md5_64_sql,
    minhash_params,
)
from lsh_rs_spark.functions.minhash import make_minhash_udf, minhash_exact_np, oph_kernel
from lsh_rs_spark.functions.shingles import (
    shingle_ids_col,
    shingles_col,
    shingles_sql,
    word_shingles,
)
from lsh_rs_spark.functions import text as T
from lsh_rs_spark.operators.lsh import signatures
from lsh_rs_spark.operators.simhash_ops import simhash_sketches

CFG = DedupConfig(num_perm=16, bands=4, rows_per_band=4, seed=42)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "completely different content with no overlap at all"),
    (3, "a b"),  # shorter than shingle size
    (4, ""),  # empty
    (5, "der hund und die katze sind nicht da"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_md5_64_spark_duckdb_python_agree(spark, docs_df):
    got = {
        r["text"]: r["h"]
        for r in docs_df.where(F.col("text") != "")
        .select("text", md5_64("text").alias("h"))
        .collect()
    }
    for s, h in got.items():
        assert h == md5_64_py(s)
        (dh,) = duckdb.sql(f"SELECT {md5_64_sql('?')}", params=[s]).fetchone()
        assert h == dh


def test_word_shingles_spark_vs_duckdb(spark, docs_df):
    sp = {
        r["doc_id"]: r["sh"]
        for r in docs_df.select(
            "doc_id", shingles_col(CFG).alias("sh")
        ).collect()
    }
    con = duckdb.connect()
    con.register("docs", docs_df.toPandas())
    du = {
        r[0]: r[1]
        for r in con.sql(
            f"SELECT doc_id, {shingles_sql(CFG)} AS sh FROM docs"
        ).fetchall()
    }
    assert sp == du
    # doc 0: 9 words → 7 trigrams; doc 3: fallback single shingle
    assert len(sp[0]) == 7
    assert sp[3] == ["a b"]


def test_minhash_udf_matches_naive_and_sql(spark, docs_df):
    sig_df = docs_df.where(F.col("text").isNotNull()).select(
        "doc_id", shingle_ids_col(CFG).alias("shingles")
    )
    sig = sig_df.withColumn("minhash", make_minhash_udf(CFG)("shingles"))
    rows = {r["doc_id"]: (r["shingles"], r["minhash"]) for r in sig.collect()}
    a, b = minhash_params(CFG.num_perm, CFG.seed)
    for doc_id, (sh, mh) in rows.items():
        want = minhash_exact_np([np.asarray(sh, dtype=np.int64)], a, b)[0]
        assert mh == want.tolist(), doc_id
        assert len(mh) == CFG.num_perm
    # the production entry point runs the same kernels in both modes, and
    # an empty input is partition-safe
    for fam, mode in (("md5_64", "kperm"), ("xxhash64", "oph")):
        cfg = DedupConfig(num_perm=16, bands=4, rows_per_band=4, seed=42,
                          hash_family=fam, minhash_mode=mode)
        for r in signatures(docs_df, cfg).collect():
            sh = np.asarray(r["shingles"], dtype=np.int64)
            want = (oph_kernel(np.array([0]), sh, 16, int(a[0]), int(b[0]))
                    if mode == "oph" else minhash_exact_np([sh], a, b))[0]
            assert r["minhash"] == want.tolist(), (fam, r["doc_id"])
        assert signatures(docs_df.where(F.lit(False)), cfg).count() == 0


def test_minhash_near_dup_signatures_mostly_agree(spark, docs_df):
    sig = (
        docs_df.where(F.col("doc_id").isin(0, 1, 2))
        .select("doc_id", shingle_ids_col(CFG).alias("sh"))
        .withColumn("mh", make_minhash_udf(CFG)("sh"))
    )
    got = {r["doc_id"]: r["mh"] for r in sig.collect()}
    agree01 = sum(x == y for x, y in zip(got[0], got[1]))
    agree02 = sum(x == y for x, y in zip(got[0], got[2]))
    assert agree01 > agree02
    assert agree02 == 0


def test_simhash_udf_vs_declarative(spark, docs_df):
    cfg = SimHashConfig(n_bits=32, bands=4)
    d = docs_df.where(F.col("text") != "")
    udf_sk = {r["doc_id"]: r["simhash"] for r in simhash_sketches(d, cfg, use_udf=True).collect()}
    dec_sk = {r["doc_id"]: r["simhash"] for r in simhash_sketches(d, cfg, use_udf=False).collect()}
    assert udf_sk == dec_sk


def test_text_functions_spark_vs_duckdb(spark, docs_df):
    sp = docs_df.select(
        "doc_id",
        T.token_count_ws("text").alias("ws"),
        T.token_count_bpe("text").alias("bpe"),
        T.lang_id("text").alias("lang"),
        T.punct_count("text").alias("punct"),
        T.stopword_count("text").alias("sw"),
        T.doc_fingerprint("text").alias("fp"),
    ).collect()
    con = duckdb.connect()
    con.register("docs", docs_df.toPandas())
    du = {
        r[0]: r[1:]
        for r in con.sql(
            f"""SELECT doc_id, {T.token_count_ws_sql('text')},
                {T.token_count_bpe_sql('text')}, {T.lang_id_sql('text')},
                {T.punct_count_sql('text')}, {T.stopword_count_sql('text')},
                {T.doc_fingerprint_sql('text')} FROM docs"""
        ).fetchall()
    }
    for r in sp:
        assert (r["ws"], r["bpe"], r["lang"], r["punct"], r["sw"], r["fp"]) == du[
            r["doc_id"]
        ], r["doc_id"]
    by_id = {r["doc_id"]: r for r in sp}
    assert by_id[0]["lang"] == "en"
    assert by_id[5]["lang"] == "de"
    assert by_id[4]["ws"] == 0


def test_bucket_stats_sampled_estimates(spark):
    """Sampled describe: scaled estimates within sampling error of the full
    stats; max is a lower bound."""
    from lsh_rs_spark.config import DedupConfig
    from lsh_rs_spark.operators import lsh as L

    docs = spark.createDataFrame(
        [(i, f"w{i % 37} common shared tokens here {i % 11} tail") for i in range(3000)],
        "doc_id: long, text: string",
    )
    cfg = DedupConfig(num_perm=16, bands=4, rows_per_band=4, hash_family="xxhash64")
    buckets = L.explode_bands(L.signatures(docs, cfg), cfg).persist()
    full = {r.band_idx: r for r in L.bucket_stats(buckets).collect()}
    samp = {r.band_idx: r for r in L.bucket_stats_sampled(buckets, sample_mod=4).collect()}
    assert set(samp) <= set(full)
    for bi, s in samp.items():
        f = full[bi]
        assert 0.3 * f.n_buckets <= s.n_buckets_est <= 3.0 * f.n_buckets
        assert 0.3 * f.n_entries <= s.n_entries_est <= 3.0 * f.n_entries
        assert s.max_bucket_size_lb <= f.max_bucket_size


def test_url_canonicalize_semantics(spark):
    from lsh_rs_spark.functions.urls import url_canonicalize

    cases = [
        ("https://Example.COM/p/1", "https://example.com/p/1"),
        ("HTTPS://example.com:443/p/1/", "https://example.com/p/1"),
        ("https://EXAMPLE.com/p/1?utm_source=x&id=7", "https://example.com/p/1?id=7"),
        ("https://example.COM:443/p/1/?utm_campaign=y#frag", "https://example.com/p/1"),
        ("http://a.com:80/x", "http://a.com/x"),
        ("http://a.com:8080/x", "http://a.com:8080/x"),  # non-default kept
        ("https://a.com/", "https://a.com/"),  # root slash kept (len-1 path)
        ("https://a.com/x?gclid=1&fbclid=2", "https://a.com/x"),
        ("https://a.com/x?a=1&utm_medium=m&b=2", "https://a.com/x?a=1&b=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r.c for r in df.select(url_canonicalize("url").alias("c")).collect()]
    for (u, want), g in zip(cases, got):
        assert g == want, (u, g, want)


def test_normalize_text_dedups_case_punct_rewraps(spark):
    """cfg.normalize=True: case/punctuation/whitespace rewraps of the same
    prose become exact near-dups (jaccard 1.0); the default config keeps
    them apart.  Also pins the Spark-side normalization output so the
    Java-regex/RE2 class stays byte-compatible."""
    import dataclasses

    from pyspark.sql import functions as F

    from lsh_rs_spark.config import DedupConfig
    from lsh_rs_spark.functions.shingles import normalize_text
    from lsh_rs_spark.operators import lsh as L
    from lsh_rs_spark.operators import verify as V

    row = spark.range(1).select(
        normalize_text(F.lit("Hello,  World!! -- déjà_vu (42)")).alias("t")
    ).collect()[0]
    assert row.t == "hello world déjà vu 42"

    base = "the quick brown fox jumps over the lazy dog " * 4
    wrapped = ("The QUICK, brown fox -- jumps!! over...  the LAZY dog?? " * 4)
    docs = spark.createDataFrame(
        [(1, base.strip()), (2, wrapped.strip())], "doc_id: long, text: string"
    )
    cfg = DedupConfig(num_perm=16, bands=4, rows_per_band=4,
                      jaccard_threshold=0.9)
    cfg_norm = dataclasses.replace(cfg, normalize=True)

    def edges(c):
        sig = L.signatures(docs, c)
        return V.jaccard_edges(
            L.candidate_pairs(L.explode_bands(sig, c), c), sig, c
        ).collect()

    assert edges(cfg) == []
    got = edges(cfg_norm)
    assert len(got) == 1 and got[0].jaccard == 1.0

    # same behavior on the PRODUCTION signing path (xxhash64 word-hash
    # shingles + OPH), which normalizes through a different code path
    cfg_prod = dataclasses.replace(
        cfg_norm, hash_family="xxhash64", minhash_mode="oph")
    got_prod = edges(cfg_prod)
    assert len(got_prod) == 1 and got_prod[0].jaccard == 1.0
    assert edges(dataclasses.replace(
        cfg, hash_family="xxhash64", minhash_mode="oph")) == []


def test_hash_split_deterministic_total_and_stable(spark):
    """hash_split: every row gets exactly one label; assignment is a pure
    function of (key, seed) — invariant under repartitioning and corpus
    growth; fractions land near target; hash_sample(rate) is the prefix
    of the same bucket space (growing rate only ADDS rows)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from lsh_rs_spark.functions.sampling import hash_sample, hash_split

    df = spark.range(0, 5_000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(df, fr).collect()}
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    counts = {s: sum(1 for v in a.values() if v == s) for s in fr}
    for s, frac in fr.items():
        assert abs(counts[s] / n - frac) < 0.03
    # invariant under partitioning and under corpus growth (subset keys)
    b = {r.doc_id: r.split
         for r in hash_split(df.repartition(17), fr).collect()}
    assert a == b
    sub = {r.doc_id: r.split
           for r in hash_split(df.where("doc_id < 1000"), fr).collect()}
    assert sub == {k: v for k, v in a.items() if k < 1000}

    s10 = {r.doc_id for r in hash_sample(df, 0.1).collect()}
    s25 = {r.doc_id for r in hash_sample(df, 0.25).collect()}
    assert s10 < s25 and abs(len(s10) / n - 0.1) < 0.03

    with _pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, {"train": 0.5, "val": 0.1})
    with _pytest.raises(ValueError, match="rate"):
        hash_sample(df, 0.0)


def test_split_leakage_detects_and_cluster_split_fixes(spark):
    """split_leakage flags a dup cluster straddling train/test; splitting
    by CLUSTER id (the documented fix) yields a certified-clean corpus."""
    from lsh_rs_spark.functions.sampling import hash_split, split_leakage

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id: long, cluster_id: long"
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (9, "val")],
        "doc_id: long, split: string",
    )
    rows = split_leakage(labels, splits).collect()
    assert [(r.cluster_id, r.n_docs, r.n_splits, r.splits_csv)
            for r in rows] == [(1, 3, 2, "test,train")]

    # the fix: assign the split from cluster_id, then every member agrees
    fixed = hash_split(
        labels.withColumnRenamed("cluster_id", "key"),
        {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="key",
    ).select("doc_id", F.col("key").alias("cluster_id"), "split")
    assert split_leakage(
        fixed.select("doc_id", "cluster_id"), fixed.select("doc_id", "split")
    ).count() == 0


def test_cluster_safe_split_is_leak_free(spark):
    """cluster_safe_split over real pipeline labels yields zero leakage
    clusters, keeps one split per cluster, and covers every doc."""
    from lsh_rs_spark.functions.sampling import cluster_safe_split, split_leakage

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)],
        "doc_id: long, cluster_id: long",
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = cluster_safe_split(labels, fr)
    rows = out.collect()
    assert len(rows) == 6 and all(r.split in fr for r in rows)
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    assert split_leakage(
        out.select("doc_id", "cluster_id"), out.select("doc_id", "split")
    ).count() == 0
