"""End-to-end near-duplicate detection & clustering pipeline.

The production `spark-submit --py-files` job (north rule): every stage
checkpoints through the StageStore with lineage counters; a killed job
resumes from the last committed stage.  Each stage's manifest records its
row count and per-file counts, and a stage that reports its own counters
records them too (``components``: the CC ``path`` and ``rounds``).
``_RUN_METRICS.json`` in the workdir carries, per stage, ``rows``,
``counters`` and either ``seconds`` or ``resumed`` (a resumed stage's
counters are read back from its manifest), plus a summary (docs/sec).

Stage graph::

    docs ─ signatures ─ buckets ─┬─ bucket_stats (skew monitor)
                                 ├─ dropped_buckets (cap counters)
                                 └─ candidate_pairs ─ edges ─ components ─ keep_list

plus the optional sub-document pass (``run_span_cleaning`` /
``--span-cleaning``): survivors ─ substring_spans ─ clean_docs.

Usage:
    spark-submit --py-files lsh_rs_spark.zip -m lsh_rs_spark.plans.pipeline \
        --input /path/docs.parquet --workdir /path/run1 [--resume]
or programmatically: ``DedupPipeline(spark, cfg, workdir).run(docs)``.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from lsh_rs_spark.config import DedupConfig, PIPELINE_CONFIG
from lsh_rs_spark.operators import components as CC
from lsh_rs_spark.operators import lsh as L
from lsh_rs_spark.operators import verify as V
from lsh_rs_spark.operators.dedup import exact_dup_edges
from lsh_rs_spark.sources.storage import StageStore

STAGES = (
    "exact_groups",
    "signatures",
    "buckets",
    "bucket_stats",
    "dropped_buckets",
    "candidate_pairs",
    "edges",
    "components",
    "keep_list",
    # optional sub-document pass (run_span_cleaning / --span-cleaning)
    "substring_spans",
    "clean_docs",
)


class DedupPipeline:
    def __init__(self, spark: SparkSession, cfg: DedupConfig, workdir: str,
                 store: StageStore | None = None):
        """``store``: pre-configured StageStore (e.g. bound to a catalog —
        Iceberg in production, the JDBC V2 catalog in the integration
        tests); default is the auto-detecting parquet/catalog store."""
        self.spark = spark
        self.cfg = cfg
        self.store = store or StageStore(
            spark, workdir, config_fingerprint=cfg.to_json()
        )
        if store is not None and not store.config_fingerprint:
            store.config_fingerprint = cfg.to_json()
        self.metrics: dict = {}

    def _stage(self, name: str, build, parents: tuple[str, ...], resume: bool, **kw):
        """Resume stage ``name`` or build and commit it.  ``build`` returns
        the stage DataFrame, or ``(DataFrame, counters)`` for a stage that
        reports counters into its manifest."""
        if resume and self.store.is_committed(name):
            m = self.store.manifest(name)
            # compare against the STORE fingerprint (== cfg.to_json() for
            # the dedup stages; span stages append their own params so a
            # min_match change cannot silently resume stale spans); a
            # manifest without a recorded schema predates schema-recorded
            # reads, so the idempotent stage is rebuilt
            if (m.get("config") == self.store.config_fingerprint
                    and "schema_json" in m):
                self.metrics[name] = {"rows": m["rows"], "resumed": True,
                                      "counters": m["counters"]}
                return self.store.read(name)
            # config changed → stale checkpoint is not reusable
        t0 = time.time()
        df = build()
        counters = None
        if isinstance(df, tuple):
            df, counters = df
        m = self.store.write(df, name, parents=parents, counters=counters, **kw)
        self.metrics[name] = {"rows": m["rows"],
                              "seconds": round(time.time() - t0, 3),
                              "counters": m["counters"]}
        return self.store.read(name)

    def run(
        self,
        docs: DataFrame,
        resume: bool = True,
        exact_prededup: bool = True,
        keep_policy: str = "min_id",
    ) -> DataFrame:
        """exact_prededup: collapse byte-identical texts to one representative
        BEFORE LSH (one cheap hash-agg).  Boilerplate/exact-twin hot buckets
        disappear from the LSH stage — the most effective skew lever at web
        scale — and the exact groups re-enter the cluster graph as
        jaccard=1.0 edges, so final cluster assignments are identical.

        keep_policy: which cluster member survives — ``"min_id"`` (default,
        `dedup_representatives`) or ``"longest"`` (keep the longest text per
        cluster, ties → min id; `dedup_representatives_by`, the usual
        webtext choice).  Cluster ASSIGNMENTS are identical either way; only
        `is_representative` flips.  The keep_list stage fingerprint carries
        the policy so a resume can never mix policies."""
        if keep_policy not in ("min_id", "longest"):
            raise ValueError("keep_policy must be 'min_id' or 'longest'")
        t_start = time.time()
        cfg = self.cfg
        n_docs = docs.count()

        exact = self._stage(
            "exact_groups",
            # sha256(text) shuffle key + rep join-back: never shuffles document
            # bytes as keys, never collect_list()s an unbounded member list
            # (see operators/dedup.exact_dup_edges).
            lambda: exact_dup_edges(docs),
            (),
            resume,
        )
        if exact_prededup:
            lsh_docs = docs.join(
                exact.select(F.col("doc_id")), "doc_id", "left_anti"
            )
        else:
            lsh_docs = docs

        sig = self._stage(
            "signatures",
            lambda: L.signatures(lsh_docs, cfg),
            ("exact_groups",),
            resume,
        )
        buckets = self._stage(
            "buckets",
            lambda: L.explode_bands(sig, cfg),
            ("signatures",),
            resume,
            partition_by=("band_idx",),
        )
        self._stage(
            "bucket_stats",
            lambda: L.bucket_stats(buckets),
            ("buckets",),
            resume,
        )
        self._stage(
            "dropped_buckets",
            lambda: L.dropped_buckets(buckets, cfg),
            ("buckets",),
            resume,
        )
        pairs = self._stage(
            "candidate_pairs",
            lambda: L.candidate_pairs(buckets, cfg),
            ("buckets",),
            resume,
        )
        edges = self._stage(
            "edges",
            # the candidate_pairs manifest already counted the pairs, so the
            # verify join strategy needs no count job of its own
            lambda: V.jaccard_edges(
                pairs, sig, cfg,
                known_pair_count=self.metrics["candidate_pairs"]["rows"],
            ),
            ("candidate_pairs", "signatures"),
            resume,
        )
        def all_edges():
            e = edges.select("src", "dst")
            if exact_prededup:
                # exact twins re-enter the graph as jaccard=1.0 edges so the
                # transitive closure matches a no-prededup run exactly
                e = e.unionByName(
                    exact.select(
                        F.least("rep_id", "doc_id").alias("src"),
                        F.greatest("rep_id", "doc_id").alias("dst"),
                    )
                )
            return e

        # the stage manifests already counted both edge inputs at write
        # time — the CC path decision spawns zero extra jobs
        n_edges = self.metrics["edges"]["rows"] + (
            self.metrics["exact_groups"]["rows"] if exact_prededup else 0
        )
        comps = self._stage(
            "components",
            lambda: CC.connected_components(
                all_edges(), cfg.cc_max_iters, known_edge_count=n_edges
            ),
            ("edges", "exact_groups"),
            resume,
        )
        labeled = docs.where(F.col("text").isNotNull())

        def build_keep():
            labels = CC.with_singletons(comps, labeled, id_col="doc_id")
            if keep_policy == "longest":
                scores = labeled.select(
                    "doc_id", F.length("text").cast("long").alias("n_chars")
                )
                return CC.dedup_representatives_by(labels, scores, "n_chars")
            return CC.dedup_representatives(labels)

        # policy rides the keep_list fingerprint ONLY: a resume never mixes
        # policies, while the policy-independent upstream stages (edges,
        # components, ...) stay reusable when switching policy
        base_fp = self.store.config_fingerprint
        self.store.config_fingerprint = base_fp + "|keep:" + keep_policy
        try:
            keep = self._stage(
                "keep_list",
                build_keep,
                ("components", "signatures"),
                resume,
            )
        finally:
            self.store.config_fingerprint = base_fp

        wall = time.time() - t_start
        self.metrics["summary"] = {
            "n_docs": n_docs,
            "wall_seconds": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1) if wall > 0 else None,
            "config": json.loads(cfg.to_json()),
        }
        with open(f"{self.store.root}/_RUN_METRICS.json", "w") as f:
            json.dump(self.metrics, f, indent=1)
        return keep

    def run_span_cleaning(
        self,
        docs: DataFrame,
        min_match: int = 64,
        k_gram: int = 24,
        snippet_radius: int = 128,
        max_group_docs: int = 200,
        resume: bool = True,
    ) -> DataFrame:
        """Sub-document corpus cleaning (Lee et al. 2021 §4), checkpointed:
        duplicated byte-range extraction → byte-true span stripping.

        Stage graph::

            docs ─ substring_spans ─ clean_docs

        Returns (doc_id, clean_text) for EVERY input doc (docs without a
        duplicated span pass through verbatim).  Complements ``run`` (doc-
        level near-dup removal): a training-data job typically runs both —
        drop whole near-dup documents first, then strip the residual
        shared boilerplate/quotation spans from the survivors.  Both
        stages resume from the StageStore like every other stage (flat
        schemas — catalog-backend friendly)."""
        from lsh_rs_spark.operators import suffix as SX

        t_start = time.time()
        span_fp = json.dumps(
            {"min_match": min_match, "k_gram": k_gram,
             "snippet_radius": snippet_radius,
             "max_group_docs": max_group_docs},
            sort_keys=True,
        )
        base_fp = self.store.config_fingerprint
        self.store.config_fingerprint = base_fp + "|span:" + span_fp
        try:
            return self._run_span_stages(docs, min_match, k_gram,
                                         snippet_radius, max_group_docs,
                                         resume, t_start)
        finally:
            self.store.config_fingerprint = base_fp

    def _run_span_stages(self, docs, min_match, k_gram, snippet_radius,
                         max_group_docs, resume, t_start):
        from lsh_rs_spark.operators import suffix as SX

        spans = self._stage(
            "substring_spans",
            lambda: SX.substring_dup_spans(
                docs, min_match=min_match, k_gram=k_gram,
                snippet_radius=snippet_radius, max_group_docs=max_group_docs,
            ),
            (),
            resume,
        )
        clean = self._stage(
            "clean_docs",
            lambda: SX.strip_spans(docs, spans),
            ("substring_spans",),
            resume,
        )
        self.metrics["span_summary"] = {
            "wall_seconds": round(time.time() - t_start, 3),
            "params": {"min_match": min_match, "k_gram": k_gram,
                       "snippet_radius": snippet_radius},
        }
        with open(f"{self.store.root}/_RUN_METRICS.json", "w") as f:
            json.dump(self.metrics, f, indent=1)
        return clean


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet of docs (needs doc_id,text or url,text)")
    p.add_argument("--workdir", required=True)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--config-json", default=None)
    p.add_argument(
        "--span-cleaning", action="store_true",
        help="additionally run substring-span extraction + stripping "
             "(Lee et al. §4) over the dedup survivors",
    )
    args = p.parse_args()

    spark = SparkSession.builder.appName("lsh-rs-spark-dedup").getOrCreate()
    cfg = (
        DedupConfig.from_json(open(args.config_json).read())
        if args.config_json
        else PIPELINE_CONFIG
    )
    docs = spark.read.parquet(args.input)
    if "doc_id" not in docs.columns:
        docs = docs.withColumn("doc_id", F.xxhash64("url"))
    pipe = DedupPipeline(spark, cfg, args.workdir)
    keep = pipe.run(docs, resume=args.resume)
    n_drop = keep.where(~F.col("is_representative")).count()
    out = {"dropped_near_dups": n_drop}
    if args.span_cleaning:
        survivors = docs.join(
            keep.where(F.col("is_representative")).select("doc_id"),
            "doc_id", "left_semi",
        )
        clean = pipe.run_span_cleaning(survivors, resume=args.resume)
        out["span_cleaned_docs"] = clean.count()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
