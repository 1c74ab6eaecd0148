"""Benchmark workloads: seeded inputs, the timed requests, output checks.

Every workload is a closed loop with one client: the next request starts
when the previous one has returned.  Inputs are generated from the seed
with the library's own ``synth_webpages`` / ``synth_embeddings`` and
written to parquet during set-up, before anything is timed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from lsh_rs_spark.api import SrpLSH
from lsh_rs_spark.config import PIPELINE_CONFIG, SRPConfig
from lsh_rs_spark.operators import lsh as L
from lsh_rs_spark.operators import verify as V
from lsh_rs_spark.plans.pipeline import DedupPipeline
from lsh_rs_spark.sources.embeddings import synth_embeddings
from lsh_rs_spark.sources.storage import StageStore
from lsh_rs_spark.sources.webpages import synth_webpages, with_doc_ids
from lsh_rs_spark.streaming import ingest as SI

from proc import stopwatch
from tracing import Tracer, TracingStore, dir_bytes

CFG = PIPELINE_CONFIG

#: span-cleaning parameters (sized for ~1 KB synthetic pages)
SPAN_PARAMS = dict(min_match=48, k_gram=16, snippet_radius=64)

#: per-workload sizes in base pages; the generator adds ~12% twins
SIZES = {
    "web_dedup": dict(corpus_pages=1500, warmup_pages=100),
    "small_jobs": dict(stream_pages=2400, stream_files=8, stream_warm_batches=1,
                       ann_vectors=4000, ann_dim=64, ann_queries=16,
                       ann_batches=3, top_k=10),
}

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang", "doc_id"]


@dataclass
class Outcome:
    """What one timed request produced."""

    kind: str                  # "dedup", "ann" or "stream"
    seconds: float
    rows: int                  # input rows the request processed
    ok: bool = True
    item: str = ""             # which input (for recorded fingerprints)
    fingerprint: str = ""
    stage_s: dict = field(default_factory=dict)
    error: str = ""
    cpu_s: float = 0.0         # CPU time of the process tree
    steal_s: float = 0.0       # host steal time over all CPUs


def _digest(pdf: pd.DataFrame, cols: list[str]) -> str:
    pdf = pdf.sort_values(cols).reset_index(drop=True)
    return hashlib.sha256(
        pd.util.hash_pandas_object(pdf[cols], index=False).values.tobytes()
    ).hexdigest()[:16]


def _shingles(text: str) -> set:
    w = text.split(" ")
    n = CFG.shingle_size
    return {tuple(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}


def planted_pairs(pdf: pd.DataFrame, n_pages: int) -> dict:
    """The generator's duplicate pairs in one page set.

    ``synth_webpages(n_pages)`` gives page ``p`` a near twin ``p + n`` and
    an exact twin ``p + 2n`` (the page number is the last URL segment).
    A pair counts when its exact word-shingle Jaccard reaches the config's
    threshold: a near twin mutated below it is not a duplicate by the
    pipeline's own definition.  Boilerplate pages share one template
    text; pairs whose original is boilerplate are left out.

    ``pdf`` has columns (doc_id, page, text)."""
    pdf = pdf.assign(text_hash=pdf.text.map(hash))
    orig = pdf[pdf.page < n_pages]
    boiler = set(orig.text_hash[orig.text_hash.duplicated(keep=False)])
    by_page = {p: (d, t) for p, d, t in zip(pdf.page, pdf.doc_id, pdf.text)}
    pairs = []
    for page, doc, text, th in zip(orig.page, orig.doc_id, orig.text, orig.text_hash):
        if th in boiler:
            continue
        for twin in (page + n_pages, page + 2 * n_pages):
            if twin not in by_page:
                continue
            tdoc, ttext = by_page[twin]
            if ttext != text:
                a, b = _shingles(text), _shingles(ttext)
                if len(a & b) / len(a | b) < CFG.jaccard_threshold:
                    continue
            pairs.append((doc, tdoc))
    groups = pdf.groupby("text_hash").doc_id.apply(list)
    return {
        "n_rows": len(pdf),
        "pairs": pairs,
        "exact_groups": [g for g in groups if len(g) > 1],
    }


def _page_frame(spark: SparkSession, path: str) -> pd.DataFrame:
    return (
        spark.read.parquet(path)
        .select("doc_id", F.element_at(F.split("url", "/"), -1).cast("long")
                .alias("page"), "text")
        .toPandas()
    )


def check_keep(keep: pd.DataFrame, truth: dict) -> tuple[bool, int, str]:
    """Invariants of a keep list plus the planted pairs kept together.

    Returns (invariants hold, pairs together, first broken invariant)."""
    if len(keep) != truth["n_rows"] or keep.doc_id.duplicated().any():
        return False, 0, "keep list does not cover every input row once"
    reps = keep.groupby("cluster_id").is_representative.sum()
    if (reps != 1).any():
        return False, 0, "a cluster without exactly one representative"
    label = dict(zip(keep.doc_id, keep.cluster_id))
    for group in truth["exact_groups"]:
        if len({label[d] for d in group}) != 1:
            return False, 0, "byte-identical pages split across clusters"
    together = sum(label[a] == label[b] for a, b in truth["pairs"])
    return True, together, ""


class Workload:
    """One benchmark workload: ``setup()`` (counted in ``setup_s``), then
    ``next_request()`` in a loop until it returns None or the run's time is
    up, then ``finish()`` → (ok, reason, per-layer extras) for the
    end-of-run checks, and ``invocations()`` → how often each layer ran."""

    name = ""
    ROTATION: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, seed: int, work: str,
                 tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.sizes = SIZES[self.name]
        self.n_requests = 0
        self.phases: dict[str, float] = {}
        #: planted duplicate pairs found together, and planted pairs seen
        self.pairs_found = self.pairs_planted = 0
        #: streaming micro-batches run during set-up (not measured)
        self.stream_first = 0

    def _in_parallel(self, *tasks) -> None:
        """Run the set-up tasks on one thread each (at most nproc) and
        record how long each took.  Set-up is dominated by per-job latency
        (planning, code generation, JIT warm-up) rather than by the cores,
        so overlapping input generation with the warm-up requests
        shortens it."""
        def timed(fn):
            t0 = time.perf_counter()
            fn()
            self.phases[fn.__name__.lstrip("_")] = time.perf_counter() - t0

        workers = min(len(tasks), len(os.sched_getaffinity(0)))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            for f in [pool.submit(timed, t) for t in tasks]:
                f.result()

    def reset_counts(self) -> None:
        """Forget what set-up counted, before the measured phase."""
        self.pairs_found = self.pairs_planted = 0

    @staticmethod
    def _check_warm(out: Outcome) -> None:
        if not out.ok:
            raise RuntimeError(f"warm-up request failed its checks: {out.error}")



class WebDedup(Workload):
    """The batch flow on one corpus: ``DedupPipeline.run``, then span
    cleaning of the survivors.  Every batch layer runs once per request."""

    name = "web_dedup"
    ROTATION = ("dedup",)

    def reset_counts(self) -> None:
        super().reset_counts()
        self.store_bytes = 0
        self.stage_rows: dict[str, list[int]] = {}

    def setup(self) -> None:
        # the warm-up runs DedupPipeline.run only: after one, the first
        # span cleaning was no slower than later ones (8.4 s over 500
        # pages vs 8.7-8.8 s over 2k)
        self.reset_counts()
        self._in_parallel(self._inputs, self._dedup_warm_up)

    def _inputs(self) -> None:
        n = self.sizes["corpus_pages"]
        self.path = self._write_pages(
            with_doc_ids(synth_webpages(self.spark, n, seed=self.seed)), "corpus")
        self.truth = planted_pairs(_page_frame(self.spark, self.path), n)

    def _dedup_warm_up(self) -> None:
        """One dedup request on a page set the loop never sees."""
        n = self.sizes["warmup_pages"]
        path = self._write_pages(
            with_doc_ids(synth_webpages(self.spark, n, seed=self.seed + 1_000_003)),
            "warmup")
        self._check_warm(self._dedup(
            path, planted_pairs(_page_frame(self.spark, path), n), "warmup", False))

    def next_request(self) -> Outcome:
        self.n_requests += 1
        return self._dedup(self.path, self.truth, f"job{self.n_requests}", True)

    def _dedup(self, path: str, truth: dict, tag: str, span: bool) -> Outcome:
        """DedupPipeline.run, and with ``span`` span cleaning of the
        survivors, over one parquet page set in a fresh work dir."""
        workdir = os.path.join(self.work, f"run-{tag}")
        # untraced runs use the library's own store
        store = (TracingStore(self.spark, workdir, tracer=self.tracer)
                 if self.tracer.enabled else StageStore(self.spark, workdir))
        pipe = DedupPipeline(self.spark, CFG, workdir, store=store)
        docs = self.spark.read.parquet(path)
        with stopwatch() as t, self.tracer.span("pipeline", run_id=tag):
            keep = pipe.run(docs)
            if span:
                survivors = docs.join(
                    keep.where("is_representative").select("doc_id"),
                    "doc_id", "left_semi")
                clean = pipe.run_span_cleaning(survivors, **SPAN_PARAMS)

        kp = keep.toPandas()
        ok, together, why = check_keep(kp, truth)
        removed = int((~kp.is_representative).sum())
        fp = f"removed={removed}:{_digest(kp, ['doc_id', 'cluster_id'])}"
        if span:
            n_clean, sig = clean.agg(
                F.count("*"), F.expr("bit_xor(xxhash64(doc_id, clean_text))")
            ).first()
            n_spans = pipe.metrics["substring_spans"]["rows"]
            fp += f"|spans={n_spans}:{sig & 0xFFFFFFFFFFFFFFFF:016x}"
            if ok and n_clean != len(kp) - removed:
                ok, why = False, "span cleaning lost or added documents"
        for name, m in pipe.metrics.items():
            if "rows" in m:
                self.stage_rows.setdefault(name, []).append(m["rows"])
        if isinstance(store, TracingStore):
            self.store_bytes += sum(store.bytes_written.values())
        self.pairs_found += together
        self.pairs_planted += len(truth["pairs"])
        shutil.rmtree(workdir, ignore_errors=True)
        return Outcome("dedup", t["wall"], truth["n_rows"], ok, "corpus", fp,
                       {k: m["seconds"] for k, m in pipe.metrics.items()
                        if "seconds" in m}, why, t["cpu"], t["steal"])

    def _write_pages(self, pages: DataFrame, name: str) -> str:
        # one parquet file: one scan task, the condition behind the
        # round-7 dedup_documents regression
        path = os.path.join(self.work, "in", name)
        pages.select(*PAGE_COLS).coalesce(1).write.parquet(path)
        return path

    def finish(self) -> tuple[bool, str, dict]:
        def mean(stage):
            rows = self.stage_rows.get(stage)
            return statistics.mean(rows) if rows else 0

        return True, "", {
            "pairs.rows": mean("candidate_pairs"),
            "verify.rows": mean("edges"),
            "verify.yield": (mean("edges") / mean("candidate_pairs")
                             if mean("candidate_pairs") else 0),
            "dropped_buckets.rows": mean("dropped_buckets"),
            "span_extract.rows": mean("substring_spans"),
            "checkpoint.mb_written": (self.store_bytes / (1 << 20)
                                      / max(self.n_requests, 1)),
        }

    def invocations(self) -> dict[str, int]:
        n = self.n_requests
        return {layer: n for layer in (
            "exact", "signatures", "bands", "bucket_stats", "dropped_buckets",
            "pairs", "verify", "cc", "keep", "span_extract", "span_strip")}


class SmallJobs(Workload):
    """Small requests where fixed per-job cost dominates, in rotation: one
    ANN top-k request against an index fitted in set-up, then one
    streaming micro-batch into the growing incremental store."""

    name = "small_jobs"
    # the cheap request first: a run that finishes its rotation early
    # adds an ANN request, not another micro-batch
    ROTATION = ("ann", "stream")

    def setup(self) -> None:
        self._in_parallel(self._stream_bootstrap, self._ann_index)

    def _stage_stream(self) -> None:
        # one corpus dealt into equal-sized files in doc-id hash order, so
        # near twins land in different files, later batches probe earlier
        # ones, and every batch has the same number of pages
        s = self.sizes
        stream = with_doc_ids(synth_webpages(self.spark, s["stream_pages"],
                                             seed=self.seed))
        self.staged = os.path.join(self.work, "in", "stream_staged")
        deal = F.pmod(F.row_number().over(Window.orderBy(F.xxhash64("doc_id"))) - 1,
                      F.lit(s["stream_files"]))
        # the global window leaves one partition: one file per value
        (stream.select(*PAGE_COLS, deal.alias("file"))
         .write.partitionBy("file").parquet(self.staged))
        self.stream_files = []
        for k in range(s["stream_files"]):
            (path,) = glob.glob(os.path.join(self.staged, f"file={k}", "*.parquet"))
            ids = pq.read_table(path, columns=["doc_id"]).column(0).to_pylist()
            self.stream_files.append((path, ids))
        self.stream_src = os.path.join(self.work, "stream_src")
        os.makedirs(self.stream_src)
        self.stream_work = os.path.join(self.work, "stream_store")
        self.stream_batches = 0

    def _stream_bootstrap(self) -> None:
        t0 = time.perf_counter()
        self._stage_stream()
        self.phases["stream_staging"] = time.perf_counter() - t0
        # the first file bootstraps the store during set-up, so every timed
        # batch probes a non-empty one; the next warms the probing path
        # (JIT, code generation), whose first run costs up to twice a warm
        # batch's CPU
        for _ in range(1 + self.sizes["stream_warm_batches"]):
            out = self._stream()
            self._check_warm(out)
            self.phases[f"warm_{out.item}"] = out.seconds
        self.stream_first = self.stream_batches

    def _ann_index(self) -> None:
        # the index is fitted in set-up; queries are planted twins, so
        # each query's base vector is its expected nearest neighbour.
        # The last query batch is the warm-up request.
        s = self.sizes
        path = os.path.join(self.work, "in", "embeddings")
        synth_embeddings(self.spark, s["ann_vectors"], dim=s["ann_dim"],
                         seed=self.seed).write.parquet(path)
        emb = self.spark.read.parquet(path)
        q, n_batches = s["ann_queries"], s["ann_batches"] + 1
        twins = (emb.where("is_twin").select("vec_id", "twin_of")
                 .orderBy("vec_id").limit(q * n_batches).toPandas())
        self.ann_batches = []
        for b in range(n_batches):
            part = twins.iloc[b * q:(b + 1) * q]
            qdf = emb.where(F.col("vec_id").isin([int(v) for v in part.vec_id]))
            self.ann_batches.append((qdf.select("vec_id", "embedding"),
                                     dict(zip(part.vec_id, part.twin_of))))
        self.ann = SrpLSH(SRPConfig(dim=s["ann_dim"])).fit(emb)
        self.ann_seconds: list[float] = []
        self.ann_twins = [0, 0]
        self._check_warm(self._ann(self.ann_batches.pop(), "warmup"))

    def next_request(self) -> Outcome | None:
        kind = self.ROTATION[self.n_requests % len(self.ROTATION)]
        if kind == "stream" and self.stream_batches == len(self.stream_files):
            return None  # every staged file is ingested
        self.n_requests += 1
        if kind == "stream":
            return self._stream()
        b = len(self.ann_seconds) % len(self.ann_batches)
        out = self._ann(self.ann_batches[b], f"ann{b}")
        self.ann_seconds.append(out.seconds)
        return out

    def _ann(self, batch, item: str) -> Outcome:
        qdf, twin_of = batch
        with stopwatch() as t, self.tracer.span("ann", run_id=item):
            rows = self.ann.predict(qdf, top_k=self.sizes["top_k"]).collect()
        res = pd.DataFrame([r.asDict() for r in rows],
                           columns=["query_id", "neighbor_id", "distance", "rank"])
        ok, why = True, ""
        for _, g in res.groupby("query_id"):
            g = g.sort_values("rank")
            if (list(g["rank"]) != list(range(1, len(g) + 1))
                    or not g.distance.is_monotonic_increasing):
                ok, why = False, "ranks not contiguous or distances not sorted"
        hits = set(zip(res.query_id, res.neighbor_id))
        if item != "warmup":
            self.ann_twins[0] += sum((q, t) in hits for q, t in twin_of.items())
            self.ann_twins[1] += len(twin_of)
        fp = f"rows={len(res)}:{_digest(res, ['query_id', 'neighbor_id', 'rank'])}"
        return Outcome("ann", t["wall"], len(twin_of), ok, item, fp, error=why,
                       cpu_s=t["cpu"], steal_s=t["steal"])

    def _stream(self) -> Outcome:
        n = self.stream_batches
        src, doc_ids = self.stream_files[n]
        # a hard link lands the file in the source directory at once and
        # leaves the staged corpus whole for the reference check
        os.link(src, os.path.join(self.stream_src, f"batch-{n:04d}.parquet"))
        pages = SI.read_page_stream(self.spark, self.stream_src,
                                    max_files_per_trigger=1)
        with stopwatch() as t, self.tracer.span("stream_batch", run_id=f"batch{n}"):
            q = SI.start_incremental_dedup(pages, CFG, self.stream_work)
            q.awaitTermination(120)
        self.stream_batches += 1
        ok = (q.exception() is None and os.path.exists(
            f"{self.stream_work}/metrics/batch_{n}.json"))
        return Outcome("stream", t["wall"], len(doc_ids), ok, f"batch{n}",
                       error="" if ok else f"micro-batch {n} did not commit: "
                                           f"{q.exception()}",
                       cpu_s=t["cpu"], steal_s=t["steal"])

    def finish(self) -> tuple[bool, str, dict]:
        """The incremental edge set must equal batch verify over the same
        pages; planted pairs among them count as found when they are an
        edge."""
        extras = {
            "ann.query_p50_s": (statistics.median(self.ann_seconds)
                                if self.ann_seconds else 0),
            "ann.twin_recall": (self.ann_twins[0] / self.ann_twins[1]
                                if self.ann_twins[1] else 0),
        }
        measured = self.stream_batches - self.stream_first
        if not measured:
            return True, "", extras
        skipped = 0
        for n in range(self.stream_first, self.stream_batches):
            with open(f"{self.stream_work}/metrics/batch_{n}.json") as f:
                skipped += json.load(f).get("probe_rows_skipped_hot", 0)
        extras["stream_batch.store_mb"] = dir_bytes(self.stream_work) / (1 << 20)
        extras["stream_batch.probe_rows_skipped_hot"] = skipped / measured

        # the reference is computed here, on a warm JVM and outside the
        # timed phases: batch verify over exactly the ingested pages
        spark = self.spark
        files = self.stream_files[:self.stream_batches]
        sig = L.signatures(spark.read.parquet(*(p for p, _ in files)),
                           CFG).persist()
        want = {tuple(r) for r in V.jaccard_edges(
            L.candidate_pairs(L.explode_bands(sig, CFG), CFG), sig, CFG
        ).select("src", "dst").collect()}
        sig.unpersist()
        edges = pq.read_table(f"{self.stream_work}/edges", columns=["src", "dst"])
        got = set(zip(*(edges.column(c).to_pylist() for c in ("src", "dst"))))

        # recall over the pages of set-up and the first timed batch, which
        # every run ingests: the same page set for a seed however many
        # batches fit in the run
        truth = planted_pairs(_page_frame(spark, self.staged),
                              self.sizes["stream_pages"])
        fixed = {d for _, ids in self.stream_files[:self.stream_first + 1]
                 for d in ids}
        pairs = [(min(a, b), max(a, b)) for a, b in truth["pairs"]
                 if a in fixed and b in fixed]
        self.pairs_planted = len(pairs)
        self.pairs_found = sum(p in got for p in pairs)
        if got != want:
            return False, (f"stream edges differ from batch verify "
                           f"({len(got)} vs {len(want)} edges)"), extras
        return True, "", extras

    def invocations(self) -> dict[str, int]:
        return {"ann": len(self.ann_seconds),
                "stream_batch": self.stream_batches - self.stream_first}


WORKLOADS = {w.name: w for w in (WebDedup, SmallJobs)}
