"""Connected components over the verified edge table → cluster ids.

Absent in the reference (it stops at candidate buckets; SURVEY.md §2.11) —
required by the north rule.  Cluster id = min doc_id reachable.

One entry, :func:`connected_components`, returns ``(labels, report)``.  It
composes two distributed algorithms with a driver fast path:

* a bounded driver union-find for graphs of at most
  :data:`DRIVER_EDGE_LIMIT` edges;
* **hash-min label propagation** (:func:`hashmin_components`, the
  standard Spark CC construction), O(diameter) rounds —
  ``label'(v) = min(label(v), min over neighbors u of label(u))``;
* **large-star / small-star** (:func:`star_components`), O(log n) rounds
  on the graph hash-min leaves unconverged.

Both loops ``localCheckpoint`` every round to truncate lineage (Catalyst
does not iterate; SURVEY.md §4.2).  At 100 TB scale the edge table is
repartitioned once on ``src`` and reused every round; label updates
shuffle only the (node, label) pairs, orders of magnitude smaller than
the documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

#: Edge count at or under which the graph is solved by a union-find on the
#: driver: 2 ids/edge collected, ≤ ~1.6 MB, ~0.2 s instead of O(rounds)
#: Spark jobs (~0.45 s/round) — the bulk of small-corpus dedup latency.
DRIVER_EDGE_LIMIT = 100_000

#: Hash-min rounds before an unconverged graph is contracted through its
#: partial labels and finished by star.
HASHMIN_ROUNDS = 8


def symmetrize(edges: DataFrame) -> DataFrame:
    """(src,dst) → both directions.

    Input edges are canonical (src < dst, distinct), so the union with the
    reversed direction cannot create duplicates — no distinct() shuffle.
    Duplicate tolerance is free anyway: the hash-min aggregation below is
    idempotent under repeated edges."""
    e = edges.select("src", "dst")
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def hashmin_components(
    edges: DataFrame, max_rounds: int
) -> tuple[DataFrame, int | None]:
    """edges(src,dst) → ((doc_id, cluster_id) for every node, rounds).

    Hash-min propagates one hop per round, so convergence needs
    O(component diameter) rounds.  ``rounds`` is the round that found the
    fixpoint, or None when ``max_rounds`` ran out while labels were still
    changing — the labels of the unconverged components are then partial
    (still ≥ the component minimum, which :func:`connected_components`
    relies on when it contracts the graph).
    """
    # localCheckpoint (not just persist): the edge lineage can be a large
    # diamond-shaped plan (e.g. verified edges ∪ exact-dup edges sharing
    # ancestors); every loop iteration would otherwise re-analyze a plan
    # tree that duplicates the whole upstream subtree per reference —
    # driver-side optimizer time then dwarfs the actual shuffles.
    sym = symmetrize(edges).repartition("src").localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .persist()
    )

    # The cheap convergence check (exact decimal label-sum scan) is only
    # sound for integral ids: a non-numeric id (e.g. string doc ids) casts
    # to NULL, label_sum returns None on both sides, and None == None would
    # declare convergence after round 1 with wrong labels.  Dispatch on the
    # id type: integral → sum scan (1 cheap agg/round); anything else →
    # type-agnostic join-based changed-count (1 extra join/round).
    id_type = dict(sym.dtypes)["src"]
    numeric_ids = id_type in ("tinyint", "smallint", "int", "bigint") or (
        id_type.startswith("decimal")
    )
    # exact decimal sum — int64 doc ids summed over billions of rows would
    # overflow a BIGINT accumulator
    label_sum = F.sum(F.col("cluster_id").cast("decimal(38,0)"))

    def n_changed(old: DataFrame, new: DataFrame) -> int:
        return (
            new.alias("n")
            .join(old.alias("o"), F.col("n.doc_id") == F.col("o.doc_id"))
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )

    prev_sum = labels.agg(label_sum).first()[0] if numeric_ids else None
    rounds = None
    for it in range(max_rounds):
        # hash-min step in one join + one aggregation (2 shuffles/iter):
        # labels flow across edges, union the node's own label, take min
        flowed = sym.join(labels.withColumnRenamed("doc_id", "src"), "src").select(
            F.col("dst").alias("doc_id"), "cluster_id"
        )
        new_labels = (
            flowed.unionByName(labels)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        # convergence check without a self-join: hash-min labels are
        # monotonically non-increasing per node, so the exact label sum
        # strictly decreases until the fixpoint — sum unchanged ⟺ no label
        # changed.  The sum rides the checkpoint job as an observe()
        # metric: ONE job per round (scaling: per-round driver latency is
        # the non-parallel term of the CC stage).
        if numeric_ids:
            obs = Observation()
            new_labels = new_labels.observe(obs, label_sum.alias("ls"))
        new_labels = new_labels.localCheckpoint(eager=True)
        if numeric_ids:
            new_sum = obs.get["ls"]
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = n_changed(labels, new_labels) == 0
        labels.unpersist()
        labels = new_labels
        if converged:
            rounds = it + 1
            break
    return labels.select("doc_id", "cluster_id"), rounds


def star_components(edges: DataFrame, max_rounds: int) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — converges in O(log n) rounds regardless of component
    diameter, where hash-min label propagation needs O(diameter) rounds.
    Returns ``(labels, rounds)`` with the same labels as
    :func:`hashmin_components` (min doc_id per component); raises if the
    edge set is still changing after ``max_rounds``.

    Each round (2 shuffles, same per-round cost as hash-min):
      large-star: for each node u, neighbors v > u re-attach to min(N(u)∪u)
      small-star: for each node u, neighbors v <= u (and u) attach to the min
    The edge list contracts toward a star around each component minimum;
    converged when the edge set is stable (every edge already points at the
    component min).
    """
    # canonicalize to (hi, lo) parent pointers: a < b means b points at a
    e = (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Spark 4.1's UnionBase.rewriteConstraints can fail ("key not found:
    # v#...") when a union branch carries a filter constraint on an
    # attribute its projection renamed away — exactly the star-contraction
    # shape below.  Constraint propagation buys nothing here (every round
    # is checkpoint → union → distinct), so disable it for the loop and
    # restore the caller's setting after.
    spark = edges.sparkSession
    _cp_key = "spark.sql.constraintPropagation.enabled"
    _cp_prev = spark.conf.get(_cp_key, "true")
    spark.conf.set(_cp_key, "false")
    try:
        return _star_loop(e, max_rounds)
    finally:
        spark.conf.set(_cp_key, _cp_prev)


def _star_loop(e: DataFrame, max_rounds: int) -> tuple[DataFrame, int]:
    prev_count = e.count()
    for it in range(max_rounds):
        # large-star: group by u over BOTH directions, attach larger
        # neighbors to the minimum of the neighborhood (including u).
        # Aggregate sides get disjoint column names (_mu/_mn, _su/_smn):
        # both derive from `e`, and a USING-style self-join on shared names
        # trips Catalyst attribute dedup under localCheckpoint (observed
        # "key not found: v#..." plan failures).
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("_mnv"))
            .select(
                F.col("u").alias("_mu"),
                F.least(F.col("u"), F.col("_mnv")).alias("_mn"),
            )
        )
        large = (
            nbrs.join(m, F.col("u") == F.col("_mu"))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("_mn").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star: group by u over edges where v <= u (original
        # direction), attach u and its small neighbors to the minimum
        sm = (
            e.groupBy("u")
            .agg(F.min("v").alias("_mnv"))
            .select(F.col("u").alias("_su"), F.col("_mnv").alias("_smn"))
        )
        small_self = sm.select(F.col("_su").alias("u"), F.col("_smn").alias("v"))
        small_nbrs = (
            e.join(sm, F.col("u") == F.col("_su"))
            .where(F.col("v") != F.col("_smn"))
            .select(F.col("v").alias("u"), F.col("_smn").alias("v"))
        )
        obs = Observation()
        new_e = (
            large.unionByName(small_self)
            .unionByName(small_nbrs)
            .where(F.col("u") != F.col("v"))
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))  # rides the
            # checkpoint job — one job per round, no separate count scan
            .localCheckpoint(eager=True)
        )
        # cheap convergence pre-check: star contraction only ever shrinks or
        # reshapes the edge set, so a count change proves non-convergence
        # without the two full exceptAll comparisons (they run only on the
        # final candidate round)
        new_count = obs.get["n"]
        if new_count != prev_count:
            changed = 1
        else:
            changed = (
                new_e.exceptAll(e).limit(1).count()
                + e.exceptAll(new_e).limit(1).count()
            )
        prev_count = new_count
        e = new_e
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star connected components did not converge in {max_rounds} "
            "rounds — raise max_iters"
        )
    # converged: every u points directly at its component min
    labels = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    mins = e.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return labels.unionByName(mins).groupBy("doc_id").agg(
        F.min("cluster_id").alias("cluster_id")
    ), it + 1


def _small_edge_rows(edges: DataFrame, known_edge_count: int | None):
    """The (src, dst) rows of ``edges`` if there are at most
    :data:`DRIVER_EDGE_LIMIT` of them, else None.

    With ``known_edge_count`` (the pipeline's StageStore manifests record
    row counts at write time) the decision spawns no job.  Without it, one
    bounded ``limit(DRIVER_EDGE_LIMIT + 1).collect()`` probe decides, and
    its rows are the union-find's input — the expensive verify lineage
    executes at most once either way, never count-then-collect, and on the
    distributed path the probe's CollectLimit scans partitions
    incrementally instead of running a full count."""
    e = edges.select("src", "dst")
    if known_edge_count is not None:
        return e.collect() if known_edge_count <= DRIVER_EDGE_LIMIT else None
    probe = e.limit(DRIVER_EDGE_LIMIT + 1).collect()
    return probe if len(probe) <= DRIVER_EDGE_LIMIT else None


def _driver_union_find(edges: DataFrame, rows: list) -> DataFrame:
    """Union-find over the collected (src, dst) ``rows`` of a small edge
    list.  Union-by-min (the smaller root becomes parent) keeps the
    invariant root == component minimum, so labels are identical to the
    distributed algorithms.  ``edges`` supplies the id type and session."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    labels = [(x, find(x)) for x in parent]
    id_type = edges.schema["src"].dataType
    schema = StructType(
        [StructField("doc_id", id_type), StructField("cluster_id", id_type)]
    )
    spark = edges.sparkSession
    if id_type.typeName() in ("long", "integer", "short", "byte") and labels:
        # Arrow transport: a pandas frame converts driver-side into Arrow
        # batches that deserialize in the JVM — the tuple path instead
        # pickles every row and spins a Python worker per task just to
        # unpickle them (~0.5 s × parallelism of pure worker overhead at
        # 56k pages, round-7 event-log evidence).  Values are identical:
        # plain int64 ids either way.
        import numpy as np
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "doc_id": np.fromiter(
                    (x for x, _ in labels), dtype=np.int64, count=len(labels)
                ),
                "cluster_id": np.fromiter(
                    (y for _, y in labels), dtype=np.int64, count=len(labels)
                ),
            }
        )
        return spark.createDataFrame(pdf, schema)
    return spark.createDataFrame(labels, schema)


def connected_components(
    edges: DataFrame,
    max_iters: int = 25,
    known_edge_count: int | None = None,
) -> tuple[DataFrame, dict]:
    """edges(src,dst) → ((doc_id, cluster_id) for every node, report).

    ``report`` is ``{"path": "driver" | "hashmin" | "hashmin+star",
    "rounds": int}`` — which path ran and how many distributed rounds it
    took (hash-min plus star; 0 on the driver path).  The pipeline records
    it in the ``components`` stage manifest.

    * At most :data:`DRIVER_EDGE_LIMIT` edges (``known_edge_count``, or a
      bounded probe — see :func:`_small_edge_rows`): union-find on the
      driver.
    * Otherwise hash-min for :data:`HASHMIN_ROUNDS` rounds.  Near-dup
      graphs are almost always shallow (a dup cluster's diameter is
      tiny), so this usually converges and costs exactly plain hash-min.
    * Else a boilerplate chain outran the budget: CONTRACT the graph
      through the partial labels — every node collapses into its current
      label, inter-label edges survive — and finish with star (O(log n)
      rounds, raising if not converged by ``max_iters``) on the
      contracted graph, much smaller than the original because hash-min
      already collapsed every shallow region.  Labels are identical to
      either pure algorithm: after any number of hash-min rounds the true
      component minimum m still has label(m) == m (labels never go below
      the component min), so star over contracted nodes recovers the
      global minimum per component, and joining back through the partial
      labels assigns it to every node.
    """
    rows = _small_edge_rows(edges, known_edge_count)
    if rows is not None:
        return _driver_union_find(edges, rows), {"path": "driver", "rounds": 0}
    labels, rounds = hashmin_components(edges, HASHMIN_ROUNDS)
    if rounds is not None:
        return labels, {"path": "hashmin", "rounds": rounds}
    labels = labels.localCheckpoint(eager=True)
    lab_src = labels.select(F.col("doc_id").alias("src"),
                            F.col("cluster_id").alias("_ls"))
    lab_dst = labels.select(F.col("doc_id").alias("dst"),
                            F.col("cluster_id").alias("_ld"))
    contracted = (
        edges.select("src", "dst")
        .join(lab_src, "src")
        .join(lab_dst, "dst")
        .select(F.col("_ls").alias("src"), F.col("_ld").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    star, star_rounds = star_components(contracted, max_iters)
    star = star.select(
        F.col("doc_id").alias("_lab"), F.col("cluster_id").alias("_root")
    )
    labels = labels.join(star, F.col("cluster_id") == F.col("_lab"), "left").select(
        "doc_id", F.coalesce("_root", "cluster_id").alias("cluster_id")
    )
    return labels, {"path": "hashmin+star", "rounds": HASHMIN_ROUNDS + star_rounds}


def with_singletons(labels: DataFrame, docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Every doc gets a cluster id; docs absent from the edge graph are their
    own singleton cluster."""
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
        )
    )


def cluster_summary(labels: DataFrame, min_size: int = 2) -> DataFrame:
    """Flagship rollup: (cluster_id, n_docs, min_doc_id, max_doc_id)."""
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") >= min_size)
    )


def dedup_representatives(all_labels: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) → keep-list: representative = min doc_id.

    The output of the whole pipeline a training-data job consumes:
    one row per doc with its cluster and whether it survives dedup.
    """
    return all_labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )


def dedup_representatives_by(
    all_labels: DataFrame,
    scores: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-list with a QUALITY policy: representative = argmax score per
    cluster (ties → min doc id), instead of the arbitrary min-id member.

    A webtext training pipeline usually wants to keep the BEST member of
    each duplicate cluster — the longest page, the least-boilerplate
    rescrape, the highest language-id confidence — not the one with the
    smallest content-hash id.  ``scores`` is any (doc_id, score) table;
    compose with the text-quality operators (`functions/text.py`) or a
    plain ``length(text)``.

    Plan shape: two hash aggregations + joins on ``cluster_id`` — all
    partial-aggregable map-side, no window sort, so a pathological giant
    cluster costs a hot key in a count-style agg rather than a full
    single-partition sort (the skew shape windows have).  The min-id
    tie-break is computed as a second agg over only the max-score members
    — no id negation tricks, so full-range hash ids (xxhash64 doc keys
    can be negative) are safe.  Output: one row per doc —
    (doc_id, cluster_id, <score_col>, is_representative).

    Docs absent from ``scores`` keep their row (LEFT join — a keep-list
    must never silently drop documents): a null score loses to any
    scored member, and a cluster whose members are ALL unscored falls
    back to the min-id representative.
    """
    joined = all_labels.join(scores.select(id_col, score_col), id_col, "left")
    mx = joined.groupBy("cluster_id").agg(F.max(score_col).alias("_mx"))
    best = (
        joined.join(mx, "cluster_id")
        # F.max ignores nulls: _mx is null only when NO member has a
        # score — then every member ties and min-id wins (the null == _mx
        # comparison alone would evaluate to null and drop the cluster)
        .where((F.col(score_col) == F.col("_mx")) | F.col("_mx").isNull())
        .groupBy("cluster_id")
        .agg(F.min(id_col).alias("_best_id"))
    )
    return joined.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        score_col,
        (F.col(id_col) == F.col("_best_id")).alias("is_representative"),
    )
