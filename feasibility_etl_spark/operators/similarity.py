"""Similarity search over embedding columns (array<float>).

Two tiers:

- **brute-force cosine top-k** — the correctness baseline. Query vectors are
  broadcast against the corpus; dot products run as ``zip_with`` +
  ``aggregate`` HOFs (JVM-side, no Python). Top-k per query is a window
  ``row_number`` over the per-query partition — the shuffle is on query_id,
  so k and the query count bound the state, not the corpus.
- **LSH-bucketed (random hyperplane)** — the scale path. Sign-bit signatures
  against a fixed set of hyperplanes put near vectors in shared buckets;
  search touches only the probe's bucket (plus multiprobe neighbors at the
  caller's option). At 100 TB this turns a corpus scan per query into a
  bucket scan per query.
- **IVF (inverted-file)** — same plumbing with k-means centroids instead of
  hyperplanes: a learned coarse quantizer fits real density better than
  random planes, at the cost of a training pass (sampled) — see
  ``ivf_topk``.

Hyperplanes are generated driver-side from a fixed seed and inlined as
literal arrays — deterministic across runs, no RNG inside the plan.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns via zip_with+aggregate."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k: every query × every corpus vector.

    Queries broadcast (the small side by construction); per-query top-k via
    window row_number. Returns (query_id, vec_id, cos_sim, rank).

    Each side's norm is computed once per ROW, not once per (corpus,
    query) pair — with q queries that is 1 fold per corpus row instead
    of 2q (folds are interpreted, see verify_cosine_pairs); identical
    double arithmetic, so the SIM-TOPK oracle hash is unchanged.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id), F.col(query_vec),
            l2_norm(F.col(query_vec)).alias("_qn"),
        )
    )
    denom = F.col("_cn") * F.col("_qn")
    scored = (
        corpus.select(
            F.col(corpus_id), F.col(corpus_vec),
            l2_norm(F.col(corpus_vec)).alias("_cn"),
        )
        .crossJoin(q)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.when(denom == 0, F.lit(0.0))
            .otherwise(dot(F.col(corpus_vec), F.col(query_vec)) / denom)
            .alias("cos_sim"),
        )
    )
    if exclude_self:
        scored = scored.where(F.col(query_id) != F.col(corpus_id))
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


#: Hard cap on query-directed probe depth: 2**q probe signatures are
#: materialized as driver-built expressions, so q is a PLAN-SIZE knob,
#: not a data knob. 2^10 = 1024 probes is already far past any sane
#: recall budget (the measured sf1 curve uses q ≤ 8).
_PROBE_LOWMARGIN_MAX = 10


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign-bit string of plane dots."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for plane in planes
    ]
    return F.concat(*bits)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    multiprobe: int = 0,
    probe_lowmargin: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, then exact
    cosine rank within the bucket. Recall is tunable via n_planes (fewer
    planes → bigger buckets → higher recall, more compute) and by
    ``multiprobe``: the PROBE RADIUS — each query also probes every bucket
    within Hamming distance ``multiprobe`` of its own (sign flips on
    near-zero plane dots are the dominant LSH miss). The query side fans
    out Σ_{r≤radius} C(n_planes, r) rows, the corpus side is untouched, so
    the extra cost is query-proportional, never corpus-proportional —
    radius 2 at n_planes=8 probes 37 of 256 buckets (~14% of the corpus)
    where radius 1 probes 9 (~3.5%).

    ``probe_lowmargin=q`` (mutually exclusive with ``multiprobe``) is
    QUERY-DIRECTED probing (Lv et al., VLDB 2007, "Multi-Probe LSH"):
    instead of flipping blindly at every Hamming radius, each query flips
    every subset of ONLY the q planes whose dot products sit nearest zero
    — the planes a true neighbor is actually likely to land on the other
    side of. 2**q probes of 2**n_planes buckets replace the radius
    probing's Σ C(n_planes, r): at n_planes=12, q=6 probes 64 buckets
    (1.6% of the key space) where Hamming radius 3 probes 299 (7.3%) —
    and the 64 are the HIGH-PROBABILITY ones, so recall at equal budget
    is typically better when margins are informative (measured on the
    sf1 uniform-random curve: qd=8 0.68 recall @ 6.3% scan vs radius=3
    0.64 @ 7.3%; qd=7 0.60 @ 3.1% — same recall tier at 43% of the
    scan. On clustered data the gap widens — see
    tests/test_similarity.py lsh_querydirected). All plane dots,
    the margin sort, and the 2**q perturbed signatures are built-in
    expressions per QUERY row (the corpus side never re-hashes), so the
    extra cost is query-proportional and whole-stage-codegen'd."""
    from itertools import combinations

    if multiprobe and probe_lowmargin:
        raise ValueError(
            "pass either multiprobe (Hamming-radius probing) or "
            "probe_lowmargin (query-directed probing), not both"
        )
    if probe_lowmargin > n_planes:
        raise ValueError(
            f"probe_lowmargin={probe_lowmargin} exceeds n_planes={n_planes}"
        )
    # the probe set is built DRIVER-SIDE as 2**q literal expressions
    # (one perturbed-signature concat per flip mask); past ~2^10 the
    # plan tree itself — not the data — dominates: analysis/codegen over
    # tens of thousands of nested transform/concat_ws expressions. Fail
    # fast instead of hanging plan construction.
    if probe_lowmargin > _PROBE_LOWMARGIN_MAX:
        raise ValueError(
            f"probe_lowmargin={probe_lowmargin} builds 2**q="
            f"{1 << probe_lowmargin} probe expressions driver-side; the cap "
            f"is {_PROBE_LOWMARGIN_MAX} ({1 << _PROBE_LOWMARGIN_MAX} probes). "
            "Probing more buckets than that means the bucket geometry is "
            "wrong — lower n_planes instead."
        )
    planes = _hyperplanes(dim, n_planes, seed)

    def bucket_int(vec: Column) -> Column:
        # sign-bit INTEGER signature (bit i = sign of plane-i dot): the
        # int form makes every probe ONE bitwiseXOR against an exploded
        # literal mask instead of a per-probe rebuilt bit string — r12:
        # at planes=10/radius=4 the string formulation compiled 386
        # substring/concat expressions and the 5-query bench serve took
        # 13.8 s of mostly analysis/codegen; the XOR form is ~1 s and
        # flat in probe count. Same space partition as lsh_bucket's
        # string (bijective bit<->char), corpus and queries derive from
        # the same dot() expression so probe 0 is hash-identical.
        terms = [
            F.when(
                dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i, plane in enumerate(planes)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    c = corpus.withColumn("_bucket", bucket_int(F.col(corpus_vec)))
    q = queries.withColumn("_bucket", bucket_int(F.col(query_vec)))
    if probe_lowmargin:
        nq = probe_lowmargin
        # per-plane dots once per query row — the same dot() expression
        # bucket_int uses, so probe 0 (the empty flip set) is
        # hash-identical to the corpus hashing
        dots = F.array(
            *[
                dot(F.col(query_vec), F.array(*[F.lit(x) for x in plane]))
                for plane in planes
            ]
        )
        # plane indices ordered by |dot| ascending -> the q lowest-margin
        # planes (array_sort on (margin, index) structs: field order is
        # the sort key, ties broken by index — deterministic)
        lowq = F.slice(
            F.transform(
                F.array_sort(
                    F.transform(
                        F.col("_dots"),
                        lambda d, j: F.struct(
                            F.abs(d).alias("m"), j.alias("j")
                        ),
                    )
                ),
                lambda s: s["j"],
            ),
            1,
            nq,
        )
        q = q.withColumn("_dots", dots).withColumn("_lowq", lowq)
        # one XOR mask per flip subset: Σ 2^lowq[p] over the subset's
        # planes — each mask is ≤ q shiftleft terms (vs the string
        # formulation's full n_planes transform+concat per probe)
        mask_exprs = []
        for mask in range(1 << nq):
            terms = [
                F.expr(
                    f"shiftleft(cast(1 as bigint), element_at(_lowq, {p + 1}))"
                )
                for p in range(nq)
                if (mask >> p) & 1
            ]
            e = F.lit(0).cast("long")
            for t in terms:
                e = e + t
            mask_exprs.append(e)
        q = (
            q.withColumn("_m", F.explode(F.array(*mask_exprs)))
            .withColumn("_bucket", F.col("_bucket").bitwiseXOR(F.col("_m")))
            .drop("_dots", "_lowq", "_m")
        )
    elif multiprobe:
        # all flip masks up to the Hamming radius, as ONE literal array
        # exploded per query row — plan size is O(1) in probe count
        masks = [0] + [
            sum(1 << p for p in pos)
            for r in range(1, multiprobe + 1)
            for pos in combinations(range(n_planes), r)
        ]
        q = (
            q.withColumn(
                "_m", F.explode(F.array(*[F.lit(m).cast("long") for m in masks]))
            )
            .withColumn("_bucket", F.col("_bucket").bitwiseXOR(F.col("_m")))
            .drop("_m")
        )
    scored = c.join(F.broadcast(q), "_bucket").select(
        F.col(query_id),
        F.col(corpus_id),
        cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
    ).where(F.col(query_id) != F.col(corpus_id))
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer →
    per-cell inverted lists → probe the ``nprobe`` nearest cells per query →
    exact cosine rank within probed cells.

    Scale shape: training runs once on a sample (``train_fraction``);
    centroids are tiny and broadcast everywhere. Corpus assignment is a
    single map over the corpus (:func:`assign_cells` — Arrow-batched
    numpy argmin, no shuffle; the CANONICAL assignment shared with
    ivf_build/ivf_append, so inline, built, and appended indexes place
    borderline vectors identically); the search join is corpus-cell ⋈
    probe-cell, so each query reads ~``nprobe/n_cells`` of the corpus
    instead of all of it. Recall is tunable via nprobe — the classic IVF
    trade.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus if train_fraction >= 1.0 else corpus.sample(train_fraction, seed)
    featurized = train.select(
        array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features").fit(
        featurized
    )

    cents = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    assigned = assign_cells(corpus, cents, corpus_id, corpus_vec)

    centroids = corpus.sparkSession.createDataFrame(
        cents, "_cell int, _centroid array<double>"
    )
    return _ivf_probe_score(
        assigned, centroids, queries, k, nprobe, corpus_id, corpus_vec, query_id, query_vec
    )


def _ivf_probe_score(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
) -> DataFrame:
    """The serve-time half of IVF: nprobe nearest centroids per query
    (euclidean, matching KMeans predict), then exact cosine rank within the
    probed cells only. Shared by ivf_topk (train-inline) and ivf_search
    (pre-built index)."""
    probe_w = Window.partitionBy(query_id).orderBy(F.col("_dist2"), F.col("_cell"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            F.col(query_id),
            F.col(query_vec),
            F.col("_cell"),
            F.aggregate(
                F.zip_with(
                    F.col(query_vec), F.col("_centroid"),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_dist2"),
        )
        .withColumn("_probe_rank", F.row_number().over(probe_w))
        .where(F.col("_probe_rank") <= nprobe)
        .select(query_id, query_vec, "_cell")
    )

    scored = (
        assigned.join(F.broadcast(probes), "_cell")
        .where(F.col(query_id) != F.col(corpus_id))
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_build(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Train the IVF coarse quantizer ONCE and persist the index:
    ``<path>/centroids`` (n_cells tiny rows) and ``<path>/assigned`` — the
    corpus with its cell id, written ``partitionBy(_drop, _cell)``: the
    base build lands under ``_drop=base`` and each :func:`ivf_append`
    drop under its own ``_drop=<id>`` subdir (overwrite-on-replay —
    idempotent maintenance, same layout as the streaming gates), while
    ``_cell`` keeps file-level pruning (PartitionFilters): a search
    probing ``nprobe`` cells reads ~nprobe/n_cells of the index — the
    train/serve split a production ANN deployment actually runs (index
    refreshed offline, queries served without retraining). Assignment is
    :func:`assign_cells` at the extracted centroids — the same canonical
    exact-dist² argmin the append path uses, so build-vs-append placement
    can never diverge on borderline vectors."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus if train_fraction >= 1.0 else corpus.sample(train_fraction, seed)
    featurized = train.select(
        array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features").fit(
        featurized
    )
    spark = corpus.sparkSession
    cents = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    spark.createDataFrame(
        cents, "_cell int, _centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        assign_cells(corpus, cents, corpus_id, corpus_vec)
        .withColumn("_drop", F.lit("base"))
        .write.mode("overwrite")
        .partitionBy("_drop", "_cell")
        .parquet(f"{path}/assigned")
    )


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Serve top-k from an :func:`ivf_build` index — no retraining, no full
    scan: centroids load broadcast-sized, and the assigned table's probe
    join keys on the partition column, so only probed cells' files are
    read."""
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = spark.read.parquet(f"{path}/assigned")
    return _ivf_probe_score(
        assigned, centroids, queries, k, nprobe, corpus_id, corpus_vec, query_id, query_vec
    )


def assign_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell assignment as a PURE MAP — zero shuffle.

    ``centroids`` is the driver-side list of ``(cell, centroid)`` (tiny
    by construction: n_cells rows, closed over by the batch function).
    The argmin runs as ONE Arrow-batched numpy matmul per input batch —
    ``(n × dim) @ (dim × n_cells)`` with the ``|c|² − 2x·c`` expansion
    (the per-row ``|x|²`` constant can't change the argmin) — instead of
    n_cells interpreted ``zip_with``+``aggregate`` HOFs per row: the r12
    interleaved A/B (tools/ab_ivf_assign_r12.py, reps 5, both orders)
    measured the HOF formulation at 3.48 s median on the bench corpus vs
    2.04 s for this path and 2.14 s for MLlib ``model.transform`` — the
    HOF argmin WAS the r11 sim-ivf regression. Ties break to the lowest
    cell id (centroids sorted, ``argmin`` keeps the first minimum), the
    same (dist², cell) order the serve path's probe ranking uses.

    New vectors therefore still assign without a KMeans model object,
    without a join, and without a window shuffle: the scale path for
    appending a daily drop to a billion-vector index is a map over the
    drop alone. Parity with MLlib ``model.transform`` is pinned in
    tests/test_similarity.py."""
    import numpy as np

    cents = sorted(((int(cell), list(map(float, c))) for cell, c in centroids))
    cell_ids = np.array([cell for cell, _ in cents], dtype=np.int64)
    cent_mat = np.array([c for _, c in cents], dtype=np.float64)  # (n_cells, dim)
    cent_sq = (cent_mat * cent_mat).sum(axis=1)  # (n_cells,)

    fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [fields[id_col], fields[vec_col], T.StructField("_cell", T.IntegerType())]
    )

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({id_col: [], vec_col: [], "_cell": []})
                continue
            vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            scores = cent_sq[None, :] - 2.0 * (vecs @ cent_mat.T)  # (n, n_cells)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "_cell": cell_ids[np.argmin(scores, axis=1)],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(assign, out_schema)


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    drop_id: str | None = None,
) -> None:
    """Append new vectors to an :func:`ivf_build` index WITHOUT
    retraining (VERDICT r9 item 5): assign each to its nearest existing
    centroid (:func:`assign_cells` — map-only over the increment) and
    write the drop under its own ``_drop=<id>`` partition subdir of the
    assigned table. Subsequent :func:`ivf_search` calls serve old ∪ new
    identically to an index whose assignment ran over the full corpus at
    the SAME centroids (pinned in tests) — recall for the appended
    vectors is governed by how well the frozen centroids still fit them;
    watch :func:`ivf_staleness` and re-run :func:`ivf_build` when it
    trips.

    Replay-idempotent (VERDICT r10 item 3): each drop overwrites ONLY
    its own subdir — the per-batch overwrite layout the streaming gates
    use (streaming/dedup_gate.py) — so a retried append replaces its own
    files instead of duplicating rows. ``drop_id`` names the subdir
    (daily-drop pipelines pass their batch/date id; restricted to
    ``[A-Za-z0-9._-]`` so the id round-trips through Hadoop's partition
    path escaping unchanged — an ``=`` or ``%XX`` would parse back as a
    DIFFERENT partition value at read time, ADVICE r11); when omitted it
    is a content fingerprint of the increment — one narrow aggregate
    combining order-independent ``bit_xor(xxhash64(id, vec))`` with
    ``count(*)`` and ``sum(_h)`` (ADVICE r11: bit_xor alone cancels
    pairwise, so two different increments related by even-multiplicity
    duplicates collide; the count+sum mix breaks multiset cancellation)
    — so replaying the SAME data lands on the SAME subdir with no
    caller bookkeeping."""
    import re

    if drop_id is None:
        row = new_vectors.select(
            F.xxhash64(F.col(corpus_id), F.col(corpus_vec)).alias("_h")
        ).agg(
            F.bit_xor("_h").alias("fx"),
            F.count(F.lit(1)).alias("n"),
            # decimal(38) accumulator: a long sum overflows under ANSI
            # mode; 38 digits holds ~10^19 64-bit terms, masked below
            F.sum(F.col("_h").cast("decimal(38,0)")).alias("fs"),
        ).first()
        if row["fx"] is None:
            drop_id = "empty"
        else:
            drop_id = (
                f"{row['fx'] & 0xFFFFFFFFFFFFFFFF:016x}"
                f"-{row['n']}-{int(row['fs']) & 0xFFFFFFFFFFFFFFFF:016x}"
            )
    else:
        drop_id = str(drop_id)
        if not re.fullmatch(r"[A-Za-z0-9._-]+", drop_id) or drop_id in (".", ".."):
            raise ValueError(
                "drop_id must be a non-empty [A-Za-z0-9._-] path segment, "
                f"got {drop_id!r}"
            )
    if "_drop" not in spark.read.parquet(f"{path}/assigned").columns:
        # appending a _drop=<id> subdir under a pre-drop-layout index
        # (partitioned by _cell only) would mix partition depths and make
        # every subsequent read of the assigned table fail — same guard
        # ivf_recluster_cell has (ADVICE r11)
        raise ValueError(
            "assigned table lacks the _drop partition layout; "
            "ivf_append supports ivf_build/ivf_append indexes"
        )
    cents = [
        (r["_cell"], list(r["_centroid"]))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    assign_cells(new_vectors, cents, corpus_id, corpus_vec).write.mode(
        "overwrite"
    ).partitionBy("_cell").parquet(f"{path}/assigned/_drop={drop_id}")


def ivf_staleness(spark, path: str, imbalance_threshold: float = 4.0) -> DataFrame:
    """Staleness signal for an appended-to IVF index: one row of
    cell-population stats. Appends never move centroids, so drift shows
    up as CELL IMBALANCE — vectors piling into the few cells nearest the
    new distribution — which degrades both recall (true neighbors
    straddle overfull cells' boundaries) and probe cost (nprobe cells no
    longer bound scan fraction). ``recluster_recommended`` trips when
    max population exceeds ``imbalance_threshold`` × the ALL-trained-cell
    mean (``n_vectors / n_cells`` — k-means can legitimately leave a
    cell empty at build time, and appends can never empty one, so empty
    trained cells are reported informationally in ``n_nonempty_cells``
    rather than tripping a fresh index forever; they also shrink no
    denominator — an index wasting probe budget on dead cells reads as
    MORE imbalanced, not less). Remedy: :func:`ivf_recluster_cell` for a
    single hot cell, offline :func:`ivf_build` for whole-index drift.
    Cost: one column-pruned aggregate over the assigned table's
    partition column."""
    n_cells = spark.read.parquet(f"{path}/centroids").count()
    stats = (
        spark.read.parquet(f"{path}/assigned")
        .groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_nonempty_cells"),
            F.max("n").alias("max_cell"),
            (F.sum("n") / F.lit(n_cells)).alias("mean_cell"),
        )
    )
    return stats.select(
        F.lit(n_cells).alias("n_cells"),
        "n_vectors",
        "n_nonempty_cells",
        "max_cell",
        F.round("mean_cell", 3).alias("mean_cell"),
        F.round(F.col("max_cell") / F.col("mean_cell"), 3).alias("imbalance"),
        (F.col("max_cell") / F.col("mean_cell") > imbalance_threshold).alias(
            "recluster_recommended"
        ),
    )


def ivf_recluster_cell(
    spark,
    path: str,
    cell: int,
    n_splits: int = 2,
    seed: int = 42,
    max_iter: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> list[int]:
    """Targeted remedy for the cell :func:`ivf_staleness` flags (VERDICT
    r10 item 6): re-split ONE overfull cell into ``n_splits`` sub-cells
    by local k-means over that cell's members, at FROZEN siblings — the
    incremental alternative to a full :func:`ivf_build` when drift is
    concentrated (a skewed daily drop piling into the cell nearest the
    new distribution).

    Cost is cell-local, not corpus-scale: the member read prunes to the
    hot cell's partition files (every ``_drop``), training and
    re-assignment see only those rows, and no other cell's files are
    touched. A member of the hot cell was by definition nearest THIS
    centroid, so reassigning it among the cell's own splits leaves every
    sibling assignment untouched — the approximation vs a full rebuild
    at the same centroid count is only that boundary vectors of sibling
    cells don't migrate; the recall parity is pinned in tests
    (recall@10 within 0.02 of a full rebuild at equal probe budget).

    Commit order makes a crash at ANY point rerun-safe (ADVICE r11 —
    the previous delete-before-swap order had a window where the hot
    cell's vectors were unreachable and the rerun errored): (1) the
    re-assigned members land under their own ``_drop=recluster-<cell>``
    subdir (overwrite — same replay layout as :func:`ivf_append`),
    (2) the centroids table swaps the old centroid for the
    sub-centroids — THIS is the commit point: before it the old index
    serves unchanged (probes never visit the unreferenced new ids) and
    a rerun simply redoes (1); after it the sub-cells serve and the old
    cell's rows are orphans no probe ever reads (:func:`ivf_search`
    probes only cells present in the centroids table), (3) the orphaned
    old-cell files are deleted from every drop — pure space reclaim,
    retryable. A rerun after the commit point detects the swapped
    centroids plus the surviving ``_drop=recluster-<cell>`` dir,
    resumes the delete, and returns the already-committed sub-cell ids
    instead of raising. Returns the new cell ids."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    old = [
        (r["_cell"], list(r["_centroid"]))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    orphan_glob = jvm.org.apache.hadoop.fs.Path(
        f"{path}/assigned/_drop=*/_cell={int(cell)}"
    )
    fs = orphan_glob.getFileSystem(hconf)

    def _reap_old_cell_files():
        # idempotent: every _drop's _cell=<cell> subdir except the
        # recluster drop itself (those rows live under NEW cell ids, so
        # the glob never matches them — the exclusion is belt-and-braces
        # against a caller-named drop that embeds the literal pattern)
        for st in fs.globStatus(orphan_glob) or []:
            if f"_drop=recluster-{int(cell)}/" not in st.getPath().toString():
                fs.delete(st.getPath(), True)

    if cell not in {c for c, _ in old}:
        # the swap already committed: a crash between the centroid swap
        # and the delete leaves orphaned old-cell files that no probe
        # reads — resume the delete and report the committed sub-cells
        # (the recluster drop's _cell= partition dirs ARE their ids)
        drop_path = jvm.org.apache.hadoop.fs.Path(
            f"{path}/assigned/_drop=recluster-{int(cell)}"
        )
        if fs.exists(drop_path):
            committed = sorted(
                int(st.getPath().getName().split("=", 1)[1])
                for st in fs.listStatus(drop_path)
                if st.getPath().getName().startswith("_cell=")
            )
            if committed:
                _reap_old_cell_files()
                return committed
        raise ValueError(
            f"cell {cell} not in the centroids table (already reclustered?)"
        )
    assigned = spark.read.parquet(f"{path}/assigned")
    if "_drop" not in assigned.columns:
        # a hand-built assigned table without the (_drop, _cell) layout
        # would end up with MIXED partition depths after the recluster
        # write — unreadable, and the damage lands before any error
        raise ValueError(
            "assigned table lacks the _drop partition layout; "
            "ivf_recluster_cell supports ivf_build/ivf_append indexes"
        )
    members = assigned.where(F.col("_cell") == F.lit(int(cell))).select(
        corpus_id, corpus_vec
    )
    n_members = members.count()
    if n_members < n_splits:
        raise ValueError(
            f"cell {cell} has {n_members} members < n_splits={n_splits}"
        )
    model = KMeans(
        k=n_splits, seed=seed, maxIter=max_iter, featuresCol="features"
    ).fit(
        members.select(
            array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features")
        )
    )
    base = max(c for c, _ in old) + 1
    new_cents = [
        (base + i, [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    assign_cells(members, new_cents, corpus_id, corpus_vec).write.mode(
        "overwrite"
    ).partitionBy("_cell").parquet(f"{path}/assigned/_drop=recluster-{int(cell)}")
    # COMMIT: swap the centroid table (old id out, sub-centroids in) —
    # from here probes serve the sub-cells and the old cell's rows are
    # unreachable orphans, so the delete below is pure reclaim
    spark.createDataFrame(
        [(c, v) for c, v in old if c != cell] + new_cents,
        "_cell int, _centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # reclaim the orphaned old-cell files across every drop (retryable;
    # a crash here is finished by the resume path above)
    _reap_old_cell_files()
    return [c for c, _ in new_cents]


def pq_encode(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    carry: tuple[str, ...] = (),
):
    """Product-quantization codebooks + corpus codes.

    Splits the D-dim embedding into ``n_subspaces`` contiguous subvectors
    and trains an independent k-means codebook (``n_codes`` centroids) per
    subspace on a sample; every corpus vector is then encoded as
    ``n_subspaces`` small ints — the classic PQ compression (Jégou et al.,
    TPAMI'11): D×4 bytes → M×1 byte at M=8, K≤256.

    Returns ``(codes_df, codebooks)``: codes_df is
    (corpus_id, corpus_vec, *carry, code_0..code_{M-1}) — one narrow JVM map
    pass per subspace (model.transform, no shuffle); codebooks is
    ``[(m, c, centroid: list[float])]`` for the ADC distance tables.
    ``carry`` names extra columns to thread through unchanged (e.g. the IVF
    cell id in the fused index).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim_row = corpus.select(F.size(corpus_vec).alias("d")).first()
    if dim_row["d"] % n_subspaces != 0:
        raise ValueError(
            f"PQ requires dim % n_subspaces == 0 (got dim={dim_row['d']}, "
            f"n_subspaces={n_subspaces}); trailing dims would be silently "
            "dropped and query-side ADC slices would misalign."
        )
    sub_d = dim_row["d"] // n_subspaces
    train = corpus if train_fraction >= 1.0 else corpus.sample(train_fraction, seed)
    train = train.select(F.col(corpus_vec).cast("array<double>").alias("_v"))
    train.persist()
    train.count()  # materialize once before the concurrent fits

    def fit(m: int):
        sub = F.slice(F.col("_v"), m * sub_d + 1, sub_d)
        # random init: kmeans|| runs ~5 extra passes per fit, and with M
        # codebooks of small k the refinement iterations recover the same
        # quality — measured no recall change, big wall-time cut
        return KMeans(
            k=n_codes, seed=seed + m, maxIter=max_iter,
            initMode="random", featuresCol="features",
        ).fit(train.select(array_to_vector(sub).alias("features")))

    # the M codebook fits are independent Spark jobs — submit them from
    # driver threads so they share the cluster instead of queueing (cuts
    # wall time ~Mx when executors outnumber one fit's parallelism)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(n_subspaces, 8)) as pool:
        models = list(pool.map(fit, range(n_subspaces)))
    train.unpersist()

    encoded = corpus.select(F.col(corpus_id), F.col(corpus_vec), *carry)
    codebooks: list[tuple[int, int, list[float]]] = []
    for m, model in enumerate(models):
        codebooks += [
            (m, c, [float(x) for x in cent])
            for c, cent in enumerate(model.clusterCenters())
        ]
        feats = array_to_vector(
            F.slice(F.col(corpus_vec).cast("array<double>"), m * sub_d + 1, sub_d)
        )
        encoded = (
            model.transform(encoded.withColumn("features", feats))
            .withColumnRenamed("prediction", f"code_{m}")
            .drop("features")
        )
    return encoded, codebooks


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int = 10,
    refine: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """PQ approximate top-k with asymmetric distance computation + re-rank.

    ADC: per query, the distance to every codebook centroid is precomputed
    (an M×K table, query-side and tiny → broadcast); a corpus vector's
    approximate distance is the sum of M table lookups on its codes. The
    scan that serves the query therefore reads M small ints per vector —
    not the D-float embedding — which at 100 TB is the difference between
    scanning the compressed code table (~1/32 the bytes at D=64, M=8) and
    the raw vectors. The top ``k·refine`` ADC candidates per query are then
    re-ranked by exact cosine against only those vectors (a k·refine-sized
    join), recovering most of the recall PQ loses — the standard IVF-PQ
    serving shape.

    Relational ADC: corpus codes unpivot to (id, m, code) and join the
    broadcast (query, m, code, dist2) tables on (m, code); groupBy
    (query, id) sums the M partial distances — codegen'd hash join + partial
    agg, no Python, no per-row HOF over centroids.
    """
    encoded, codebooks = pq_encode(
        corpus, n_subspaces, n_codes, seed, train_fraction, max_iter,
        corpus_id, corpus_vec,
    )
    spark = corpus.sparkSession
    books = F.broadcast(
        spark.createDataFrame(codebooks, "_m int, _code int, _centroid array<double>")
    )
    # the corpus codebook's integer subvector width, NOT size(query_vec)/M
    # (a fractional per-slice width would misalign query ADC slices with the
    # corpus subspaces whenever dim % M != 0 — pq_encode asserts it's exact)
    sub_d = len(codebooks[0][2])
    # query-side ADC tables: ||q_m − centroid_{m,c}||² for all (m, c)
    tables = (
        queries.crossJoin(books)
        .select(
            F.col(query_id),
            F.col("_m"),
            F.col("_code"),
            F.aggregate(
                F.zip_with(
                    F.slice(
                        F.col(query_vec).cast("array<double>"),
                        (F.col("_m") * sub_d + 1).cast("int"),
                        sub_d,
                    ),
                    F.col("_centroid"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_dist2"),
        )
    )
    code_cols = [
        F.struct(F.lit(m).alias("_m"), F.col(f"code_{m}").alias("_code"))
        for m in range(n_subspaces)
    ]
    unpivoted = encoded.select(
        F.col(corpus_id), F.explode(F.array(*code_cols)).alias("_mc")
    ).select(corpus_id, F.col("_mc._m").alias("_m"), F.col("_mc._code").alias("_code"))
    approx = (
        unpivoted.join(F.broadcast(tables), ["_m", "_code"])
        .groupBy(query_id, corpus_id)
        .agg(F.sum("_dist2").alias("_adc_dist2"))
        .where(F.col(query_id) != F.col(corpus_id))
    )
    cand_w = Window.partitionBy(query_id).orderBy(F.col("_adc_dist2"), F.col(corpus_id))
    candidates = (
        approx.withColumn("_cand_rank", F.row_number().over(cand_w))
        .where(F.col("_cand_rank") <= k * refine)
        .select(query_id, corpus_id)
    )
    # exact re-rank over the k·refine survivors only
    scored = (
        candidates.join(corpus.select(corpus_id, corpus_vec), corpus_id)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int = 8,
    refine: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Fused IVF-PQ approximate top-k — the production ANN serving shape
    (Jégou et al., TPAMI'11 §V): a k-means coarse quantizer routes each
    vector to a cell, and per-subspace PQ codebooks quantize the RESIDUAL
    (x − cell centroid) instead of the raw vector. Residuals concentrate
    near zero, so the same K codes spend their resolution on a much smaller
    ball — finer distances than standalone PQ at identical code bytes —
    while the cell routing means a query's ADC scan touches only the
    ``nprobe``/``n_cells`` fraction of the code table standalone PQ reads
    in full.

    Plan shape: coarse train (sampled) + M residual codebook fits happen
    once; centroids and codebooks broadcast. The serving path is all
    codegen'd relational ops: the query fans out to ``nprobe`` cells, its
    per-cell residual builds an (nprobe × M × K)-row ADC table (broadcast),
    the code table inner-joins on (cell, m, code) — rows outside probed
    cells never match — and a groupBy sums the M partial distances. Top
    ``k·refine`` ADC candidates re-rank by exact cosine. With the code
    table written partitioned by cell, the join prunes at the file level
    and the scan reads nprobe cells × M bytes/vector.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    # ---- coarse quantizer (the ivf_topk shape)
    train = corpus if train_fraction >= 1.0 else corpus.sample(train_fraction, seed)
    featurized = train.select(
        array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features")
    )
    coarse = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features").fit(
        featurized
    )
    centroids = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(coarse.clusterCenters())],
            "_cell int, _centroid array<double>",
        )
    )
    assigned = coarse.transform(
        corpus.select(
            F.col(corpus_id),
            F.col(corpus_vec),
            array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features"),
        )
    ).select(F.col(corpus_id), F.col(corpus_vec), F.col("prediction").alias("_cell"))

    # ---- residual encoding: codebooks train on x − centroid(cell)
    residuals = assigned.join(centroids, "_cell").select(
        F.col(corpus_id),
        F.col("_cell"),
        F.zip_with(
            F.col(corpus_vec).cast("array<double>"),
            F.col("_centroid"),
            lambda x, y: x - y,
        ).alias("_res"),
    )
    encoded, codebooks = pq_encode(
        residuals, n_subspaces, n_codes, seed, train_fraction, max_iter,
        corpus_id=corpus_id, corpus_vec="_res", carry=("_cell",),
    )
    books = F.broadcast(
        spark.createDataFrame(codebooks, "_m int, _code int, _pqcent array<double>")
    )
    sub_d = len(codebooks[0][2])

    # ---- query side: nprobe nearest cells, residual per probed cell
    probe_w = Window.partitionBy(query_id).orderBy(F.col("_dist2"), F.col("_cell"))
    probes = (
        queries.crossJoin(centroids)
        .select(
            F.col(query_id),
            F.col(query_vec),
            F.col("_cell"),
            F.col("_centroid"),
            F.aggregate(
                F.zip_with(
                    F.col(query_vec),
                    F.col("_centroid"),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_dist2"),
        )
        .withColumn("_probe_rank", F.row_number().over(probe_w))
        .where(F.col("_probe_rank") <= nprobe)
        .select(
            F.col(query_id),
            F.col("_cell"),
            F.zip_with(
                F.col(query_vec).cast("array<double>"),
                F.col("_centroid"),
                lambda x, y: x - y,
            ).alias("_qres"),
        )
    )
    # ---- ADC tables per (query, probed cell, m, code)
    tables = probes.crossJoin(books).select(
        F.col(query_id),
        F.col("_cell"),
        F.col("_m"),
        F.col("_code"),
        F.aggregate(
            F.zip_with(
                F.slice(F.col("_qres"), (F.col("_m") * sub_d + 1).cast("int"), sub_d),
                F.col("_pqcent"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("_dist2"),
    )
    code_cols = [
        F.struct(F.lit(m).alias("_m"), F.col(f"code_{m}").alias("_code"))
        for m in range(n_subspaces)
    ]
    unpivoted = encoded.select(
        F.col(corpus_id), F.col("_cell"), F.explode(F.array(*code_cols)).alias("_mc")
    ).select(
        corpus_id, "_cell", F.col("_mc._m").alias("_m"), F.col("_mc._code").alias("_code")
    )
    approx = (
        unpivoted.join(F.broadcast(tables), ["_cell", "_m", "_code"])
        .groupBy(query_id, corpus_id)
        .agg(F.sum("_dist2").alias("_adc_dist2"))
        .where(F.col(query_id) != F.col(corpus_id))
    )
    cand_w = Window.partitionBy(query_id).orderBy(F.col("_adc_dist2"), F.col(corpus_id))
    candidates = (
        approx.withColumn("_cand_rank", F.row_number().over(cand_w))
        .where(F.col("_cand_rank") <= k * refine)
        .select(query_id, corpus_id)
    )
    scored = (
        candidates.join(corpus.select(corpus_id, corpus_vec), corpus_id)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def verify_cosine_pairs(
    cands: DataFrame,
    corpus: DataFrame,
    threshold: float | None = 0.95,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact-cosine VERIFY stage over an arbitrary ``(id_a, id_b)`` candidate
    set → ``(id_a, id_b, cos_sim)``, thresholded unless ``threshold`` is None.

    Split out of :func:`embedding_near_dups` (which runs it on LSH-bucket
    candidates) so the verify math is exercisable on a DETERMINISTIC pair
    set with an ANSI-SQL oracle — the same candidates/verify trust split
    the MinHash family got with ``dedup.verify_pairs``. Candidates carry
    only id pairs; vectors attach by two id-keyed joins, so a skewed
    candidate generator never replicates vector payloads through its own
    self-join. The dot product is the shared ``zip_with``+``aggregate``
    fold — sequential in both engines, hence bit-equal against DuckDB's
    ``list_sum(list_transform(...))``.

    Norms are computed ONCE PER VECTOR before the pair join (higher-order
    folds don't codegen, so a per-pair ``cosine()`` pays 3 interpreted
    folds where 1 suffices — at 10⁸ candidate pairs the redundant norm
    folds dominated the sf1 verify stage). ``sqrt(Σa²)·sqrt(Σb²)`` from
    the pre-joined scalars is the identical double arithmetic, so oracle
    hashes are unchanged."""
    emb = corpus.select(
        F.col(corpus_id),
        F.col(corpus_vec),
        l2_norm(F.col(corpus_vec)).alias("_n"),
    )
    denom = F.col("_na") * F.col("_nb")
    scored = (
        cands.select("id_a", "id_b")
        .join(
            emb.select(
                F.col(corpus_id).alias("id_a"),
                F.col(corpus_vec).alias("_va"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            emb.select(
                F.col(corpus_id).alias("id_b"),
                F.col(corpus_vec).alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.when(denom == 0, F.lit(0.0))
            .otherwise(dot(F.col("_va"), F.col("_vb")) / denom)
            .alias("cos_sim"),
        )
    )
    if threshold is None:
        return scored
    return scored.where(F.col("cos_sim") >= threshold)


def group_cosine_pairs(
    grouped: DataFrame,
    group_cols: list[str],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 1024,
) -> DataFrame:
    """All-pairs cosine ≥ threshold WITHIN each group, scored by per-group
    blocked matrix multiply (Arrow/numpy) instead of a per-pair SQL fold.

    The relational formulation (self-join on the group key with the
    cosine in the predicate) evaluates an INTERPRETED higher-order fold
    per candidate pair (~40 µs each with boxing/GC — higher-order
    functions don't codegen); at 10⁸ within-group pairs that is hours.
    One normalized BLAS matmul per group scores the same pairs at
    ~10⁹ multiply-adds/sec/core: the sf1 measurement behind this is
    EMB-NEARDUP's verify stage going from 2 straggler tasks grinding
    ZipWith folds to seconds of matmul.

    Shape: ``groupBy(group_cols).applyInPandas`` — one task per group,
    blocked at ``block_rows`` rows so memory stays
    O(block × |group|) however large a group gets; emits each unordered
    pair once (``id_a < id_b``, independent of row order). Zero-norm
    vectors score 0 against everything (the ``when(denom == 0, 0.0)``
    rule of the SQL path). Float64 BLAS summation differs from the
    sequential fold only in last-ULP rounding — this path is for the
    rows-only candidate/verify operators, not the bit-pinned oracle
    surfaces (those keep :func:`verify_cosine_pairs`).
    """
    import pandas as pd

    # the output id columns inherit the INPUT id type — a hardcoded
    # `long` would silently truncate (or crash) non-int64 callers of
    # this generic corpus_id API (shared with verify_cosine_pairs)
    id_type = grouped.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"group_cosine_pairs requires an integral {id_col!r} column; "
            f"got {id_type} (string/decimal ids would round-trip through "
            "float64 in the numpy stage and corrupt)"
        )

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        ids = pdf[id_col].to_numpy()
        u = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.sqrt((u * u).sum(axis=1))
        norms[norms == 0] = np.inf  # zero vector -> cos 0 vs everything
        v = u / norms[:, None]
        out_a: list = []
        out_b: list = []
        out_c: list = []
        for s in range(0, n, block_rows):
            block = v[s : s + block_rows]
            sims = block @ v.T
            mask = (sims >= threshold) & (ids[None, :] > ids[s : s + block_rows, None])
            bi, bj = np.nonzero(mask)
            out_a.append(ids[s + bi])
            out_b.append(ids[bj])
            out_c.append(sims[bi, bj])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a).astype("int64"),
             "id_b": np.concatenate(out_b).astype("int64"),
             "cos_sim": np.concatenate(out_c)}
        )

    return grouped.groupBy(*group_cols).applyInPandas(
        score, f"id_a {id_type}, id_b {id_type}, cos_sim double"
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 10,
    seed: int = 42,
    n_bands: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    engine: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via BANDED hyperplane LSH
    self-join + exact verify (:func:`verify_cosine_pairs` on the
    bucket-local candidate pairs).

    ``n_bands`` independent sets of ``n_planes`` hyperplanes; a pair is a
    candidate if it shares a bucket in ANY band (the MinHash-LSH banding
    scheme applied to sign-bit sketches). For per-plane collision
    probability ``p = 1 − θ/π`` a true near-dup pair is recalled with
    ``1 − (1 − p^r)^b`` instead of single-band ``p^r`` — so GROWING r
    (which shrinks buckets 2× per plane and the per-bucket pair
    quadratic 4× per plane) can be paid for with bands instead of
    recall. The single-band default keeps the historical behavior
    (band 0 uses the same seed → identical buckets).

    Scale rule (the sf1 sweep's measured lesson): per-bucket pair count
    is Σ|bucket|²; with FIXED planes it grows quadratically with corpus
    size. Hold |bucket| ≈ n/2^r bounded by raising r with log2(n) and
    recover recall with b — e.g. r=12/b=6 at 200k vectors beats r=8/b=1
    on BOTH recall (0.86 vs 0.43 at cos 0.95) and verify work (~40×
    fewer candidate pairs). Candidates are distinct id pairs only;
    vectors attach by id join in the verify stage.

    ``engine='arrow'`` (default) scores each (band, bucket) group with
    :func:`group_cosine_pairs`' blocked matmul and de-dups cross-band
    repeats (bit-identical scores per pair, so ``distinct`` collapses
    them); ``engine='sql'`` keeps the pure-relational candidate join +
    :func:`verify_cosine_pairs` fold for environments where the Arrow
    tier is unwanted — same pair set, last-ULP score differences only.
    """
    bucket_cols = [
        lsh_bucket(
            F.col(corpus_vec), _hyperplanes(dim, n_planes, seed + 7919 * band)
        ).alias(f"_b{band}")
        # band 0 keeps the caller's seed so n_bands=1 reproduces the
        # historical single-band bucketing exactly
        if band else
        lsh_bucket(F.col(corpus_vec), _hyperplanes(dim, n_planes, seed)).alias("_b0")
        for band in range(n_bands)
    ]
    buckets = corpus.select(F.col(corpus_id), F.col(corpus_vec), *bucket_cols).select(
        F.col(corpus_id),
        F.col(corpus_vec),
        F.posexplode(F.array(*[F.col(f"_b{i}") for i in range(n_bands)])).alias(
            "_band", "_bucket"
        ),
    )
    if engine == "arrow":
        pairs = group_cosine_pairs(
            buckets, ["_band", "_bucket"], threshold,
            id_col=corpus_id, vec_col=corpus_vec,
        )
        # a pair sharing buckets in several bands re-scores in each; BLAS
        # kernel selection varies with group/block shape, so the floats can
        # differ in the last ULP — dedup on the ID KEY only (max is a
        # tie-break over near-identical values), never distinct() on floats
        if n_bands > 1:
            pairs = pairs.groupBy("id_a", "id_b").agg(
                F.max("cos_sim").alias("cos_sim")
            )
        return pairs
    a, c = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            c,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col(f"a.{corpus_id}") < F.col(f"b.{corpus_id}")),
        )
        .select(
            F.col(f"a.{corpus_id}").alias("id_a"),
            F.col(f"b.{corpus_id}").alias("id_b"),
        )
    )
    if n_bands > 1:
        # a pair sharing buckets in several bands must verify once
        cands = cands.distinct()
    return verify_cosine_pairs(
        cands, corpus, threshold, corpus_id=corpus_id, corpus_vec=corpus_vec
    )


def quantize_int8(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization → (id, scale, idx, code) rows.

    The storage/bandwidth half of a vector pipeline: per-vector
    ``scale = max(|x|)/127``; ``code = floor(x/scale + 0.5)`` ∈ [-127, 127];
    dequant is ``code·scale`` with error ≤ scale/2 per component (pinned in
    tests). 4× smaller than float32 on the wire and in the ANN index's
    inverted lists. All-zero vectors quantize to zeros (scale 0 guard —
    a bare division would throw under ANSI mode). Deterministic arithmetic,
    identical expression tree in the DuckDB oracle → bit-equal scales.
    """
    scale = (
        F.array_max(F.transform(F.col(corpus_vec), lambda x: F.abs(x.cast("double"))))
        / F.lit(127.0)
    ).alias("scale")
    exploded = corpus.select(
        F.col(corpus_id), scale, F.posexplode(F.col(corpus_vec)).alias("idx", "_val")
    )
    code = F.when(F.col("scale") == 0, F.lit(0)).otherwise(
        F.floor(F.col("_val").cast("double") / F.col("scale") + F.lit(0.5))
    )
    return exploded.select(
        corpus_id, "scale", "idx", code.cast("int").alias("code")
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    engine: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means cluster the
    embeddings, then exact-cosine-verify pairs WITHIN each cluster only
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication" — arXiv:2303.09540).

    The complement of :func:`embedding_near_dups`' LSH buckets: clustering
    groups by global semantic neighborhoods rather than random hyperplane
    sign patterns, which is the published recipe for pruning *semantically
    redundant* (not just near-identical) training data. Cross-cluster
    near-dups are missed by construction — the accepted trade that makes
    the cost ~Σ|cell|² instead of N².

    Scale shape: training samples ``train_fraction`` with capped
    iterations; assignment is a JVM map (model.transform, no shuffle); the
    self-join keys on the cell id, so each task sees one cluster's rows.
    At 100 TB, grow ``n_cells`` ∝ corpus size to hold |cell| roughly
    constant (the paper uses 50k clusters for LAION-scale); skewed hot
    cells split fine under AQE since the join is a plain equi-join.
    Returns (id_a < id_b, cos_sim ≥ threshold) pairs — compose with
    ``dedup.connected_components`` + ``prune_components`` to drop all but
    one representative per semantic group.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus if train_fraction >= 1.0 else corpus.sample(train_fraction, seed)
    featurized = train.select(
        array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features").fit(
        featurized
    )
    assigned = model.transform(
        corpus.select(
            F.col(corpus_id),
            F.col(corpus_vec),
            array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features"),
        )
    ).select(
        F.col(corpus_id),
        F.col(corpus_vec),
        # norm once per vector, not 2 folds per pair (see
        # verify_cosine_pairs — identical double arithmetic, 3x fewer
        # interpreted folds in the pair stage)
        l2_norm(F.col(corpus_vec)).alias("_n"),
        F.col("prediction").alias("_cell"),
    )

    if engine == "arrow":
        # one blocked matmul per cell (group_cosine_pairs) — the pair
        # stage goes from Σ|cell|² interpreted folds to BLAS
        return group_cosine_pairs(
            assigned, ["_cell"], threshold, id_col=corpus_id, vec_col=corpus_vec
        )
    a, b = assigned.alias("a"), assigned.alias("b")
    denom = F.col("a._n") * F.col("b._n")
    return (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col(f"a.{corpus_id}") < F.col(f"b.{corpus_id}")),
        )
        .select(
            F.col(f"a.{corpus_id}").alias("id_a"),
            F.col(f"b.{corpus_id}").alias("id_b"),
            F.when(denom == 0, F.lit(0.0))
            .otherwise(
                dot(F.col(f"a.{corpus_vec}"), F.col(f"b.{corpus_vec}")) / denom
            )
            .alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def emb_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_scale: int = 1_000_000,
) -> DataFrame:
    """Per-group embedding centroids → (group, idx, n_vecs, centroid) rows
    — the array-aggregation primitive behind SemDeDup cluster centers,
    per-domain mean embeddings, and drift monitoring.

    Plan shape at 100 TB: ``posexplode`` fans each vector into dim rows
    map-side (no shuffle), then ONE (group, idx) aggregation whose partial
    combine happens before the shuffle — the wire carries n_groups × dim
    partial sums, not the corpus.

    Determinism: float summation is order-dependent, so the mean is
    computed over ``floor(x · id_scale)`` BIGINT summands (exact,
    associative — same answer under any partial-aggregation order and in
    any engine) and divided back out once. Centroids are exact to
    1/id_scale — the repo's cents-BIGINT convention applied to vectors.
    """
    ex = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("idx", "_v"),
    )
    q = F.floor(F.col("_v").cast("double") * F.lit(float(id_scale))).cast("long")
    agg = ex.groupBy("grp", "idx").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(q).alias("_sq"),
    )
    centroid = F.col("_sq").cast("double") / (
        F.col("n_vecs").cast("double") * F.lit(float(id_scale))
    )
    return agg.select(
        F.col("grp").alias(group_col), "idx", "n_vecs", centroid.alias("centroid")
    )


def truncate_embeddings(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Matryoshka-style dimensionality truncation (Kusupati et al. 2022,
    arXiv:2205.13147): keep the first ``dim`` components and L2-
    renormalize — the storage/speed knob for MRL-trained embedding
    models (truncated prefixes remain usable because training nests the
    information). Pure per-row Column math, zero shuffle; an all-zero
    prefix stays all-zero instead of dividing by zero. Cosine over the
    output needs no further normalization (vectors are unit length)."""
    out = out_col or vec_col
    # Stage the norm as a plain column BEFORE the transform: HOF lambdas
    # evaluate interpreted with no CSE (the repo's documented lesson), so
    # an l2_norm fold referenced inside the lambda would re-run its
    # O(dim) aggregate per ELEMENT — O(dim^2) per row at real embedding
    # dims. The staged alias is referenced twice in the lambda (guard +
    # divide), which keeps CollapseProject from inlining the non-cheap
    # fold back into the lambda body (single-use aliases are inlined
    # regardless of cost); plan-asserted in tests/test_similarity.py.
    tmp_p, tmp_n = "__mrl_prefix", "__mrl_nrm"
    staged = df.withColumn(tmp_p, F.slice(F.col(vec_col), 1, dim)).withColumn(
        tmp_n, l2_norm(F.col(tmp_p))
    )
    normed = F.transform(
        F.col(tmp_p),
        lambda x: F.when(F.col(tmp_n) == 0, F.lit(0.0)).otherwise(
            x.cast("double") / F.col(tmp_n)
        ),
    )
    return staged.withColumn(out, normed).drop(tmp_p, tmp_n)


def binary_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "bq",
) -> DataFrame:
    """1-bit binary quantization: sign bits of the vector packed into
    ``array<long>`` words (32 dims per word, low bits first — the
    Bloom-filter word convention, non-negative on any engine). 32×
    smaller than float32 and Hamming distance becomes XOR + popcount —
    the cheapest ANN tier; re-rank survivors with exact cosine. Pure
    per-row math, zero shuffle, no seeds (the sign function IS the
    quantizer), so any engine reproduces the codes bit-for-bit. An empty
    vector codes to an empty word array (guarded: an unclamped
    ``sequence(0, n_words-1)`` would yield the DESCENDING ``[0, -1]``
    for n_words=0 and emit two spurious zero words whose length mismatch
    silently corrupts zip_with Hamming distances downstream)."""
    vec = F.col(vec_col)
    n_words = F.ceil(F.size(vec) / F.lit(32)).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), F.greatest(n_words, F.lit(1)) - 1),
        lambda w: F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0).cast("long"),
            lambda acc, b: F.when(
                (w * 32 + b < F.size(vec))
                & (F.element_at(vec, (w * 32 + b + 1).cast("int")) >= 0),
                acc + F.call_function(
                    "shiftleft", F.lit(1).cast("long"), b.cast("int")
                ),
            ).otherwise(acc),
        ),
    )
    return df.withColumn(
        out_col,
        F.when(F.size(vec) == 0, F.array().cast("array<long>")).otherwise(words),
    )


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_bq: str = "bq",
    query_id: str = "query_id",
    query_bq: str = "query_bq",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k by Hamming distance over binary-quantized codes →
    ``(query_id, vec_id, hamming, rank)``. Queries broadcast; distance
    is ``Σ bit_count(xor(word_a, word_b))`` — integer-exact, so ranks
    (distance-asc, id-asc ties) are engine-identical and the oracle
    hash-matches, unlike float-scored ANN tiers. Per-query top-k via
    window rank (the cosine_topk shape)."""
    q = F.broadcast(queries.select(F.col(query_id), F.col(query_bq)))
    dist = F.aggregate(
        F.zip_with(
            F.col(corpus_bq),
            F.col(query_bq),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = corpus.crossJoin(q).select(
        F.col(query_id), F.col(corpus_id), dist.alias("hamming")
    )
    if exclude_self:
        scored = scored.where(F.col(query_id) != F.col(corpus_id))
    w = Window.partitionBy(query_id).orderBy(F.asc("hamming"), F.asc(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def bq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """The BQ SERVING tier: 1-bit Hamming shortlist (``k·refine`` per
    query via :func:`hamming_topk`) + exact cosine re-rank of the
    shortlist → ``(query_id, vec_id, cos_sim, rank)``.

    :func:`hamming_topk` alone is the integer-exact primitive (and the
    full-oracle surface), but 64 sign bits order a random float corpus
    only loosely — recall@10 ≈ 0.2 vs cosine truth at bench scale. The
    re-rank recovers it (≥0.6 at refine=8 on the bench corpus) while
    keeping the scan shape: the Hamming stage reads ONLY packed longs
    (32× smaller than float32); full vectors are touched for k·refine
    rows per query, attached by id join after the shortlist. Fully
    deterministic given the corpus (sign quantizer + id tie-breaks), so
    the composition stays SQL-replayable — the oracle takes the same
    hamming-then-id-ordered shortlist and re-scores it."""
    bqc = binary_quantize(corpus, vec_col=corpus_vec, out_col="_bq").select(
        F.col(corpus_id), F.col("_bq")
    )
    bqq = binary_quantize(queries, vec_col=query_vec, out_col="_qbq").select(
        F.col(query_id), F.col("_qbq")
    )
    shortlist = hamming_topk(
        bqc, bqq, k=k * refine,
        corpus_id=corpus_id, corpus_bq="_bq",
        query_id=query_id, query_bq="_qbq",
    ).select(query_id, corpus_id)
    scored = (
        shortlist.join(corpus.select(corpus_id, corpus_vec), corpus_id)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def ivfbq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    shortlist: int = 40,
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Fused IVF + binary quantization: k-means cells prune WHICH rows
    are read (~nprobe/n_cells of the corpus), 1-bit Hamming distance
    prunes WHICH of those pay a float dot product (a ``shortlist`` per
    query via XOR+popcount over 32x-compressed codes), exact cosine
    re-ranks the shortlist — the memory-light modern serving recipe
    (IVF-PQ's sibling: where PQ approximates the SCORE with trained
    codebooks, BQ is codebook-free and only approximates the ORDER,
    fixed by the exact re-rank). Recall vs brute force is pinned in
    tests; the internals (k-means) keep this rows-only like the other
    trained ANN tiers.

    Scale shape: the cell join reads nprobe/n_cells of the code table;
    Hamming scoring touches only packed longs (the float vectors are
    attached AFTER the shortlist by an id-keyed join, so full vectors
    ride through neither the cell join nor the Hamming stage)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus if train_fraction >= 1.0 else corpus.sample(train_fraction, seed)
    featurized = train.select(
        array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features").fit(
        featurized
    )
    assigned = (
        model.transform(
            corpus.select(
                F.col(corpus_id),
                F.col(corpus_vec),
                array_to_vector(F.col(corpus_vec).cast("array<double>")).alias(
                    "features"
                ),
            )
        ).select(F.col(corpus_id), F.col(corpus_vec), F.col("prediction").alias("_cell"))
    )
    codes = binary_quantize(assigned, vec_col=corpus_vec, out_col="_bq").select(
        corpus_id, "_cell", "_bq"
    )
    centroids = corpus.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "_cell int, _centroid array<double>",
    )
    q_bq = binary_quantize(queries, vec_col=query_vec, out_col="_qbq")

    probe_w = Window.partitionBy(query_id).orderBy(F.col("_dist2"), F.col("_cell"))
    probes = (
        q_bq.crossJoin(F.broadcast(centroids))
        .select(
            F.col(query_id), F.col(query_vec), F.col("_qbq"), F.col("_cell"),
            F.aggregate(
                F.zip_with(
                    F.col(query_vec), F.col("_centroid"),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_dist2"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= nprobe)
        .select(query_id, query_vec, "_qbq", "_cell")
    )

    ham = F.aggregate(
        F.zip_with(
            F.col("_bq"), F.col("_qbq"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    short_w = Window.partitionBy(query_id).orderBy(F.asc("_ham"), F.asc(corpus_id))
    shortlisted = (
        codes.join(F.broadcast(probes.select(query_id, "_qbq", "_cell")), "_cell")
        .where(F.col(query_id) != F.col(corpus_id))
        .select(F.col(query_id), F.col(corpus_id), ham.alias("_ham"))
        .withColumn("_sr", F.row_number().over(short_w))
        .where(F.col("_sr") <= shortlist)
        .select(query_id, corpus_id)
    )

    rerank = (
        shortlisted.join(assigned.select(corpus_id, corpus_vec), corpus_id)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(
            F.col(query_id), F.col(corpus_id),
            cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return rerank.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
