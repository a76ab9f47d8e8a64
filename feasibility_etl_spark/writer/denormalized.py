"""Denormalizing writer — the trigger replacement (SURVEY.md §3.2, §7.3).

The reference lets clients INSERT denormalized rows into a view; an
``INSTEAD OF INSERT`` trigger inserts the missing dimension rows, then the
fact with FK ids looked up from the committed dims (schema.sql:141-173,
lookup-or-insert at :105-134). Spark has no triggers, so the decomposition
is two set-oriented helpers: :func:`dim_increments` (new natural keys get
surrogate ids) and :func:`resolve_fks` (broadcast joins turn role columns
into FKs; an anti-join on the fact key keeps re-runs exactly-once).
:func:`write_denormalized` composes them with no I/O.

:func:`commit_denormalized` is the one write path of the ``etl`` CLI and
the streaming sink. It follows the trigger's order, append-only: dim
increments first, then the fact, resolved against the re-read committed
dims, last. A dim row can exist before its fact rows, never the reverse, so
every intermediate state is FK-consistent and a re-run after a crash
completes the batch (committed keys give empty increments, loaded fact keys
are anti-joined away). Stored tables are read with schemas taken from the
wide frame, so no read runs a schema-inference job; only a missing path
counts as a first run, and a corrupt table fails the batch.

Single-writer semantics, as in the reference's one-script-run model.
Concurrent writers are detected, not prevented: :func:`audit_dim_collisions`
raises on the corruption interleaved dense-id writers produce (one id on two
natural keys, or one key under two ids). The "hash" strategy is race-free by
construction (stateless ids).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.joins import lookup_or_insert_parts
from ..quality.gates import validate_not_null


@dataclass(frozen=True)
class DimSpec:
    """One dimension's mapping from the wide (denormalized) surface.

    ``roles`` maps wide-frame columns to the FK columns they become — e.g.
    ``jira_user`` is role-played twice (schema.sql:68-79):
    ``{"reviewer_name": "fk_reviewer", "reporter_name": "fk_reporter"}``.
    """

    name: str
    natural_key: str  # dim-side natural-key column, e.g. "username"
    roles: dict[str, str] = field(default_factory=dict)  # wide col -> fk col
    id_col: str = "id"
    #: surrogate strategy, passed through to ``lookup_or_insert``: "dense"
    #: (SERIAL semantics, reference-faithful, default) or "hash" (stateless
    #: xxhash64 ids — no window sort, no max(id) scan; the right call for
    #: huge dims and high-frequency streaming micro-batches where SERIAL
    #: density buys nothing)
    id_strategy: str = "dense"


@dataclass
class DenormResult:
    fact: DataFrame
    dims: dict[str, DataFrame]
    rejected: DataFrame  # rows violating NOT NULL constraints (E-ISOLATE)


def dim_increments(
    ok: DataFrame, specs: list[DimSpec], dims: dict[str, DataFrame]
) -> dict[str, tuple[DataFrame, DataFrame]]:
    """Per dimension, ``(updated, additions)`` from
    :func:`lookup_or_insert_parts`: the natural keys of all its role
    columns, unioned, looked up in ``dims[spec.name]`` once."""
    parts = {}
    for spec in specs:
        incoming = reduce(
            DataFrame.unionByName,
            [ok.select(F.col(c).alias(spec.natural_key)) for c in spec.roles],
        )
        parts[spec.name] = lookup_or_insert_parts(
            dims[spec.name], incoming, spec.natural_key, spec.id_col,
            id_strategy=spec.id_strategy,
        )
    return parts


def resolve_fks(
    ok: DataFrame,
    specs: list[DimSpec],
    dims: dict[str, DataFrame],
    existing_fact: DataFrame | None = None,
    fact_key: str = "key",
) -> DataFrame:
    """The fact increment: each role column replaced by its FK into
    ``dims`` (broadcast joins; dims are small), minus the keys already in
    ``existing_fact`` (the reference gets that from per-row PK violations
    it swallows, helpers.js:100-104 + schema.sql:55)."""
    fact = ok
    for spec in specs:
        dim = dims[spec.name]
        for wide_col, fk_col in spec.roles.items():
            role_dim = dim.select(
                F.col(spec.natural_key).alias(wide_col), F.col(spec.id_col).alias(fk_col)
            )
            fact = fact.join(F.broadcast(role_dim), wide_col, "left").drop(wide_col)
    if existing_fact is not None:
        # no broadcast hint: existing-fact keys grow with the table, so a
        # forced broadcast would eventually OOM the driver at scale — AQE
        # demotes to broadcast on its own while the key set is small and
        # shuffles both sides on the key once it isn't
        fact = fact.join(existing_fact.select(fact_key), fact_key, "left_anti")
    return fact


def write_denormalized(
    wide: DataFrame,
    specs: list[DimSpec],
    dims: dict[str, DataFrame],
    existing_fact: DataFrame | None = None,
    fact_key: str = "key",
    required: list[str] | None = None,
    audit: bool = False,
) -> DenormResult:
    """Decompose a denormalized frame into fact + dims (pure — no I/O).

    Returns new dim frames (old ∪ new rows), the FK-resolved fact increment
    (new keys only when ``existing_fact`` is given), and constraint-violating
    rows, all as one lazily-built DAG. To persist a batch, use
    :func:`commit_denormalized`, which resolves FKs against the committed
    dims instead of this DAG's.

    ``audit=True`` makes the single-writer declaration detect-and-fail one
    argument away (VERDICT r10 item 7): each updated dim is eagerly run
    through :func:`audit_dim_collisions` before the result returns, so an
    interleaved writer's overlapping dense ids raise
    :class:`DimCollisionError` here instead of silently mis-keying the
    fact's FK joins. Cost: two dim-scale aggregates per dimension.
    """
    ok, rejected = validate_not_null(wide, required or [])
    parts = dim_increments(ok, specs, dims)
    if audit:
        for spec in specs:
            audit_dim_collisions(parts[spec.name][0], spec.natural_key, spec.id_col)
    updated = {name: u for name, (u, _) in parts.items()}
    return DenormResult(
        fact=resolve_fks(ok, specs, updated, existing_fact, fact_key),
        dims=updated,
        rejected=rejected,
    )


def _read_stored(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """The parquet table at ``path`` read with ``schema``, or an empty frame
    on a first run. Only PATH_NOT_FOUND is a first run: a corrupt table
    read as empty would restart dense ids at 1 under the stored fact."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        # limit(0) plans as an empty LocalRelation, which the optimizer
        # prunes from joins; a bare createDataFrame([]) is an RDD scan of
        # unknown size that a first run's anti-join would shuffle
        return spark.createDataFrame([], schema).limit(0)


def _stored_schemas(
    wide: DataFrame, specs: list[DimSpec], fact_key: str
) -> dict[str, T.StructType]:
    """Schema per table directory: the fact as its key column only, each
    dim as ``id long`` plus the natural key typed like its role column."""
    key_type = wide.schema[fact_key].dataType
    schemas = {"fact": T.StructType([T.StructField(fact_key, key_type)])}
    for spec in specs:
        nk_type = wide.schema[next(iter(spec.roles))].dataType
        schemas[spec.name] = T.StructType(
            [T.StructField(spec.id_col, T.LongType()), T.StructField(spec.natural_key, nk_type)]
        )
    return schemas


def commit_denormalized(
    wide: DataFrame,
    specs: list[DimSpec],
    root: str,
    fact_key: str = "key",
    required: list[str] | None = None,
    fact_partitions: int | None = None,
) -> int:
    """Append one batch of ``wide`` to the parquet star under ``root`` and
    return the number of rejected rows.

    Layout: ``root/<spec.name>`` per dim, ``root/fact``, and
    ``root/_rejected`` for rows with a null ``required`` column. Order:
    each dim's new-key increment (one file per batch), then the fact
    increment resolved against the re-read dims, then the rejects. Each
    append's input listing is pinned when its source is read, so writing
    beside the files being read is safe. ``fact_partitions`` repartitions
    the fact increment to bound its file count; None keeps its plan's.
    """
    spark = wide.sparkSession
    schemas = _stored_schemas(wide, specs, fact_key)

    def read(name: str) -> DataFrame:
        return _read_stored(spark, os.path.join(root, name), schemas[name])

    ok, rejected = validate_not_null(wide, required or [])
    stored = {spec.name: read(spec.name) for spec in specs}
    for name, (_, additions) in dim_increments(ok, specs, stored).items():
        # repartition(1), not coalesce(1): coalesce would fold the anti-join
        # and the id assignment into the single output task
        additions.repartition(1).write.mode("append").parquet(os.path.join(root, name))
    committed = {spec.name: read(spec.name) for spec in specs}
    fact = resolve_fks(ok, specs, committed, read("fact"), fact_key)
    if fact_partitions:
        fact = fact.repartition(fact_partitions)
    fact.write.mode("append").parquet(os.path.join(root, "fact"))
    n_rejected = rejected.count()
    if n_rejected:
        rejected.write.mode("append").parquet(os.path.join(root, "_rejected"))
    return n_rejected


def star_totals(
    wide: DataFrame, specs: list[DimSpec], root: str, fact_key: str = "key"
) -> dict[str, int]:
    """Stored rows per table (``fact`` and each dim) under ``root``, in
    one aggregate over their union."""
    spark = wide.sparkSession
    schemas = _stored_schemas(wide, specs, fact_key)
    tagged = reduce(
        DataFrame.unionByName,
        [
            _read_stored(spark, os.path.join(root, name), schema).select(
                F.lit(name).alias("table")
            )
            for name, schema in schemas.items()
        ],
    )
    counts = [F.count_if(F.col("table") == name).alias(name) for name in schemas]
    return tagged.agg(*counts).first().asDict()


class DimCollisionError(RuntimeError):
    """A dimension violates surrogate-key integrity — almost always two
    interleaved writers both ran lookup_or_insert from the same base dim
    (both saw the same max(id) and assigned overlapping dense ids)."""


def audit_dim_collisions(
    dim: DataFrame,
    natural_key: str,
    id_col: str = "id",
    sample: int = 5,
) -> None:
    """Post-append dimension integrity check — the detect-and-fail
    upgrade of the module's single-writer declaration.

    Raises :class:`DimCollisionError` when any surrogate id maps to more
    than one natural key, or any natural key holds more than one id —
    the two corruptions concurrent ``lookup_or_insert`` writers produce
    (PG's sequences make this impossible in the reference; Spark has no
    sequence, so the engine must CHECK instead). Cost: two dim-scale
    aggregates (dimensions are small by design — this never touches
    fact data); the error carries up to ``sample`` offending groups so
    the operator can see WHICH keys collided without re-querying."""
    id_dups = (
        dim.groupBy(id_col)
        .agg(
            F.countDistinct(natural_key).alias("_n"),
            F.collect_set(natural_key).alias("_keys"),
        )
        .where(F.col("_n") > 1)
    )
    key_dups = (
        dim.groupBy(natural_key)
        .agg(F.countDistinct(id_col).alias("_n"), F.collect_set(id_col).alias("_ids"))
        .where(F.col("_n") > 1)
    )
    bad_ids = id_dups.limit(sample).collect()
    bad_keys = key_dups.limit(sample).collect()
    if bad_ids or bad_keys:
        parts = []
        if bad_ids:
            parts.append(
                "ids mapping to multiple natural keys: "
                + "; ".join(f"{r[id_col]} -> {sorted(r['_keys'])}" for r in bad_ids)
            )
        if bad_keys:
            parts.append(
                "natural keys holding multiple ids: "
                + "; ".join(
                    f"{r[natural_key]!r} -> {sorted(r['_ids'])}" for r in bad_keys
                )
            )
        raise DimCollisionError(
            "dimension surrogate-key integrity violated (concurrent writers "
            "racing lookup_or_insert from the same base dim?): "
            + " | ".join(parts)
        )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet write (``path/col=value/...``).

    The storage-layout half of scan pruning: a reader filtering on a
    partition column touches only matching directories (PartitionFilters in
    the scan node — asserted in tests), so a date-ranged query over years of
    events reads days, not the table. Choose low-cardinality, always-
    filtered columns (date, source); high-cardinality partitioning makes a
    small-files problem instead.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Dynamic partition overwrite: replace ONLY the hive partitions
    present in ``df``, leaving every other partition untouched — the
    incremental-job primitive (rerun yesterday's load without nuking the
    table; plain ``mode("overwrite")`` + partitionBy deletes EVERYTHING
    first, the classic production incident). Implemented with a scoped
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` so the session
    default (static — the safe-by-noisy-failure setting for full
    rewrites) is restored afterwards. Idempotent under retry: a replayed
    job rewrites the same partitions to the same content."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set(key, prev)
