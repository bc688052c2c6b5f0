"""Materialization policy and lifecycle for staged subplans.

The self-join pipeline queries materialize their expensive subtrees before
the final join (queries.SPARK_STAGES), and connected_components truncates
its lineage every round.  Both default to ``localCheckpoint`` — blocks live
on executor local storage, which is fast but LOST-EXECUTOR-FATAL on a real
cluster.

Setting ``spark.svb.stageCheckpointDir`` (a Spark conf, settable per
session) switches every such materialization to a reliable ``checkpoint()``
against that directory: on a production cluster point it at durable storage
(HDFS/S3) and a lost executor replays from the checkpoint instead of
killing the query.  Results are identical either way — only the storage of
the truncated plan differs.

``stage_generation`` (and its names-only form ``stage_views``) is the only
way a query stages a temp view: it builds, caches and replaces one
generation of views per (session, key), and ``release_stage`` tears one
down.  A generation also carries the values derived from its views (a
staged index's probe terms): they are computed once when the generation is
built, returned on every hit, and dropped with the views, so a rebuild
always re-derives them.
"""
from __future__ import annotations

import uuid
import weakref
from typing import Any, Callable, NamedTuple, Sequence

from pyspark.sql import DataFrame, SparkSession

STAGE_CHECKPOINT_CONF = "spark.svb.stageCheckpointDir"

# raw conf value LAST APPLIED per SparkContext: setCheckpointDir stores
# dir/<random-UUID> and getCheckpointDir() returns that qualified path, so
# comparing getCheckpointDir() against the raw conf never matches — the
# set-once guard must track what WE set.  Keyed WEAKLY by the context object
# itself (an id()-keyed dict can alias a restarted context allocated at the
# same address and skip the re-apply), and double-checked against
# getCheckpointDir() actually being set on the JVM side.
_applied_ckdir: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly truncate df's lineage to its computed rows.

    localCheckpoint by default; durable checkpoint() when
    STAGE_CHECKPOINT_CONF names a directory (applied to the SparkContext
    once per distinct conf value — every set would mkdir a fresh
    UUID-suffixed subdirectory per call and stomp a caller-set dir)."""
    spark = df.sparkSession
    ckdir = spark.conf.get(STAGE_CHECKPOINT_CONF, "")
    if ckdir:
        sc = spark.sparkContext
        if _applied_ckdir.get(sc) != ckdir or sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckdir)
            _applied_ckdir[sc] = ckdir
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Synchronously free a materialize()d stage's storage blocks.

    dropTempView alone does NOT release localCheckpoint blocks — they stay
    resident until the Python GC -> py4j finalizer -> JVM ContextCleaner
    chain reaps the internal RDD, which in practice lags whole invocations
    behind, so repeated in-session runs stack executor-memory pressure.  A
    checkpointed Dataset's analyzed plan is a LogicalRDD wrapping the
    persisted internal RDD; unpersisting THAT RDD drops the blocks
    immediately.  Best-effort: durable checkpoint() plans hold no storage
    blocks (files are reaped by the ContextCleaner) and non-LogicalRDD plans
    have nothing persisted — both no-op."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


# live materialized stage GENERATION per (session id, key).  A call whose
# fingerprint (sf_dir + the rendered stage SQL, or whatever else determines
# the stage contents) matches the live generation REUSES its checkpointed
# views instead of rebuilding, so repeated in-session runs neither re-scan
# their inputs nor stack checkpoint blocks (dropTempView does NOT unpersist,
# see release).  A fingerprint MISS rebuilds under fresh uuid-suffixed names
# and drops the old generation's views WITHOUT force-unpersisting them: a
# built-but-unrun consumer plan may still reference the old LogicalRDD,
# whose truncated lineage cannot recompute freed blocks — deferred GC
# release is the safe path, and fingerprint churn is bounded by the distinct
# (key, sf_dir) pairs a session touches.  Two DIFFERENT queries always use
# disjoint keys (the owner contract: building composite B must never
# invalidate built-but-unrun composite A).
class _StageGen(NamedTuple):
    fingerprint: tuple
    views: tuple[tuple[str, DataFrame], ...]   # (temp view name, checkpointed df)
    derived: Any                               # derive(*names), built with views

    @property
    def names(self) -> tuple[str, ...]:
        return tuple(v for v, _ in self.views)


_STAGE_VIEWS: dict[tuple[int, str], _StageGen] = {}


def stage_generation(spark: SparkSession, key: str, fingerprint: tuple,
                     stages: Sequence[tuple[str, Callable[..., DataFrame]]],
                     derive: Callable[..., Any] | None = None) -> _StageGen:
    """KEY's live stage generation, built on a miss.

    ``stages`` is ``((basename, build), ...)`` in dependency order; each
    ``build(*earlier_view_names)`` returns the DataFrame to materialize.
    A hit (same fingerprint, every view still resolves — a test or session
    may have dropped or replaced one externally) returns the live
    generation without building or deriving.  A miss materializes every
    stage as ``f"{basename}_{uuid8}"``, computes ``derive(*view_names)``
    once (the generation's ``derived`` value; None without ``derive``) and
    then drops the previous generation's views (block release stays
    deferred to GC — see _STAGE_VIEWS).  ``derive`` must depend only on
    the views, i.e. on the fingerprint."""
    gen = _STAGE_VIEWS.get((id(spark), key))
    if gen is not None and gen.fingerprint == fingerprint and all(
            spark.catalog.tableExists(v) for v in gen.names):
        return gen
    tag = uuid.uuid4().hex[:8]
    views: list[tuple[str, DataFrame]] = []
    for base, build in stages:
        name = f"{base}_{tag}"
        mdf = materialize(build(*(v for v, _ in views)))
        mdf.createOrReplaceTempView(name)
        views.append((name, mdf))
    names = tuple(v for v, _ in views)
    new = _StageGen(fingerprint, tuple(views),
                    derive(*names) if derive is not None else None)
    for old in gen.names if gen is not None else ():
        spark.catalog.dropTempView(old)
    _STAGE_VIEWS[(id(spark), key)] = new
    return new


def stage_views(spark: SparkSession, key: str, fingerprint: tuple,
                stages: Sequence[tuple[str, Callable[..., DataFrame]]]
                ) -> tuple[str, ...]:
    """Temp view names of KEY's live stage generation (stage_generation)."""
    return stage_generation(spark, key, fingerprint, stages).names


def release_stage(spark: SparkSession, key: str) -> None:
    """Tear down KEY's live stage generation: drop its temp views and its
    derived value, and SYNCHRONOUSLY unpersist the checkpoint blocks
    (release).  For harnesses
    that are DONE with a query, so one staged query's blocks cannot pressure
    the next query's measurement.  Never call it while a built-but-unrun
    plan may still reference the views (truncated lineage cannot recompute
    freed blocks); generation REUSE within one query's repeated runs is
    unaffected when release happens only after its final run."""
    gen = _STAGE_VIEWS.pop((id(spark), key), None)
    for v, df in gen.views if gen is not None else ():
        spark.catalog.dropTempView(v)
        release(df)
