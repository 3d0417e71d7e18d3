"""Stage barriers: run a stage once and re-root its plan on the result.

Every pipeline stage boundary (pages, metadata, toc, sections and the
operator-internal fan-out points) goes through ``materialize``.  In
production these boundaries are Iceberg stage tables (the write is the
materialization); in a single job the stand-in is an eager
``localCheckpoint``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, registry: list | None = None) -> DataFrame:
    """Run ``df`` now and return it re-rooted on the materialized rows.

    The result's plan is a single ``LogicalRDD`` leaf (``Scan
    ExistingRDD`` once planned) that reports ``df``'s output
    partitioning.  Downstream stages are therefore analysed and
    optimised against that leaf, not against the whole upstream
    lineage.  A ``persist()`` barrier keeps that lineage in every later
    plan, so the driver re-analyses it (and the cache manager re-matches
    it) at each DataFrame step; on small corpora that costs more than
    the jobs themselves.  Eager, because every stage fans out to
    several consumers inside single downstream jobs; a lazy barrier
    would recompute the lineage once per branch.

    ``df.unpersist()`` does not drop a local checkpoint's blocks.  Pass
    ``registry`` (a list) to receive a release callable that does; with
    no registry the blocks go when the ContextCleaner collects the
    DataFrame.

    Fault-tolerance trade-off: the blocks are local to the executor that
    computed them, so losing that executor fails the job instead of
    recomputing the stage.  Fine for one-shot and interactive runs; a
    long-lived production job should use a durable stage table instead
    (``functions.dedup.stage_table_materializer``, or
    ``df.checkpoint(eager=True)`` with a reliable checkpoint dir).
    """
    out = df.localCheckpoint(eager=True)
    if registry is not None:
        rdd = out._jdf.queryExecution().logical().rdd()
        registry.append(lambda: rdd.unpersist(True))
    return out
