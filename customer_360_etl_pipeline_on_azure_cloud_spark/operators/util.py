"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def finalize(result: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Materialize a SMALL final result eagerly and release the persisted
    intermediates that produced it.

    The dedup/similarity operators persist corpus-scale intermediates
    (shingle tables, signature tables) because several consumers read
    them and because the persist is a plan-time optimizer barrier
    (CollapseProject would otherwise inline the expensive construction
    into every downstream lambda). Left alone, those caches accumulate
    across calls in a long-lived session and pin multiples of the
    working set in executor memory.

    ``localCheckpoint(eager=True)`` computes the result ONCE, stores only
    the (small, by construction: near-dup pairs, top-k lists) result
    blocks, and cuts the lineage so the intermediates can be unpersisted
    immediately — the returned DataFrame never re-reads them. Its blocks
    are freed by the ContextCleaner when the caller drops the DataFrame.

    Caveat for a real multi-executor cluster: local checkpoints don't
    survive executor loss. For a result too large or a job too long for
    that trade, set ``spark.sparkContext.setCheckpointDir`` and swap
    ``localCheckpoint`` for ``checkpoint`` — the lifetime contract here
    stays the same.
    """
    out = result.localCheckpoint(eager=True)
    for df in intermediates:
        df.unpersist()
    return out


def materialize(
    df: DataFrame, metric: Column, *drop: str
) -> tuple[DataFrame, int]:
    """One round's state for an iterative loop: ``df`` checkpointed
    eagerly, with ``metric`` (an aggregate over ``df``'s rows) observed
    by the checkpoint's own job, so the scalar that decides the next
    round costs no second job.  Columns named in ``drop`` feed only the
    metric and are left out of the checkpoint."""
    obs = Observation()
    cp = (
        df.observe(obs, metric.alias("m"))
        .drop(*drop)
        .localCheckpoint(eager=True)
    )
    return cp, obs.get["m"]


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a DataFrame up to cluster parallelism when its input
    has too few partitions.

    Small-file inputs (one parquet file under maxPartitionBytes) arrive
    as a SINGLE partition, which serializes every downstream CPU-bound
    narrow map onto one core — measured 30x slowdowns for the
    shingling/hashing operators. At 100 TB inputs are naturally
    many-partitioned and this is a no-op (the guard avoids gratuitous
    shuffles); the repartition only fires for pathological small inputs.

    The partition probe deliberately avoids ``df.rdd`` — that allocates
    a Python RDD bridge and a javaToPython conversion per call. Instead
    it reads the JVM QueryExecution's input RDD partition count (physical
    planning of this subtree is memoized on the DataFrame, and the probe
    moves no data); if that private surface is unavailable it falls back
    to counting input files, which lower-bounds the split count.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        current = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        current = len(df.inputFiles()) or target
    if current < target:
        return df.repartition(target)
    return df


def sf_tag(sf_dir: str) -> str:
    """Catalog-safe tag derived from the data directory, for naming
    persisted index tables (``{base}_{sf_tag(sf_dir)}``): the indexes'
    overwrite paths sweep their warehouse directories, so two sessions
    sharing a warehouse at DIFFERENT scale factors must not share index
    names (ADVICE r8). Same-name writers (same warehouse, same SF)
    remain single-writer, like every persisted index here."""
    import os
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
