"""Lineage pinning for iterative / multi-consumer plan builders.

Several operators (``ngram_jaccard_pairs``, ``simhash_pairs``,
``jaccard_prefix_join``, ``containment_prefix_join``, ``pagerank``,
``kmeans_fit``, ``bpe_fit``, ``heavy_hitters``, incremental near-dup
ingestion, …) materialize a small intermediate table ONCE so that
(a) multiple downstream consumers don't recompute it and (b) iterative
loops don't grow an unbounded expression lineage.

Two execution-semantics consequences callers must know about:

1. **Eager execution.** ``pin(df, eager=True)`` launches a Spark job at
   plan-BUILD time — the builder function is no longer lazy. Operators
   that do this say so in their docstrings. ``eager=False`` is only
   partly lazy under adaptive query execution (``session.get_spark``
   turns it on): building the checkpoint RDD finalizes the adaptive
   plan, so every shuffle-map stage of ``df`` runs at pin time and
   only the final stage waits for the first action, which stores the
   pinned rows. A lazy pin therefore moves jobs into the step that
   pins: ``SafedataPipeline.measure_utility`` launches most of its
   jobs itself (19 of the 22 it takes with its tables' first collect
   on the sf0.001 customer split), before any reader runs.

2. **Fault tolerance.** ``localCheckpoint`` stores blocks on executors
   and is NOT recomputable after executor loss — fine on local[.] and
   short-lived jobs, wrong for long-running 1000-executor deployments
   where losing one executor would kill the query. For those, set

       spark.conf.set("spark.safedata.reliableCheckpoint", "true")
       spark.sparkContext.setCheckpointDir("hdfs://.../checkpoints")

   and ``pin`` routes to reliable ``DataFrame.checkpoint`` (HDFS/object
   store backed, recomputable-free AND loss-tolerant) instead. The flag
   is memoized per session; call ``refresh_reliable_flag(spark)`` after
   flipping it mid-session.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame

RELIABLE_FLAG = "spark.safedata.reliableCheckpoint"

# flag memo: one py4j conf round-trip per SESSION, not per pin call —
# iterative operators pin every round, and a per-call RuntimeConfig.get
# measurably taxes the loop (~0.5s on the dedup_best chain at sf0.1).
_FLAG_CACHE: "WeakKeyDictionary" = WeakKeyDictionary()


def _reliable(df: DataFrame) -> bool:
    s = df.sparkSession
    hit = _FLAG_CACHE.get(s)
    if hit is None:
        hit = (s.conf.get(RELIABLE_FLAG, "false") or "false").lower() == "true"
        _FLAG_CACHE[s] = hit
    return hit


def refresh_reliable_flag(spark) -> bool:
    """Re-read ``spark.safedata.reliableCheckpoint`` for ``spark``.

    The flag is memoized per SparkSession (iterative operators pin
    every round and a per-call conf round-trip measurably taxes the
    loop), so flipping the conf mid-session is invisible to ``pin``
    until this is called. Call it right after ``spark.conf.set(...)``
    on a long-running session; returns the newly-effective value.
    """
    val = (spark.conf.get(RELIABLE_FLAG, "false") or "false").lower() == "true"
    _FLAG_CACHE[spark] = val
    return val


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage by materializing it (see module doc).
    ``eager=False`` still runs ``df``'s shuffle-map stages here under
    adaptive execution; only the final stage waits for the first action.

    Defaults to executor-local checkpointing (fast, auto-released on
    GC); set the ``spark.safedata.reliableCheckpoint`` session conf to
    ``true`` (with a checkpoint dir configured) for fault-tolerant
    reliable checkpoints on long-running clusters. The flag is read
    ONCE per SparkSession and memoized — set it BEFORE the first
    operator call, or call ``refresh_reliable_flag(spark)`` after
    flipping it mid-session (the memo otherwise keeps the stale
    value silently).
    """
    if _reliable(df):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def pin_eager(df: DataFrame) -> DataFrame:
    """``pin(df, eager=True)`` as a ``DataFrame.transform`` suffix."""
    return pin(df, eager=True)


def pin_lazy(df: DataFrame) -> DataFrame:
    """``pin(df, eager=False)`` as a ``DataFrame.transform`` suffix: the
    shuffle-map stages run now, the final stage at the first action."""
    return pin(df, eager=False)
