"""Cache-lifetime rule for operators that pin intermediate frames.

An operator pins a frame in one of two ways, and who releases it
follows from which:

* ``localCheckpoint()`` — the default pin, for frames read several
  times downstream (the MinHash signature table, the connected-
  components rounds, the corpus capstones' lineage cuts).  Spark owns
  the release: the checkpoint's RDD is referenced by the logical plan
  of every frame derived from it, and Spark's ContextCleaner
  (``spark.cleaner.referenceTracking``, on by default) unpersists it
  once no live plan on the JVM references it any more.  A frame derived
  by ``select``/``filter``/``join`` keeps the blocks alive after the
  operator's own result is dropped, so no Python hook may free them.
* ``persist()`` — only for pins that must keep their hash partitioning,
  e.g. the MinHash band frame that the bucket-size aggregate and both
  sides of the candidate self-join read without an exchange.  With AQE
  on, ``repartition(k).localCheckpoint()`` followed by ``groupBy(k)``
  plans a fresh Exchange; ``persist()`` keeps the partitioning.  Spark's
  CacheManager keys these caches by logical plan, not by object, so it
  never frees them on its own: :func:`release_on_gc` ties their
  unpersist to the returned lazy frame's lifetime.  If a derived frame
  outlives the result, the release costs a recompute, never a wrong
  answer — a persisted plan keeps its lineage.

Scoped ``persist()``/``unpersist()`` pairs that open and close inside
one call need neither mechanism.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

__all__ = ["release_on_gc"]


def release_on_gc(result: DataFrame, *pinned: DataFrame) -> DataFrame:
    """Unpersist every `pinned` frame when `result` is garbage-collected.

    The finalizer's closure holds `pinned`, so they live at least as
    long as `result` — wrappers that derive a new frame from an inner
    operator's result pass that result here to keep its own release
    from firing early.  Errors (e.g. the SparkSession already stopped
    at interpreter shutdown) are swallowed — the release is best-effort
    hygiene, never correctness.
    """

    def _cleanup(frames=pinned):
        for f in frames:
            try:
                # BLOCKING: a finalizer-time async unpersist races any
                # observer polling the pin count (tests, memory probes)
                # — blocking on the driver is sub-second in local mode
                # and removes the race class
                f.unpersist(True)
            except Exception:
                pass

    weakref.finalize(result, _cleanup)
    return result
