"""Continuous keyed-state local skylines via ``applyInPandasWithState``.

The closest structural analogue to the reference's
``SkylineLocalProcessor`` (`FlinkSkyline.java:214-316`): one state entry
per space partition holding that partition's running local skyline,
updated incrementally on every micro-batch, emitting the refreshed local
skyline downstream (output mode ``update``).

Where :mod:`.engine` materializes state as a parquet table (best for the
trigger/barrier workflow), this variant keeps it in Spark's managed
GroupState — checkpointed, per-key, exactly the reference's
``ListState<ServiceTuple>`` (FlinkSkyline.java:219-229).  The global
merge runs downstream in ``foreachBatch`` (a second stateful stage is
restricted in Structured Streaming): :func:`start_continuous_global`
carries the latest local skyline per partition across batches and emits
the per-batch GLOBAL skyline + the reference's result metrics record
(FlinkSkyline.java:610-650) — the complete two-phase continuous analogue.
"""

from __future__ import annotations

import os
import time
import traceback
from typing import Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
import numpy as np
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StructField, StructType, TimestampType)

from ..operators.kernels import merge_skylines, skyline_mask
from ..operators.partitioners import partitioner_expr

__all__ = ["continuous_local_skylines", "run_streaming_minhash_admission",
           "run_streaming_paragraph_admission",
           "run_streaming_ingest_pipeline", "run_streaming_c4_admission",
           "run_streaming_embedding_admission",
           "start_continuous_global",
           "streaming_exact_dedup", "streaming_interval_join",
           "streaming_session_skyline", "streaming_sliding_skyline",
           "streaming_windowed_count_min", "streaming_windowed_hll",
           "streaming_windowed_hll_grouped",
           "streaming_windowed_quantiles",
           "streaming_windowed_quantiles_grouped",
           "fixed_hist_quantiles_from_bins",
           "streaming_windowed_skyline",
           "streaming_windowed_count_min_sql", "streaming_windowed_hll_sql",
           "streaming_windowed_quantiles_sql"]


def streaming_windowed_hll(stream: DataFrame, key_col: str, *,
                           window_duration: str = "10 seconds",
                           watermark_delay: str = "5 seconds",
                           ts_col: str = "ts",
                           bucket_bits: int = 6) -> DataFrame:
    """Distinct-key cardinality per event-time window over an UNBOUNDED
    stream — "how many distinct users in each 10-second window" — as
    ONE native streaming aggregation, no Python state.

    The HLL registers (cf. :func:`~..operators.sketches.hll_distinct`)
    are laid out WIDE: 2^bucket_bits ``max(rho where bucket=j)``
    aggregate columns keyed on the window, so per-window state is
    exactly m small ints, merged by Spark's built-in max — mergeable,
    bounded, watermark-finalized (append mode: one emission per closed
    window).  The estimate uses the same exact-integer harmonic sum and
    linear-counting branch as the batch form, so a closed window's
    value EQUALS the batch ``hll_bucket_rho``+wide-max aggregation over
    exactly that window's rows (asserted in the executed streaming
    test).  The default m=64 keeps the aggregate width sane; per-window
    exact distinct at 100 TB would instead shuffle every distinct key.

    Output: ``win_start, win_end, n_buckets_hit, hll_estimate``.
    """
    from ..operators.sketches import hll_bucket_rho, hll_estimate_wide

    b = int(bucket_bits)
    if not 4 <= b <= 8:
        raise ValueError("bucket_bits must be in [4, 8] for the wide "
                         "streaming layout")
    m = 1 << b
    bucket, rho = hll_bucket_rho(F.col(key_col), b)
    agg = (
        stream.withWatermark(ts_col, watermark_delay)
        .select(F.window(ts_col, window_duration).alias("__win"),
                bucket.alias("__bucket"), rho.alias("__rho"))
        .groupBy("__win")
        .agg(*[F.max(F.when(F.col("__bucket") == j, F.col("__rho")))
               .alias(f"__r{j}") for j in range(m)])
    )
    n_hit, est = hll_estimate_wide(
        [F.col(f"__r{j}") for j in range(m)], b)
    return agg.select(
        F.col("__win.start").alias("win_start"),
        F.col("__win.end").alias("win_end"),
        n_hit.alias("n_buckets_hit"),
        est.alias("hll_estimate"),
    )


def streaming_windowed_hll_grouped(stream: DataFrame, key_col: str, *,
                                   window_duration: str = "10 seconds",
                                   watermark_delay: str = "5 seconds",
                                   ts_col: str = "ts",
                                   bucket_bits: int = 6) -> DataFrame:
    """The REGISTER-keyed form of :func:`streaming_windowed_hll`: one
    streaming aggregation keyed on (window, bucket) with a single
    ``max(rho)`` column — constant expression size in 2^bucket_bits,
    where the wide form's 2^b aggregate columns make plan compile and
    codegen scale with m (measured 4× the wall time at m=64 on a
    micro-batch replay; m>256 is impractical wide but fine here).
    Emits ``win_start, win_end, bucket, max_rho`` per CLOSED window —
    finish with :func:`~..operators.sketches.hll_estimate_regs` in
    batch (a second streaming aggregation is not expressible in append
    mode; the downstream batch finisher is).
    """
    from ..operators.sketches import hll_bucket_rho

    b = int(bucket_bits)
    if not 4 <= b <= 12:
        raise ValueError("bucket_bits must be in [4, 12]")
    bucket, rho = hll_bucket_rho(F.col(key_col), b)
    return (
        stream.where(F.col(key_col).isNotNull())
        .withWatermark(ts_col, watermark_delay)
        .select(F.window(ts_col, window_duration).alias("__win"),
                bucket.alias("bucket"), rho.alias("__rho"))
        .groupBy("__win", "bucket")
        .agg(F.max("__rho").alias("max_rho"))
        .select(F.col("__win.start").alias("win_start"),
                F.col("__win.end").alias("win_end"),
                "bucket", "max_rho")
    )


def streaming_windowed_count_min(stream: DataFrame, item_col: str,
                                 candidates: "Sequence[str]", *,
                                 window_duration: str = "10 seconds",
                                 watermark_delay: str = "5 seconds",
                                 ts_col: str = "ts", depth: int = 4,
                                 width: int = 256) -> DataFrame:
    """Per-event-time-window count-min heavy-hitter estimates for a
    fixed candidate set, over an UNBOUNDED stream — "how often did each
    watched item occur in each 10-second window" — as ONE native
    streaming aggregation, no Python state.

    The sketch is candidate-projected: a stream row contributes to
    candidate c's depth-r cell iff their row-r buckets collide, so the
    per-window state is depth·|candidates| long counters (the full
    depth×width sketch never materializes), merged by Spark's built-in
    sum — mergeable, bounded, watermark-finalized (append mode, one
    emission per closed window).  Identical md5 bucket arithmetic to
    the batch :func:`~..operators.sketches.count_min` /
    :func:`~..operators.sketches.count_min_estimate` pair, so a closed
    window's estimate EQUALS the batch build+probe over exactly that
    window's rows (asserted in the executed streaming test) and keeps
    the same guarantee: never an undercount.

    Output: ``win_start, win_end, item, cm_est`` (one row per window ×
    candidate).
    """
    import hashlib

    from ..operators.sketches import _cm_bucket

    if depth < 1 or width < 2:
        raise ValueError("need depth >= 1, width >= 2")
    cands = [str(c) for c in candidates]
    if not cands:
        raise ValueError("need at least one candidate item")
    aggs = []
    for ci, cand in enumerate(cands):
        for r in range(depth):
            target = int(hashlib.md5(
                f"{r}:{cand}".encode()).hexdigest()[:15], 16) % width
            aggs.append(
                F.sum(F.when(_cm_bucket(F.col(item_col), r, width)
                             == F.lit(target), 1).otherwise(0))
                .cast("long").alias(f"__c{ci}_{r}"))
    agg = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("__win"))
        .agg(*aggs)
    )

    def est(ci: int):
        cols = [F.col(f"__c{ci}_{r}") for r in range(depth)]
        return cols[0] if depth == 1 else F.least(*cols)

    structs = [F.struct(F.lit(cand).alias("item"),
                        est(ci).alias("cm_est"))
               for ci, cand in enumerate(cands)]
    return agg.select(
        F.col("__win.start").alias("win_start"),
        F.col("__win.end").alias("win_end"),
        F.explode(F.array(*structs)).alias("__e"),
    ).select("win_start", "win_end", "__e.item", "__e.cm_est")


def streaming_windowed_quantiles(stream: DataFrame, value_col: str, *,
                                 lo: float, hi: float, nbins: int = 32,
                                 quantiles: "Sequence[float]" = (0.5, 0.95),
                                 window_duration: str = "10 seconds",
                                 watermark_delay: str = "5 seconds",
                                 ts_col: str = "ts") -> DataFrame:
    """Per-event-time-window quantile estimates over an UNBOUNDED
    stream — "p50/p95 latency per 10-second window" — as ONE native
    streaming aggregation, no Python state, no sort.

    The batch :func:`~..operators.sketches.histogram_quantiles`
    measures min/max in a first pass; a stream cannot, so the domain
    ``[lo, hi)`` is DECLARED and out-of-range values clamp into the
    edge bins (estimate error for in-domain data ≤ (hi−lo)/nbins; a
    clamped outlier biases only its edge bin).  Per-window state is
    nbins long counters laid out wide, merged by built-in sum,
    watermark-finalized (append: one emission per closed window).  The
    estimate is the shared row-wise interpolation
    :func:`~..operators.sketches.fixed_hist_quantile_wide` — window
    functions are unavailable after a streaming aggregation, the
    CASE-cascade form is what makes the one-aggregation plan possible.
    A closed window's values EQUAL the identical wide-bin batch
    expression over exactly that window's rows (asserted in the
    executed test).

    Output: ``win_start, win_end, n, q_<pct>…`` (names as the batch
    form: q_50 for 0.5).
    """
    from ..operators.sketches import fixed_hist_bin, fixed_hist_quantile_wide

    if not float(lo) < float(hi):
        raise ValueError("need lo < hi")
    if not 2 <= int(nbins) <= 128:
        raise ValueError("nbins must be in [2, 128] for the wide layout")
    qs = [float(q) for q in quantiles]
    if not qs or any(not 0.0 < q < 1.0 for q in qs):
        raise ValueError("quantiles must be in (0, 1)")
    names = [f"q_{int(round(q * 100))}" for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"quantiles collide after percent rounding: {names}")
    b = fixed_hist_bin(F.col(value_col), lo, hi, nbins)
    agg = (
        stream.where(F.col(value_col).isNotNull()
                     & ~F.isnan(F.col(value_col).cast("double")))
        .withWatermark(ts_col, watermark_delay)
        .select(F.col(ts_col), b.alias("__bin"))
        .groupBy(F.window(ts_col, window_duration).alias("__win"))
        .agg(*[F.sum((F.col("__bin") == j).cast("long"))
               .alias(f"__b{j}") for j in range(int(nbins))])
    )
    cols = [F.col(f"__b{j}") for j in range(int(nbins))]
    n = None
    for c in cols:
        n = c if n is None else n + c
    outs = [F.col("__win.start").alias("win_start"),
            F.col("__win.end").alias("win_end"), n.alias("n")]
    for q, name in zip(qs, names):
        outs.append(fixed_hist_quantile_wide(cols, lo, hi, q)
                    .alias(name))
    return agg.select(*outs)


def streaming_windowed_quantiles_grouped(stream: DataFrame,
                                         value_col: str, *,
                                         lo: float, hi: float,
                                         nbins: int = 32,
                                         window_duration: str = "10 seconds",
                                         watermark_delay: str = "5 seconds",
                                         ts_col: str = "ts") -> DataFrame:
    """Bin-keyed form of :func:`streaming_windowed_quantiles`: one
    streaming aggregation keyed on (window, bin) with a single count
    column — constant expression size in nbins (the wide form's
    CASE-cascade interpolation is O(nbins²) expression nodes, re-
    planned per micro-batch).  Emits ``win_start, win_end, bin, cnt``
    per CLOSED window; finish with
    :func:`fixed_hist_quantiles_from_bins` in batch.  Zero-count bins
    are absent, which cannot change the interpolation (the first bin
    whose cumulative count reaches q·n always has cnt > 0).
    """
    from ..operators.sketches import fixed_hist_bin

    if not float(lo) < float(hi):
        raise ValueError("need lo < hi")
    if not 2 <= int(nbins) <= 4096:
        raise ValueError("nbins out of range")
    b = fixed_hist_bin(F.col(value_col), lo, hi, nbins)
    return (
        stream.where(F.col(value_col).isNotNull()
                     & ~F.isnan(F.col(value_col).cast("double")))
        .withWatermark(ts_col, watermark_delay)
        .select(F.col(ts_col),
                F.window(ts_col, window_duration).alias("__win"),
                b.alias("bin"))
        .groupBy("__win", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("__win.start").alias("win_start"),
                F.col("__win.end").alias("win_end"), "bin", "cnt")
    )


def fixed_hist_quantiles_from_bins(bins: DataFrame,
                                   group_cols: Sequence[str], *,
                                   lo: float, hi: float, nbins: int,
                                   quantiles: "Sequence[float]" = (0.5,
                                                                   0.95),
                                   bin_col: str = "bin",
                                   cnt_col: str = "cnt") -> DataFrame:
    """Batch finisher for the bin-keyed streaming histogram: per group,
    the same interpolation as ``fixed_hist_quantile_wide`` — at the
    first bin whose cumulative count reaches q·n,
    ``lo + w·(bin + (q·n − cum_before)/cnt)`` — with the identical
    double-operation order as the SQL twin, so values are
    bit-identical.  Output: ``group_cols…, n, q_<pct>…``.
    """
    from pyspark.sql.window import Window

    w = (float(hi) - float(lo)) / int(nbins)
    qs = [float(q) for q in quantiles]
    names = [f"q_{int(round(q * 100))}" for q in qs]
    gcols = list(group_cols)
    cum_w = (Window.partitionBy(*gcols).orderBy(bin_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    all_w = Window.partitionBy(*gcols)
    base = (bins
            .withColumn("__cum", F.sum(cnt_col).over(cum_w))
            .withColumn("__n", F.sum(cnt_col).over(all_w)))
    out = None
    for q, name in zip(qs, names):
        tgt = F.lit(q) * F.col("__n").cast("double")
        est = (F.lit(float(lo)) + F.lit(w)
               * (F.col(bin_col).cast("double")
                  + (tgt - (F.col("__cum") - F.col(cnt_col))
                     .cast("double"))
                  / F.col(cnt_col).cast("double")))
        rn = F.row_number().over(
            Window.partitionBy(*gcols).orderBy(bin_col))
        hit = (base.filter(F.col("__cum").cast("double") >= tgt)
               .withColumn("__rn", rn).filter(F.col("__rn") == 1)
               .select(*gcols, F.col("__n").alias("n"),
                       est.alias(name)))
        out = hit if out is None else out.join(
            hit.drop("n"), on=gcols)
    return out


def streaming_interval_join(left: DataFrame, right: DataFrame, *,
                            key: str, left_ts: str, right_ts: str,
                            band_seconds: int,
                            watermark_delay: str = "10 seconds"
                            ) -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events of the same `key` whose timestamp falls in
    ``[left_ts − band, left_ts]`` — click←impression attribution, the
    canonical two-stream enrichment.

    Rides Spark's NATIVE stream-stream join; the operator's whole job
    is stating the state-expiry contract correctly: BOTH sides carry a
    watermark and the join condition bounds `right_ts` relative to
    `left_ts` on both ends, which is exactly what lets Spark drop
    buffered rows once the watermark passes the band (unbounded state
    otherwise).  Append-mode output; matched pairs emit once both
    sides' watermarks clear them.
    """
    l, r = left.alias("l"), right.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}")
           - F.expr(f"INTERVAL {band_seconds} SECONDS"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    return (
        l.withWatermark(left_ts, watermark_delay)
        .join(r.withWatermark(right_ts, watermark_delay), cond, "inner")
    )


def streaming_exact_dedup(stream: DataFrame, keys: Sequence[str], *,
                          ts_col: str = "ts",
                          watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with BOUNDED state — the ingest-time twin
    of :func:`operators.dedup.exact_dedup` for a continuously-arriving
    corpus (e.g. dedup on content fingerprint while loading).

    ``dropDuplicatesWithinWatermark``: Spark keeps one state row per
    key and expires it once the watermark passes the key's event time
    plus the delay, so state is O(keys-per-horizon), not O(stream).
    The tradeoff is explicit: a key recurring later than
    `watermark_delay` after its first appearance counts as new.  First
    occurrence wins (the batch operator keeps min-id; at ingest there
    is no global order to prefer — arrival order IS the policy).
    """
    return (stream.withWatermark(ts_col, watermark_delay)
            .dropDuplicatesWithinWatermark(list(keys)))


def _committed_batch_loop(stream: DataFrame, work_dir: str, out_name: str,
                          step, *, store_name: "str | None" = None,
                          compact_every: int = 8) -> None:
    """Run `step` over every micro-batch of `stream` with exactly-once
    outputs: the one commit protocol of the streaming admission loops
    (``foreachBatch`` plus an idempotent sink, the epoch-commit design
    of Structured Streaming).

    ``step(batch, store, pin)`` gets the micro-batch, the standing
    store (None while it is empty) and ``pin``, which persists a frame
    until the batch ends.  It returns ``(out, delta)``: the batch's
    output and the rows it adds to the store (None without a store).
    Batch B writes ``{work_dir}/{out_name}/batch=B`` and, with a store,
    ``{work_dir}/{store_name}/batch=B``.

    Commit: the store delta is written first, the output second, and a
    ``_COMMITTED`` marker in the output dir last.  The marker is ours,
    not the directory (Spark creates an output dir when its write job
    STARTS, so a crash mid-write leaves a truncated dir) and not
    Hadoop's ``_SUCCESS`` (written only when
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs`` is on).  Spark
    replays an uncommitted micro-batch after a restart, and a run on a
    fresh checkpoint replays them all: a batch whose marker exists is
    skipped, one without it rewrites both dirs in ``overwrite`` mode.
    A crash anywhere before the marker therefore replays into an
    overwrite, never into a lost or doubled batch.

    Store view: the newest committed ``compact=B`` snapshot plus the
    batch stores after it whose output dir is committed.  A store
    without a committed output is the orphan of a crash between the two
    writes; reading it would match the replay against its own rows, so
    it is left out (the replay overwrites it).

    An empty batch commits like any other: the step runs on it, so its
    empty frames carry the schemas of a non-empty batch, the next batch
    reads the store with one schema, and the compaction cadence counts
    committed batches.

    Pins are unpersisted in a ``finally``, so a failed write releases
    them too.  :func:`_compact_store` runs after every batch, a skipped
    replay included, so the replay finishes a compaction or GC that a
    crash cut short.
    """
    out_dir = os.path.join(work_dir, out_name)
    store_dir = store_name and os.path.join(work_dir, store_name)

    def commit(batch_df: DataFrame, batch_id: int, pin) -> None:
        store = None
        if store_dir:
            snap, _, newer = _store_dirs(store_dir, out_dir)
            src = ([snap] if snap else []) + newer
            store = (batch_df.sparkSession.read.parquet(*src)
                     if src else None)
        out, delta = step(batch_df, store, pin)
        if store_dir:
            delta.write.mode("overwrite").parquet(
                os.path.join(store_dir, f"batch={batch_id}"))
        bdir = os.path.join(out_dir, f"batch={batch_id}")
        out.write.mode("overwrite").parquet(bdir)
        with open(os.path.join(bdir, "_COMMITTED"), "w"):
            pass

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not os.path.isfile(os.path.join(out_dir, f"batch={batch_id}",
                                           "_COMMITTED")):
            pins = []

            def pin(df: DataFrame) -> DataFrame:
                pins.append(df.persist())
                return pins[-1]

            try:
                commit(batch_df, batch_id, pin)
            except Exception as e:
                # pyspark keeps a failed batch's exception while the
                # query object lives; its frames' DataFrames would keep
                # the operators' own pins reachable, so drop them
                traceback.clear_frames(e.__traceback__)
                raise
            finally:
                for df in pins:
                    df.unpersist()
                pins.clear()
        if store_dir:
            _compact_store(batch_df.sparkSession, store_dir, out_dir,
                           compact_every)

    (stream.writeStream.foreachBatch(process)
     .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
     .trigger(availableNow=True).start().awaitTermination())


def _dir_id(path: str) -> int:
    """Numeric suffix of a ``name=<id>`` store directory."""
    return int(os.path.basename(path).split("=", 1)[1])


def _store_dirs(store_dir: str,
                out_dir: str) -> "tuple[str | None, int, list[str]]":
    """``(snap, snap_b, newer)``: the newest committed ``compact=B``
    snapshot and its B ((None, -1) when there is none), and the batch
    stores after it whose output dir is committed, oldest first."""
    import glob

    snaps = [d for d in glob.glob(os.path.join(store_dir, "compact=*"))
             if os.path.isfile(os.path.join(d, "_COMMITTED"))]
    snap = max(snaps, key=_dir_id, default=None)
    snap_b = _dir_id(snap) if snap else -1
    newer = sorted(
        (d for d in glob.glob(os.path.join(store_dir, "batch=*"))
         if _dir_id(d) > snap_b and os.path.isfile(os.path.join(
             out_dir, os.path.basename(d), "_COMMITTED"))),
        key=_dir_id)
    return snap, snap_b, newer


def _compact_store(spark, store_dir: str, out_dir: str,
                   compact_every: int) -> None:
    """Once `compact_every` committed batch stores follow the newest
    snapshot, fold them and that snapshot into ``compact=B`` (B = the
    newest store folded), then delete what it covers.  Without the
    fold every batch reads every store ever written, O(B²) cumulative
    I/O (ADVICE r7); without the GC disk and write volume grow
    O(B²/compact_every) (ADVICE r8).

    The fold is a plain union: batch deltas are disjoint (admitted ids
    differ across batches, and a span hash enters the store only when
    no committed store holds it).  The snapshot's ``_COMMITTED`` marker
    is written strictly after its parquet write, every reader ignores
    an uncommitted snapshot, and nothing is deleted before a committed
    snapshot covers it.  Each call first sweeps what the newest
    committed snapshot already covers, which finishes a GC that a crash
    cut short.  Orphan stores newer than the snapshot are not covered
    and stay (their replay overwrites them).
    """
    import glob
    import shutil

    snap, snap_b, newer = _store_dirs(store_dir, out_dir)
    if snap is not None:
        for d in glob.glob(os.path.join(store_dir, "compact=*")):
            if _dir_id(d) < snap_b:
                shutil.rmtree(d, ignore_errors=True)
        for d in glob.glob(os.path.join(store_dir, "batch=*")):
            if _dir_id(d) <= snap_b:
                shutil.rmtree(d, ignore_errors=True)
    if len(newer) < compact_every:
        return
    new_b = _dir_id(newer[-1])
    cdir = os.path.join(store_dir, f"compact={new_b}")
    spark.read.parquet(*([snap] if snap else []), *newer) \
        .write.mode("overwrite").parquet(cdir)
    with open(os.path.join(cdir, "_COMMITTED"), "w"):
        pass
    for d in glob.glob(os.path.join(store_dir, "compact=*")):
        if _dir_id(d) < new_b:
            shutil.rmtree(d, ignore_errors=True)
    for d in newer:
        shutil.rmtree(d, ignore_errors=True)


def run_streaming_minhash_admission(stream_docs: DataFrame,
                                    work_dir: str, *,
                                    id_col: str = "doc_id",
                                    text_col: str = "text",
                                    num_hashes: int = 64,
                                    bands: int = 16, shingle_k: int = 5,
                                    threshold: float = 0.5,
                                    compact_every: int = 8) -> None:
    """Streaming corpus ADMISSION: ingest documents continuously,
    admitting only those that are near-duplicates of NOTHING admitted
    before them — the end-to-end incremental-dedup loop (batch
    self-check → cross-check vs the standing signature store → admit →
    append the admitted docs' signatures to the store).

    Composition of the registered batch operators in the
    committed-batch loop (:func:`_committed_batch_loop`; the LSH
    pipeline needs actions — persist/count — a pure streaming plan
    cannot express): per micro-batch, `minhash_lsh_pairs` rejects
    within-batch near-dups (keep-first: the smaller id of each
    candidate pair survives, transitively via its rejection set), then
    `minhash_lsh_pairs_cross` checks the survivors against the
    PRECOMPUTED signature store (`minhash_signatures` of everything
    admitted so far — the standing corpus text is never re-shingled).

    State is the signature store: O(admitted · num_hashes) longs on
    disk, read per batch — at scale a bucketed table partitioned by
    band keys — folded into a ``sigs/compact=B`` snapshot every
    `compact_every` committed batches.  Results:
    ``{work_dir}/admitted`` (the admitted docs, ``batch=N``
    partitions) and ``{work_dir}/sigs``.
    """
    from ..operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_cross,
        minhash_signatures,
    )

    def step(batch_df: DataFrame, store, pin):
        batch = pin(batch_df.select(id_col, text_col))
        self_pairs = minhash_lsh_pairs(
            batch, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
            threshold=threshold)
        rejected = self_pairs.select(F.col("id_b").alias(id_col))
        admitted = pin(batch.join(rejected.distinct(), on=id_col,
                                  how="left_anti"))
        if store is not None:
            cross = minhash_lsh_pairs_cross(
                admitted, old_signatures=store, id_col=id_col,
                text_col=text_col, num_hashes=num_hashes, bands=bands,
                shingle_k=shingle_k, threshold=threshold)
            dupes = cross.select(F.col("new_id").alias(id_col)).distinct()
            admitted = pin(admitted.join(dupes, on=id_col,
                                         how="left_anti"))
        return admitted, minhash_signatures(
            admitted, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_k=shingle_k)

    _committed_batch_loop(stream_docs, work_dir, "admitted", step,
                          store_name="sigs", compact_every=compact_every)


def run_streaming_substring_admission(stream_docs: DataFrame,
                                      work_dir: str, *,
                                      id_col: str = "doc_id",
                                      text_col: str = "text",
                                      k: int = 8, min_span: int = 20,
                                      max_df: int = 50,
                                      compact_every: int = 8,
                                      unit: str = "token") -> None:
    """Streaming ExactSubstr ADMISSION — the long-verbatim-quote twin
    of :func:`run_streaming_minhash_admission` (round 12, completing
    the admission-loop family): a document is admitted only if it
    shares NO ≥ `min_span`-token verbatim run with anything admitted
    before it — neither an earlier document in its own batch
    (keep-first: the smaller id of each within-batch pair survives,
    transitively via the rejection set) nor the standing corpus.

    Per micro-batch of the committed-batch loop
    (:func:`_committed_batch_loop`):
    :func:`~..operators.dedup.substring_dedup_pairs` rejects
    within-batch pairs, then
    :func:`~..operators.dedup.substring_dedup_pairs_cross` checks the
    survivors against the standing POSITIONED-SHINGLE store
    (``_positioned_shingles`` of everything admitted so far — the
    standing corpus text is never re-tokenized; the cross operator's
    combined df cap spans batch + store exactly as in the batch
    twin, so the composed SQL oracle is exact).  The store folds into
    a ``shingles/compact=B`` snapshot every `compact_every` committed
    batches.

    State is O(admitted tokens) (id, pos, h) rows on disk — at scale a
    bucketed table hashed on `h`, the same layout the fingerprint join
    shuffles to anyway.  Results: ``{work_dir}/admitted`` and
    ``{work_dir}/shingles``.

    ``unit="char"`` admits at character granularity (round 13 — the
    whole ExactSubstr family shares :func:`_positioned_shingles`'
    unit switch; a store written at one unit must be read back at the
    same unit).
    """
    from ..operators.dedup import (
        _positioned_shingles,
        substring_dedup_pairs,
        substring_dedup_pairs_cross,
    )

    def step(batch_df: DataFrame, store, pin):
        batch = pin(batch_df.select(id_col, text_col))
        self_pairs = substring_dedup_pairs(
            batch, id_col=id_col, text_col=text_col, k=k,
            min_span=min_span, max_df=max_df, unit=unit)
        rejected = self_pairs.select(F.col("id_b").alias(id_col))
        admitted = pin(batch.join(rejected.distinct(), on=id_col,
                                  how="left_anti"))
        if store is not None:
            cross = substring_dedup_pairs_cross(
                admitted, old_shingles=store, id_col=id_col,
                text_col=text_col, k=k, min_span=min_span,
                max_df=max_df, unit=unit)
            dupes = cross.select(F.col("new_id").alias(id_col)).distinct()
            # persist WITHOUT an eager count (the r12 embedding-loop
            # trim): the shingle-store write is the first evaluator
            admitted = pin(admitted.join(dupes, on=id_col,
                                         how="left_anti"))
        return admitted, _positioned_shingles(admitted, id_col, text_col,
                                              int(k), unit=unit)

    _committed_batch_loop(stream_docs, work_dir, "admitted", step,
                          store_name="shingles",
                          compact_every=compact_every)


def run_streaming_embedding_admission(stream_vecs: DataFrame,
                                      work_dir: str, *,
                                      id_col: str = "vec_id",
                                      vec_col: str = "embedding",
                                      threshold: float = 0.9,
                                      n_planes: int = 32, bands: int = 8,
                                      seed: int = 42,
                                      max_bucket: int = 2000,
                                      compact_every: int = 8,
                                      dim: "int | None" = None) -> None:
    """Streaming EMBEDDING admission — SemDeDup at ingest (VERDICT r8
    #3): vectors stream in; a vector is admitted only if it is a
    near-duplicate (cosine ≥ `threshold`) of NOTHING admitted before it
    — neither an earlier vector in its own batch (keep-first: the
    smaller id of each within-batch pair survives, transitively via
    the rejection set) nor anything in the standing corpus.

    Mirrors :func:`run_streaming_minhash_admission` batch-for-batch
    with the embedding operators: within-batch self-check via
    :func:`~..operators.similarity.embedding_near_dup_lsh`, cross-check
    via :func:`~..operators.similarity.embedding_near_dup_lsh_cross`
    against the standing hyperplane-LSH signature store
    (:func:`~..operators.similarity.embedding_signatures` of everything
    admitted so far — admitted vectors are never re-projected), folded
    into a ``sigs/compact=B`` snapshot every `compact_every` committed
    batches.

    Results: ``{work_dir}/admitted`` (admitted vectors, ``batch=N``)
    and ``{work_dir}/sigs`` (their band signatures + vectors).
    """
    from ..operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_dup_lsh_cross,
        embedding_signatures,
    )

    # `dim` memo: without it embedding_signatures runs an eager
    # first() job PER BATCH just to measure the vector length (r10
    # trim — each saved job is ~0.3 s of scheduling at gate scale)
    dims = {"d": dim}

    def step(batch_df: DataFrame, store, pin):
        batch = pin(batch_df.select(id_col, vec_col))
        if dims["d"] is None and (row := batch.select(vec_col).first()):
            dims["d"] = len(row[0])
        # ONE signature pass per batch: the SAME frame feeds the
        # self-check, the cross-check (new_signatures), and — filtered
        # to the admitted ids — the store delta; batch vectors are
        # never re-projected.  An empty batch projects nothing, so any
        # dim gives it the store's schema.
        batch_sigs = pin(embedding_signatures(
            batch, dim=dims["d"] or 1, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, bands=bands, seed=seed))
        self_pairs = embedding_near_dup_lsh(
            batch, threshold, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, bands=bands, seed=seed,
            max_bucket=max_bucket, signatures=batch_sigs)
        rejected = self_pairs.select(F.col("id_b").alias(id_col))
        admitted = pin(batch.join(rejected.distinct(), on=id_col,
                                  how="left_anti"))
        if store is not None:
            new_sigs = batch_sigs.join(
                admitted.select(F.col(id_col).alias("id")), "id",
                "left_semi")
            cross = embedding_near_dup_lsh_cross(
                new_signatures=new_sigs, old_signatures=store,
                threshold=threshold, id_col=id_col, vec_col=vec_col,
                n_planes=n_planes, bands=bands, seed=seed,
                max_bucket=max_bucket)
            dupes = cross.select(F.col("new_id").alias(id_col)).distinct()
            # persist WITHOUT an eager count (r12 gate trim): the store
            # write is the first evaluator and populates this cache
            admitted = pin(admitted.join(dupes, on=id_col,
                                         how="left_anti"))
        return admitted, batch_sigs.join(
            admitted.select(F.col(id_col).alias("id")), "id", "left_semi")

    _committed_batch_loop(stream_vecs, work_dir, "admitted", step,
                          store_name="sigs", compact_every=compact_every)


def _schemas(dims: int) -> tuple[StructType, StructType]:
    fields = [StructField("pid", IntegerType()),
              StructField("id", LongType())] + [
        StructField(f"d{i}", DoubleType()) for i in range(dims)
    ]
    out = StructType(fields)
    # GroupState holds ONE row per key → column-major arrays: the running
    # local skyline as (ids[], values[][]) — the ListState<ServiceTuple>
    # analogue (FlinkSkyline.java:219-229) in Arrow-friendly form.
    state = StructType([
        StructField("ids", ArrayType(LongType())),
        StructField("vals", ArrayType(ArrayType(DoubleType()))),
    ])
    return out, state


def _update_fn(dims: int):
    cols = [f"d{i}" for i in range(dims)]

    def fn(key: Tuple[int], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            ids, vals = state.get  # type: ignore[misc]
            prev_ids = np.asarray(ids, dtype=np.int64)
            prev_vals = np.asarray([list(v) for v in vals], dtype=float) \
                .reshape(len(ids), dims)
        else:
            prev_ids = np.empty(0, dtype=np.int64)
            prev_vals = np.empty((0, dims), dtype=float)
        new_vals = batch[cols].to_numpy(float)
        cand_mask = skyline_mask(new_vals)
        cand_ids = batch["id"].to_numpy(np.int64)[cand_mask]
        cand_vals = new_vals[cand_mask]
        if len(prev_ids) == 0:
            sky_ids, sky_vals = cand_ids, cand_vals
        else:
            old_keep, new_keep = merge_skylines(prev_vals, cand_vals)
            sky_ids = np.concatenate([prev_ids[old_keep],
                                      cand_ids[new_keep]])
            sky_vals = np.concatenate([prev_vals[old_keep],
                                       cand_vals[new_keep]])
        # .tolist() everywhere: state rows go through the Python pickler,
        # which rejects numpy scalar types.
        state.update((sky_ids.tolist(), sky_vals.tolist()))
        out = pd.DataFrame({"pid": np.full(len(sky_ids), key[0]),
                            "id": sky_ids})
        for i, c in enumerate(cols):
            out[c] = sky_vals[:, i]
        yield out

    return fn


def continuous_local_skylines(stream: DataFrame, dims: int, *,
                              algo: str = "mr-dim", num_partitions: int = 8,
                              domain_max: float = 10000.0) -> DataFrame:
    """Streaming DataFrame of refreshed per-partition local skylines.

    `stream` must already carry ``id, d0..d{dims-1}`` (e.g. the output of
    :func:`wire.parse_service_tuples`).  Each update batch re-emits the
    full local skyline of every partition touched by the batch.
    """
    cols = [F.col(f"d{i}") for i in range(dims)]
    pid = partitioner_expr(algo, cols, num_partitions, domain_max)
    out_schema, state_schema = _schemas(dims)
    return (
        stream.withColumn("pid", pid.cast("int"))
        .groupBy("pid")
        .applyInPandasWithState(
            _update_fn(dims),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_windowed_skyline(stream: DataFrame, dims: int, *,
                               window_duration: str = "10 seconds",
                               watermark_delay: str = "5 seconds",
                               ts_col: str = "ts") -> DataFrame:
    """Event-time tumbling-window skyline over an UNBOUNDED stream —
    "the skyline of each window", finalized by watermark (SURVEY §7.7 /
    VERDICT r3 #7: the streaming twin of the batch
    ``windowed_skyline_events`` query).

    `stream` carries ``id, {ts_col} timestamp, d0..d{dims-1}``.  The
    plan is the idiomatic Structured-Streaming shape for a custom
    windowed aggregate with late data:

    * ``withWatermark(ts_col, watermark_delay)`` bounds lateness — rows
      later than the watermark are dropped upstream by Spark;
    * state is keyed on ``F.window(ts_col, window_duration)``, each key
      holding its window's RUNNING skyline (same incremental merge as
      :func:`continuous_local_skylines` — merging per batch keeps state
      at skyline size, not window size);
    * an event-time timeout at window-end fires once the watermark
      passes the window, emitting the window's FINAL skyline exactly
      once (append semantics) and dropping the state.

    Output: (win_start, win_end, id, d0..) — the finished windows only.
    Every emitted window's answer equals the batch skyline of exactly
    the window's rows (watermark correctness: a window only closes once
    no admissible row can still arrive).
    """
    cols = [f"d{i}" for i in range(dims)]
    out_schema = StructType(
        [StructField("win_start", TimestampType()),
         StructField("win_end", TimestampType()),
         StructField("id", LongType())]
        + [StructField(c, DoubleType()) for c in cols])
    state_schema = StructType([
        StructField("ids", ArrayType(LongType())),
        StructField("vals", ArrayType(ArrayType(DoubleType()))),
    ])

    return (
        stream.withWatermark(ts_col, watermark_delay)
        # applyInPandasWithState resolves grouping keys by NAME — a raw
        # window() expression doesn't resolve; materialize it first.
        # The window struct inherits the event-time marker, and the
        # stateful operator allows only ONE event-time column, so the
        # raw ts is dropped once the window is derived.
        .withColumn("__win", F.window(ts_col, window_duration))
        .drop(ts_col)
        .groupBy("__win")
        .applyInPandasWithState(
            _window_final_fn(dims, cols),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _window_final_fn(dims: int, cols: Sequence[str]):
    """State fn shared by the tumbling and sliding window skylines:
    per-window running skyline (state at skyline size), final answer
    emitted exactly once when the event-time timeout fires."""

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        win = key[0]  # window struct: a dict under Arrow, a Row otherwise
        start, end = (win["start"], win["end"]) if isinstance(win, dict) \
            else (win[0], win[1])
        if state.hasTimedOut:
            ids, vals = state.get  # type: ignore[misc]
            state.remove()
            vals = np.asarray([list(v) for v in vals], dtype=float) \
                .reshape(len(ids), dims)
            out = pd.DataFrame({"win_start": start, "win_end": end,
                                "id": np.asarray(ids, dtype=np.int64)})
            for i, c in enumerate(cols):
                out[c] = vals[:, i]
            yield out
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            ids, vals = state.get  # type: ignore[misc]
            prev_ids = np.asarray(ids, dtype=np.int64)
            prev_vals = np.asarray([list(v) for v in vals], dtype=float) \
                .reshape(len(ids), dims)
        else:
            prev_ids = np.empty(0, dtype=np.int64)
            prev_vals = np.empty((0, dims), dtype=float)
        new_vals = batch[cols].to_numpy(float)
        cand_mask = skyline_mask(new_vals)
        cand_ids = batch["id"].to_numpy(np.int64)[cand_mask]
        cand_vals = new_vals[cand_mask]
        if len(prev_ids) == 0:
            sky_ids, sky_vals = cand_ids, cand_vals
        else:
            old_keep, new_keep = merge_skylines(prev_vals, cand_vals)
            sky_ids = np.concatenate([prev_ids[old_keep],
                                      cand_ids[new_keep]])
            sky_vals = np.concatenate([prev_vals[old_keep],
                                       cand_vals[new_keep]])
        state.update((sky_ids.tolist(), sky_vals.tolist()))
        # fire once the watermark passes window end (any batch reaching
        # this state has end > watermark, so the timestamp is valid)
        end_ms = int(end.timestamp() * 1000)
        state.setTimeoutTimestamp(max(end_ms,
                                      state.getCurrentWatermarkMs() + 1))
        # no emission until the timeout finalizes the window (fn is a
        # generator by virtue of the timed-out branch's yield)

    return fn


_UNIT_MS = {"millisecond": 1, "second": 1000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000}


def _dur_ms(spec: str) -> int:
    n, unit = spec.strip().split()
    return int(n) * _UNIT_MS[unit.rstrip("s")]


def streaming_sliding_skyline(stream: DataFrame, dims: int, *,
                              window_duration: str = "10 seconds",
                              slide_duration: str = "5 seconds",
                              watermark_delay: str = "5 seconds",
                              ts_col: str = "ts") -> DataFrame:
    """Event-time SLIDING-window skyline over an unbounded stream — the
    streaming twin of the batch ``sliding_skyline_events`` query
    (overlapping windows every `slide_duration`, each `window_duration`
    long), finalized by watermark exactly like
    :func:`streaming_windowed_skyline`.

    Structured Streaming only expands ``F.window(..., slide)`` into
    multiple rows inside a built-in aggregation, not for an arbitrary
    stateful operator — so the expansion is explicit: each row derives
    its ⌈D/S⌉ member windows as plain structs and explodes.  The manual
    struct carries NO event-time marker, so the raw `ts` column stays
    on the stream as the (single) watermark column; state is keyed on
    the window struct and each key's final skyline is emitted once when
    the watermark passes its end.
    """
    cols = [f"d{i}" for i in range(dims)]
    out_schema = StructType(
        [StructField("win_start", TimestampType()),
         StructField("win_end", TimestampType()),
         StructField("id", LongType())]
        + [StructField(c, DoubleType()) for c in cols])
    state_schema = StructType([
        StructField("ids", ArrayType(LongType())),
        StructField("vals", ArrayType(ArrayType(DoubleType()))),
    ])
    d_ms, s_ms = _dur_ms(window_duration), _dur_ms(slide_duration)
    n_wins = -(-d_ms // s_ms)
    # exact integer epoch-ms: double-arithmetic (cast double * 1000)
    # truncates 1 ms low at non-dyadic boundaries, which would shift s0
    # one slide early and silently drop a row's newest member window
    ep = F.unix_millis(F.col(ts_col).cast("timestamp"))
    s0 = (F.floor(ep / s_ms).cast("long") * s_ms)
    wins = F.array(*[
        F.struct(
            F.timestamp_millis(s0 - j * s_ms).alias("start"),
            F.timestamp_millis(s0 - j * s_ms + d_ms).alias("end"))
        for j in range(n_wins)])
    member = F.filter(
        wins, lambda w: (w["start"] <= F.col(ts_col))
        & (w["end"] > F.col(ts_col)))
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .withColumn("__win", F.explode(member))
        .groupBy("__win")
        .applyInPandasWithState(
            _window_final_fn(dims, cols),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_session_skyline(stream: DataFrame, dims: int, *,
                              gap: str = "30 minutes",
                              watermark_delay: str = "5 seconds",
                              ts_col: str = "ts",
                              key_col: str = "user_id") -> DataFrame:
    """Per-key SESSION-window skyline over an unbounded stream — the
    streaming twin of the batch ``session_skyline_events`` query
    (activity sessions split by inactivity > `gap`), completing the
    tumbling / sliding / session streaming-window family.

    Built on Spark-NATIVE session windows rather than hand-rolled
    state: ``groupBy(key, session_window(ts, gap))`` with a
    ``collect_list`` aggregate gathers each session's rows (state per
    open session — exactly what any native session aggregation holds;
    Spark merges sessions that a bridging event joins), the watermark
    closes sessions in append mode, and the skyline of each CLOSED
    session is one pure higher-order Column expression
    (``filter(rows, r → ¬∃q. q dominates r)``) — O(|session|²) per
    session but sessions are small by definition, and the whole
    dominance pass stays JVM-side with zero extra shuffle.

    Output: (key, sess_start, sess_end, id, d0..) — closed sessions
    only, each session's exact Pareto set over the d-columns.
    """
    cols = [f"d{i}" for i in range(dims)]

    def _dom(a, b):
        all_le = a[cols[0]] <= b[cols[0]]
        any_lt = a[cols[0]] < b[cols[0]]
        for c in cols[1:]:
            all_le = all_le & (a[c] <= b[c])
            any_lt = any_lt | (a[c] < b[c])
        return all_le & any_lt

    agg = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col, F.session_window(F.col(ts_col), gap))
        .agg(F.collect_list(F.struct("id", *cols)).alias("__rows"))
    )
    surv = F.filter(
        F.col("__rows"),
        lambda r: ~F.exists(F.col("__rows"), lambda q: _dom(q, r)),
    )
    return (
        agg.select(
            key_col,
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            F.explode(surv).alias("__r"),
        )
        .select(key_col, "sess_start", "sess_end",
                F.col("__r.id").alias("id"),
                *[F.col(f"__r.{c}").alias(c) for c in cols])
    )


def start_continuous_global(local_updates: DataFrame, dims: int, *,
                            out_dir: str, num_partitions: int = 8,
                            available_now: bool = True):
    """Global merge downstream of :func:`continuous_local_skylines`.

    Each update batch carries the REFRESHED local skyline of every
    partition the batch touched; this handler carries the latest local
    skyline of every partition across batches (epoch-versioned parquet,
    retry-idempotent like :class:`engine.SkylinePipeline`), merges them,
    and emits per batch:

    * ``global/batch_*/`` — the full global skyline rows (id, d0..),
      tagged with ``batch_id`` — the reference's emitted answer;
    * ``metrics/batch_*/`` — one result record (batch_id, skyline_size,
      optimality, global_ms) matching FlinkSkyline.java:610-650's
      assembly (record_count lives with the barrier workflow; the
      continuous stream only ever sees skyline survivors).

    Returns the started StreamingQuery (caller awaits termination).
    """
    from ..operators.skyline import skyline
    from .engine import _batch_subdir, _epochs, _gc

    spark = local_updates.sparkSession
    cols = [f"d{i}" for i in range(dims)]
    latest_dir = os.path.join(out_dir, "latest_local")
    global_dir = os.path.join(out_dir, "global")
    metrics_dir = os.path.join(out_dir, "metrics")

    def handle(batch: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        batch = batch.persist()
        try:
            if batch.isEmpty():
                return
            # Latest-per-pid carry: untouched partitions keep their last
            # emitted skyline; touched ones are replaced wholesale (the
            # stateful stage re-emits the FULL refreshed local skyline).
            es = [e for e in _epochs(latest_dir) if e < batch_id]
            if es:
                prev = spark.read.parquet(
                    os.path.join(latest_dir, f"epoch={es[-1]}"))
                touched = [int(r["pid"]) for r in
                           batch.select("pid").distinct().collect()]
                latest = prev.filter(~F.col("pid").isin(touched)) \
                    .unionByName(batch)
            else:
                latest = batch
            latest.write.mode("overwrite").parquet(
                os.path.join(latest_dir, f"epoch={batch_id}"))
            _gc(latest_dir)
            cur = spark.read.parquet(
                os.path.join(latest_dir, f"epoch={batch_id}"))
            glob = skyline(cur, cols).persist()
            try:
                sizes = {int(r["pid"]): int(r["n"]) for r in
                         cur.groupBy("pid").agg(
                             F.count(F.lit(1)).alias("n")).collect()}
                surv = {int(r["pid"]): int(r["n"]) for r in
                        glob.groupBy("pid").agg(
                            F.count(F.lit(1)).alias("n")).collect()}
                sky_size = sum(surv.values())
                opt = sum(surv.get(p, 0) / sizes[p] for p in sizes) \
                    / num_partitions
                glob.drop("pid").withColumn(
                    "batch_id", F.lit(batch_id).cast("long")
                ).write.mode("overwrite").parquet(
                    os.path.join(global_dir, _batch_subdir(batch_id)))
                global_ms = int((time.perf_counter() - t0) * 1000)
                spark.createDataFrame(
                    [(batch_id, sky_size, round(opt, 4), global_ms)],
                    "batch_id long, skyline_size long, optimality double,"
                    " global_ms long",
                ).write.mode("overwrite").parquet(
                    os.path.join(metrics_dir, _batch_subdir(batch_id)))
            finally:
                glob.unpersist()
        finally:
            batch.unpersist()

    writer = (local_updates.writeStream.foreachBatch(handle)
              .outputMode("update")
              .option("checkpointLocation", os.path.join(out_dir, "ckpt")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# DuckDB oracle twins for the windowed streaming sketches.  Append-mode
# emission semantics reduce to SQL exactly: a tumbling window emits iff
# it CLOSED — win_end ≤ max(event time) − watermark delay — and a closed
# window's sketch state equals the batch aggregation over exactly that
# window's rows (the property the executed pytest suite asserts).  The
# builders below state that batch aggregation with the same md5/bin
# arithmetic as the Spark forms, windowed by epoch-floor tumbling and
# filtered to closed windows.
# ---------------------------------------------------------------------------


def _win_sql(ts_col: str, window_seconds: int) -> "tuple[str, str]":
    # epoch-seconds BIGINT bounds (not timestamps): the Spark side emits
    # the same cast, sidestepping naive-vs-aware datetime comparison
    w = int(window_seconds)
    start = f"CAST(floor(epoch({ts_col}) / {w}) * {w} AS BIGINT)"
    end = f"CAST(floor(epoch({ts_col}) / {w}) * {w} + {w} AS BIGINT)"
    return start, end


def _closed_sql(table: str, ts_col: str, window_seconds: int,
                delay_seconds: int) -> str:
    w = int(window_seconds)
    return (f"floor(epoch({ts_col}) / {w}) * {w} + {w} <= "
            f"(SELECT epoch(max({ts_col})) FROM {table}) "
            f"- {int(delay_seconds)}")


def streaming_windowed_hll_sql(table: str, key_col: str, *,
                               ts_col: str = "ts",
                               window_seconds: int = 86400,
                               delay_seconds: int = 3600,
                               bucket_bits: int = 6) -> str:
    """DuckDB twin of :func:`streaming_windowed_hll` under availableNow
    replay: per closed tumbling window, the bit-identical HLL estimate
    (:func:`~..operators.sketches.hll_distinct_sql` grouped by the
    window bounds)."""
    from ..operators.sketches import hll_distinct_sql

    ws, we = _win_sql(ts_col, window_seconds)
    closed = _closed_sql(table, ts_col, window_seconds, delay_seconds)
    sub = (f"(SELECT {key_col}, {ws} AS win_start, {we} AS win_end "
           f"FROM {table} WHERE {ts_col} IS NOT NULL AND {closed})")
    return hll_distinct_sql(sub, key_col,
                            group_cols=("win_start", "win_end"),
                            bucket_bits=bucket_bits)


def streaming_windowed_count_min_sql(table: str, item_col: str,
                                     candidates: "Sequence[str]", *,
                                     ts_col: str = "ts",
                                     window_seconds: int = 86400,
                                     delay_seconds: int = 3600,
                                     depth: int = 4,
                                     width: int = 256) -> str:
    """DuckDB twin of :func:`streaming_windowed_count_min`: per closed
    window, the candidate-projected count-min estimate with the same
    md5 bucket arithmetic as the batch sketch."""
    ws, we = _win_sql(ts_col, window_seconds)
    closed = _closed_sql(table, ts_col, window_seconds, delay_seconds)
    cands = ", ".join("'" + str(c).replace("'", "''") + "'"
                      for c in candidates)

    def bucket(item: str) -> str:
        return (f"(('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || "
                f"CAST({item} AS VARCHAR)), 1, 15))::BIGINT "
                f"% {int(width)})")

    return f"""
WITH __rows AS (SELECT unnest(range({int(depth)})) AS row),
__e AS (
  SELECT {item_col} AS item, {ws} AS win_start, {we} AS win_end
  FROM {table} WHERE {ts_col} IS NOT NULL AND {closed}
),
__sk AS (
  SELECT i.win_start, i.win_end, r.row AS row,
         {bucket('i.item')} AS bucket, count(*)::BIGINT AS cnt
  FROM __e i CROSS JOIN __rows r
  WHERE i.item IS NOT NULL
  GROUP BY ALL
),
__wins AS (SELECT DISTINCT win_start, win_end FROM __e),
__cand AS (SELECT unnest([{cands}]) AS item)
SELECT w.win_start, w.win_end, c.item,
       min(COALESCE(s.cnt, 0))::BIGINT AS cm_est
FROM __wins w CROSS JOIN __cand c CROSS JOIN __rows r
LEFT JOIN __sk s
  ON s.win_start = w.win_start AND s.win_end = w.win_end
 AND s.row = r.row AND s.bucket = {bucket('c.item')}
GROUP BY ALL
""".strip()


def streaming_windowed_quantiles_sql(table: str, value_col: str, *,
                                     lo: float, hi: float,
                                     nbins: int = 32,
                                     quantiles: "Sequence[float]" = (0.5,
                                                                     0.95),
                                     ts_col: str = "ts",
                                     window_seconds: int = 86400,
                                     delay_seconds: int = 3600) -> str:
    """DuckDB twin of :func:`streaming_windowed_quantiles`: per closed
    window, the fixed-domain histogram quantile with the identical
    clamp-bin and interpolation arithmetic (the first nonzero bin whose
    cumulative count reaches q·n — provably the same bin the Spark
    CASE-cascade picks, since a zero-count bin can never be first)."""
    w = (float(hi) - float(lo)) / int(nbins)
    ws, we = _win_sql(ts_col, window_seconds)
    closed = _closed_sql(table, ts_col, window_seconds, delay_seconds)
    qs = [float(q) for q in quantiles]
    names = [f"q_{int(round(q * 100))}" for q in qs]
    q_ctes, q_sel, q_join = [], [], []
    for q, name in zip(qs, names):
        est = (f"{float(lo)!r} + {w!r} * (CAST(bin AS DOUBLE) + "
               f"({q!r} * CAST(n AS DOUBLE) "
               f"- CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE))")
        q_ctes.append(
            f"__{name} AS (SELECT win_start, win_end, n::BIGINT AS n, "
            f"{est} AS {name} FROM __cum "
            f"WHERE CAST(cum AS DOUBLE) >= {q!r} * CAST(n AS DOUBLE) "
            f"QUALIFY row_number() OVER (PARTITION BY win_start, win_end "
            f"ORDER BY bin) = 1)")
        q_sel.append(f"__{name}.{name}")
        q_join.append(f"__{name}")
    joins = q_join[0]
    for j in q_join[1:]:
        joins += f" JOIN {j} USING (win_start, win_end)"
    return f"""
WITH __v AS (
  SELECT CAST({value_col} AS DOUBLE) AS v,
         {ws} AS win_start, {we} AS win_end
  FROM {table}
  WHERE {value_col} IS NOT NULL
    AND NOT isnan(CAST({value_col} AS DOUBLE))
    AND {ts_col} IS NOT NULL AND {closed}
),
__c AS (
  SELECT win_start, win_end,
         greatest(0, least({int(nbins) - 1},
                 floor((v - {float(lo)!r}) / {w!r})))::BIGINT AS bin,
         count(*)::BIGINT AS cnt
  FROM __v GROUP BY ALL
),
__cum AS (
  SELECT win_start, win_end, bin, cnt,
         sum(cnt) OVER (PARTITION BY win_start, win_end
                        ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY win_start, win_end) AS n
  FROM __c
),
{", ".join(q_ctes)}
SELECT win_start, win_end, __{names[0]}.n, {", ".join(q_sel)}
FROM {joins}
""".strip()


def _mark_spans(docs: DataFrame, store, unit_tokens: int, pin) -> DataFrame:
    """Shared span-admission step of the paragraph-admission and
    composed-ingest loops (review r8: the winner rule, seen-store read
    and __keep predicate must be ONE implementation or the two loops'
    oracle parity can silently diverge).  `docs` carries (id, __text)
    and `store` is the loop's span-store view (None while empty).
    Returns a pinned frame with one row per span and the admission
    verdict ``__keep``:

    * in-batch winner: min (id, pos) per span hash, AND
    * never seen in the store.
    """
    from ..functions.corpus import unit_spans
    from ..operators.dedup import _md5_long

    units = pin(docs.select(
        "id",
        F.posexplode(unit_spans(F.col("__text"), unit_tokens))
        .alias("pos", "unit"))
        .withColumn("h", _md5_long(F.col("unit"))))
    units.count()
    first = units.groupBy("h").agg(
        F.min(F.struct("id", "pos")).alias("__first"))
    if store is None:
        store = docs.sparkSession.createDataFrame([], "h long")
    seen = store.select("h").distinct().withColumn("__seen", F.lit(True))
    return pin(units.join(first, "h").join(seen, "h", "left")
               .select(
                   "id", "pos", "unit", "h",
                   ((F.col("__first.id") == F.col("id"))
                    & (F.col("__first.pos") == F.col("pos"))
                    & F.col("__seen").isNull()).alias("__keep")))


def run_streaming_ingest_pipeline(stream_docs: DataFrame, work_dir: str, *,
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  unit_tokens: int = 8,
                                  compact_every: int = 8,
                                  **c4_kwargs) -> None:
    """The COMPOSED ingest-time pipeline — the streaming twin of the
    batch `llm_corpus_v3` front half: per micro-batch, (1) the C4/
    Gopher quality gate (:func:`~..functions.corpus.c4_rules`,
    stateless), then (2) span-level dedup of the KEPT documents
    against the standing cross-batch span store (the
    :func:`run_streaming_paragraph_admission` state discipline:
    in-batch (id, pos) first-occurrence winner, 60-bit span-hash
    store, `compact_every` snapshot compaction).  Every input
    document is emitted exactly once with its gate verdict and its
    surviving spans reassembled:

        (id, kept, failed, clean_text, n_units, n_dupes)

    Rejected documents carry ('', 0, 0) — their spans never enter the
    store (a spam page must not claim first-occurrence over a clean
    page that arrives later), which is exactly why a crawl pipeline
    gates BEFORE dedup.

    Exactness: stage (1) is stateless per doc; stage (2)'s cross-batch
    winner rule coincides with the batch operator's global (id, pos)
    order whenever batches arrive in ascending id order — so the
    composed DuckDB twin (c4_rules_sql ∘ dedup_paragraphs_sql over the
    kept set) is an EXACT oracle for the streamed union, up to the
    span store's 60-bit hash keying (collision bound in the span-
    admission docstring).  Results: ``{work_dir}/cleaned`` and
    ``{work_dir}/spans``, written by :func:`_committed_batch_loop`.
    """
    from ..functions.corpus import c4_rules, reassemble_spans

    def step(batch_df: DataFrame, store, pin):
        score = pin(c4_rules(batch_df, id_col=id_col, text_col=text_col,
                             **c4_kwargs)
                    .select(F.col(id_col).alias("id"), "failed", "kept"))
        kept_docs = (batch_df
                     .select(F.col(id_col).alias("id"),
                             F.col(text_col).alias("__text"))
                     .join(score.filter("kept").select("id"), "id"))
        marked = _mark_spans(kept_docs, store, unit_tokens, pin)
        cleaned = reassemble_spans(marked, kept_docs.select("id"),
                                   id_col="id")
        # one row per INPUT document: gate verdict + reassembly
        # (rejected and span-less docs both coalesce to ('', 0, 0))
        out = (score.join(cleaned, "id", "left").select(
            "id", "kept", "failed",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_units", F.lit(0)).cast("long")
            .alias("n_units"),
            F.coalesce("n_dupes", F.lit(0)).cast("long")
            .alias("n_dupes")))
        return out, marked.filter("__keep").select("h").distinct()

    _committed_batch_loop(stream_docs, work_dir, "cleaned", step,
                          store_name="spans", compact_every=compact_every)


def run_streaming_c4_admission(stream_docs: DataFrame, work_dir: str, *,
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               **rule_kwargs) -> None:
    """Streaming quality-gate admission: the ingest-time twin of
    :func:`~..functions.corpus.c4_rules`.  A crawl pipeline filters on
    the cheap lexical quality rules FIRST (before any dedup state is
    touched) — and the rules are stateless per document, so the
    streaming form is exactly the batch operator applied per
    micro-batch of :func:`_committed_batch_loop`, which makes the batch
    operator's SQL twin an EXACT oracle for the union of all batch
    outputs.

    Every document is emitted to ``{work_dir}/scored`` with its rule
    scores, failure reasons and the ``kept`` verdict (rejected rows
    kept for the threshold-tuning histogram, like the batch operator).

    No cross-batch state at all — at 100 TB this is an embarrassingly
    parallel map over the stream, and the per-batch cost is the batch
    operator's audited shape (one explode + two hash aggregates).
    """
    from ..functions.corpus import c4_rules

    def step(batch_df: DataFrame, store, pin):
        return c4_rules(batch_df, id_col=id_col, text_col=text_col,
                        **rule_kwargs), None

    _committed_batch_loop(stream_docs, work_dir, "scored", step)


def run_streaming_paragraph_admission(stream_docs: DataFrame,
                                      work_dir: str, *,
                                      id_col: str = "doc_id",
                                      text_col: str = "text",
                                      unit_tokens: int = 8,
                                      compact_every: int = 8) -> None:
    """Streaming SPAN-level admission: the incremental twin of
    :func:`~..functions.corpus.dedup_paragraphs`.  Documents stream in;
    each is cut into `unit_tokens`-token spans, and a span survives
    only on its FIRST occurrence ever — earlier in the same batch
    (by (id, pos)) or in any committed earlier batch (the standing
    span-hash store).  Every document is emitted with its surviving
    spans reassembled in order (possibly empty ``clean_text``) — the
    crawl-ingest pass that strips cross-batch boilerplate and repeated
    passages WITHOUT rejecting whole documents.

    State is the span store: one md5-derived 60-bit hash per distinct
    admitted span (never span text) — O(distinct spans) longs on disk,
    read per batch; at scale a bucketed table on the hash.  To keep the
    per-batch novelty-check read bounded over a long-running stream
    (reading every per-batch store is O(B²) cumulative I/O — ADVICE
    r7), every `compact_every` committed batches the stores are folded
    into a consolidated ``{work_dir}/spans/compact=B`` snapshot
    (distinct hashes of everything ≤ batch B) and the batch stores it
    covers are deleted (ADVICE r8); later batches read the newest
    committed snapshot plus only the batch stores after it, so
    steady-state read cost is O(|store| + compact_every · batch).  The
    commit, replay and compaction protocol is
    :func:`_committed_batch_loop`'s.  Hash-keyed
    novelty means a 60-bit collision strips a genuinely novel span
    (P ≈ n²/2⁶¹: ~4·10⁻⁷ even at a billion distinct spans, ~0.4
    expected strips at 10¹² — the store stays hashes because span TEXT
    at that scale is the corpus itself); the batch operator dedups by
    full span text, so the two coincide exactly up to that bound.  Results:
    ``{work_dir}/cleaned`` (batch=N partitions: id, clean_text,
    n_units, n_dupes) and ``{work_dir}/spans``.
    """
    from ..functions.corpus import reassemble_spans

    def step(batch_df: DataFrame, store, pin):
        # NO span-count early exit: a batch of only blank/span-less
        # documents must still emit every document with ('', 0, 0) —
        # the reassembly's id restore below handles empty spans
        # uniformly (dropping the docs would break the "every document
        # is emitted" contract and batch-operator parity).
        marked = _mark_spans(
            batch_df.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("__text")),
            store, unit_tokens, pin)
        # shared reassembly + span-less-id restore: ONE helper with the
        # batch operator, whose SQL is this loop's correctness oracle
        cleaned = reassemble_spans(
            marked, batch_df.select(F.col(id_col).alias("id")),
            id_col="id")
        return cleaned, marked.filter("__keep").select("h").distinct()

    _committed_batch_loop(stream_docs, work_dir, "cleaned", step,
                          store_name="spans", compact_every=compact_every)
