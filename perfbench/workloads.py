"""The benchmark's workloads, driven through the package's public
functions.  Each ``run_*`` function fills a :class:`Run` with
end-to-end numbers and, when tracing, per-layer numbers."""

from __future__ import annotations

import gc
import glob
import json
import os
import statistics
import threading
import time
import traceback
from contextlib import contextmanager

import numpy as np

import reference
from tracing import StageLedger, Tracer, pin_ledger

from flink_skyline_qos_spark.session import get_spark, warm_arrow_pool

ALGOS = ("mr-dim", "mr-grid", "mr-angle")
NUM_PARTITIONS = 8
BUILDS = 3          # input builds per run; setup reports their median
ARROW_BATCH = 65536  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
ANSWER_S = 5.0      # nominal closed-loop answer time on a 4-core host


class Run:
    """State of one benchmark run: answers attempted and failed, the
    latencies of timed answers, set-up phases and per-layer numbers."""

    def __init__(self, seed: int, seconds: float, trace: bool,
                 work_dir: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.tracer = Tracer(trace)
        self.spark = None
        self.stages: "StageLedger | None" = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []
        self.timed_ids: list[int] = []   # answer (or batch) ids timed
        self.rows_answered = 0
        self.timed_s = 0.0
        self.start_s = 0.0
        self.build_s: list[float] = []
        self.warmup_s = 0.0
        self.layer: dict[str, float] = {}
        self.pin_base = (0, 0)

    # -- set-up -----------------------------------------------------------

    def start_session(self) -> None:
        t = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = get_spark("perfbench")
            warm_arrow_pool(self.spark)
        self.start_s = time.perf_counter() - t
        if self.trace:
            self.stages = StageLedger(self.spark)

    def build(self, make):
        """Run `make` BUILDS times, keeping the last result; each earlier
        result is released with the callable it returns."""
        out = None
        for _ in range(BUILDS):
            if out is not None:
                out[1]()
            t = time.perf_counter()
            with self.tracer.span("generators"):
                out = make()
            self.build_s.append(time.perf_counter() - t)
        return out[0]

    @property
    def setup_s(self) -> float:
        return self.start_s + statistics.median(self.build_s) + self.warmup_s

    # -- calls into the program ----------------------------------------------

    @contextmanager
    def call(self, layer: str, answer: int):
        """Job group + span around one call into a layer."""
        self.spark.sparkContext.setJobGroup(f"{layer}#{answer}", layer)
        try:
            with self.tracer.span(layer, answer):
                yield
        finally:
            self.spark.sparkContext.setJobGroup("bench", "bench")

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok

    def attempt(self, answer, i: int) -> bool:
        """One checked answer; an exception or a wrong result is a failure."""
        self.attempted += 1
        try:
            with self.tracer.span("answer", i):
                ok = bool(answer(i))
        except Exception:  # noqa: BLE001 — a failed answer must not end the run
            self.failures.append(f"answer {i} raised:\n{traceback.format_exc()}")
            ok = False
        if not ok:
            self.failed += 1
        return ok

    def settle(self) -> None:
        """Drop the answer's frames so release-on-gc pins fire, then (when
        tracing) read the stage metrics and the pin ledger."""
        gc.collect()
        if self.trace:
            self.stages.harvest()
            pins, stored = pin_ledger(self.spark)
            self.layer["caching.live_pins"] = pins - self.pin_base[0]
            self.layer["caching.storage_bytes"] = stored - self.pin_base[1]

    def mark_pin_baseline(self) -> None:
        gc.collect()
        self.pin_base = pin_ledger(self.spark)

    def closed_loop(self, answer, rows_per_answer: int, warmups: int,
                    cycle: int = 1) -> None:
        """One client: the next answer starts when the previous ends.
        The first `warmups` answers are checked warm-ups that count
        toward set-up.  Then ``seconds / ANSWER_S`` answers, rounded up to a
        whole number of `cycle`s, are timed: a fixed count, so a slow
        host does not also move the timed answers to an earlier point
        of the JIT warm-up curve."""
        t = time.perf_counter()
        for i in range(warmups):
            self.attempt(answer, i)
            self.settle()
        self.warmup_s = time.perf_counter() - t
        timed = -(-max(1, round(self.seconds / ANSWER_S)) // cycle) * cycle
        t0 = time.perf_counter()
        for i in range(warmups, warmups + timed):
            t = time.perf_counter()
            self.attempt(answer, i)
            self.latencies.append(time.perf_counter() - t)
            self.timed_ids.append(i)
            self.rows_answered += rows_per_answer
            self.settle()
        self.timed_s = time.perf_counter() - t0

    # -- per-layer helpers ----------------------------------------------------

    def stage_totals(self, layer: str) -> dict[str, float]:
        """Stage totals of one layer's job groups over the timed
        answers, per answer."""
        tot = self.stages.total(f"{layer}#{i}" for i in self.timed_ids)
        return {k: v / max(len(self.timed_ids), 1) for k, v in tot.items()}

    def stage_metrics(self, layer: str) -> dict[str, float]:
        tot = self.stage_totals(layer)
        self.layer[f"{layer}.exec_run_s"] = tot["run_s"]
        self.layer[f"{layer}.exec_cpu_s"] = tot["cpu_s"]
        self.layer[f"{layer}.shuffle_bytes"] = tot["shuffle_write_bytes"]
        return tot

    def median_span(self, name: str) -> float:
        """Median duration of the `name` spans of the timed answers."""
        d = [s["end"] - s["start"] for s in self.tracer.spans
             if s["name"] == name and s["answer"] in self.timed_ids]
        return statistics.median(d) if d else 0.0


# ---------------------------------------------------------------------------
# q4d_anticorr_310k: closed-loop skyline answers
# ---------------------------------------------------------------------------

def run_query(run: Run, n: int, dims: int) -> None:
    from pyspark.sql import functions as F

    from flink_skyline_qos_spark.operators.partitioners import partitioner_expr
    from flink_skyline_qos_spark.operators.skyline import skyline
    from flink_skyline_qos_spark.plans.metrics import skyline_query_metrics
    from flink_skyline_qos_spark.sources.generators import generate_points

    run.start_session()
    spark = run.spark
    cols = [f"d{i}" for i in range(dims)]

    def make():
        pts = generate_points(spark, n, dims, dist="anti_correlated",
                              seed=run.seed).persist()
        pts.count()
        return pts, lambda: pts.unpersist(True)

    pts = run.build(make)
    pdf = pts.select("id", *cols).toPandas().sort_values("id")
    values = pdf[cols].to_numpy()
    ref_mask = (reference.skyline_mask_2d(values) if dims == 2
                else reference.skyline_mask(values))
    ref_size = int(ref_mask.sum())
    ref_idsum = int(pdf["id"].to_numpy()[ref_mask].sum())
    run.mark_pin_baseline()

    optimality: dict[str, float] = {}
    rows: list[dict] = []

    def answer(i: int) -> bool:
        # the partitioners take turns, so the timed answers (whole
        # cycles) cover all three equally whatever the seed, and the
        # warm-up's partitioner repeats for the optimality check
        algo = ALGOS[(run.seed + i) % len(ALGOS)]
        with run.call("skyline", i):
            got = skyline(pts, cols).agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("ids")).first()
        with run.call("metrics", i):
            row = skyline_query_metrics(
                pts, cols, algo=algo, num_partitions=NUM_PARTITIONS,
                domain_max=reference.DOMAIN_MAX, with_timing=True,
            ).first().asDict()
        row["algo"] = algo
        rows.append(row)
        opt = optimality.setdefault(algo, row["optimality"])
        return all([
            run.check(got["n"] == ref_size,
                      f"answer {i}: skyline() size {got['n']} != {ref_size}"),
            run.check(got["ids"] == ref_idsum,
                      f"answer {i}: skyline() id checksum differs"),
            run.check(row["record_count"] == n,
                      f"answer {i}: record_count {row['record_count']} != {n}"),
            run.check(row["skyline_size"] == ref_size,
                      f"answer {i} ({algo}): skyline_size "
                      f"{row['skyline_size']} != {ref_size}"),
            run.check(row["optimality"] == opt,
                      f"answer {i} ({algo}): optimality {row['optimality']}"
                      f" differs from an earlier {opt}"),
        ])

    # one warm-up: a second would cost 5 s a run, more than the run
    # budget has (README, "Sizing")
    run.closed_loop(answer, n, warmups=1, cycle=len(ALGOS))
    if not run.trace:
        return

    timed = rows[-len(run.latencies):]
    lay = run.layer
    lay["skyline.wall_s"] = run.median_span("skyline")
    sky = run.stage_metrics("skyline")
    lay["skyline.python_wait_s"] = sky["run_s"] - sky["cpu_s"]
    lay["skyline.tasks"] = sky["tasks"]
    lay["metrics.wall_s"] = run.median_span("metrics")
    run.stage_metrics("metrics")
    for key, field in (("local_ms", "local_processing_time_ms"),
                       ("global_ms", "global_processing_time_ms"),
                       ("local_cpu_ms", "local_cpu_ms"),
                       ("global_cpu_ms", "global_cpu_ms")):
        lay[f"metrics.{key}"] = statistics.median(r[field] for r in timed)
    for algo, opt in optimality.items():
        lay[f"partitioners.optimality.{algo}"] = opt

    # partition skew, and driver-side kernel replays on the same arrays
    dim_cols = [F.col(c) for c in cols]
    with run.call("partitioners", -1):
        tags = pts.select("id", *[
            partitioner_expr(a, dim_cols, NUM_PARTITIONS,
                             reference.DOMAIN_MAX).alias(a)
            for a in ALGOS]).toPandas().sort_values("id")
    for a in ALGOS:
        counts = np.bincount(tags[a].to_numpy(), minlength=NUM_PARTITIONS)
        lay[f"partitioners.skew.{a}"] = counts.max() / (n / NUM_PARTITIONS)
    replay_kernels(run, values, tags["mr-dim"].to_numpy(), ref_size)


def replay_kernels(run: Run, values: np.ndarray, pid: np.ndarray,
                   ref_size: int) -> None:
    """Replay skyline_query_metrics' kernel calls on the driver: a local
    skyline_mask per origin partition, then the single-task global
    merge over the local survivors in Arrow-batch-sized chunks, taken
    in origin-partition order (an approximation of shuffle order)."""
    from flink_skyline_qos_spark.operators.kernels import (
        merge_skylines,
        skyline_mask,
    )

    mask_s = merge_s = 0.0
    local = []
    with run.tracer.span("kernels"):
        for p in range(NUM_PARTITIONS):
            v = values[pid == p]
            t = time.perf_counter()
            m = skyline_mask(v)
            mask_s += time.perf_counter() - t
            local.append(v[m])
        survivors = np.concatenate(local)
        sky = None
        for s in range(0, len(survivors), ARROW_BATCH):
            v = survivors[s:s + ARROW_BATCH]
            t = time.perf_counter()
            cand = v[skyline_mask(v)]
            mask_s += time.perf_counter() - t
            if sky is None:
                sky = cand
                continue
            t = time.perf_counter()
            old_keep, new_keep = merge_skylines(sky, cand)
            merge_s += time.perf_counter() - t
            sky = np.concatenate([sky[old_keep], cand[new_keep]])
    run.attempted += 1
    if not run.check(len(sky) == ref_size,
                     f"kernel replay: {len(sky)} survivors != {ref_size}"):
        run.failed += 1
    run.layer.update({
        "kernels.skyline_mask_s": mask_s,
        "kernels.merge_skylines_s": merge_s,
        "kernels.rows_in": float(len(values) + len(survivors)),
        "kernels.rows_out": float(len(sky)),
    })


# ---------------------------------------------------------------------------
# dedup_minhash_10k: closed-loop near-duplicate removal
# ---------------------------------------------------------------------------

def run_dedup(run: Run, n: int) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_skyline_qos_spark.operators.clustering import (
        connected_components,
    )
    from flink_skyline_qos_spark.operators.dedup import minhash_lsh_pairs

    run.start_session()
    spark = run.spark
    texts, planted = reference.near_duplicate_corpus(n, run.seed)
    corpus = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                           "text": texts})

    def make():
        docs = spark.createDataFrame(corpus).persist()
        docs.count()
        return docs, lambda: docs.unpersist(True)

    docs = run.build(make)
    run.mark_pin_baseline()
    pairs_out: list[int] = []

    def answer(i: int) -> bool:
        with run.call("dedup", i):
            # operator pins are released when `result` is garbage
            # collected, so it stays bound while frames derived from it
            # are in use
            result = minhash_lsh_pairs(
                docs, num_hashes=64, bands=16, shingle_k=3,
                shingle_unit="word", threshold=0.5)
            pairs = result.select("id_a", "id_b").persist()
            got = pairs.collect()
        try:
            with run.call("clustering", i):
                cc = connected_components(pairs).agg(
                    F.count(F.lit(1)).alias("nodes"),
                    F.countDistinct("component").alias("comps")).first()
        finally:
            pairs.unpersist(True)
        pairs_out.append(len(got))
        found = sum(1 for r in got
                    if r["id_b"] == r["id_a"] + 1 and r["id_b"] % 10 == 0)
        survivors = n - cc["nodes"] + cc["comps"]
        return all([
            run.check(found == planted,
                      f"answer {i}: planted recall {found}/{planted}"),
            run.check(survivors == n - planted,
                      f"answer {i}: {survivors} survivors != {n - planted}"),
        ])

    # two warm-ups: the first timed answer after one was 20% slower
    # than the ones after it
    run.closed_loop(answer, n, warmups=2)
    if not run.trace:
        return
    lay = run.layer
    lay["dedup.pairs_s"] = run.median_span("dedup")
    run.stage_metrics("dedup")
    lay["dedup.pairs_out"] = statistics.median(pairs_out)
    lay["clustering.cc_s"] = run.median_span("clustering")


# ---------------------------------------------------------------------------
# stream_2d_open: open-loop file stream into SkylinePipeline
# ---------------------------------------------------------------------------

def _write_atomic(directory: str, staging: str, name: str, data: bytes) -> None:
    tmp = os.path.join(staging, name)
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, os.path.join(directory, name))


def run_stream(run: Run, rows_per_file: int, period: float) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_skyline_qos_spark.streaming.engine import SkylinePipeline
    from flink_skyline_qos_spark.streaming.sources import file_stream
    from flink_skyline_qos_spark.streaming.wire import parse_service_tuples

    run.start_session()
    spark = run.spark
    ticks = max(1, int(np.ceil(run.seconds / period)))
    files = ticks + 1  # file 0 is the warm-up
    base = os.path.join(run.work_dir, "stream")
    data_dir, trig_dir, staging = (os.path.join(base, d)
                                   for d in ("data", "trig", "staging"))
    for d in (data_dir, trig_dir, staging):
        os.makedirs(d)

    def make():
        pts = reference.anticorrelated_points(rows_per_file * files, 2,
                                              run.seed)
        lines = [f"{i},{int(x)},{int(y)}" for i, (x, y) in enumerate(pts)]
        payload = ["\n".join(lines[k * rows_per_file:(k + 1) * rows_per_file])
                   .encode() + b"\n" for k in range(files)]
        return (pts, payload), lambda: None

    pts, payload = run.build(make)
    ref_sizes: dict[int, int] = {}

    def ref_size(rows: int) -> int:
        if rows not in ref_sizes:
            ref_sizes[rows] = int(reference.skyline_mask_2d(pts[:rows]).sum())
        return ref_sizes[rows]

    pipe = SkylinePipeline(spark, os.path.join(base, "pipe"), dims=2,
                           algo="mr-angle", num_partitions=NUM_PARTITIONS,
                           domain_max=reference.DOMAIN_MAX)
    lock = threading.Lock()
    released: dict[str, tuple[float, dict, int]] = {}  # (commit, row, batch)
    dup_release: list[str] = []
    committed_rows = [0]

    def handler(batch, batch_id: int) -> None:
        spark.sparkContext.setJobGroup(f"engine#{batch_id}", "engine")
        with run.tracer.span("engine", batch_id):
            pipe.process_batch(batch, batch_id)
        done = time.perf_counter()
        meta_path = os.path.join(pipe.meta_dir, f"epoch={batch_id:020d}.json")
        with open(meta_path) as fh:
            rows = json.load(fh)["record_count"]
        out = os.path.join(pipe.metrics_dir, f"batch_{batch_id:020d}")
        rel = pq.read_table(out).to_pylist() if os.path.isdir(out) else []
        with lock:
            committed_rows[0] = rows
            for r in rel:
                if r["query_id"] in released:
                    dup_release.append(r["query_id"])
                released[r["query_id"]] = (done, r, batch_id)

    tagged = file_stream(spark, data_dir).withColumn("kind", F.lit(0)) \
        .unionByName(file_stream(spark, trig_dir).withColumn("kind", F.lit(1)))
    query = (tagged.writeStream.foreachBatch(handler)
             .option("checkpointLocation", os.path.join(base, "checkpoint"))
             .trigger(processingTime="0 seconds").start())
    due: dict[str, float] = {}
    bounds: dict[str, int] = {}

    def drop(k: int, qid: str) -> None:
        _write_atomic(data_dir, staging, f"part-{k:05d}.csv", payload[k])
        bounds[qid] = (k + 1) * rows_per_file - 1
        _write_atomic(trig_dir, staging, f"trig-{k:05d}.csv",
                      f"{qid},{bounds[qid]}\n".encode())

    def wait_released(qids, timeout: float) -> None:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline and query.isActive:
            with lock:
                if all(q in released for q in qids):
                    return
            time.sleep(0.02)

    try:
        t = time.perf_counter()
        due["w0"] = t
        drop(0, "w0")
        wait_released(["w0"], 60.0)
        run.warmup_s = time.perf_counter() - t

        late: list[float] = []
        backlog: list[int] = []
        t0 = time.perf_counter()
        for k in range(1, files):
            qid = f"q{k}"
            due[qid] = t0 + (k - 1) * period
            pause = due[qid] - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            late.append(max(0.0, time.perf_counter() - due[qid]))
            drop(k, qid)
            with lock:
                backlog.append(k + 1 - committed_rows[0] // rows_per_file)
        wait_released(list(due), 30.0)
    finally:
        query.stop()
        query.awaitTermination()

    timed = [q for q in due if q != "w0"]
    for qid in due:
        run.attempted += 1
        ok = run.check(qid in released, f"trigger {qid} never released")
        if ok:
            rows = released[qid][1]["record_count"]
            size = released[qid][1]["skyline_size"]
            ok = all([
                run.check(rows > bounds[qid] and rows % rows_per_file == 0,
                          f"trigger {qid}: released at {rows} rows, "
                          f"needs id {bounds[qid]}"),
                run.check(size == ref_size(rows),
                          f"trigger {qid}: skyline_size {size} != "
                          f"{ref_size(rows)} over {rows} rows"),
            ])
        if qid in dup_release:
            ok = run.check(False, f"trigger {qid} released twice")
        if not ok:
            run.failed += 1
    run.latencies = [released[q][0] - due[q] for q in timed if q in released]
    if timed and timed[-1] in released:
        run.rows_answered = len(timed) * rows_per_file
        run.timed_s = released[timed[-1]][0] - t0
    run.layer["loadgen.late_max_s"] = max(late) if late else 0.0
    if not run.trace or "w0" not in released:
        return

    lay = run.layer
    # timed batches: every batch after the one that released the warm-up
    run.timed_ids = sorted({s["answer"] for s in run.tracer.spans
                            if s["name"] == "engine"
                            and s["answer"] > released["w0"][2]})
    lay["engine.batch_s"] = run.median_span("engine")
    rows = [released[q][1] for q in timed if q in released]
    if rows:
        lay["engine.ingest_ms"] = statistics.median(r["ingest_ms"] for r in rows)
        lay["engine.global_ms"] = statistics.median(r["global_ms"] for r in rows)
    run.stages.harvest()
    lay["engine.jobs_per_batch"] = run.stage_totals("engine")["jobs"]
    last = sorted(glob.glob(os.path.join(pipe.points_dir, "epoch=*")),
                  key=lambda p: int(p.rsplit("=", 1)[1]))[-1]
    parts = glob.glob(os.path.join(last, "*.parquet"))
    lay["engine.state_rows"] = sum(pq.ParquetFile(p).metadata.num_rows
                                   for p in parts)
    lay["engine.state_bytes"] = sum(os.path.getsize(p) for p in parts)
    lay["sources.backlog_files"] = max(backlog) if backlog else 0
    probe = os.path.join(data_dir, "part-00001.csv")
    walls = []
    for k in range(BUILDS):
        with run.call("wire", k):
            t = time.perf_counter()
            parse_service_tuples(spark.read.text(probe), 2).count()
            walls.append(time.perf_counter() - t)
    lay["wire.parse_s"] = statistics.median(walls)
    run.settle()
