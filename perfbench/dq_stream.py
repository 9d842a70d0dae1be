"""``dq_stream``: an open-loop parquet file stream into
``streaming.foreach_batch_dq``.

Set-up splits the generated lineitem table into small parquet chunks by
a seeded hash of the row number. During the measured phase one
generator thread renames one chunk into the watched directory every
``INTERVAL_S`` seconds, whether or not the query keeps up. The query
reads one file per micro-batch, runs the full engine with the
``dq_batch`` rules (error table off, one stats row per batch) and sends
the final frame to the noop sink.

One operation is one chunk: its latency runs from the chunk's due time
to the end of its ``on_result`` callback. A chunk's counts must equal
the counts computed from its rows; a chunk with no result when the run
ends is a failure.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
from dq_batch import PRODUCT, expected_counts, rules
from harness import Outcome, log, noop

#: rows per chunk (on average; the hash split makes sizes vary by a few %)
CHUNK_ROWS = 2000
#: seconds between chunk arrivals: CHUNK_ROWS / INTERVAL_S rows/s offered
INTERVAL_S = 4.0
#: chunks run closed-loop through each new query before the open loop
WARM_CHUNKS = 2
#: how long the run waits for results of chunks already placed
DRAIN_S = 20.0


def _chunk_ids(n: int, seed: int, n_chunks: int) -> np.ndarray:
    """splitmix64 of (row number, seed), modulo the chunk count."""
    with np.errstate(over="ignore"):
        z = (np.arange(n, dtype=np.uint64)
             + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(n_chunks)).astype(np.int64)


class DQStream:
    name = "dq_stream"
    #: 60k lineitem rows: a run places about a dozen 2000-row chunks
    default_scale = 0.01

    def stage(self, spark, ctx) -> dict:
        data = ctx.work.path("data", "")
        datagen.write_tables(data, ctx.seed, ctx.scale,
                             names=("lineitem", "orders"))
        li = pq.read_table(os.path.join(data, "lineitem.parquet"))
        # two phases (untraced and traced) of warm-up chunks plus the
        # chunks due within the run; small scales get smaller chunks
        per_phase = WARM_CHUNKS + max(1, int(ctx.seconds / INTERVAL_S))
        n_chunks = max(2 * per_phase, li.num_rows // CHUNK_ROWS)
        ids = _chunk_ids(li.num_rows, ctx.seed, n_chunks)
        chunks_dir = ctx.work.path("chunks", "")
        shutil.rmtree(chunks_dir, ignore_errors=True)
        os.makedirs(chunks_dir)
        chunks = []
        for k in range(2 * per_phase):
            part = li.take(np.flatnonzero(ids == k))
            path = os.path.join(chunks_dir, f"chunk-{k:05d}.parquet")
            pq.write_table(part, path)
            chunks.append({"path": path, "expected": expected_counts(part)})
        orders = spark.read.parquet(os.path.join(data, "orders.parquet"))
        # registered before any query starts: a streaming query's batches
        # run in a clone of the session taken when the query starts
        orders.createOrReplaceTempView("orders")
        noop(orders)
        schema = spark.read.parquet(chunks[0]["path"]).schema
        return {"chunks": chunks, "orders": orders, "schema": schema,
                "next": 0, "per_phase": per_phase}

    def warm_up(self, spark, ctx, staged) -> None:
        """Nothing beyond set-up: each measured phase starts its own
        query and runs ``WARM_CHUNKS`` untimed chunks through it first."""

    def _take(self, staged) -> list[dict]:
        k = staged["next"]
        staged["next"] = k + staged["per_phase"]
        return staged["chunks"][k:k + staged["per_phase"]]

    def measure(self, spark, ctx, staged, deadline, tracer=None) -> Outcome:
        from spark_expectations_spark import DQConfig, WriterOptions
        from spark_expectations_spark.streaming import foreach_batch_dq

        phase = ctx.work.path(f"stream-{staged['next']}", "")
        watch, ckpt = os.path.join(phase, "in"), os.path.join(phase, "ckpt")
        os.makedirs(watch)
        chunks = self._take(staged)
        warm, timed = chunks[:WARM_CHUNKS], chunks[WARM_CHUNKS:]
        cfg = DQConfig(
            product_id=PRODUCT, table_name="lineitem",
            source_view="lineitem", views={"orders": staged["orders"]},
            write_error_table=False, write_stats_table=True,
            stats_writer=WriterOptions(format="parquet", mode="append",
                                       path=os.path.join(phase, "out")))
        # batch_id -> (completion time, (input, error, output) counts).
        # One file per batch, taken oldest first: the chunks were written
        # in order at set-up and are placed in that order, so batch i
        # holds the phase's chunk i (the warm-up chunks come first).
        results: dict[int, tuple] = {}
        done = threading.Condition()

        def on_result(batch_id, res) -> None:
            noop(res.final_df)
            with done:
                results[batch_id] = (time.time(), (
                    res.input_count, res.error_count, res.output_count))
                done.notify_all()

        def place(chunk) -> float:
            name = os.path.basename(chunk["path"])
            os.rename(chunk["path"], os.path.join(watch, name))
            return time.time()

        def wait_for(n_batches: int, until: float) -> None:
            with done:
                while len(results) < n_batches and time.time() < until:
                    done.wait(0.05)

        o = Outcome()
        o.extra.update(late_s=[], queue_s=[], intervals=[])
        placed: list[tuple[dict, float, float]] = []
        t_start = t_query = time.time()
        stream = (spark.readStream.schema(staged["schema"])
                  .option("maxFilesPerTrigger", 1).parquet(watch))
        query = foreach_batch_dq(stream, rules(), cfg, on_result=on_result,
                                 checkpoint_location=ckpt)
        try:
            for i, chunk in enumerate(warm, start=1):
                place(chunk)
                wait_for(i, time.time() + 60)
            o.extra["warm_s"] = time.time() - t_query
            t_start = time.time()
            schedule = [(c, t_start + i * INTERVAL_S)
                        for i, c in enumerate(timed)]

            def generate() -> None:
                for chunk, due in schedule:
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    placed.append((chunk, due, place(chunk)))

            gen = threading.Thread(target=generate, name="chunk-generator")
            gen.start()
            gen.join()
            wait_for(WARM_CHUNKS + len(placed), time.time() + DRAIN_S)
        finally:
            query.stop()
            shutil.rmtree(phase, ignore_errors=True)
        if query.exception() is not None:
            log(f"stream failed: {query.exception()}")

        shift = 1 if ctx.inject else 0
        # a batch's service time runs from when the query could start it
        # (its chunk placed and the previous batch done) to its result
        prev_done = results.get(WARM_CHUNKS - 1, (t_start,))[0]
        for batch_id, (chunk, due, at) in enumerate(placed,
                                                    start=WARM_CHUNKS):
            o.extra["late_s"].append(at - due)
            n, err, out = chunk["expected"]
            got = results.get(batch_id)
            ok = got is not None and got[1] == (n, err + shift, out)
            o.check(ok, f"batch {batch_id}: result {got}, expected "
                        f"{(n, err + shift, out)}")
            if ok:
                o.op_s.append(got[0] - due)
                o.rows += n
                o.wall_s += got[0] - max(at, prev_done)
            if got is not None:
                prev_done = got[0]
            if tracer is not None:
                for s in tracer.spans:
                    if (s.name == "streaming.batch"
                            and s.attrs["batch_id"] == batch_id):
                        o.extra["queue_s"].append(s.t0 - due)
                        o.extra["intervals"].append((s.t0, s.t1))
        o.extra["batches"] = len(o.extra["intervals"])
        log(f"dq_stream: {len(placed)} chunks placed, {len(o.op_s)} correct "
            f"results, offered {CHUNK_ROWS / INTERVAL_S:.0f} rows/s")
        return o
