"""``dq_batch``: a closed loop of full five-stage ``DQEngine.run`` calls
over the whole lineitem table, each followed by its hand-written
DataFrame-API twin.

One operation is one engine run, from the ``run`` call to its return,
which includes the error-table, target-table, stats and detailed-stats
parquet writes. Every run is checked against the counts computed from
the generated rows, against the twin's counts, and against the error
rows read back from disk.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import datagen
from harness import Outcome, log, noop

PRODUCT = "perfbench"
#: engine runs per measured phase at least, whatever ``--seconds`` says:
#: the first timed run is still warming and the slowest, and with three
#: or more it stays out of the median; with two, the median would be
#: their mean whenever a slow host fits only two into ``--seconds``
MIN_RUNS = 3
COVER_SQL = ("(select count(*) from orders) >= "
             "(select count(distinct l_orderkey) from lineitem)")


def rules():
    """``queries.lineitem_row_rules()`` (four range/null rules plus the
    window uniqueness rule; ``disc_low`` drops) with the two agg rules
    and the orders-cover query rule. The agg and query rules run on
    both the source and the target side, so all five stages execute."""
    from spark_expectations_spark import Rule, RuleSet
    from spark_expectations_spark.queries import lineitem_row_rules

    both = {"enable_for_source_dq_validation": True,
            "enable_for_target_dq_validation": True}
    return RuleSet(lineitem_row_rules() + [
        Rule(PRODUCT, "lineitem", "agg_dq", "cnt", "", "count(*) > 0",
             **both),
        Rule(PRODUCT, "lineitem", "agg_dq", "avg_disc", "l_discount",
             "avg(l_discount) between 0 and 0.1", **both),
        Rule(PRODUCT, "lineitem", "query_dq", "cover", "", COVER_SQL,
             **both),
    ])


def expected_counts(tbl) -> tuple[int, int, int]:
    """(input, error, output) counts of ``rules()`` over an arrow table,
    computed with numpy as an oracle independent of Spark."""
    col = lambda name: tbl.column(name).to_numpy(zero_copy_only=False)  # noqa: E731
    qty, disc = col("l_quantity"), col("l_discount")
    price = col("l_extendedprice")
    ship_null = np.asarray(tbl.column("l_shipdate").is_null())
    key = col("l_orderkey") * 8 + col("l_linenumber")
    _, inverse, counts = np.unique(key, return_inverse=True,
                                   return_counts=True)
    dup = counts[inverse] != 1
    drop = ~((disc >= 0) & (disc <= 0.05))
    error = (~((qty >= 1) & (qty <= 50)) | drop | ~(price > 0) | ship_null
             | dup)
    n = len(qty)
    return n, int(error.sum()), n - int(drop.sum())


def _twin(spark, li, out: str) -> tuple[int, int, int]:
    """The same checks and writes written directly against the
    DataFrame API: flag projection, one summary + source-agg job, the
    query check, error and target parquet writes, the target-agg job,
    the query check again and a one-row stats write."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def fails(pred):
        return ~F.coalesce(pred, F.lit(False))

    w = Window.partitionBy("l_orderkey", "l_linenumber")
    names = ["qty_range", "disc_low", "price_pos", "ship_notnull",
             "pk_unique"]
    flags = [
        fails(F.col("l_quantity").between(1, 50)),
        fails(F.col("l_discount").between(0, 0.05)),
        fails(F.col("l_extendedprice") > 0),
        fails(F.col("l_shipdate").isNotNull()),
        fails(F.count(F.lit(1)).over(w) == 1),
    ]
    flagged = li.select("*", *[f.alias(f"f_{n}") for f, n in
                               zip(flags, names)])
    any_fail = F.lit(False)
    for n in names:
        any_fail = any_fail | F.col(f"f_{n}")
    row = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(any_fail.cast("long")).alias("errors"),
        F.sum(F.col("f_disc_low").cast("long")).alias("drops"),
        (F.count(F.lit(1)) > 0).alias("cnt_ok"),
        F.avg("l_discount").between(0, 0.1).alias("avg_ok"),
    ).first()
    spark.sql(f"SELECT {COVER_SQL} AS ok").first()
    errors = flagged.filter(any_fail).select(
        *li.columns,
        F.array_compact(F.array(*[F.when(F.col(f"f_{n}"), F.lit(n))
                                  for n in names])).alias("failed_rules"))
    errors.write.mode("overwrite").parquet(os.path.join(out, "error"))
    final = flagged.filter(~F.col("f_disc_low")).select(*li.columns)
    final.agg((F.count(F.lit(1)) > 0).alias("cnt_ok"),
              F.avg("l_discount").between(0, 0.1).alias("avg_ok")).first()
    spark.sql(f"SELECT {COVER_SQL} AS ok").first()
    final.write.mode("overwrite").parquet(os.path.join(out, "target"))
    n, err, out_n = row["n"], row["errors"], row["n"] - row["drops"]
    spark.createDataFrame([(n, err, out_n)],
                          "input long, errors long, output long").write \
        .mode("append").parquet(os.path.join(out, "stats"))
    return n, err, out_n


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class DQBatch:
    name = "dq_batch"
    default_scale = 0.01

    def stage(self, spark, ctx) -> dict:
        import pyarrow.parquet as pq

        data = ctx.work.path("data", "")
        datagen.write_tables(data, ctx.seed, ctx.scale,
                             names=("lineitem", "orders"))
        li_path = os.path.join(data, "lineitem.parquet")
        li = spark.read.parquet(li_path)
        orders = spark.read.parquet(os.path.join(data, "orders.parquet"))
        for name, df in (("lineitem", li), ("orders", orders)):
            df.createOrReplaceTempView(name)
            noop(df)
        return {"li": li, "orders": orders,
                "expected": expected_counts(pq.read_table(li_path)),
                "input_bytes": os.path.getsize(li_path)}

    def _config(self, out: str):
        from spark_expectations_spark import DQConfig, WriterOptions

        def parquet(mode):
            return WriterOptions(format="parquet", mode=mode, path=out)

        return DQConfig(
            product_id=PRODUCT, table_name="lineitem",
            source_view="lineitem",
            write_error_table=True, error_writer=parquet("overwrite"),
            write_target_table=True, target_table="lineitem_target",
            target_writer=parquet("overwrite"),
            write_stats_table=True, enable_detailed_stats=True,
            stats_writer=parquet("append"))

    def _engine_op(self, spark, staged, out: str):
        from spark_expectations_spark import DQEngine

        engine = DQEngine(self._config(out))
        t0 = time.perf_counter()
        res = engine.run(staged["li"], rules(), spark)
        return time.perf_counter() - t0, res

    def warm_up(self, spark, ctx, staged) -> None:
        """One untimed engine run. The twin is not warmed: the engine /
        twin ratio compares the fastest run of each."""
        out = ctx.work.path("warm", "")
        try:
            self._engine_op(spark, staged, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def measure(self, spark, ctx, staged, deadline, tracer=None) -> Outcome:
        o = Outcome()
        o.extra.update(twin_s=[], bytes_ratio=[], intervals=[])
        expected = staged["expected"]
        if ctx.inject:
            expected = (expected[0], expected[1] + 1, expected[2])
        out = ctx.work.path("out", "")
        while True:
            try:
                e0 = time.time()
                dt, res = self._engine_op(spark, staged, out)
                o.extra["intervals"].append((e0, time.time()))
                got = (res.input_count, res.error_count, res.output_count)
                on_disk = spark.read.parquet(
                    os.path.join(out, "lineitem_error")).count()
                if tracer is not None:
                    o.extra["bytes_ratio"].append(
                        _dir_bytes(out) / staged["input_bytes"])
                shutil.rmtree(out, ignore_errors=True)
                t0 = time.perf_counter()
                twin = _twin(spark, staged["li"], out)
                o.extra["twin_s"].append(time.perf_counter() - t0)
                ok = got == expected == twin and on_disk == res.error_count
                o.check(ok, f"engine {got} twin {twin} expected {expected} "
                            f"error rows on disk {on_disk}")
                if ok:
                    o.op_s.append(dt)
                    o.rows += res.input_count
            except Exception as exc:  # a failed run is counted, not fatal
                o.check(False, f"engine run raised {exc!r}")
            finally:
                shutil.rmtree(out, ignore_errors=True)
                spark.catalog.clearCache()
            if deadline.left() <= 0 and o.attempted >= MIN_RUNS:
                break
        o.wall_s = sum(o.op_s)
        log(f"dq_batch: {len(o.op_s)} engine runs, twin "
            f"{len(o.extra['twin_s'])} runs")
        return o
