"""``curation_ops``: passes over four curation catalog entries.

One operation is one pass: each entry, in an order drawn from the seed,
is built from its catalog function and its rows collected, with
``clearCache`` between entries. The DQ engine does not run.

A measured phase is exactly one pass, whatever ``--seconds`` says, and
the untraced phase measures it cold, as the first pass of the session:
a curation job runs its operators once per Spark application, so plan
compilation is part of what its user waits for (set-up has already run
jobs, so the JVM itself is up). A single cold pass also reads steadier
from run to run than a single warm one. Set-up computes every entry's
DuckDB oracle (``queries.ORACLES``) on the same generated tables, and
after the timed section each entry's rows are compared with it; a pass
with any differing entry is a failed pass. Rows are compared the way ``tools/check_correctness.py``
compares them, with its own canonicalization.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import random
import time

import datagen
from harness import Outcome, log, noop


@functools.cache
def _check_correctness():
    """``tools/check_correctness.py``, loaded by path: ``tools`` is a
    plain directory, not a package."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_multiset(cols, rows) -> list[str]:
    return _check_correctness().frame_multiset(cols, rows)


def _oracle(data: str, name: str) -> list[str]:
    """The rows of ``name``'s DuckDB oracle over the tables in ``data``."""
    import duckdb
    from spark_expectations_spark.queries import ORACLES

    with duckdb.connect() as con:
        for t in ("lineitem", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data, t + '.parquet')}'")
        tbl = con.execute(ORACLES[name]).fetch_arrow_table()
    cols = tbl.column_names
    return frame_multiset(cols, [tuple(d[c] for c in cols)
                                 for d in tbl.to_pylist()])


#: catalog entry -> the package layer whose operator it exercises
ENTRIES = {
    "part_copurchase_triangles": "graph",      # graph.triangle_counts
    "docs_weighted_cosine": "linkage",         # linkage.weighted_cosine_join
    "dedup_jaccard": "dedup",                  # dedup.jaccard_pairs
    "docs_decontaminate_screened": "dedup",    # dedup.contamination_screened
}


class CurationOps:
    name = "curation_ops"
    default_scale = 0.005

    def stage(self, spark, ctx) -> dict:
        data = ctx.work.path("data", "")
        rows = datagen.write_tables(data, ctx.seed, ctx.scale,
                                    names=("lineitem", "documents"))
        for t in ("lineitem", "documents"):
            noop(spark.read.parquet(os.path.join(data, f"{t}.parquet")))
        order = sorted(ENTRIES)
        random.Random(ctx.seed).shuffle(order)
        # rows each pass reads: triangles scan lineitem, the other three
        # entries scan the documents table
        return {"data": data, "order": order,
                "pass_rows": rows["lineitem"] + 3 * rows["documents"],
                "oracle": {name: _oracle(data, name) for name in order}}

    def warm_up(self, spark, ctx, staged) -> None:
        """Only a traced run warms up, so that both of its phases measure
        a warm pass and their difference is the tracing overhead."""
        if not ctx.trace:
            return
        for name in staged["order"]:
            noop(self._entry(spark, staged, name))
            spark.catalog.clearCache()

    def _entry(self, spark, staged, name):
        from spark_expectations_spark.queries import QUERIES

        return QUERIES[name](spark, staged["data"])

    def measure(self, spark, ctx, staged, deadline, tracer=None) -> Outcome:
        o = Outcome()
        rows = {}
        e0, t0 = time.time(), time.perf_counter()
        try:
            for name in staged["order"]:
                df = self._entry(spark, staged, name)
                if tracer is None:
                    rows[name] = (df.columns, df.collect())
                else:
                    with tracer.span(f"{ENTRIES[name]}.exec", entry=name):
                        rows[name] = (df.columns, df.collect())
                spark.catalog.clearCache()
        except Exception as exc:  # a failed pass is counted, not fatal
            o.check(False, f"pass raised {exc!r}")
            spark.catalog.clearCache()
            return o
        dt = time.perf_counter() - t0
        o.extra["intervals"] = [(e0, time.time())]
        bad = []
        for name, (cols, got) in rows.items():
            want = staged["oracle"][name]
            if ctx.inject:
                want = want[1:]
            if frame_multiset(cols, got) != want:
                bad.append(f"{name}: {len(got)} rows vs the oracle's "
                           f"{len(want)}")
        o.check(not bad, "; ".join(bad))
        if not bad:
            o.op_s.append(dt)
            o.rows = staged["pass_rows"]
            o.wall_s = dt
        log(f"curation_ops: order {staged['order']}")
        return o
