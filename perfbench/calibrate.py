"""Compare the generated inputs with a directory of catalog tables.

    python3 perfbench/calibrate.py --scale 0.01 --seeds 1 2 3 --ref DIR

prints, as one JSON line per source, the input properties that decide
the benchmark's cost: the row-rule failure fractions of ``lineitem``
(which set the error-table size), its key cardinalities (which set the
co-purchase graph), the shape of ``documents`` (words per document,
vocabulary, word-frequency skew, duplicates) and the candidate and
result counts of the four curation entries' DuckDB oracles. ``--ref``
is a directory holding ``lineitem.parquet`` and ``documents.parquet``
of the TPC-H-ish catalog at the same scale factor; the generated tables
are written to a temporary directory and removed. README.md records
what this printed when the generator was calibrated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402

LINEITEM = """
SELECT count(*) AS rows,
  avg((l_discount NOT BETWEEN 0 AND 0.05)::INT) AS disc_low_frac,
  avg((_c <> 1)::INT) AS pk_dup_frac,
  avg((_c <> 1 OR l_discount NOT BETWEEN 0 AND 0.05
       OR l_quantity NOT BETWEEN 1 AND 50 OR l_extendedprice <= 0
       OR l_shipdate IS NULL)::INT) AS error_frac,
  count(DISTINCT l_orderkey) AS orderkeys,
  count(DISTINCT l_partkey) AS partkeys,
  count(DISTINCT l_suppkey) AS suppkeys
FROM (SELECT *, count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS _c
      FROM lineitem)
"""

DOCUMENTS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
words AS (SELECT unnest(ws) AS word FROM w),
freq AS (SELECT word, count(*) AS n FROM words GROUP BY word)
SELECT (SELECT count(*) FROM documents) AS docs,
  (SELECT avg(len(ws)) FROM w) AS words_mean,
  (SELECT min(len(ws)) FROM w) AS words_min,
  (SELECT max(len(ws)) FROM w) AS words_max,
  (SELECT count(*) FROM freq) AS vocab,
  (SELECT max(n) * 1.0 / sum(n) FROM freq) AS top_word_share,
  (SELECT count(*) - count(DISTINCT text) FROM documents) AS dup_texts
"""

# pairs of documents that share at least one 2-word shingle: the join
# the jaccard operator filters, i.e. its candidate-pair count
JACCARD_CAND = """
WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
       FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i))
SELECT count(*) FROM (SELECT DISTINCT a.doc_id, b.doc_id FROM sh a JOIN sh b
  ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
"""

GRAPH_EDGES = """
SELECT count(*) FROM (SELECT DISTINCT a.l_partkey, b.l_partkey
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey)
"""

ENTRIES = ("part_copurchase_triangles", "docs_weighted_cosine",
           "dedup_jaccard", "docs_decontaminate_screened")


def properties(data_dir: str) -> dict:
    from spark_expectations_spark.queries import ORACLES

    with duckdb.connect() as con:
        for t in ("lineitem", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t + '.parquet')}'")
        out = {}
        for sql in (LINEITEM, DOCUMENTS):
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            out.update(zip(names, cur.fetchone()))
        out["jaccard_candidate_pairs"] = con.execute(JACCARD_CAND).fetchone()[0]
        out["graph_edges"] = con.execute(GRAPH_EDGES).fetchone()[0]
        for name in ENTRIES:
            out[f"{name}.rows"] = con.execute(
                f"SELECT count(*) FROM ({ORACLES[name]})").fetchone()[0]
    return {k: round(v, 4) if isinstance(v, float) else v
            for k, v in out.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--scale", type=float, required=True)
    p.add_argument("--seeds", type=int, nargs="+", default=[1])
    p.add_argument("--ref", help="directory of catalog tables to compare")
    args = p.parse_args(argv)
    if args.ref:
        print(json.dumps({"source": args.ref, **properties(args.ref)}))
    for seed in args.seeds:
        tmp = tempfile.mkdtemp(prefix="perfbench-calibrate-")
        try:
            datagen.write_tables(tmp, seed, args.scale,
                                 names=("lineitem", "documents"))
            print(json.dumps({"source": f"generated seed {seed} "
                              f"scale {args.scale}", **properties(tmp)}))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
