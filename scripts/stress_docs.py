#!/usr/bin/env python
"""Near-dup dedup throughput race at N× corpus scale: Spark MinHash-LSH
(exact-verified) vs DuckDB running the exact inverted-index Jaccard.

The corpus is sf0.1 documents replicated N×: copy i rewrites every word w
→ 'c{i}w', a bijection on the token vocabulary, so each copy reproduces
the ORIGINAL near-dup pair structure internally while sharing zero
shingles across copies — pair count grows ~N× (never N², which blind
replication would cause), and both engines must do N× the work.

Both engines compute the SAME answer (pairs with exact 3-gram-shingle
Jaccard ≥ 0.7) and the script asserts the pair counts match — a scale
race that is simultaneously an LSH-recall check at N× the tested corpus.

DuckDB is the single-node baseline the brief asks for ("matches-or-beats
single-node throughput"): the reference engine has no dedup operator, and
DuckDB's inverted-index join is the strongest honest single-node
implementation of the exact semantics.

Usage: python scripts/stress_docs.py [N]    (default 4)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1/documents.parquet"
OUT = "/tmp/tegallega_docs_stress"

JACCARD_SQL = r"""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
      FROM read_parquet('{path}')),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
                                                    i -> array_to_string(w[i:i+2], ' ')))
             END AS s
      FROM words),
    tok AS (SELECT doc_id, unnest(s) AS sh FROM sh),
    card AS (SELECT doc_id, COUNT(*) AS c FROM tok GROUP BY doc_id),
    pair AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM tok a JOIN tok b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT COUNT(*) AS n
    FROM pair JOIN card ca ON pair.id_a = ca.doc_id
              JOIN card cb ON pair.id_b = cb.doc_id
    WHERE common / (ca.c + cb.c - common) >= 0.7
"""

_WORD = re.compile(r"[a-z0-9]+")


def build_input(n: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"docs_x{n}.parquet")
    if os.path.exists(path):
        return path
    t = pq.read_table(SRC, columns=["doc_id", "text"])
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    all_ids, all_texts = [], []
    for i in range(n):
        tag = f"c{i}"
        all_ids.extend(v + i * 100_000_000 for v in ids)
        if i == 0:
            all_texts.extend(texts)
        else:
            # word → tag+word: bijective per copy, zero cross-copy overlap
            all_texts.extend(
                _WORD.sub(lambda m: tag + m.group(0), (tx or "").lower())
                for tx in texts
            )
    pq.write_table(
        pa.table({"doc_id": pa.array(all_ids, pa.int64()),
                  "text": pa.array(all_texts, pa.string())}),
        path,
    )
    return path


def time_duckdb(path: str) -> tuple[float, int]:
    import duckdb

    con = duckdb.connect()  # defaults: all cores
    t0 = time.time()
    n = con.sql(JACCARD_SQL.format(path=path)).fetchone()[0]
    return time.time() - t0, n


def time_spark(path: str) -> tuple[float, int]:
    from tegallega_spark.operators.dedup import minhash_near_duplicates_verified
    from tegallega_spark.session import get_spark

    spark = get_spark("docs-stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t0 = time.time()
    docs = spark.read.parquet(path)
    pairs = minhash_near_duplicates_verified(
        docs, "doc_id", "text", shingle_n=3, num_hashes=32, bands=16,
        jaccard_threshold=0.7,
    )
    n = pairs.count()
    dt = time.time() - t0
    spark.stop()
    return dt, n


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    path = build_input(n)
    duck_s, duck_pairs = time_duckdb(path)
    spark_s, spark_pairs = time_spark(path)
    print(json.dumps({
        "replication": n,
        "docs": 5000 * n,
        "duckdb_exact_sec": round(duck_s, 2),
        "spark_minhash_verified_sec": round(spark_s, 2),
        "speedup_vs_duckdb": round(duck_s / spark_s, 2),
        "pairs": {"duckdb_exact": duck_pairs, "spark": spark_pairs},
        "pairs_match": duck_pairs == spark_pairs,
    }, indent=2))


if __name__ == "__main__":
    main()
