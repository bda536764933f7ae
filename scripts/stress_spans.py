#!/usr/bin/env python
"""Duplicated-span dedup scale race: ExactSubstr-style span detection
(Spark, operators/textual.duplicated_spans) vs DuckDB running the
IDENTICAL query (k-gram windows → occurrence counts → interval merge) as
plain SQL on the same parquet corpus.

Corpus: N synthetic docs of 80-200 random tokens; 20% get one of 50
boilerplate spans (20-40 tokens) spliced in, and 5% are whole-doc
duplicates — so the answer contains partial spans, full-doc spans, and
plenty of unique text.  Both engines compute the exact same span set
(asserted identical per doc), so the race is simultaneously a second
independent-implementation correctness oracle.

Usage: python scripts/stress_spans.py [N ...]   (default 5000 20000 80000)
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/tegallega_spans_stress"
K = 8
MIN_COUNT = 2


def build_corpus(n: int, seed: int = 23) -> list[tuple[int, str]]:
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(5000)])
    boilers = [
        " ".join(rng.choice(vocab, size=int(rng.integers(20, 41))))
        for _ in range(50)
    ]
    docs: list[tuple[int, str]] = []
    for i in range(n):
        if i % 20 == 19 and docs:  # 5% whole-doc duplicates
            docs.append((i, docs[int(rng.integers(0, len(docs)))][1]))
            continue
        toks = list(rng.choice(vocab, size=int(rng.integers(80, 201))))
        if rng.random() < 0.2:
            b = boilers[int(rng.integers(0, len(boilers)))].split()
            at = int(rng.integers(0, len(toks)))
            toks = toks[:at] + b + toks[at:]
        docs.append((i, " ".join(toks)))
    return docs


def write_parquet(docs: list[tuple[int, str]], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], type=pa.int64()),
                "text": pa.array([t for _, t in docs]),
            }
        ),
        path,
    )


DUCK_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY raw_pos) - 1 AS pos,
         tok
  FROM (SELECT doc_id,
               unnest(string_split_regex(text, '\\s+')) AS tok,
               generate_subscripts(string_split_regex(text, '\\s+'), 1) AS raw_pos
        FROM read_parquet('{{path}}'))
  WHERE tok <> ''
),
grams AS (
  SELECT doc_id, pos,
         array_to_string(list(tok) OVER w, ' ') AS gram,
         count(*) OVER w AS glen
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {K - 1} FOLLOWING)
),
kgrams AS (SELECT doc_id, pos, gram FROM grams WHERE glen = {K}),
dup AS (SELECT gram FROM kgrams GROUP BY gram HAVING count(*) >= {MIN_COUNT}),
hits AS (
  SELECT doc_id, pos AS s, pos + {K} AS e
  FROM kgrams WHERE gram IN (SELECT gram FROM dup)
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN max(e) OVER prev IS NULL OR s > max(e) OVER prev
              THEN 1 ELSE 0 END AS new_span
  FROM hits
  WINDOW prev AS (PARTITION BY doc_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
spans AS (
  SELECT doc_id, s, e,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
)
SELECT doc_id, min(s) AS start_tok, max(e) AS end_tok
FROM spans GROUP BY doc_id, span_id
"""


def exact_referee(docs: list[tuple[int, str]]) -> set:
    """Exact single-node re-derivation of the span spec (k-gram occurring
    >= MIN_COUNT corpus-wide, per-doc interval merge) in vectorized numpy.

    Exists because DuckDB — span-identical through 1.28 M docs — is
    OOM-killed (>107 GB on three configurations) at 2.56 M, leaving the
    r7 point unverified.  A PLANTED-inventory check (the obvious fix)
    is subtly wrong: a k-gram straddling a boiler splice's left boundary
    matches the same straddle in another doc whenever the preceding
    context token coincides (p = 1/vocab per occurrence pair ≈ 10⁴
    expected extensions per boiler at 2.56 M), so real span sets contain
    context extensions the naive inventory misses — both engines agree
    on them because they are genuinely duplicated text.  This referee
    instead recomputes the exact answer with memory ∝ corpus tokens:

    - the corpus's fixed-width 'wDDDD' tokens decode to uint16 ids with
      one frombuffer reshape (no per-token Python);
    - k-grams pack to 16-byte records; np.unique marks records seen
      >= MIN_COUNT times — EXACT string-equality semantics, no hashing,
      no collision caveat;
    - interval merge is one vectorized pass over the duplicated gram
      positions (new span ⇔ doc changes or gap > 0 between intervals).

    ~12 GB peak at 2.56 M docs vs DuckDB's >107 GB: the referee holds
    packed grams, not window-CTE materializations."""
    texts = [t for _, t in docs]
    doc_ids = np.array([d for d, _ in docs], dtype=np.int64)
    lens = np.array([t.count(" ") + 1 for t in texts], dtype=np.int64)
    blob = (" ".join(texts) + " ").encode()
    a = np.frombuffer(blob, dtype=np.uint8).reshape(-1, 6)
    assert (a[:, 0] == ord("w")).all(), "referee assumes wDDDD tokens"
    d1, d2, d3, d4 = (a[:, j].astype(np.uint16) - 48 for j in (1, 2, 3, 4))
    ids = (d1 * 1000 + d2 * 100 + d3 * 10 + d4).astype(np.uint16)
    del a, blob

    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    total = int(lens.sum())
    # global k-gram view; valid grams don't cross doc boundaries
    win = np.lib.stride_tricks.sliding_window_view(ids, K)
    doc_of = np.repeat(np.arange(len(lens)), lens)[: win.shape[0]]
    local = np.arange(win.shape[0]) - starts[doc_of]
    valid = local <= (lens[doc_of] - K)
    grams = np.ascontiguousarray(win[valid]).view("|V16").ravel()
    g_doc = doc_of[valid]
    g_pos = local[valid]
    del win, doc_of, local, valid, ids

    _, inv, counts = np.unique(grams, return_inverse=True, return_counts=True)
    dup = counts[inv] >= MIN_COUNT
    del grams, inv, counts

    d, p = g_doc[dup], g_pos[dup]
    if len(d) == 0:
        return set()
    new_span = np.empty(len(d), dtype=bool)
    new_span[0] = True
    new_span[1:] = (d[1:] != d[:-1]) | (p[1:] > p[:-1] + K)
    bounds = np.flatnonzero(new_span)
    ends = np.concatenate((bounds[1:], [len(d)])) - 1
    return {
        (int(doc_ids[d[b]]), int(p[b]), int(p[e]) + K)
        for b, e in zip(bounds, ends)
    }


def run_duckdb(path: str) -> tuple[float, set]:
    import duckdb

    t0 = time.perf_counter()
    con = duckdb.connect()
    # At 2.56 M docs the window CTEs exceed DuckDB's default in-memory
    # budget (80% of RAM: the in-process python was OOM-killed at 107 GB
    # anon RSS on this 128 GiB host).  Cap the budget below the kernel's
    # kill line and give it a spill directory so the reference engine
    # gets its fair disk-backed path instead of a SIGKILL.
    con.execute("SET memory_limit='60GB'")
    os.makedirs(os.path.join(OUT, "duckspill"), exist_ok=True)
    con.execute(f"SET temp_directory='{os.path.join(OUT, 'duckspill')}'")
    rows = con.execute(DUCK_SQL.format(path=path)).fetchall()
    return time.perf_counter() - t0, {tuple(r) for r in rows}


def run_spark(spark, path: str) -> tuple[float, set]:
    from tegallega_spark.operators.textual import duplicated_spans

    t0 = time.perf_counter()
    spans = duplicated_spans(
        spark.read.parquet(path), k=K, min_count=MIN_COUNT
    )
    got = {(r.doc_id, r.start_tok, r.end_tok) for r in spans.collect()}
    return time.perf_counter() - t0, got


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [5000, 20000, 80000]
    os.makedirs(OUT, exist_ok=True)

    from tegallega_spark.session import get_spark

    spark = get_spark("spans-stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    import statistics

    results = []
    for n in sizes:
        path = os.path.join(OUT, f"docs_{n}.parquet")
        docs = build_corpus(n)
        write_parquet(docs, path)
        # median-of-N on BOTH engines (r5 verdict: DuckDB's side jitters
        # 2-3× across sessions on this VM, so a single sample per engine
        # makes the ratio column noise).  Multi-minute runs self-average,
        # so very large N defaults to 1 run; override with SPANS_RUNS.
        runs = int(os.environ.get("SPANS_RUNS", "3" if n <= 320_000 else "1"))
        # DuckDB is span-identical through 1.28 M and OOM-killed past it
        # (>107 GB on three configurations, r7); above the cutoff the
        # exact numpy referee below is the verifier, so the point is no
        # longer "unverified" — it is checked against a second exact
        # implementation that fits this host.
        duck_cutoff = int(os.environ.get("TEGALLEGA_DUCKDB_CUTOFF", "1280000"))
        run_duck = n <= duck_cutoff
        ts_samples, td_samples = [], []
        spark_spans = duck_spans = None
        for _ in range(runs):
            ts, spark_spans = run_spark(spark, path)
            ts_samples.append(ts)
            if run_duck:
                td, duck_spans = run_duckdb(path)
                td_samples.append(td)
        ref_spans = exact_referee(docs)
        del docs
        assert spark_spans == ref_spans, (
            f"N={n}: spark vs exact referee differ "
            f"(spark {len(spark_spans)}, referee {len(ref_spans)})"
        )
        if run_duck:
            assert duck_spans == ref_spans, (
                f"N={n}: duckdb vs exact referee differ "
                f"(duckdb {len(duck_spans)}, referee {len(ref_spans)})"
            )
        ts_m = statistics.median(ts_samples)
        row = {
            "n_docs": n,
            "spans": len(spark_spans),
            "spark_s": round(ts_m, 2),
            "runs": runs,
            "spark_spread": round(max(ts_samples) - min(ts_samples), 2),
            "verified": "exact-referee+duckdb" if run_duck else "exact-referee",
        }
        if run_duck:
            td_m = statistics.median(td_samples)
            row.update(
                duckdb_s=round(td_m, 2),
                ratio=round(td_m / ts_m, 2),
                duckdb_spread=round(max(td_samples) - min(td_samples), 2),
            )
        results.append(row)
        print(json.dumps(results[-1]), file=sys.stderr)

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
