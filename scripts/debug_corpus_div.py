#!/usr/bin/env python
"""Stage-by-stage divergence hunt for a stress_corpus mismatch: track one
doc id through both implementations, printing after every stage whether
the doc is alive and the md5 of its text, until the first divergent stage.

Usage: python scripts/debug_corpus_div.py N DOC_ID [spark|ref]
"""

from __future__ import annotations

import hashlib
import sys

import pandas as pd

sys.path.insert(0, "scripts")
sys.path.insert(0, ".")

import stress_corpus as SC  # noqa: E402


def md5(t: str) -> str:
    return hashlib.md5(t.encode()).hexdigest()[:12]


def ref_trace(pdf: pd.DataFrame, bl: list[str], target: int) -> None:
    import duckdb
    import re

    con = duckdb.connect()
    con.execute("PRAGMA threads=4")
    cur = pdf[["doc_id", "text"]].copy()
    con.register("cur", cur)

    def show(stage: str) -> None:
        row = cur[cur["doc_id"] == target]
        if len(row):
            print(f"ref  {stage:12s} alive text={md5(row['text'].iloc[0])}")
        else:
            print(f"ref  {stage:12s} DROPPED")

    cur = con.execute(SC.NORMALIZE_SQL).df()
    con.unregister("cur"); con.register("cur", cur)
    show("normalize")

    def dedupe_paras(t: str) -> str:
        seen, out = set(), []
        for p in re.split(r"\n\n+", t):
            p = re.sub(r"^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$", "", p)
            if p and p not in seen:
                seen.add(p)
                out.append(p)
        return "\n\n".join(out)

    cur["text"] = cur["text"].map(dedupe_paras)
    con.unregister("cur"); con.register("cur", cur)
    show("paragraph")

    cur = con.execute(SC.LINE_DEDUP_SQL).df()
    con.unregister("cur"); con.register("cur", cur)
    show("line")

    spans_df = con.execute(SC.SPANS_SQL).df()
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in spans_df.itertuples(index=False):
        by_doc.setdefault(int(r.doc_id), []).append((int(r.start_tok), int(r.end_tok)))
    cur["text"] = [
        SC._cut_spans(t, by_doc[d]) if d in by_doc else t
        for d, t in zip(cur["doc_id"], cur["text"])
    ]
    con.unregister("cur"); con.register("cur", cur)
    print(f"ref  spans        target_spans={sorted(by_doc.get(target, []))}")
    show("spancut")

    passing = set(con.execute(SC.GOPHER_SQL).df()["doc_id"])
    print(f"ref  gopher       pass={target in passing}")
    cur = cur[cur["doc_id"].isin(passing)].reset_index(drop=True)
    con.unregister("cur"); con.register("cur", cur)

    q = con.execute(SC.QUALITY_SQL).df().set_index("doc_id")["quality"]
    rep = con.execute(SC.REPETITION_SQL).df().set_index("doc_id")["dup_ngram_frac"]
    if target in q.index:
        print(f"ref  quality      q={q[target]!r} dup={rep[target]!r}")
    keep_ids = {
        d for d in cur["doc_id"]
        if q[d] >= SC.MIN_QUALITY and rep[d] <= SC.MAX_DUP_NGRAM
    }
    cur = cur[cur["doc_id"].isin(keep_ids)].reset_index(drop=True)
    con.unregister("cur"); con.register("cur", cur)
    show("qualgate")

    con.register("bl", pd.DataFrame({"doc_id": range(len(bl)), "text": bl}))
    contaminated = set(con.execute(SC.DECONTAM_SQL).df()["doc_id"])
    print(f"ref  decontam     contaminated={target in contaminated}")
    cur = cur[~cur["doc_id"].isin(contaminated)].reset_index(drop=True)
    con.unregister("cur"); con.register("cur", cur)

    pairs = con.execute(SC.JACCARD_SQL).df()
    inv = pairs[(pairs["id_a"] == target) | (pairs["id_b"] == target)]
    print(f"ref  pairs        involving_target={inv.values.tolist()}")
    # save the final per-stage corpus + pairs for cross-checks
    cur.to_parquet("/tmp/ref_cur_final.parquet")
    pairs.to_parquet("/tmp/ref_pairs.parquet")


def spark_trace(pdf: pd.DataFrame, bl: list[str], target: int) -> None:
    import pyspark.sql.functions as F

    from tegallega_spark.operators import textual as TXT
    from tegallega_spark.operators.dedup import (
        contamination_report,
        exact_shingle_jaccard_pairs,
    )
    from tegallega_spark.session import get_spark

    spark = get_spark("corpus-debug")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.createDataFrame(pdf)
    bl_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(bl)), "text": bl})
    )

    def show(df, stage):
        row = df.filter(F.col("doc_id") == target).select("text").collect()
        if row:
            print(f"spark {stage:12s} alive text={md5(row[0][0])}")
        else:
            print(f"spark {stage:12s} DROPPED")
        return df

    nt = TXT.normalize_text_udf()
    docs = docs.withColumn("text", nt(F.col("text")))
    show(docs, "normalize")
    docs = docs.withColumn("text", TXT.dedupe_paragraphs(F.col("text")))
    show(docs, "paragraph")
    docs = TXT.remove_boilerplate_lines(
        docs, max_doc_frequency=SC.LINE_MAX_DF
    ).persist()
    show(docs, "line")
    spans = TXT.duplicated_spans(
        docs, k=SC.SPAN_K, min_count=SC.SPAN_MIN_COUNT
    )
    tsp = spans.filter(F.col("doc_id") == target).collect()
    print(f"spark spans        target_spans={sorted((r.start_tok, r.end_tok) for r in tsp)}")
    docs = TXT.remove_duplicate_spans(
        docs, k=SC.SPAN_K, min_count=SC.SPAN_MIN_COUNT
    ).persist()
    show(docs, "spancut")

    gf = TXT.gopher_quality_flags(docs)
    grow = gf.filter(F.col("doc_id") == target).select("gopher_pass").collect()
    print(f"spark gopher       pass={grow[0][0] if grow else None}")
    docs = docs.join(
        gf.filter(F.col("gopher_pass")).select("doc_id"), "doc_id", "left_semi"
    )

    scored = docs.withColumn("quality", TXT.quality_score(F.col("text")))
    rep = TXT.repetition_stats(docs)
    both = scored.join(rep, "doc_id")
    rowq = both.filter(F.col("doc_id") == target).select(
        "quality", "dup_ngram_frac"
    ).collect()
    if rowq:
        print(f"spark quality      q={rowq[0][0]!r} dup={rowq[0][1]!r}")
    kept = both.filter(
        (F.col("quality") >= SC.MIN_QUALITY)
        & (F.col("dup_ngram_frac") <= SC.MAX_DUP_NGRAM)
    ).drop("top_ngram_frac").persist()
    show(kept, "qualgate")

    cont = contamination_report(kept, bl_df, SC.SHINGLE_N)
    crow = cont.filter(F.col("doc_id") == target).collect()
    print(f"spark decontam     contaminated={bool(crow)}")
    kept = kept.join(cont.select("doc_id"), "doc_id", "left_anti").persist()

    pairs = exact_shingle_jaccard_pairs(
        kept, SC.SHINGLE_N, SC.JACCARD_T,
        max_df=SC.MAX_SHINGLE_DF,
    )
    inv = pairs.filter(
        (F.col("id_a") == target) | (F.col("id_b") == target)
    ).collect()
    print(f"spark pairs        involving_target={[tuple(r) for r in inv]}")
    kept.select("doc_id", "text").toPandas().to_parquet("/tmp/spark_cur_final.parquet")
    pairs.toPandas().to_parquet("/tmp/spark_pairs.parquet")
    spark.stop()


def main() -> None:
    n = int(sys.argv[1])
    target = int(sys.argv[2])
    side = sys.argv[3] if len(sys.argv) > 3 else "both"
    pdf = SC.build_corpus(n)
    bl = SC.blocklist_texts(pdf)
    if side in ("ref", "both"):
        ref_trace(pdf, bl, target)
    if side in ("spark", "both"):
        spark_trace(pdf, bl, target)


if __name__ == "__main__":
    main()
