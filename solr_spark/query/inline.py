"""Index-free BM25 pipeline straight from a (docid, content) DataFrame.

Same semantics as the materialized-index path (query/engine.py) but the
postings/stats are derived lazily inside one plan — used by the driver
correctness gate, where each query call must be self-contained. All the
scoring pieces (analyzer, SmallFloat quantization, BM25 exprs) are the
shared definitions, so this path and the indexed path agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.analyzer import tokens_col
from solr_spark.functions.bm25 import idf_col, tf_part_col
from solr_spark.functions.smallfloat import quantize_col
from solr_spark.query.engine import analyze_query, norm_mode
from solr_spark.session import local_frame


def doc_tokens(docs: DataFrame, id_col: str = "docid", text_col: str = "content") -> DataFrame:
    """(id, text) -> (docid, toks, doclen, dl_q)."""
    return docs.select(
        F.col(id_col).cast("long").alias("docid"),
        tokens_col(text_col).alias("toks"),
    ).select(
        "docid",
        "toks",
        F.size("toks").alias("doclen"),
        quantize_col(F.size("toks")).cast("int").alias("dl_q"),
    )


def bm25_inline_scores(
    docs: DataFrame,
    qtext: str,
    mode: str = "OR",
    id_col: str = "docid",
    text_col: str = "content",
) -> DataFrame:
    """ALL matching (docid, s) scores (unrounded) in one declarative plan.

    Global stats (N, avgdl, per-term df) are subplans joined in via
    cross/broadcast joins, so Catalyst still sees one optimizable tree.
    """
    mode = norm_mode(mode)
    spark = docs.sparkSession
    qterms = analyze_query(qtext)
    tok = doc_tokens(docs, id_col, text_col)
    meta = tok.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("doclen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    if not qterms:
        return local_frame(spark, [], "docid long, s double")
    qrel = local_frame(
        spark, [(t, float(c)) for t, c in qterms.items()], "term string, qtf double"
    )
    tf = (
        tok.select("docid", "dl_q", F.explode("toks").alias("term"))
        .join(F.broadcast(qrel), "term")
        .groupBy("term", "docid", "dl_q", "qtf")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    stats = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(stats, "term")
        .crossJoin(F.broadcast(meta))
        .select(
            "docid",
            (
                F.col("qtf")
                * idf_col(F.col("df"), F.col("n_docs"))
                * tf_part_col(F.col("tf"), F.col("dl_q"), F.col("avgdl"))
            ).alias("contrib"),
        )
        .groupBy("docid")
        .agg(F.sum("contrib").alias("s"), F.count(F.lit(1)).alias("nm"))
    )
    if mode == "AND":
        scored = scored.where(F.col("nm") == len(qterms))
    return scored.select("docid", "s")


def bm25_inline_topk(
    docs: DataFrame,
    qtext: str,
    k: int = 10,
    mode: str = "OR",
    id_col: str = "docid",
    text_col: str = "content",
) -> DataFrame:
    """Top-k (docid, score rounded to 4) — the hash-compare contract.

    Orders by the ROUNDED score: raw float sums differ across engines in
    the last ulp (addition order), which would make the k-cutoff
    nondeterministic vs a single-node oracle; rounding collapses those
    pseudo-ties and docid breaks them identically everywhere.
    """
    scored = bm25_inline_scores(docs, qtext, mode, id_col, text_col)
    return (
        scored.orderBy(F.desc(F.round("s", 4)), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("s", 4).alias("score"))
    )
