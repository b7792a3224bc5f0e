"""Inverted-index construction over the documents table
(SURVEY.md §2.11 [EXT] — search-side counterpart of the TF-IDF and
rarity scorers in textstats/queries_text).

The 100 TB shape: term postings are built with a rank-limited window
(``row_number() <= k`` directly above the window lets Spark plan a
``WindowGroupLimit`` — per-partition top-k heaps run BEFORE the term
exchange, so a stopword with a billion postings ships only k rows per
input partition instead of a billion). Document frequency rides a
separate partial-aggregated count over the same exploded stream; both
aggregations and the final join hash on ``term``, so AQE keeps them
co-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def inverted_index(docs: DataFrame, k_postings: int = 5) -> DataFrame:
    """Build (term, df, postings) where ``df`` is the exact document
    frequency and ``postings`` holds the first ``k_postings`` doc_ids
    (ascending) containing the term — the truncated posting list a
    search tier would store hot."""
    terms = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("term"),
    )
    df_counts = terms.groupBy("term").agg(F.count("*").alias("df"))
    ranked = Window.partitionBy("term").orderBy("doc_id")
    top = (
        terms.withColumn("rn", F.row_number().over(ranked))
        .filter(F.col("rn") <= k_postings)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("postings"))
    )
    return df_counts.join(top, "term").select("term", "df", "postings")
