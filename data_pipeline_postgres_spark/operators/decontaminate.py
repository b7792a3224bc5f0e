"""Benchmark decontamination for training corpora (SURVEY.md §2.11
[EXT]): flag training documents that share word n-grams with an
evaluation/benchmark set — the standard pre-training hygiene step
(GPT-3 §C / The Pile / Dolma all ship a variant of 13-gram overlap
decontamination).

Scale shape (the whole point at 100 TB):

- The eval/benchmark side is TINY (thousands of documents — MMLU,
  GSM8K, …), so its distinct n-gram set is collected into a broadcast
  hash relation.
- The training corpus is FILTERED BEFORE IT SHUFFLES: the exploded
  n-gram stream (≈ corpus token count × n-gram width — the single
  biggest relation in the whole pipeline) is cut down by the
  broadcast-hash join first, so the only exchange carries admitted
  (doc_id, ngram) rows — for a hygienic corpus, a sliver of the
  input. Deduping overlaps per doc is then a two-phase
  ``count(DISTINCT ngram)`` keyed by doc_id (partial on
  (doc_id, ngram) inside the task, one exchange on doc_id).
  Distinct-then-join would shuffle the full exploded relation to
  dedup it — backwards at 100 TB.
- n-gram width trades recall vs precision; the default here is 4 so
  the synthetic fixture (short docs) produces overlap. Production
  sets use 10-13.

Determinism: tokenization and shingling are pure string ops mirrored
exactly by the DuckDB oracle (plans/queries_curation.py) — no hashing, no
floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def doc_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, ngram) — distinct word n-grams per document.

    The ``distinct`` shuffles the full exploded relation; use it only
    on SMALL inputs (the eval split). The training side must stay
    non-distinct until after the broadcast filter — see
    ``flag_contaminated``.
    """
    return raw_ngrams(docs, n).distinct()


def raw_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, ngram) with per-doc duplicates — a narrow explode.

    r15: spread across cores first (catalog.spread_scan — no-op at
    real scale) so the shingle explode never runs single-task on the
    single-row-group test files (guide §2.5)."""
    from ..catalog import spread_scan

    return spread_scan(docs, "doc_id").select(
        "doc_id",
        F.explode(TX.word_shingles(TX.tokens("text"), n)).alias("ngram"),
    )


def flag_contaminated(
    docs: DataFrame, n: int = 4, eval_mod: int = 97
) -> DataFrame:
    """(doc_id, n_hits): training documents sharing ≥1 word ``n``-gram
    with the eval split, with the count of distinct overlapping
    n-grams.

    The eval split is carved deterministically (``doc_id % eval_mod
    == 0``) so the query is self-contained and oracle-checkable; in
    production the eval side is the benchmark corpus relation.
    """
    is_eval = F.col("doc_id") % eval_mod == 0
    ev = raw_ngrams(docs.filter(is_eval), n).select("ngram").distinct()
    # filter first (broadcast hash), THEN dedup per doc: the exchange
    # carries only eval-overlapping n-grams, never the exploded corpus
    return (
        raw_ngrams(docs.filter(~is_eval), n)
        .join(F.broadcast(ev), "ngram")
        .groupBy("doc_id")
        .agg(F.count_distinct("ngram").alias("n_hits"))
    )


def decontaminated(
    docs: DataFrame, n: int = 4, eval_mod: int = 97
) -> DataFrame:
    """The surviving training split: docs with NO eval n-gram overlap
    (left-anti join against the contaminated flag relation)."""
    bad = flag_contaminated(docs, n, eval_mod).select("doc_id")
    return (
        docs.filter(~(F.col("doc_id") % eval_mod == 0))
        .join(bad, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )
