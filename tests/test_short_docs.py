"""Short-document stress: docs with fewer words than the shingle width.

Round-1 ADVICE found a crash in word_shingles on sub-n-word docs; the
guard (functions/text.py) returns an empty shingle array instead. This
suite runs the REGISTERED text/dedup/decontam queries end-to-end over a
synthetic documents table whose rows are 0-, 1- and 2-word docs (all
below the 3-word shingle width) plus a couple of normal docs, so the
guard is exercised through the real operator plans, not in isolation.
"""

from __future__ import annotations

import os

import pytest
from conftest import drop_scratch

from linux_logs_spark.registry import all_queries

# Queries that read ONLY the documents table and must survive docs
# shorter than the shingle/n-gram width without raising.
DOC_QUERIES = [
    "dedup_exact",
    "dedup_exact_hash",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "decontam_ngram_overlap",
    "text_tokenize_counts",
    "text_tfidf",
    "text_lang_id",
    "text_lang_stats",
    "text_quality_score",
    "text_fingerprint",
    "text_token_count_bpe",
    # round-7 additions over documents
    "text_perplexity",
    "corpus_budget_trim",
    "scan_apache_log",
]


@pytest.fixture(scope="module")
def short_doc_dir(spark, tmp_path_factory):
    """A tmp sf_dir holding a documents.parquet of mostly-short docs.

    doc_ids include a %50==0 row (decontam's stand-in eval set) and two
    identical texts (dedup must still find the one real duplicate).
    """
    d = str(tmp_path_factory.mktemp("shortdocs"))
    rows = [
        (0, "", "en", "web", 0),  # empty doc, also decontam "bench" doc
        (1, "word", "en", "web", 4),  # single word
        (2, "two words", "de", "wiki", 9),  # below shingle width (3)
        (3, "two words", "de", "wiki", 9),  # exact duplicate of 2
        (50, "alpha", "es", "web", 5),  # second bench doc, 1 word
        (4, "the quick brown fox jumps over the lazy dog", "en", "web", 43),
        (5, "a b", "fr", "crawl", 3),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    yield d
    drop_scratch(d)


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_short_docs_do_not_crash(name, spark, short_doc_dir):
    out = all_queries()[name].fn(spark, short_doc_dir)
    rows = out.collect()  # force full execution of the real plan
    assert rows is not None  # shape varies per query; surviving is the contract


def test_short_docs_dedup_finds_the_duplicate(spark, short_doc_dir):
    """The only exact duplicate pair (doc 2/3) must still be detected."""
    out = all_queries()["dedup_exact"].fn(spark, short_doc_dir)
    dup = [r for r in out.collect() if r["n_copies"] > 1]
    assert len(dup) == 1 and dup[0]["keep_doc_id"] == 2
