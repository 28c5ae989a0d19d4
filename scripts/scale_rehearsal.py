#!/usr/bin/env python
"""Scale rehearsal: do the heavy dedup/similarity plans hold their cost
at 10× and 100×?

The blocked-pair and banding plans size themselves from parquet
footer row counts (block counts, LSH planes, sketch widths, cells).
This script measures whether those rules hold the cost curve as the
data grows, on the two seeded tiers a ~20 GB disk holds:

- ``10x`` (``.scale10/``): 50k documents and 20k embeddings with the
  exact sf0.1 parquet schemas — fresh seeded text sampled from the
  real per-language sf0.1 vocabulary (NOT a row copy: replicating
  rows 10× would give every doc 10 exact twins and blow the pair space
  artificially), plus ~3% planted near-duplicates so the dedup family
  has real work; 1M events; orders/lineitem as 10 key-shifted
  replicas of sf0.1; the small dimension tables copied from sf0.1.
- ``100x`` (``.scale100/``): 500k documents and 200k embeddings, every
  other table copied from the 10x set. Only the sub-quadratic
  document/embedding family (HEAVY_100X) runs there.

Usage::

    python scripts/scale_rehearsal.py --gen 10x
    python scripts/scale_rehearsal.py --gen 100x        # needs .scale10
    python scripts/scale_rehearsal.py --run 1x 10x [--queries a,b]
    python scripts/scale_rehearsal.py --run 100x
    python scripts/scale_rehearsal.py --run 1x 10x --stream

``1x`` is sf0.1. Each leg records wall seconds, result rows, and the
shuffle-write, task-CPU and GC totals of its stages, read from Spark's
in-process status store (perfbench's StatusProbe), plus each tier's
derived sizes (_derived_knobs). Full-family results merge into
``scale_rehearsal.json``, which SCALING.md quotes; ``--queries``
subset runs merge into the gitignored ``scale_rehearsal_subset.json``.
Serialize with any other Spark work on the host (single-JVM rule).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = "/root/testdata/sf0.1"
SCALE_DIR = os.path.join(REPO, ".scale10")
SEED = 20260814
N_DOCS = 50_000
N_VECS = 20_000
NEAR_DUP_FRAC = 0.03

# --- second decade: one measured decade makes the scale claim an
# extrapolation, two make it a CURVE — the per-family
# scaling exponent alpha = log(w_100x / w_1x) / 2 falls out of the
# pair of legs. Only documents/embeddings are regenerated at 100×
# (the sub-quadratic dedup/similarity family reads nothing else);
# events/facts come from the 10× set so `load()` keeps working.
SCALE100_DIR = os.path.join(REPO, ".scale100")
N_DOCS_100X = 500_000
N_VECS_100X = 200_000
# rare-tail multiplier tracks the corpus (Heaps): 30× base vocab at
# 10× docs keeps tail-word df single-digit per block; 10× more docs
# needs a ~10× longer tail for the same df regime.
TAIL_MULT_10X = 30
TAIL_MULT_100X = 300

TIERS = {"1x": SF1_DIR, "10x": SCALE_DIR, "100x": SCALE100_DIR}
RESULTS = os.path.join(REPO, "scale_rehearsal.json")

STREAMING = [
    "stream_tumbling",
    "stream_custom_state",
    "stream_dedup",
    # stream⋈stream interval join: state ∝ |users| × 30-min window,
    # output ∝ qualifying pairs — added round 11 for a full curve
    # before its second-decade leg.
    "stream_stream_join",
]

HEAVY = [
    "dedup_near_minhash",
    "dedup_shingle_jaccard",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters_cc",
    "decontam_ngram_overlap",
    "sim_cosine_blocked",
    "sim_ann_lsh",
    "sim_ann_ivf",
    # fact⋈fact zero-exchange claim (round-6 verdict item 6): the 10x
    # dir carries GENUINELY 10× orders/lineitem (key-shifted replicas,
    # same per-key fan-out), so the bucketed join's wall/shuffle curve
    # is a real scale datapoint, not a copy of the 1x one.
    "join_bucketed_colocated",
    # iterative-graph family: fixed-horizon power method — per-
    # iteration cost ∝ |edges| (co-purchase pairs ∝ orders), rank
    # state ∝ |parts|; the 10x leg measures that the chained-shuffle
    # loop scales linearly with the edge volume, no knobs to raise.
    "graph_pagerank",
    # materialized-rollup REFRESH: warm-first materializes the closed-
    # hours base untimed, so the measured pass is the incremental
    # refresh itself — the O(delta)+O(rollup) claim, at 10x events.
    "log_rollup_incremental",
    # iterative-tokenizer family: ONE corpus-sized word-frequency pass,
    # then N_BPE_MERGES |vocab|-sized rounds — the claim is the pass
    # scales ~linearly while the rounds are Heaps-sublinear (fixed
    # 31-words/lang synthetic vocab ⇒ round cost should be FLAT at
    # 10x; only the first pass grows). Round-7 verdict item 7.
    "bpe_train_merges",
    # round-8 adds with a scale claim worth a datapoint:
    # - kmeans: per-iteration cost ∝ N·K map-side + K-key agg; wall
    #   should grow ≲ linearly with vectors (driver traffic constant).
    # - triangles: degree orientation caps wedge work at O(m^1.5);
    #   edges ∝ orders, so 10x orders bounds the wedge-join curve.
    # - budget trim: the distributed prefix sum (r7 verdict item 4's
    #   fix) must scale with partitions, not |langs|.
    "emb_kmeans_lloyd",
    "graph_triangle_count",
    "corpus_budget_trim",
    # - frontier BFS: per-round cost ∝ edges⋈frontier; on a dense
    #   graph the frontier saturates after round 1-2, so 10x edges
    #   should grow wall ≲ linearly (the anti-join keeps late rounds
    #   near-free — the claim the frontier-delta form was chosen for).
    "graph_shortest_path",
    # - substring dedup: postings ∝ corpus words; the dup detection is
    #   one hash agg and the coverage explode is bounded by dup
    #   postings × SPAN_K — wall should track posting volume, with no
    #   quadratic pair term anywhere.
    "dedup_substring_span",
    # - SemDeDup: within-cluster pair volume is Σ|cell|² ≈ n²/K — at
    #   fixed K the 10x leg measures the n²/K curve directly;
    #   production raises K with n (the paper's sizing rule) exactly
    #   like the LSH plane count, trading kmeans assignment cost
    #   (N·K) for pair volume.
    "dedup_semantic_cluster",
    # - z-order rewrite: cost = one range exchange + sorted write,
    #   both ∝ table bytes; the 10x leg pins that the clustering
    #   rewrite stays a linear single-pass (no global sort, no
    #   quadratic term) as the table grows.
    "table_zorder_cluster",
    # Python DataSource protocol family (round-8 verdict item 5):
    # three of the nine slowest 1x queries (6.6-8.2 s) — the claim to
    # measure is that the cost is Python-worker protocol overhead
    # that AMORTIZES: 10x rows through the same task/batch structure
    # (10x synth_rows over the same 8 parts; 10x events through the
    # same availableNow micro-batches; 10x pysrc_rows over the same
    # restart count) should grow wall well under 10x.
    "sink_python_datasource",
    "stream_python_sink",
    "stream_python_source",
    # round-9 adds with a scale claim worth a datapoint:
    # - heavy-hitters summary: one map-side-combined count aggregate
    #   (shuffle = distinct (day, shard, item) combos, never events —
    #   the first cut's applyInPandas grouping shuffled the raw
    #   stream, 21 MB at 10x, and was rewritten JVM-side after this
    #   leg caught it) + a bounded per-summary row_number cut.
    "agg_freq_items_sketch",
    # - avro roundtrip: writer cost ∝ rows through the pure-Python
    #   codec, reader fans out one task per container block — 10x
    #   events is 10x blocks, so wall should track row volume with
    #   no super-linear term (and the block split count scales).
    "scan_avro_roundtrip",
    # round-10 adds with a scale claim worth a datapoint:
    # - perplexity gate: four map-side-partial hash aggregates whose
    #   shuffles carry vocab / distinct eval terms / eval docs /
    #   (lang, source) blocks — never documents; the LM join is
    #   size-gated (broadcast under the 24 MB gate, shuffle equi-join
    #   on word past it). 10x docs should grow wall ≲ linearly with
    #   token volume (vocab is Heaps-sublinear on the synthetic text).
    "pipeline_perplexity_gate",
    # - tf-idf: same shape (two term-key aggregates + a size-gated
    #   df-frame join); the claim is shuffle ∝ distinct (doc, term),
    #   not corpus bytes.
    "text_tfidf",
    # training-data pipeline ops (round 10, measured through the
    # second decade): each claims wall ∝ tokens/docs, never pairs.
    "pipeline_corpus_prep",
    "pack_sequences_ffd",
    "sample_weighted_priority",
    "corpus_temperature_sample",
    "shuffle_shard",
    "doc_chunk",
]

# Queries whose first run pays conditional one-time setup (bucketed
# writes) — run once untimed before the measured pass (round-7 review).
WARM_FIRST = {
    "join_bucketed_colocated",
    "graph_pagerank",
    "log_rollup_incremental",
    # 16 merge rounds × plan compile: the first run JITs the whole
    # fold/explode pipeline — cold-vs-warm measured 32s vs ~9s at 1x,
    # inverting the 1x/10x curve (round-8; same class as the bucketed
    # join's cold-leg artifact).
    "bpe_train_merges",
    # same cold-compile artifact (first measured pass 2.09s vs 0.5s
    # warm at 1x inverted the curve); BFS additionally re-checkpoints
    # its edge frame per run, so warming levels the codegen share.
    "dedup_substring_span",
    "graph_shortest_path",
    # kmeans-train collect + 64-dim codegen: cold first pass dominates
    "dedup_semantic_cluster",
    # scratch-dir staging + write-path JIT on the first pass
    "table_zorder_cluster",
    # Python-worker spawn + stream/checkpoint staging dominate the
    # first pass; each call resets its checkpoint/scratch so the
    # warmed run still does the full row volume.
    "sink_python_datasource",
    "stream_python_sink",
    "stream_python_source",
    # DataSource worker spawn / first-pass codegen; both redo the
    # full row volume when warm (fresh scratch write per call for
    # avro; stateless JVM aggregate for the sketch).
    "agg_freq_items_sketch",
    "scan_avro_roundtrip",
    # four chained hash aggs + decimal round6 folds: cold first pass
    # is codegen-bound (4.11s cold vs 2.2s warm at 1x inverted the
    # 1x/10x curve — same class as bpe_train_merges).
    "pipeline_perplexity_gate",
    # pandas-UDF worker spawn + window codegen dominate the cold 1x
    # leg on solo reruns (lsh measured 7.4s cold vs 3.0s inside the
    # warmed full-family pass).
    "sim_ann_lsh",
    "sim_ann_ivf",
    # the oriented edge frame is session-cached since round 11
    # (_tri_oriented) — warm once so the timed pass measures the
    # wedge+close enumeration, not the shared build prefix.
    "graph_triangle_count",
}

# --- second decade: the SUB-QUADRATIC document/embedding family only
# (the exact blocked-pair baselines — sim_cosine_blocked,
# dedup_shingle_jaccard, dedup_embedding_cosine — are quadratic BY
# DESIGN as ground-truth anchors; their scale path IS this family).
# Every query here reads only documents/embeddings, which
# ``--gen 100x`` regenerates at 500k/200k rows; the 100x tier runs
# these legs only, since its other tables are copies of the 10x set.
HEAVY_100X = [
    "dedup_near_minhash",
    "dedup_simhash",
    "decontam_ngram_overlap",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "dedup_semantic_cluster",
    "dedup_substring_span",
    "corpus_budget_trim",
    "pipeline_perplexity_gate",
    "text_tfidf",
    # fixed-K trainer: per-iteration cost n·K·dim with K=8 constant —
    # the 100× leg pins assignment linearity when K does NOT follow n
    # (contrast with dedup_semantic_cluster's K∝n finding).
    "emb_kmeans_lloyd",
    # training-data pipeline ops (round 10): every one is one or two
    # corpus-key aggregates / shuffles — the claims are all "∝ tokens
    # or docs, never pairs", which the second decade can falsify —
    # including the end-to-end dedup→quality→sample funnel composite.
    "pipeline_corpus_prep",
    "pack_sequences_ffd",
    "sample_weighted_priority",
    "corpus_temperature_sample",
    "shuffle_shard",
    "doc_chunk",
    # min-label contraction over the near-dup pair graph — rounds ∝
    # diameter; since round 11 no round shuffles the edge volume
    # (label-space contraction), so cc ≈ edge build + ε.
    "dedup_clusters_cc",
    # the edge build alone (same blocked_jaccard_pairs + J>=0.5):
    # its 100× leg decomposes cc — the round-10 "1.97 GB per-round"
    # reading was wrong; the shuffle is the one-time posting-join
    # candidate volume, shared verbatim with this query.
    "dedup_ngram_jaccard",
]


def _gen_events(rng, scale_dir: str, n_events: int, n_users: int) -> None:
    """The events writer of gen(). Called with gen()'s own rng IN THE
    SAME ORDER as the former inline block, so the canonical 10× set
    stays bit-identical."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # UTC-pinned: naive datetimes resolve in the HOST zone, which
    # would shift the whole event span (and every per-hour window
    # population) when regenerating under a non-UTC TZ (round-7
    # review) — breaking the seeded-reproducibility claim.
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    t1 = dt.datetime(2024, 1, 31, tzinfo=dt.timezone.utc).timestamp()
    ts_us = rng.uniform(t0, t1, size=n_events) * 1e6
    ev = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(ts_us.astype("int64"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array(
                rng.choice(["signup", "click", "error", "view", "purchase"], n_events),
                pa.string(),
            ),
            "value": pa.array(
                np.round(rng.uniform(0.01, 490.02, n_events), 2), pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
                pa.string(),
            ),
        }
    )
    pq.write_table(ev, os.path.join(scale_dir, "events.parquet"))



def gen(
    scale_dir: str = SCALE_DIR,
    n_docs: int = N_DOCS,
    n_vecs: int = N_VECS,
    tail_mult: int = TAIL_MULT_10X,
    docs_only: bool = False,
) -> None:
    """Default arguments reproduce the canonical 10× set bit-for-bit
    (same SEED, same rng call order). ``docs_only`` is the 100× mode:
    regenerate documents + embeddings at the requested size and copy
    every other table from the existing 10× set — the second-decade
    family reads nothing else, and 100× facts/events would cost
    gigabytes for queries that never scan them."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    os.makedirs(scale_dir, exist_ok=True)

    # --- documents: per-lang vocab + length/source distributions from
    # the real sf0.1 corpus, Zipf-ish sampling per doc.
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT lang, source, len(string_split(text, ' ')) AS n_words
        FROM read_parquet('{SF1_DIR}/documents.parquet')
        """
    ).fetchall()
    langs = sorted({r[0] for r in rows})
    lang_sources: dict[str, list[str]] = {}
    lang_lens: dict[str, list[int]] = {}
    for lang, source, n_words in rows:
        lang_sources.setdefault(lang, []).append(source)
        lang_lens.setdefault(lang, []).append(n_words)
    vocab = {
        lang: [
            w
            for (w,) in con.execute(
                f"""
                SELECT word FROM (
                  SELECT unnest(string_split(text, ' ')) AS word
                  FROM read_parquet('{SF1_DIR}/documents.parquet')
                  WHERE lang = ?
                ) GROUP BY word ORDER BY count(*) DESC, word
                """,
                [lang],
            ).fetchall()
            if w
        ]
        for lang in langs
    }
    con.close()
    # Real corpora carry a LONG RARE-WORD TAIL (Heaps/Zipf): content
    # words have tiny document frequency, and that is the design
    # assumption behind df-capped posting-list blocking. The sf
    # testdata generator instead uses a FIXED 31-word/lang vocabulary
    # at every SF — no tail at all. Run 1 of this rehearsal
    # (scale_rehearsal_run1_fixedvocab.json) measured the consequence:
    # at 10× every word's per-block df blows past WORD_DF_CAP and the
    # word-posting paths lose all postings (0 pairs), while the
    # 3-gram-SHINGLE paths (minhash, decontam) keep working because
    # shingling re-lengthens the tail (31³ possible shingles). The
    # canonical rehearsal therefore extends the vocab with a ~30×
    # synthetic rare tail (Zipf-weighted to ranks 30..990), sized so
    # tail-word per-block df lands in single digits at 500 docs/block
    # — the regime real text occupies.
    for lang in langs:
        base = vocab[lang]
        extra = [f"{base[i % len(base)]}x{i}" for i in range(tail_mult * len(base))]
        vocab[lang] = base + extra

    # Per-language sampling arrays, built once (rng.choice converts a
    # list to the same array, so the draws are unchanged). Zipf-ish:
    # rank r weight 1/(r+10) — matches a natural-corpus head-heavy df
    # profile closely enough for blocking behavior.
    words_of, zipf_p, lens_of, sources_of = {}, {}, {}, {}
    for lang in langs:
        words_of[lang] = np.array(vocab[lang])
        w = 1.0 / (np.arange(len(words_of[lang])) + 10)
        zipf_p[lang] = w / w.sum()
        lens_of[lang] = np.array(lang_lens[lang])
        sources_of[lang] = np.array(lang_sources[lang])
    doc_ids, texts, doc_langs, doc_sources = [], [], [], []
    lang_choices = rng.choice(langs, size=n_docs)
    for i in range(n_docs):
        lang = str(lang_choices[i])
        n = int(rng.choice(lens_of[lang]))
        words = rng.choice(words_of[lang], size=max(n, 1), p=zipf_p[lang])
        doc_ids.append(i)
        texts.append(" ".join(words))
        doc_langs.append(lang)
        doc_sources.append(str(rng.choice(sources_of[lang])))
    # planted near-dups: overwrite the tail with mutated copies of
    # random earlier docs (same lang/source → same block, detectable)
    n_dup = int(n_docs * NEAR_DUP_FRAC)
    for j in range(n_docs - n_dup, n_docs):
        src_idx = int(rng.integers(0, n_docs - n_dup))
        toks = texts[src_idx].split(" ")
        for _ in range(max(1, len(toks) // 20)):  # ~5% token edits
            toks[int(rng.integers(0, len(toks)))] = str(
                rng.choice(words_of[doc_langs[src_idx]])
            )
        texts[j] = " ".join(toks)
        doc_langs[j] = doc_langs[src_idx]
        doc_sources[j] = doc_sources[src_idx]
    docs = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(doc_langs, pa.string()),
            "source": pa.array(doc_sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(scale_dir, "documents.parquet"))

    # --- embeddings: the real table is UNIT-NORM and essentially
    # isotropic (measured: per-label center norms ≈ 0.07, same-label
    # mean cosine ≈ 0.005), so the 10× set is isotropic unit vectors —
    # run 1 of this rehearsal generated 10 TIGHT gaussian clusters
    # instead, which skewed every LSH bucket/IVF cell and inflated the
    # candidate volume quadratically; keep the geometry honest.
    orig = pq.read_table(os.path.join(SF1_DIR, "embeddings.parquet"))
    emb_schema = orig.schema
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = rng.normal(0, 1.0, size=(n_vecs, 64))
    n_vdup = int(n_vecs * NEAR_DUP_FRAC)
    for j in range(n_vecs - n_vdup, n_vecs):
        src_idx = int(rng.integers(0, n_vecs - n_vdup))
        vecs[j] = vecs[src_idx] + rng.normal(0, 0.05, size=64)
        labels[j] = labels[src_idx]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [v.astype("float32") for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int64()),
        }
    )
    emb = emb.cast(emb_schema)
    pq.write_table(emb, os.path.join(scale_dir, "embeddings.parquet"))

    if docs_only:
        # 100× mode: the second-decade family reads only documents/
        # embeddings; every other table comes from the canonical 10×
        # set (generate it first) so `load()` resolves all ten names.
        for t in (
            "region nation customer supplier part "
            "orders lineitem events".split()
        ):
            shutil.copy(
                os.path.join(SCALE_DIR, f"{t}.parquet"),
                os.path.join(scale_dir, f"{t}.parquet"),
            )
        print(f"generated {n_docs} docs / {n_vecs} vecs (docs_only) in {scale_dir}")
        return

    # --- events: ~10× (1M rows) with the sf0.1 distributions —
    # uniform over the same 30-day span, 10× the user population,
    # uniform 5-type mix, exact 2-decimal values — so the STREAMING
    # rehearsal (--stream) measures stateful operators against a
    # 10× event stream, not a copied 1× table.
    n_events = 1_000_000
    _gen_events(rng, scale_dir, n_events, n_users=15_000)

    for t in "region nation customer supplier part".split():
        shutil.copy(
            os.path.join(SF1_DIR, f"{t}.parquet"),
            os.path.join(scale_dir, f"{t}.parquet"),
        )
    # orders/lineitem at REAL 10×: replicate with the order key shifted
    # by replica index — per-key join fan-out (lines per order) is
    # preserved exactly, so the bucketed fact⋈fact join sees 10× rows
    # with the same key-distribution statistics (the statistics-match
    # rule that burned the round-6 rehearsal's first documents gen).
    con2 = duckdb.connect()  # the vocab connection closed above
    key_span = con2.execute(
        f"SELECT max(o_orderkey) + 1 FROM read_parquet('{SF1_DIR}/orders.parquet')"
    ).fetchone()[0]
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        con2.execute(
            f"""
            COPY (
              SELECT t.* REPLACE ({key} + i * {key_span} AS {key})
              FROM read_parquet('{SF1_DIR}/{t}.parquet') t
              CROSS JOIN (SELECT unnest(range(10)) AS i)
            ) TO '{os.path.join(scale_dir, f"{t}.parquet")}' (FORMAT PARQUET)
            """
        )
    con2.close()
    print(f"generated {n_docs} docs / {n_vecs} vecs / {n_events} events in {scale_dir}")


def _rows(sf_dir: str, table: str) -> int:
    """Footer row count, 0 for a table the tier does not carry."""
    from linux_logs_spark.catalog import table_path, table_row_count

    if not os.path.exists(table_path(sf_dir, table)):
        return 0
    return table_row_count(sf_dir, table)


def _derived_knobs(sf_dir: str) -> dict:
    """The footer-derived sizes a tier runs with, recorded beside its
    legs so scale_rehearsal.json says what ran."""
    from linux_logs_spark.operators.llm_pipeline import (
        dedup_blocks,
        lsh_planes,
        sim_blocks,
    )
    from linux_logs_spark.operators.scans import synth_rows
    from linux_logs_spark.streaming.queries import pysrc_rows

    knobs = {}
    if n_vecs := _rows(sf_dir, "embeddings"):
        knobs.update(lsh_planes=lsh_planes(n_vecs),
                     dedup_blocks=dedup_blocks(n_vecs),
                     sim_blocks=sim_blocks(n_vecs))
    if n_events := _rows(sf_dir, "events"):
        knobs.update(synth_rows=synth_rows(n_events),
                     pysrc_rows=pysrc_rows(n_events))
    return knobs


def _reap_scratch(spark) -> None:
    """Release unreferenced localCheckpoint blocks and shuffle files:
    Python GC drops the py4j handles, a JVM System.gc() lets Spark's
    ContextCleaner enqueue the cleanups, and the sleep gives its
    async thread time to unpersist before the next action allocates."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    time.sleep(3)


def run(
    tiers: list[tuple[str, str]],
    family: list[str] = HEAVY,
    only: list[str] | None = None,
    dest: str | None = None,
) -> None:
    """Run ``family`` (narrowed to ``only``) at each ``(tag, dir)`` tier
    and merge one record per leg into the JSON file ``dest``. By
    default a full-family run merges into the tracked RESULTS that
    SCALING.md quotes, and a subset run into the gitignored
    ``scale_rehearsal_subset.json`` beside it, so checking a few
    queries never rewrites the recorded figures."""
    import sys

    if dest is None:
        dest = os.path.splitext(RESULTS)[0] + "_subset.json" if only else RESULTS

    sys.path.insert(0, REPO)
    from linux_logs_spark.registry import all_queries
    from linux_logs_spark.session import get_spark, scaled_partitions
    from perfbench.probe import StatusProbe

    spark = get_spark("scale-rehearsal")
    # absorb JVM/executor bootstrap so the first leg is not charged it
    spark.range(1000).selectExpr("sum(id)").collect()
    probe = StatusProbe(spark)
    specs = all_queries()
    # merge into an existing results file so a subset re-run (after a
    # data regen) updates only its own rows
    out: dict[str, dict] = {}
    knobs: dict[str, dict] = {}
    if os.path.exists(dest):
        with open(dest) as fh:
            prev = json.load(fh)
        out = prev.get("queries", {})
        knobs = prev.get("knobs", {})
    for tag, sf_dir in tiers:
        legs = [n for n in family if not only or n in only]
        if tag == "100x":
            legs = [n for n in legs if n in HEAVY_100X]
        # Shuffle partitions scale with the tier: pinned at core count,
        # a 50M-doc tier ran ~1.6M docs per post-exchange task and the
        # partial hash-agg under a token explode shipped near-raw tokens
        # (90+ GB shuffle). AQE coalesces small stages back down, so
        # sizing up is free at small tiers.
        tier_rows = max(_rows(sf_dir, t) for t in ("documents", "embeddings", "events"))
        spark.conf.set("spark.sql.shuffle.partitions", str(scaled_partitions(tier_rows)))
        knobs[tag] = _derived_knobs(sf_dir)
        for name in legs:
            if name in WARM_FIRST:
                # an untimed run pays one-time setup (bucketed-table
                # builds, scratch staging) outside the timed region;
                # reaping its scratch first keeps two generations of
                # it off the disk at once
                specs[name].fn(spark, sf_dir).count()
                _reap_scratch(spark)
            mark = probe.mark()
            epoch0 = time.time() * 1e3
            t0 = time.monotonic()
            n_rows = specs[name].fn(spark, sf_dir).count()
            wall = time.monotonic() - t0
            c = probe.read(mark, epoch0, time.time() * 1e3)
            rec = {
                "wall_s": round(wall, 2),
                "rows": n_rows,
                "shuffle_write_mb": round(c["shuffleWriteBytes"] / 2**20, 1),
                "task_cpu_s": round(c["executorCpuTime"] / 1e9, 2),
                "gc_s": round(c["jvmGcTime"] / 1e3, 2),
            }
            out.setdefault(name, {})[tag] = rec
            print(f"{tag:>4} {name:28} {wall:7.2f}s {n_rows:>9} rows "
                  f"{rec['shuffle_write_mb']} MB shuffle", flush=True)
            _reap_scratch(spark)
            # checkpoint every leg: a long run that dies keeps the rest
            _write_results(dest, out, knobs)
    _write_results(dest, out, knobs)
    print(f"wrote {dest}")


def _write_results(dest: str, out: dict, knobs: dict) -> None:
    with open(dest, "w") as fh:
        json.dump(
            {"n_docs_10x": N_DOCS, "n_vecs_10x": N_VECS, "seed": SEED,
             "n_docs_100x": N_DOCS_100X, "n_vecs_100x": N_VECS_100X,
             "knobs": knobs, "queries": out},
            fh, indent=1,
        )


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Seeded 10x/100x scale rehearsal.")
    ap.add_argument("--gen", choices=("10x", "100x"),
                    help="synthesize a tier (100x copies its non-document "
                    "tables from the 10x set)")
    ap.add_argument("--run", nargs="+", choices=TIERS, metavar="TIER",
                    help="run the family at these tiers: 1x (sf0.1), 10x, 100x")
    ap.add_argument("--queries", help="comma-separated subset of the family")
    ap.add_argument("--stream", action="store_true",
                    help="run the STREAMING family instead of the heavy one")
    args = ap.parse_args()
    if not (args.gen or args.run):
        ap.error("pass --gen and/or --run")
    if args.gen == "10x":
        gen()
    elif args.gen == "100x":
        if not os.path.exists(os.path.join(SCALE_DIR, "events.parquet")):
            ap.error("--gen 100x copies tables from the 10x set: run --gen 10x first")
        gen(
            scale_dir=SCALE100_DIR,
            n_docs=N_DOCS_100X,
            n_vecs=N_VECS_100X,
            tail_mult=TAIL_MULT_100X,
            docs_only=True,
        )
    if args.run:
        run(
            [(t, TIERS[t]) for t in args.run],
            family=STREAMING if args.stream else HEAVY,
            only=args.queries.split(",") if args.queries else None,
        )
