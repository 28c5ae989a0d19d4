#!/usr/bin/env python
"""Scale rehearsal: do the heavy dedup/similarity plans survive 10×?

The blocked-pair and banding plans size themselves from parquet
footer row counts (block counts, LSH planes, sketch widths, cells).
This script measures whether those rules hold the cost curve as the
data grows:

1. ``--gen``: synthesize a ~10× documents (50k rows) + embeddings
   (20k rows) dataset into ``.scale10/`` with the exact sf0.1 parquet
   schemas — fresh seeded text sampled from the real per-language
   sf0.1 vocabulary (NOT a row copy: replicating rows 10× would give
   every doc 10 exact twins and blow the pair space artificially),
   plus ~3% planted near-duplicates so the dedup family has real work.
   The other eight tables are copied from sf0.1 so ``load()`` works
   unchanged.
2. ``--run``: run the heavy family at sf0.1 and at ``.scale10``,
   recording wall seconds, result rows, and total shuffle-write bytes
   (Spark UI REST API) per query, plus each tier's derived sizes
   (_derived_knobs).

3. ``--gen100`` / ``--run100`` (round 10): the SECOND decade —
   500k documents / 200k embeddings into ``.scale100/`` and the
   sub-quadratic family (HEAVY_100X) run at 100× under the same
   rules. Two measured decades turn the
   "survives 100×" docstring claim into a fitted scaling exponent
   per family instead of an extrapolation from one.

Results land in ``scale_rehearsal.json``; SCALING.md quotes them.
Serialize with any other Spark work on this box (single-JVM rule).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import urllib.request

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
SCALE1000_DIR = os.path.join(REPO, ".scale1000")
SCALE1000T_DIR = os.path.join(REPO, ".scale1000t")
SCALE10K_DIR = os.path.join(REPO, ".scale10k")
SCALE30K_DIR = os.path.join(REPO, ".scale30k")
N_DOCS_100X = 500_000
N_VECS_100X = 200_000
# rare-tail multiplier tracks the corpus (Heaps): 30× base vocab at
# 10× docs keeps tail-word df single-digit per block; 10× more docs
# needs a ~10× longer tail for the same df regime.
TAIL_MULT_10X = 30
TAIL_MULT_100X = 300

STREAMING = [
    "stream_tumbling",
    "stream_custom_state",
    "stream_dedup",
    # stream⋈stream interval join: state ∝ |users| × 30-min window,
    # output ∝ qualifying pairs — added round 11 for a full curve
    # before its second-decade leg.
    "stream_stream_join",
]

# Second decade for the streaming family: the REAL 10M-row events
# table (--gen100-events); the Python DataSource pair derives its row
# volume from the events footer (pysrc_rows) through the SAME
# task/batch structure.
STREAMING_100X = [
    "stream_python_sink",
    "stream_python_source",
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
# --gen100 regenerates at 500k/200k rows.
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
    # Python DataSource / events family at a REAL 10M-row events
    # table (--gen100-events): the pure-Python avro codec's cost ∝
    # rows and the heavy-hitter sketch's shuffle ∝ distinct combos
    # are both claims the second decade can falsify.
    "scan_avro_roundtrip",
    "agg_freq_items_sketch",
    # facts family at REAL 100x orders/lineitem (--gen100-facts,
    # key-shifted replicas): the bucketed join's zero-exchange claim
    # and the graph family's edges ∝ orders claim, second decade.
    "join_bucketed_colocated",
    "graph_pagerank",
    "graph_shortest_path",
    "graph_triangle_count",
    # z-order rewrite ∝ table bytes: one range exchange + sorted
    # write, measured at a 60M-row / ~1.1 GB lineitem.
    "table_zorder_cluster",
]

# --- third decade (round-11 verdict item 8): a SPOT rehearsal of the
# cheapest sub-linear per-doc/token families at 5M docs / 2M
# embeddings. The 1000× corpus is a key-shifted 10× replication of
# the 100× set (the --gen100-facts technique): content repeats, so it
# is VALID ONLY for content-independent families — every query below
# is a per-doc/per-token transform or a corpus-key aggregate whose
# cost never depends on cross-doc similarity. The pair-based dedup/
# sim families are excluded BY DESIGN (replicated text makes every
# doc a 10-way exact dup: a pathological graph no real corpus has;
# their third decade needs a genuine --gen1000, priced at ~10× the
# 100× generator's Python loop). No knobs: each of these derives its
# sizing from footer rows already.
HEAVY_1000X = [
    "pipeline_corpus_prep",
    "doc_chunk",
    "shuffle_shard",
    "corpus_temperature_sample",
    "sample_weighted_priority",
    "pack_sequences_ffd",
]

# The TRUE-distribution third decade for the PAIR-BASED families:
# --gen1000-true synthesizes 5M genuinely distinct docs with the same
# Zipf-head + rare-tail shape as the canonical sets (vectorized
# generator, new rng stream — the per-doc Python loop would take
# ~10× the 100× generator's minutes), tail_mult continues the
# 30/300 → 3000 rule so tail-word per-block df stays single-digit.
# Every width/cell knob derives from footer counts (round-11 rules:
# minhash r=6 / 48 hashes, simhash 80 bits routed through the
# per-band key path _simhash_band_keys — widths are NOT capped at 64
# bits anymore), so no patch is needed or applied.
HEAVY_1000X_TRUE = [
    "dedup_near_minhash",
    "dedup_simhash",
    "text_tfidf",
    "decontam_ngram_overlap",
    "pipeline_perplexity_gate",
    # the df-capped posting join (cost ∝ n × WORD_DF_CAP — linear by
    # the cap) and the contraction loop on top of it
    "dedup_ngram_jaccard",
    "dedup_clusters_cc",
]

# Embedding family at 2M vectors (--gen1000-emb overwrites the
# .scale1000t embeddings with a true 2M-vector set, same construction
# as gen()): kmeans pins fixed-K linearity a third decade, SemDeDup
# runs its K∝n rule at K=8000, LSH runs lsh_planes = 14 (≈122 per
# bucket), sim_ann_ivf its two-level arm (2M ≥ IVF_TWOLEVEL_FLIP_ROWS).
EMB_1000X_TRUE = [
    "emb_kmeans_lloyd",
    "dedup_semantic_cluster",
    "sim_ann_lsh",
    "sim_ann_ivf",
]

# Fourth decade: 20M vectors, only for the emb families whose
# third-decade legs completed. LSH runs 17 planes (occupancy ~152);
# dedup_semantic_cluster crosses SEMDEDUP_TWOLEVEL_FLIP_ROWS (K1 = 282
# coarse cells, fine cells ~250 rows); sim_ann_ivf runs two-level at
# K1 = 400. kmeans is excluded: fixed K=8 is proven linear through 2M.
EMB_10000X_TRUE = [
    "dedup_semantic_cluster",
    "sim_ann_lsh",
    "sim_ann_ivf",
]

# Half-decade stress point: 60M vectors, sized to stress the
# two-level SemDeDup's per-task memory (coarse cells ~122k rows) and
# ~3× the 20M shuffle volumes without the 200M decade, whose shuffle
# exceeds the free disk. lsh_planes gives 19 (occupancy ~114).
EMB_30000X_TRUE = [
    "dedup_semantic_cluster",
    "sim_ann_lsh",
]

TAIL_MULT_1000X = 3000

# Fourth decade for the PAIR-BASED document families (round 14,
# round-13 verdict item 1): 50M genuinely distinct docs — the same
# vectorized true-distribution generator one decade up. The embedding
# family is measured to 60M vectors; this closes the two-round gap on
# the document side. tail_mult continues the 30/300/3000 → 30000 rule
# (base vocab is 31 words/lang, so the tail array stays ~930k strings
# per lang — memory-trivial). Family = the verdict's list verbatim.
# Every width/cell knob in these plans derives from parquet footer
# counts, so no knob overrides: the leg measures the committed rules.
SCALE10KT_DIR = os.path.join(REPO, ".scale10kt")
TAIL_MULT_10000X = 30_000
N_DOCS_10000X = 50_000_000
HEAVY_10000X_TRUE = [
    "dedup_near_minhash",
    "dedup_simhash",
    "decontam_ngram_overlap",
    "dedup_ngram_jaccard",
    "dedup_clusters_cc",
    "text_tfidf",
    "pipeline_perplexity_gate",
]


def _gen_events(rng, scale_dir: str, n_events: int, n_users: int) -> None:
    """The events writer, extracted so --gen100-events can synthesize
    a 10M-row second-decade table with the same distributions. Called
    with gen()'s own rng IN THE SAME ORDER as the former inline block,
    so the canonical 10× set stays bit-identical."""
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


def gen1000_true(
    n_docs: int = 5_000_000,
    scale_dir: str = SCALE1000T_DIR,
    tail_mult: int = TAIL_MULT_1000X,
    seed_bump: int = 2,
) -> None:
    """TRUE-distribution third-decade corpus: 5M genuinely distinct
    documents with gen()'s exact statistical shape (empirical
    lang/source/length profiles from sf0.1; Zipf 1/(r+10) word draws
    over the base vocab + a tail_mult rare tail; 3% planted near-dups
    at ~5% token edits) — but VECTORIZED: word draws are one global
    inverse-CDF searchsorted per (chunk, lang) instead of a per-doc
    rng.choice, because gen()'s per-doc loop measured minutes at 500k
    docs and would take tens of minutes at 5M. New rng stream
    (SEED+2): this set makes no bit-compat claim against gen(), only
    a distributional one. Near-dup sources draw from the first
    chunk's organic docs (a 500k reservoir) rather than the whole
    corpus — statistically equivalent for banding/recall behavior,
    and it lets the writer stream row groups instead of holding 5M
    texts. tail_mult continues the 30/300 → 3000 per-decade rule so
    tail-word per-block df stays single-digit at 5M docs."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED + seed_bump)
    os.makedirs(scale_dir, exist_ok=True)
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
    vocab_arr: dict[str, object] = {}
    cum_w: dict[str, object] = {}
    for lang in langs:
        base = [
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
        extra = [
            f"{base[i % len(base)]}x{i}" for i in range(tail_mult * len(base))
        ]
        v = base + extra
        vocab_arr[lang] = np.array(v, dtype=object)
        w = 1.0 / (np.arange(len(v)) + 10.0)
        cum_w[lang] = np.cumsum(w / w.sum())
    con.close()

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    dst = os.path.join(scale_dir, "documents.parquet")
    writer = pq.ParquetWriter(dst, schema)
    n_dup = int(n_docs * NEAR_DUP_FRAC)
    n_organic = n_docs - n_dup
    CHUNK = 500_000
    pool_texts: list[str] = []
    pool_langs: list[str] = []
    pool_sources: list[str] = []
    done = 0
    while done < n_organic:
        m = min(CHUNK, n_organic - done)
        c_langs = rng.choice(langs, size=m)
        texts: list[str] = [""] * m
        sources: list[str] = [""] * m
        for lang in langs:
            idxs = np.flatnonzero(c_langs == lang)
            if idxs.size == 0:
                continue
            lens = np.maximum(
                rng.choice(lang_lens[lang], size=idxs.size), 1
            ).astype(np.int64)
            draws = np.searchsorted(
                cum_w[lang], rng.random(int(lens.sum())), side="right"
            )
            words = vocab_arr[lang][draws]
            off = 0
            for j, L in zip(idxs, lens):
                texts[j] = " ".join(words[off : off + L])
                off += L
            srcs = rng.choice(lang_sources[lang], size=idxs.size)
            for j, s in zip(idxs, srcs):
                sources[j] = str(s)
        if not pool_texts:  # first organic chunk = the dup-source pool
            pool_texts = list(texts)
            pool_langs = [str(x) for x in c_langs]
            pool_sources = list(sources)
        writer.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(done, done + m), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array([str(x) for x in c_langs], pa.string()),
                    "source": pa.array(sources, pa.string()),
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                },
                schema=schema,
            )
        )
        done += m
    # planted near-dups: mutated copies of pool docs (~5% token edits)
    while done < n_docs:
        m = min(CHUNK, n_docs - done)
        texts, d_langs, sources = [], [], []
        src_idx = rng.integers(0, len(pool_texts), size=m)
        for si in src_idx:
            toks = pool_texts[si].split(" ")
            lang = pool_langs[si]
            v = vocab_arr[lang]
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = str(
                    v[int(rng.integers(0, len(v)))]
                )
            texts.append(" ".join(toks))
            d_langs.append(lang)
            sources.append(pool_sources[si])
        writer.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(done, done + m), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(d_langs, pa.string()),
                    "source": pa.array(sources, pa.string()),
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                },
                schema=schema,
            )
        )
        done += m
    writer.close()
    import shutil as _sh

    for t in ("region", "nation", "customer", "supplier", "part", "embeddings"):
        src = os.path.join(SCALE100_DIR, f"{t}.parquet")
        d2 = os.path.join(scale_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(d2):
            _sh.copyfile(src, d2)
    print(f"generated {n_docs} true-distribution docs in {scale_dir}")


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

    doc_ids, texts, doc_langs, doc_sources = [], [], [], []
    lang_choices = rng.choice(langs, size=n_docs)
    for i in range(n_docs):
        lang = str(lang_choices[i])
        v = vocab[lang]
        # Zipf-ish: rank r weight 1/(r+10) — matches a natural-corpus
        # head-heavy df profile closely enough for blocking behavior
        ranks = np.arange(len(v))
        w = 1.0 / (ranks + 10)
        n = int(rng.choice(lang_lens[lang]))
        words = rng.choice(v, size=max(n, 1), p=w / w.sum())
        doc_ids.append(i)
        texts.append(" ".join(words))
        doc_langs.append(lang)
        doc_sources.append(str(rng.choice(lang_sources[lang])))
    # planted near-dups: overwrite the tail with mutated copies of
    # random earlier docs (same lang/source → same block, detectable)
    n_dup = int(n_docs * NEAR_DUP_FRAC)
    for j in range(n_docs - n_dup, n_docs):
        src_idx = int(rng.integers(0, n_docs - n_dup))
        toks = texts[src_idx].split(" ")
        for _ in range(max(1, len(toks) // 20)):  # ~5% token edits
            toks[int(rng.integers(0, len(toks)))] = str(
                rng.choice(vocab[doc_langs[src_idx]])
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
    # rehearsal (--stream-run) measures stateful operators against a
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


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across all completed stages so far
    (UI REST API — the session must run with spark.ui.enabled=true).
    uiWebUrl, not a hardcoded :4040 — a busy port silently rebinds to
    4041 and would null every measurement (round-6 review)."""
    app_id = spark.sparkContext.applicationId
    ui = spark.sparkContext.uiWebUrl
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = json.load(r)
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return -1


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
    import time as _t

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    _t.sleep(3)


def run(
    only: list[str] | None = None,
    tiers: list[tuple[str, str]] | None = None,
    family: list[str] | None = None,
) -> None:
    import sys

    sys.path.insert(0, REPO)
    from linux_logs_spark.registry import all_queries
    from linux_logs_spark.session import get_spark, scaled_partitions

    spark = get_spark("scale-rehearsal", extra_conf={"spark.ui.enabled": "true"})
    # absorb JVM/executor bootstrap so the first leg is not charged it
    spark.range(1000).selectExpr("sum(id)").collect()
    specs = all_queries()
    # local filter — rebinding the module global would make a second
    # run() in the same process silently incomplete (round-7 review)
    base = family if family is not None else HEAVY
    heavy = [n for n in base if n in only] if only else list(base)
    # merge into an existing results file so a subset re-run (after a
    # data regen) updates only its own rows
    dest = os.path.join(REPO, "scale_rehearsal.json")
    out: dict[str, dict] = {}
    knobs: dict[str, dict] = {}
    if os.path.exists(dest):
        with open(dest) as fh:
            prev = json.load(fh)
        out = prev.get("queries", {})
        knobs = prev.get("knobs", {})
    for tag, sf_dir in tiers or (("1x", SF1_DIR), ("10x", SCALE_DIR)):
        # Shuffle partitions scale with the tier: pinned at core count,
        # a 50M-doc tier ran ~1.6M docs per post-exchange task and the
        # partial hash-agg under a token explode shipped near-raw tokens
        # (90+ GB shuffle). AQE coalesces small stages back down, so
        # sizing up is free at small tiers. REHEARSAL_SHUFFLE_PARTITIONS
        # pins the count for A/B runs on this dimension alone.
        tier_rows = max(_rows(sf_dir, t) for t in ("documents", "embeddings", "events"))
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            os.environ.get("REHEARSAL_SHUFFLE_PARTITIONS")
            or str(scaled_partitions(tier_rows)),
        )
        knobs[tag] = _derived_knobs(sf_dir)
        for name in heavy:
            if name in WARM_FIRST:
                # an untimed run pays one-time setup (bucketed-table
                # builds, scratch staging) outside the timed region;
                # reaping its scratch first keeps two generations of
                # it off the disk at once
                specs[name].fn(spark, sf_dir).count()
                _reap_scratch(spark)
            sw0 = _shuffle_write_bytes(spark)
            t0 = time.monotonic()
            n_rows = specs[name].fn(spark, sf_dir).count()
            wall = time.monotonic() - t0
            sw1 = _shuffle_write_bytes(spark)
            rec = {
                "wall_s": round(wall, 2),
                "rows": n_rows,
                "shuffle_write_mb": round((sw1 - sw0) / 2**20, 1)
                if sw0 >= 0 and sw1 >= 0
                else None,
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--gen", action="store_true")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--queries", help="comma-separated subset of the heavy family")
    ap.add_argument(
        "--stream-run",
        action="store_true",
        help="run the STREAMING family at 1x and 10x (stateful ops on a "
        "10x event stream; availableNow micro-batch end-to-end)",
    )
    ap.add_argument(
        "--stream-run100",
        action="store_true",
        help="run STREAMING_100X at the 10M-row .scale100 events table "
        "(requires --gen100-events)",
    )
    ap.add_argument(
        "--gen1000",
        action="store_true",
        help="synthesize the 5M-doc third-decade set into .scale1000 as a "
        "key-shifted 10x replication of .scale100 documents (valid for "
        "the content-independent HEAVY_1000X family only)",
    )
    ap.add_argument(
        "--run1000",
        action="store_true",
        help="run the HEAVY_1000X per-doc/token family at 1000x",
    )
    ap.add_argument(
        "--gen1000-true",
        action="store_true",
        help="synthesize a TRUE-distribution 5M-doc corpus into "
        ".scale1000t (vectorized generator) for the pair-based "
        "HEAVY_1000X_TRUE family",
    )
    ap.add_argument(
        "--run1000-true",
        action="store_true",
        help="run HEAVY_1000X_TRUE at the true-distribution 1000x corpus",
    )
    ap.add_argument(
        "--gen10000-true",
        action="store_true",
        help="synthesize a TRUE-distribution 50M-doc corpus into "
        ".scale10kt (fourth decade for the pair-based doc families)",
    )
    ap.add_argument(
        "--run10000-true",
        action="store_true",
        help="run HEAVY_10000X_TRUE at the true-distribution 50M-doc corpus",
    )
    ap.add_argument(
        "--gen1000-emb",
        action="store_true",
        help="overwrite .scale1000t embeddings with a true 2M-vector set",
    )
    ap.add_argument(
        "--run1000-emb",
        action="store_true",
        help="run EMB_1000X_TRUE at the 2M-vector third-decade set",
    )
    ap.add_argument(
        "--gen10000-emb",
        action="store_true",
        help="synthesize the 20M-vector fourth-decade set into .scale10k",
    )
    ap.add_argument(
        "--run10000-emb",
        action="store_true",
        help="run EMB_10000X_TRUE at the 20M-vector fourth-decade set",
    )
    ap.add_argument(
        "--gen30000-emb",
        action="store_true",
        help="synthesize the 60M-vector half-decade set into .scale30k",
    )
    ap.add_argument(
        "--run30000-emb",
        action="store_true",
        help="run EMB_30000X_TRUE at the 60M-vector half-decade set",
    )
    ap.add_argument(
        "--gen100",
        action="store_true",
        help="synthesize the 100x documents/embeddings set into .scale100 "
        "(requires the 10x set: non-doc tables are copied from it)",
    )
    ap.add_argument(
        "--gen100-events",
        action="store_true",
        help="synthesize a 10M-row events table into .scale100 (the "
        "avro/freq-sketch second decade; overwrites the 10x copy)",
    )
    ap.add_argument(
        "--gen100-facts",
        action="store_true",
        help="synthesize 100x orders/lineitem into .scale100 (key-shifted "
        "replicas of sf0.1; the bucketed-join/graph second decade)",
    )
    ap.add_argument(
        "--run100",
        action="store_true",
        help="run the sub-quadratic HEAVY_100X family at 100x only "
        "(1x/10x rows come from --run; results merge by tag)",
    )
    args = ap.parse_args()
    if args.gen:
        gen()
    if args.gen100:
        if not os.path.exists(os.path.join(SCALE_DIR, "events.parquet")):
            ap.error("--gen100 requires the 10x set: run --gen first")
        gen(
            scale_dir=SCALE100_DIR,
            n_docs=N_DOCS_100X,
            n_vecs=N_VECS_100X,
            tail_mult=TAIL_MULT_100X,
            docs_only=True,
        )
    if args.gen100_events:
        import numpy as _np

        if not os.path.exists(os.path.join(SCALE100_DIR, "documents.parquet")):
            ap.error("--gen100-events requires --gen100 first")
        # independent rng stream: the canonical gen() sequences are untouched
        _gen_events(
            _np.random.default_rng(SEED + 1),
            SCALE100_DIR,
            n_events=10_000_000,
            n_users=150_000,
        )
        print(f"generated 10000000 events in {SCALE100_DIR}")
    if args.gen100_facts:
        import duckdb as _duckdb

        if not os.path.exists(os.path.join(SCALE100_DIR, "documents.parquet")):
            ap.error("--gen100-facts requires --gen100 first")
        con = _duckdb.connect()
        key_span = con.execute(
            f"SELECT max(o_orderkey) + 1 FROM read_parquet('{SF1_DIR}/orders.parquet')"
        ).fetchone()[0]
        for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            con.execute(
                f"""
                COPY (
                  SELECT t.* REPLACE ({key} + i * {key_span} AS {key})
                  FROM read_parquet('{SF1_DIR}/{t}.parquet') t
                  CROSS JOIN (SELECT unnest(range(100)) AS i)
                ) TO '{os.path.join(SCALE100_DIR, f"{t}.parquet")}'
                (FORMAT PARQUET, ROW_GROUP_SIZE 1000000)
                """
            )
        con.close()
        print(f"generated 100x orders/lineitem in {SCALE100_DIR}")
    if args.run:
        run(args.queries.split(",") if args.queries else None)
    if args.run100:
        # Guard (round-10 advice): HEAVY_100X includes events/facts
        # legs, but --gen100 alone leaves .scale100 with only the
        # doc/embedding tables — those legs would silently time the
        # 10x-copied tables under the '100x' tag. Verify footer row
        # counts against the second-decade sizes and drop (loudly)
        # any leg whose table was not regenerated.
        import pyarrow.parquet as _pq

        def _rows(name: str) -> int:
            p = os.path.join(SCALE100_DIR, f"{name}.parquet")
            return _pq.ParquetFile(p).metadata.num_rows if os.path.exists(p) else 0

        family = list(HEAVY_100X)
        _EVENTS_LEGS = {"scan_avro_roundtrip", "agg_freq_items_sketch"}
        _FACTS_LEGS = {
            "join_bucketed_colocated", "graph_pagerank", "graph_shortest_path",
            "graph_triangle_count", "table_zorder_cluster",
        }
        if _rows("events") != 10_000_000:
            print("run100: .scale100 events is not the 10M-row second-decade "
                  "table (run --gen100-events); skipping: "
                  + ", ".join(sorted(_EVENTS_LEGS)))
            family = [q for q in family if q not in _EVENTS_LEGS]
        want_li = 100 * _pq.ParquetFile(
            os.path.join(SF1_DIR, "lineitem.parquet")).metadata.num_rows
        if _rows("lineitem") != want_li:
            print(f"run100: .scale100 lineitem != {want_li} rows "
                  "(run --gen100-facts); skipping: "
                  + ", ".join(sorted(_FACTS_LEGS)))
            family = [q for q in family if q not in _FACTS_LEGS]
        run(
            args.queries.split(",") if args.queries else None,
            tiers=[("100x", SCALE100_DIR)],
            family=family,
        )
    if args.stream_run:
        HEAVY = STREAMING  # module scope — run() reads the global
        run()
    if args.gen1000:
        import duckdb as _duckdb3
        import shutil as _shutil

        if not os.path.exists(os.path.join(SCALE100_DIR, "documents.parquet")):
            ap.error("--gen1000 requires --gen100 first")
        os.makedirs(SCALE1000_DIR, exist_ok=True)
        con = _duckdb3.connect()
        # doc_id span: shift replicas past the 100x id range so ids
        # stay unique (and dense-ish) — content repeats BY DESIGN,
        # valid only for the content-independent HEAVY_1000X family.
        con.execute(
            f"""
            COPY (
              SELECT doc_id + i * {N_DOCS_100X} AS doc_id,
                     text, lang, source, n_chars
              FROM read_parquet('{SCALE100_DIR}/documents.parquet')
              CROSS JOIN (SELECT unnest(range(10)) AS i)
              ORDER BY doc_id
            ) TO '{os.path.join(SCALE1000_DIR, "documents.parquet")}'
            (FORMAT PARQUET, ROW_GROUP_SIZE 1000000)
            """
        )
        con.close()
        # small dims + embeddings ride along so catalog.load resolves
        # any incidental lookup; the big fact/event tables stay absent
        # (HEAVY_1000X never reads them, and --run1000 runs no guard
        # against them by construction of the family list).
        for t in ("region", "nation", "customer", "supplier", "part",
                  "embeddings"):
            src = os.path.join(SCALE100_DIR, f"{t}.parquet")
            dst = os.path.join(SCALE1000_DIR, f"{t}.parquet")
            if os.path.exists(src) and not os.path.exists(dst):
                _shutil.copyfile(src, dst)
        print(f"generated {10 * N_DOCS_100X} docs in {SCALE1000_DIR}")
    if args.run1000:
        if not os.path.exists(os.path.join(SCALE1000_DIR, "documents.parquet")):
            ap.error("--run1000 requires --gen1000 first")
        run(
            args.queries.split(",") if args.queries else None,
            tiers=[("1000x", SCALE1000_DIR)],
            family=HEAVY_1000X,
        )
    if args.gen1000_true:
        if not os.path.exists(os.path.join(SCALE100_DIR, "documents.parquet")):
            ap.error("--gen1000-true requires --gen100 first (small tables "
                     "ride along from .scale100)")
        gen1000_true()
    if args.gen1000_emb:
        import numpy as _np2
        import pyarrow as _pa2
        import pyarrow.parquet as _pq3

        if not os.path.exists(os.path.join(SCALE1000T_DIR, "documents.parquet")):
            ap.error("--gen1000-emb requires --gen1000-true first")
        n_vecs = 2_000_000
        rng2 = _np2.random.default_rng(SEED + 3)
        labels = rng2.integers(0, 10, size=n_vecs)
        vecs = rng2.normal(0, 1.0, size=(n_vecs, 64))
        n_vdup = int(n_vecs * NEAR_DUP_FRAC)
        # vectorized form of gen()'s per-dup loop (same distribution)
        src = rng2.integers(0, n_vecs - n_vdup, size=n_vdup)
        vecs[n_vecs - n_vdup :] = vecs[src] + rng2.normal(
            0, 0.05, size=(n_vdup, 64)
        )
        labels[n_vecs - n_vdup :] = labels[src]
        vecs /= _np2.linalg.norm(vecs, axis=1, keepdims=True)
        emb_schema = _pq3.read_table(
            os.path.join(SF1_DIR, "embeddings.parquet")
        ).schema
        emb = _pa2.table(
            {
                "vec_id": _pa2.array(range(n_vecs), _pa2.int64()),
                "embedding": _pa2.array(
                    list(vecs.astype("float32")), _pa2.list_(_pa2.float32())
                ),
                "label": _pa2.array(labels, _pa2.int64()),
            }
        ).cast(emb_schema)
        _pq3.write_table(
            emb, os.path.join(SCALE1000T_DIR, "embeddings.parquet"),
            row_group_size=1_000_000,
        )
        print(f"generated {n_vecs} embeddings in {SCALE1000T_DIR}")
    if args.run1000_emb:
        if not os.path.exists(os.path.join(SCALE1000T_DIR, "embeddings.parquet")):
            ap.error("--run1000-emb requires --gen1000-emb first")
        import pyarrow.parquet as _pq4

        n = _pq4.ParquetFile(
            os.path.join(SCALE1000T_DIR, "embeddings.parquet")
        ).metadata.num_rows
        if n != 2_000_000:
            ap.error(f".scale1000t embeddings has {n} rows, not the 2M "
                     "third-decade set: run --gen1000-emb")
        run(
            args.queries.split(",") if args.queries else None,
            tiers=[("1000x_true", SCALE1000T_DIR)],
            family=EMB_1000X_TRUE,
        )
    if args.gen10000_emb:
        import numpy as _np5
        import pyarrow as _pa5
        import pyarrow.parquet as _pq5

        os.makedirs(SCALE10K_DIR, exist_ok=True)
        n_vecs = 20_000_000
        rng5 = _np5.random.default_rng(SEED + 4)
        labels = rng5.integers(0, 10, size=n_vecs)
        # float32 accumulation in 2M-row chunks: a monolithic float64
        # draw would peak >10 GB; same distribution as gen1000-emb
        # (unit-norm isotropic + 3% planted near-dups), new rng stream
        vecs = _np5.empty((n_vecs, 64), dtype=_np5.float32)
        step = 2_000_000
        for lo in range(0, n_vecs, step):
            vecs[lo : lo + step] = rng5.normal(
                0, 1.0, size=(min(step, n_vecs - lo), 64)
            ).astype(_np5.float32)
        n_vdup = int(n_vecs * NEAR_DUP_FRAC)
        src = rng5.integers(0, n_vecs - n_vdup, size=n_vdup)
        vecs[n_vecs - n_vdup :] = vecs[src] + rng5.normal(
            0, 0.05, size=(n_vdup, 64)
        ).astype(_np5.float32)
        labels[n_vecs - n_vdup :] = labels[src]
        for lo in range(0, n_vecs, step):
            blk = vecs[lo : lo + step]
            blk /= _np5.linalg.norm(blk, axis=1, keepdims=True)
        emb_schema = _pq5.read_table(
            os.path.join(SF1_DIR, "embeddings.parquet")
        ).schema
        writer = _pq5.ParquetWriter(
            os.path.join(SCALE10K_DIR, "embeddings.parquet"), emb_schema
        )
        for lo in range(0, n_vecs, step):
            hi = min(lo + step, n_vecs)
            tbl = _pa5.table(
                {
                    "vec_id": _pa5.array(range(lo, hi), _pa5.int64()),
                    "embedding": _pa5.array(
                        list(vecs[lo:hi]), _pa5.list_(_pa5.float32())
                    ),
                    "label": _pa5.array(labels[lo:hi], _pa5.int64()),
                }
            ).cast(emb_schema)
            writer.write_table(tbl, row_group_size=1_000_000)
        writer.close()
        print(f"generated {n_vecs} embeddings in {SCALE10K_DIR}")
    if args.run10000_emb:
        import pyarrow.parquet as _pq6

        pth = os.path.join(SCALE10K_DIR, "embeddings.parquet")
        if not os.path.exists(pth):
            ap.error("--run10000-emb requires --gen10000-emb first")
        n = _pq6.ParquetFile(pth).metadata.num_rows
        if n != 20_000_000:
            ap.error(f".scale10k embeddings has {n} rows, not the 20M "
                     "fourth-decade set: run --gen10000-emb")
        run(
            args.queries.split(",") if args.queries else None,
            tiers=[("10000x_true", SCALE10K_DIR)],
            family=EMB_10000X_TRUE,
        )
    if args.gen30000_emb:
        import numpy as _np7
        import pyarrow as _pa7
        import pyarrow.parquet as _pq7

        os.makedirs(SCALE30K_DIR, exist_ok=True)
        n_vecs = 60_000_000
        rng7 = _np7.random.default_rng(SEED + 5)
        labels = rng7.integers(0, 10, size=n_vecs)
        # float32 accumulation in 2M-row chunks (the gen10000 shape;
        # the full array is 15.4 GB — fits RAM, a monolithic float64
        # draw would not); same distribution, new rng stream
        vecs = _np7.empty((n_vecs, 64), dtype=_np7.float32)
        step = 2_000_000
        for lo in range(0, n_vecs, step):
            vecs[lo : lo + step] = rng7.normal(
                0, 1.0, size=(min(step, n_vecs - lo), 64)
            ).astype(_np7.float32)
        n_vdup = int(n_vecs * NEAR_DUP_FRAC)
        src = rng7.integers(0, n_vecs - n_vdup, size=n_vdup)
        vecs[n_vecs - n_vdup :] = vecs[src] + rng7.normal(
            0, 0.05, size=(n_vdup, 64)
        ).astype(_np7.float32)
        labels[n_vecs - n_vdup :] = labels[src]
        for lo in range(0, n_vecs, step):
            blk = vecs[lo : lo + step]
            blk /= _np7.linalg.norm(blk, axis=1, keepdims=True)
        emb_schema = _pq7.read_table(
            os.path.join(SF1_DIR, "embeddings.parquet")
        ).schema
        writer = _pq7.ParquetWriter(
            os.path.join(SCALE30K_DIR, "embeddings.parquet"), emb_schema
        )
        for lo in range(0, n_vecs, step):
            hi = min(lo + step, n_vecs)
            tbl = _pa7.table(
                {
                    "vec_id": _pa7.array(range(lo, hi), _pa7.int64()),
                    "embedding": _pa7.array(
                        list(vecs[lo:hi]), _pa7.list_(_pa7.float32())
                    ),
                    "label": _pa7.array(labels[lo:hi], _pa7.int64()),
                }
            ).cast(emb_schema)
            writer.write_table(tbl, row_group_size=1_000_000)
        writer.close()
        print(f"generated {n_vecs} embeddings in {SCALE30K_DIR}")
    if args.run30000_emb:
        import pyarrow.parquet as _pq8

        pth = os.path.join(SCALE30K_DIR, "embeddings.parquet")
        if not os.path.exists(pth):
            ap.error("--run30000-emb requires --gen30000-emb first")
        n = _pq8.ParquetFile(pth).metadata.num_rows
        if n != 60_000_000:
            ap.error(f".scale30k embeddings has {n} rows, not the 60M "
                     "half-decade set: run --gen30000-emb")
        run(
            args.queries.split(",") if args.queries else None,
            tiers=[("30000x_true", SCALE30K_DIR)],
            family=EMB_30000X_TRUE,
        )
    if args.run1000_true:
        if not os.path.exists(os.path.join(SCALE1000T_DIR, "documents.parquet")):
            ap.error("--run1000-true requires --gen1000-true first")
        run(
            args.queries.split(",") if args.queries else None,
            tiers=[("1000x_true", SCALE1000T_DIR)],
            family=HEAVY_1000X_TRUE,
        )
    if args.gen10000_true:
        if not os.path.exists(os.path.join(SCALE1000T_DIR, "documents.parquet")):
            ap.error("--gen10000-true requires --gen1000-true first (small "
                     "tables copy from the same .scale100 lineage)")
        gen1000_true(
            n_docs=N_DOCS_10000X,
            scale_dir=SCALE10KT_DIR,
            tail_mult=TAIL_MULT_10000X,
            seed_bump=4,
        )
    if args.run10000_true:
        import pyarrow.parquet as _pq9

        pth = os.path.join(SCALE10KT_DIR, "documents.parquet")
        if not os.path.exists(pth):
            ap.error("--run10000-true requires --gen10000-true first")
        n = _pq9.ParquetFile(pth).metadata.num_rows
        if n != N_DOCS_10000X:
            ap.error(f".scale10kt documents has {n} rows, not the 50M "
                     "fourth-decade set: run --gen10000-true")
        run(
            args.queries.split(",") if args.queries else None,
            tiers=[("10000x_true", SCALE10KT_DIR)],
            family=HEAVY_10000X_TRUE,
        )
    if args.stream_run100:
        import pyarrow.parquet as _pq2

        ev = os.path.join(SCALE100_DIR, "events.parquet")
        n_ev = _pq2.ParquetFile(ev).metadata.num_rows if os.path.exists(ev) else 0
        if n_ev != 10_000_000:
            ap.error("--stream-run100 needs the 10M-row .scale100 events "
                     "table: run --gen100-events first")
        run(
            args.queries.split(",") if args.queries else None,
            tiers=[("100x", SCALE100_DIR)],
            family=STREAMING_100X,
        )
    if not (args.gen or args.run or args.stream_run or args.gen100
            or args.gen100_events or args.gen100_facts or args.run100
            or args.stream_run100 or args.gen1000 or args.run1000
            or args.gen1000_true or args.run1000_true
            or args.gen10000_true or args.run10000_true
            or args.gen1000_emb or args.run1000_emb
            or args.gen10000_emb or args.run10000_emb
            or args.gen30000_emb or args.run30000_emb):
        ap.error("pass --gen/--gen100/--gen100-events/--gen1000[-true], "
                 "--run/--run100/--run1000[-true], --stream-run and/or "
                 "--stream-run100")
