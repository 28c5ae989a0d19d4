"""LLM-data-pipeline operators (SURVEY.md §2.11): dedup (exact, n-gram
Jaccard, MinHash-LSH, SimHash), similarity search (brute-force cosine
top-k, kNN label vote, LSH-bucketed ANN), text analysis (tokenize,
TF-IDF, language-ID, quality scoring, fingerprinting), and multimodal
columns.

Scale shapes:
- Exact dedup / token stats: hash-aggregate, map-side partial, one
  shuffle on the dedup key.
- MinHash-LSH / SimHash: the candidate join is an EQUI-join on
  (band_id, band_hash) — the O(n²) pair space never materializes;
  only same-bucket candidates are verified. This is the 100 TB path.
- Brute-force cosine is the CORRECTNESS baseline — the pair space is
  enumerated through a blocked (qblk, cblk) cell equi-join, never a
  cross join or full-table broadcast; sim_ann_lsh is the scale path.
- Joins against computed corpus-sized frames carry no broadcast hint:
  the broadcast threshold and AQE size them, so at test scale they
  broadcast and past the threshold they shuffle on their equi-keys.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linux_logs_spark.catalog import load, table_row_count
from linux_logs_spark.functions.compat import dsum
from linux_logs_spark.session import (
    default_parallelism,
    spread_ingest,
)
from linux_logs_spark.functions.text import (
    LANG_MARKERS,
    ROLLING_MOD,
    STOPWORDS,
    marker_hits,
    rolling_fingerprint,
    word_shingles,
    words,
)
from linux_logs_spark.functions.vector import (
    block_pair_keys,
    dot_unrolled_sql,
    norm_unrolled_sql,
    round6_away_sql,
)
from linux_logs_spark.registry import register
from linux_logs_spark.sources.multimodal import (
    byte_histogram_features,
    with_media_columns,
)

# ----------------------------------------------------------------- dedup


@register(
    "dedup_exact",
    "llm",
    oracle="""
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY text
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup, keep-lowest-doc_id. Expressed as groupBy on
    the text (hash shuffle on content) — at 100 TB you'd group on
    sha2(text) to shuffle 32-byte keys instead of documents; here the
    oracle groups raw text so we do too (same plan shape)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    ).select("keep_doc_id", "n_copies")


# Absolute per-block document-frequency ceiling for word-level
# Jaccard pairing. A word appearing in df docs of one (lang, source)
# block contributes df·(df-1)/2 candidate pairs — one stopword-grade
# token in a 100 TB block would dominate the whole job, so words above
# the ceiling are dropped from BOTH the intersection and the per-doc
# set sizes (Jaccard over the informative-word sets; ubiquitous words
# carry ~no similarity signal anyway). 12 binds on the synthetic
# corpus (block df reaches 15) so the capped path is actually
# exercised by the oracle comparison; production would raise it.
WORD_DF_CAP = 12

# The word-level Jaccard CTE shared (verbatim) by the
# dedup_ngram_jaccard and dedup_clusters_cc oracles — must mirror
# blocked_jaccard_pairs() exactly, including the df cap.
_JACCARD_PAIRS_SQL = f"""
w0 AS (
  SELECT DISTINCT doc_id, lang, source, unnest(string_split(text, ' ')) AS word
  FROM documents
), w AS (
  SELECT doc_id, lang, source, word FROM (
    SELECT w0.*, count(*) OVER (PARTITION BY lang, source, word) AS df FROM w0
  ) WHERE df <= {WORD_DF_CAP}
), nw AS (
  SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM w a JOIN w b
    ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b, n_common,
         CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
  FROM inter
  JOIN nw na ON doc_a = na.doc_id
  JOIN nw nb ON doc_b = nb.doc_id
)
"""


def _posting_frame(
    d: DataFrame,
    postings,
    block_cols: tuple[str, ...],
    df_cap: int | None,
) -> DataFrame:
    """The (doc_id, *block_cols, wh) posting frame of
    posting_jaccard_pairs: explode → 8-byte hash → distinct → optional
    per-block df cap. Split out so it stays independently testable."""
    cols = ["doc_id", *block_cols]
    w = (
        d.select(*cols, F.explode(postings).alias("unit"))
        .select(*cols, F.xxhash64("unit").alias("wh"))
        .distinct()
    )
    if df_cap is not None:
        wb = Window.partitionBy(*block_cols, "wh")
        w = (
            w.withColumn("df", F.count("*").over(wb))
            .filter(F.col("df") <= df_cap)
            .drop("df")
        )
    return w


def posting_jaccard_pairs(
    d: DataFrame,
    postings,
    block_cols: tuple[str, ...] = ("lang", "source"),
    df_cap: int | None = WORD_DF_CAP,
) -> DataFrame:
    """(doc_a, doc_b, n_common, jaccard) for doc pairs sharing posting
    units (an array Column: words, shingles, …) within ``block_cols``
    blocks, optionally df-capped per block.

    ONE definition of the subtle posting-join pipeline (round-6 review:
    the shingle variant had duplicated it line-for-line). The 100 TB-
    safe shape (round-3 verdict item 3): the posting list projects to
    ``xxhash64(unit)`` immediately after explode, so every downstream
    shuffle carries 8-byte longs, never strings (same fix as
    decontam_ngram_overlap); the cap bounds any unit's pair
    contribution at cap²/2 regardless of corpus size (``df_cap=None``
    = exact semantics: cost is Σ df² — only safe for naturally-rare
    units like shingles). Oracles join on the raw string — hash keying
    is semantics-preserving (xxhash64 injective in practice; a
    collision would only merge two units, as in decontam)."""
    # Round-14 shape: the per-doc posting count rides the frame as a
    # window count instead of a separate groupBy→(na, nb) join pair.
    # That leaves the self-join's two inputs as the SAME subtree, so
    # at scale (sort-merge regime) the second side is a ReusedExchange
    # — the scan→explode→hash→distinct(→df-cap) pipeline executes
    # exactly once per query with NOTHING pinned in the block manager
    # (pinned under test by tests/test_plans.py). An earlier round-14
    # attempt localCheckpoint'd `w` instead: one pass too, but it
    # materializes a CORPUS-sized frame per run — measured compounding
    # block-manager churn on the uncapped shingle variant (solo passes
    # 1.9 → 32 s across repeats until the ContextCleaner caught up).
    # It also needed two corpus-sized pair⋈nw joins afterwards, which
    # this shape deletes outright (guide §2.4/§3.1: fewer shuffles of
    # the WIDE frame beats broadcasting a corpus-sized count table).
    #
    # Round-15 disposition (verdict item 1 — the window count's
    # broadcast-regime cost): a regime-conditional variant that swapped
    # the window for a map-side-combined groupBy(doc_id) count
    # broadcast-joined into the frame (gated on Catalyst's own size
    # estimate vs autoBroadcastJoinThreshold, i.e. exactly the
    # planner's self-join regime) was built and A/B'd interleaved in
    # one session, 8 reps/side at sf0.1: count-join shingle median
    # 3.58 s / min 2.59 vs window 2.29 / 1.97; ngram 1.95/1.52 vs
    # 1.29/1.12. The count join is STRICTLY WORSE locally — it adds a
    # third (and, pre-joined per side, fourth) static execution of the
    # posting pipeline, while AQE's runtime stage reuse already serves
    # the window shape's duplicate subtrees from one execution. The
    # round-14 +14% reading traced to host-regime inflation (the same
    # session's r13-code control reproduced it). Closed: the window
    # count stays unconditional.
    w = _posting_frame(d, postings, block_cols, df_cap)
    w = w.withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    a, b = w.alias("a"), w.alias("b")
    cond = (F.col("a.wh") == F.col("b.wh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # n_a/n_b are functionally dependent on doc_a/doc_b, so adding
    # them as grouping keys leaves the groups (and n_common) identical
    # to the historical groupBy(doc_a, doc_b) + count-join plan.
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        a.join(b, cond)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("n_common"))
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
    )


def blocked_jaccard_pairs(d: DataFrame) -> DataFrame:
    """Word-set Jaccard pairs within (lang, source) blocks, per-block
    df ≤ WORD_DF_CAP — the capped configuration of
    posting_jaccard_pairs shared by the dedup/edit-verify/CC family."""
    return posting_jaccard_pairs(
        d,
        words("text"),
        block_cols=("lang", "source"),
        df_cap=WORD_DF_CAP,
    )


@register(
    "dedup_ngram_jaccard",
    "llm",
    oracle=f"""
WITH {_JACCARD_PAIRS_SQL}
SELECT doc_a, doc_b, n_common, jaccard FROM pairs WHERE jaccard >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level (1-gram) Jaccard near-dup within (lang, source)
    blocks. Blocking keys bound the pair space (classic blocked
    dedup); the intersection is an equi-join on the hashed, df-capped
    posting list — see blocked_jaccard_pairs for the scale analysis.
    NOTE: word-set similarity is a different (coarser) space than the
    3-gram shingle Jaccard that dedup_near_minhash sketches — on a
    shared-vocabulary corpus most pairs are word-similar while few
    are shingle-similar; tests/test_ann_quality.py measures minhash
    recall against brute-force SHINGLE Jaccard for that reason."""
    d = load(spark, sf_dir, "documents")
    return blocked_jaccard_pairs(d).filter(F.col("jaccard") >= 0.5)


@register(
    "dedup_edit_verify",
    "llm",
    oracle=f"""
WITH {_JACCARD_PAIRS_SQL}
SELECT doc_a, doc_b, jaccard,
       CAST(levenshtein(substr(ta.text, 1, 80), substr(tb.text, 1, 80)) AS BIGINT)
         AS prefix_edit_dist
FROM pairs
JOIN documents ta ON doc_a = ta.doc_id
JOIN documents tb ON doc_b = tb.doc_id
WHERE jaccard >= 0.4
""",
)
def dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of blocked near-dup candidates:
    word-Jaccard blocking proposes pairs (set similarity is order-
    blind), levenshtein over an 80-char prefix then measures ORDERED
    similarity — the cheap second opinion that separates shuffled
    bags-of-words from genuinely repeated passages.

    Scale shape: levenshtein is O(len²) per pair, so it must only ever
    run on candidates — here the df-capped posting-list join bounds
    the pair count, the prefix bounds per-pair cost at 80², and the
    candidate frame joins the documents scan twice to fetch prefixes —
    the corpus is never collected, shuffled on text, or self-joined.
    The candidate frame is computed and worst-case grows with the
    corpus, so neither join carries a hint: AQE sees its materialized
    size and broadcasts it while it is small, else both joins shuffle
    on doc_id."""
    d = load(spark, sf_dir, "documents")
    pairs = blocked_jaccard_pairs(d).filter(F.col("jaccard") >= 0.4)
    pref = d.select("doc_id", F.substring("text", 1, 80).alias("p"))
    with_a = (
        pref.alias("da")
        .join(pairs, F.col("da.doc_id") == F.col("doc_a"))
        .select("doc_a", "doc_b", "jaccard", F.col("da.p").alias("pa"))
    )
    return (
        pref.alias("db")
        .join(with_a, F.col("db.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.levenshtein("pa", F.col("db.p")).cast("long").alias("prefix_edit_dist"),
        )
    )


N_MINHASH = 16
# 8 bands × 2 rows: detection prob at the J=0.5 verify threshold is
# 1-(1-0.5²)⁸ ≈ 0.90 (threshold ≈ (1/b)^(1/r) ≈ 0.35). The original
# 4×4 banding detected only 1-(1-0.5⁴)⁴ ≈ 0.23 of true J=0.5 pairs —
# measured 27 survivors vs 1023 exact pairs at sf0.001 before the fix.
# n-SCALING (round-10 second-decade finding): at fixed (b, r) the
# random-collision candidate volume is n²·E[s^r]·b — quadratic. The
# knob is ROWS PER BAND: grow the signature (N_MINHASH) at fixed
# N_BANDS so r = N_MINHASH/N_BANDS rises ~log n; each extra row
# multiplies a random pair's band-collision odds by E[s] (≲0.3)
# while a true near-dup (s ≳ 0.8) keeps ≳0.8× detection per band.
# The 100× rehearsal runs 32 hashes / 8 bands (r=4): J=0.8 detection
# 1-(1-0.8⁴)⁸ ≈ 0.98, J=0.3 background collisions cut 0.09 → 0.008
# per band (~11×) — measured 458 s → see SCALING.md.
N_BANDS = 8  # 2 rows per band at defaults

# The widths above are BASE values, safe up to _SKETCH_BASE_DOCS rows
# (the 10× rehearsal's 50k-doc corpus ran them sub-linear; the 100×
# 500k-doc corpus did not). Past the base the effective width is
# DERIVED from the parquet footer row count — the `_semdedup_k`
# pattern (round-11 verdict item 3): a 100 TB run gets the right
# width from the data alone, no operator hand-patch. The rules
# continue the measured per-decade sequence exactly (50k→16/48,
# 500k→32/64), in integer arithmetic so the decade boundaries are
# exact; at or below the base both return the module constant, so
# every committed scale factor — and any test that patches the
# constant — is bit-identical to the pre-derivation behavior.
_SKETCH_BASE_DOCS = 50_000


def minhash_width(n_docs: int) -> int:
    """Effective minhash signature width for an n_docs corpus:
    +2 rows per band per decade past the base (E[s] ≲ 0.3 →
    E[s]^r must shrink ×10/decade to hold n²·E[s^r]·b ∝ n;
    0.3² ≈ 1/11). Returns N_MINHASH at n ≤ _SKETCH_BASE_DOCS."""
    r = N_MINHASH // N_BANDS
    scale = _SKETCH_BASE_DOCS
    while n_docs > scale:
        r += 2
        scale *= 10
    return N_BANDS * r


def simhash_width(n_docs: int) -> int:
    """Effective simhash signature bits: +4 bits per band per decade
    past the base (2^-4 ≈ 1/16 per-band random-collision cut per
    ×100 of n² — collisions then grow ~6×/decade, matching the
    historical 48→64 step's budget). Returns SIMHASH_BITS at
    n ≤ _SKETCH_BASE_DOCS. NOT capped at 64: round 11's 1000×
    rehearsal measured the cap's consequence — at 5M docs a 64-bit
    signature leaves 2^-16 per-band random collisions against
    n² = 2.5e13 ≈ 1.5e9 candidate pairs, and the band join never
    finished. The signature is per-band key columns
    (simhash_band_keys), each ≤ 62 bits, so no width is a ceiling."""
    bits = SIMHASH_BITS
    scale = _SKETCH_BASE_DOCS
    while n_docs > scale:
        bits += 4 * SIMHASH_BANDS
        scale *= 10
    return bits


@register("dedup_near_minhash", "llm", oracle=None)  # xxhash64 minhash → rows-only
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection — the 100 TB dedup
    path: 3-gram shingle → 16-seed minhash signature → 8 bands →
    equi-join on (band_id, band_hash) → verify candidates with exact
    Jaccard over the SAME shingle sets the signature sketches (the
    signature estimates shingle-Jaccard, so verifying with any other
    set — it used word sets before round 3 — silently decouples the
    filter from the sketch). Three scale properties, each measured:
    (a) candidate generation is a hash-shuffle equi-join — cost scales
    with bucket collisions, not n²; (b) each document's shingle-hash
    set is materialized once (localCheckpoint), because the signature
    aggregate and both verify joins consume it; (c) banding ships ONLY
    (doc_id, band) rows — the multi-KB shingle arrays never ride the
    ×8 band explode or the join shuffle (doing so was 2 GB of shuffle
    at sf0.1, ~2× the whole query); the surviving candidate pairs join
    back to the shingle sets to fetch the two they verify.

    Signature build: hash each shingle string ONCE (xxhash64) into the
    document's distinct set, explode that set, then derive the 16
    per-seed values as xxhash64(seed, h) over 8-byte longs in FLAT
    codegen'd columns and take 16 map-side partial MINs in one plain
    hash aggregate — replacing 16 interpreted higher-order transforms
    that re-hashed every ~20-char shingle string per seed (measured ~2×
    the whole query at sf0.1). The exact verify runs on the hashed
    shingle sets — Jaccard is preserved under the injective-in-practice
    hash, the posting_jaccard_pairs argument.
    tests/test_ann_quality.py pins recall against brute-force shingle
    Jaccard with ZERO false positives. DuckDB has no xxhash64 →
    rows-only.
    """
    # signature width derives from the footer row count (zero jobs):
    # 16 hashes through the 50k-doc decade, +2 rows/band per decade
    # past it — the 100× rehearsal's hand-patched 32 now falls out of
    # the data (minhash_width docstring has the collision algebra)
    n_docs = table_row_count(sf_dir, "documents")
    n_minhash = minhash_width(n_docs)
    # spread_ingest: the 32-hash × ~52-shingle/doc signature build is
    # the dominant map stage (396 s of 410 s single-readered at the
    # 100× rehearsal) — exchange corpus bytes to unlock every core
    d = spread_ingest(
        load(spark, sf_dir, "documents").select("doc_id", "text"), n_docs
    )
    # one row per doc: its distinct hashed 3-shingles — the exact set
    # the signature sketches and the verify compares. Checkpointed, not
    # left to AQE's exchange reuse: it feeds the signature aggregate and
    # both verify joins, and its root is narrow, so there is no exchange
    # to reuse. Checkpointing the signature aggregate instead (with the
    # sets joined on) measured 4.0–4.2 s task CPU a warm call at sf0.1
    # on 4 cores, against 0.9–1.3 s here.
    sh = (
        d.select("doc_id", words("text").alias("ws"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(word_shingles(F.col("ws"), 3), lambda s: F.xxhash64(s))
            ).alias("shset"),
        )
        .localCheckpoint()
    )
    # explode drops empty-shingle (sub-width) docs — no similarity is
    # defined for them, mirroring the short-doc guard in word_shingles
    sig = (
        sh.select("doc_id", F.explode("shset").alias("h"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64(F.lit(k), F.col("h"))).alias(f"m{k}")
                for k in range(n_minhash)
            ]
        )
    )
    rows_per_band = n_minhash // N_BANDS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[
                                F.col(f"m{b * rows_per_band + j}")
                                for j in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("wa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("wb"))
    jac = F.size(F.array_intersect("wa", "wb")).cast("double") / F.size(
        F.array_union("wa", "wb")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


SIMHASH_BITS = 48
# Fixed band COUNT keeps the pigeonhole guarantee (hamming ≤ bands-1
# pairs always share a band); the width grows with n instead
# (simhash_width): random-pair collisions per band are
# 2^-(bits/bands), so widening every band as n grows holds the
# expected bucket-collision volume level — the same log(n) rule as the
# LSH plane count. The d ≤ 3 exactness is band-count-only and survives
# any width.
SIMHASH_BANDS = 4


def simhash_band_keys(
    d: DataFrame, bits: int = SIMHASH_BITS, n_rows: int | None = None
) -> DataFrame:
    """(doc_id, k0..k{SIMHASH_BANDS-1}) — the simhash signature of each
    document as one bigint key per band, at any width. Exposed so tests
    can brute-force Hamming distance over the SAME signatures the query
    bands.

    Band b holds signature bits b·k … b·k+k-1 (k = bits/bands) with
    bit b·k+i at position i, so at ≤ 64 bits the keys are exactly the
    bit slices of one folded bigint, and past 64 bits the width has no
    ceiling (each key ≤ 62 bits). Bit j is the sign of the document's
    summed ±1 votes over its distinct words; a word's vote for bit j
    is bit j % 64 of hash chunk j // 64, where chunk 0 is
    xxhash64(word) and chunk i ≥ 1 is xxhash64(i, xxhash64(word)) —
    the seeded chain the minhash seeds use. Votes are computed inline
    in the per-document sum aggregate (codegen'd plain columns; no
    vocabulary side table or join). The band self-join reads the keys
    twice, and an A/B leaving that to AQE's exchange reuse did not
    resolve, so the |docs|-row key table is materialized once."""
    k = bits // SIMHASH_BANDS
    if bits % SIMHASH_BANDS or k > 62:
        raise ValueError(f"{bits} bits do not fit {SIMHASH_BANDS} bigint bands")
    # SQL strings, not Columns: the Column form costs a py4j round-trip
    # per vote and sum, and plan build then outweighs execution
    chunks = ["xxhash64(word) AS h0"] + [
        f"xxhash64(CAST({i} AS BIGINT), xxhash64(word)) AS h{i}"
        for i in range(1, (bits + 63) // 64)
    ]
    sums = (
        spread_ingest(d.select("doc_id", "text"), n_rows)
        .select("doc_id", F.explode(F.array_distinct(words("text"))).alias("word"))
        .selectExpr("doc_id", *chunks)
        .groupBy("doc_id")
        .agg(
            *[
                F.expr(
                    f"sum(IF(shiftright(h{j // 64}, {j % 64}) & 1 = 1, 1, -1)) AS s{j}"
                )
                for j in range(bits)
            ]
        )
    )
    keys = [
        " | ".join(f"IF(s{b * k + i} >= 0, {1 << i}L, 0L)" for i in range(k))
        + f" AS k{b}"
        for b in range(SIMHASH_BANDS)
    ]
    return sums.selectExpr("doc_id", *keys).localCheckpoint()


def simhash_pairs(keys: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair of simhash_band_keys rows
    within the pigeonhole radius SIMHASH_BANDS - 1: self-equi-join on
    (band_id, band_key) with doc_a < doc_b, dedupe multi-band
    collisions, filter on the exact distance. Bands partition the bit
    positions, so the Hamming distance is the sum of per-band
    popcounts."""
    ks = [f"k{b}" for b in range(SIMHASH_BANDS)]
    banded = keys.select(
        "doc_id", *ks, F.posexplode(F.array(*ks)).alias("band_id", "band_key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            sum(
                F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}"))) for c in ks
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= SIMHASH_BANDS - 1)
    )


@register("dedup_simhash", "llm", oracle=None)  # xxhash64-based → rows-only
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: a simhash_width(n)-bit signature from word-hash
    bit votes, banded into SIMHASH_BANDS equal-width keys for candidate
    generation (48 → 4×12 at defaults), verified by Hamming distance.
    All JVM expressions.

    Threshold/banding alignment (Manku et al., WWW'07): with 4 bands,
    any pair within Hamming distance 3 differs in at most 3 bands, so
    BY PIGEONHOLE at least one band matches exactly — candidate
    generation is therefore COMPLETE for d ≤ 3 and the query returns
    exactly {pairs : hamming ≤ 3}. Past d = 3, 4-band detection is
    only probabilistic (a 4-bit-difference pair with one flipped bit
    per band collides in no band), so that region is excluded rather
    than partially reported. To widen the exact radius to d, band into
    d+1 keys. tests/test_ann_quality.py pins the query's pairs to
    brute-force Hamming ≤ 3 over the SAME engine-computed keys, so
    rows-only covers only the xxhash64 bit votes, not the candidate
    logic."""
    # the width derives from the footer row count (zero jobs)
    n_docs = table_row_count(sf_dir, "documents")
    keys = simhash_band_keys(
        load(spark, sf_dir, "documents"), simhash_width(n_docs), n_rows=n_docs
    )
    return simhash_pairs(keys)


def dedup_blocks(n_vecs: int) -> int:
    """Query and candidate block count for the blocked exact pair scans
    (dedup_embedding_cosine, _jvm_fold_topk): B·B cells, each holding
    n/B query rows against n/B candidate rows. B grows as √n past 2000
    vectors, so the per-task cell (n/B rows a side) grows only √n while
    the cell count absorbs the rest; 8×8 = 64 cells at or below sf0.1."""
    return max(8, round(8 * math.sqrt(n_vecs / 2000)))


def sim_blocks(n_vecs: int) -> int:
    """Query and candidate block count for the blocked GEMM
    (_gemm_topk): one (n/B × dim) float64 block a side per task. Same
    √n growth as dedup_blocks from a 4×4 base — fewer, larger cells,
    because one numpy GEMM per cell amortizes what a codegen fold
    cannot."""
    return max(4, round(4 * math.sqrt(n_vecs / 2000)))


@register(
    "dedup_embedding_cosine",
    "llm",
    oracle="""
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup: pairs whose exact cosine similarity
    clears the threshold, enumerated as a BLOCKED equi-join — the pair
    space is tiled into dedup_blocks(n)² cells, each side is
    replicated across the other side's block axis, and the join is a
    shuffle equi-join on the (qblk, cblk) cell key with `doc_a < doc_b`
    as a residual. No broadcast of the full table, no
    BroadcastNestedLoopJoin/CartesianProduct (pinned in
    tests/test_plans.py): shuffle volume is 2·B·n rows and per-task
    memory is one cell (2n/B rows), with B read from the footer row
    count, so the plan sizes itself like sim_cosine_blocked.

    The tiling is a full rectangle, not a triangle, on purpose: the
    doc_a < doc_b residual sits BELOW the dot product, so the
    rectangle never pays the dot twice, and the 64-term dot on the
    exact n²/2 pairs is ~95% of the query whatever the tiling. A
    triangular variant (same output) only trims the linear replicated
    shuffle and measured ~7% slower.

    Why exact-blocked rather than LSH-candidates-then-verify: the
    verified threshold (0.35, chosen so the fixture yields pairs — the
    data's max pair sim is 0.51) sits in a regime where hyperplane LSH
    cannot be simultaneously selective and complete (p_plane ≈ 0.614 at
    the boundary: any band config selective enough to beat n² loses
    threshold pairs). At true near-dup thresholds (≥0.9) the
    sim_ann_lsh banding generates candidates and only those get this
    exact check; tests/test_ann_quality.py pins that recall story. The
    per-pair dot stays the JVM left-fold (not a GEMM) so rounded sims
    hash-match the DuckDB oracle exactly."""
    e = load(spark, sf_dir, "embeddings")
    # One parquet split: when the cell join resolves to a broadcast-
    # hash, the probe would run as ONE task — round-robin repartition
    # spreads the per-cell dots (13× at sf0.1). Past the broadcast
    # threshold AQE plans a shuffle join and this pre-spreads the probe.
    blocks = dedup_blocks(table_row_count(sf_dir, "embeddings"))
    a = e.repartition(default_parallelism()).select(
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("va"),
        F.expr(norm_unrolled_sql("embedding")).alias("na"),
        *block_pair_keys("vec_id", blocks, blocks, "qblk", "cblk"),
    )
    b = e.select(
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("vb"),
        F.expr(norm_unrolled_sql("embedding")).alias("nb"),
        *block_pair_keys("vec_id", blocks, blocks, "cblk", "qblk"),
    )
    # F.round, not round6_away, on purpose: the threshold filter is
    # pushed through the projection, so the rounding formula runs at
    # both sites. F.round references the 64-term dot once (2 copies);
    # round6_away twice (4 copies), which exceeds janino's 64 KB method
    # limit and drops the stage to interpreted (1.26 → 2.02 s). The
    # oracle hash-matches F.round's half-up; the boundary class where
    # the two conventions differ has measure zero.
    sim = F.round(
        F.expr(dot_unrolled_sql("va", "vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, ["qblk", "cblk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.35)
    )


@register(
    "dedup_shingle_jaccard",
    "llm",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] || ' '
           || ws[CAST(i AS INT) + 2] AS shingle
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
        FROM w WHERE len(ws) >= 3)
),
n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
FROM inter JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.5
""",
)
def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram shingle Jaccard ≥ 0.5 pairs — the ground truth the
    minhash sketch approximates (tests/test_ann_quality.py measured
    this brute-force in pandas; this registers it as a first-class
    distributed query with a DuckDB oracle, closing the loop: sketch
    recall is now checkable against an oracle-verified exact query).

    Scale shape: a posting-list equi-join on ``xxhash64(shingle)``
    (8-byte shuffle keys; the oracle joins the raw string — hash
    keying is semantics-preserving modulo xxhash64 collisions, the
    same caveat as decontam). Unlike the word-posting family there is
    NO df cap — exactness forbids dropping postings — so cost is
    Σ df² over shingles. That is the documented tradeoff: shingle df
    is naturally tiny on real long-tail corpora (the round-6 10×
    rehearsal measured shingle paths surviving a corpus whose WORD
    postings collapsed), and on pathological corpora (identical
    boilerplate everywhere) an exact pairwise answer is Ω(n²) rows
    anyway — no plan escapes its own output size."""
    d = spread_ingest(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        table_row_count(sf_dir, "documents"),
    ).select("doc_id", words("text").alias("ws"))
    return posting_jaccard_pairs(
        d,
        word_shingles(F.col("ws"), 3),
        block_cols=(),
        df_cap=None,
    ).filter(F.col("jaccard") >= 0.5)


# Substring-dedup window width (words). Real substring dedup (the
# "Deduplicating Training Data Makes LMs Better" suffix-array pass)
# flags 50-token spans; 8 fits this fixture's 30-80-word docs while
# still being long enough that shared spans mean real duplication.
SPAN_K = 8


@register(
    "dedup_substring_span",
    "llm",
    oracle=f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
n AS (SELECT doc_id, len(ws) AS n_words FROM d),
s AS (
  SELECT doc_id, unnest(generate_series(1, len(ws) - {SPAN_K} + 1)) AS start,
         ws
  FROM d
), sh AS (
  SELECT doc_id, start,
         array_to_string(list_slice(ws, start, start + {SPAN_K} - 1), ' ') AS sh
  FROM s
), dup AS (
  SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT sh.doc_id, p.p
  FROM sh JOIN dup USING (sh),
       LATERAL (SELECT unnest(generate_series(sh.start,
                                              sh.start + {SPAN_K} - 1)) AS p) p
), c AS (
  SELECT doc_id, count(*) AS n_dup_positions FROM cov GROUP BY doc_id
)
SELECT n.doc_id, CAST(n.n_words AS BIGINT) AS n_words,
       CAST(COALESCE(c.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
       CAST(COALESCE(c.n_dup_positions, 0) AS DOUBLE) / n.n_words AS dup_frac
FROM n LEFT JOIN c ON n.doc_id = c.doc_id
""",
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level dedup coverage — per document, the fraction of
    word positions covered by any SPAN_K-word span that also occurs
    verbatim in ANOTHER document. This is the span-granular metric
    behind suffix-array substring dedup (docs sharing boilerplate or
    quoted passages score high even when whole-doc similarity is low —
    the case pairwise Jaccard and minhash both miss); the downstream
    policy cuts or trims docs above a dup_frac threshold.

    Scale shape: CANDIDATE detection is one hash aggregate on the
    xxhash64 key (min/max doc_id) — the 8-byte posting discipline of
    dedup_shingle_jaccard, no strings in the corpus-wide shuffle;
    then only the candidate postings (truly duplicated spans plus
    the rare hash collisions) carry their raw shingle string through
    a residual re-group on (key, string), so a 64-bit collision
    between two different spans can never inflate coverage — the
    string, not the hash, is the final duplicate identity (round-8
    advice; this is what lets the DuckDB oracle, which groups raw
    strings, match exactly rather than modulo collisions).
    Interval-union coverage is computed exactly by exploding each
    surviving span into its SPAN_K positions and DISTINCT-counting
    per doc — positions are bounded by |dup postings|×SPAN_K, and
    overlap dedup happens in the same shuffle as the final count.
    All-integer except the final single IEEE division."""
    # spread_ingest: the SPAN_K-word shingle map is this query's whole
    # map cost, and documents is one row group (one task) without it
    d = spread_ingest(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        table_row_count(sf_dir, "documents"),
    ).select("doc_id", words("text").alias("ws"))
    n = d.select("doc_id", F.size("ws").cast("long").alias("n_words"))
    post = d.select(
        "doc_id", F.posexplode(word_shingles(F.col("ws"), SPAN_K)).alias("pos", "sh")
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("start"),
        F.col("sh"),
        F.xxhash64("sh").alias("shk"),
    )
    # pass 1: hash-only candidates (8-byte shuffle discipline). "In ≥ 2
    # documents" is min(doc_id) < max(doc_id): one hash aggregate,
    # where count_distinct would expand and aggregate twice.
    in_two_docs = F.min("doc_id") < F.max("doc_id")
    cand = (
        post.groupBy("shk").agg(in_two_docs.alias("dup")).filter("dup").select("shk")
    )
    # Candidate postings (duplicated spans + rare collisions only —
    # small by data design, unlike corpus-sized `post`). `pc` feeds
    # both the raw-string re-verify and the coverage join below. Lazy
    # localCheckpoint kept: an A/B leaving the sharing to AQE's
    # exchange reuse did not resolve at sf0.1. Checkpointing `pc` (not
    # `post`, whose corpus×SPAN_K strings would be the expensive thing
    # to materialize) keeps the 8-byte shuffle discipline.
    pc = post.join(cand, "shk").localCheckpoint(eager=False)
    # pass 2 (residual, candidate subset only): re-verify on the RAW
    # string so hash collisions cannot mark a unique span duplicated
    dup = (
        pc.groupBy("shk", "sh")
        .agg(in_two_docs.alias("dup"))
        .filter("dup")
        .select("shk", "sh")
    )
    cov = (
        pc.join(dup, ["shk", "sh"])
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(SPAN_K - 1))
            ).alias("p"),
        )
        .distinct()
    )
    c = cov.groupBy("doc_id").agg(F.count("*").alias("n_dup_positions"))
    return n.join(c, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias(
            "n_dup_positions"
        ),
        (
            F.coalesce("n_dup_positions", F.lit(0)).cast("double")
            / F.col("n_words").cast("double")
        ).alias("dup_frac"),
    )


_BIGRAM_LOGPROB6 = round6_away_sql(
    "ln((cast(n as double) + 1.0) / (cast(c1 as double) + cast(v as double)))"
)


@register(
    "text_bigram_lm",
    "llm",
    oracle=f"""
WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
big AS (
  SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM d WHERE len(ws) >= 2)
), c12 AS (SELECT w1, w2, count(*) AS n FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(n) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
v AS (SELECT count(DISTINCT word) AS v FROM tok)
SELECT c12.w1, c12.w2, CAST(c12.n AS BIGINT) AS n,
       {_BIGRAM_LOGPROB6} AS logprob
FROM c12 JOIN c1 USING (w1) CROSS JOIN v
""",
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model TRAINING over the corpus — the producer
    side of the perplexity-filter loop (text_perplexity scores docs
    against an LM; this builds one): Laplace-smoothed conditional
    log-probabilities ln((c(w1,w2)+1) / (c(w1)+V)) for every observed
    bigram, V = corpus vocabulary size.

    Scale shape: the bigram explode is a pure map-side flatMap (the
    ws[i], ws[i+1] zip — short-doc guarded the word_shingles way);
    counts collapse in ONE hash aggregate on (w1,w2) with map-side
    partials, and the head counts c(w1) derive from c12 (vocab-sized
    input), never from a second corpus pass. V is a 1-row broadcast.
    The c12⋈c1 join is vocab×vocab — no broadcast hint; AQE promotes
    the c1 side when it fits (vocabulary is corpus-dependent). Float
    parity: the smoothed ratio is integer-exact numerator/denominator
    in one IEEE division; ln() is libm-vs-JVM so the result rounds
    half-away at 6 digits (the text_perplexity convention)."""
    d = load(spark, sf_dir, "documents").select(words("text").alias("ws"))
    big = (
        d.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i -> "
                    "struct(element_at(ws, i) as w1, "
                    "element_at(ws, i + 1) as w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    # Observed-bigram counts: vocab²-bounded (Heaps-sublinear in the
    # corpus). c12 feeds both the head-count rollup and the final join;
    # AQE reuses its exchange, so the bigram explode runs once.
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    c1 = c12.groupBy("w1").agg(F.sum("n").alias("c1"))
    tok = load(spark, sf_dir, "documents").select(
        F.explode(words("text")).alias("word")
    )
    v = tok.agg(F.count_distinct("word").alias("v"))
    return (
        c12.join(c1, "w1")
        .join(F.broadcast(v))
        .selectExpr("w1", "w2", "n", f"{_BIGRAM_LOGPROB6} as logprob")
    )


# Scrub patterns: RE2 (DuckDB) and java.util.regex (Spark) agree on
# this conservative subset — char classes, bounded quantifiers, no
# backrefs/lookaround. Keep it that way: oracle parity depends on it.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@register(
    "doc_pii_scrub",
    "llm",
    oracle=f"""
WITH staged AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              WHEN doc_id % 3 = 1
              THEN text || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                        || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' logged'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
       lower(sha256(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                                   '{_PII_IPV4}', '<IP>', 'g'))) AS scrubbed_sha
FROM staged
""",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction accounting — a mandatory stage of any real
    training-data pipeline: count and replace email/IPv4 literals,
    emit the scrubbed text's digest so downstream exact-dedup keys on
    scrubbed content. The synthetic corpus contains no PII, so the
    query STAGES deterministic PII into a slice of documents first
    (doc_id-derived, replayed identically by the oracle) — the scrub
    path is then exercised on true positives and true negatives alike.

    Scale shape: pure map-side (regexp_extract_all + regexp_replace +
    sha2 inside whole-stage codegen) — zero shuffles, linear scan, the
    same plan at 100 TB. Patterns stay in the RE2∩java.util.regex
    dialect so the DuckDB oracle replays byte-identically."""
    d = load(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" from 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(" logged"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
    )
    return staged.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.sha2(scrubbed, 256).alias("scrubbed_sha"),
    )


# ------------------------------------------------------------ similarity

# sim_knn_label / emb_neighborhood_purity build on sim_cosine_topk's
# ranked neighbors; persist the (small, 5·n-row) ranked result per
# (app, sf_dir) so the O(n²) pair scan runs once, not once per
# downstream query. BOUNDED: at most one entry — a new (app, sf_dir)
# key unpersists and evicts every older entry, so a long-lived driver
# session sweeping scale factors never pins more than the latest
# ranked frame (round-3 verdict item 6). Cost attribution: the scan
# (GEMM cell path since round 7, ~0.8 s at sf0.1 vs ~14 s for the
# retired JVM-fold build) is charged to whichever family member runs
# FIRST under the driver's ordering.
_topk_cache: dict[tuple[str, str], DataFrame] = {}


def _topk_cache_put(key: tuple[str, str], df: DataFrame) -> None:
    for old_key in [k for k in _topk_cache if k != key]:
        try:
            _topk_cache.pop(old_key).unpersist()
        except Exception as exc:
            # Tolerate a stopped session (nothing left to release) but
            # don't swallow the evidence: a Py4J error here usually
            # means the JVM is broken and the NEXT pipeline will fail
            # far from this cause.
            import sys

            print(f"_topk_cache evict: {exc}", file=sys.stderr)
    _topk_cache[key] = df


def _topk_cache_get(key: tuple[str, str]):
    """Cache hit only if the cached frame's session is still usable.

    The key is (applicationId, sf_dir) so the expensive scan is shared
    across the driver's per-query newSession() clones (same JVM/app);
    the probe catches the one unsafe case — the owning session was
    stopped — and rebuilds instead of serving a dead plan."""
    df = _topk_cache.get(key)
    if df is None:
        return None
    try:
        _ = df.schema  # touches the owning session's JVM handle
        return df
    except Exception:
        _topk_cache.pop(key, None)
        return None

_COSINE_RANKED_SQL = """
WITH pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS sim
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS nn_rank
  FROM pairs
)
"""


# ONE constant for the exact top-5 oracle: sim_cosine_topk registers
# it and extras.sim_cosine_blocked imports it — the graduation claim
# "both queries are checked against the SAME oracle" is structural,
# not a hand-kept copy (round-6 review).
COSINE_TOPK_ORACLE = (
    _COSINE_RANKED_SQL
    + "SELECT vec_id, neighbor_id, sim, nn_rank FROM ranked WHERE nn_rank <= 5"
)


def _gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked block×block GEMM exact top-5 plan — the shared engine
    behind sim_cosine_blocked AND the cached sim_cosine_topk family
    frame. Queries hash into QB blocks and candidates into CB blocks;
    each (qblk, cblk) pair cogroups into one task that runs a single
    numpy float64 GEMM (SIMD, ~100× the scalar codegen loop) and emits
    only its block-local top-5 per query; a final ranking window merges
    the CB partial lists (correct because the global top-5 is a subset
    of the union of block top-5s). Shuffle volume is QB·n + CB·n rows,
    never the n² pair space; per-task memory is (n/QB + n/CB)·dim
    doubles, with QB = CB = sim_blocks(n) from the footer row count."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    # Every query block must meet every candidate block exactly once:
    # replicate each query row across the CB candidate blocks and each
    # candidate row across the QB query blocks, then cogroup on the
    # (qblk, cblk) composite key.
    blocks = sim_blocks(table_row_count(sf_dir, "embeddings"))
    queries = e.select(
        "vec_id",
        "embedding",
        *block_pair_keys("vec_id", blocks, blocks, "qblk", "cblk"),
    )
    cands = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cemb"),
        *block_pair_keys("vec_id", blocks, blocks, "cblk", "qblk"),
    )

    def gemm_block(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(
                {"vec_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64")}
            )
        q = np.array(left["embedding"].tolist(), dtype=np.float64)
        m = np.array(right["cemb"].tolist(), dtype=np.float64)
        qids = left["vec_id"].to_numpy()
        cids = right["cid"].to_numpy()
        sims = (q @ m.T) / np.outer(
            np.linalg.norm(q, axis=1), np.linalg.norm(m, axis=1)
        )
        # Round BEFORE selecting so boundary ties break on
        # (sim, neighbor_id) exactly like the JVM fold variant; full
        # lexsort (not argpartition) keeps the lowest neighbor_id on
        # rank-5 boundary ties, matching row_number order.
        # HALF-AWAY-FROM-ZERO on the BINARY double, not np.round
        # (half-to-even): DuckDB's round — the oracle side — rounds
        # the binary double half away from zero, and a convention
        # mismatch at an exact 0.5e-6 boundary would flip the 6th
        # digit and flake the graduation oracle (round-6 review).
        # copysign(floor(|x|·1e6 + 0.5))/1e6 is that rule — the same
        # formula vector.round6_away_sql gives every JVM-side sim
        # (topk/LSH/IVF since round 7), so all registrations of a
        # rounded-sim oracle share ONE convention.
        sims = np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5), sims) / 1e6
        out = []
        for r, vid in enumerate(qids):
            row = sims[r].copy()
            row[cids == vid] = -np.inf  # exclude self
            nn = np.lexsort((cids, -row))[:5]
            out.extend(
                (vid, int(cids[j]), float(row[j]))
                for j in nn
                if row[j] != -np.inf  # blocks with <5 real candidates
            )
        return pd.DataFrame(out, columns=["vec_id", "neighbor_id", "sim"])

    partial = (
        queries.groupBy("qblk", "cblk")
        .cogroup(cands.groupBy("qblk", "cblk"))
        .applyInPandas(gemm_block, "vec_id long, neighbor_id long, sim double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return partial.withColumn("nn_rank", F.row_number().over(w).cast("long")).filter(
        F.col("nn_rank") <= 5
    )


@register("sim_cosine_topk", "llm", oracle=COSINE_TOPK_ORACLE)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors per vector — the exact
    baseline the ANN paths are judged against, served from the blocked
    GEMM engine (_gemm_topk) and persisted once per (app, sf_dir) for
    the whole eval family (sim_knn_label, emb_neighborhood_purity).

    The engine CHOICE is a measured round-7 decision: the JVM
    codegen'd unrolled-fold variant of the same blocked cell equi-join
    (kept below as _jvm_fold_topk — still pinned equal to this path by
    tests/test_correctness.py, and still the engine for
    dedup_embedding_cosine's threshold scan and the LSH/IVF candidate
    scoring) measured ~14 s at sf0.1 where the GEMM cell path measures
    ~0.8 s: 64-dim dot products are exactly the shape where one SIMD
    float64 GEMM per cell beats 5000 scalar codegen folds. Both round
    sim to 6 digits half-away-from-zero BEFORE ranking, so the 1-ulp
    BLAS-vs-fold summation drift is invisible and both hash-match the
    same DuckDB oracle (COSINE_TOPK_ORACLE)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _topk_cache_get(key)
    if cached is not None:
        return cached
    topk = _gemm_topk(spark, sf_dir).persist()
    _topk_cache_put(key, topk)
    return topk


def _jvm_fold_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-expression variant of the exact top-5 scan: same
    blocked (qblk, cblk) cell equi-join, dot product as a codegen'd
    unrolled left fold (no Python anywhere). Not the registered engine
    since round 7 (the GEMM cell path measured ~17× faster at sf0.1 —
    see sim_cosine_topk) but kept callable as the independent
    cross-check: tests/test_correctness.py pins its output equal to
    the GEMM path, which is what makes "two engines, one oracle" an
    actual verification and not a tautology.

    (A compute-half-and-mirror variant — dot only for vec_id <
    neighbor_id, swapped-projection union for the rest — was tried
    and reverted: AQE exchange reuse doesn't fire below
    WriteToDataSourceV2, so under write-type actions both union
    branches recomputed the dots, and a persist() of the half-pairs
    cost more than it saved at both sf0.01 and sf0.1.)"""
    e = load(spark, sf_dir, "embeddings")
    # Round-robin repartition spreads the probe when the cell join
    # resolves to broadcast-hash (the fixture is ONE parquet split —
    # without it the probe runs as a single task); the ranking
    # window's own exchange keeps its top-heavy sort in a separate
    # stage. (Pre-partitioning by vec_id fused the sort into the
    # probe pipeline and the fused method blew janino's 64 KB limit →
    # whole-stage fell back to interpreted, ~3× slower.)
    # Norms are computed once per replica row (8n), never per pair.
    blocks = dedup_blocks(table_row_count(sf_dir, "embeddings"))
    a = e.repartition(default_parallelism()).select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("va"),
        F.expr(norm_unrolled_sql("embedding")).alias("na"),
        *block_pair_keys("vec_id", blocks, blocks, "qblk", "cblk"),
    )
    b = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vb"),
        F.expr(norm_unrolled_sql("embedding")).alias("nb"),
        *block_pair_keys("vec_id", blocks, blocks, "cblk", "qblk"),
    )
    # Raw sim in its own projection, round6_away in the next: ONE
    # binary half-away-from-zero convention across every registration
    # of a rounded-sim oracle (round-6 advice — F.round's shortest-
    # decimal half-up carried a measure-zero boundary class vs DuckDB
    # round). CollapseProject keeps raw_sim un-inlined: the dot chain
    # is non-cheap and referenced twice (sign, abs).
    pairs = (
        a.join(b, ["qblk", "cblk"])
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            (
                F.expr(dot_unrolled_sql("va", "vb")) / (F.col("na") * F.col("nb"))
            ).alias("raw_sim"),
        )
        .select(
            "vec_id",
            "neighbor_id",
            F.expr(round6_away_sql("raw_sim")).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nn_rank") <= 5)
    )


@register(
    "sim_knn_label",
    "llm",
    oracle=_COSINE_RANKED_SQL
    + """
, nb AS (
  SELECT r.vec_id, e.label
  FROM ranked r JOIN embeddings e ON r.neighbor_id = e.vec_id
  WHERE r.nn_rank <= 5
), votes AS (
  SELECT vec_id, label, count(*) AS votes FROM nb GROUP BY 1, 2
)
SELECT vec_id, label AS pred_label, votes
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY votes DESC, label) AS rn
      FROM votes)
WHERE rn = 1
""",
)
def sim_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority label among the 5 nearest neighbors (ties → smallest
    label). Builds on the same ranked-neighbor plan as sim_cosine_topk.
    The label frame is |embeddings| rows; the broadcast threshold and
    AQE size its join, a key shuffle past the threshold."""
    e = load(spark, sf_dir, "embeddings")
    topk = sim_cosine_topk(spark, sf_dir)
    labels = e.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("vec_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("label").alias("pred_label"), "votes")
    )


# Mean vectors per bucket the plane count is sized for: K planes give
# 2^K buckets, and K = floor(log2(n / 78)) keeps occupancy n / 2^K in
# [78, 156) at every size, so per-bucket candidate lists stay constant.
_LSH_OCCUPANCY = 78


def lsh_planes(n_vecs: int) -> int:
    """Hyperplane count K for an n_vecs table: floor(log2(n / 78)),
    never below 4 (16 buckets, the count every committed scale factor
    runs). _LSH_ORACLE computes the same rule in SQL from count(*)."""
    return max(4, max(n_vecs // _LSH_OCCUPANCY, 1).bit_length() - 1)


# Query-side chunk for the per-bucket verification GEMM: bounds task
# memory (chunk × |bucket| doubles) on a pathologically hot bucket.
# Module-level so tests can shrink it and exercise the boundary
# arithmetic on real data (normal occupancy never exceeds one chunk).
_BUCKET_GEMM_CHUNK = 2048


def lsh_plane(j: int, i: int) -> float:
    """Element i of hyperplane j: a sampled sinusoid whose FREQUENCY
    (j+1) differs per plane, so the K plane vectors are linearly
    independent (rank == K, pinned by tests for every K lsh_planes
    yields up to 60M vectors). Phase shifts of one sinusoid would
    span only {sin, cos} — rank 2, ~2K occupied buckets instead of
    2^K, and candidate volume quadratic at any K. Closed form (not a
    PRNG) so the DuckDB oracle can replay it."""
    return math.sin((i + 1.0) * (j + 1.0) + j)


# The hyperplanes are a deterministic closed-form series, so DuckDB can
# replay the whole index: derive K from count(*) exactly as lsh_planes
# does, recompute each plane j < K with list_transform, take the
# projection sign via list_dot_product (both engines' projections
# agree to ~1e-15; a sign flip needs |proj| < 1e-14 — vanishing for
# continuous data), bucket-join, and rank by the SAME round-6 cosine
# the exact-family oracles already hash-match (vector.py's left fold ≡
# DuckDB list_cosine_similarity under round-6). "Approximate" means
# approximate NEIGHBORS, not a nondeterministic computation.
_LSH_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
),
k AS (
  SELECT greatest(4, CAST(floor(log2(greatest(count(*) // {_LSH_OCCUPANCY}, 1))) AS BIGINT)) AS k
  FROM embeddings
),
b AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN list_dot_product(dv,
                 list_transform(range(0, 64), i -> sin((i + 1) * (p.j + 1) + p.j))) >= 0
               THEN CAST(power(2, k.k - 1 - p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM v CROSS JOIN k CROSS JOIN (SELECT unnest(range(0, 64)) AS j) p
  WHERE p.j < k.k
  GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id, bb.vec_id AS neighbor_id,
         round(list_cosine_similarity(va.dv, vb.dv), 6) AS sim
  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id <> bb.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = bb.vec_id
)
SELECT vec_id, neighbor_id, sim,
       row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS nn_rank
FROM pairs
QUALIFY nn_rank <= 5
"""


@register("sim_ann_lsh", "llm", oracle=_LSH_ORACLE)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: K signed projections
    → 2^K buckets → exact cosine only within the bucket. The scale
    path: the join is an equi-join on bucket, never a cross join, and
    K = lsh_planes(n) from the footer row count, so bucket occupancy
    and candidate volume per vector stay constant as n grows.
    Hyperplanes are deterministic driver-side constants (lsh_plane),
    so results are reproducible run-to-run — and the DuckDB oracle
    replays the full index, plane count included (see _LSH_ORACLE).

    Bucket assignment runs as an Arrow-batched pandas UDF — one numpy
    float64 GEMM of the batch against the K×64 plane matrix. A
    JVM-expression form of the K×64-term projection exceeds janino's
    64 KB method limit (one Catalyst expression cannot be split across
    generated methods), which drops the whole stage to interpreted.

    Within-bucket verification is ONE numpy float64 GEMM per bucket
    (a JVM fold per pair is ~17× slower at dim=64). Exactness is
    structural: each vector hashes to exactly ONE bucket, so its
    candidate set is wholly contained in its own group and the
    per-bucket local top-5 IS the global answer — no cross-bucket
    ranking window, no pair-space shuffle. Shuffle volume is n rows
    keyed by bucket; per-task memory is bounded by the query-chunked
    GEMM. Sims round 6-digit half-away-from-zero on the binary double
    BEFORE ranking — the one convention every rounded-sim oracle
    shares (see _gemm_topk) — so the 1-ulp BLAS-vs-fold drift is
    invisible and the DuckDB oracle hash still matches."""
    import numpy as np
    import pandas as pd

    dim = 64
    n_vecs = table_row_count(sf_dir, "embeddings")
    k = lsh_planes(n_vecs)
    planes_mat = np.array(
        [[lsh_plane(j, i) for i in range(dim)] for j in range(k)],
        dtype=np.float64,
    )
    weights = (2 ** np.arange(k - 1, -1, -1)).astype(np.int64)
    chunk = _BUCKET_GEMM_CHUNK

    def _lsh_bucket(emb):
        m = np.array(emb.tolist(), dtype=np.float64)  # batch × dim
        signs = (m @ planes_mat.T) >= 0  # batch × planes
        return pd.Series((signs.astype(np.int64) * weights).sum(axis=1))

    # explicit functionType: `from __future__ import annotations`
    # stringifies hints, breaking pandas_udf signature inference
    lsh_bucket = F.pandas_udf(_lsh_bucket, "long")

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:  # singleton bucket: no candidate pairs
            return pd.DataFrame(
                {"vec_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64"),
                 "nn_rank": pd.Series(dtype="int64")}
            )
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        unit = m / np.linalg.norm(m, axis=1, keepdims=True)
        out = []
        # Chunk the query side so the sim matrix is chunk×|bucket|,
        # bounding task memory even on a pathologically hot bucket.
        for lo in range(0, len(ids), chunk):
            sims = unit[lo : lo + chunk] @ unit.T
            sims = np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5), sims) / 1e6
            for r in range(sims.shape[0]):
                row = sims[r]
                row[lo + r] = -np.inf  # exclude self
                nn = np.lexsort((ids, -row))[:5]
                out.extend(
                    (int(ids[lo + r]), int(ids[j]), float(row[j]), rank)
                    for rank, j in enumerate(nn, start=1)
                    if row[j] != -np.inf
                )
        return pd.DataFrame(out, columns=["vec_id", "neighbor_id", "sim", "nn_rank"])

    # spread_ingest: the bucket-assignment GEMM runs inside the scan
    # stage, which a single-row-group file pins to ONE task (the
    # round-10 second-decade finding) — spread the narrow frame first
    e = spread_ingest(load(spark, sf_dir, "embeddings"), n_vecs)
    bucketed = e.select("vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket"))
    return bucketed.groupBy("bucket").applyInPandas(
        bucket_topk, "vec_id long, neighbor_id long, sim double, nn_rank long"
    )


# ---------------------------------------------------------- text analysis


@register(
    "text_tokenize_counts",
    "llm",
    oracle="""
SELECT lang, word, count(*) AS n
FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY lang, word
""",
)
def text_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(words("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("n"))
    )


_BPE_ISH = "[bcdfghjklmnpqrstvwxyz]*[aeiou]+[bcdfghjklmnpqrstvwxyz]*|[bcdfghjklmnpqrstvwxyz]+"


@register(
    "text_token_count_bpe",
    "llm",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_ISH}')) AS BIGINT) AS n_subword_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_ISH}')) AS DOUBLE)
         / len(string_split(text, ' ')) AS subwords_per_word
FROM documents
""",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    vowel-cluster subword regex (a deterministic stand-in for a real
    BPE vocab — the Spark shape is identical: regexp_extract_all per
    row, codegen'd, no Python)."""
    d = load(spark, sf_dir, "documents")
    ws = F.size(words("text")).cast("long")
    sub = F.size(F.regexp_extract_all("text", F.lit(_BPE_ISH), F.lit(0))).cast("long")
    return d.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        sub.alias("n_subword_tokens"),
        (sub.cast("double") / ws).alias("subwords_per_word"),
    )


@register(
    "text_tfidf",
    "llm",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, word, tf, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
FROM (
  SELECT doc_id, word, tf,
         row_number() OVER (PARTITION BY doc_id
             ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) DESC, word) AS rn,
         n_docs, df
  FROM tf JOIN df USING (word) CROSS JOIN n
)
WHERE rn <= 3
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. The corpus size is the parquet
    footer row count baked in as a literal, so no count(*) scalar adds
    a second documents scan or a nested-loop join. The vocab is
    Heaps-law unbounded at 100 TB, so the df join carries no hint: AQE
    picks the build side from the materialized sizes while one side
    fits the threshold, and shuffles the word join once neither does.
    df derives from tf, so AQE reuses tf's exchange and documents is
    read once."""
    d = load(spark, sf_dir, "documents")
    tok = spread_ingest(
        d.select("doc_id", "text"), table_row_count(sf_dir, "documents")
    ).select(
        "doc_id", F.explode(words("text")).alias("word")
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    # df derives from tf (rows are already unique per (doc, word)):
    # one fewer pass over the exploded tokens and no countDistinct
    # shuffle — at 100 TB the token explosion is the dominant volume.
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = F.lit(table_row_count(sf_dir, "documents"))
    tfidf = F.round(F.col("tf") * F.log(n_docs.cast("double") / F.col("df")), 6)
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return (
        tf.join(df, "word")
        .withColumn("tfidf", tfidf)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tf", "tfidf")
    )


@register(
    "text_lang_stats",
    "llm",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
       count(DISTINCT source) AS n_sources
FROM documents
GROUP BY lang
""",
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.sum(F.size(words("text")).cast("long")).alias("total_words"),
        F.countDistinct("source").alias("n_sources"),
    )


def _lang_id_oracle() -> str:
    hit_cols = ",\n       ".join(
        "len(list_filter(string_split(text, ' '), w -> w IN ({}))) AS h_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in LANG_MARKERS.items()
    )
    case = " ".join(
        f"WHEN h_{lang} = mx THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"""
WITH hits AS (
  SELECT doc_id, lang,
       {hit_cols}
  FROM documents
), scored AS (
  SELECT *, greatest({", ".join(f"h_{lang}" for lang in LANG_MARKERS)}) AS mx FROM hits
)
SELECT doc_id, lang, CASE {case} END AS pred_lang,
       (CASE {case} END = lang) AS is_correct
FROM scored
"""


@register("text_lang_id", "llm", oracle=_lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-word language-ID heuristic: per-language marker
    hit counts → argmax with fixed priority order. (The synthetic
    corpus shares one vocabulary across langs, so accuracy is
    meaningless here — the pipeline shape and determinism are what's
    under test.)"""
    d = load(spark, sf_dir, "documents")
    ws = words("text")
    hits = d.select(
        "doc_id",
        "lang",
        *[
            marker_hits(ws, markers).alias(f"h_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    mx = F.greatest(*[F.col(f"h_{lang}") for lang in LANG_MARKERS])
    pred = F.when(F.col("h_en") == mx, "en")
    for lang in list(LANG_MARKERS)[1:]:
        pred = pred.when(F.col(f"h_{lang}") == mx, lang)
    return hits.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


@register(
    "text_quality_score",
    "llm",
    oracle=f"""
WITH x AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({", ".join(f"'{s}'" for s in STOPWORDS)}))) AS n_stop
  FROM documents
)
SELECT doc_id, n_words,
       CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
       CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
       (CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words) * 0.1
         + CAST(n_stop AS DOUBLE) / n_words AS quality_score
FROM x
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length + stopword-ratio features
    composed with fixed parenthesization (doubles bit-match the
    oracle). Punctuation ratio omitted — the corpus has none."""
    d = load(spark, sf_dir, "documents")
    ws = words("text")
    x = d.select(
        "doc_id",
        "n_chars",
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS))).alias("n_stop"),
    )
    awl = (F.col("n_chars") - (F.col("n_words") - 1)).cast("double") / F.col("n_words")
    sr = F.col("n_stop").cast("double") / F.col("n_words")
    return x.select(
        "doc_id",
        "n_words",
        awl.alias("avg_word_len"),
        sr.alias("stop_ratio"),
        (awl * 0.1 + sr).alias("quality_score"),
    )


@register(
    "text_fingerprint",
    "llm",
    oracle=f"""
SELECT doc_id,
       list_reduce(
         list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT)),
         (a, c) -> (a * 31 + c) % {ROLLING_MOD}
       ) AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling-hash document fingerprint (codepoint fold
    mod a 64-bit-safe prime) — identical fold in both engines."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint("text").alias("fingerprint"))


# ------------------------------------------------------------- multimodal


@register(
    "multimodal_join",
    "llm",
    oracle="""
SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
       CAST(len(e.embedding) AS BIGINT) AS dim
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents ⋈ embeddings → multimodal (text, vector) rows; the
    shape every retrieval pipeline starts from."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        F.size("embedding").cast("long").alias("dim"),
    )


# The fake payload is the utf-8 text and the bin index is byte >> 4 —
# exactly the HIGH HEX NIBBLE of each byte, so DuckDB replays the
# histogram by counting odd-position characters of hex(encode(text)).
# Graduated from rows-only in round 6: with this, every multimodal
# query (join/features/resize/frame_sample) is hash-verified
# end-to-end through the binary plumbing.
_BYTE_HIST_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(coalesce(text, ''))) AS h FROM documents
),
o AS (
  SELECT doc_id, CAST(strlen(h) / 2 AS BIGINT) AS n_bytes,
         list_transform(range(1, CAST(strlen(h) AS BIGINT), 2),
                        i -> substr(h, CAST(i AS INT), 1)) AS odd
  FROM b
)
SELECT doc_id, n_bytes,
       array_to_string(
         list_transform(range(0, 16), k ->
           CAST(len(list_filter(odd,
                c -> c = substr('0123456789ABCDEF', CAST(k AS INT) + 1, 1))) AS VARCHAR)),
         '|') AS features
FROM o
"""


@register("multimodal_features", "llm", oracle=_BYTE_HIST_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the real multimodal
    plumbing (binary column + metadata struct + Arrow-batched
    mapInPandas). Codecs are stubbed (sources/multimodal.py); the
    histogram features are deterministic and the oracle replays them
    from the hex encoding (see _BYTE_HIST_ORACLE)."""
    d = load(spark, sf_dir, "documents")
    media = with_media_columns(d)
    return byte_histogram_features(media)


@register(
    "dedup_exact_hash",
    "llm",
    oracle="""
SELECT lower(sha256(text)) AS text_sha, min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on sha2(text) — the 100 TB form of
    dedup_exact: the shuffle moves 64-hex-char digests instead of
    whole documents, so shuffle volume scales with row COUNT, not
    corpus bytes. Identical group structure (SHA-256 collisions are
    not a practical concern), verified against DuckDB's sha256."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.lower(F.sha2("text", 256)).alias("text_sha"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@register(
    "multimodal_resize",
    "llm",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 640 + 1 AS INTEGER)              AS width,
       CAST(doc_id % 480 + 1 AS INTEGER)              AS height,
       CAST(least(doc_id % 640 + 1, 224) AS INTEGER)  AS out_w,
       CAST(least(doc_id % 480 + 1, 224) AS INTEGER)  AS out_h,
       least(n_chars, least(doc_id % 640 + 1, 224)
                      + least(doc_id % 480 + 1, 224)) AS n_bytes_out
FROM documents
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing through binary columns + mapInPandas
    (sources/multimodal.py): the oracle can replay the deterministic
    fake (payload = utf-8 text, so byte lengths are n_chars) — which
    means the whole Arrow path (binary batches in, typed stats out) is
    hash-verified, not just row-counted."""
    from linux_logs_spark.sources.multimodal import resize_media

    d = load(spark, sf_dir, "documents")
    return resize_media(with_media_columns(d))


@register(
    "multimodal_frame_sample",
    "llm",
    oracle="""
SELECT doc_id,
       CAST(ceil(n_chars / 32.0) AS BIGINT)                  AS n_frames,
       CAST(ceil(ceil(n_chars / 32.0) / 4.0) AS BIGINT)      AS n_sampled,
       CAST(list_sum(list_transform(range(1, least(n_chars, 32) + 1),
                                    i -> ascii(text[i]))) AS BIGINT) AS first_frame_sum
FROM documents
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: payload → fixed-size frames →
    every 4th kept → first-frame byte-sum fingerprint, all inside one
    Arrow-batched mapInPandas. Oracle replays the arithmetic over the
    text bytes (ASCII corpus ⇒ ascii(char) == utf-8 byte)."""
    from linux_logs_spark.sources.multimodal import frame_sample_media

    d = load(spark, sf_dir, "documents")
    return frame_sample_media(with_media_columns(d))


@register(
    "text_repetition_score",
    "llm",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), per_word AS (
  SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word
), per_doc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT)   AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT)   AS top_token_count
  FROM per_word GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       round(CAST(n_distinct AS DOUBLE) / n_tokens, 4)      AS distinct_ratio,
       round(CAST(top_token_count AS DOUBLE) / n_tokens, 4) AS top_token_share
FROM per_doc
""",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signal (the crawl-filtering heuristic
    behind 'gibberish/boilerplate' removal): per-document type-token
    ratio and most-repeated-token share. One explode feeds a
    (doc_id, word) hash aggregate — map-side partial combine collapses
    repeats before the shuffle, so shuffle volume is distinct words
    per doc, not corpus positions. The per-doc reduction is a second
    exchange, but its input is already the collapsed per-word frame
    (~vocab × docs), orders of magnitude under the corpus. Ratios
    rounded to 4 places; counts are exact integers."""
    d = load(spark, sf_dir, "documents")
    per_word = (
        d.select("doc_id", F.explode(words("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    return per_word.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(F.count("*") / F.sum("c"), 4).alias("distinct_ratio"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_token_share"),
    ).select(
        "doc_id", "n_tokens", "n_distinct", "distinct_ratio", "top_token_share"
    )


@register(
    "emb_neighborhood_purity",
    "llm",
    oracle=_COSINE_RANKED_SQL
    + """
, nb AS (
  SELECT q.label AS label, CASE WHEN q.label = n.label THEN 1 ELSE 0 END AS same
  FROM ranked r
  JOIN embeddings q ON r.vec_id = q.vec_id
  JOIN embeddings n ON r.neighbor_id = n.vec_id
  WHERE r.nn_rank <= 5
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_neighbor_slots,
       round(avg(CAST(same AS DOUBLE)), 4) AS purity
FROM nb GROUP BY label
""",
)
def emb_neighborhood_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality metric: per label, the fraction of top-5
    cosine neighbors sharing the query's label (kNN purity — the
    standard proxy for "does this embedding space separate classes").
    Reuses the cached ranked-neighbor plan (sim_cosine_topk), so the
    O(n²) scan is shared across the eval family; this query adds two
    label joins (sized by the broadcast threshold and AQE, key
    shuffles past it) and a 10-row aggregate. On uniform-random
    synthetic vectors purity ≈ 1/|labels| by construction — the
    metric's JOB here is to be the deterministic, oracle-checked eval
    pipeline a real embedding table plugs into."""
    e = load(spark, sf_dir, "embeddings")
    topk = sim_cosine_topk(spark, sf_dir)
    ql = e.select(F.col("vec_id"), F.col("label"))
    nl = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    nb = (
        topk.join(ql, "vec_id")
        .join(nl, "neighbor_id")
        .select(
            "label",
            F.when(F.col("label") == F.col("n_label"), 1).otherwise(0).alias("same"),
        )
    )
    return nb.groupBy("label").agg(
        F.count("*").alias("n_neighbor_slots"),
        F.round(F.avg(F.col("same").cast("double")), 4).alias("purity"),
    )


@register(
    "text_perplexity",
    "llm",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2
), cnt AS (
  SELECT word, count(*) AS cnt FROM tok GROUP BY 1
), tot AS (SELECT count(*) AS total FROM tok)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       -(CAST(sum(CAST(round(CAST(tf AS DOUBLE) * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
                       AS DECIMAL(25,6))) AS DOUBLE))
         / CAST(sum(tf) AS BIGINT) AS cross_entropy
FROM tf JOIN cnt USING (word) CROSS JOIN tot
GROUP BY doc_id
""",
)
def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM cross-entropy (the CCNet-style
    perplexity quality filter: score every document against a language
    model and drop the tails; here the LM is the corpus's own unigram
    distribution, so the op is self-contained and oracle-replayable).

    Float discipline — bit-identical cross-engine WITHOUT a final
    rounding: each term tf·ln(cnt/total) is rounded to 6 digits with
    the binary half-away-from-zero convention (round6_away_sql ≡
    DuckDB round), making the per-term doubles identical; the per-doc
    sum then runs in DECIMAL(25,6) (exact, order-independent — the
    dsum rule applied to an irrational family), and the single IEEE
    division by n_tokens is deterministic on identical inputs.

    Scale shape: token explode → two hash aggregates (per-(doc,word),
    per-word) — the same two-shuffle skeleton as text_tfidf. The
    vocab-sized cnt frame feeds both the word join (sized by the
    broadcast threshold and AQE) and the 1-row total, which crossJoins
    as a broadcast scalar; AQE reuses cnt's exchange for both."""
    d = load(spark, sf_dir, "documents")
    tok = spread_ingest(
        d.select("doc_id", "text"), table_row_count(sf_dir, "documents")
    ).select(
        "doc_id", F.explode(words("text")).alias("word")
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    cnt = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    # total tokens = sum over the vocab-sized cnt frame — NOT a second
    # corpus-wide explode (exact long sum, identical)
    tot = cnt.agg(F.sum("cnt").alias("total"))
    term_raw = F.col("tf").cast("double") * F.log(
        F.col("cnt").cast("double") / F.col("total").cast("double")
    )
    return (
        tf.join(cnt, "word")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "tf", term_raw.alias("term_raw"))
        .select(
            "doc_id", "tf", F.expr(round6_away_sql("term_raw")).alias("term6")
        )
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            dsum("term6", 6).alias("s6"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (-F.col("s6") / F.col("n_tokens")).alias("cross_entropy"),
        )
    )


# Perplexity-gate knob: eval docs whose unigram cross-entropy against
# the TRAIN-split LM exceeds this are flagged (the CCNet "drop the
# high-perplexity tail" move). The sf0.01 eval split scores in
# [3.39, 3.49] with median 3.403, so 3.405 flags a meaningful upper
# tail at test scale; the exact value is a policy knob, not a
# correctness input — both engines compute bit-identical ce, so the
# comparison can never straddle.
PPX_GATE_CE = 3.405


@register(
    "pipeline_perplexity_gate",
    "llm",
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang, source, text,
         md5(CAST(doc_id AS VARCHAR)) < 'cccc' AS is_train
  FROM documents
), tok_t AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM s WHERE is_train
), cnt AS (SELECT word, count(*) AS cnt FROM tok_t GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS v FROM cnt),
tok_e AS (
  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS word
  FROM s WHERE NOT is_train
), tf AS (
  SELECT doc_id, lang, source, word, count(*) AS tf
  FROM tok_e GROUP BY 1, 2, 3, 4
), terms AS (
  SELECT tf.doc_id, tf.lang, tf.source, tf.tf,
         round(CAST(tf.tf AS DOUBLE)
               * ln(CAST(coalesce(cnt.cnt, 0) + 1 AS DOUBLE)
                    / CAST(tot.total + tot.v AS DOUBLE)), 6) AS term6
  FROM tf LEFT JOIN cnt USING (word) CROSS JOIN tot
), ce AS (
  SELECT doc_id, lang, source,
         -(CAST(sum(CAST(term6 AS DECIMAL(25,6))) AS DOUBLE))
           / CAST(sum(tf) AS BIGINT) AS ce
  FROM terms GROUP BY 1, 2, 3
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(count(*) FILTER (WHERE ce > {PPX_GATE_CE}) AS BIGINT) AS n_flagged,
       CAST(sum(CAST(round(ce, 6) AS DECIMAL(25,6))) AS DOUBLE) / count(*)
         AS ce_mean
FROM ce GROUP BY 1, 2
""",
)
def pipeline_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-on-one-split, score-the-other perplexity filter as ONE
    declarative plan — the composition text_bigram_lm/text_perplexity
    exercise separately: a Laplace-smoothed
    unigram LM is fit on the train split (split_train_holdout's
    md5 < 'cccc' rule, ~80%), every held-out document is scored
    against it (OOV words get the +1-smoothed floor ln(1/(total+V))),
    and the per-(lang, source) rollup reports how many docs the
    PPX_GATE_CE quality gate would drop. This is the CCNet-style
    perplexity filter a training-data pipeline runs after the
    dedup/quality funnel (pipeline_corpus_prep).

    Scale shape: four hash aggregates, all map-side partial — train
    token counts (shuffle ∝ train vocab), eval (doc, word) tf
    (shuffle ∝ distinct eval terms), per-doc ce (∝ eval docs), final
    (lang, source) rollup (∝ blocks); lang/source ride the tf keys so
    scoring never joins back to the corpus. The vocab-sized LM frame
    feeds both the tf join and the 1-row (total, V) broadcast scalar
    through one reused exchange; the broadcast threshold and AQE size
    the tf join, so a 10⁸-word vocab at 100 TB becomes a shuffle
    equi-join on word. Float discipline is text_perplexity's: each
    term rounds half-away at 6 digits, per-doc sums run in
    DECIMAL(25,6), the ce division is one IEEE op on identical
    inputs, and the rollup mean re-applies round6 + DECIMAL."""
    d = spread_ingest(
        load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text"),
        table_row_count(sf_dir, "documents"),
    )
    is_train = F.md5(F.col("doc_id").cast("string")) < "cccc"
    s = d.select("doc_id", "lang", "source", "text", is_train.alias("is_train"))
    tok_t = s.filter("is_train").select(F.explode(words("text")).alias("word"))
    cnt = tok_t.groupBy("word").agg(F.count("*").alias("cnt"))
    tot = cnt.agg(F.sum("cnt").alias("total"), F.count("*").alias("v"))
    tf = (
        s.filter(~F.col("is_train"))
        .select("doc_id", "lang", "source", F.explode(words("text")).alias("word"))
        .groupBy("doc_id", "lang", "source", "word")
        .agg(F.count("*").alias("tf"))
    )
    smoothed = (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double") / (
        F.col("total") + F.col("v")
    ).cast("double")
    ce = (
        tf.join(cnt, "word", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            "source",
            "tf",
            (F.col("tf").cast("double") * F.log(smoothed)).alias("term_raw"),
        )
        .select(
            "doc_id", "lang", "source", "tf",
            F.expr(round6_away_sql("term_raw")).alias("term6"),
        )
        .groupBy("doc_id", "lang", "source")
        .agg(F.sum("tf").alias("n_tokens"), dsum("term6", 6).alias("s6"))
        .select(
            "lang", "source", (-F.col("s6") / F.col("n_tokens")).alias("ce")
        )
    )
    return (
        ce.select("lang", "source", "ce", F.expr(round6_away_sql("ce")).alias("ce6"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_eval"),
            F.count_if(F.col("ce") > PPX_GATE_CE).alias("n_flagged"),
            (dsum("ce6", 6) / F.count("*")).alias("ce_mean"),
        )
    )
