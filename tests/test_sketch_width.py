"""Regression gates for the widened sketch widths.

The minhash and simhash widths grow with the corpus (`minhash_width`,
`simhash_width`; SCALING.md, second decade: fixed widths measured
458 s / 148 s at 100×). Only the scale tiers reach the widened widths,
so nothing else in the suite exercises them, and a silent breakage
(e.g. a 64-bit signature overflowing under ANSI arithmetic, which the
first widened run hit) would only surface mid-rehearsal. These tests
pin the widened paths at sf0.001:

- the widened sketches still run and their pair sets keep the
  semantics the width rule promises (minhash r=4 stays a verified
  subset of the exact pairs; simhash at 64 and 80 bits reports exactly
  the hamming ≤ SIMHASH_BANDS-1 pairs over the wider signature);
- the widened simhash signature genuinely uses its top bits (an
  overflow or truncation regression would zero or throw on them).
"""

from __future__ import annotations

from linux_logs_spark.operators import llm_pipeline as lp
from linux_logs_spark.registry import all_queries

_Q = all_queries()


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def _with_knobs(spark, sf_dir, name, **knobs):
    old = {k: getattr(lp, k) for k in knobs}
    try:
        for k, v in knobs.items():
            setattr(lp, k, v)
        return _pairs(_Q[name].fn(spark, sf_dir))
    finally:
        for k, v in old.items():
            setattr(lp, k, v)


def test_minhash_widened_rows_per_band_is_a_verified_subset(spark, sf_dir):
    """Both widths run the same exact-Jaccard verify, so each pair set
    must be a subset of the EXACT J ≥ 0.5 ground truth — which
    dedup_shingle_jaccard computes over the same hashed shingle sets
    (oracle-checked). That containment is structural. The old form
    asserted wide <= base, which is NOT structurally guaranteed: the
    widened sketch's extra bands hash seeds the default never uses,
    and r=2 banding detects a J=0.5 pair only w.p. ≈0.90 — a pair
    found by a wide-only band would break the subset silently on a
    fixture change (round-10 advice). Recall is asserted against the
    exact truth instead: the fixture's planted dups are J ≈ 0.8,
    where detection is ≥ 1-(1-0.8²)⁸ ≈ 0.9998 (r=2) and
    1-(1-0.8⁴)⁸ ≈ 0.98 (r=4) per pair — 0.9 leaves a wide
    probabilistic margin (measured: both recalls are 1.0, 28/28)."""
    exact = _pairs(_Q["dedup_shingle_jaccard"].fn(spark, sf_dir))
    base = _pairs(_Q["dedup_near_minhash"].fn(spark, sf_dir))
    wide = _with_knobs(spark, sf_dir, "dedup_near_minhash", N_MINHASH=32)
    assert base <= exact
    assert wide <= exact
    assert len(base & exact) >= int(0.9 * len(exact))
    assert len(wide & exact) >= int(0.9 * len(exact))


def _simhash_pairs_at(spark, sf_dir, bits):
    """(band keys by doc_id, the query's pair set) at ``bits`` bits,
    both from the same engine-computed key table."""
    from linux_logs_spark.catalog import load

    kf = lp.simhash_band_keys(load(spark, sf_dir, "documents"), bits)
    keys = {
        r["doc_id"]: tuple(r[f"k{b}"] for b in range(lp.SIMHASH_BANDS))
        for r in kf.collect()
    }
    return keys, _pairs(lp.simhash_pairs(kf))


def _brute_force_pairs(keys):
    """Pairs within the pigeonhole radius, Hamming distance being the
    sum of per-band popcounts (bands partition the bit positions)."""
    radius = lp.SIMHASH_BANDS - 1
    ids = sorted(keys)
    return {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sum(bin(x ^ y).count("1") for x, y in zip(keys[a], keys[b])) <= radius
    }


def test_simhash_64bit_signature_runs_and_verifies(spark, sf_dir):
    """The 64-bit signature must execute (an ANSI-overflow regression
    raised ARITHMETIC_OVERFLOW here), use its top bits, and report
    exactly the hamming ≤ SIMHASH_BANDS-1 pairs over the SAME keys
    the query banded (pigeonhole completeness is width-independent)."""
    keys, got = _simhash_pairs_at(spark, sf_dir, 64)
    # band 3 holds bits 48-63: some key there must be nonzero
    assert any(ks[3] for ks in keys.values())
    assert got == _brute_force_pairs(keys)


def test_simhash_wide_band_keys_past_the_bigint(spark, sf_dir):
    """Past 64 bits the signature needs a second hash chunk (the 1000×
    rehearsal's finding: a one-bigint signature caps the log(n) width
    rule at 64 and leaves n²·2⁻¹⁶ random band collisions at 5M docs).
    Pins, at 80 bits: the pairs equal brute-force Hamming ≤
    SIMHASH_BANDS-1 over the same keys; and the second hash chunk
    genuinely contributes (band 3 of an 80-bit signature holds bits
    60-79, so positions 4-19 of k3 come from chunk 1 — a truncation
    regression would zero them)."""
    keys, got = _simhash_pairs_at(spark, sf_dir, 80)
    assert any(ks[3] >= 16 for ks in keys.values())  # chunk-1 bits live
    assert got == _brute_force_pairs(keys)
