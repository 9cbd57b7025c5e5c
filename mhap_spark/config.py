"""Pipeline configuration.

Defaults mirror the reference CLI defaults and presets
(mhap/main/MhapMain.java:67-91 for defaults, :137-198 for the
--settings 1/2/3 presets).  The graft recasts sequences → image+caption
rows (BASELINE.json input_hint), so ``k`` is the caption character-shingle
size (the phash bit n-gram width is ``hashing.PHASH_NGRAM_BITS``).

A field here is a knob that a preset, a caller or a recorded measurement
sets; a decision that nothing varies is a module constant next to the
code it shapes.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field, replace


def band_count_for(num_hashes: int, rows_per_band: int) -> int:
    """LSH band count: ``num_hashes // rows_per_band`` full bands.  Single
    source of truth — shared by ``MhapConfig.band_count`` and the minhash
    kernel's ``band_hashes`` so the engine and the oracle can never disagree
    on which bands exist."""
    return num_hashes // rows_per_band


# Edge sets at/below this many edges run the CC finish as ONE driver
# union-find instead of latency-bound supersteps (cluster.py
# _driver_union_find — a bounded Arrow collect of ≈ cutoff × two short ids,
# a few hundred MB, well under driver.maxResultSize).  The measured
# crossover bound (tools/cc_microbench.py --driver-finish,
# BENCH/BASELINE.md): at 8M edges the union-find still beats the superstep
# loop 1.85× at full 32-core width, and by more at lower widths, so 8M is
# conservative.  The distributed loop regime is unaffected: at the
# 10^12-row design point (≈3×10^9 edges) the count sits orders of
# magnitude above this.
CC_DRIVER_FINISH_EDGES = 8_000_000


@dataclass(frozen=True)
class MhapConfig:
    # --- shingling (mhap/main/MhapMain.java:75 k=16) ---
    k: int = 16                      # caption char k-gram size
    use_phash_shingles: bool = True

    # --- stage 1: weighted MinHash (mhap/main/MhapMain.java:77 num-hashes=512) ---
    # MinHash slots; the kernel steps the band_count() * rows_per_band of
    # them that the bands fold (all of them when rows_per_band divides it)
    num_hashes: int = 512
    # tf-idf repeat down-weighting (mhap/main/MhapMain.java:69-73:
    #   repeat-weight=0.9, repeat-idf-scale=3.0, filter-cutoff=1e-5)
    repeat_weight: float = 0.9       # <0 disables tf-idf (original MHAP mode)
    idf_scale: float = 3.0           # scaledIdf range [1, idf_scale]
    filter_cutoff: float = 1e-5      # df-ratio below this → treated as rare

    # --- candidate generation (mhap/main/MhapMain.java:83 num-min-matches=3) ---
    rows_per_band: int = 1           # r=1 ≡ MHAP slot-exact voting; r>1 = LSH bands
    num_min_matches: int = 3         # min shared bands (slots when r=1)
    max_bucket_size: int = 512       # noise-suppression cap on band buckets
                                     # (scale analog of tf-idf popular-kmer removal,
                                     #  mhap/sketch/FrequencyCounts.java:171-186)
    # candidate emission mode:
    #  "pairs" — all C(n,2) pairs per bucket (exact MHAP MatchResult semantics);
    #  "star"  — (bucket-min → member) edges only: O(n) per bucket instead of
    #            O(n²), sufficient for CLUSTER output (connectivity is preserved
    #            through verified hubs) — the web-scale mode; a 500-dup bucket
    #            emits 499 edges instead of 124,750
    # buckets larger than max_bucket_size are dropped in pairs mode (C(n,2)
    # emission is quadratic) and salted into sub-buckets in star mode, so a
    # mega-cluster stays connected (candidates._pairs_star)
    candidate_mode: str = "pairs"
    star_min_votes: int = 2          # vote gate for star edges (bands where the
                                     # edge's hub is that bucket's min)
    freq_sample_mod: int = 1         # df-ratio estimation sample: keep rows with
                                     # id_hash63 % mod == 0 (1 = all rows); at
                                     # 10^12 rows the corpus-stats pass must be
                                     # sampled — deterministic + oracle-replicable

    # --- stage 2: bottom-k Jaccard refinement ---
    ordered_sketch_size: int = 1536  # bottom-k size (mhap/main/MhapMain.java:85)
    threshold: float = 0.78          # identity-score accept gate (mhap/main/MhapMain.java:67)
    min_jaccard: float = 0.04        # direct jaccard gate — image+caption domain
                                     # operating point (DNA's τ=0.78 identity ≈
                                     # jaccard 0.0095, too loose for near-dup
                                     # images; 0 disables)

    # min-length load filter (mhap/main/MhapMain.java:79-81 minOlapLength
    # analog): rows whose TOTAL shingle count (multiset, duplicates kept —
    # the n_shingles column; the analog of the reference's sequence length,
    # not its distinct-k-mer count) is below this are dropped entirely after
    # sketching — too short to carry near-dup signal; 0 keeps the round-1
    # behavior (degenerate rows ride through with zeroed sigs)
    min_shingles: int = 0
    # store filter (mhap/main/MhapMain.java:79 --min-store-length;
    # mhap/impl/MinHashSearch.java index insertion): rows below this many
    # total shingles (same multiset count as min_shingles) are NOT stored
    # in the band index but still PROBE it, so a
    # (short, long) pair is found via the long row's index entry while
    # (short, short) pairs are skipped — the reference's asymmetric
    # index-size/recall trade.  It is the ``stored`` flag of the one pairs
    # window (candidates.capped_bucket_pairs), so the bucket cap counts
    # stored rows only.  0 disables (symmetric index).  Pairs mode only;
    # star mode's hub emission has no probe/store asymmetry.
    min_store_shingles: int = 0

    # --- clustering ---
    cc_max_iters: int = 50
    # edge sets at/below this finish CC on the driver (CC_DRIVER_FINISH_EDGES);
    # 0 = the pure superstep loop (CC microbench, loop-parity tests,
    # perfbench's batch_mega_loop)
    cc_driver_finish_edges: int = CC_DRIVER_FINISH_EDGES

    # --- execution ---
    # True (default): every corpus-scaled join side carries an explicit
    # shuffle_hash hint so AQE's runtime byte estimate can never flip it to
    # broadcast — at 3M rows the estimate undershot the wide array columns
    # and the driver-side broadcast build OOMed the JVM (round-4 cliff).
    # False: leave strategy to Catalyst/AQE — lets genuinely-small sides
    # broadcast on small corpora.  The round-5 interleaved A/B
    # (BENCH/HINTS_AB_raw.json) measured the hints' cost at +25.5% (20k
    # rows) and +12.7% (300k) with byte-identical outputs, so callers that
    # KNOW the corpus size should resolve this via hints_default_for_rows
    # (bench.py and the pipeline CLI do); the unconditional-True default
    # stays for unknown-scale callers, where OOM-safety beats small-corpus
    # speed.
    no_broadcast_hints: bool = True

    def __post_init__(self) -> None:
        # a config with no bands would sketch, emit empty ``bands`` and
        # silently yield zero candidates
        if self.rows_per_band < 1 or self.band_count() < 1:
            raise ValueError(
                f"config has no LSH bands: num_hashes={self.num_hashes}, "
                f"rows_per_band={self.rows_per_band} (need rows_per_band >= 1 "
                "and num_hashes >= rows_per_band)"
            )

    def band_count(self) -> int:
        return band_count_for(self.num_hashes, self.rows_per_band)

    def min_band_matches(self) -> int:
        """Vote gate in band units: with r slots per band, m shared slots
        correspond to ceil(m / r) shared bands (r=1 → exactly MHAP's gate,
        mhap/impl/MinHashSearch.java:204)."""
        return max(1, -(-self.num_min_matches // self.rows_per_band))

    # knobs that change the physical plan but provably not the output
    # (byte-identical A/B on record: BENCH/HINTS_AB_raw.json) —
    # excluded from config_hash so toggling them between a write and a
    # resume does not silently invalidate checkpoints and recompute stages
    _EXECUTION_ONLY_KNOBS = ("no_broadcast_hints",)

    def config_hash(self) -> str:
        """Stable hash of all semantic knobs — keys checkpoint manifests.
        Execution-only knobs (same output, different plan) are excluded:
        a checkpoint written with hints ON must be resumable with hints
        OFF (the CLI auto-derives the hint default from --rows, so the
        same logical run can legitimately see both values)."""
        d = asdict(self)
        for k in self._EXECUTION_ONLY_KNOBS:
            d.pop(k, None)
        # retired knobs, hashed at the values they always had, so every
        # config keeps its checkpoints: band subsampling ("all bands"), and
        # the fields that became constants (hashing.PHASH_NGRAM_BITS,
        # minhash.MAX_WEIGHT, caption shingles always on, no idf offset)
        d.update(
            num_bands=0, use_caption_shingles=True, phash_ngram_bits=16,
            idf_offset=0.0, max_weight=32,
        )
        payload = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def with_overrides(self, **kw) -> "MhapConfig":
        return replace(self, **kw)


def hints_default_for_rows(n_rows: int) -> bool:
    """Size-conditional default for ``no_broadcast_hints`` when the caller
    knows the corpus row count: the broadcast-OOM cliff the hints exist to
    kill was measured at 3M rows (round 4), while 1M-row runs completed
    safely WITHOUT hints (round-3 data-size legs) and the hints cost
    13–25% below 300k (round-5 A/B).  ≥1M rows keeps the hints (a 2M-row
    safety margin below the measured cliff); smaller corpora let
    Catalyst/AQE broadcast freely."""
    return n_rows >= 1_000_000


# Presets mirroring mhap/main/MhapMain.java:137-198 (--settings 1/2/3).
PRESET_DEFAULT = MhapConfig()
PRESET_FAST = MhapConfig(num_hashes=256, threshold=0.80, ordered_sketch_size=1000)
PRESET_SENSITIVE = MhapConfig(num_hashes=768, num_min_matches=2, threshold=0.73)
# Web-scale operating point: star candidate emission (linear in bucket size),
# 128 slots = 128 bands (4x smaller candidate shuffle and 4x fewer sketch
# steps than the default 512), df table estimated on a 25% hash-sample.
PRESET_SCALE = MhapConfig(
    num_hashes=128, candidate_mode="star", star_min_votes=2, freq_sample_mod=4
)

PRESETS = {1: PRESET_DEFAULT, 2: PRESET_FAST, 3: PRESET_SENSITIVE, 4: PRESET_SCALE}
