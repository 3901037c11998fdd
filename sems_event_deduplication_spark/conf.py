"""All pipeline tunables in one serializable dataclass.

The reference hard-codes a grid of clustering configs as DataFrame
*columns* (``create_silver_label.py:38-47`` — ``cluster_{size}_{t}``);
here a single config object parameterizes one run (SURVEY.md §1.2).
"""

from __future__ import annotations

from dataclasses import dataclass

from .functions.audio import FP_FLOOR_DB as _FP_FLOOR_DB


@dataclass(frozen=True)
class DedupConfig:
    # --- text path -------------------------------------------------
    shingle_k: int = 9            # char k-shingles over the normalized transcript
    num_perm: int = 120           # MinHash permutations
    bands: int = 24               # LSH bands (bands * rows_per_band == num_perm)
    rows_per_band: int = 5        # S-curve threshold (1/b)^(1/r) ~= 0.53;
                                  # P(candidate | J=0.8) = 1-(1-0.8^5)^24 = 0.99994
                                  # so recall >= 0.99 holds by construction, while
                                  # J=0.4 template-noise pairs collide at ~22%
                                  # instead of ~100% (b=32/r=4 thresholded at 0.42
                                  # and flooded the candidate join with sub-
                                  # threshold pairs that verify then discarded)
    jaccard_threshold: float = 0.8   # verify threshold (reference community t grid: 0.6-0.9)
    est_margin: float = 0.25      # signature-estimate prefilter slack before exact verify

    # --- audio path ------------------------------------------------
    simhash_bits: int = 128       # SimHash width over spectral fingerprint
                                  # (2 int64 words; array<long> column)
    hamming_threshold: int = 3    # max Hamming distance for audio near-dup.
    simhash_bands: int = 4        # 4 bands x 32 bits. Pigeonhole: hamming <= 3
                                  # guarantees >= 1 band with zero flips, so
                                  # audio candidate recall is exactly 1.0 by
                                  # construction (true near-dups measure <= 2
                                  # bit flips at SNR >= 30 dB; see functions/
                                  # audio.py). 32-bit band keys collide by the
                                  # birthday bound only past ~10^7 rows per
                                  # partition of the key space (16-bit bands
                                  # were flooding buckets at 10^5 rows).
    fft_frame: int = 1024         # samples per analysis frame
    fft_hop: int = 512
    n_mel_bands: int = 64         # log-spaced energy bands per frame
    fp_floor_db: float = _FP_FLOOR_DB
                                  # band flatten floor, dB below the peak
                                  # band. Robustness/discrimination dial:
                                  # must sit ABOVE the noisiest supported
                                  # codec's per-band quantization floor so
                                  # transcoding can't move a band across
                                  # it — G.711 companding measures up to
                                  # ~-24 dB relative on sparse spectra, so
                                  # 22 clears it (transcode pairs: max 4
                                  # flipped bits over 1,187 planted, 99.8%
                                  # <= hamming_threshold; unrelated clips
                                  # stay >= 16 bits apart). Corpora with
                                  # no telephony audio can lower the floor
                                  # (e.g. 60.0) for extra discrimination
                                  # of very quiet spectral structure.

    # --- offset/containment audio tier (operators/audio_segments.py) --
    with_offset_audio: bool = False   # landmark inverted-index tier in the
                                      # flagship pipeline (off by default:
                                      # the synthetic planted dups are all
                                      # full-clip relations; turn on for
                                      # corpora with spliced/embedded audio)
    landmark_containment: float = 0.8
    landmark_min_shared: int = 4
    offset_verify_mode: str = "exact"
                                  # exact: array-intersect containment on
                                  #   the full landmark arrays (right even
                                  #   when shared landmarks hit the star
                                  #   cap, but ships the arrays through
                                  #   the pair join)
                                  # count: containment from the candidate
                                  #   join's co-occurrence count — the
                                  #   scale form; bit-identical absent
                                  #   star caps, never over-admits under
                                  #   them, no array rides the shuffle

    # --- exact-dedup payload re-attach (operators/exact_dedup.py) ----
    exact_dedup_strategy: str = "auto"
                                  # the only value: broadcast the dropped
                                  # ids to the keeper anti-join when there
                                  # are at most exact_dedup_max_broadcast_ids
                                  # of them (counted by the exact_edges
                                  # write), else a plain left_anti — safe
                                  # at any dup rate, incl. boilerplate
                                  # mega-dup corpora where the dropped set
                                  # itself outgrows the driver. Set the
                                  # cap to 0 for tables bucketed on
                                  # clip_id (WarehouseIO.save_bucketed):
                                  # the plain join then runs with zero
                                  # Exchanges
    exact_dedup_max_broadcast_ids: int = 20_000_000
    exact_digest_algo: str = "xxh128"
                                  # xxh128 (default): 2 xxhash64 words
                                  #   per content — ~10x sha2 bytes/sec
                                  #   on the digest pass (pure overhead,
                                  #   so cheapest collision-safe hash
                                  #   wins; corpus-wide false-merge
                                  #   ~2^-49 at 10^12 rows).
                                  #   CAVEAT (adversarial content): the
                                  #   2^-128 math is for ACCIDENTAL
                                  #   collisions. XXH64 is non-crypto —
                                  #   an adversary who controls document
                                  #   bytes can construct colliding
                                  #   inputs, and an exact-tier collision
                                  #   is a silent false merge that drops
                                  #   a distinct document. For corpora
                                  #   ingesting untrusted web/event
                                  #   content, set sha256; xxh128 is for
                                  #   trusted/internal corpora where the
                                  #   digest pass is pure overhead.
                                  #   Every committed run surfaces which
                                  #   algo produced its exact_edges table
                                  #   (PipelineResult.exact_digest_algo,
                                  #   emitted in metrics_dict / bench
                                  #   JSON), so an audit can tell the
                                  #   regimes apart after the fact.
                                  # sha256: cryptographic — for
                                  #   untrusted content, and when the
                                  #   digest column is audited/shared
                                  #   externally and needs preimage
                                  #   resistance

    # --- mid-stage commit granularity (SURVEY.md S8) -----------------
    signature_chunks: int = 0     # > 0: the signatures stage commits as
                                  # this many independent chunk
                                  # partitions (WarehouseIO.
                                  # checkpoint_chunked) so a job killed
                                  # mid-stage resumes at the first
                                  # uncommitted chunk instead of
                                  # recomputing hours of fingerprints.
                                  # Chunking key is signature_chunk_col
                                  # hashed; align it with the input
                                  # layout (e.g. a date column) at real
                                  # scale so each chunk pass prunes its
                                  # scan instead of re-reading the corpus
    signature_chunk_col: str = "clip_id"

    # --- signature scan shape (plans/pipeline.py) --------------------
    signature_scan_mode: str = "fused"
                                  # fused (default): ONE payload pass
                                  #   computes digests + all signatures;
                                  #   exact dedup then ranks the narrow
                                  #   digest projection and keepers are
                                  #   filtered by a broadcast anti-join on
                                  #   the signature table. The honest
                                  #   100 TB shape: reading the payload
                                  #   twice costs more than fingerprinting
                                  #   the (few) dup rows — dedup_first's
                                  #   second payload scan measured at
                                  #   stage efficiency 0.46
                                  #   (BENCH/BASELINE.md), which is why
                                  #   every scale document and the
                                  #   flagship bench pick fused; as of r5
                                  #   defaults agree with them.
                                  # dedup_first: digest pass -> drop exact
                                  #   dups -> signature pass over keepers
                                  #   (reference ordering; two payload
                                  #   reads, no FFT wasted on dups — right
                                  #   only when the dup rate is high
                                  #   enough that skipped FFTs beat the
                                  #   extra scan, e.g. boilerplate
                                  #   mega-dup corpora)

    # --- candidate-join scale controls ------------------------------
    max_bucket_size: int = 256    # LSH buckets larger than this use star-edges
                                  # (member -> bucket-min) instead of all-pairs
    containment_bands: int = 2    # bands scanned by the native containment
                                  # tier (verify.containment_pairs)

    # --- clustering ------------------------------------------------
    cc_max_iterations: int = 25   # large-star/small-star fixpoint cap
    cc_local_edges: int = 2_000_000
                                  # <= this many distinct dedup edges:
                                  # resolve components with driver
                                  # union-find (2 jobs) instead of the
                                  # alternating-star loop (~5 jobs) —
                                  # same output, bit for bit. Driver
                                  # PYTHON (not JVM heap) cost at the
                                  # cap: Arrow collect + factorize to
                                  # int codes keeps it at ~4M unique id
                                  # strings + a few int64 arrays —
                                  # ~0.5 GB worst-case at 40-char ids;
                                  # size driver *process* memory, not
                                  # SPARK_DRIVER_MEM, for this. The
                                  # distributed loop engages
                                  # automatically above the cap (and is
                                  # the only path at 10^12-row scale
                                  # where the edge list can approach
                                  # corpus size). 0 disables.

    # --- determinism ------------------------------------------------
    seed: int = 42

    # --- spark knobs -------------------------------------------------
    shuffle_partitions: int = 32

    def __post_init__(self):
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band must equal num_perm "
                f"({self.bands}*{self.rows_per_band} != {self.num_perm})"
            )
        # fail at construction, not after the pipeline has already
        # committed its most expensive stage: the offset tier consumes
        # this only AFTER the full fused payload scan + signatures
        # checkpoint have materialized
        if self.offset_verify_mode not in ("exact", "count"):
            raise ValueError(
                f"offset_verify_mode must be 'exact' or 'count', "
                f"got {self.offset_verify_mode!r}"
            )
        if self.signature_scan_mode not in ("fused", "dedup_first"):
            raise ValueError(
                f"signature_scan_mode must be 'fused' or 'dedup_first', "
                f"got {self.signature_scan_mode!r}"
            )
        if self.exact_dedup_strategy != "auto":
            raise ValueError(
                f"exact_dedup_strategy must be 'auto', "
                f"got {self.exact_dedup_strategy!r}"
            )
        if self.exact_digest_algo not in ("xxh128", "sha256"):
            raise ValueError(
                f"exact_digest_algo must be 'xxh128' or 'sha256', "
                f"got {self.exact_digest_algo!r}"
            )


DEFAULT = DedupConfig()
