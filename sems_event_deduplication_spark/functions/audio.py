"""Audio path: PCM decode, spectral fingerprint, SimHash, SNR.

This is the new modality axis (BASELINE.json input_hint: ``bytes``,
``sr_hz``, ``dur_ms``, ``codec``). The reference has no audio; its
analogue is batched model inference over titles
(``create_silver_label.py:96-106`` — SURVEY.md §2.11 X3), which maps to
scalar Arrow ``pandas_udf``s here.

Chain (all inside one Arrow batch UDF, numpy only — no scipy/librosa):

    bytes --decode(codec)--> float PCM in [-1, 1]
          --frame + rFFT--> per-frame magnitude spectrum
          --log band energies (mean over frames, mean-subtracted)-->
          fingerprint vector (amplitude-invariant)
          --fixed-seed Gaussian projection, sign--> 64-bit SimHash

Supported codecs: ``pcm_s16le``, ``pcm_f32le`` (raw numpy views),
ITU-T G.711 ``pcm_mulaw`` / ``pcm_alaw`` (8-bit logarithmic
companding, decoded via 256-entry tables built from the public-domain
reference expansion — one vectorized lookup per payload), and ``wav``
(RIFF/WAVE container walk: PCM 8/16/32-bit, float32, A-law, mu-law at
any channel count, average-downmixed to mono). Anything else
(mp3/aac/opus/ADPCM/...) raises — the container has no codec libs;
the plumbing (schema, batching, signature width) is real.

COMPANDING ROBUSTNESS (round 5): the band flatten floor sits at
``FP_FLOOR_DB`` = 22 dB below the peak band (was 60 dB through round
4). G.711 companding's quantization floor lands ~24-41 dB below the
peak band of a sparse spectrum — far ABOVE a -60 dB flatten, so a
pure mu-law re-encode used to rewrite the near-empty bands'
log-energy diffs (measured: up to 26-32/128 flipped bits, past any
usable Hamming threshold; transcode dups rode the text tier only).
With the floor raised above the companding noise, every band that
G.711 noise can touch flattens to the same value in BOTH encodings
and contributes zero diffs. Measured on 1,187 planted transcode
pairs (bench-corpus generator): max 4 flipped bits, 99.8% <= 3 (the
pigeonhole-guaranteed candidate radius), while planted 34-45 dB SNR
near-dups stay <= 3 and unrelated clips stay >= 16 bits apart
(80k-pair scan). The floor is a robustness/discrimination dial:
every dB lower keeps more low-level spectral structure but admits
more of the noisiest codec's floor into the bits — 22 dB is chosen
to clear G.711 (the noisiest supported codec) with margin, and is a
config knob (``DedupConfig.fp_floor_db``) because a corpus with no
telephony audio can run deeper floors for extra discrimination.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

SUPPORTED_CODECS = ("pcm_s16le", "pcm_f32le", "pcm_mulaw", "pcm_alaw", "wav")

# Band flatten floor, dB below the peak band. Must sit ABOVE the
# noisiest supported codec's per-band quantization floor (G.711:
# measured up to ~-24 dB relative to the peak band on sparse spectra)
# so that transcoding cannot move a band across the flatten boundary.
FP_FLOOR_DB = 22.0

_HANN_CACHE: dict[int, np.ndarray] = {}


def _hann(frame: int) -> np.ndarray:
    w = _HANN_CACHE.get(frame)
    if w is None:
        w = np.hanning(frame)
        _HANN_CACHE[frame] = w
    return w


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry byte -> int16 decode tables for ITU-T G.711 mu-law and
    A-law (the telephony codecs; 8-bit logarithmic companding). Pure
    integer arithmetic per the public-domain reference implementation
    (Sun Microsystems g711.c segment/mantissa expansion) — no codec
    library needed, so these two formats move OUT of the honest
    "cannot decode in this container" gap. Built once, vectorized
    decode is a single table lookup over the payload bytes."""
    u = np.arange(256, dtype=np.int32)

    # mu-law: complement, then expand exponent/mantissa around BIAS=0x84
    uc = (~u) & 0xFF
    t = (((uc & 0x0F) << 3) + 0x84) << ((uc & 0x70) >> 4)
    mulaw = np.where((uc & 0x80) != 0, 0x84 - t, t - 0x84).astype(np.int16)

    # A-law: XOR 0x55, segment 0 is linear, higher segments shift
    a = u ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0)))
    alaw = np.where((a & 0x80) != 0, t, -t).astype(np.int16)
    return mulaw, alaw


_MULAW_TABLE, _ALAW_TABLE = _g711_tables()


def _nearest_codeword_encoder(table: np.ndarray):
    """Encoder = nearest-decoded-value search against the 256-entry
    decode table (sorted once; one vectorized searchsorted per call).
    Definitionally optimal quantization — round-trip error is bounded
    by half the local G.711 step — and immune to the segment-boundary
    edge cases hand-written bit-twiddling encoders get wrong."""
    order = np.argsort(table, kind="stable")
    decoded_sorted = table[order].astype(np.int32)

    def encode(pcm: np.ndarray) -> bytes:
        x = np.clip(
            np.round(np.asarray(pcm, dtype=np.float64) * 32768.0), -32768, 32767
        ).astype(np.int32)
        pos = np.searchsorted(decoded_sorted, x)
        lo = np.clip(pos - 1, 0, 255)
        hi = np.clip(pos, 0, 255)
        pick = np.where(
            np.abs(decoded_sorted[hi] - x) < np.abs(x - decoded_sorted[lo]), hi, lo
        )
        return order[pick].astype(np.uint8).tobytes()

    return encode


encode_mulaw = _nearest_codeword_encoder(_MULAW_TABLE)
encode_alaw = _nearest_codeword_encoder(_ALAW_TABLE)


def _decode_wav(buf: bytes) -> np.ndarray:
    """RIFF/WAVE container -> float32 mono PCM in [-1, 1].

    Pure struct parsing (chunk walk; no audio library): supports the
    formats this module can decode raw — PCM 8/16/32-bit int
    (format 1), IEEE float32 (format 3), A-law (format 6), mu-law
    (format 7) — at any channel count (channels average-downmix to
    mono, the standard reduction for fingerprinting). Anything else
    (WAVE_FORMAT_EXTENSIBLE compressed payloads, ADPCM, ...) raises
    NotImplementedError like every other unsupported codec.

    NB the header's sample rate is NOT validated against the row's
    ``sr_hz`` column here (the decode API is (bytes, codec) — it never
    sees the column). The whole engine assumes ``sr_hz`` is truthful:
    the fingerprint frame/hop are in samples, so two encodings of the
    same audio at DIFFERENT true rates never aligned in the first
    place, wav or raw. Ingest validation belongs where both values are
    in hand — ``wav_header_sr`` exposes the parsed rate so a corpus
    loader can assert ``wav_header_sr(bytes) == sr_hz`` as a cheap
    quality gate before the pipeline runs."""
    import struct

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid, size = buf[pos:pos + 4], struct.unpack("<I", buf[pos + 4:pos + 8])[0]
        if pos + 8 + size > len(buf):
            # a declared size past the end of the payload means the
            # bytes are truncated/corrupt — decoding the partial chunk
            # would silently fingerprint half a clip
            raise ValueError(
                f"WAVE chunk {cid!r} declares {size} bytes but only "
                f"{len(buf) - pos - 8} remain (truncated payload)"
            )
        body = buf[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("WAVE fmt chunk shorter than 16 bytes")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE payload missing fmt/data chunk")
    audio_format, n_ch, _sr, _br, _ba, bits = fmt
    if audio_format == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif audio_format == 1 and bits == 8:  # 8-bit WAV PCM is unsigned
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif audio_format == 1 and bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float32) / 2147483648.0
    elif audio_format == 3 and bits == 32:
        x = np.frombuffer(data, dtype="<f4").astype(np.float32)
    elif audio_format == 6 and bits == 8:
        x = _ALAW_TABLE[np.frombuffer(data, dtype=np.uint8)].astype(np.float32) / 32768.0
    elif audio_format == 7 and bits == 8:
        x = _MULAW_TABLE[np.frombuffer(data, dtype=np.uint8)].astype(np.float32) / 32768.0
    else:
        raise NotImplementedError(
            f"WAVE format {audio_format} at {bits} bits not decodable with "
            f"numpy alone"
        )
    if n_ch > 1:
        x = x[: (len(x) // n_ch) * n_ch].reshape(-1, n_ch).mean(axis=1)
    return x.astype(np.float32)


def wav_header_sr(buf: bytes) -> int:
    """Sample rate declared by a RIFF/WAVE payload's fmt chunk —
    for ingest-time validation against the table's ``sr_hz`` column
    (a mismatch silently mis-scales fingerprints; see ``_decode_wav``)."""
    import struct

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    while pos + 8 <= len(buf):
        cid, size = buf[pos:pos + 4], struct.unpack("<I", buf[pos + 4:pos + 8])[0]
        if cid == b"fmt ":
            # validate the DECLARED size like _decode_wav does — a fmt
            # chunk declaring < 16 bytes must fail HERE (this is the
            # ingest gate), not later inside the signature stage
            if size < 16 or pos + 8 + size > len(buf):
                raise ValueError("WAVE fmt chunk shorter than 16 bytes")
            return int(struct.unpack("<HHIIHH", buf[pos + 8:pos + 24])[2])
        pos += 8 + size + (size & 1)
    raise ValueError("WAVE payload missing fmt chunk")


def decode_pcm(buf: bytes, codec: str) -> np.ndarray:
    """Decode an encoded payload to float32 PCM in [-1, 1]."""
    if codec == "pcm_s16le":
        return np.frombuffer(buf, dtype="<i2").astype(np.float32) / 32768.0
    if codec == "pcm_f32le":
        return np.frombuffer(buf, dtype="<f4").astype(np.float32)
    if codec == "pcm_mulaw":
        return _MULAW_TABLE[np.frombuffer(buf, dtype=np.uint8)].astype(np.float32) / 32768.0
    if codec == "pcm_alaw":
        return _ALAW_TABLE[np.frombuffer(buf, dtype=np.uint8)].astype(np.float32) / 32768.0
    if codec == "wav":
        return _decode_wav(bytes(buf))
    raise NotImplementedError(
        f"codec {codec!r} not decodable with numpy alone (supported: {SUPPORTED_CODECS})"
    )


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio of ``test`` against ``ref`` in dB.

    Identical signals -> +inf (callers compare against a 30 dB floor,
    per the BASELINE.json per-row invariant).
    """
    n = min(len(ref), len(test))
    if n == 0:
        return float("-inf")
    r = ref[:n].astype(np.float64)
    d = r - test[:n].astype(np.float64)
    p_sig = float(np.sum(r * r))
    p_noise = float(np.sum(d * d))
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(p_sig / p_noise)


_BAND_EDGE_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _band_edges(n_bins: int, n_bands: int) -> np.ndarray:
    """n_bands+1 strictly increasing log-spaced bin edges in [1, n_bins-1];
    rounding collapses the low end, so gaps are back-filled linearly.

    Cached per (n_bins, n_bands): the edges are a pure function of the
    two ints, and the logspace/unique/backfill was measured at ~40% of
    ``fingerprint_from_mag`` when recomputed per clip (r6 profile —
    pure overhead in the per-clip hot loop at 100 TB)."""
    key = (n_bins, n_bands)
    cached = _BAND_EDGE_CACHE.get(key)
    if cached is not None:
        return cached
    edges = np.unique(
        np.clip(
            np.round(np.logspace(0, np.log10(n_bins - 1), n_bands + 1)).astype(np.int64),
            1,
            n_bins - 1,
        )
    )
    if len(edges) < n_bands + 1:
        have = set(edges.tolist())
        fill = [x for x in range(1, n_bins) if x not in have][: n_bands + 1 - len(edges)]
        edges = np.sort(np.concatenate([edges, np.asarray(fill, dtype=np.int64)]))
    _BAND_EDGE_CACHE[key] = edges
    return edges


def _stft_mag(pcm: np.ndarray, frame: int, hop: int) -> np.ndarray:
    """Hann-windowed STFT magnitude matrix (n_frames, frame//2+1) —
    the one FFT both fingerprints consume. When ``hop_a % hop_b == 0``
    the hop_a frames are exactly every (hop_a/hop_b)-th hop_b frame
    (same window, same offsets), so ``_stft_mag(pcm, f, hop_b)[::r]``
    is bit-identical to ``_stft_mag(pcm, f, hop_a)`` — the fused UDF
    exploits this to run ONE FFT for both hop configs."""
    if len(pcm) < frame:
        pcm = np.pad(pcm, (0, frame - len(pcm)))
    # strided view instead of a fancy-index gather: the old path built
    # an (n_frames, frame) int64 index matrix AND a gathered copy per
    # clip; the view costs nothing and the hann multiply produces the
    # bit-identical windowed frames (r6 profile: ~25% off the STFT leg
    # of the per-clip fingerprint cost)
    frames = np.lib.stride_tricks.sliding_window_view(pcm, frame)[::hop] * _hann(frame)
    return np.abs(np.fft.rfft(frames, axis=1))


def spectral_fingerprint(
    pcm: np.ndarray, frame: int = 1024, hop: int = 512, n_bands: int = 64,
    floor_db: float = FP_FLOOR_DB,
) -> np.ndarray:
    """Amplitude-invariant band-structure vector (length n_bands).

    Adjacent-band log-energy diffs with bands below ``floor_db`` of the
    peak band flattened: dominant bands control the SimHash projection
    while codec-noise-floor bands contribute exactly nothing, which
    makes the bits stable under 16-bit re-quantization, additive noise
    at SNR >= ~30 dB, AND G.711 companding (see module docstring for
    the measured flip distributions). All-silence -> zero vector
    (SimHash 0)."""
    return fingerprint_from_mag(_stft_mag(pcm, frame, hop), n_bands, floor_db)


def fingerprint_from_mag(
    mag: np.ndarray, n_bands: int = 64, floor_db: float = FP_FLOOR_DB
) -> np.ndarray:
    # log-spaced band edges over the positive-frequency bins, all < n_bins
    edges = _band_edges(mag.shape[1], n_bands)
    band_e = np.add.reduceat((mag * mag).sum(axis=0), edges[:-1])[:n_bands]
    total = band_e.sum()
    if total <= 1e-20:
        return np.zeros(n_bands, dtype=np.float64)
    # adjacent-band log-energy differences (Haitsma & Kalker, "A Highly
    # Robust Audio Fingerprint System", ISMIR'02): exactly amplitude-
    # invariant (gain shifts every log energy by the same constant) and
    # free of the smooth spectral tilt every clip shares — raw energy
    # shares made SimHash bits correlate across *unrelated* clips
    # (sign(proj @ fp) was dominated by the common tilt), which
    # concentrated LSH band buckets into a few hot values. The unit-norm
    # difference vector keeps only clip-specific peak structure, giving
    # near-unbiased independent bits for distinct spectra while noise at
    # SNR >= ~30 dB still barely moves any single difference.
    # floor at floor_db below the peak band: bands holding only codec
    # quantization noise flatten to identical values (zero diffs), so
    # re-encoding — s16 <-> f32 AND G.711 mu-law/A-law, whose companding
    # noise lands up to ~-24 dB relative to a sparse spectrum's peak
    # band — cannot flip their signs; structure above the floor is
    # unaffected (measured margins in the module docstring)
    d = np.diff(np.log(np.maximum(band_e, band_e.max() * 10.0 ** (-floor_db / 10.0))))
    nrm = float(np.linalg.norm(d))
    if nrm <= 0.0:
        return np.zeros(n_bands, dtype=np.float64)
    out = np.zeros(n_bands, dtype=np.float64)
    out[: n_bands - 1] = d / nrm
    return out


def _projection(n_bands: int, bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed + 7_919)
    return rng.standard_normal((bits, n_bands))


def _n_words(bits: int) -> int:
    return (bits + 63) // 64


def pack_bits_to_words(bit_flags: np.ndarray, bits: int) -> list[int]:
    """bool array (length <= bits) -> little-endian int64 words.

    Bit i lives in word i // 64 at position i % 64, so contiguous
    band slices (``simhash_bands``) never straddle a word when the
    band width divides 64.
    """
    n_w = _n_words(bits)
    padded = np.zeros(n_w * 64, dtype=np.uint8)
    padded[: len(bit_flags)] = bit_flags.astype(np.uint8)
    return [int(w) for w in np.packbits(padded, bitorder="little").view("<u8").view(np.int64)]


def make_audio_simhash_udf(
    frame: int, hop: int, n_bands: int, bits: int, seed: int,
    floor_db: float = FP_FLOOR_DB,
):
    """pandas_udf (bytes, codec) -> array<bigint> SimHash words.

    ``bits`` is the full signature width (128 default = 2 words): wide
    signatures exist so the LSH bands can be wide — 16-bit band keys
    collide by the birthday bound at ~10^5 rows, 32-bit at ~10^7, and
    oversized buckets degrade recall through the star-edge cap."""
    proj = _projection(n_bands, bits, seed)
    n_w = _n_words(bits)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def audio_simhash(buf: pd.Series, codec: pd.Series) -> pd.Series:
        out: list[list[int]] = []
        pm = proj  # local ref; broadcast once per executor via closure pickle
        zero = [0] * n_w
        for b, c in zip(buf, codec):
            if b is None or len(b) == 0:
                out.append(zero)
                continue
            fp = spectral_fingerprint(
                decode_pcm(bytes(b), c), frame, hop, n_bands, floor_db
            )
            out.append(pack_bits_to_words((pm @ fp) > 0, bits))
        return pd.Series(out)

    return audio_simhash


def audio_landmarks(
    pcm: np.ndarray,
    frame: int = 1024,
    hop: int = 256,
    peaks_per_frame: int = 5,
    fan_out: int = 5,
    max_dt: int = 32,
) -> np.ndarray:
    """Spectral-peak landmark hashes (Wang, "An Industrial-Strength
    Audio Search Algorithm", ISMIR'03 — the Shazam constellation).

    A landmark is (anchor peak bin, paired peak bin, frame delta),
    hashed to one int64. Peaks live on the frequency axis (unaffected
    by time offset) and the frame delta is a *difference* of times, so
    both are invariant when the clip appears at an arbitrary offset
    inside a longer recording — unlike raw per-frame fingerprints,
    whose window phase shifts with (offset mod hop). The landmark SET
    is therefore the audio analogue of a text shingle set: offset/
    containment dups share most of it. Values feed the existing
    MinHash/LSH machinery exactly like shingle hashes.
    """
    return landmarks_from_mag(
        _stft_mag(pcm, frame, hop), peaks_per_frame, fan_out, max_dt
    )


def landmarks_from_mag(
    mag: np.ndarray,
    peaks_per_frame: int = 5,
    fan_out: int = 5,
    max_dt: int = 32,
) -> np.ndarray:
    n_frames, n_bins = mag.shape
    # per-frame top-k local maxima above the frame median (noise gate)
    # AND above 30% of the frame max: marginal peaks that flicker around
    # the gate under window-phase shifts would otherwise spawn large
    # unstable landmark families and sink the containment overlap.
    # Slicing comparisons instead of shifted full-matrix copies — the
    # peak predicate is identical (virtual left/right neighbors are 0
    # at the edges), just without two mag-sized allocations per clip
    gate = np.maximum(
        np.median(mag, axis=1, keepdims=True) * 4.0,
        mag.max(axis=1, keepdims=True) * 0.3,
    )
    is_peak = np.zeros(mag.shape, dtype=bool)
    if n_bins >= 2:
        is_peak[:, 1:-1] = (mag[:, 1:-1] > mag[:, :-2]) & (
            mag[:, 1:-1] >= mag[:, 2:]
        )
        is_peak[:, 0] = (mag[:, 0] > 0.0) & (mag[:, 0] >= mag[:, 1])
        is_peak[:, -1] = mag[:, -1] > mag[:, -2]
    else:
        is_peak[:, 0] = mag[:, 0] > 0.0
    is_peak &= mag > gate
    scores = np.where(is_peak, mag, 0.0)
    k = min(peaks_per_frame, n_bins)
    top = np.argpartition(-scores, k - 1, axis=1)[:, :k]  # (n_frames, k)

    # ---- fully vectorized pairing (no per-peak Python loops) ----------
    # flatten the per-frame top-k into (peak_frame, peak_bin) arrays
    valid = np.take_along_axis(scores, top, axis=1) > 0.0  # (n_frames, k)
    counts = valid.sum(axis=1).astype(np.int64)  # peaks per frame
    peak_bin = top[valid].astype(np.int64)  # flat, frame-major order
    starts = np.zeros(n_frames + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    ne = np.nonzero(counts > 0)[0]  # non-empty frames, ascending

    # anchor frame t pairs with the next `fan_out` non-empty frames
    # within dt < max_dt: for each stride s the frame pairs are
    # (ne[:-s], ne[s:]) — fan_out vectorized slices, no scan
    ta_parts, tb_parts = [], []
    for s in range(1, min(fan_out, len(ne) - 1) + 1):
        ta, tb = ne[:-s], ne[s:]
        keep = (tb - ta) < max_dt
        ta_parts.append(ta[keep])
        tb_parts.append(tb[keep])
    if not ta_parts or not any(len(p) for p in ta_parts):
        return np.empty(0, dtype=np.int64)
    ta = np.concatenate(ta_parts)
    tb = np.concatenate(tb_parts)

    # expand each (anchor frame, target frame) pair to the full
    # anchors x targets cross product with repeat/arange arithmetic:
    # combo c of pair p -> anchor A_p[c // b_p], target B_p[c % b_p]
    na, nb = counts[ta], counts[tb]
    sizes = na * nb
    total = int(sizes.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    pair_of = np.repeat(np.arange(len(ta)), sizes)
    offs = np.zeros(len(ta) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    c_local = np.arange(total, dtype=np.int64) - offs[pair_of]
    a = peak_bin[starts[ta][pair_of] + c_local // nb[pair_of]]
    b = peak_bin[starts[tb][pair_of] + c_local % nb[pair_of]]
    dt = (tb - ta)[pair_of]
    # emit both floor(dt/2) and ceil(dt/2): an offset that is not a
    # multiple of hop shifts peak frame indices by ±1, and a single
    # dt//2 quantization flips for odd deltas — the two-sided emit
    # guarantees each true landmark still shares at least one hash
    base = (a << 24) | (b << 8)
    return np.unique(np.concatenate([base | (dt // 2), base | ((dt + 1) // 2)]))


def make_audio_sig_landmark_udf(
    frame: int,
    hop: int,
    n_bands: int,
    bits: int,
    seed: int,
    lm_hop: int,
    peaks_per_frame: int = 5,
    fan_out: int = 5,
    floor_db: float = FP_FLOOR_DB,
):
    """pandas_udf (bytes, codec) -> struct(audio_simhash, landmarks).

    Fuses the clip-level SimHash and the offset-tier landmark
    extraction into ONE payload pass: at 100 TB the payload bytes ARE
    the dataset, and running the two fingerprints as separate stages
    reads (and decodes) all of it twice. One decode feeds both FFT
    configs (SimHash at ``hop``, landmarks at ``lm_hop``) — and when
    ``hop`` is a multiple of ``lm_hop`` (the default 512/256) the
    SimHash frames are exactly every (hop/lm_hop)-th landmark frame
    (same window length, same offsets), so ONE STFT serves both:
    a third less FFT work, the dominant cost of the signature stage.
    Its SimHash is bit-identical to ``make_audio_simhash_udf`` and its
    landmarks to ``audio_landmarks`` at ``lm_hop`` (tested)."""
    proj = _projection(n_bands, bits, seed)
    n_w = _n_words(bits)
    stride = hop // lm_hop if (lm_hop > 0 and hop % lm_hop == 0) else 0
    schema = T.StructType(
        [
            T.StructField("audio_simhash", T.ArrayType(T.LongType())),
            T.StructField("landmarks", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(schema)
    def sig_and_landmarks(buf: pd.Series, codec: pd.Series) -> pd.DataFrame:
        sims: list[list[int]] = []
        lms: list[list[int]] = []
        zero = [0] * n_w
        for b, c in zip(buf, codec):
            if b is None or len(b) == 0:
                sims.append(zero)
                lms.append([])
                continue
            pcm = decode_pcm(bytes(b), c)
            if stride:
                mag_lm = _stft_mag(pcm, frame, lm_hop)
                fp = fingerprint_from_mag(mag_lm[::stride], n_bands, floor_db)
                lm = landmarks_from_mag(mag_lm, peaks_per_frame, fan_out)
            else:
                fp = spectral_fingerprint(pcm, frame, hop, n_bands, floor_db)
                lm = audio_landmarks(
                    pcm, frame, lm_hop, peaks_per_frame, fan_out
                )
            sims.append(pack_bits_to_words((proj @ fp) > 0, bits))
            lms.append([int(v) for v in lm])
        return pd.DataFrame({"audio_simhash": sims, "landmarks": lms})

    return sig_and_landmarks


def make_snr_udf():
    """pandas_udf (bytes_a, codec_a, bytes_b, codec_b) -> double SNR dB.

    inf is clamped to 999.0 so the result stays a plain double column.
    """

    @F.pandas_udf(T.DoubleType())
    def pair_snr(ba: pd.Series, ca: pd.Series, bb: pd.Series, cb: pd.Series) -> pd.Series:
        out = np.empty(len(ba), dtype=np.float64)
        for i in range(len(ba)):
            if ba[i] is None or bb[i] is None:
                out[i] = float("-inf")
                continue
            v = snr_db(decode_pcm(bytes(ba[i]), ca[i]), decode_pcm(bytes(bb[i]), cb[i]))
            out[i] = 999.0 if v == float("inf") else v
        return pd.Series(out)

    return pair_snr


def simhash_bands(sim: Column, n_bands: int, bits: int = 128) -> Column:
    """Split a multi-word SimHash (array<long>) into ``n_bands``
    contiguous bit-slices; band width must divide 64 or be a multiple
    of it so no slice straddles a word.

    Returns array<long> of band keys (band index folded in JVM-side).
    """
    width = bits // n_bands
    if width <= 64 and 64 % width != 0:
        raise ValueError(f"band width {width} must divide 64")
    if width > 64 and width % 64 != 0:
        raise ValueError(f"band width {width} must be a multiple of 64")
    keys = []
    for i in range(n_bands):
        lo = i * width
        if width == 64:
            keys.append(F.xxhash64(F.lit(i), F.element_at(sim, lo // 64 + 1)))
        elif width < 64:
            word = F.element_at(sim, lo // 64 + 1)
            mask = (1 << width) - 1
            keys.append(
                F.xxhash64(F.lit(i), F.shiftright(word, lo % 64).bitwiseAND(F.lit(mask)))
            )
        else:  # width is a multiple of 64: hash the word span
            span = [F.element_at(sim, lo // 64 + 1 + j) for j in range(width // 64)]
            keys.append(F.xxhash64(F.lit(i), *span))
    return F.array(*keys)


def hamming_distance(a: Column, b: Column) -> Column:
    """Σ bit_count(a[i] XOR b[i]) over the signature words — native,
    codegen'd (zip_with + aggregate, no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
