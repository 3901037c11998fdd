"""Audio path: decode, SNR, SimHash stability (SURVEY.md §5 test 1)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from sems_event_deduplication_spark.conf import DedupConfig
from sems_event_deduplication_spark.functions.audio import (
    decode_pcm,
    hamming_distance,
    make_audio_simhash_udf,
    make_snr_udf,
    simhash_bands,
    snr_db,
)
from sems_event_deduplication_spark.synth import _add_noise, _encode, _tone

CFG = DedupConfig()


def _rng():
    return np.random.default_rng(123)


def test_decode_roundtrip_s16le():
    pcm = _tone(_rng(), 8000, 0.3)
    buf = _encode(pcm, "pcm_s16le")
    back = decode_pcm(buf, "pcm_s16le")
    assert len(back) == len(pcm)
    assert snr_db(pcm, back) > 60  # 16-bit quantization noise only


def test_decode_roundtrip_f32le():
    pcm = _tone(_rng(), 16000, 0.2)
    back = decode_pcm(_encode(pcm, "pcm_f32le"), "pcm_f32le")
    assert snr_db(pcm, back) > 120


def test_g711_decode_tables_reference_values():
    """The mu-law/A-law decode tables must match ITU-T G.711 per the
    public-domain reference expansion: canonical silence bytes, the
    +-0 pair, and the segment-7 extremes."""
    from sems_event_deduplication_spark.functions.audio import (
        _ALAW_TABLE, _MULAW_TABLE,
    )

    assert _MULAW_TABLE[0xFF] == 0 and _MULAW_TABLE[0x7F] == 0
    assert _MULAW_TABLE[0x00] == -32124 and _MULAW_TABLE[0x80] == 32124
    assert _ALAW_TABLE[0x55] == -8 and _ALAW_TABLE[0xD5] == 8
    assert int(_ALAW_TABLE.max()) == 32256 and int(_ALAW_TABLE.min()) == -32256
    # companding is symmetric: every decoded magnitude appears with
    # both signs
    for tab in (_MULAW_TABLE, _ALAW_TABLE):
        assert set(map(int, tab)) == {-int(v) for v in tab}


def test_g711_roundtrip_snr_and_idempotence():
    """G.711 companding at speech levels round-trips above the 30 dB
    pipeline invariant (~38 dB), and codewords are fixed points:
    decode -> encode -> decode is bit-identical (the nearest-codeword
    encoder maps every decoded value back to its own byte)."""
    pcm = _tone(_rng(), 8000, 0.4, n_partials=6) * 0.5
    for codec in ("pcm_mulaw", "pcm_alaw"):
        buf = _encode(pcm, codec)
        assert len(buf) == len(pcm)  # 8 bits/sample
        back = decode_pcm(buf, codec)
        assert snr_db(pcm, back) > 30, codec
        again = decode_pcm(_encode(back, codec), codec)
        assert np.array_equal(back, again), codec


def test_unsupported_codec_still_raises():
    import pytest

    with pytest.raises(NotImplementedError, match="mp3"):
        decode_pcm(b"\x00\x01", "mp3")


def _wav_bytes(data: bytes, audio_format: int, n_ch: int, bits: int,
               sr: int = 8000, junk_chunk: bool = True) -> bytes:
    """Minimal RIFF/WAVE writer for tests (fmt + optional LIST junk +
    data, word-aligned)."""
    import struct

    block = n_ch * bits // 8
    fmt = struct.pack("<HHIIHH", audio_format, n_ch, sr, sr * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if junk_chunk:  # parsers must WALK chunks, not assume data at 36
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_container_decode():
    """codec='wav': the RIFF chunk walk must decode every raw format
    this module supports, average-downmix multi-channel, skip junk
    chunks, and fail loudly on compressed formats / non-RIFF bytes."""
    import pytest

    pcm = _tone(_rng(), 8000, 0.25)
    i16 = _encode(pcm, "pcm_s16le")

    # 16-bit mono == raw s16le decode, bit for bit
    mono = decode_pcm(_wav_bytes(i16, 1, 1, 16), "wav")
    assert np.array_equal(mono, decode_pcm(i16, "pcm_s16le"))

    # stereo (L == R) downmixes to the same mono signal
    st = np.repeat(np.frombuffer(i16, dtype="<i2"), 2).astype("<i2").tobytes()
    stereo = decode_pcm(_wav_bytes(st, 1, 2, 16), "wav")
    assert snr_db(mono, stereo) > 60

    # float32 and G.711 payloads inside the container
    f32 = decode_pcm(_wav_bytes(_encode(pcm, "pcm_f32le"), 3, 1, 32), "wav")
    assert snr_db(pcm, f32) > 120
    ul = decode_pcm(_wav_bytes(_encode(pcm, "pcm_mulaw"), 7, 1, 8), "wav")
    assert snr_db(pcm, ul) > 30

    # 8-bit unsigned PCM
    u8 = ((np.clip(pcm, -1, 1) * 127.0) + 128).astype(np.uint8).tobytes()
    dec8 = decode_pcm(_wav_bytes(u8, 1, 1, 8), "wav")
    assert snr_db(pcm, dec8) > 25  # 8-bit quantization floor

    with pytest.raises(NotImplementedError, match="WAVE format"):
        decode_pcm(_wav_bytes(i16, 2, 1, 4), "wav")  # ADPCM
    with pytest.raises(ValueError, match="RIFF"):
        decode_pcm(b"\x00" * 64, "wav")

    # ingest-validation helper: the parsed header rate is exposed so a
    # loader can assert it against the sr_hz column
    from sems_event_deduplication_spark.functions.audio import wav_header_sr

    assert wav_header_sr(_wav_bytes(i16, 1, 1, 16, sr=12345)) == 12345


def test_synth_dup_knobs_compose_independently():
    """p_offset and p_g711 occupy stacked, non-overlapping draw slices:
    setting both must plant BOTH dup kinds at ~their individual rates
    (an earlier layout let p_g711 starve the offset slice)."""
    from collections import Counter

    from sems_event_deduplication_spark.synth import _group_rows

    kinds = Counter()
    for gid in range(400):
        for row in _group_rows(gid, 13, 0.25, 0.5, p_offset=0.2, p_g711=0.2):
            kinds[row["clip_id"].rsplit("_", 1)[1]] += 1
    # each knob's slice is 0.2 of the uniform draw over 400 groups
    assert 45 <= kinds["offset"] <= 115, kinds
    assert 45 <= kinds["g711"] <= 115, kinds
    # and the pre-existing kinds still appear at their fixed rates
    for k in ("exact", "neartxt", "contain", "nearaud"):
        assert kinds[k] > 0, kinds


def test_snr_db_basics():
    sig = _tone(_rng(), 8000, 0.2)
    assert snr_db(sig, sig) == float("inf")
    noisy = _add_noise(sig, _rng(), snr_db=30)
    got = snr_db(sig, noisy)
    assert 27 < got < 33


def _simhash_of(spark, payloads):
    pdf = pd.DataFrame(payloads, columns=["id", "buf", "codec"])
    df = spark.createDataFrame(pdf)
    udf = make_audio_simhash_udf(
        CFG.fft_frame, CFG.fft_hop, CFG.n_mel_bands, CFG.simhash_bits, CFG.seed
    )
    return {r["id"]: r["s"] for r in df.select("id", udf("buf", "codec").alias("s")).collect()}


def test_simhash_invariances(spark):
    rng = _rng()
    pcm = _tone(rng, 16000, 0.5)
    noisy = _add_noise(pcm, rng, snr_db=35)
    scaled = pcm * 0.5
    other = _tone(np.random.default_rng(999), 16000, 0.5)
    sigs = _simhash_of(
        spark,
        [
            ("base_s16", _encode(pcm, "pcm_s16le"), "pcm_s16le"),
            ("base_f32", _encode(pcm, "pcm_f32le"), "pcm_f32le"),
            ("noisy", _encode(noisy, "pcm_s16le"), "pcm_s16le"),
            ("scaled", _encode(scaled, "pcm_s16le"), "pcm_s16le"),
            ("other", _encode(other, "pcm_s16le"), "pcm_s16le"),
        ],
    )

    def ham(a, b):
        return sum(bin((x ^ y) & ((1 << 64) - 1)).count("1") for x, y in zip(a, b))

    assert ham(sigs["base_s16"], sigs["base_f32"]) <= 2   # re-encode
    assert ham(sigs["base_s16"], sigs["noisy"]) <= CFG.hamming_threshold
    assert ham(sigs["base_s16"], sigs["scaled"]) <= 2     # amplitude-invariant
    assert ham(sigs["base_s16"], sigs["other"]) > CFG.hamming_threshold


def test_simhash_g711_transcode_invariance(spark):
    """Companding robustness (round 5): a pure G.711 re-encode of the
    same audio must stay within the hamming_threshold candidate radius
    — the band flatten floor (FP_FLOOR_DB) sits above the companding
    noise floor, so mu-law/A-law quantization cannot rewrite quiet
    bands. Distinct clips must remain far apart (the floor trades
    discrimination for robustness; this pins that the trade holds)."""
    rng = _rng()
    sigs = {}
    pcms = {}
    for i in range(4):
        pcm = _tone(rng, 8000, 0.5, n_partials=8)
        pcms[i] = pcm
    payloads = []
    for i, pcm in pcms.items():
        payloads.append((f"{i}_f32", _encode(pcm, "pcm_f32le"), "pcm_f32le"))
        payloads.append((f"{i}_mu", _encode(pcm, "pcm_mulaw"), "pcm_mulaw"))
        payloads.append((f"{i}_al", _encode(pcm, "pcm_alaw"), "pcm_alaw"))
    sigs = _simhash_of(spark, payloads)

    def ham(a, b):
        return sum(bin((x ^ y) & ((1 << 64) - 1)).count("1") for x, y in zip(a, b))

    for i in range(4):
        assert ham(sigs[f"{i}_f32"], sigs[f"{i}_mu"]) <= CFG.hamming_threshold
        assert ham(sigs[f"{i}_f32"], sigs[f"{i}_al"]) <= CFG.hamming_threshold
    for i in range(4):
        for j in range(i + 1, 4):
            assert ham(sigs[f"{i}_f32"], sigs[f"{j}_f32"]) > 2 * CFG.hamming_threshold


def test_wav_truncated_and_short_fmt_raise():
    """Corrupt containers fail loudly (ValueError, the module's decode
    contract) instead of silently fingerprinting a partial clip: a data
    chunk whose declared size overruns the buffer, and a fmt chunk
    shorter than the 16-byte PCM header."""
    import struct

    import pytest

    pcm = _tone(_rng(), 8000, 0.1)
    good = _wav_bytes(_encode(pcm, "pcm_s16le"), 1, 1, 16)
    with pytest.raises(ValueError, match="truncated"):
        decode_pcm(good[:-40], "wav")  # data chunk overruns remaining buf

    short_fmt = struct.pack("<HHII", 1, 1, 8000, 16000)  # only 12 bytes
    buf = (b"RIFF" + struct.pack("<I", 4 + 8 + len(short_fmt)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(short_fmt)) + short_fmt)
    with pytest.raises(ValueError, match="fmt chunk"):
        decode_pcm(buf, "wav")
    from sems_event_deduplication_spark.functions.audio import wav_header_sr
    with pytest.raises(ValueError, match="fmt chunk"):
        wav_header_sr(buf)


def test_hamming_expr_and_bands(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [[0b1011, 0b1]], "b": [[0b0010, 0b1]]}))
    got = df.select(hamming_distance(F.col("a"), F.col("b")).alias("h")).collect()[0]["h"]
    assert got == 2
    bands = df.select(simhash_bands(F.col("a"), 8, bits=128).alias("bb")).collect()[0]["bb"]
    assert len(bands) == 8
    # straddle-free slicing: flipping bit 37 changes band 2 (32-63) only
    df2 = spark.createDataFrame(pd.DataFrame({"a": [[0b1011 | (1 << 37), 0b1]]}))
    b1 = df.select(simhash_bands(F.col("a"), 8, bits=128).alias("bb")).collect()[0]["bb"]
    b2 = df2.select(simhash_bands(F.col("a"), 8, bits=128).alias("bb")).collect()[0]["bb"]
    diff = [i for i in range(8) if b1[i] != b2[i]]
    assert diff == [2]


def test_pair_snr_udf(spark):
    pcm = _tone(_rng(), 8000, 0.25)
    noisy = _add_noise(pcm, _rng(), snr_db=40)
    pdf = pd.DataFrame(
        {
            "ba": [_encode(pcm, "pcm_s16le")],
            "ca": ["pcm_s16le"],
            "bb": [_encode(noisy, "pcm_f32le")],
            "cb": ["pcm_f32le"],
        }
    )
    udf = make_snr_udf()
    got = (
        spark.createDataFrame(pdf)
        .select(udf("ba", "ca", "bb", "cb").alias("snr"))
        .collect()[0]["snr"]
    )
    assert 35 < got < 45


def test_fused_sig_landmark_udf_parity(spark):
    """The one-payload-pass UDF (the pipeline's, and the standalone
    offset tier's) must be bit-identical to the numpy references: the
    SimHash of ``spectral_fingerprint`` at ``fft_hop`` and the
    ``audio_landmarks`` set at ``fft_hop // 2``."""
    from sems_event_deduplication_spark.functions.audio import (
        _projection,
        audio_landmarks,
        make_audio_sig_landmark_udf,
        pack_bits_to_words,
        spectral_fingerprint,
    )

    rng = _rng()
    rows = []
    for i in range(6):
        pcm = _add_noise(_tone(rng, 16000, 0.4 + 0.1 * i), rng, snr_db=35)
        codec = "pcm_s16le" if i % 2 == 0 else "pcm_f32le"
        rows.append((str(i), _encode(pcm, codec), codec))
    rows.append(("empty", b"", "pcm_s16le"))
    pdf = pd.DataFrame(rows, columns=["id", "buf", "codec"])

    proj = _projection(CFG.n_mel_bands, CFG.simhash_bits, CFG.seed)
    want = {}
    for cid, buf, codec in rows:
        if not buf:
            want[cid] = ([0] * (CFG.simhash_bits // 64), [])
            continue
        pcm = decode_pcm(buf, codec)
        fp = spectral_fingerprint(pcm, CFG.fft_frame, CFG.fft_hop, CFG.n_mel_bands)
        want[cid] = (
            pack_bits_to_words((proj @ fp) > 0, CFG.simhash_bits),
            [int(v) for v in audio_landmarks(pcm, CFG.fft_frame, CFG.fft_hop // 2)],
        )

    fused_udf = make_audio_sig_landmark_udf(
        CFG.fft_frame, CFG.fft_hop, CFG.n_mel_bands, CFG.simhash_bits,
        CFG.seed, CFG.fft_hop // 2,
    )
    fused = {
        r["id"]: (r["a"]["audio_simhash"], r["a"]["landmarks"])
        for r in spark.createDataFrame(pdf).select(
            "id", fused_udf("buf", "codec").alias("a")
        ).collect()
    }
    assert fused.keys() == want.keys()
    assert any(lm for _, lm in want.values())
    for k in want:
        assert fused[k][0] == want[k][0], f"simhash differs for {k}"
        assert fused[k][1] == want[k][1], f"landmarks differ for {k}"


def test_stft_stride_identity():
    """The fused UDF computes ONE STFT at lm_hop and slices every
    (hop/lm_hop)-th frame for the SimHash config — valid only because
    _stft_mag(pcm, f, lm_hop)[::r] is bit-identical to
    _stft_mag(pcm, f, hop) whenever hop = r * lm_hop (same window
    length, same frame offsets, including the short-clip pad path)."""
    from sems_event_deduplication_spark.functions.audio import _stft_mag

    rng = _rng()
    for n in (5, 100, 511, 512, 1000, 1024, 1025, 5555, 80000):
        pcm = rng.standard_normal(n).astype(np.float32)
        for hop, lm_hop in ((512, 256), (512, 128), (256, 256)):
            r = hop // lm_hop
            assert np.array_equal(
                _stft_mag(pcm, 1024, lm_hop)[::r], _stft_mag(pcm, 1024, hop)
            ), (n, hop, lm_hop)


def test_wav_header_sr_rejects_short_declared_fmt():
    """The ingest gate (wav_header_sr) must reject a fmt chunk whose
    DECLARED size is under 16 bytes — the same payloads _decode_wav
    rejects — instead of unpacking 16 bytes that span into the next
    chunk's header and returning a garbage rate (review finding r5)."""
    import struct

    import pytest

    from sems_event_deduplication_spark.functions.audio import wav_header_sr

    short_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)[:12]
    data = b"data" + struct.pack("<I", 4) + b"\x00" * 4
    chunks = b"fmt " + struct.pack("<I", len(short_fmt)) + short_fmt + data
    buf = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    with pytest.raises(ValueError, match="fmt chunk"):
        wav_header_sr(buf)
    with pytest.raises(ValueError, match="fmt chunk"):
        decode_pcm(buf, "wav")
