"""Audio codec encode/decode — pure numpy, no external audio libraries.

Reference analog: the per-file FITS header parse (``FileMetadataReader`` /
``make_headers_from_file``, ``wallaby2caom2/tests/test_caom_gen_visit.py:99-102``)
— the stage that turns an opaque payload into typed metadata. Here the payload
is an audio clip and the "headers" are the decode-sanity struct
(pcm_ok, measured sample rate/duration, rms, clip rate).

Supported codecs (see config.SUPPORTED_CODECS):

* ``pcm_s16le`` — headerless raw little-endian int16 mono PCM.
* ``wav``       — RIFF/WAVE container, PCM-16 mono, hand-parsed (stdlib-free,
                  so it vectorizes cleanly inside Arrow batches).
* ``flac``      — REAL decode requires libsndfile/soundfile, which is NOT in
                  this container; it is gated behind an import-try below. The
                  sandbox stand-in is a deterministic mini-container
                  (magic ``fLaC`` + 12-byte header + raw int16 payload) used by
                  the generator, the decoder, and the oracle alike, so the
                  Spark-side plumbing (schema, batching, sanity rules) is real
                  and fully tested.

All functions are deterministic and shared with the oracle labeler.
"""

from __future__ import annotations

import struct

import numpy as np

try:  # pragma: no cover - not present in this container
    import soundfile as _soundfile  # type: ignore
except ImportError:  # expected here
    _soundfile = None

_FULL_SCALE = 32767.0
_FAKE_FLAC_MAGIC = b"fLaC"


# ---------------------------------------------------------------------------
# encode (used by the deterministic data generator only)
# ---------------------------------------------------------------------------

def encode_pcm_s16le(samples: np.ndarray) -> bytes:
    """float32 [-1,1] mono → raw int16 LE bytes."""
    q = np.clip(np.rint(samples * _FULL_SCALE), -32768, 32767).astype("<i2")
    return q.tobytes()


def encode_wav(samples: np.ndarray, sr_hz: int) -> bytes:
    """float32 [-1,1] mono → minimal RIFF/WAVE (PCM-16) bytes."""
    data = encode_pcm_s16le(samples)
    fmt_chunk = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16)
    data_chunk = struct.pack("<4sI", b"data", len(data)) + data
    body = b"WAVE" + fmt_chunk + data_chunk
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def encode_flac_stub(samples: np.ndarray, sr_hz: int) -> bytes:
    """Deterministic FLAC stand-in: magic + sr + nsamples + int16 payload."""
    data = encode_pcm_s16le(samples)
    return _FAKE_FLAC_MAGIC + struct.pack("<II", sr_hz, len(samples)) + data


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def declared_sr(value) -> int:
    """Declared-sample-rate column value → int, NULL-safe.

    The pandas-batched operators read ``sr_hz`` through pandas, where a
    nullable int column arrives as float64 with NaN for NULL (the Arrow
    paths hand NULL over as None); ``int(NaN)`` raises and would fail the
    whole batch. A NULL declared rate means "no declared
    rate" (0) — the measured rate wins, and callers' ``sr <= 0`` containment
    routes truly rateless clips to their not-ok row.
    """
    return 0 if value is None or value != value else int(value)


def decode_clip(payload, codec: str) -> tuple[np.ndarray | None, int]:
    """Decode one clip → (float32 samples in [-1,1], measured sr_hz).

    ``payload`` is any bytes-like buffer — ``bytes`` or a zero-copy
    ``memoryview`` into an Arrow batch (the fused mapInArrow stage passes
    views so payloads are never copied out of the batch); slicing,
    ``struct.unpack_from`` and ``np.frombuffer`` all read it in place.

    Returns (None, 0) when the payload cannot be decoded (truncated,
    wrong magic, odd byte count …). sr is 0 when the codec carries no
    rate (raw PCM) — the declared ``sr_hz`` column is authoritative then.
    """
    if payload is None or len(payload) == 0:
        return None, 0
    if codec == "pcm_s16le":
        if len(payload) % 2:
            return None, 0
        return np.frombuffer(payload, dtype="<i2").astype(np.float32) / _FULL_SCALE, 0
    if codec == "wav":
        return _decode_wav(payload)
    if codec == "flac":
        if _soundfile is not None:  # pragma: no cover - lib absent here
            import io

            try:
                samples, sr = _soundfile.read(io.BytesIO(payload), dtype="float32")
                return samples.astype(np.float32), int(sr)
            except Exception:
                return None, 0
        return _decode_flac_stub(payload)
    return None, 0


def _parse_wav(payload: bytes) -> tuple[bytes | None, int]:
    """WAV container parse → (raw data chunk, sr); no sample conversion."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None, 0
    pos, sr, data = 12, 0, None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        if cid == b"fmt " and pos + 16 <= len(payload):
            fmt_tag, ch, sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", payload, pos)
            if fmt_tag != 1 or ch != 1 or bits != 16:
                return None, 0
        elif cid == b"data":
            if pos + clen > len(payload):  # truncated payload
                return None, 0
            data = payload[pos : pos + clen]
        # RIFF chunks are word-aligned: odd-length chunks carry a pad byte
        # that `pos += clen` alone would misread as the next chunk header
        pos += clen + (clen & 1)
    if data is None or sr == 0 or len(data) % 2:
        return None, 0
    return data, sr


def _decode_wav(payload: bytes) -> tuple[np.ndarray | None, int]:
    data, sr = _parse_wav(payload)
    if data is None:
        return None, 0
    return np.frombuffer(data, dtype="<i2").astype(np.float32) / _FULL_SCALE, sr


def _parse_flac_stub(payload: bytes) -> tuple[bytes | None, int]:
    if len(payload) < 12 or payload[:4] != _FAKE_FLAC_MAGIC:
        return None, 0
    sr, n = struct.unpack_from("<II", payload, 4)
    data = payload[12:]
    if len(data) != 2 * n or sr == 0:
        return None, 0
    return data, sr


def _decode_flac_stub(payload: bytes) -> tuple[np.ndarray | None, int]:
    data, sr = _parse_flac_stub(payload)
    if data is None:
        return None, 0
    return np.frombuffer(data, dtype="<i2").astype(np.float32) / _FULL_SCALE, sr


def decode_clip_i16(payload, codec: str) -> tuple[np.ndarray | None, int]:
    """Zero-copy decode → (int16 sample VIEW into the payload buffer, sr).

    The memory-bandwidth-lean path for feature extraction: no float32
    conversion, no [-1,1] scaling — the view reads the payload in place
    (2 bytes/sample of traffic instead of ~17 with the float pipeline's
    astype + divide + float64 squares). Callers that need waveform samples
    (segmentation, normalization, FFT fingerprint) use ``decode_clip``.
    Returns (None, 0) on undecodable input; real-library flac (absent in
    this container) has no int16 view — it decodes via the float path and
    quantizes once, so i16 callers work on every codec."""
    if payload is None or len(payload) == 0:
        return None, 0
    if codec == "pcm_s16le":
        if len(payload) % 2:
            return None, 0
        return np.frombuffer(payload, dtype="<i2"), 0
    if codec == "wav":
        data, sr = _parse_wav(payload)
    elif codec == "flac":
        if _soundfile is None:
            data, sr = _parse_flac_stub(payload)
        else:  # pragma: no cover - lib absent here
            # real-library flac has no int16 view; decode float once and
            # quantize so every i16 caller (VAD, features) still works —
            # without this, soundfile hosts would see every flac clip as
            # undecodable on the i16 path
            x, sr = decode_clip(payload, codec)
            if x is None:
                return None, 0
            q = np.clip(np.rint(x * _FULL_SCALE), -32768, 32767)
            return q.astype(np.int16), sr
    else:
        return None, 0
    if data is None:
        return None, 0
    return np.frombuffer(data, dtype="<i2"), sr


# ---------------------------------------------------------------------------
# sanity features (the "header struct" of the audio world)
# ---------------------------------------------------------------------------

# dropout amplitude floor: |sample| below 16/32768 ≈ 4.9e-4 of full scale
# counts as "no signal" for the dropout-run metric. The generator's noise
# floor (0.05 full scale) sits 2 orders of magnitude above it, so natural
# audio — including the burst-envelope gaps — never trips it; a digital
# dropout (hard-zeroed span from a transport/encoder fault) always does.
_DROPOUT_AMP = 16


def _longest_quiet_run(x: np.ndarray) -> int:
    """Longest run of consecutive samples with |x| < _DROPOUT_AMP, in
    samples. Vectorized run-length over the int16 view (two comparisons +
    one int8 diff — no float arrays)."""
    m = (x < _DROPOUT_AMP) & (x > -_DROPOUT_AMP)
    if not m.any():
        return 0
    d = np.diff(m.astype(np.int8))
    starts = np.flatnonzero(d == 1) + 1
    ends = np.flatnonzero(d == -1) + 1
    if m[0]:
        starts = np.concatenate(([0], starts))
    if m[-1]:
        ends = np.concatenate((ends, [len(m)]))
    return int((ends - starts).max())


def decode_features(
    payload: bytes | None, codec: str, declared_sr_hz: int
) -> tuple[bool, int, int, float, float, float]:
    """→ (pcm_ok, sr_meas, dur_ms_meas, rms, clip_rate, dropout_ms).

    sr_meas falls back to the declared rate for headerless codecs.
    dropout_ms is the longest sub-noise-floor sample run — the digital-
    dropout signal (an all-quiet clip reports its full duration, but the
    cascade's ``audio_silence`` rule outranks ``audio_dropout`` so such
    clips keep their silence label).
    """
    # decode_clip_i16 covers every codec (real-library flac decodes float
    # inside it and quantizes once), so there is no float-path fallback here
    x, sr_meas = decode_clip_i16(payload, codec)
    if x is None:
        return False, 0, 0, 0.0, 0.0, 0.0
    if len(x) == 0:
        return False, 0, 0, 0.0, 0.0, 0.0
    sr = sr_meas or declared_sr_hz
    dur_ms = int(round(len(x) * 1000.0 / sr)) if sr > 0 else 0
    # integer-domain features: squares fit int32 (max 2^30), the sum
    # accumulates in int64 — exact, and ~2.5x less DRAM traffic than the
    # float pipeline (the measured scaling limiter at 32 busy cores was
    # memory bandwidth, BENCH/BASELINE.md)
    sumsq = int(np.sum(np.square(x, dtype=np.int32), dtype=np.int64))
    rms = float(np.sqrt(sumsq / len(x)) / _FULL_SCALE)
    clip_rate = float(
        np.count_nonzero((x >= 32766) | (x <= -32766)) / len(x)
    )
    dropout_ms = (
        float(_longest_quiet_run(x) * 1000.0 / sr) if sr > 0 else 0.0
    )
    return True, sr, dur_ms, rms, clip_rate, dropout_ms


# ---------------------------------------------------------------------------
# spectral band fingerprint (audio content identity)
# ---------------------------------------------------------------------------

_FP_SEGMENTS = 4  # time segments
_FP_BANDS = 16  # frequency bands per segment → 15 deltas → 60 bits total
_FP_ANALYSIS_SR = 4000  # fixed analysis rate: decimate before the FFT


def band_fingerprint(
    samples: np.ndarray | None, sr_hz: int = 0
) -> tuple[bool, int]:
    """60-bit audio-content fingerprint: 4 time segments x 15 band-energy
    comparisons (16 equal-width FFT bands, DC excluded).

    Gain-invariant by construction — scaling the signal by g multiplies every
    band energy by g^2, which cancels in the energy *ratios* — so a
    re-encoded or re-levelled copy of the same recording maps to the same (or
    hamming-near) fingerprint while unrelated clips differ in ~30 bits.
    Each bit is ``E[i+1] > E[i] * (1 + margin)``: the relative margin is
    itself scale-invariant and classifies exactly-tied bands (degenerate
    spectra — found by hypothesis) as 0 on both sides of a gain change,
    where a raw sign-of-delta comparison flips on float rounding. Energies
    accumulate in float64 so the remaining rounding is far inside the margin.
    The audio analog of SimHash (queries/dedup.py): content identity without
    trusting ``clip_id``. Reference analog: checksum-based store-if-newer
    gating (``README.md:39-41``) — identity from content, not name.

    When ``sr_hz`` is known, the signal is first resampled to the fixed
    ``_FP_ANALYSIS_SR`` analysis rate: this makes the identity
    sample-RATE-invariant (the same recording delivered at 16 kHz and
    44.1 kHz maps to hamming-near fingerprints) and cuts the FFT cost ~10x
    on hi-rate audio — the 100k-clip bench went from full-bandwidth FFTs to
    a bounded analysis band. ``sr_hz=0`` (unknown, e.g. raw PCM without a
    declared rate) analyzes as-is.
    """
    if samples is None:
        return False, 0
    if sr_hz and sr_hz > _FP_ANALYSIS_SR:
        samples = resample_linear(samples, int(sr_hz), _FP_ANALYSIS_SR)
    seg_len = len(samples) // _FP_SEGMENTS
    if seg_len < 2 * _FP_BANDS + 2:
        return False, 0
    # Silence carries no content identity — without this gate every
    # near-silent clip lands in one degenerate fingerprint bucket, the
    # classic LSH hot key (C(n,2) pairs) at corpus scale. Gate on AC
    # energy (std), not peak: a pure DC offset has no audio content either
    # (all its band energies are rounding noise — hypothesis-found).
    if float(np.std(samples.astype(np.float64))) < 1e-4:
        return False, 0
    bits = 0
    n_live = 0
    for s in range(_FP_SEGMENTS):
        seg = samples[s * seg_len : (s + 1) * seg_len].astype(np.float64)
        seg = seg - seg.mean()  # DC-offset invariance
        # a segment without real AC content would derive its bits from FFT
        # rounding noise (nondeterministic under re-encode — found by
        # hypothesis on constant signals); emit deterministic zero bits
        if float(np.sqrt(np.mean(seg * seg))) < 1e-4:
            bits <<= _FP_BANDS - 1
            continue
        n_live += 1
        # FFT at the next power-of-2 length (zero-padded): an arbitrary
        # seg_len routinely lands on large-prime sizes where pocketfft
        # falls off its fast path (measured 202 us for rfft(1594) vs 18 us
        # for rfft(2048) — the fingerprint was the single hottest line of
        # the 1M-clip funnel). Zero-padding a demeaned segment only
        # interpolates the spectrum; band ENERGIES stay deterministic and
        # the gain/rate invariances are untouched.
        nfft = 1 << (len(seg) - 1).bit_length()
        spec = np.abs(np.fft.rfft(seg, n=nfft))[1:]  # drop DC
        edges = np.linspace(0, len(spec), _FP_BANDS, endpoint=False).astype(int)
        bands = np.add.reduceat(spec * spec, edges)
        ups = bands[1:] > bands[:-1] * (1.0 + 1e-6)
        for up in ups:
            bits = (bits << 1) | int(bool(up))
    # a clip whose EVERY segment was gated (piecewise-constant DC steps can
    # pass the whole-clip std gate while each demeaned segment is silent)
    # has no content identity — returning fp_ok with fp=0 would recreate
    # the degenerate all-zero LSH bucket the gates exist to prevent
    if n_live == 0:
        return False, 0
    return True, bits


def resample_linear(
    samples: np.ndarray, sr_in: int, sr_out: int
) -> np.ndarray:
    """Linear-interpolation resample (vectorized ``np.interp``). Training
    pipelines normalize heterogeneous corpora to one rate before windowing;
    linear interp is the dependency-free stand-in for a polyphase filter
    (same signature — swap in ``scipy.signal.resample_poly`` where allowed).
    """
    if sr_in == sr_out or len(samples) == 0:
        return samples
    n_out = int(round(len(samples) * sr_out / sr_in))
    if n_out <= 0:
        return samples[:0]
    t_out = np.arange(n_out, dtype=np.float64) * (sr_in / sr_out)
    return np.interp(
        t_out, np.arange(len(samples), dtype=np.float64), samples
    ).astype(np.float32)


_AA_TAPS = 63  # anti-alias FIR length (odd → integer group delay of 31)
_AA_CUTOFF_FRAC = 0.45  # cutoff as a fraction of the OUTPUT rate


def _lowpass_kernel(cutoff_frac_of_in: float, taps: int = _AA_TAPS) -> np.ndarray:
    """Hamming-windowed-sinc low-pass FIR, cutoff given as a fraction of the
    INPUT sample rate (0 < f < 0.5). Unit DC gain. Deterministic closed
    form — both the Spark operator and the fixture replay call this exact
    function, so the oracle is bit-identical by construction."""
    m = np.arange(taps, dtype=np.float64) - (taps - 1) / 2.0
    h = 2.0 * cutoff_frac_of_in * np.sinc(2.0 * cutoff_frac_of_in * m)
    h *= np.hamming(taps)
    return h / h.sum()


def resample_bandlimited(
    samples: np.ndarray, sr_in: int, sr_out: int
) -> np.ndarray:
    """Rate conversion with anti-alias protection on the downsample path.

    Upsampling (sr_out >= sr_in) cannot alias, so it stays the cheap linear
    interpolation. Downsampling first convolves a Hamming-windowed-sinc
    low-pass at ``0.45 * sr_out`` (edge-padded 'same' convolution — zero
    phase shift, no length change), THEN linearly interpolates down —
    without the filter, energy above the output Nyquist folds back as
    in-band noise, which at corpus scale poisons every downstream spectral
    feature. Deterministic numpy throughout; the attenuation of
    above-Nyquist tones is pinned in tests/test_resample.py.
    """
    if sr_in == sr_out or len(samples) == 0 or sr_out >= sr_in:
        return resample_linear(samples, sr_in, sr_out)
    h = _lowpass_kernel(_AA_CUTOFF_FRAC * sr_out / sr_in)
    pad = (len(h) - 1) // 2
    x = np.concatenate(
        [
            np.repeat(samples[:1].astype(np.float64), pad),
            samples.astype(np.float64),
            np.repeat(samples[-1:].astype(np.float64), pad),
        ]
    )
    filtered = np.convolve(x, h, mode="valid").astype(np.float32)
    return resample_linear(filtered, sr_in, sr_out)
