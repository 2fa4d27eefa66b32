"""Deterministic synthetic clips + transcripts tables (FIXTURES.md F1/F2).

Every column is a pure function of the row index ``i`` (stable hashes →
uniforms; Box-Muller for the log-normal), so:

* generation is embarrassingly parallel (``spark.range`` →
  ``mapInPandas``) and independent of partitioning;
* a pandas oracle can regenerate any slice bit-identically;
* violations are injected at *modular-arithmetic row positions*, so
  expected pass/fail counts and violation rows are computable in
  closed form (and in plain SQL) — FIXTURES.md: "violations injected at
  known rows".

Violation rules (variant="default"; "clean" disables all):

* duplicate clip_id:     i % 1000 == 500 and i >= 1000 → reuse clip_id(i-999)
* sr_hz out of range:    i % 500  == 3                 → 12345
* dur_ms out of range:   i % 500  == 7                 → 0 (even millennium) / 120000
* codec not in enum:     i % 1000 == 11                → "wat"
* transcript null:       i % 200  == 13                → NULL

Audio payload: WAV PCM16 synthesized per clip from the row index
(drivel_spark.produce.audio); payload duration is the row's dur_ms
clamped to [50, audio_cap_ms] and sr clamped to [4000, 48000] so
metadata-violation rows don't explode payload size (sandbox deviation,
bounded fixtures; the oracle applies the same clamp).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Optional

import numpy as np

from .produce.audio import synth_pcm, synth_wav, wav_encode
from .sketches.hashing import hash64

CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
)
TRANSCRIPTS_SCHEMA = "clip_id string, transcript string, lang string"

SR_VALUES = np.array([8000, 16000, 22050, 44100, 48000], dtype=np.int64)
SR_PROBS = np.array([0.55, 0.25, 0.10, 0.07, 0.03])
CODEC_VALUES = np.array(["pcm_s16le", "flac", "opus", "mp3"], dtype=object)
CODEC_PROBS = np.array([0.70, 0.15, 0.10, 0.05])
CODEC_PROBS_DRIFTED = np.array([0.30, 0.40, 0.20, 0.10])
LANG_VALUES = np.array(["en", "de", "nl", "fr"], dtype=object)
LANG_PROBS = np.array([0.6, 0.2, 0.12, 0.08])

SR_RANGE = (4000, 48000)
DUR_RANGE = (200, 30000)
CODEC_ENUM = set(CODEC_VALUES.tolist())

# 32 onsets × 16 rimes = 512 deterministic words (FIXTURES.md: fixed
# 512-word list)
_ONSETS = [
    "ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na", "pe",
    "qui", "ro", "su", "ta", "ve", "wi", "xo", "yu", "za", "bre", "cli", "dro",
    "fla", "gre", "pli", "sta", "tre", "vla", "sno", "cra",
]
_RIMES = [
    "nd", "rt", "lm", "sk", "mp", "nt", "rb", "ld", "ns", "rm", "st", "lk",
    "pt", "rn", "ms", "nk",
]
WORDS = np.array([o + r for o in _ONSETS for r in _RIMES], dtype=object)
assert len(WORDS) == 512


@dataclass(frozen=True)
class ClipFixtureSpec:
    seed: int = 42
    variant: str = "default"  # default | clean | drifted
    audio_cap_ms: int = 2000
    with_audio: bool = True
    # VAD fixture hook (off by default — digests of the validate tables
    # are untouched): every clip with idx % silence_every == 1 gets the
    # PCM span [floor(n·span[0]), floor(n·span[1])) zeroed before
    # encoding, giving silence-segmentation oracles an exactly-known
    # silent region (int16 round-trip of 0.0 is exactly 0).
    silence_every: int = 0
    silence_span: tuple = (0.4, 0.7)
    # distortion fixture hook (off by default — digests of the validate
    # tables are untouched): every clip with idx % distort_every == 2
    # has its PCM scaled by distort_gain and shifted by distort_dc
    # before encoding; the PCM16 encoder clamps to [-1, 1], so these
    # clips arrive hard-clipped with a DC offset — exactly-known bad
    # rows for the audio-quality oracles (same pattern as the silence
    # hook above).
    distort_every: int = 0
    distort_gain: float = 4.0
    distort_dc: float = 0.05
    # shared-segment fixture hook (off by default — digests of the
    # validate tables are untouched): every clip with idx %
    # shared_seg_every == 0 whose effective rate is 8000 Hz (the modal
    # rate — bit-identical segments require one rate) and whose
    # effective duration fits gets the PCM span [shared_seg_at_ms,
    # shared_seg_at_ms + shared_seg_ms) replaced by ONE common planted
    # tone — exactly-known repeated-audio regions for the
    # segment-dedup oracles (audio_dup_segments).  Offsets are
    # multiples of 250 ms so the default hop grid detects them.
    shared_seg_every: int = 0
    shared_seg_ms: int = 750
    shared_seg_at_ms: int = 250
    # re-quantization fixture hook (off by default — digests of the
    # validate tables are untouched): every clip with idx %
    # requantize_every == 3 has its PCM snapped to the
    # ``requantize_bits``-bit grid on the int16 lattice (step
    # 2^(16-bits), symmetric clamp to ±(2^(bits-1)-1)·step) before
    # encoding — exactly-known "8-bit content stored as 16-bit" rows
    # for the effective-bit-depth oracles.  Planted floats sit at
    # grid+½ of an int16 step so wav_encode's truncating cast lands
    # exactly on the planted integer.
    requantize_every: int = 0
    requantize_bits: int = 8
    # mains-hum fixture hook (off by default — digests of the validate
    # tables are untouched): every clip with idx % hum_every == 1 gets
    # a ``hum_amp`` sine at ``hum_hz`` (plus a half-amplitude 2nd
    # harmonic, the asymmetric-load signature) added to its PCM before
    # encoding — exactly-known contaminated rows for the mains-hum
    # screen oracles (hum_detect).
    hum_every: int = 0
    hum_hz: float = 50.0
    hum_amp: float = 0.1
    # noise-clip fixture hook (off by default — digests of the validate
    # tables are untouched): every clip with idx % noise_every == 1 has
    # its tone REPLACED by pure seeded gaussian noise at ``noise_rms``
    # RMS — exactly-known dead-mic/static rows for the spectral-flatness
    # screen oracles (spectral_flatness): white noise reads flatness
    # ≈ e^−γ ≈ 0.56 where the tonal clips read ≈ 2e-4.
    noise_every: int = 0
    noise_rms: float = 0.25
    # echo fixture hook (off by default — digests of the validate
    # tables are untouched): every clip with idx % echo_every == 1 that
    # is long enough (n ≥ 4·delay samples) gets a delayed copy mixed in
    # — pcm ← (pcm + gain·shift(pcm, d)) / (1 + gain), d = sr·delay/1000
    # (exact integer for every fixture rate at 60 ms) — exactly-known
    # double-mix/echo rows for the cepstral echo screen (echo_detect).
    # The (1+gain) rescale keeps the mix inside [-1, 1] so the PCM16
    # encoder never clips it (clipping would distort the spectral comb).
    echo_every: int = 0
    echo_delay_ms: float = 60.0
    echo_gain: float = 0.5
    # dropout fixture hook (off by default — digests of the validate
    # tables are untouched): every clip with idx % dropout_every == 1
    # gets ``dropout_count`` spans of ``dropout_ms`` zero-filled,
    # starting at round(n·j/(count+1)) for j = 1..count — the
    # buffer-underrun signature (a run of held samples inside live
    # audio).  Fixture durations are ≥ 200 ms effective, so the spans
    # (12 ms default) never touch or merge; 0.0 round-trips PCM16
    # exactly, so each planted span decodes as exactly its length of
    # identical samples (± the vanishingly-rare neighbor that also
    # quantizes to 0).  Exactly-known bad rows for the dropout screen
    # oracles (dropout_detect).
    dropout_every: int = 0
    dropout_ms: float = 12.0
    dropout_count: int = 3
    # mislabel fixture hook (off by default — digests of the validate
    # tables are untouched): every clip with idx % mislabel_every == 5
    # (idx ≥ 5) has its payload REPLACED by the default payload of its
    # ADJACENT partner idx−1 (computed from the partner's own effective
    # sr/dur via _sr_dur_raw), while keeping its OWN transcript and
    # metadata — an exact byte-duplicate audio pair with two different
    # transcripts, the labeling-error ground truth for the cross-modal
    # consistency check (cross_modal_consistency).  idx−1 ≢ 5 (mod k)
    # for k ≥ 2, so partners are never themselves mislabeled (pairs,
    # not chains).
    mislabel_every: int = 0
    # wow fixture hook (off by default — digests of the validate
    # tables are untouched): every clip with idx % wow_every == 1 has
    # its tone REPLACED by the same-frequency tone frequency-modulated
    # at ``wow_rate_hz`` with fractional depth ``wow_depth`` (phase =
    # 2πft + (depth·f/rate)·sin(2π·rate·t)) plus the standard seeded
    # noise floor — exactly-known unstable-pitch rows for the
    # wow/flutter screen (1 % planted depth reads ~8e-3 on the frame
    # track vs ~2e-5 estimator jitter on steady tones).
    wow_every: int = 0
    wow_rate_hz: float = 4.0
    wow_depth: float = 0.01
    # gain-pumping fixture hook (off by default — digests of the
    # validate tables are untouched): every clip with idx % pump_every
    # == 1 that is long enough (n ≥ round(pump_min_s·sr) — one full
    # second so the frame-level track resolves the pump rate) has its
    # tone REPLACED by the same tone amplitude-modulated at
    # ``pump_rate_hz`` with depth ``pump_depth`` (pcm = tone·(1 +
    # d·sin(2π·r·t)) + the standard noise floor) — the AGC/compressor
    # pumping ground truth for the gain-pumping screen (25% planted
    # depth reads ~1.9 dB on the level track vs ≤0.008 dB steady-tone
    # ripple).
    pump_every: int = 0
    pump_rate_hz: float = 3.0
    pump_depth: float = 0.25
    pump_min_s: float = 1.0
    # reverb fixture hook (off by default — digests of the validate
    # tables are untouched): every clip with idx % reverb_every == 1
    # that is long enough (n ≥ round(reverb_min_s·sr) samples — 0.4·sr
    # is an exact integer for every fixture rate, so the gate has no
    # rounding ambiguity) has its tone REPLACED by a seeded-noise burst
    # over the first ``reverb_head_frac`` of the clip followed by an
    # exponential tail with EXACTLY-known decay: env(t) =
    # 10^(−3(t−h)/(sr·T60)), i.e. frame energy falls at the closed-form
    # −60/T60 dB/s — the over-reverberant-room ground truth for the
    # energy-decay screen (reverb_estimate).
    reverb_every: int = 0
    reverb_t60_s: float = 0.5
    reverb_head_frac: float = 0.25
    reverb_min_s: float = 0.4
    reverb_rms: float = 0.25


def _u(ids: np.ndarray, salt: int) -> np.ndarray:
    """Uniform [0,1) per id, stable across processes/partitions."""
    return hash64(ids.astype(np.int64), salt=salt).astype(np.float64) / 2.0**64


def _pick(ids: np.ndarray, salt: int, values: np.ndarray, probs: np.ndarray) -> np.ndarray:
    u = _u(ids, salt)
    edges = np.cumsum(probs)
    idx = np.searchsorted(edges, u, side="right")
    return values[np.minimum(idx, len(values) - 1)]


def clip_id_for(ids: np.ndarray, seed: int) -> np.ndarray:
    """UUID-shaped deterministic id per row index (lowercase hex)."""
    h1 = hash64(ids.astype(np.int64), salt=seed * 7 + 1)
    h2 = hash64(ids.astype(np.int64), salt=seed * 7 + 2)
    out = np.empty(len(ids), dtype=object)
    for k in range(len(ids)):  # hex formatting; fixture-build only
        a = f"{int(h1[k]):016x}"
        b = f"{int(h2[k]):016x}"
        out[k] = f"{a[:8]}-{a[8:12]}-{a[12:16]}-{b[:4]}-{b[4:16]}"
    return out


def _transcripts_text(ids: np.ndarray, seed: int) -> np.ndarray:
    """Word salad, 3-40 words from the fixed 512-word list."""
    n_words = (3 + np.floor(_u(ids, seed * 7 + 20) * 38)).astype(np.int64)
    max_w = int(n_words.max()) if len(n_words) else 0
    # one hash family per word position; mask beyond each row's length
    cols = []
    for j in range(max_w):
        widx = (hash64(ids.astype(np.int64), salt=seed * 7 + 100 + j) % 512).astype(np.int64)
        cols.append(WORDS[widx])
    out = np.empty(len(ids), dtype=object)
    for k in range(len(ids)):
        out[k] = " ".join(cols[j][k] for j in range(int(n_words[k])))
    return out


def _sr_dur_raw(ids: np.ndarray, seed: int, variant: str) -> tuple[np.ndarray, np.ndarray]:
    """The (sr, dur) column derivation for these indexes — factored out
    of clips_pdf verbatim (digest-identical) so the mislabel hook can
    compute a PARTNER row's effective payload parameters."""
    inject = variant != "clean"
    sr = _pick(ids, seed * 7 + 3, SR_VALUES, SR_PROBS).astype(np.int64)
    if inject:
        sr[ids % 500 == 3] = 12345

    # log-normal duration via Box-Muller, clipped to [200, 30000]
    u1 = np.clip(_u(ids, seed * 7 + 4), 1e-12, 1.0)
    u2 = _u(ids, seed * 7 + 5)
    z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    mu, sigma = np.log(1500.0), 0.8
    if variant == "drifted":
        mu = np.log(1500.0 * 1.5)  # FIXTURES.md: dur_ms × 1.5 shift
    dur = np.clip(np.exp(mu + sigma * z), DUR_RANGE[0], DUR_RANGE[1]).astype(np.int64)
    if inject:
        bad_dur = ids % 500 == 7
        dur[bad_dur & (ids % 1000 == 7)] = 0
        dur[bad_dur & (ids % 1000 != 7)] = 120000
    return sr, dur


def clips_pdf(ids: Iterable[int], spec: ClipFixtureSpec = ClipFixtureSpec()) -> pd.DataFrame:
    """The deterministic generator + oracle: clips rows for these indexes."""
    import pandas as pd

    ids = np.asarray(list(ids), dtype=np.int64)
    seed = spec.seed
    inject = spec.variant != "clean"

    cid = clip_id_for(ids, seed)
    if inject:
        dup_mask = (ids % 1000 == 500) & (ids >= 1000)
        if dup_mask.any():
            cid[dup_mask] = clip_id_for(ids[dup_mask] - 999, seed)

    sr, dur = _sr_dur_raw(ids, seed, spec.variant)

    codec_probs = CODEC_PROBS_DRIFTED if spec.variant == "drifted" else CODEC_PROBS
    codec = _pick(ids, seed * 7 + 6, CODEC_VALUES, codec_probs).astype(object)
    if inject:
        codec[ids % 1000 == 11] = "wat"

    transcript = _transcripts_text(ids, seed).astype(object)
    if inject:
        transcript[ids % 200 == 13] = None

    if spec.with_audio:
        payload = np.empty(len(ids), dtype=object)
        sr_c = np.clip(sr, SR_RANGE[0], SR_RANGE[1])
        dur_c = np.clip(dur, 50, spec.audio_cap_ms)
        for k in range(len(ids)):  # per-clip numpy synth (vector math inside)
            idx, srk, durk = int(ids[k]), int(sr_c[k]), int(dur_c[k])
            if (spec.mislabel_every and idx >= 5
                    and idx % spec.mislabel_every == 5):
                # exact byte-copy of the adjacent partner's DEFAULT
                # payload (own transcript kept) — composes with no
                # other hook by construction
                pid = np.array([idx - 1], dtype=np.int64)
                psr, pdur = _sr_dur_raw(pid, seed, spec.variant)
                payload[k] = synth_wav(
                    idx - 1,
                    int(np.clip(psr, SR_RANGE[0], SR_RANGE[1])[0]),
                    int(np.clip(pdur, 50, spec.audio_cap_ms)[0]),
                    seed,
                )
                continue
            silent = spec.silence_every and idx % spec.silence_every == 1
            distort = spec.distort_every and idx % spec.distort_every == 2
            share = (
                spec.shared_seg_every
                and idx % spec.shared_seg_every == 0
                and srk == 8000
                and durk >= spec.shared_seg_at_ms + spec.shared_seg_ms
            )
            requant = spec.requantize_every and idx % spec.requantize_every == 3
            hum = spec.hum_every and idx % spec.hum_every == 1
            noise = spec.noise_every and idx % spec.noise_every == 1
            echo = spec.echo_every and idx % spec.echo_every == 1
            dropout = spec.dropout_every and idx % spec.dropout_every == 1
            wow = spec.wow_every and idx % spec.wow_every == 1
            reverb = spec.reverb_every and idx % spec.reverb_every == 1
            pump = spec.pump_every and idx % spec.pump_every == 1
            if pump:
                # same tone-frequency rule and noise recipe as
                # synth_pcm, with the AM envelope applied; too-short
                # clips fall back to the plain tone (the screen needs a
                # ≥1 s track to resolve the pump rate)
                from .produce.audio import (
                    NOISE_DB, TONE_AMP, TONE_BASE_HZ, TONE_STEPS,
                )

                nsamp = max(int(round(srk * durk / 1000.0)), 1)
                if nsamp >= int(round(spec.pump_min_s * srk)):
                    fq = TONE_BASE_HZ * (1 + (idx % TONE_STEPS))
                    t = np.arange(nsamp, dtype=np.float64) / srk
                    prng = np.random.default_rng([seed, idx, 0xA6C])
                    pcm = np.clip(
                        TONE_AMP * np.sin(2.0 * np.pi * fq * t)
                        * (1.0 + spec.pump_depth
                           * np.sin(2.0 * np.pi * spec.pump_rate_hz * t))
                        + prng.normal(
                            0.0, TONE_AMP * 10.0 ** (NOISE_DB / 20.0),
                            size=nsamp,
                        ),
                        -1.0, 1.0,
                    ).astype(np.float32)
                else:
                    pcm = synth_pcm(idx, srk, durk, seed)
                payload[k] = wav_encode(pcm, srk)
                continue
            if wow:
                # same tone-frequency rule and noise recipe as
                # synth_pcm, with the FM phase term added
                from .produce.audio import (
                    NOISE_DB, TONE_AMP, TONE_BASE_HZ, TONE_STEPS,
                )

                nsamp = max(int(round(srk * durk / 1000.0)), 1)
                fq = TONE_BASE_HZ * (1 + (idx % TONE_STEPS))
                t = np.arange(nsamp, dtype=np.float64) / srk
                ph = 2.0 * np.pi * fq * t + (
                    spec.wow_depth * fq / spec.wow_rate_hz
                ) * np.sin(2.0 * np.pi * spec.wow_rate_hz * t)
                wrng = np.random.default_rng([seed, idx, 0xB0B0])
                pcm = np.clip(
                    TONE_AMP * np.sin(ph)
                    + wrng.normal(
                        0.0, TONE_AMP * 10.0 ** (NOISE_DB / 20.0), size=nsamp
                    ),
                    -1.0, 1.0,
                ).astype(np.float32)
                payload[k] = wav_encode(pcm, srk)
                continue
            if silent or distort or share or requant or hum or noise or echo or dropout or reverb:
                if reverb:
                    # full replacement (like noise): head burst + an
                    # exponential tail whose frame-dB slope is the
                    # closed form −60/T60 dB/s; short clips fall back
                    # to the plain tone (the screen needs a ≥0.3 s
                    # tail to fit a slope)
                    nsamp = max(int(round(srk * durk / 1000.0)), 1)
                    if nsamp >= int(round(spec.reverb_min_s * srk)):
                        rrng = np.random.default_rng([seed, idx, 0xE4B])
                        x = rrng.normal(0.0, spec.reverb_rms, size=nsamp)
                        h = int(nsamp * spec.reverb_head_frac)
                        t = np.arange(nsamp, dtype=np.float64)
                        env = np.ones(nsamp, dtype=np.float64)
                        env[h:] = 10.0 ** (
                            -3.0 * (t[h:] - h) / (srk * spec.reverb_t60_s)
                        )
                        pcm = np.clip(x * env, -1.0, 1.0).astype(np.float32)
                    else:
                        pcm = synth_pcm(idx, srk, durk, seed)
                elif noise:
                    # full replacement, not an overlay: the screen's
                    # closed form needs NO tonal component at all
                    nrng = np.random.default_rng([seed, idx, 0xA0D10])
                    nsamp = max(int(round(srk * durk / 1000.0)), 1)
                    pcm = np.clip(
                        nrng.normal(0.0, spec.noise_rms, size=nsamp),
                        -1.0, 1.0,
                    ).astype(np.float32)
                else:
                    pcm = synth_pcm(idx, srk, durk, seed)
                if silent:
                    a = int(len(pcm) * spec.silence_span[0])
                    b = int(len(pcm) * spec.silence_span[1])
                    pcm[a:b] = 0.0
                if distort:
                    pcm = pcm * spec.distort_gain + spec.distort_dc
                if share:
                    seg = synth_pcm(999_999_937, srk, spec.shared_seg_ms, seed)
                    a = srk * spec.shared_seg_at_ms // 1000
                    pcm[a : a + len(seg)] = seg
                if hum:
                    t = np.arange(len(pcm), dtype=np.float64) / srk
                    pcm = pcm + spec.hum_amp * np.sin(
                        2.0 * np.pi * spec.hum_hz * t
                    ) + 0.5 * spec.hum_amp * np.sin(
                        4.0 * np.pi * spec.hum_hz * t
                    )
                if echo:
                    d = int(round(srk * spec.echo_delay_ms / 1000.0))
                    if d >= 1 and len(pcm) >= 4 * d:
                        g = spec.echo_gain
                        mixed = pcm.astype(np.float64).copy()
                        mixed[d:] += g * mixed[: len(mixed) - d].copy()
                        pcm = (mixed / (1.0 + g)).astype(np.float32)
                if dropout:
                    span = max(int(round(srk * spec.dropout_ms / 1000.0)), 2)
                    for j in range(1, spec.dropout_count + 1):
                        a = int(round(len(pcm) * j / (spec.dropout_count + 1)))
                        pcm[a : a + span] = 0.0
                if requant:
                    # LAST transform: snap the samples wav_encode WOULD
                    # write (same truncating cast) to the b-bit grid,
                    # then offset by half an int16 step so the encoder's
                    # truncation-toward-zero lands exactly on q.
                    bits = spec.requantize_bits
                    step = 1 << (16 - bits)
                    lim = (1 << (bits - 1)) - 1
                    v = (np.clip(pcm, -1.0, 1.0) * 32767.0).astype(np.int32)
                    q = np.clip(np.rint(v / step), -lim, lim).astype(np.int32) * step
                    pcm = (q + np.where(q < 0, -0.5, 0.5)) / 32767.0
                payload[k] = wav_encode(pcm, srk)
            else:
                payload[k] = synth_wav(idx, srk, durk, seed)
    else:
        payload = np.full(len(ids), None, dtype=object)

    return pd.DataFrame(
        {
            "clip_id": cid,
            "bytes": payload,
            "sr_hz": sr.astype(np.int32),
            "dur_ms": dur.astype(np.int32),
            "codec": codec,
            "transcript": transcript,
        }
    )


def expected_audio_params(ids: np.ndarray, spec: ClipFixtureSpec) -> tuple[np.ndarray, np.ndarray]:
    """(sr, dur) actually used for each row's payload — the oracle's view."""
    pdf = clips_pdf(ids, ClipFixtureSpec(spec.seed, spec.variant, spec.audio_cap_ms, False))
    sr_c = np.clip(pdf["sr_hz"].to_numpy(np.int64), SR_RANGE[0], SR_RANGE[1])
    dur_c = np.clip(pdf["dur_ms"].to_numpy(np.int64), 50, spec.audio_cap_ms)
    return sr_c, dur_c


def transcripts_pdf(ids: Iterable[int], spec: ClipFixtureSpec = ClipFixtureSpec()) -> pd.DataFrame:
    """FIXTURES.md F2: one row per clip, minus 0.3% missing (i%333==17),
    plus 0.2% orphan rows referencing nonexistent clips (i%500==29)."""
    import pandas as pd

    ids = np.asarray(list(ids), dtype=np.int64)
    seed = spec.seed
    inject = spec.variant != "clean"

    keep = np.ones(len(ids), dtype=bool)
    if inject:
        keep &= ids % 333 != 17
    kept = ids[keep]
    cid = clip_id_for(kept, seed)
    if inject:
        # same duplicate-override rule as clips_pdf, so transcript rows
        # reference the clip_id actually present in the clips table
        dup_mask = (kept % 1000 == 500) & (kept >= 1000)
        if dup_mask.any():
            cid[dup_mask] = clip_id_for(kept[dup_mask] - 999, seed)
    text = _transcripts_text(kept + 10_000_000, seed)  # distinct text stream
    lang = _pick(kept, seed * 7 + 8, LANG_VALUES, LANG_PROBS)
    base = pd.DataFrame({"clip_id": cid, "transcript": text, "lang": lang})

    if inject:
        ghosts = ids[ids % 500 == 29]
        if len(ghosts):
            gid = clip_id_for(ghosts, seed + 101)  # different hash family → nonexistent
            gtext = _transcripts_text(ghosts + 20_000_000, seed)
            glang = _pick(ghosts, seed * 7 + 9, LANG_VALUES, LANG_PROBS)
            base = pd.concat(
                [base, pd.DataFrame({"clip_id": gid, "transcript": gtext, "lang": glang})],
                ignore_index=True,
            )
    return base


# ---------------------------------------------------------------------------
# distributed builders
# ---------------------------------------------------------------------------


def build_clips(spark, n_rows: int, n_partitions: int = 8,
                spec: ClipFixtureSpec = ClipFixtureSpec()):
    """clips table as a DataFrame, generated in parallel, deterministic
    regardless of partitioning (every column is f(row index))."""

    def gen(batches):
        for pdf in batches:
            yield clips_pdf(pdf["id"].to_numpy(), spec)

    return spark.range(0, n_rows, numPartitions=n_partitions).mapInPandas(gen, CLIPS_SCHEMA)


def build_transcripts(spark, n_rows: int, n_partitions: int = 8,
                      spec: ClipFixtureSpec = ClipFixtureSpec()):
    def gen(batches):
        for pdf in batches:
            yield transcripts_pdf(pdf["id"].to_numpy(), spec)

    return spark.range(0, n_rows, numPartitions=n_partitions).mapInPandas(
        gen, TRANSCRIPTS_SCHEMA
    )
