"""Pins the three ``mapInPandas`` audio kernels against each other on one
pandas batch that reaches every per-clip branch: the decode facts of the
phase-A kernel equal the fused streaming kernel's, and the phase-C SNR
kernel reproduces the fused kernel's ``snr_db`` on the sha-mismatch rows.
Pure pandas: no Spark session."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from codeclone_spark.functions.audio import (
    MAX_CLIP_BYTES,
    STFT_WIN,
    decode_map_in_pandas,
    facts_map_in_pandas,
    snr_map_in_pandas,
)
from codeclone_spark.synth import LOSSLESS_SNR_DB, encode_pcm, pcm_sha256

SR = 16000
DECODE_COLUMNS = [
    "clip_id", "sr_hz", "dur_ms", "codec", "transcript", "part",
    "decode_ok", "error_kind", "decoded_samples", "decoded_dur_ms",
    "pcm_sha256", "rms", "peak", "clipping_ratio", "silence_ratio",
    "spectral_flatness", "dominant_freq_hz", "band_energies",
]


def _tone(n: int, amp: float = 0.3, seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(n) / SR
    x = amp * np.sin(2 * np.pi * 440.0 * t) + 0.01 * rng.standard_normal(n)
    return np.clip(np.round(x * 32767), -32768, 32767).astype(np.int16)


def _ref(pcm: np.ndarray) -> bytes:
    return pcm.astype("<i2").tobytes()


def _rows() -> list[dict]:
    """One row per kernel branch; clip_id names the branch."""
    clean = _tone(4000)
    noisy = (clean.astype(np.int32) + _tone(4000, amp=0.01, seed=1)).clip(
        -32768, 32767
    ).astype(np.int16)
    short = _tone(STFT_WIN - 12)
    loud = np.full(2000, 32767, dtype=np.int16)  # every sample clips
    rows = [
        # clip_id, codec, payload, fixture pcm (None = no fixture), fx sha
        ("null_bytes", "pcm_s16le", None, clean, None),
        ("too_large", "pcm_s16le", b"\x00" * (MAX_CLIP_BYTES + 2), clean, None),
        ("undecodable", "flac", b"not-a-flac-payload", clean, None),
        ("odd_length", "pcm_s16le", b"\x01\x02\x03", clean, None),
        ("empty_pcm", "pcm_s16le", b"", np.zeros(0, np.int16), None),
        ("short_pcm", "pcm_s16le", _ref(short), short, None),
        ("lossless", "flac", encode_pcm("flac", clean), clean, None),
        ("lossless_vorbis", "vorbis", encode_pcm("vorbis", clean), clean, None),
        ("clipped", "pcm_s16le", _ref(loud), loud, None),
        ("finite_snr", "pcm_s16le", _ref(noisy), clean, None),
        ("lossy_mp3", "mp3", encode_pcm("mp3", clean), clean, None),
        ("len_mismatch", "pcm_s16le", _ref(clean), clean[:-7], None),
        ("silent_ref", "pcm_s16le", _ref(clean), np.zeros(4000, np.int16), None),
        # the fixture sha is stale but its PCM matches: the SNR formula's
        # zero-error branch, not the sha shortcut, yields the sentinel
        ("stale_sha", "pcm_s16le", _ref(clean), clean, "0" * 64),
        ("missing_fixture", "pcm_s16le", _ref(clean), None, None),
        ("nfc_only", "pcm_s16le", _ref(clean), clean, None),
        ("no_sr", "pcm_s16le", _ref(clean), clean, None),
    ]
    out = []
    for cid, codec, payload, ref, fx_sha in rows:
        has_fx = ref is not None
        transcript = expected = "caf\u00e9 ok"  # precomposed e-acute
        if cid == "nfc_only":
            transcript = "cafe\u0301 ok"  # the same text, decomposed
        if cid == "finite_snr":
            expected = "something else"
        out.append({
            "clip_id": cid,
            "sr_hz": None if cid == "no_sr" else SR,
            "dur_ms": 250,
            "codec": codec,
            "transcript": None if cid == "short_pcm" else transcript,
            "part": f"{codec}-b00",
            "fx_sha256": (fx_sha or pcm_sha256(ref)) if has_fx else None,
            "expected_transcript": expected if has_fx else None,
            "expected_dur_ms": 250 if has_fx else None,
            "bytes": payload,
            "pcm_ref": _ref(ref) if has_fx else None,
        })
    return out


@pytest.fixture(scope="module")
def batch() -> pd.DataFrame:
    # object columns, None for nulls: what Arrow hands a mapInPandas body
    df = pd.DataFrame(_rows())
    return df.astype(object).where(df.notna(), None)


def _run(kernel, pdf: pd.DataFrame) -> pd.DataFrame:
    # two batches: the kernels must not carry state across batches
    half = len(pdf) // 2
    parts = [pdf.iloc[:half].reset_index(drop=True), pdf.iloc[half:].reset_index(drop=True)]
    return pd.concat(list(kernel(iter(parts))), ignore_index=True)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    if isinstance(a, (list, np.ndarray)):
        return list(a) == list(b)
    return a == b


def _by_id(frame: pd.DataFrame) -> dict[str, dict]:
    rec = frame.astype(object).where(frame.notna(), None)
    return {r["clip_id"]: r for r in rec.to_dict("records")}


def test_decode_kernel_matches_fused_kernel(batch):
    dec = _by_id(_run(decode_map_in_pandas, batch[DECODE_COLUMNS[:6] + ["bytes"]]))
    fused = _by_id(_run(facts_map_in_pandas, batch))
    assert sorted(dec) == sorted(fused) == sorted(batch["clip_id"])
    for cid in dec:
        for col in DECODE_COLUMNS:
            assert _same(dec[cid][col], fused[cid][col]), (cid, col)


def test_fused_kernel_branches(batch):
    f = _by_id(_run(facts_map_in_pandas, batch))
    for cid, kind in (("null_bytes", "null_bytes"), ("too_large", "clip_too_large"),
                      ("undecodable", "undecodable"), ("odd_length", "undecodable")):
        assert not f[cid]["decode_ok"] and f[cid]["error_kind"] == kind
        assert f[cid]["fixture_status"] == "undecodable"
        assert f[cid]["pcm_sha256"] is None and f[cid]["snr_db"] is None
    assert f["empty_pcm"]["decode_ok"] and f["empty_pcm"]["decoded_samples"] == 0
    assert f["empty_pcm"]["rms"] is None and f["empty_pcm"]["snr_db"] is None
    assert f["short_pcm"]["rms"] is not None
    assert f["short_pcm"]["spectral_flatness"] is None
    assert f["short_pcm"]["transcript_match"] is False
    assert f["lossless"]["snr_db"] == LOSSLESS_SNR_DB
    assert f["lossless"]["band_energies"] is not None
    assert f["lossless"]["pcm_sha256"] == f["lossless_vorbis"]["pcm_sha256"]
    assert f["clipped"]["clipping_ratio"] == 1.0
    assert f["stale_sha"]["snr_db"] == LOSSLESS_SNR_DB
    for cid in ("finite_snr", "lossy_mp3", "silent_ref"):
        assert math.isfinite(f[cid]["snr_db"]) and f[cid]["snr_db"] != LOSSLESS_SNR_DB
    assert f["silent_ref"]["snr_db"] < 0
    assert f["len_mismatch"]["snr_db"] is None
    assert f["missing_fixture"]["fixture_status"] == "missing_fixture"
    assert f["missing_fixture"]["transcript_match"] is None
    assert f["missing_fixture"]["snr_db"] is None
    assert f["nfc_only"]["transcript_match"] is True
    assert f["finite_snr"]["transcript_match"] is False
    assert f["no_sr"]["decoded_dur_ms"] is None
    assert f["no_sr"]["dominant_freq_hz"] is None
    assert f["no_sr"]["spectral_flatness"] is not None
    assert f["lossless"]["decoded_dur_ms"] == 250.0


def test_snr_kernel_matches_fused_kernel_on_mismatch_rows(batch):
    fused = _by_id(_run(facts_map_in_pandas, batch))
    suspects = [
        cid for cid, r in fused.items()
        if r["decode_ok"] and r["fx_sha256"] is not None
        and r["pcm_sha256"] != r["fx_sha256"]
    ]
    assert sorted(suspects) == sorted(
        ["finite_snr", "lossy_mp3", "len_mismatch", "silent_ref", "stale_sha"]
    )
    sus = batch[batch["clip_id"].isin(suspects)][["clip_id", "bytes", "codec", "pcm_ref"]]
    snr = _by_id(_run(snr_map_in_pandas, sus.reset_index(drop=True)))
    assert sorted(snr) == sorted(suspects)
    for cid in suspects:
        assert _same(snr[cid]["snr_db"], fused[cid]["snr_db"]), cid
