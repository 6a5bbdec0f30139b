"""The per-clip audio kernels: one decode that derives every per-row fact
once, and one SNR comparison against the fixture PCM (the reference derives
all per-item facts in one canonicalization pass, ``analysis/units.py:153``;
its per-file error rows instead of exceptions come from
``core/worker.py:46-94``).

Three ``mapInPandas`` bodies loop over those two functions:
``decode_map_in_pandas`` (phase A of the batch facts plan, over the bare
clips scan), ``snr_map_in_pandas`` (phase C, the sha-mismatch subset only)
and ``facts_map_in_pandas`` (both at once over clips ⟕ fixtures, for
streaming micro-batches).

Design for 100 TB:
- Arrow batches cross the JVM<->Python boundary once; no row-at-a-time
  Python UDFs anywhere.
- Heavy binary columns (``bytes``, ``pcm_ref``) are consumed inside the
  batch and NOT emitted — downstream rules shuffle only small scalar facts,
  never raw audio.
- A per-clip byte cap (``MAX_CLIP_BYTES``, analog of the reference's 10 MiB
  ``MAX_FILE_SIZE`` ``core/_types.py:50``) bounds worst-case task memory;
  oversized rows become error rows, never OOMs.
- Undecodable/oversized/malformed rows become ``error_kind`` rows — a task
  NEVER fails because of one bad clip.
"""

from __future__ import annotations

import hashlib
import unicodedata
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from codeclone_spark.synth import LOSSLESS_SNR_DB, decode_pcm

MAX_CLIP_BYTES = 20 * 1024 * 1024  # per-clip guard (reference MAX_FILE_SIZE)
DUR_TOLERANCE_MS = 5.0
SNR_MIN_DB = 30.0

STFT_WIN = 512
STFT_HOP = 256
SILENCE_DBFS = -50.0
N_BANDS = 8

# Per-clip facts of one decode (``_decode_row``), in FACTS_OUT_SCHEMA order.
ROW_FACTS = [
    "decode_ok",
    "error_kind",
    "decoded_samples",
    "decoded_dur_ms",
    "pcm_sha256",
    "rms",
    "peak",
    "clipping_ratio",
    "silence_ratio",
    "spectral_flatness",
    "dominant_freq_hz",
    "band_energies",
]

# Phase A: carried scan columns + decode facts.  Phase B (plans/facts.py)
# joins the small fixture meta columns; phase C re-reads PCM only for
# sha-mismatched rows to compute SNR.
DECODE_CARRIED = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript", "part"]
DECODE_FACTS = ["transcript_nfc"] + ROW_FACTS

# Fused kernel: carried identity/metadata columns + every fact.
CARRIED_COLUMNS = DECODE_CARRIED + [
    "fx_sha256",
    "expected_transcript",
    "expected_dur_ms",
]
FACT_COLUMNS = ROW_FACTS + ["snr_db", "fixture_status", "transcript_match"]


def _nfc(s: Any) -> str | None:
    if s is None or (isinstance(s, float) and np.isnan(s)):
        return None
    return unicodedata.normalize("NFC", str(s))


def _spectral_facts(x: np.ndarray, sr: int | None) -> dict[str, Any]:
    """Frame-wise spectral QA features from float PCM in [-1, 1]:
    silence ratio (frames under -50 dBFS), spectral flatness
    (geometric/arithmetic mean of the average power spectrum), dominant
    frequency, and log-band energies (drift histograms / fingerprinting).
    Pure vectorized numpy — one strided frame matrix, one batched rFFT."""
    n = x.shape[0]
    if n < STFT_WIN:
        return {}
    n_frames = 1 + (n - STFT_WIN) // STFT_HOP
    frames = np.lib.stride_tricks.as_strided(
        x,
        shape=(n_frames, STFT_WIN),
        strides=(x.strides[0] * STFT_HOP, x.strides[0]),
        writeable=False,
    )
    frame_rms = np.sqrt(np.mean(frames * frames, axis=1))
    silence = float(np.mean(frame_rms < 10 ** (SILENCE_DBFS / 20.0)))

    spec = np.abs(np.fft.rfft(frames * np.hanning(STFT_WIN), axis=1)) ** 2
    avg = spec.mean(axis=0) + 1e-12
    flatness = float(np.exp(np.mean(np.log(avg))) / np.mean(avg))
    dom_bin = int(np.argmax(avg[1:]) + 1)
    dom_hz = float(dom_bin * (sr or 0) / STFT_WIN) if sr else None

    edges = np.linspace(0, avg.shape[0], N_BANDS + 1, dtype=int)
    bands = [float(np.log10(avg[edges[i]: edges[i + 1]].sum() + 1e-12))
             for i in range(N_BANDS)]
    return {
        "silence_ratio": round(silence, 6),
        "spectral_flatness": round(flatness, 6),
        "dominant_freq_hz": dom_hz,
        "band_energies": bands,
    }


def _decode(payload: Any, codec: Any) -> tuple[np.ndarray | None, str | None]:
    """The per-clip guard around ``decode_pcm``: the PCM, or the error kind
    that turns the clip into an error row."""
    if payload is None:
        return None, "null_bytes"
    if len(payload) > MAX_CLIP_BYTES:
        return None, "clip_too_large"
    try:
        return decode_pcm(codec, bytes(payload)), None
    except Exception:
        return None, "undecodable"


def _decode_row(payload: Any, codec: Any, sr_hz: Any) -> tuple[dict[str, Any], np.ndarray | None]:
    """Decode one clip and derive its stats, spectral facts and
    ``pcm_sha256`` (``ROW_FACTS``).  Also hands back the PCM (None on an
    error row) for the caller's SNR comparison."""
    out: dict[str, Any] = dict.fromkeys(ROW_FACTS)
    pcm, out["error_kind"] = _decode(payload, codec)
    out["decode_ok"] = pcm is not None
    if pcm is None:
        return out, None
    n = int(pcm.shape[0])
    out["decoded_samples"] = n
    sr = int(sr_hz) if sr_hz is not None and not pd.isna(sr_hz) else None
    if sr and sr > 0:
        out["decoded_dur_ms"] = float(n * 1000.0 / sr)
    x = pcm.astype(np.float64) / 32768.0
    if n:
        out["rms"] = float(np.sqrt(np.mean(x * x)))
        out["peak"] = float(np.max(np.abs(x)))
        out["clipping_ratio"] = float(np.mean(np.abs(pcm) >= 32767))
        out.update(_spectral_facts(x, int(sr) if sr else None))
    out["pcm_sha256"] = hashlib.sha256(pcm.astype("<i2").tobytes()).hexdigest()
    return out, pcm


def _snr_db(pcm: np.ndarray, pcm_ref: Any, sha_equal: bool = False) -> float | None:
    """SNR in dB of decoded *pcm* against the fixture's canonical PCM.
    None for empty PCM or a length mismatch (the length rule flags it);
    the lossless sentinel for an exact match, known without the float pass
    when the decoded sha already equals the fixture sha."""
    ref = np.frombuffer(bytes(pcm_ref), dtype="<i2")
    if ref.shape[0] != pcm.shape[0] or pcm.shape[0] == 0:
        return None
    if sha_equal:
        return LOSSLESS_SNR_DB
    r = ref.astype(np.float64)
    err = r - pcm.astype(np.float64)
    ep = float(np.sum(err * err))
    sp = float(np.sum(r * r))
    return LOSSLESS_SNR_DB if ep == 0.0 else 10.0 * np.log10(max(sp, 1e-12) / ep)


def _objects(pdf: pd.DataFrame, *cols: str) -> list[np.ndarray]:
    return [pdf[c].to_numpy(dtype=object) for c in cols]


def _with_columns(pdf: pd.DataFrame, carried: list[str], cols: dict[str, list]) -> pd.DataFrame:
    out = pdf[carried].copy()
    for k, v in cols.items():
        out[k] = v
    return out


def decode_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Phase A: bare-scan decode; emits carried + decode facts, consumes
    `bytes`.  No fixture inputs -> no shuffle upstream of this map."""
    for pdf in batches:
        cols: dict[str, list] = {c: [] for c in DECODE_FACTS}
        payloads, codecs, srs, trs = _objects(pdf, "bytes", "codec", "sr_hz", "transcript")
        for i in range(len(pdf)):
            row, _ = _decode_row(payloads[i], codecs[i], srs[i])
            row["transcript_nfc"] = _nfc(trs[i])
            for k, v in row.items():
                cols[k].append(v)
        yield _with_columns(pdf, DECODE_CARRIED, cols)


def snr_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Phase C: SNR vs fixture PCM for the (small) sha-mismatch subset.
    Input: clip_id, bytes, codec, pcm_ref.  Output: clip_id, snr_db.
    Decodes only: the subset's stats and spectral facts came from phase A."""
    for pdf in batches:
        snrs = []
        payloads, codecs, refs = _objects(pdf, "bytes", "codec", "pcm_ref")
        for i in range(len(pdf)):
            pcm = None if refs[i] is None else _decode(payloads[i], codecs[i])[0]
            snrs.append(None if pcm is None else _snr_db(pcm, refs[i]))
        yield pd.DataFrame({"clip_id": pdf["clip_id"].to_numpy(dtype=object), "snr_db": snrs})


def facts_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Streaming micro-batches: phases A-C at once over clips ⟕ fixtures —
    consume bytes/pcm_ref, emit carried + fact cols."""
    for pdf in batches:
        cols: dict[str, list] = {c: [] for c in FACT_COLUMNS}
        payloads, codecs, srs, refs, shas, trs, exps = _objects(
            pdf, "bytes", "codec", "sr_hz", "pcm_ref", "fx_sha256",
            "transcript", "expected_transcript",
        )
        for i in range(len(pdf)):
            row, pcm = _decode_row(payloads[i], codecs[i], srs[i])
            row["snr_db"] = (
                None if pcm is None or refs[i] is None
                else _snr_db(pcm, refs[i], row["pcm_sha256"] == shas[i])
            )
            row["fixture_status"] = (
                "missing_fixture" if shas[i] is None
                else "checked" if row["decode_ok"] else "undecodable"
            )
            # NFC-normalized exact match, independent of decode
            exp_t = _nfc(exps[i])
            row["transcript_match"] = None if exp_t is None else _nfc(trs[i]) == exp_t
            for k, v in row.items():
                cols[k].append(v)
        yield _with_columns(pdf, CARRIED_COLUMNS, cols)
