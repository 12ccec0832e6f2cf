"""Real RIFF/WAVE decode.

Independent witness: the parser must correctly decode a WAV produced by
Python's STDLIB ``wave`` writer (a third-party producer that inserts its
own chunk layout), not just round-trip the engine's own synthesizer —
the same independent-formulation discipline test_ground_truth.py applies
to the graph/LSH oracles.
"""

from __future__ import annotations

import io
import struct
import wave

import pytest

from movies_etl_spark.operators import multimodal as MM


def test_decode_stdlib_wave_writer():
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(2)
    w.setsampwidth(2)
    w.setframerate(44100)
    w.writeframes(b"\x01\x02\x03\x04" * 250)  # 250 stereo 16-bit frames
    w.close()
    got = MM.decode_wav_header(buf.getvalue())
    assert got["sample_rate"] == 44100
    assert got["n_channels"] == 2
    assert got["n_samples"] == 250
    assert got["data_bytes"] == 1000
    assert got["duration_ms"] == 250 * 1000 // 44100


def test_decode_skips_extra_chunks_and_odd_padding():
    """Chunk-walking must survive a LIST chunk before fmt and an odd-size
    chunk's pad byte — real WAVs have both."""
    data = b"payload-bytes"  # 13 bytes of sample data
    fmt = struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    odd_chunk = b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded
    body = odd_chunk + b"fmt " + fmt + b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    got = MM.decode_wav_header(wav)
    assert got["sample_rate"] == 8000
    assert got["n_samples"] == 6  # 13 // block_align 2


def test_decode_rejects_malformed():
    with pytest.raises(ValueError):
        MM.decode_wav_header(None)
    with pytest.raises(ValueError):
        MM.decode_wav_header(b"GIF89a" + b"\x00" * 64)
    # RIFF magic but no data chunk
    wav = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    with pytest.raises(ValueError):
        MM.decode_wav_header(wav)


def test_synth_roundtrip_matches_oracle_arithmetic():
    """synth_wav_bytes output parses back to exactly the fields the SQL
    oracle predicts from the text length."""
    for text in ["x", "hello world", "a" * 553, "Ünïcødé — ↯" * 7]:
        data = text.encode("utf-8")
        n = len(data)
        got = MM.decode_wav_header(MM.synth_wav_bytes(data))
        ch = n % 2 + 1
        sr = 8000 + (n % 7) * 1000
        assert got["n_bytes"] == n + 44
        assert got["n_channels"] == ch
        assert got["sample_rate"] == sr
        assert got["n_samples"] == n // (ch * 2)
        assert got["duration_ms"] == (n // (ch * 2)) * 1000 // sr


def test_stdlib_wave_reads_synth_output():
    """Symmetric witness: the stdlib reader accepts the synthesizer's
    bytes — the payload really is a valid WAV file."""
    data = b"0123456789" * 10  # 100 bytes -> ch 1, sr 10000
    r = wave.open(io.BytesIO(MM.synth_wav_bytes(data)), "rb")
    assert r.getnchannels() == 1
    assert r.getframerate() == 10000
    assert r.getnframes() == 50
    r.close()


def test_null_text_gives_null_features_and_no_frames(spark):
    """A null text is a null payload: extract_features keeps its doc_id
    with every feature null, frame_offsets emits no frame for it, and
    the non-null rows decode as usual."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string"
    )
    payload = MM.with_binary_payload(df)
    feats = {r["doc_id"]: r for r in MM.extract_features(payload).collect()}
    assert set(feats) == {1, 2}
    assert all(feats[2][c] is None for c in feats[2].asDict() if c != "doc_id")
    assert feats[1]["n_bytes"] == len(b"hello world") + 44
    frames = MM.frame_offsets(payload).collect()
    assert frames and {r["doc_id"] for r in frames} == {1}


def test_codecs_run_on_a_worker_without_the_package(tmp_path):
    """Python workers need not import ``movies_etl_spark``: the codecs
    pickle by value (the module registers itself with cloudpickle), so
    a fresh interpreter whose cwd and sys.path hold no checkout can load
    and run them. Without the registration the load fails with
    ModuleNotFoundError."""
    import os
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    codecs = (MM.synth_wav_bytes, MM.decode_wav_header)

    def run(synth_wav, decode_wav):
        return decode_wav(synth_wav(b"worker payload"))

    code = (
        "import pickle, sys\n"
        "run, codecs = pickle.loads(sys.stdin.buffer.read())\n"
        "sys.stdout.buffer.write(pickle.dumps(run(*codecs)))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps((run, codecs)),
        cwd=tmp_path, env=env, capture_output=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert pickle.loads(proc.stdout) == run(*codecs)


# --- Hypothesis: codec round-trips over arbitrary payload bytes ----------

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

if HAVE_HYP:
    import os as _os

    _MAX = int(_os.environ.get("HYP_MAX_EXAMPLES", "60"))

    @settings(max_examples=_MAX, deadline=None)
    @given(st.binary(min_size=0, max_size=4096))
    def test_wav_roundtrip_property(data):
        """For ANY byte payload, synth→parse recovers exactly the fields
        the closed-form (length-derived) arithmetic predicts — the same
        cliff-dense discipline as the expr property suite."""
        n = len(data)
        got = MM.decode_wav_header(MM.synth_wav_bytes(data))
        ch = n % 2 + 1
        sr = 8000 + (n % 7) * 1000
        assert got["n_bytes"] == n + 44
        assert got["n_channels"] == ch
        assert got["sample_rate"] == sr
        assert got["n_samples"] == n // (ch * 2)
        assert got["duration_ms"] == (n // (ch * 2)) * 1000 // sr

    @settings(max_examples=_MAX, deadline=None)
    @given(st.binary(min_size=0, max_size=256))
    def test_wav_parser_rejects_noise(data):
        """Arbitrary bytes: the parser either
        returns a consistent dict or raises ValueError — never any other
        exception (the fault-tolerant decode contract)."""
        try:
            out = MM.decode_wav_header(data)
            assert out["n_bytes"] == len(data)
        except ValueError:
            pass
