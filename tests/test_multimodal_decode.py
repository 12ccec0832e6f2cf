"""Real RIFF/WAVE decode (r18, VERDICT r17 #5 — stub retired).

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


# --- r18 image path: BMP + mixed-modality dispatcher ---------------------

GOLDEN_BMP_2x2 = (
    # hand-assembled 2x2 24-bit BI_RGB BMP (the classic wiki example
    # layout): 54-byte header + 2 rows of 8 bytes (6 pixel + 2 pad)
    b"BM"
    + (70).to_bytes(4, "little") + b"\x00\x00\x00\x00"
    + (54).to_bytes(4, "little")
    + (40).to_bytes(4, "little")
    + (2).to_bytes(4, "little") + (2).to_bytes(4, "little")
    + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
    + (0).to_bytes(4, "little") + (16).to_bytes(4, "little")
    + (2835).to_bytes(4, "little") + (2835).to_bytes(4, "little")
    + (0).to_bytes(4, "little") + (0).to_bytes(4, "little")
    + b"\x00\x00\xff\xff\xff\xff\x00\x00"   # row 0: red, white + pad
    + b"\xff\x00\x00\x00\xff\x00\x00\x00"   # row 1: blue, green + pad
)


def test_decode_golden_bmp():
    got = MM.decode_bmp_header(GOLDEN_BMP_2x2)
    assert got == {
        "n_bytes": 70,
        "width": 2,
        "height": 2,
        "top_down": False,
        "bits_per_pixel": 24,
        "stride": 8,
        "pixel_bytes": 16,
        "pixel_offset": 54,
        "file_size": 70,
    }


def test_bmp_synth_roundtrip_matches_oracle_arithmetic():
    for text in ["x", "hello world", "a" * 553, "Ünïcødé — ↯" * 7]:
        data = text.encode("utf-8")
        n = len(data)
        got = MM.decode_bmp_header(MM.synth_bmp_bytes(data))
        w = n % 13 + 4
        h = n % 7 + 3
        stride = (3 * w + 3) // 4 * 4
        assert got["width"] == w
        assert got["height"] == h
        assert got["stride"] == stride
        assert got["pixel_bytes"] == stride * h
        assert got["n_bytes"] == 54 + stride * h
        assert got["file_size"] == got["n_bytes"]


def test_bmp_decode_handles_top_down_and_rejects_malformed():
    import struct

    wav = MM.synth_wav_bytes(b"not a bmp")
    with pytest.raises(ValueError):
        MM.decode_bmp_header(wav)
    with pytest.raises(ValueError):
        MM.decode_bmp_header(None)
    # top-down variant (negative height) of the golden file
    td = bytearray(GOLDEN_BMP_2x2)
    td[22:26] = struct.pack("<i", -2)
    got = MM.decode_bmp_header(bytes(td))
    assert got["height"] == 2 and got["top_down"] is True
    # RLE-compressed refused (parser only does BI_RGB)
    rle = bytearray(GOLDEN_BMP_2x2)
    rle[30:34] = struct.pack("<I", 1)
    with pytest.raises(ValueError):
        MM.decode_bmp_header(bytes(rle))


def test_sniff_media_kind_routes_both_containers():
    assert MM.sniff_media_kind(MM.synth_wav_bytes(b"abc")) == "audio/wav"
    assert MM.sniff_media_kind(MM.synth_bmp_bytes(b"abc")) == "image/bmp"
    assert MM.sniff_media_kind(b"GIF89a...") == "unknown"
    assert MM.sniff_media_kind(None) == "unknown"


def test_extract_mixed_features_spark(spark):
    rows = [(i, f"doc text number {i} " * (i + 1)) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = MM.extract_mixed_features(MM.with_mixed_payload(df)).collect()
    assert len(out) == 8
    by_id = {r["doc_id"]: r for r in out}
    for i, text in rows:
        n = len(text.encode("utf-8"))
        r = by_id[i]
        if i % 2 == 0:
            assert r["kind"] == "image/bmp"
            w = n % 13 + 4
            h = n % 7 + 3
            stride = (3 * w + 3) // 4 * 4
            assert (r["width"], r["height"]) == (w, h)
            assert r["pixel_bytes"] == stride * h
            assert r["sample_rate"] is None and r["duration_ms"] is None
        else:
            assert r["kind"] == "audio/wav"
            ch = n % 2 + 1
            sr = 8000 + (n % 7) * 1000
            assert r["sample_rate"] == sr
            assert r["duration_ms"] == (n // (ch * 2)) * 1000 // sr
            assert r["width"] is None and r["pixel_bytes"] is None


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

    codecs = (
        MM.synth_wav_bytes,
        MM.decode_wav_header,
        MM.synth_bmp_bytes,
        MM.decode_bmp_header,
        MM.sniff_media_kind,
    )

    def run(synth_wav, decode_wav, synth_bmp, decode_bmp, sniff):
        wav, bmp = synth_wav(b"worker payload"), synth_bmp(b"worker payload")
        return decode_wav(wav), decode_bmp(bmp), sniff(wav), sniff(bmp)

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
    @given(st.binary(min_size=0, max_size=4096))
    def test_bmp_roundtrip_property(data):
        n = len(data)
        got = MM.decode_bmp_header(MM.synth_bmp_bytes(data))
        w = n % 13 + 4
        h = n % 7 + 3
        stride = (3 * w + 3) // 4 * 4
        assert (got["width"], got["height"]) == (w, h)
        assert got["pixel_bytes"] == stride * h
        assert got["n_bytes"] == got["file_size"] == 54 + stride * h

    @settings(max_examples=_MAX, deadline=None)
    @given(st.binary(min_size=0, max_size=256))
    def test_sniff_never_crashes_and_parsers_reject_noise(data):
        """Arbitrary (possibly magic-prefixed) noise: sniff is total; a
        parser either returns a consistent dict or raises ValueError —
        never any other exception (the fault-tolerant decode contract)."""
        kind = MM.sniff_media_kind(data)
        assert kind in ("audio/wav", "image/bmp", "unknown")
        for parse in (MM.decode_wav_header, MM.decode_bmp_header):
            try:
                out = parse(data)
                assert out["n_bytes"] == len(data)
            except ValueError:
                pass


# --- r19-ready: mixed-modality decode, full oracle parity (unregistered) --

#: the DuckDB oracle the r19 `multimodal_mixed_decode` registration will
#: carry — validated here end-to-end so the registration is a pure
#: @query wrap (the r18 one-in-window-registration slot went to
#: dedup_cc_distributed)
MIXED_DECODE_ORACLE = """
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS kind,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN 54 + ((3 * (n % 13 + 4) + 3) // 4 * 4) * (n % 7 + 3)
                ELSE n + 44 END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN doc_id % 2 = 1
                THEN 8000 + (n % 7) * 1000 END AS BIGINT) AS sample_rate,
           CAST(CASE WHEN doc_id % 2 = 1
                THEN (n // ((n % 2 + 1) * 2)) * 1000 // (8000 + (n % 7) * 1000)
                END AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 2 = 0 THEN n % 13 + 4 END AS BIGINT) AS width,
           CAST(CASE WHEN doc_id % 2 = 0 THEN n % 7 + 3 END AS BIGINT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN ((3 * (n % 13 + 4) + 3) // 4 * 4) * (n % 7 + 3)
                END AS BIGINT) AS pixel_bytes
    FROM m
"""


def test_mixed_decode_oracle_parity(spark, duck, sf_dir):
    """Exact full-frame parity of extract_mixed_features(with_mixed_payload)
    vs the closed-form DuckDB oracle over the real documents table — the
    same comparison the driver runs, ahead of the r19 registration."""
    import pandas as pd

    from movies_etl_spark.sources import readers

    d = readers.load_table(spark, sf_dir, "documents")
    got = MM.extract_mixed_features(MM.with_mixed_payload(d)).toPandas()
    want = duck.execute(MIXED_DECODE_ORACLE).df()

    def norm(df):
        cols = sorted(df.columns)
        out = df[cols].copy()
        for c in cols:
            out[c] = out[c].astype(str)
        return out.sort_values(cols).reset_index(drop=True)

    assert sorted(got.columns) == sorted(want.columns)
    pd.testing.assert_frame_equal(norm(got), norm(want))
