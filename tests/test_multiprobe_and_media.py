"""Media decoding."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_real_ppm_decode_roundtrip():
    """_decode_ppm must parse a spec-valid P6 (comments, arbitrary header
    whitespace) back to the exact pixel grid."""
    import numpy as np

    from traderjoe_etl_spark.operators.multimodal import _decode_ppm

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    blob = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    out = _decode_ppm(blob)
    assert out.shape == (2, 3, 3)
    assert (out == px).all()


def test_real_wav_decode_roundtrip():
    """_decode_wav must recover int16 PCM samples exactly (stdlib wave)."""
    import io
    import wave

    import numpy as np

    from traderjoe_etl_spark.operators.multimodal import _decode_wav

    samples = np.array([0, 1, -1, 32767, -32768, 1234], dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(8000)
        f.writeframes(samples.tobytes())
    out = _decode_wav(buf.getvalue())
    assert (out == samples).all()


def test_real_decoder_still_blocked_for_compressed(spark):
    """decoder='real' must keep raising for formats that genuinely need
    external codec libs — the documented environment boundary."""
    import pytest as _pytest

    from traderjoe_etl_spark.operators.multimodal import extract_features

    df = spark.createDataFrame(
        [(1, "image", b"\xff\xd8\xff", ("image/jpeg", 1, 1, 0))],
        "media_id long, kind string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    with _pytest.raises(Exception, match="(?i)NotImplemented|real decode|mime"):
        extract_features(df, decoder="real").collect()
