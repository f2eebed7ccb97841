"""functions/pyrepr.py: the JVM CPython-repr renderer — byte equality with
repr() over adversarial + random doubles inside its documented exact
regime (every normal double, plus 0 / nan / ±inf), and value-level
round-trip everywhere."""

from __future__ import annotations

import math
import os
import random
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from traderjoe_etl_spark.functions.pyrepr import py_float_repr_sql

_ADVERSARIAL = [
    0.0, -0.0, 1.0, -1.0, 0.1, 0.5, 2.0,
    # Java/CPython scientific-threshold window
    0.001, 0.0001, 0.00012345, 9.999e-5, 5e-05, 1e-05, 2.5e-10, -5e-05, -0.0001,
    # Java goes scientific at 1e7; CPython stays positional to 1e16
    1e7, 12345678.0, 12345678.9, 99999999.0, 1e15, 4503599627370495.0,
    # CPython scientific regime with 2- and 3-digit exponents
    1e16, 1e22, 1.2345e100, 9.87e-100, 1e306, -1e306, 4.9e-300,
    # classic float artifacts
    0.1 + 0.2, 3.0000000000000004, 1.0 / 3.0, 123456.789,
    # smallest normal and denormals
    2.2250738585072014e-308, 2.225073858507201e-308, 5e-324, 1e-310,
    float("nan"), float("inf"), float("-inf"),
]


def _in_exact_regime(x: float) -> bool:
    if x != x or math.isinf(x) or x == 0.0:
        return True
    return abs(x) >= sys.float_info.min


def _integral_regime(rng: random.Random, n: int) -> list[float]:
    """Integral doubles from 2^53 up, where JDK 17's ``Double.toString``
    prints the integer's digits, not the shortest ones: both ends of
    [2^53, 2^63), every power of two and ten there, values past 2^63
    (1e23 among them) and ``n`` log-uniform values in [2^53, 2^80)."""
    vals = [2.0**53, 2.0**53 + 2, 2.0**63 - 1024, 1e16, 1e17, 1e18, 9.999999999999999e17]
    vals += [2.0**e for e in range(53, 80)]
    vals += [2.0**63, 2.0**63 + 2048, 1e19, 1e20, 1e21, 1e23, 9.999999999999999e22, 2.0**64 - 2048]
    vals += [float(int(2.0 ** rng.uniform(53, 80))) for _ in range(n)]
    return vals + [-v for v in vals[: len(vals) // 2]]


def test_py_float_repr_expr(spark):
    rng = random.Random(20260814)
    vals = list(_ADVERSARIAL)
    for _ in range(5000):
        bits = rng.getrandbits(64)
        x = struct.unpack("<d", struct.pack("<Q", bits))[0]
        if not math.isinf(x):
            vals.append(x)
    for _ in range(5000):  # money-like domain the packed strings render
        vals.append(rng.uniform(0, 1000) / rng.choice([1, 100, 200, 1e6]))
    vals += _integral_regime(rng, 12000)  # per-bin token amounts of uint reserves

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = df.select("x", F.expr(py_float_repr_sql("x")).alias("r")).collect()
    exact_bad, roundtrip_bad = [], []
    for row in rows:
        x, r = row["x"], row["r"]
        if _in_exact_regime(x):
            if r != repr(x):
                exact_bad.append((x, r))
        else:
            # denormals: the Java form keeps two digits (4.9E-324 for
            # 5e-324); the parsed VALUE must be identical
            if not (x != x) and float(r) != x:
                roundtrip_bad.append((x, r))
    assert not exact_bad, f"byte mismatches in exact regime: {exact_bad[:5]}"
    assert not roundtrip_bad, f"round-trip failures: {roundtrip_bad[:5]}"


def test_py_float_repr_expr_null_passthrough(spark):
    df = spark.createDataFrame([(None,), (2.5,)], "x double")
    got = [r["r"] for r in df.select(F.expr(py_float_repr_sql("x")).alias("r")).collect()]
    assert got == [None, "2.5"]
