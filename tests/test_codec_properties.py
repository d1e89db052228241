"""Property-based codec tests (hypothesis): the token codec must be an exact
bijection on the quantized domain — 'token-array equality' (BASELINE.json)
is only meaningful if encode/decode never lose or alter a quantum.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from solarpos_spark import codec

lat_s = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
lon_s = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
usec_s = st.integers(min_value=0, max_value=4102444800)  # ..2100
off_s = st.integers(min_value=-18 * 3600, max_value=18 * 3600)
dt_s = st.floats(min_value=-1000.0, max_value=1000.0, allow_nan=False)
elev_s = st.floats(min_value=-500.0, max_value=9000.0, allow_nan=False)
press_s = st.floats(min_value=0.1, max_value=2000.0, allow_nan=False)
temp_s = st.floats(min_value=-100.0, max_value=100.0, allow_nan=False)


def q5(x: float) -> float:
    return float(np.sign(x) * np.floor(abs(x) * 1e5 + 0.5) / 1e5)


def q3(x: float) -> float:
    return float(np.sign(x) * np.floor(abs(x) * 1e3 + 0.5) / 1e3)


@settings(max_examples=300, deadline=None)
@given(lat=lat_s, lon=lon_s, usec=usec_s, off=off_s, dt=dt_s,
       elev=elev_s, press=press_s, temp=temp_s)
def test_roundtrip_is_quantized_identity(lat, lon, usec, off, dt, elev,
                                         press, temp):
    recs = codec.encode_records(
        lat=np.array([lat]), lon=np.array([lon]),
        unix_sec=np.array([usec]), offset_sec=np.array([off]),
        delta_t=np.array([dt]), elevation=np.array([elev]),
        pressure=np.array([press]), temperature=np.array([temp]))
    out = codec.decode_records(recs)
    assert out["lat"][0] == q5(lat)
    assert out["lon"][0] == q5(lon)
    assert out["unix_sec"][0] == usec
    assert out["offset_sec"][0] == off
    assert out["delta_t"][0] == q3(dt)
    assert out["elevation"][0] == q3(elev)
    assert out["pressure"][0] == q3(press)
    assert out["temperature"][0] == q3(temp)


@settings(max_examples=100, deadline=None)
@given(lat=lat_s, lon=lon_s, usec=usec_s)
def test_double_encode_is_fixed_point(lat, lon, usec):
    """Encoding a decoded record is the identity (idempotent quantization)."""
    r1 = codec.encode_records(lat=np.array([lat]), lon=np.array([lon]),
                              unix_sec=np.array([usec]))
    d1 = codec.decode_records(r1)
    r2 = codec.encode_records(
        lat=d1["lat"], lon=d1["lon"], unix_sec=d1["unix_sec"],
        offset_sec=d1["offset_sec"], delta_t=d1["delta_t"],
        elevation=d1["elevation"], pressure=d1["pressure"],
        temperature=d1["temperature"])
    assert np.array_equal(r1, r2)
