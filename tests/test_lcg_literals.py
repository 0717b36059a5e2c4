"""Every LCG-derived literal, pinned by digest.

The MinHash affine family, the SRP hyperplanes, both IVF codebooks, the
PQ codebooks and the random-projection signs are all drawn from the one
48271-LCG stream and embedded as literals in the DuckDB oracles. Builder
and oracle read the same generator, so oracle parity cannot see a drift
in the stream or in a site's seed or value map. These digests can: they
were recorded from the literals before the sites shared one generator.
"""

import hashlib

import numpy as np


def _digest(x) -> str:
    """sha256 over the literal's exact values, dtype and shape included:
    an int64 array hashes its bytes, a Python list its repr."""
    if isinstance(x, np.ndarray):
        raw = f"{x.dtype}{x.shape}".encode() + np.ascontiguousarray(x).tobytes()
    else:
        raw = repr(x).encode()
    return hashlib.sha256(raw).hexdigest()


_DIGESTS = {
    "srp_16x4":
        "bef76439e940f4baf0af39a76bf779e355afd50b1fd38ba648e1fad8331613de",
    "srp_16x9":
        "df9182f12f584b0511beb98a84cd8385eec2cf94f50b7e351428740996074a4f",
    "ivf":
        "979cf4d741076efa741a6ed042e5b2a40c625786b1b05af9fd06bb9958be9b56",
    "ivf_sign":
        "f3d741f5e7e3d6351ce6dee9cf4d16b15a1f9ead95fe0d0b15929126cd263ec0",
    "pq":
        "85e761f8a84051ecdbb0ddb0ff0fee0306c1ce4b8f0551cd1f98bc1af0dcac20",
    "rp":
        "5bbdada60067654df35a36217a81f6c4e79831c02e8d6aed925237c75907c96f",
    "mh_a":
        "d0dddf52b446e1014353a87a33d3b1826e1192063b04470bfda1a57cf1f94d07",
    "mh_b":
        "e9304933987a5943547b31dc6f6f28b763198eabfa0580d1353097df82866af4",
}


def _literals():
    from full_stack_big_data_spark.operators import dedup, pipeline, similarity
    return {
        "srp_16x4": similarity._srp_hyperplanes(16, 4),
        "srp_16x9": similarity._srp_hyperplanes(16, 9),
        "ivf": similarity._ivf_centroids(),
        "ivf_sign": similarity._ivf_sign_centroids(),
        "pq": similarity._pq_codebooks(),
        "rp": pipeline._rp_signs(),
        "mh_a": dedup._MH_A,
        "mh_b": dedup._MH_B,
    }


def test_lcg_literals_match_recorded_digests():
    lits = _literals()
    for name in ("srp_16x4", "srp_16x9", "ivf", "ivf_sign", "pq"):
        assert lits[name].dtype == np.int64, name
    # F.lit and the oracle text take Python ints, not numpy scalars
    assert all(type(v) is int for row in lits["rp"] for v in row)
    assert all(type(v) is int for v in lits["mh_a"] + lits["mh_b"])
    got = {name: _digest(v) for name, v in lits.items()}
    assert got == _DIGESTS
