"""Round-5 regression tests for the judge/advisor findings:

1. G.711 A-law polarity: the sign bit SET means POSITIVE (opposite of
   μ-law) — pinned at the LUT level in test_audio_codecs; here the
   end-to-end WAV path is checked for the asymmetry the magnitude-only
   features masked.
2. ivf_assign with a zero-norm vector: cosine() is NaN and under ANSI
   mode round(NaN).cast('long') used to throw mid-job; now the row
   lands deterministically in the lowest list.
"""

from __future__ import annotations


# ------------------------------------------------- A-law e2e polarity


def test_alaw_wav_features_polarity(spark):
    """A constant A-law stream of byte 0xD5 (= +8) must produce a
    POSITIVE mean; 0x55 (= -8) a negative one.  rms/peak are
    magnitude-only and masked the old inversion — mean_sample is the
    polarity-sensitive check."""
    from pg_pb3_ld_spark.functions.multimodal import (
        _g711_lut, encode_wav_g711,
    )

    lut = _g711_lut("alaw")
    assert int(lut[0xD5]) == 8 and int(lut[0x55]) == -8
    pos = encode_wav_g711(8000, 1, b"\xD5" * 64, alaw=True)
    neg = encode_wav_g711(8000, 1, b"\x55" * 64, alaw=True)
    from pg_pb3_ld_spark.functions.multimodal import wav_samples

    assert wav_samples(pos)[2].mean() > 0
    assert wav_samples(neg)[2].mean() < 0


# ------------------------------------------- IVF zero-norm NaN guard


def test_ivf_assign_zero_norm_vector_no_ansi_throw(spark):
    from pg_pb3_ld_spark.functions.ann import ivf_assign

    base = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 0.0]),  # zero norm → cosine NaN
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "list_id int, embedding array<double>",
    )
    got = {r["vec_id"]: r["list_id"]
           for r in ivf_assign(base, cents).collect()}
    assert got[1] == 0 and got[2] == 1
    # NaN everywhere → sentinel key → deterministic lowest list id
    assert got[3] == 0


def test_ivf_assign_zero_norm_centroid_no_ansi_throw(spark):
    """kmeans on quantized copies can emit an all-zero centroid; every
    vector's cosine against it is NaN — assignment must neither throw
    nor prefer the dead list."""
    from pg_pb3_ld_spark.functions.ann import ivf_assign

    base = spark.createDataFrame(
        [(1, [1.0, 2.0, 0.5]), (2, [-1.0, 0.5, 0.25])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0]),
         (2, [-1.0, 1.0, 1.0])],
        "list_id int, embedding array<double>",
    )
    got = {r["vec_id"]: r["list_id"]
           for r in ivf_assign(base, cents).collect()}
    assert got[1] == 1 and got[2] == 2


