"""D2/D7 — JVM projection of raw wire values held in the probe.

The fused decode (``operators.decode``) casts every column of the
schema it was given.  Wire columns outside that schema — added by an
``ALTER TABLE`` mid-stream, or re-sent with a wider type oid — ride
the ``_x_*`` probe arrays as raw bytes.  After schema evolution the
pipeline derives those columns here with built-in expressions over
the persisted typed rows, so an evolution batch costs no second
decode.  Per column we look its name up in the probe field set
(``array_position``), honoring the semantics the reference forces on
consumers:

* **absent ≠ NULL** (TOAST omission, ``decoder/fsd.c:163-175``):
  ``<col>_set`` distinguishes "column not on the wire" from an
  explicit NULL in the nulls bitmap;
* **text vs binary value form per column** (``fsd.c:150-199``):
  binary int2/int4/int8/timestamptz are decoded with hex/conv
  arithmetic, text forms with plain casts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pg_pb3_ld_spark.pb3.pgtypes import PG_EPOCH_US


def _lookup(prefix: str, name: str) -> dict[str, Column]:
    """Positional lookup of one wire column in a field-set array."""
    pos = F.array_position(F.col(f"{prefix}_names"), name)
    present = pos > 0
    ipos = pos.cast("int")
    return {
        "present": present,
        "value": F.when(present, F.element_at(f"{prefix}_values", ipos)),
        "is_null": F.when(present, F.element_at(f"{prefix}_nulls", ipos)),
        "is_bin": F.when(present, F.element_at(f"{prefix}_formats", ipos)),
    }


def _signed_be(value: Column, bits: int) -> Column:
    """Big-endian two's-complement bytes → long, JVM-side.

    64-bit: ``conv(hex, 16, -10)`` is the signed interpretation;
    16/32-bit: unsigned conv then wrap at 2^(bits-1) — the wrap width
    must match the wire width (int2 sends 2 bytes, so 0xFFFF is -1,
    not 65535).
    """
    if bits == 64:
        return F.conv(F.hex(value), 16, -10).cast("long")
    u = F.conv(F.hex(value), 16, 10).cast("long")
    wrap = F.lit(2 ** bits)
    return F.when(u >= wrap / 2, u - wrap).otherwise(u)


def typed_column(lk: dict[str, Column], spark_type: str) -> Column:
    """Decode one looked-up wire value into a typed column."""
    v = lk["value"]
    nonnull = lk["present"] & ~F.coalesce(lk["is_null"], F.lit(False))
    is_bin = F.coalesce(lk["is_bin"], F.lit(False))
    if spark_type == "string":
        out = v.cast("string")
    elif spark_type == "binary":
        # binary form is raw; text form is \x-hex (bytea_output=hex)
        out = F.when(is_bin, v).otherwise(
            F.unhex(F.substring(v.cast("string"), 3, 2_000_000_000))
        )
    elif spark_type in ("int", "smallint", "bigint"):
        # binary int width comes from the WIRE bytes, not the target
        # type: after a widening evolution one probe column mixes
        # int2/int4/int8 send forms (2/4/8 bytes), and the wire's own
        # length is authoritative for the two's-complement wrap
        # (fsd.c:150-199 send-function forms)
        blen = F.length(v)
        bin_out = (
            F.when(blen == 8, _signed_be(v, 64))
            .when(blen == 4, _signed_be(v, 32))
            .otherwise(_signed_be(v, 16))
        )
        out = (
            F.when(is_bin, bin_out)
            .otherwise(v.cast("string").cast("long"))
            .cast(spark_type)
        )
    elif spark_type in ("float", "double"):
        # floats ride text form on the transcripts path; binary IEEE
        # bitcast has no JVM builtin — use the vectorized Python
        # decoder (pb3.pgtypes) for binary-float streams
        out = v.cast("string").cast(spark_type)
    elif spark_type in ("timestamp", "timestamp_ntz"):
        micros = _signed_be(v, 64) + F.lit(PG_EPOCH_US)
        out = F.when(is_bin, F.timestamp_micros(micros)).otherwise(
            v.cast("string").cast("timestamp")
        )
        if spark_type == "timestamp_ntz":
            out = out.cast("timestamp_ntz")
    elif spark_type == "boolean":
        out = F.when(is_bin, v != F.lit(b"\x00")).otherwise(
            v.cast("string") == "t"
        )
    else:
        raise ValueError(f"unsupported spark type {spark_type}")
    return F.when(nonnull, out)


def project_evolved_from_probe(
    typed: DataFrame, new_cols: list
) -> DataFrame:
    """Derive newly-evolved columns from the typed decode's probe
    arrays (``_x_names``/``_x_values``/``_x_nulls``/``_x_formats``) —
    pure JVM expressions over the already-persisted typed rows, so an
    evolution batch costs zero extra frame decodes.

    ``new_cols``: TargetColumns absent from the schema the batch was
    decoded with.  Caller must verify JVM decodability first
    (``can_project_from_probe``).
    """
    for c in new_cols:
        lk = _lookup("_x", c.name)
        typed = typed.withColumn(
            c.name, typed_column(lk, c.spark_type)
        ).withColumn(f"{c.name}_set", lk["present"])
    return typed


def project_widened_from_probe(
    typed: DataFrame, widened_cols: list
) -> DataFrame:
    """Merge a type-widened column's two sources after evolution:
    rows sent with the OLD oid were decoded typed (narrow — cast up),
    rows sent with the NEW oid were diverted to the probe (raw bytes —
    decode here, width-dispatched).  ``<col>_set`` ORs both sources,
    preserving absent≠NULL: a probe row with an explicit NULL is set,
    a row where the column never appeared stays unset."""
    for c in widened_cols:
        lk = _lookup("_x", c.name)
        present = lk["present"]
        probe_val = typed_column(lk, c.spark_type)
        typed = typed.withColumn(
            c.name,
            F.when(present, probe_val)
            .otherwise(F.col(c.name).cast(c.spark_type)),
        ).withColumn(
            f"{c.name}_set", F.col(f"{c.name}_set") | present
        )
    return typed


def can_project_from_probe(new_cols: list, config) -> bool:
    """True when every new column's wire form is JVM-decodable.

    The only gap is binary-form float4/float8 (no IEEE-bitcast
    builtin); such streams fall back to a full re-decode with the
    evolved schema — rare × rare."""
    return not any(
        c.spark_type in ("float", "double")
        and config.binary_output_for(c.type_oid)
        for c in new_cols
    )
