"""Engine configuration — the consumer-side analog of pb3ld_startup.

The reference parses six plugin options at slot start
(``decoder/pg_pb3_ld.c:73-217``); we validate the same surface at
engine-config construction time so a bad option fails before any Spark
job is launched.  ``parse_binary_oid_ranges`` mirrors
``pb3ld_parse_binary_oid_ranges`` (``decoder/utils.c:13-159``)
including its exact error-message vocabulary, which the reference's
own table-driven corpus asserts on
(``tests/binary_oid_ranges_input_test.go:9-69``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

OID_MAX = 4294967295  # uint32 max; decoder/utils.c OID_MAX semantics

# type_oids / formats modes — decoder/pg_pb3_ld.h:55-65
MODE_DISABLED = "disabled"
MODE_OMIT_NULLS = "omit_nulls"
MODE_FULL = "full"

_VALID_TYPE_OIDS_MODES = (MODE_DISABLED, MODE_OMIT_NULLS, MODE_FULL)
_VALID_FORMATS_MODES = (MODE_DISABLED, MODE_OMIT_NULLS, MODE_FULL)


class OptionError(ValueError):
    """Invalid engine option (analog of the reference's ereport ERRORs)."""


def _parse_oid(token: str) -> int:
    """Parse a single OID token — decoder/utils.c:13-26 semantics
    (scanint8 + InvalidOid / negative / OID_MAX checks)."""
    stripped = token.strip()
    body = stripped[1:] if stripped[:1] in "+-" else stripped
    if body == "" or not body.isdigit():
        raise OptionError(
            f'invalid input syntax for integer: "{token}"'
        )
    value = int(stripped)
    if value < 0:
        raise OptionError("oids can't be negative")
    if value == 0:
        raise OptionError("oid can't be InvalidOid (0)")
    if value > OID_MAX:
        raise OptionError(
            f"oids can't be larger than OID_MAX ({OID_MAX})"
        )
    return value


def parse_binary_oid_ranges(input_str: str) -> list[tuple[int, int]]:
    """Parse ``"1,2-3,5-400"`` into ordered, non-overlapping closed ranges.

    Mirrors ``pb3ld_parse_binary_oid_ranges`` (decoder/utils.c:70-159):
    a pre-pass rejects empty list items *before* any oid is parsed
    (utils.c:88-104, so ``"1-,"`` fails with the list-syntax error, not
    an integer error); each item is ``oid`` or ``min-max`` split at the
    first hyphen (utils.c:45-66); ranges must be strictly increasing
    (utils.c:138-149).  Error messages match the reference's corpus
    (tests/binary_oid_ranges_input_test.go:10-33) substring-for-
    substring.  Empty/whitespace input → no ranges (utils.c:82-86).
    """
    if input_str is None or input_str.strip() == "":
        return []
    items = input_str.split(",")
    # pre-pass: reference rejects empty segments before parsing values
    if any(item.strip() == "" for item in items):
        raise OptionError("invalid input syntax for binary_oid_ranges")
    ranges: list[tuple[int, int]] = []
    for item in items:
        item = item.strip()
        if "-" in item:
            lo_s, _, hi_s = item.partition("-")
            lo = _parse_oid(lo_s)
            hi = _parse_oid(hi_s)
            if hi < lo:
                raise OptionError(
                    "the upper bound of a range can't be lower than its "
                    "lower bound in binary_oid_ranges"
                )
        else:
            lo = hi = _parse_oid(item)
        if ranges and ranges[-1][1] >= lo:
            prev = ranges[-1]
            raise OptionError(
                f"binary_oid_ranges range {prev[0]} - {prev[1]} overlaps "
                f"with or precedes range {lo} - {hi}"
            )
        ranges.append((lo, hi))
    return ranges


def oid_in_ranges(ranges: list[tuple[int, int]], oid: int) -> bool:
    """Ordered early-exit membership test — decoder/fsd.c:211-227."""
    for lo, hi in ranges:
        if oid < lo:
            return False
        if oid <= hi:
            return True
    return False


@dataclass
class EngineConfig:
    """All knobs of the ingest engine, producer- and consumer-side.

    Producer-side options mirror the reference's plugin options
    (decoder/pg_pb3_ld.c:108-214 defaults and parsing); consumer/apply
    options are the Spark-side scale knobs.
    """

    # --- wire-format options (reference plugin options) ---
    begin_messages: bool = True          # pg_pb3_ld.c:110,127-132
    commit_messages: bool = True         # pg_pb3_ld.c:111,133-138
    type_oids_mode: str = MODE_DISABLED  # pg_pb3_ld.c:145-165
    formats_mode: str = MODE_DISABLED    # pg_pb3_ld.c:174-195
    table_oids: bool = False             # pg_pb3_ld.c:139-144
    binary_oid_ranges: str = ""          # pg_pb3_ld.c:166-173
    # 4 MiB flush target — pg_pb3_ld.c:96-97
    wire_message_target_size: int = 4 * 1024 * 1024

    # --- apply-side (Spark) options ---
    num_buckets: int = 32        # target-table hash buckets on conv_id
    shuffle_partitions: int = 32
    # decode-stage task count; None = spark defaultParallelism.  The
    # Arrow decode is memory-bandwidth-bound, so on a single fat host
    # MORE workers can run SLOWER past the DRAM saturation point
    # (measured: 16 decode tasks beat 32 on a 32-core single-VM).  On
    # a multi-executor cluster leave None — per-node worker count is
    # already bounded by executor cores and decode must spread across
    # every node.
    decode_parallelism: int | None = None
    arrow_max_records: int = 65536
    # require dense frame_seq above the watermark per batch — catches
    # out-of-order sources (which would silently lose data under an
    # LSN watermark) at apply time
    strict_frame_order: bool = True

    _parsed_ranges: list[tuple[int, int]] = field(
        default_factory=list, repr=False
    )

    def __post_init__(self) -> None:
        if self.type_oids_mode not in _VALID_TYPE_OIDS_MODES:
            raise OptionError(
                f'invalid value "{self.type_oids_mode}" for type_oids option'
            )
        if self.formats_mode not in _VALID_FORMATS_MODES:
            raise OptionError(
                f'invalid value "{self.formats_mode}" for formats option'
            )
        if self.binary_oid_ranges:
            self._parsed_ranges = parse_binary_oid_ranges(
                self.binary_oid_ranges
            )
        if self.wire_message_target_size <= 0:
            raise OptionError("wire_message_target_size must be positive")
        if self.num_buckets <= 0:
            raise OptionError("num_buckets must be positive")

    def binary_output_for(self, type_oid: int) -> bool:
        """Should values of this type be sent in binary form?"""
        return oid_in_ranges(self._parsed_ranges, type_oid)
