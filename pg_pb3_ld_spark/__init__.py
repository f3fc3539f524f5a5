"""pg_pb3_ld_spark — a PySpark-native CDC ingest engine.

Consumer + apply half of the pg_pb3_ld CDC pipeline (reference:
/root/reference, johto/pg_pb3_ld): consumes protobuf-framed change
batches in the pg_pb3_ld wire format, decodes them to typed rows with
vectorized numpy/Arrow parsers inside one ``mapInArrow`` stage, gates
them at the batch's last COMMIT, and applies them as key-partitioned
idempotent MERGE upserts into a snapshot table of multi-turn
conversation transcripts keyed by ``(conv_id, turn_idx)``, with
exactly-once LSN high-watermark semantics, additive schema evolution,
and hot-key-safe folds (map-side combining aggregation).
"""

from pg_pb3_ld_spark.config import EngineConfig, parse_binary_oid_ranges

__version__ = "0.1.0"

__all__ = ["EngineConfig", "parse_binary_oid_ranges", "__version__"]
