"""Payload bytes, counted as bytes.

``batch_bytes`` counts a micro-batch's payload with ``octet_length``:
``length`` counts characters, which reads low on any multi-byte payload.
``payload_column`` builds the reference's double-agent message body,
large and repetitive, with a two-byte character in every chunk so that a
character count would be visibly wrong. Both belong to the
``agent_ingest`` workload, which is not in ``BENCHMARK.json`` (see the
README's "Time budget"); the tests keep them honest.
"""

from __future__ import annotations

# Payload: a 64-hex-char sha2 digest plus one two-byte character,
# repeated. 1100 repeats make 72,600 bytes (71,500 characters) a message.
CHUNK_TAIL = "é"
REPEAT = 1100
CHUNK_BYTES = 64 + len(CHUNK_TAIL.encode("utf-8"))
MSG_BYTES = REPEAT * CHUNK_BYTES


def payload_column(salt: str):
    """The ~72 KB message body, derived from the row id and ``salt``."""
    from pyspark.sql import functions as F

    chunk = F.concat(F.sha2(F.concat(F.col("id").cast("string"), F.lit(salt)), 256), F.lit(CHUNK_TAIL))
    return F.repeat(chunk, REPEAT)


def batch_bytes(batch_df) -> int:
    """Drain one micro-batch to the noop sink; return its payload size in
    bytes (``octet_length``: ``length`` would count characters)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    batch_df.observe(obs, F.sum(F.octet_length("value")).alias("nb")).write.format("noop").mode("overwrite").save()
    return int(obs.get["nb"] or 0)
