"""The decode half of the reference's Kafka wire format (S4/P5).

The reference reads its output topic back as a batch, decodes the JSON
value and diffs timestamps (ysb/benchmark/spark/SparkYahooRunner.scala:
127-135). The Kafka sources and sinks themselves (S2-S5) are not built:
there is no broker or spark-sql-kafka jar on this system. The wire shape
is proved by the ``kafka_wire_roundtrip`` registry query, which encodes
rows with to_json(struct(*)) into the Kafka source schema and decodes
them here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def decode_json_rows(
    raw: DataFrame, schema: StructType, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Kafka value bytes → typed columns, the inverse of to_json(struct(*))
    (SparkYahooRunner.scala:132-135 get_json_object decode). ``keep`` carries
    Kafka metadata columns (topic/partition/offset/timestamp) through the
    decode — the reference's latency read-back keeps the broker timestamp
    alongside the payload (SparkYahooRunner.scala:136-145)."""
    return raw.select(
        *[F.col(c) for c in keep],
        F.from_json(F.col("value").cast("string"), schema).alias("r"),
    ).select(*keep, "r.*")
