"""Sources: synthetic generators (S1/S6), file replay (S7), streaming
readers over the testdata tables, and in ``sources.kafka`` the JSON
decode of the reference's Kafka read-back. The Kafka sources and sinks
(S2-S5) are not built: there is no broker or spark-sql-kafka jar on this
system; the wire shape is proved by the ``kafka_wire_roundtrip`` query."""
