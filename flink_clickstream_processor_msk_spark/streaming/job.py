"""Application shell — the reference's ``main()`` (CP:57-272), Spark-first.

Wires: config validation → Kafka Avro source → Q1 session aggregation →
{buy-filter, Q2, Q3} → three Kafka JSON sinks, in two measured topologies
(SURVEY §7.1 M5, resolved round 7 — PLANS.md "Fan-out architecture"):

- :func:`run_single_pass` (default): ONE streaming query — sessionize
  once, foreachBatch fans out all three outputs per micro-batch. 1.66×
  the multi-query throughput at sf0.1, 3.7× at 10×; Q2/Q3 land as
  additive partials under a tested merge contract.
- :func:`run`: each output as its own streaming query with an isolated
  checkpoint (a replayable source makes re-execution of the shared
  sessionization plan correct, and keeps each sink's failure domain
  independent — the same isolation the reference gets from Flink operator
  chains), at the measured fan-out cost.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from flink_clickstream_processor_msk_spark.config import AppConfig
from flink_clickstream_processor_msk_spark.operators.sessionize import sessionize
from flink_clickstream_processor_msk_spark.sources.clickevents import (
    kafka_clickevents,
)
from flink_clickstream_processor_msk_spark.streaming.pipeline import (
    build_streams,
    session_fanout,
)
from flink_clickstream_processor_msk_spark.streaming.sinks import (
    bulk_foreach_batch_sink,
    dedup_epochs,
    http_bulk_sender,
    kafka_json_sink,
    kafka_sink_frame,
    make_bulk_writer,
)


def run(spark: SparkSession, config: AppConfig) -> list[StreamingQuery]:
    """Start the full job; returns the three streaming queries.

    Reference parity: CP:92-98 config validation; CP:114-119 source;
    CP:208-251 sinks (departments keyed by departmentName, others
    round-robin).
    """
    config.validate()
    servers = config["BootstrapServers"]
    ckpt = config["CheckpointDir"]

    clickevents = kafka_clickevents(
        spark,
        bootstrap_servers=servers,
        topic=config["InputTopic"],
        watermark=config["Watermark"],
    )
    streams = build_streams(
        clickevents, gap=config["SessionGap"], window=config["TumblingWindow"]
    )

    queries = [
        kafka_json_sink(
            streams.department_counts,
            servers,
            config["DepartmentsAggTopic"],
            f"{ckpt}/departments",
            key_cols=["departmentName"],  # K1: keyed, CP:208-227
            timestamp_col="windowEndTime",  # setWriteTimestampToKafka, CP:226
        ),
        kafka_json_sink(
            streams.session_stats,
            servers,
            config["SessionStatsTopic"],
            f"{ckpt}/session_stats",  # K2: round-robin, CP:231-239
            timestamp_col="windowEndTime",  # setWriteTimestampToKafka, CP:239
        ),
        kafka_json_sink(
            streams.buy_sessions,
            servers,
            config["BuySessionsTopic"],
            f"{ckpt}/buy_sessions",  # K3: round-robin, CP:243-251
            timestamp_col="windowEndTime",  # setWriteTimestampToKafka, CP:251
        ),
    ]
    queries += elasticsearch_sinks(streams, config)
    return queries


#: the reference's three ES indexes, keyed by stream (CP:265-267) with the
#: deterministic _id columns the delivery-semantics doc prescribes (the
#: reference uses auto ids; (key, windowBeginTime) makes epoch replays
#: idempotent at the target — README "Delivery semantics")
ES_INDEXES: dict[str, tuple[str, list[str]]] = {
    "department_counts": ("departments_count", ["departmentName", "windowBeginTime"]),
    "session_stats": ("user_session_counts", ["windowBeginTime"]),
    "buy_sessions": ("user_session_details", ["userId", "windowBeginTime"]),
}


def elasticsearch_sinks(
    streams, config: AppConfig, send_factory=None
) -> list[StreamingQuery]:
    """E1-E3 (CP:265-267): when ``ElasticsearchEndpoint`` is configured,
    sink all three streams as /_bulk NDJSON (es_bulk_records framing,
    the reference's flush/backoff policy) through plain-HTTP POSTs —
    runnable against any reachable ES with no client library.
    ``send_factory(index_name) -> send`` overrides delivery — e.g.
    ``lambda _i: sigv4_http_bulk_sender(endpoint, region)`` for IAM-auth
    Amazon OpenSearch (streaming/sigv4.py, the reference's
    AmazonElasticsearchSink signing path), or test doubles; returns []
    when no endpoint is configured."""
    endpoint = config.get("ElasticsearchEndpoint")
    if not endpoint:
        return []
    if send_factory is None:
        def send_factory(_index):  # noqa: E306
            return http_bulk_sender(endpoint)

    ckpt = config["CheckpointDir"]
    out = []
    for stream_name, (index, id_cols) in ES_INDEXES.items():
        df = getattr(streams, stream_name)
        out.append(
            bulk_foreach_batch_sink(
                df,
                dedup_epochs(
                    make_bulk_writer(
                        send_factory(index),
                        es_index=index,
                        es_id_cols=id_cols,
                    ),
                    f"{ckpt}/es_{index}_epochs",
                ),
                f"{ckpt}/es_{index}",
            )
        )
    return out


def run_single_pass(spark: SparkSession, config: AppConfig) -> StreamingQuery:
    """The measured alternative to :func:`run` — ONE streaming query:
    sessionize once, fan out to the three Kafka topics inside foreachBatch
    (SURVEY §7.1 M5; measurements in BASELINE.md/PLANS.md — 1.66× the
    three-query form's end-to-end throughput at sf0.1 and 3.7× at 10×
    scale, since that form pays the source read and session-window state
    three times while its per-batch fixed costs amortize away).

    Per micro-batch (streaming.pipeline.session_fanout): the finalized
    sessions are materialized once, then the three Kafka writes run
    concurrently, in the query's job group. A failing write does not stop
    the other two; the query fails once all three have returned, and a
    restart replays the batch whole, so every topic stays at-least-once
    (consumers dedupe on key + window bounds, README "Delivery
    semantics").

    Trade (documented in streaming.pipeline.session_fanout): buy-session
    records are exact; Q2/Q3 records are per-batch partial window counts
    whose downstream consumer must merge additively (upsert-with-add keyed
    on the window bounds — e.g. compacted topics or the ES doc-id pattern
    the reference already relies on, CP:208-227). :func:`run` keeps exact
    finalized-window records and per-sink failure isolation at the measured
    fan-out cost; this is the throughput-first configuration.
    """
    config.validate()
    servers = config["BootstrapServers"]
    ckpt = config["CheckpointDir"]

    clickevents = kafka_clickevents(
        spark,
        bootstrap_servers=servers,
        topic=config["InputTopic"],
        watermark=config["Watermark"],
    )
    sessions = sessionize(clickevents, gap=config["SessionGap"])

    def kafka_writer(topic, key_cols=None, timestamp_col="windowEndTime"):
        def write(df, _epoch_id: int) -> None:
            (
                kafka_sink_frame(df, key_cols, timestamp_col)
                .write.format("kafka")
                .option("kafka.bootstrap.servers", servers)
                .option("topic", topic)
                .save()
            )

        return write

    fan_out = session_fanout(
        write_buy=kafka_writer(config["BuySessionsTopic"]),  # CP:243-251
        write_session_stats=kafka_writer(config["SessionStatsTopic"]),
        write_department_counts=kafka_writer(
            config["DepartmentsAggTopic"], key_cols=["departmentName"]
        ),
        window=config["TumblingWindow"],
    )
    return (
        sessions.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", f"{ckpt}/single_pass")
        .outputMode("append")
        .start()
    )
