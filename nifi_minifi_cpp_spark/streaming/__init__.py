"""Structured Streaming layer: sources, record adapters, stateful
operators, push-style sink handlers (SURVEY §2.1-2.2, §2.6, §2.10)."""

from .adapters import (
    batch_by_count_and_age,
    build_es_bulk_payload,
    build_kinesis_batches,
    build_loki_payload,
    build_splunk_ack_request,
    parse_hec_ack,
    parse_splunk_ack_response,
    post_elasticsearch_handler,
    publish_mqtt_handler,
    push_grafana_loki_handler,
    put_kinesis_handler,
    put_splunk_http,
    query_splunk_indexing_status,
    splunk_hec_url,
)
from .records import (
    flowfiles_to_kafka_records,
    kafka_records_to_flowfiles,
    parse_syslog,
)
from .sinks import (
    http_post_handler,
    http_relationship,
    invoke_http,
    route_invoke_http,
    put_tcp_handler,
    put_udp_handler,
)
from .sources import file_stream, generate_flowfiles, kafka_source, socket_source
from .stateful import (
    defragment_text_stream,
    make_bin_packer,
    make_defragmenter,
    merge_content_bin_packing_stream,
)

__all__ = [
    "file_stream",
    "generate_flowfiles",
    "kafka_source",
    "socket_source",
    "kafka_records_to_flowfiles",
    "flowfiles_to_kafka_records",
    "parse_syslog",
    "merge_content_bin_packing_stream",
    "defragment_text_stream",
    "make_bin_packer",
    "make_defragmenter",
    "put_udp_handler",
    "put_tcp_handler",
    "http_post_handler",
    "http_relationship",
    "invoke_http",
    "route_invoke_http",
    "batch_by_count_and_age",
    "build_es_bulk_payload",
    "build_kinesis_batches",
    "build_loki_payload",
    "build_splunk_ack_request",
    "parse_hec_ack",
    "parse_splunk_ack_response",
    "post_elasticsearch_handler",
    "publish_mqtt_handler",
    "push_grafana_loki_handler",
    "put_kinesis_handler",
    "put_splunk_http",
    "query_splunk_indexing_status",
    "splunk_hec_url",
]
