"""Flow compiler: MiNiFi-style flow config -> composed DataFrame plan.

The reference deploys a YAML/JSON processor graph
(/root/reference/libminifi/src/core/flow/StructuredConfiguration.cpp:62-140:
parse processors, then connections; FlowController::start schedules
each processor). Spark-first, the flow config compiles to lazy
DataFrame transformations: processors are operator applications,
connections are data dependencies, and Catalyst sees the WHOLE flow as
one plan — filters from a downstream RouteOnAttribute push into the
upstream scan, something the reference's queue-per-connection executor
can never do.

Config shape (YAML or dict):

    processors:
      - id: src
        type: TableSource            # reference type names accepted
        properties: {table: events, sf_dir: /root/testdata/sf0.001}
      - id: route
        type: RouteOnAttribute
        properties: {errors: "${event_type:equals('error')}"}
    connections:
      - {source: src, destination: route}
      - {source: route, relationship: errors, destination: out}

Multiple connections into one processor funnel (unionByName) —
Funnel parity (libminifi/include/Funnel.h:27).

Each sink type is defined once, for both kinds of input frame: a batch
frame is written when the flow compiles, and a stream compiles to an
unstarted writer that FlowController starts.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from .. import operators as ops
from ..model import documents_to_flowfiles, events_to_flowfiles
from ..session import load_table

SUCCESS = "success"

# handler: (spark, input_df|None, properties) -> dict[relationship, DataFrame]
Handler = Callable[[SparkSession, DataFrame | None, dict[str, Any]], dict[str, DataFrame]]

_PROCESSORS: dict[str, Handler] = {}


def processor(name: str):
    def deco(fn: Handler):
        _PROCESSORS[name] = fn
        return fn

    return deco


def _one(df: DataFrame) -> dict[str, DataFrame]:
    return {SUCCESS: df}


# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------


@processor("TableSource")
def _table_source(spark, df, props):
    """Engine-native source: one of the driver's parquet tables,
    optionally lifted to the canonical FlowFile frame."""
    table = props["table"]
    raw = load_table(spark, table, props.get("sf_dir", "/root/testdata/sf0.001"))
    if props.get("as_flowfiles", True):
        if table == "events":
            return _one(events_to_flowfiles(raw))
        if table == "documents":
            return _one(documents_to_flowfiles(raw))
    return _one(raw)


@processor("GetFile")
def _get_file(spark, df, props):
    """GetFile (GetFile.cpp:71; property matrix GetFile.h:96-158):
    batch read of a directory. r15 implements the full filter matrix —
    the candidate list is a driver-side metadata poll (the reference's
    directory scan; stat only, no content), then the CONTENT read of
    exactly the selected files is distributed through the Spark
    reader:

    - File Filter: filename regex (the reference semantics; the
      legacy ``file_filter`` glob option is still honored)
    - Ignore Hidden Files (default true, like the reference)
    - Minimum/Maximum File Age: time periods vs the file's mtime
    - Minimum/Maximum File Size: DATA_SIZE values ('0 B', '1 MB';
      GetFile.h:118-127 — reference unit quirk honored: K/M/G decimal,
      KB/MB/GB binary)
    - Batch Size: at most N files per trigger, oldest-mtime first
    - Recurse Subdirectories (default true, GetFile.h:96)
    - Keep Source File: when false, the batch is MATERIALIZED
      (eager localCheckpoint) before the source files are unlinked —
      lazy evaluation must never race the delete. DOCUMENTED DIVERGENCE:
      the reference defaults to false (consume-and-delete,
      GetFile.h:101-105); this engine defaults to TRUE because an
      analytics flow re-reads its sources and a destructive default
      inside a lazily-planned engine is a data-loss foot-gun — pass
      ``Keep Source File: false`` explicitly for reference behavior.
    """
    import fnmatch as _fnmatch
    import os as _os
    import re as _re
    import time as _time

    from ..streaming.sources import _parse_data_size_bytes, _parse_time_period_ms

    def _flag(name: str, default: bool) -> bool:
        v = props.get(name, default)
        return str(v).lower() in ("true", "1", "yes")

    directory = props["input_directory"]
    recurse = _flag("Recurse Subdirectories", _flag("recurse", True))
    ignore_hidden = _flag("Ignore Hidden Files", True)
    rx = _re.compile(props["File Filter"]) if props.get("File Filter") else None
    glob_filter = props.get("file_filter")
    # "0 sec" / "0 B" maxima mean DISABLED, the reference's defaults
    min_age_s = _parse_time_period_ms(props["Minimum File Age"]) / 1000.0 if props.get("Minimum File Age") else 0.0
    max_age_s = _parse_time_period_ms(props["Maximum File Age"]) / 1000.0 if props.get("Maximum File Age") else None
    if max_age_s == 0.0:
        max_age_s = None
    # DATA_SIZE values per GetFile.h:118-127 ('0 B' default, '1 MB' style)
    min_size = _parse_data_size_bytes(props.get("Minimum File Size", 0))
    max_size = _parse_data_size_bytes(props["Maximum File Size"]) if props.get("Maximum File Size") else None
    if max_size == 0:
        max_size = None
    batch = int(props["Batch Size"]) if props.get("Batch Size") else None
    keep = _flag("Keep Source File", _flag("keep_source", True))

    now = _time.time()
    candidates: list[tuple[float, str]] = []
    for root, dirs, files in _os.walk(directory):
        if not recurse:
            dirs.clear()
        for name in files:
            if ignore_hidden and name.startswith("."):
                continue
            if rx and not rx.fullmatch(name):
                continue
            if glob_filter and not _fnmatch.fnmatch(name, glob_filter):
                continue
            full = _os.path.join(root, name)
            st = _os.stat(full)
            age = now - st.st_mtime
            if age < min_age_s or (max_age_s is not None and age > max_age_s):
                continue
            if st.st_size < min_size or (max_size is not None and st.st_size > max_size):
                continue
            candidates.append((st.st_mtime, full))
    candidates.sort()
    if batch is not None:
        candidates = candidates[:batch]
    selected = [p for _, p in candidates]
    if not selected:
        return _one(
            spark.createDataFrame(
                [],
                "uuid string, ts timestamp, content string, "
                "attributes map<string,string>, lineage array<string>",
            )
        )

    # Spark's file index hard-filters dot-files even when handed
    # explicit paths (InMemoryFileIndex.shouldFilterOutPathName), so a
    # selected hidden file is read through a VISIBLE hard link (copy
    # fallback across filesystems) and the batch is materialized
    # before the link dir is removed.
    link_dir = None
    read_paths = []
    hidden_selected = [p for p in selected if _os.path.basename(p).startswith(".")]
    if hidden_selected:
        import shutil as _shutil
        import tempfile as _tempfile
        import uuid as _uuid

        link_dir = _tempfile.mkdtemp(prefix="getfile-hidden-")
        for p in selected:
            if _os.path.basename(p).startswith("."):
                vis = _os.path.join(link_dir, f"h{_uuid.uuid4().hex[:8]}-{_os.path.basename(p).lstrip('.')}")
                try:
                    _os.link(p, vis)
                except OSError:
                    _shutil.copy2(p, vis)
                read_paths.append(vis)
            else:
                read_paths.append(p)
    else:
        read_paths = selected

    reader = spark.read.format(props.get("format", "text"))
    raw = reader.load(read_paths)
    content = F.col("value") if "value" in raw.columns else F.col(raw.columns[0]).cast("string")
    out = raw.select(
        F.expr("uuid()").alias("uuid"),
        F.current_timestamp().alias("ts"),
        content.alias("content"),
        F.create_map(F.lit("source.dir"), F.lit(directory)).alias("attributes"),
        F.array().cast("array<string>").alias("lineage"),
    )
    if not keep or link_dir is not None:
        # force the read BEFORE unlinking sources / removing the
        # hidden-file link dir — a lazily-evaluated plan must never
        # race the deletes. localCheckpoint (eager) rather than
        # persist+count: it TRUNCATES the lineage, so a later eviction
        # of a block can never trigger recomputation that re-reads the
        # unlinked paths (it fails loudly instead of reading garbage),
        # and the blocks are released when the DataFrame is collected,
        # closing the never-unpersisted leak (ADVICE r15)
        out = out.localCheckpoint(eager=True)
        if link_dir is not None:
            import shutil as _shutil

            _shutil.rmtree(link_dir, ignore_errors=True)
        if not keep:
            for p in selected:
                try:
                    _os.remove(p)
                except OSError:
                    pass
    return _one(out)


@processor("GenerateFlowFile")
def _generate(spark, df, props):
    """GenerateFlowFile (GenerateFlowFile.cpp:113), batch flavor."""
    n = int(props.get("batch_size", 10))
    text = props.get("custom_text", "generated")
    base = spark.range(n)
    return _one(
        base.select(
            F.expr("uuid()").alias("uuid"),
            F.current_timestamp().alias("ts"),
            F.lit(text).alias("content"),
            F.create_map().cast("map<string,string>").alias("attributes"),
            F.array(F.col("id").cast("string")).alias("lineage"),
        )
    )


# ---------------------------------------------------------------------------
# transforms / routing (delegating to the operator pack)
# ---------------------------------------------------------------------------


@processor("UpdateAttribute")
def _update_attribute(spark, df, props):
    return _one(ops.update_attribute(df, props))


@processor("RouteOnAttribute")
def _route_on_attribute(spark, df, props):
    return ops.route_on_attribute(df, props)


#: reference allowable values (RouteText.h:73-136) -> engine keywords
_ROUTE_TEXT_MATCHING = {
    "starts with": "starts_with", "ends with": "ends_with",
    "contains": "contains", "equals": "equals",
    "matches regex": "matches_regex", "contains regex": "contains_regex",
}
_ROUTE_TEXT_ROUTING = {
    "dynamic routing": "dynamic", "route on all": "all", "route on any": "any",
}


@processor("RouteText")
def _route_text(spark, df, props):
    routes = {k: v for k, v in props.items() if not k.startswith("_")}
    matching = str(props.get("_matching", "contains"))
    routing = str(props.get("_routing", "dynamic"))
    return ops.route_text(
        df,
        routes,
        matching=_ROUTE_TEXT_MATCHING.get(matching.lower(), matching),
        routing=_ROUTE_TEXT_ROUTING.get(routing.lower(), routing),
        ignore_case=str(props.get("_ignore_case", "false")).lower() == "true",
        trim_whitespace=str(props.get("_trim", "true")).lower() == "true",
        grouping_regex=props.get("_grouping_regex"),
    )


@processor("ExtractText")
def _extract_text(spark, df, props):
    return _one(ops.extract_text(df, props["attribute"], props["regex"]))


@processor("EvaluateJsonPath")
def _evaluate_json_path(spark, df, props):
    dest = props.pop("destination", "attribute")
    return _one(ops.evaluate_json_path(df, props, destination=dest))


@processor("HashContent")
def _hash_content(spark, df, props):
    return _one(
        ops.hash_content(df, props.get("attribute", "hash.value"), props.get("algorithm", "SHA256"))
    )


@processor("AttributesToJSON")
def _attributes_to_json(spark, df, props):
    return _one(
        ops.attributes_to_json(
            df,
            attributes_list=props.get("attributes_list"),
            attributes_regex=props.get("attributes_regex"),
            destination=props.get("destination", "content"),
        )
    )


@processor("ReplaceText")
def _replace_text(spark, df, props):
    return _one(
        ops.replace_text(
            df,
            strategy=props.get("replacement_strategy", "regex_replace"),
            search=props.get("search_value"),
            replacement=props.get("replacement_value", ""),
            mode=props.get("evaluation_mode", "entire_text"),
        )
    )


@processor("SplitText")
def _split_text(spark, df, props):
    return _one(
        ops.split_text(
            df,
            line_split_count=int(props["line_split_count"]),
            header_line_count=int(props.get("header_line_count", 0)),
        )
    )


@processor("MergeContent")
def _merge_content(spark, df, props):
    if props.get("merge_strategy", "defragment") == "defragment":
        return _one(ops.merge_content_defragment(df, demarcator=props.get("demarcator", "\n")))
    return _one(
        ops.merge_content_bin_packing(
            df,
            max_entries=int(props.get("max_entries", 1000)),
            correlation_attribute=props.get("correlation_attribute"),
            demarcator=props.get("demarcator", "\n"),
        )
    )


@processor("RetryFlowFile")
def _retry(spark, df, props):
    return ops.retry_flow_file(df, max_retries=int(props.get("max_retries", 3)))


@processor("LogAttribute")
def _log_attribute(spark, df, props):
    return _one(ops.log_attribute(df))


@processor("AppendHostInfo")
def _append_host_info(spark, df, props):
    return _one(
        ops.append_host_info(
            df,
            hostname_attr=props.get("hostname_attr", "source.hostname"),
            ip_attr=props.get("ip_attr", "source.ipv4"),
        )
    )


@processor("SplitContent")
def _split_content(spark, df, props):
    return _one(
        ops.split_content(df, props["delimiter"], keep_delimiter=props.get("keep_delimiter", "none"))
    )


@processor("SegmentContent")
def _segment_content(spark, df, props):
    return _one(ops.segment_content(df, int(props["segment_size"])))


@processor("SplitJson")
def _split_json(spark, df, props):
    return _one(ops.split_json(df, element_schema=props.get("element_schema", "string")))


@processor("SplitRecord")
def _split_record(spark, df, props):
    return _one(ops.split_record(df, int(props["records_per_split"])))


@processor("DefragmentText")
def _defragment_text(spark, df, props):
    return _one(
        ops.defragment_text(
            df,
            message_start_pattern=props.get("message_start_pattern"),
            message_end_pattern=props.get("message_end_pattern"),
        )
    )


@processor("CompressContent")
def _compress_content(spark, df, props):
    """CompressContent (CompressContent.cpp:68): compress/decompress
    the content column; ``fmt: auto`` sniffs the codec on decompress."""
    return _one(
        ops.compress_content(
            df,
            mode=props.get("mode", "compress"),
            fmt=props.get("fmt", "gzip"),
            update_mime=bool(props.get("update_mime", False)),
        )
    )


@processor("ConvertRecord")
def _convert_record(spark, df, props):
    """ConvertRecord (ConvertRecord.cpp:36): JSON<->XML record format
    conversion with a declared record schema. With declared Record
    Reader / Record Set Writer controller services (the reference's
    wiring) the resolved service options drive the conversion; the
    format-string shorthand stays for service-less flows."""
    if "record_reader" in props and "record_writer" in props:
        from ..sources.convert_record import convert_record_with_services

        if not props.get("schema"):
            # the reference's readers infer per-record; Catalyst needs
            # a declared type — an engine requirement, said clearly
            raise FlowCompileError(
                "ConvertRecord via record services needs a 'schema' property "
                "(Spark DDL of one record, e.g. 'a INT, b STRING') — the "
                "engine's typed columnar path cannot infer per-FlowFile"
            )
        return _one(
            convert_record_with_services(
                df, props["record_reader"], props["record_writer"], props["schema"]
            )
        )
    from ..sources import convert_record

    return _one(
        convert_record(
            df,
            props["input_format"],
            props["output_format"],
            props["schema"],
            xml_row_tag=props.get("xml_row_tag", "record"),
        )
    )


@processor("ManipulateArchive")
def _manipulate_archive(spark, df, props):
    """ManipulateArchive (ManipulateArchive.cpp:95): touch/remove/copy/
    move one entry inside each row's archive; success/failure
    relationships."""
    return ops.manipulate_archive(
        df,
        props["operation"],
        target=props.get("target"),
        destination=props.get("destination"),
        before=props.get("before"),
        after=props.get("after"),
        fmt=props.get("fmt", "zip"),
        archive_col=props.get("archive_col", "archive"),
    )


@processor("InvokeHTTP")
def _invoke_http(spark, df, props):
    """InvokeHTTP as a flow processor: executor-side requests, 4-way
    status-class relationships (success/retry/no_retry/failure) like
    the reference's relationship set (InvokeHTTP.cpp:382-404). A
    ``session_factory`` property (dict configs only — not expressible
    in YAML) injects a fake transport for tests; declared SSL Context /
    Proxy Configuration services resolve into the transport otherwise."""
    from ..streaming.sinks import build_http_session_factory, invoke_http, route_invoke_http

    factory = props.get("session_factory") or build_http_session_factory(
        props.get("ssl_context"), props.get("proxy")
    )
    sent = invoke_http(
        df,
        props["url"],
        method=props.get("method", "POST"),
        content_col=props.get("content_col", "content"),
        headers=props.get("headers"),
        session_factory=factory,
    )
    return route_invoke_http(
        sent, allow_streaming=bool(props.get("allow_streaming", False))
    )


@processor("PutSplunkHTTP")
def _put_splunk_http(spark, df, props):
    """PutSplunkHTTP as a flow processor: HEC put with per-row status
    and ackId columns (PutSplunkHTTP.cpp:47-93); chain
    QuerySplunkIndexingStatus downstream for ack polling."""
    from ..streaming.adapters import put_splunk_http

    sent = put_splunk_http(
        df,
        props["url"],
        props.get("token", ""),
        content_col=props.get("content_col", "content"),
        source_type=props.get("source_type"),
        source=props.get("source"),
        host=props.get("host"),
        index=props.get("index"),
        session_factory=props.get("session_factory"),
    )
    ok = F.col("splunk_status_code").between(200, 299)
    return {"success": sent.filter(ok), "failure": sent.filter(~ok)}


@processor("FileStreamSource")
def _file_stream_source(spark, df, props):
    """Streaming GetFile/ListFile: readStream over a directory. The
    rest of the flow composes identically on the stream."""
    from ..streaming.sources import file_stream

    return _one(
        file_stream(
            spark,
            props["path"],
            props["schema"],
            props.get("format", "parquet"),
            max_files_per_trigger=props.get("max_files_per_trigger"),
        )
    )


# ---------------------------------------------------------------------------
# sources / transforms over the rest of the engine surface
# (round 4: every implemented operator is nameable from a flow config)
# ---------------------------------------------------------------------------


def _empty(spark, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


@processor("ListFile")
def _list_file(spark, df, props):
    """ListFile (ListFile.cpp:92-118): incremental watermark listing."""
    from ..sources import ListFileState, list_file

    state = ListFileState(props["state_path"]) if props.get("state_path") else None
    out = list_file(spark, props["pattern"], state, min_size=int(props.get("min_size", 0)))
    if out is None:
        out = _empty(spark, "path string, filename string, size long, mtime double")
    return _one(out)


@processor("FetchFile")
def _fetch_file(spark, df, props):
    """FetchFile (FetchFile.cpp:118): executor-side content fetch of
    the upstream listing; NULL content routes to failure."""
    from ..sources import fetch_file

    fetched = fetch_file(
        spark, df, path_col=props.get("path_col", "path"), as_text=props.get("as_text", True)
    )
    if not fetched.isStreaming:
        # one read per path: consuming both relationships must not
        # re-run the fetch (a path readable in one pass and not the
        # other would land in both frames or neither)
        fetched = fetched.localCheckpoint(eager=True)
    ok = F.col("content").isNotNull()
    return {"success": fetched.filter(ok), "failure": fetched.filter(~ok)}


@processor("TailFile")
def _tail_file(spark, df, props):
    """TailFile batch poll (TailFile.cpp:582): delta since the
    persisted (position, checksum) state."""
    from ..sources import TailFile

    out = TailFile(
        props["pattern"],
        props["state_path"],
        delimiter=props.get("delimiter", "\n"),
        rolling_pattern=props.get("Rolling Filename Pattern", "${filename}.*"),
    ).poll(spark)
    if out is None:
        out = _empty(spark, "file string, position long, content string")
    return _one(out)


@processor("TailFileStream")
def _tail_file_stream(spark, df, props):
    """TailFile as the native streaming source (offsets = tail state).

    Lifts to FlowFiles by default (r6) — the reference's TailFile emits
    FlowFiles with absolute.path/filename attributes (TailFile.cpp:661),
    and downstream flow processors (RouteText, UpdateAttribute, ...)
    expect the (uuid, content, attributes) shape. as_flowfiles=false
    keeps the raw (file, position, content) rows."""
    from ..sources import register_tailfile

    register_tailfile(spark)
    reader = spark.readStream.format("tailfile").option("pattern", props["pattern"])
    if props.get("delimiter"):
        reader = reader.option("delimiter", props["delimiter"])
    if props.get("Rolling Filename Pattern"):
        reader = reader.option("rollingpattern", props["Rolling Filename Pattern"])
    raw = reader.load()
    if not props.get("as_flowfiles", True):
        return _one(raw)
    return _one(
        raw.select(
            F.expr("uuid()").alias("uuid"),
            F.col("content"),
            F.create_map(
                F.lit("absolute.path"), F.col("file"),
                F.lit("filename"), F.element_at(F.split(F.col("file"), "/"), -1),
                F.lit("tailfile.position"), F.col("position").cast("string"),
            ).alias("attributes"),
        )
    )


@processor("ConsumeKafka")
def _consume_kafka(spark, df, props):
    """ConsumeKafka (ConsumeKafka.h:42): kafka readStream lifted to
    FlowFiles. Transport selection (r8): ``transport: wire`` (or no
    connector jars on the classpath) uses the stdlib kafkawire source
    — the full flow runs without the connector; the default ``auto``
    prefers the connector when its classes are present."""
    from ..streaming.records import kafka_records_to_flowfiles
    from ..streaming.sources import kafka_source, kafka_wire_source

    transport = str(props.get("transport", "auto")).lower()
    if transport == "auto":
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.spark.sql.kafka010.KafkaSourceProvider"
            )
            transport = "connector"
        except Exception:  # noqa: BLE001 — jars absent
            transport = "wire"
    if transport == "wire":
        raw = kafka_wire_source(
            spark,
            {
                "Kafka Brokers": props["brokers"],
                "Topic Names": props.get("topics"),
                "Offset Reset": props.get("offset_reset", "latest"),
            },
        )
    else:
        raw = kafka_source(
            spark,
            props["brokers"],
            topics=props.get("topics"),
            topic_pattern=props.get("topic_pattern"),
            group_id=props.get("group_id"),
            offset_reset=props.get("offset_reset", "latest"),
        )
    return _one(kafka_records_to_flowfiles(raw))


@processor("ExecuteSQL")
def _execute_sql(spark, df, props):
    """ExecuteSQL (ExecuteSQL.cpp:41): rowset -> JSON-lines FlowFiles."""
    from ..sources import execute_sql

    return _one(execute_sql(spark, props["query"], int(props.get("max_rows_per_flowfile", 0))))


@processor("QueryDatabaseTable")
def _query_database_table(spark, df, props):
    """QueryDatabaseTable (QueryDatabaseTable.cpp:80-116): incremental
    max-value scan over a parquet or JDBC table."""
    from ..sources import IncrementalTableScan, jdbc_table_reader, parquet_table_reader

    if props.get("jdbc_url"):
        reader = jdbc_table_reader(props["jdbc_url"], props["table"])
    else:
        reader = parquet_table_reader(props["path"])
    cols = props["max_value_columns"]
    cols = [c.strip() for c in cols.split(",")] if isinstance(cols, str) else list(cols)
    scan = IncrementalTableScan(reader, cols, props["state_path"])
    out = scan.poll(spark)
    return _one(out if out is not None else reader(spark).limit(0))


@processor("ExecuteProcess")
def _execute_process(spark, df, props):
    """ExecuteProcess (ExecuteProcess.cpp:62): stdout -> FlowFiles."""
    from ..sources import execute_process

    args = props.get("arguments")
    if isinstance(args, str):
        args = args.split()
    return _one(
        execute_process(
            spark,
            props["command"],
            arguments=args,
            working_dir=props.get("working_dir"),
            batch_lines=int(props["batch_lines"]) if props.get("batch_lines") else None,
        )
    )


@processor("ListSFTP")
def _list_sftp(spark, df, props):
    """ListSFTP/ListSmb (ListSFTP.cpp:781): watermark listing through
    an injected remote client (dict-config only)."""
    from ..sources import ListFileState, list_remote

    state = ListFileState(props["state_path"]) if props.get("state_path") else None
    out = list_remote(
        spark,
        props["client"],
        props["directory"],
        state=state,
        name_filter=props.get("name_filter"),
    )
    if out is None:
        out = _empty(spark, "path string, filename string, size long, mtime double")
    return _one(out)


@processor("FetchSFTP")
def _fetch_sftp(spark, df, props):
    """FetchSFTP/FetchSmb (FetchSFTP.cpp:57): executor-side remote
    fetch with the reference's typed failure relationships."""
    from ..sources import fetch_remote, route_fetch_remote

    fetched = fetch_remote(
        df,
        props["client_factory"],
        path_col=props.get("path_col", "path"),
        as_text=props.get("as_text", True),
    )
    return route_fetch_remote(fetched)


@processor("GetCouchbaseKey")
def _get_couchbase_key(spark, df, props):
    """GetCouchbaseKey (GetCouchbaseKey.cpp:32): executor-side KV get.
    A declared CouchbaseClusterService resolves into the client
    factory when no explicit one is injected."""
    from ..sources import get_kv_key

    factory = props.get("client_factory")
    if factory is None and "couchbase" in props:
        from ..sources.kv import couchbase_client_factory

        svc = props["couchbase"]
        factory = couchbase_client_factory(
            svc["connection_string"],
            props.get("bucket", "default"),
            username=svc.get("username"),
            password=svc.get("password"),
        )
    out = get_kv_key(
        df,
        factory,
        key_col=props.get("key_col", "key"),
        value_col=props.get("value_col", "content"),
    )
    if not out.isStreaming:
        out = out.localCheckpoint(eager=True)  # one KV get per key across relationships
    ok = F.col("kv_status") == "success"
    return {"success": out.filter(ok), "failure": out.filter(~ok)}


@processor("InputPort")
def _input_port(spark, df, props):
    """Site-to-Site input port: tail the channel as a file stream
    (own checkpoint = own replay cursor) or read it as a batch."""
    from .ports import input_port

    return _one(
        input_port(
            spark,
            props["channel"],
            props["schema"],
            streaming=props.get("streaming", True),
            max_files_per_trigger=props.get("max_files_per_trigger"),
        )
    )


@processor("CollectKubernetesPodMetrics")
def _collect_k8s_pod_metrics(spark, df, props):
    """CollectKubernetesPodMetrics (CollectKubernetesPodMetrics.cpp:34):
    filtered podMetricsList JSON as one FlowFile; ``api_client`` is
    injected (dict-config only), like the reference's controller
    service."""
    from ..sources import collect_pod_metrics

    svc = props.get("k8s_controller") or {}
    return _one(
        collect_pod_metrics(
            spark,
            props["api_client"],
            namespace_filter=props.get("namespace_filter", svc.get("namespace_filter")),
            pod_name_filter=props.get("pod_name_filter", svc.get("pod_filter")),
            container_name_filter=props.get(
                "container_name_filter", svc.get("container_filter")
            ),
        )
    )


@processor("ProcFsMonitor")
def _procfs_monitor(spark, df, props):
    """ProcFsMonitor (extensions/procfs/processors/ProcFsMonitor.cpp:72):
    one JSON telemetry FlowFile per trigger; relative mode needs
    ``state_path``."""
    from ..sources import ProcFs, procfs_monitor

    pf = ProcFs(props["root"]) if props.get("root") else None
    out = procfs_monitor(
        spark,
        procfs=pf,
        relativeness=props.get("relativeness", "absolute"),
        state_path=props.get("state_path"),
    )
    if out is None:
        out = _empty(spark, "uuid string, content string, attributes map<string,string>")
    return _one(out)


@processor("FetchOPC")
def _fetch_opc(spark, df, props):
    """FetchOPC (fetchopc.cpp:60): traverse from a root node, one
    FlowFile per variable; lazy-state skip via ``state_path``."""
    from ..sources import OpcLazyState, fetch_opc

    state = OpcLazyState(props["state_path"]) if props.get("state_path") else None
    out = fetch_opc(
        spark,
        props["client"],
        props["node_id"],
        max_depth=int(props.get("max_depth", 0)),
        lazy=props.get("lazy", "off"),
        state=state,
    )
    if out is None:
        out = _empty(spark, "uuid string, content string, attributes map<string,string>")
    return _one(out)


@processor("PutOPC")
def _put_opc(spark, df, props):
    """PutOPC (putopc.cpp:276): update-or-create the target node per
    row, executor-side."""
    from ..sources import put_opc

    return put_opc(
        df,
        props["client_factory"],
        props["parent_node_id"],
        target_attr=props.get("target_attr", "targetnodeid"),
        content_col=props.get("content_col", "content"),
    )


@processor("FetchModbusTcp")
def _fetch_modbus_tcp(spark, df, props):
    """FetchModbusTcp (FetchModbusTcp.cpp:152): read the address map
    per row, record lands as JSON in ``modbus_record``."""
    from ..sources import fetch_modbus_tcp

    return fetch_modbus_tcp(
        df,
        props["client_factory"],
        props["address_map"],
        unit_id=int(props.get("unit_id", 1)),
    )


@processor("ParseSyslog")
def _parse_syslog(spark, df, props):
    """ListenSyslog's parse stage (ListenSyslog.cpp:303): RFC5424 /
    RFC3164 fields + syslog.valid flag as columns."""
    from ..streaming.records import parse_syslog

    return _one(parse_syslog(df, content_col=props.get("content_col", "content")))


@processor("LocalPort")
def _local_port(spark, df, props):
    """Group-level Input/Output Port inside one flow (FlowSchema
    ``Input Ports``/``Output Ports``): a named pass-through edge —
    the implicit-funnel union upstream already merged its inputs.
    Cross-FLOW Site-to-Site ports are plans/ports.py."""
    if df is None:
        raise FlowCompileError("LocalPort has no incoming connection")
    return _one(df)


@processor("Funnel")
def _funnel(spark, df, props):
    """Funnel (Funnel.h:27): explicit union node — the compiler already
    unions multi-input connections; this names the merge point."""
    return _one(df)


@processor("ApplyTemplate")
def _apply_template(spark, df, props):
    """ApplyTemplate (ApplyTemplate.cpp:33): mustache-style content."""
    from ..functions.templates import apply_template

    return _one(apply_template(df, props["template"]))


@processor("JoltTransformJSON")
def _jolt_transform_json(spark, df, props):
    """JoltTransformJSON (JoltTransformJSON.cpp:30), Catalyst jolt-lite
    (shift/default/remove dot-paths compile to get_json_object)."""
    from ..functions.templates import jolt_transform

    return _one(
        jolt_transform(
            df,
            shift=props.get("shift"),
            default=props.get("default"),
            remove=props.get("remove"),
            content_col=props.get("content_col", "content"),
        )
    )


@processor("ExecuteScript")
def _execute_script(spark, df, props):
    """ExecuteScript / ExecutePythonProcessor (ExecuteScript.cpp:40):
    Arrow-batched record transform; ``transform`` is a Python callable
    (dict-config only, like InvokeHTTP's session_factory)."""
    from ..functions.record_transform import apply_record_transform

    return _one(apply_record_transform(df, props["transform"], props["output_schema"]))


@processor("AnalyzeText")
def _analyze_text(spark, df, props):
    """Training-data text analysis: quality features + language-ID +
    BPE-ish token count + fingerprint as columns (analytics pack)."""
    from ..analytics import analyze_documents

    return _one(analyze_documents(df, text_col=props.get("text_col", "content")))


@processor("DeduplicateText")
def _deduplicate_text(spark, df, props):
    """Dedup stage over the flow: strategy in {exact, minhash,
    simhash, ngram_jaccard} (analytics.dedup; LSH-bucketed, never
    all-pairs)."""
    from ..analytics import exact_dedup, minhash_dedup, ngram_jaccard_dedup, simhash_dedup

    strategy = props.get("strategy", "exact")
    content = props.get("content_col", "content")
    id_col = props.get("id_col", "uuid")
    if df.isStreaming:
        # dedup-on-ingest: watermark-bounded seen-set, first arrival
        # wins (batch strategies need the whole corpus)
        from ..analytics.dedup import exact_dedup_stream

        if strategy != "exact":
            raise FlowCompileError(f"streaming DeduplicateText supports strategy 'exact', got {strategy!r}")
        return _one(
            exact_dedup_stream(
                df,
                content_col=content,
                ts_col=props.get("ts_col", "ts"),
                watermark=props.get("watermark", "1 hour"),
            )
        )
    if strategy == "exact":
        out = exact_dedup(df, content, id_col)
    elif strategy == "minhash":
        out = minhash_dedup(df, content, id_col)
    elif strategy == "simhash":
        out = simhash_dedup(df, content, id_col)
    elif strategy == "ngram_jaccard":
        out = ngram_jaccard_dedup(df, content, id_col, threshold=float(props.get("threshold", 0.8)))
    else:
        raise FlowCompileError(f"unknown dedup strategy {strategy!r}")
    return _one(out)


@processor("DeduplicateEmbeddings")
def _deduplicate_embeddings(spark, df, props):
    """Embedding near-dup removal (SRP-LSH + exact cosine)."""
    from ..analytics import embedding_dedup

    return _one(
        embedding_dedup(
            df,
            embedding_col=props.get("embedding_col", "embedding"),
            id_col=props.get("id_col", "vec_id"),
            threshold=float(props.get("threshold", 0.95)),
        )
    )


@processor("CosineTopK")
def _cosine_topk(spark, df, props):
    """Brute-force cosine top-k vs one query vector (broadcast into
    the plan; TakeOrderedAndProject, no global sort)."""
    from ..analytics import cosine_topk

    return _one(
        cosine_topk(
            df,
            [float(x) for x in props["query_vec"]],
            k=int(props.get("k", 10)),
            embedding_col=props.get("embedding_col", "embedding"),
            id_col=props.get("id_col", "vec_id"),
        )
    )


@processor("RunLlmInference")
def _run_llm_inference(spark, df, props):
    """RunLlamaCppInference (RunLlamaCppInference.cpp:34): batched
    prompt -> completion; default backend is the deterministic fake
    (llama.cpp import-gated via ``generate_fn``)."""
    from ..analytics import run_llm_inference

    return _one(
        run_llm_inference(
            df,
            props["prompt_template"],
            generate_fn=props.get("generate_fn"),
            batch_size=int(props.get("batch_size", 32)),
        )
    )


# ---------------------------------------------------------------------------
# object-store CRUD: one Hadoop-FS implementation registered under every
# provider name the reference documents (ListS3.cpp / FetchS3Object.cpp /
# PutS3Object.cpp / DeleteS3Object.cpp and the Azure/GCS families) —
# same code, scheme comes from the URL (s3a://, abfss://, gs://, file://)
# ---------------------------------------------------------------------------


def _objectstore_list(spark, df, props):
    from ..sources import list_object_store

    return _one(
        list_object_store(
            spark,
            props["url"],
            glob_filter=props.get("glob_filter"),
            min_age_ms=int(props.get("min_age_ms", 0)),
        )
    )


def _objectstore_fetch(spark, df, props):
    from ..sources import fetch_object_store

    return _one(
        fetch_object_store(
            spark,
            props["url"],
            glob_filter=props.get("glob_filter"),
            as_text=props.get("as_text", True),
        )
    )


def _objectstore_delete(spark, df, props):
    from ..sources import delete_object_store

    deleted = delete_object_store(spark, props["url"], recursive=bool(props.get("recursive", False)))
    if df is None:
        df = spark.createDataFrame([(props["url"], deleted)], "path string, deleted boolean")
    return _one(df)


for _name in ("ListS3", "ListAzureBlobStorage", "ListAzureDataLakeStorage", "ListGCSBucket"):
    _PROCESSORS[_name] = _objectstore_list
for _name in ("FetchS3Object", "FetchAzureBlobStorage", "FetchAzureDataLakeStorage", "FetchGCSObject"):
    _PROCESSORS[_name] = _objectstore_fetch
for _name in ("DeleteS3Object", "DeleteAzureBlobStorage", "DeleteAzureDataLakeStorage", "DeleteGCSObject"):
    _PROCESSORS[_name] = _objectstore_delete


# ---------------------------------------------------------------------------
# reference-exact aliases for processors registered under engine names
# ---------------------------------------------------------------------------


@processor("AttributeRollingWindow")
def _attribute_rolling_window(spark, df, props):
    """AttributeRollingWindow (AttributeRollingWindow.cpp:31): rolling
    aggregate of a numeric attribute over a time or count window."""
    from ..operators import attribute_rolling_window_count, attribute_rolling_window_time

    value_col = props.get("value_col", "value")
    if props.get("window_seconds"):
        out = attribute_rolling_window_time(
            df, value_col, ts_col=props.get("ts_col", "ts"),
            window_seconds=int(props["window_seconds"]),
        )
    else:
        out = attribute_rolling_window_count(
            df, value_col, order_col=props.get("ts_col", "ts"),
            window_length=int(props.get("window_count", 10)),
        )
    return _one(out)


@processor("GetTCP")
def _get_tcp(spark, df, props):
    """GetTCP (GetTCP.cpp:40): client-mode socket stream."""
    from ..streaming.sources import socket_source

    return _one(socket_source(spark, props["host"], int(props["port"])))


def _native_stream_source(fmt: str, register_fn_name: str):
    def handler(spark, df, props, _fmt=fmt, _reg=register_fn_name):
        from .. import sources as _src

        getattr(_src, _reg)(spark)
        reader = spark.readStream.format(_fmt)
        for k, v in props.items():
            reader = reader.option(k, v)
        return _one(reader.load())

    return handler


# ListenUDP/TCP/HTTP + ConsumeMQTT/Journald are native Python Data
# Sources (sources/datasource.py); ListenSyslog = ListenUDP + the
# ParseSyslog stage downstream (the reference couples them in one
# processor; the flow names both stages)
_PROCESSORS["ListenUDP"] = _native_stream_source("udplisten", "register_listeners")
_PROCESSORS["ListenTCP"] = _native_stream_source("tcplisten", "register_listeners")
_PROCESSORS["ListenHTTP"] = _native_stream_source("httplisten", "register_listeners")
_PROCESSORS["ListenSyslog"] = _native_stream_source("udplisten", "register_listeners")
_PROCESSORS["ConsumeMQTT"] = _native_stream_source("mqttlisten", "register_listeners")
_PROCESSORS["ConsumeJournald"] = _native_stream_source("journald", "register_listeners")


@processor("QuerySplunkIndexingStatus")
def _query_splunk_status(spark, df, props):
    """QuerySplunkIndexingStatus (QuerySplunkIndexingStatus.cpp:39):
    poll HEC ack ids; acknowledged/undetermined relationships."""
    from ..streaming.adapters import query_splunk_indexing_status

    polled = query_splunk_indexing_status(
        df,
        props["url"],
        props.get("token", ""),
        session_factory=props.get("session_factory"),
    )
    if not polled.isStreaming:
        polled = polled.localCheckpoint(eager=True)  # one ack poll, both frames read it
    acked = F.col("splunk_acknowledged")
    return {"acknowledged": polled.filter(acked), "undetermined": polled.filter(~acked)}


@processor("FocusArchiveEntry")
def _focus_archive_entry(spark, df, props):
    return _one(ops.focus_archive_entry(df, props["target"], fmt=props.get("fmt", "zip")))


@processor("UnfocusArchiveEntry")
def _unfocus_archive_entry(spark, df, props):
    return _one(ops.unfocus_archive_entry(df, props["target"], fmt=props.get("fmt", "zip")))


# reference class names for processors registered under engine names
_PROCESSORS["FetchOPCProcessor"] = _PROCESSORS["FetchOPC"]
_PROCESSORS["PutOPCProcessor"] = _PROCESSORS["PutOPC"]
_PROCESSORS["FetchSmb"] = _PROCESSORS["FetchSFTP"]
_PROCESSORS["ListSmb"] = _PROCESSORS["ListSFTP"]
_PROCESSORS["RunLlamaCppInference"] = _PROCESSORS["RunLlmInference"]


# ---------------------------------------------------------------------------
# sinks: one definition per type, for a batch frame and a stream alike.
# ``define(df, props)`` returns one of the two sink shapes (SURVEY §2.2):
#   - a format sink: ``df.write`` (saved at compile) or an unstarted
#     ``df.writeStream``, both built by _format_writer;
#   - a handler ``(batch_df, epoch_id)``: run at compile with epoch 0,
#     or wrapped in foreachBatch, whose micro-batch is the exactly-once
#     barrier.
# ---------------------------------------------------------------------------

SinkDef = Callable[[DataFrame, dict[str, Any]], Any]
_SINKS: dict[str, SinkDef] = {}


def sink(*names: str):
    """Register a sink definition under each of ``names``: a processor
    that writes a batch frame at compile, and the sink-table entry
    compile_flow turns into an unstarted writer for a stream."""

    def deco(define: SinkDef) -> SinkDef:
        def write_batch(spark, df, props):
            out = define(df, props)
            if callable(out):
                out(df, 0)
            elif out is not None:
                out.save()
            return _one(df)

        for name in names:
            _SINKS[name] = define
            processor(name)(write_batch)
        return define

    return deco


def _format_writer(
    df: DataFrame, fmt: str, path: str | None = None, mode: str | None = None,
    partition_by: list[str] | None = None,
):
    """A format sink's writer: ``df.write`` in the batch save ``mode``,
    or an unstarted ``df.writeStream`` (for a file format, Spark's file
    sink, whose ``_spark_metadata`` log is the exactly-once commit)."""
    writer = df.writeStream.format(fmt) if df.isStreaming else df.write.format(fmt).mode(mode)
    if path is not None:
        writer = writer.option("path", path)
    return writer.partitionBy(*partition_by) if partition_by else writer


def _stream_writer(out, df: DataFrame, props: dict) -> DataStreamWriter:
    """A sink's unstarted writer over the stream ``df``, with its
    checkpoint and trigger cadence."""
    writer = df.writeStream.foreachBatch(out) if callable(out) else out
    if props.get("checkpoint"):
        writer = writer.option("checkpointLocation", props["checkpoint"])
    if props.get("trigger_period"):
        # reference 'scheduling period' (TIMER_DRIVEN) on the terminal
        # processor -> micro-batch trigger cadence
        from ..streaming.sources import _parse_time_period_ms

        ms = _parse_time_period_ms(props["trigger_period"])
        writer = writer.trigger(processingTime=f"{ms} milliseconds")
    return writer


@sink("MemorySink")
def _memory_sink(df, props):
    """Test/debug sink for streaming flows: results land in a temp view
    named by ``name``. Nothing to write for a batch frame."""
    if df.isStreaming:
        return (
            df.writeStream.format("memory")
            .queryName(props["name"])
            .outputMode(props.get("output_mode", "append"))
        )


@sink("PutFile")
def _put_file(df, props):
    """PutFile (PutFile.cpp:75). Conflict resolution maps to batch save
    modes."""
    mode = {"fail": "errorifexists", "replace": "overwrite", "ignore": "ignore"}.get(
        props.get("conflict_resolution", "replace"), "overwrite"
    )
    return _format_writer(df, props.get("format", "parquet"), props["directory"], mode)


@sink("PutS3Object", "PutAzureBlobStorage", "PutAzureDataLakeStorage", "PutGCSObject")
def _objectstore_put(df, props):
    """Put* (PutS3Object.cpp:45): the frame as a dataset under the
    target prefix; ``partition_by`` gives one directory per value.
    ``sources.objectstore.put_object_store`` saves this writer outside
    a flow."""
    return _format_writer(
        df, props.get("format", "parquet"), props["url"], props.get("mode", "append"),
        props.get("partition_by"),
    )


@sink("OutputPort")
def _output_port(df, props):
    """Site-to-Site output port (RemoteProcessorGroupPort.h): a batch
    frame commits into the channel with an atomic rename, a stream
    gets the port's exactly-once parquet sink (plans/ports.py)."""
    from .ports import output_port, output_port_writer

    if "__rpg_unconfigured__" in props:
        raise FlowCompileError(props["__rpg_unconfigured__"])
    if df.isStreaming:
        return output_port_writer(df, props["channel"], props.get("checkpoint"))
    return lambda batch, _epoch: output_port(batch, props["channel"])


@sink("PublishKafka")
def _publish_kafka(df, props):
    """PublishKafka (PublishKafka.cpp:60): FlowFiles -> kafka records.
    ``transport: wire`` produces executor-side over the stdlib wire
    client (murmur2 key placement, no connector jars); the default is
    the connector's kafka sink."""
    from ..streaming.records import flowfiles_to_kafka_records

    topic = props.get("topic")
    if str(props.get("transport", "connector")).lower() == "wire":
        from ..sources.kafka_wire import publish_kafka_wire_handler

        produce = publish_kafka_wire_handler(props["brokers"])
        return lambda batch, _epoch: (
            flowfiles_to_kafka_records(batch, topic=topic).foreachPartition(produce)
        )
    records = flowfiles_to_kafka_records(df, topic=topic)
    return _format_writer(records, "kafka").option("kafka.bootstrap.servers", props["brokers"])


@sink("PutSQL")
def _put_sql(df, props):
    """PutSQL (PutSQL.cpp:37): a write to a catalog table, or to any
    format/path/JDBC target through the other properties as writer
    options."""
    from ..sources import put_sql

    table, mode = props.get("table", ""), props.get("mode", "append")
    extra = {k: v for k, v in props.items() if k not in ("table", "mode", "checkpoint")}
    return lambda batch, _epoch: put_sql(batch, table, mode=mode, **extra)


@sink("PutTCP")
def _put_tcp(df, props):
    from ..streaming.sinks import put_tcp_handler

    return put_tcp_handler(
        props["host"],
        int(props["port"]),
        content_col=props.get("content_col", "content"),
        delimiter=props.get("delimiter", "\n"),
    )


@sink("PutUDP")
def _put_udp(df, props):
    from ..streaming.sinks import put_udp_handler

    return put_udp_handler(props["host"], int(props["port"]), content_col=props.get("content_col", "content"))


# gRPC Loki variant: same batching/labels contract, injected transport
@sink("PushGrafanaLokiREST", "PushGrafanaLokiGrpc")
def _push_loki(df, props):
    from ..streaming.adapters import push_grafana_loki_handler

    return push_grafana_loki_handler(
        props["url"],
        props.get("stream_labels", {"job": "nifi-minifi-cpp-spark"}),
        content_col=props.get("content_col", "content"),
        batch_size=int(props.get("batch_size", 100)),
        session_factory=props.get("session_factory"),
    )


@sink("PublishMQTT")
def _publish_mqtt(df, props):
    from ..streaming.adapters import publish_mqtt_handler

    return publish_mqtt_handler(
        props.get("broker", ""),
        props["topic"],
        content_col=props.get("content_col", "content"),
        qos=int(props.get("qos", 0)),
        retain=bool(props.get("retain", False)),
        client_factory=props.get("client_factory"),
    )


@sink("PutKinesisStream")
def _put_kinesis(df, props):
    from ..streaming.adapters import put_kinesis_handler

    return put_kinesis_handler(
        props["stream_name"],
        content_col=props.get("content_col", "content"),
        partition_key_col=props.get("partition_key_col"),
        client_factory=props.get("client_factory"),
    )


@sink("PostElasticsearch")
def _post_elasticsearch(df, props):
    from ..streaming.adapters import post_elasticsearch_handler

    return post_elasticsearch_handler(
        props["hosts"],
        action_col=props.get("action_col", "action"),
        index_col=props.get("index_col", "index"),
        id_col=props.get("id_col"),
        doc_col=props.get("doc_col", "doc"),
        session_factory=props.get("session_factory"),
    )


@sink("PutCouchbaseKey")
def _put_kv(df, props):
    from ..sources import put_kv_key

    return put_kv_key(
        props["client_factory"],
        key_col=props.get("key_col", "key"),
        value_col=props.get("value_col", "content"),
    )


@sink("PutSFTP", "PutSmb")
def _put_remote(df, props):
    from ..sources import put_remote

    return put_remote(
        None,
        props["client_factory"],
        path_col=props.get("path_col", "path"),
        content_col=props.get("content_col", "content"),
    )


# ---------------------------------------------------------------------------
# the compiler
# ---------------------------------------------------------------------------


@dataclass
class CompiledFlow:
    """Outputs of every (processor, relationship) edge, and the
    unstarted writer of each sink whose input is a stream."""

    outputs: dict[str, dict[str, DataFrame]]
    streaming_sinks: dict[str, DataStreamWriter] = field(default_factory=dict)
    services: "object | None" = None  # ServiceRegistry of the compiled flow
    provenance_reporting: dict | None = None
    _proc_types: dict[str, str] = field(default_factory=dict)

    def df(self, processor_id: str, relationship: str = SUCCESS) -> DataFrame:
        return self.outputs[processor_id][relationship]

    def provenance(self) -> DataFrame:
        """Provenance event stream of the compiled flow — the engine's
        SiteToSiteProvenanceReportingTask analogue
        (/root/reference/extensions/standard-processors/.../
        provenance reporting; events enum Provenance.h:45-135). One
        slim row per (FlowFile, processor, relationship): the event
        type derives from the processor's category, the component is
        the processor id. Lazy — evaluating it runs the flow's lineage
        like any other branch. Publish it with plans.ports.output_port
        to the channel configured in ``Provenance Reporting``."""
        from functools import reduce

        from ..provenance import event_for

        frames = []
        for pid, rels in self.outputs.items():
            ptype = self._proc_types.get(pid, "")
            for rel, df in rels.items():
                if df is None or df.isStreaming:
                    continue
                uuid_col = (
                    F.col("uuid") if "uuid" in df.columns else F.lit(None).cast("string")
                )
                frames.append(
                    df.select(
                        F.lit(event_for(ptype, rel)).alias("event"),
                        F.lit(pid).alias("component"),
                        F.lit(ptype).alias("component_type"),
                        F.lit(rel).alias("relationship"),
                        uuid_col.alias("uuid"),
                        F.current_timestamp().alias("ts"),
                    )
                )
        if not frames:
            raise FlowCompileError("flow has no batch outputs to report provenance for")
        return reduce(lambda a, b: a.unionByName(b), frames)


class FlowController:
    """Deploy/stop/hot-swap flows (FlowController::load/start +
    C2 applyConfiguration parity, SURVEY §3.1/§3.4:
    /root/reference/libminifi/src/FlowController.cpp:110-171).

    A flow's batch sinks write when it compiles; its streaming sinks
    compile to unstarted writers, which start() turns into the
    StreamingQuery handles managed here.
    """

    def __init__(self, spark: SparkSession, config: dict | str):
        self.spark = spark
        self.config = config
        self.flow: CompiledFlow | None = None
        self.queries: list = []

    def start(self) -> "FlowController":
        """Compile the flow, then start its streaming sinks' writers:
        all of them or, when one fails to start, none."""
        self.flow = compile_flow(self.spark, self.config)
        started = []
        try:
            for writer in self.flow.streaming_sinks.values():
                started.append(writer.start())
        except Exception:
            for q in started:
                q.stop()
            raise
        self.queries.extend(started)
        return self

    def await_quiesce(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries:
            q.stop()
        self.queries = []

    def apply_configuration(self, new_config: dict | str) -> "FlowController":
        """C2 hot-swap: stop the running flow, recompile the new
        payload, restart — rollback to the old config on failure."""
        old = self.config
        self.stop()
        try:
            self.config = new_config
            return self.start()
        except Exception:
            self.config = old
            self.start()
            raise


class FlowCompileError(ValueError):
    pass


# ---------------------------------------------------------------------------
# parameter contexts (#{param} substitution) and nested process groups
# ---------------------------------------------------------------------------

_PARAM_TOKEN = re.compile(r"(#+)\{([^{}]*)\}")
_PARAM_NAME_OK = re.compile(r"^[A-Za-z0-9\-_. ]+$")


def parameter_provider_contexts(config: dict) -> dict[str, dict[str, str]]:
    """Parameter providers -> generated parameter contexts.

    EnvironmentVariableParameterProvider
    (/root/reference/PARAMETER_PROVIDERS.md:22): fetches parameters
    from environment variables into the parameter context named by
    ``parameter_group_name`` (created if absent); inclusion strategy
    "include all" | "comma-separated" | "regular expression" with
    ``include_environment_variables`` as the list/pattern (the regex
    is a FULL match on the variable name, the reference's matcher).

    Config shape::

        parameter_providers:
          - type: EnvironmentVariableParameterProvider
            parameter_group_name: env-context
            environment_variable_inclusion_strategy: regular expression
            include_environment_variables: "HOME|USER|SPARK_.*"
    """
    import re as _re

    out: dict[str, dict[str, str]] = {}
    for prov in config.get("parameter_providers", []) or []:
        ptype = prov.get("type", "EnvironmentVariableParameterProvider")
        if ptype != "EnvironmentVariableParameterProvider":
            raise FlowCompileError(f"unknown parameter provider type {ptype!r}")
        group = prov.get("parameter_group_name")
        if not group:
            raise FlowCompileError(
                "EnvironmentVariableParameterProvider requires parameter_group_name"
            )
        strategy = str(
            prov.get("environment_variable_inclusion_strategy", "include all")
        ).lower().replace("-", " ").replace("_", " ")
        include = prov.get("include_environment_variables", "")
        env = dict(os.environ)
        if strategy == "include all":
            picked = env
        elif strategy == "comma separated":
            names = [n.strip() for n in str(include).split(",") if n.strip()]
            picked = {n: env[n] for n in names if n in env}
        elif strategy in ("regular expression", "regex"):
            rx = _re.compile(str(include))
            picked = {k: v for k, v in env.items() if rx.fullmatch(k)}
        else:
            raise FlowCompileError(
                f"unknown environment variable inclusion strategy {strategy!r}"
            )
        out.setdefault(group, {}).update(picked)
    return out


def parse_parameter_contexts(config: dict) -> dict[str, dict[str, str]]:
    """Named parameter contexts with inheritance
    (StructuredConfiguration.cpp:129-133; ParameterContext.cpp:34;
    cycle detection mirrors hasInheritanceCycle at
    StructuredConfiguration.cpp:148-158). Parameter providers populate
    their target context first; explicitly-declared parameters of the
    same name win over provided ones.

    Config shape::

        parameter_contexts:
          - name: common
            parameters: {dir: /data}          # or [{name:, value:}, ...]
          - name: prod
            inherited_parameter_contexts: [common]
            parameters: {env: prod}
    """
    raw = {}
    for group, params in parameter_provider_contexts(config).items():
        raw[group] = {"params": dict(params), "inherits": []}
    for ctx in config.get("parameter_contexts", []) or []:
        params = ctx.get("parameters") or {}
        if isinstance(params, list):
            params = {p["name"]: p["value"] for p in params}
        provided = raw.get(ctx["name"], {}).get("params", {})
        merged = dict(provided)  # provider-fetched first ...
        merged.update({str(k): str(v) for k, v in params.items()})  # ... declared win
        raw[ctx["name"]] = {
            "params": merged,
            "inherits": list(ctx.get("inherited_parameter_contexts", []) or []),
        }

    resolved: dict[str, dict[str, str]] = {}

    def resolve(name: str, stack: tuple[str, ...]) -> dict[str, str]:
        if name in stack:
            raise FlowCompileError(f"parameter context inheritance cycle at {name!r}")
        if name in resolved:
            return resolved[name]
        if name not in raw:
            raise FlowCompileError(f"unknown inherited parameter context {name!r}")
        merged: dict[str, str] = {}
        for parent in raw[name]["inherits"]:
            merged.update(resolve(parent, stack + (name,)))
        merged.update(raw[name]["params"])  # own params win, like the reference
        resolved[name] = merged
        return merged

    for name in raw:
        resolve(name, ())
    return resolved


def substitute_parameters(value: str, params: dict[str, str]) -> str:
    """``#{name}`` -> parameter value; ``##{...}`` escapes — each hash
    pair collapses to one literal hash, an odd trailing hash makes a
    token (ParameterTokenParserTest.cpp:31-103: ``##{t}`` is the
    literal ``#{t}``, ``###{t}`` is ``#`` + the value of ``t``).
    Unknown parameters and invalid names (charset [A-Za-z0-9-_. ])
    raise, matching the reference's parse errors."""

    def repl(m):
        hashes, name = m.group(1), m.group(2)
        lit = "#" * (len(hashes) // 2)
        if len(hashes) % 2 == 0:
            return lit + "{" + name + "}"
        if not name or not _PARAM_NAME_OK.match(name):
            raise FlowCompileError(f"invalid parameter name {name!r}")
        if name not in params:
            raise FlowCompileError(f"parameter {name!r} is not defined in the bound context")
        return lit + params[name]

    return _PARAM_TOKEN.sub(repl, value)


_VAR_TOKEN = re.compile(r"\$\{([A-Za-z0-9_.\-]+)\}")


def variable_registry(config: dict) -> dict[str, str]:
    """Custom config properties accessible as ``${name}`` in property
    values (EXPRESSIONS.md:149-159 'Variable Registry'): an optional
    whitelist restricts access, a blacklist removes entries, and any
    property with ``password`` in its name is never accessible."""
    props = {str(k): str(v) for k, v in (config.get("variables") or {}).items()}
    wl = config.get("variable_whitelist")
    bl = set(config.get("variable_blacklist") or [])
    out = {}
    for name, value in props.items():
        if "password" in name.lower():
            continue
        if wl is not None and name not in wl:
            continue
        if name in bl:
            continue
        out[name] = value
    return out


def substitute_variables(value: str, registry: dict[str, str]) -> str:
    """Config-time ``${var}`` replacement, like the reference's
    variable substitution into property values at parse time. Only
    names present in the registry substitute — every other ``${...}``
    (attribute refs, EL function chains) passes through untouched for
    the per-row EL compiler."""
    return _VAR_TOKEN.sub(lambda m: registry.get(m.group(1), m.group(0)), value)


def _flatten_groups(
    config: dict,
    contexts: dict[str, dict[str, str]],
) -> tuple[dict[str, dict], list[dict]]:
    """Merge nested process groups into one processor/connection graph
    (parseProcessGroup recursion, StructuredConfiguration.cpp:94-123).

    Child-group processor ids are namespaced ``group/…``; a
    connection may reference a sibling unqualified or any processor by
    its full path. Each group binds its own ``parameter_context_name``
    — like the reference, there is no implicit inheritance from the
    parent group (contexts themselves can inherit, see
    parse_parameter_contexts)."""
    procs: dict[str, dict] = {}
    conns: list[dict] = []
    registry = variable_registry(config)

    def walk(group: dict, prefix: str) -> None:
        ctx_name = group.get("parameter_context_name")
        if ctx_name is not None and ctx_name not in contexts:
            raise FlowCompileError(f"unknown parameter context {ctx_name!r}")
        params = contexts.get(ctx_name, {})

        def subst(v):
            if not isinstance(v, str):
                return v
            return substitute_variables(substitute_parameters(v, params), registry)

        for p in group.get("processors", []) or []:
            pid = prefix + p["id"]
            if pid in procs:
                raise FlowCompileError(f"duplicate processor id {pid!r}")
            spec = dict(p)
            spec["id"] = pid
            spec["properties"] = {k: subst(v) for k, v in (p.get("properties") or {}).items()}
            procs[pid] = spec
        for child in group.get("process_groups", []) or []:
            walk(child, prefix + str(child.get("name", child.get("id", "group"))) + "/")
        for c in group.get("connections", []) or []:
            conns.append({**c, "_prefix": prefix})

    walk(config, "")

    def qualify(ref: str, prefix: str) -> str:
        if prefix + ref in procs:
            return prefix + ref
        if ref in procs:  # fully-qualified cross-group reference
            return ref
        raise FlowCompileError(f"connection references unknown processor: {ref!r}")

    out_conns = []
    for c in conns:
        prefix = c.pop("_prefix")
        out_conns.append(
            {**c, "source": qualify(c["source"], prefix), "destination": qualify(c["destination"], prefix)}
        )
    return procs, out_conns


def _connection_edge(df: DataFrame, conn: dict) -> DataFrame:
    """Per-connection queue semantics that survive the move to Spark
    (FlowSchema.cpp connection fields):

    - ``flowfile expiration`` — the reference deletes a FlowFile whose
      queue age exceeds the TTL at poll time
      (Connection.cpp:153-158, ``now > entryDate + expired_duration``).
      Catalyst form: filter on ``ts`` (the FlowFile entry timestamp)
      against the evaluation time — same check, evaluated when the
      consumer's plan runs (per micro-batch under streaming).
    - ``drop empty`` — zero-byte content is dropped on the edge.

    Backpressure thresholds (max queue size/bytes) and swap thresholds
    stay unmaterialized by design: micro-batch planning replaces
    queues (SURVEY §1.5), with maxFilesPerTrigger/maxOffsetsPerTrigger
    as the admission analogue.
    """
    exp = conn.get("flowfile expiration") or conn.get("flowfile_expiration")
    if exp is not None:
        from ..streaming.sources import _parse_time_period_ms

        ms = _parse_time_period_ms(exp)
        if ms > 0 and "ts" in df.columns:
            df = df.filter(
                F.current_timestamp() < F.col("ts") + F.expr(f"INTERVAL {ms} MILLISECONDS")
            )
    from .services import _flag

    drop_empty = conn.get("drop empty", conn.get("drop_empty"))
    if _flag(drop_empty) and "content" in df.columns:
        df = df.filter(F.col("content").isNotNull() & (F.length("content") > 0))
    return df


def compile_flow(spark: SparkSession, config: dict | str) -> CompiledFlow:
    """Compile a flow config (dict, YAML string, or path) into lazy
    DataFrames per processor output. No jobs run until an action.
    """
    if isinstance(config, str):
        import os

        import yaml

        if os.path.exists(config):
            with open(config) as f:
                config = yaml.safe_load(f)
        else:
            config = yaml.safe_load(config)

    from .reference_dialect import is_reference_dialect, normalize_flow_config
    from .services import parse_controller_services, resolve_service_refs

    if is_reference_dialect(config):
        config = normalize_flow_config(config)
    contexts = parse_parameter_contexts(config)
    services = parse_controller_services(config)
    procs, conns = _flatten_groups(config, contexts)

    incoming: dict[str, list[tuple[str, str, dict]]] = defaultdict(list)
    for c in conns:
        src, dst = c["source"], c["destination"]
        incoming[dst].append((src, c.get("relationship", SUCCESS), c))

    # topological order (Kahn) — parseProcessGroup does processors
    # first then connections (StructuredConfiguration.cpp:106-121);
    # we need dependency order instead.
    order: list[str] = []
    pending = dict(incoming)
    ready = [pid for pid in procs if not pending.get(pid)]
    resolved: set[str] = set()
    while ready:
        pid = ready.pop()
        order.append(pid)
        resolved.add(pid)
        for other, deps in list(pending.items()):
            if other not in resolved and all(s in resolved for s, *_ in deps):
                if other not in order and other not in ready:
                    ready.append(other)
    if len(order) != len(procs):
        raise FlowCompileError(f"flow has a cycle or unreachable processors: {set(procs) - set(order)}")

    outputs: dict[str, dict[str, DataFrame]] = {}
    streaming_sinks: dict[str, DataStreamWriter] = {}
    for pid in order:
        spec = procs[pid]
        ptype = spec["type"]
        handler = _PROCESSORS.get(ptype)
        if handler is None:
            raise FlowCompileError(f"unknown processor type {ptype!r} (processor {pid!r})")
        inputs = incoming.get(pid, [])
        in_df: DataFrame | None = None
        if inputs:
            frames = [_connection_edge(outputs[src][rel], c) for src, rel, c in inputs]
            in_df = frames[0]
            for other in frames[1:]:  # implicit funnel
                in_df = in_df.unionByName(other, allowMissingColumns=True)
        props = resolve_service_refs(spark, dict(spec.get("properties", {})), services)
        if ptype in _SINKS and in_df is not None and in_df.isStreaming:
            # the writer starts in FlowController, once every sink compiled
            streaming_sinks[pid] = _stream_writer(_SINKS[ptype](in_df, props), in_df, props)
            outputs[pid] = _one(in_df)
            continue
        outputs[pid] = handler(spark, in_df, props)
    return CompiledFlow(
        outputs=outputs,
        streaming_sinks=streaming_sinks,
        services=services,
        provenance_reporting=config.get("provenance_reporting"),
        _proc_types={pid: spec["type"] for pid, spec in procs.items()},
    )


def registered_processors() -> list[str]:
    return sorted(_PROCESSORS)
