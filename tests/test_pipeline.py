"""Flow-compiler tests: YAML config -> composed plan -> results
(mirrors the reference's flow-tests layer, libminifi/test/flow-tests/)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_minifi_cpp_spark.plans import FlowCompileError, compile_flow, registered_processors
from nifi_minifi_cpp_spark.plans.pipeline import _SINKS

FLOW_YAML = """
processors:
  - id: src
    type: TableSource
    properties: {table: events, sf_dir: "%(sf)s"}
  - id: route
    type: RouteOnAttribute
    properties:
      errors: "${event_type:equals('error')}"
  - id: tag
    type: UpdateAttribute
    properties:
      severity: "${value:gt(150):ifElse('critical', 'normal')}"
  - id: jsonify
    type: AttributesToJSON
    properties:
      attributes_list: [event_type, severity]
  - id: log
    type: LogAttribute
connections:
  - {source: src, destination: route}
  - {source: route, relationship: errors, destination: tag}
  - {source: tag, destination: jsonify}
  - {source: jsonify, destination: log}
"""


def test_flow_end_to_end(spark, sf_dir, tables):
    flow = compile_flow(spark, FLOW_YAML % {"sf": sf_dir})
    out = flow.df("log")
    rows = out.collect()
    n_errors = tables["events"].filter(F.col("event_type") == "error").count()
    assert len(rows) == n_errors
    assert all(r["content"].startswith('{"event_type":"error"') for r in rows)
    assert {'"severity":"critical"' in r["content"] or '"severity":"normal"' in r["content"] for r in rows} == {True}


def test_flow_funnel_merges_inputs(spark, sf_dir):
    yaml_cfg = """
processors:
  - id: gen1
    type: GenerateFlowFile
    properties: {batch_size: 3, custom_text: a}
  - id: gen2
    type: GenerateFlowFile
    properties: {batch_size: 4, custom_text: b}
  - id: log
    type: LogAttribute
connections:
  - {source: gen1, destination: log}
  - {source: gen2, destination: log}
"""
    flow = compile_flow(spark, yaml_cfg)
    assert flow.df("log").count() == 7


def test_flow_split_merge_roundtrip(spark, sf_dir):
    yaml_cfg = f"""
processors:
  - id: src
    type: TableSource
    properties: {{table: documents, sf_dir: {sf_dir}}}
  - id: to_lines
    type: ReplaceText
    properties: {{replacement_strategy: regex_replace, search_value: " ", replacement_value: "\\n"}}
  - id: split
    type: SplitText
    properties: {{line_split_count: 5}}
  - id: merge
    type: MergeContent
    properties: {{merge_strategy: defragment}}
connections:
  - {{source: src, destination: to_lines}}
  - {{source: to_lines, destination: split}}
  - {{source: split, destination: merge}}
"""
    flow = compile_flow(spark, yaml_cfg)
    orig = {r["uuid"]: r["content"] for r in flow.df("to_lines").collect()}
    merged = {r["uuid"]: r["content"] for r in flow.df("merge").collect()}
    assert merged == orig


def test_flow_unknown_processor_type(spark):
    with pytest.raises(FlowCompileError, match="unknown processor type"):
        compile_flow(spark, "processors:\n  - {id: x, type: NoSuchProcessor}\nconnections: []")


def test_flow_cycle_detection(spark):
    cfg = """
processors:
  - {id: a, type: LogAttribute}
  - {id: b, type: LogAttribute}
connections:
  - {source: a, destination: b}
  - {source: b, destination: a}
"""
    with pytest.raises(FlowCompileError, match="cycle"):
        compile_flow(spark, cfg)


def test_flow_whole_plan_pushdown(spark, sf_dir):
    """The compiled flow is ONE Catalyst plan: a downstream route
    filter reaches the upstream parquet scan as a pushed filter when
    operating on promoted columns."""
    cfg = f"""
processors:
  - id: src
    type: TableSource
    properties: {{table: events, sf_dir: {sf_dir}, as_flowfiles: false}}
  - id: log
    type: LogAttribute
connections:
  - {{source: src, destination: log}}
"""
    flow = compile_flow(spark, cfg)
    filtered = flow.df("log").filter(F.col("event_type") == "error").select("event_id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)" in plan


def test_registered_processor_inventory():
    have = set(registered_processors())
    assert {
        "TableSource",
        "GetFile",
        "GenerateFlowFile",
        "UpdateAttribute",
        "RouteOnAttribute",
        "RouteText",
        "ExtractText",
        "EvaluateJsonPath",
        "HashContent",
        "AttributesToJSON",
        "ReplaceText",
        "SplitText",
        "MergeContent",
        "RetryFlowFile",
        "LogAttribute",
        "PutFile",
    } <= have


# -- parameter contexts + nested process groups -------------------------------


def test_parameter_token_substitution():
    from nifi_minifi_cpp_spark.plans.pipeline import substitute_parameters

    params = {"what": "love", "who": "me", "token1": "T1", "token-2": "T2", "token_3": "T3"}
    assert substitute_parameters("#{what}", params) == "love"
    # ParameterTokenParserTest.cpp:67 — hash-escape truth table
    assert substitute_parameters("##{token1}", params) == "#{token1}"
    assert substitute_parameters("###{token_3}", params) == "#T3"
    assert (
        substitute_parameters("## What is #{what}, don't hurt #{who}, no more ##", params)
        == "## What is love, don't hurt me, no more ##"
    )


def test_parameter_token_errors():
    from nifi_minifi_cpp_spark.plans.pipeline import substitute_parameters

    with pytest.raises(FlowCompileError, match="invalid parameter name"):
        substitute_parameters("#{$$}", {})
    with pytest.raises(FlowCompileError, match="invalid parameter name"):
        substitute_parameters("#{}", {})
    with pytest.raises(FlowCompileError, match="not defined"):
        substitute_parameters("#{missing}", {})


def test_parameter_context_inheritance_and_cycle():
    from nifi_minifi_cpp_spark.plans.pipeline import parse_parameter_contexts

    got = parse_parameter_contexts(
        {
            "parameter_contexts": [
                {"name": "base", "parameters": {"a": "1", "b": "2"}},
                {
                    "name": "child",
                    "inherited_parameter_contexts": ["base"],
                    "parameters": [{"name": "b", "value": "override"}],
                },
            ]
        }
    )
    assert got["child"] == {"a": "1", "b": "override"}
    with pytest.raises(FlowCompileError, match="cycle"):
        parse_parameter_contexts(
            {
                "parameter_contexts": [
                    {"name": "x", "inherited_parameter_contexts": ["y"]},
                    {"name": "y", "inherited_parameter_contexts": ["x"]},
                ]
            }
        )


def test_compile_flow_with_params_and_nested_group(spark, sf_dir):
    """A flow whose child group routes with a parameterized predicate;
    the cross-group connection reaches the child by its full path
    (StructuredConfiguration.cpp:62-123 parse order parity)."""
    cfg = {
        "parameter_contexts": [
            {"name": "common", "parameters": {"etype": "error", "table": "events"}},
        ],
        "parameter_context_name": "common",
        "processors": [
            {"id": "src", "type": "TableSource", "properties": {"table": "#{table}", "sf_dir": sf_dir}},
        ],
        "process_groups": [
            {
                "name": "routing",
                "parameter_context_name": "common",
                "processors": [
                    {
                        "id": "route",
                        "type": "RouteOnAttribute",
                        "properties": {"errors": "${event_type:equals('#{etype}')}"},
                    }
                ],
                "connections": [],
            }
        ],
        "connections": [
            {"source": "src", "destination": "routing/route"},
        ],
    }
    flow = compile_flow(spark, cfg)
    errors = flow.outputs["routing/route"]["errors"]
    expected = flow.outputs["src"]["success"].filter(
        F.col("attributes")["event_type"] == "error"
    ).count()
    assert errors.count() == expected > 0


def test_compile_flow_unknown_context_and_param(spark):
    with pytest.raises(FlowCompileError, match="unknown parameter context"):
        compile_flow(
            spark,
            {
                "parameter_context_name": "nope",
                "processors": [{"id": "g", "type": "GenerateFlowFile"}],
                "connections": [],
            },
        )
    with pytest.raises(FlowCompileError, match="not defined"):
        compile_flow(
            spark,
            {
                "parameter_contexts": [{"name": "c", "parameters": {}}],
                "parameter_context_name": "c",
                "processors": [
                    {"id": "g", "type": "GenerateFlowFile", "properties": {"custom_text": "#{nope}"}}
                ],
                "connections": [],
            },
        )


def test_variable_registry_rules():
    from nifi_minifi_cpp_spark.plans.pipeline import substitute_variables, variable_registry

    reg = variable_registry(
        {
            "variables": {
                "data.dir": "/data",
                "db.password": "secret",
                "allowed": "yes",
                "blocked": "no",
            },
            "variable_blacklist": ["blocked"],
        }
    )
    # password-named properties are never accessible (EXPRESSIONS.md:149-159)
    assert reg == {"data.dir": "/data", "allowed": "yes"}
    # whitelist restricts to the listed names
    reg2 = variable_registry(
        {"variables": {"a": "1", "b": "2"}, "variable_whitelist": ["a"]}
    )
    assert reg2 == {"a": "1"}
    # only registry names substitute; EL expressions pass through
    out = substitute_variables("${data.dir}/in ${event_type:equals('x')} ${unknown}", reg)
    assert out == "/data/in ${event_type:equals('x')} ${unknown}"


def test_compile_flow_with_variables(spark, sf_dir):
    cfg = {
        "variables": {"the.table": "events"},
        "processors": [
            {
                "id": "src",
                "type": "TableSource",
                "properties": {"table": "${the.table}", "sf_dir": sf_dir},
            }
        ],
        "connections": [],
    }
    flow = compile_flow(spark, cfg)
    assert flow.outputs["src"]["success"].count() > 0


def test_flow_controller_start_and_hot_swap(spark, sf_dir, tmp_path):
    """FlowController C2 parity (FlowController.cpp:110-171 +
    applyConfiguration §3.4): deploy a streaming flow, hot-swap to a
    new config, and roll back to the old flow when the new payload is
    invalid."""
    import os

    from nifi_minifi_cpp_spark.plans.pipeline import FlowCompileError, FlowController
    from nifi_minifi_cpp_spark.session import load_table

    src_dir = str(tmp_path / "in")
    load_table(spark, "events", sf_dir).limit(50).write.mode("overwrite").parquet(src_dir)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def cfg(view_name):
        return {
            "processors": [
                {"id": "src", "type": "FileStreamSource",
                 "properties": {"path": src_dir, "schema": schema, "format": "parquet"}},
                {"id": "sink", "type": "MemorySink", "properties": {"name": view_name}},
            ],
            "connections": [{"source": "src", "destination": "sink"}],
        }

    ctl = FlowController(spark, cfg("flow_v1")).start()
    try:
        ctl.await_quiesce()
        assert spark.sql("SELECT count(*) c FROM flow_v1").first()["c"] == 50

        # hot swap: new flow runs under the new view
        ctl.apply_configuration(cfg("flow_v2"))
        ctl.await_quiesce()
        assert spark.sql("SELECT count(*) c FROM flow_v2").first()["c"] == 50

        # invalid payload: raises AND the previous flow is restarted
        import pytest as _pytest

        with _pytest.raises(FlowCompileError):
            ctl.apply_configuration({"processors": [{"id": "x", "type": "NoSuch"}], "connections": []})
        assert ctl.queries, "rollback must leave the old flow running"
        ctl.await_quiesce()
    finally:
        ctl.stop()


def test_parameter_token_properties():
    """Property test for the #{param} tokenizer: for any name and
    value, substitution resolves tokens, doubles every escape hash
    pair, and is the identity on parameter-free text
    (ParameterTokenParser semantics)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nifi_minifi_cpp_spark.plans.pipeline import substitute_parameters

    name_st = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_. ",
        min_size=1,
        max_size=20,
    ).filter(lambda s: s.strip() == s and s)
    value_st = st.text(max_size=30).filter(lambda s: "#" not in s and "{" not in s and "}" not in s)
    plain_st = st.text(max_size=40).filter(lambda s: "#" not in s and "{" not in s and "}" not in s)

    @settings(max_examples=200, deadline=None)
    @given(name=name_st, value=value_st, pre=plain_st, post=plain_st, hashes=st.integers(1, 6))
    def check(name, value, pre, post, hashes):
        params = {name: value}
        text = f"{pre}{'#' * hashes}{{{name}}}{post}"
        got = substitute_parameters(text, params)
        lit = "#" * (hashes // 2)
        if hashes % 2 == 1:
            assert got == f"{pre}{lit}{value}{post}"
        else:
            assert got == f"{pre}{lit}{{{name}}}{post}"
        # identity on token-free text
        assert substitute_parameters(pre + post, params) == pre + post

    check()


def test_flow_with_invoke_http_and_splunk(spark, sf_dir):
    """A flow that POSTs event payloads through InvokeHTTP (fake
    transport) and routes by status class, then ships the successes to
    a fake Splunk HEC — the push-sink processors wired end-to-end
    through the compiler."""
    import json as _json

    def http_factory():
        class Resp:
            def __init__(self, code):
                self.status_code = code
                self.text = _json.dumps({"ackId": 1})

        class Sess:
            def request(self, method, url, data=None, headers=None, timeout=None):
                n = int(_json.loads(data.decode())["user_id"])
                return Resp(200 if n % 2 == 0 else 503)

        return Sess()

    cfg = {
        "processors": [
            {"id": "src", "type": "TableSource", "properties": {"table": "events", "sf_dir": sf_dir}},
            {"id": "tojson", "type": "AttributesToJSON",
             "properties": {"attributes_list": ["user_id"]}},
            {"id": "http", "type": "InvokeHTTP",
             "properties": {"url": "http://sink.test/x", "session_factory": http_factory}},
            {"id": "splunk", "type": "PutSplunkHTTP",
             "properties": {"url": "https://splunk:8088", "token": "t",
                            "session_factory": http_factory}},
        ],
        "connections": [
            {"source": "src", "destination": "tojson"},
            {"source": "tojson", "destination": "http"},
            {"source": "http", "relationship": "success", "destination": "splunk"},
        ],
    }
    flow = compile_flow(spark, cfg)
    n = flow.outputs["src"]["success"].count()
    n_success = flow.outputs["http"]["success"].count()
    n_retry = flow.outputs["http"]["retry"].count()
    assert n_success + n_retry == n and n_success > 0 and n_retry > 0
    shipped = flow.outputs["splunk"]["success"]
    assert shipped.count() == n_success
    assert shipped.select("splunk_ack_id").first()[0] == 1


def test_flow_compress_convert_archive_processors(spark):
    """CompressContent roundtrip, ConvertRecord JSON->XML, and
    ManipulateArchive run as flow processors."""
    from nifi_minifi_cpp_spark.operators import merge_content_archive, unpack_archive
    from nifi_minifi_cpp_spark.plans.pipeline import _PROCESSORS

    # compress -> decompress roundtrip through two flow nodes
    cfg = {
        "processors": [
            {"id": "gen", "type": "GenerateFlowFile",
             "properties": {"batch_size": 4, "custom_text": "payload text"}},
            {"id": "gz", "type": "CompressContent", "properties": {"mode": "compress"}},
            {"id": "gunz", "type": "CompressContent", "properties": {"mode": "decompress", "fmt": "auto"}},
        ],
        "connections": [
            {"source": "gen", "destination": "gz"},
            {"source": "gz", "destination": "gunz"},
        ],
    }
    flow = compile_flow(spark, cfg)
    out = flow.outputs["gunz"]["success"].select("content").collect()
    vals = {bytes(r["content"]).decode() if isinstance(r["content"], (bytes, bytearray))
            else r["content"] for r in out}
    assert vals == {"payload text"}

    # ConvertRecord handler: JSON record -> XML
    src = spark.createDataFrame([('{"a": 5}',)], "content string")
    conv = _PROCESSORS["ConvertRecord"](
        spark, src, {"input_format": "json", "output_format": "xml", "schema": "a int"}
    )["success"].first()["content"]
    assert "<a>5</a>" in conv

    # ManipulateArchive handler: remove one entry, success routing
    ff = spark.createDataFrame(
        [("a", "alpha", {"filename": "a"}), ("b", "bravo", {"filename": "b"})],
        "uuid string, content string, attributes map<string,string>",
    )
    packed = merge_content_archive(ff, fmt="zip")
    routed = _PROCESSORS["ManipulateArchive"](spark, packed, {"operation": "remove", "target": "a"})
    names = [r["entry_name"] for r in unpack_archive(routed["success"], fmt="zip").collect()]
    assert names == ["b"]


def test_flow_split_segment_defragment_hostinfo(spark):
    """The remaining content/attribute processors run from configs:
    SplitContent -> DefragmentText roundtrip, SegmentContent sizes,
    AppendHostInfo attributes."""
    from nifi_minifi_cpp_spark.plans.pipeline import _PROCESSORS

    ff = spark.createDataFrame(
        [("u1", "<s>alpha|cont1|<s>beta|cont2", {"k": "v"})],
        "uuid string, content string, attributes map<string,string>",
    )
    split = _PROCESSORS["SplitContent"](spark, ff, {"delimiter": "|"})["success"]
    assert split.count() == 4
    # DefragmentText glues lines WITHIN a row's content by a start marker
    multi = spark.createDataFrame(
        [("u2", "<s>alpha\ncont1\n<s>beta\ncont2", {})],
        "uuid string, content string, attributes map<string,string>",
    )
    defrag = _PROCESSORS["DefragmentText"](spark, multi, {"message_start_pattern": "^<s>"})["success"]
    msgs = sorted(r["content"] for r in defrag.collect())
    assert msgs == ["<s>alpha\ncont1", "<s>beta\ncont2"]

    seg = _PROCESSORS["SegmentContent"](spark, ff, {"segment_size": 10})["success"]
    pieces = [r["content"] for r in seg.collect()]
    assert "".join(pieces) == "<s>alpha|cont1|<s>beta|cont2"
    assert all(len(p) <= 10 for p in pieces)

    hosted = _PROCESSORS["AppendHostInfo"](spark, ff, {})["success"].first()
    attrs = dict(hosted["attributes"])
    assert "source.hostname" in attrs and "source.ipv4" in attrs and attrs["k"] == "v"


# -- round-4 vocabulary: every implemented operator nameable from a flow ------


def test_round4_processor_inventory():
    """The flow compiler vocabulary covers the engine surface (round-2
    item #6 / round-3 item #5: was 29 names)."""
    have = set(registered_processors())
    new = {
        "ListFile", "FetchFile", "TailFile", "TailFileStream", "ConsumeKafka",
        "ExecuteSQL", "QueryDatabaseTable", "ExecuteProcess", "ListSFTP",
        "FetchSFTP", "GetCouchbaseKey", "ParseSyslog", "Funnel",
        "ApplyTemplate", "JoltTransformJSON", "ExecuteScript", "AnalyzeText",
        "DeduplicateText", "DeduplicateEmbeddings", "CosineTopK",
        "RunLlmInference", "PutTCP", "PutUDP", "PushGrafanaLokiREST",
        "PublishMQTT", "PutKinesisStream", "PostElasticsearch",
        "PutCouchbaseKey", "PutSFTP", "PutSmb", "PutSQL",
    }
    assert new <= have
    assert len(have) >= 45


def test_flow_list_fetch_tail_exec_sources(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("alpha")
    (d / "b.log").write_text("l1\nl2\n")
    cfg = {
        "processors": [
            {"id": "ls", "type": "ListFile", "properties": {"pattern": str(d / "*.txt")}},
            {"id": "fetch", "type": "FetchFile"},
            {"id": "tail", "type": "TailFile",
             "properties": {"pattern": str(d / "*.log"), "state_path": str(tmp_path / "t.json")}},
            {"id": "proc", "type": "ExecuteProcess",
             "properties": {"command": "echo", "arguments": "hello world"}},
        ],
        "connections": [{"source": "ls", "destination": "fetch"}],
    }
    flow = compile_flow(spark, cfg)
    fetched = {r["filename"]: r["content"] for r in flow.df("fetch").collect()}
    assert fetched == {"a.txt": "alpha"}
    assert [r["content"] for r in flow.df("tail").collect()] == ["l1", "l2"]
    out = flow.df("proc").first()
    assert out["content"].strip() == "hello world"


def test_flow_execute_sql_and_query_database_table(spark, sf_dir, tmp_path):
    from nifi_minifi_cpp_spark.session import load_table

    load_table(spark, "nation", sf_dir).createOrReplaceTempView("nation_v")
    cfg = {
        "processors": [
            {"id": "sql", "type": "ExecuteSQL",
             "properties": {"query": "SELECT n_nationkey, n_name FROM nation_v ORDER BY n_nationkey"}},
            {"id": "qdt", "type": "QueryDatabaseTable",
             "properties": {"path": f"{sf_dir}/nation.parquet",
                            "max_value_columns": "n_nationkey",
                            "state_path": str(tmp_path / "qdt.json")}},
        ],
        "connections": [],
    }
    flow = compile_flow(spark, cfg)
    row = flow.df("sql").first()
    assert dict(row["attributes"])["executesql.row.count"] == "25"
    assert flow.df("qdt").count() == 25
    # second compile: watermark advanced -> nothing new
    flow2 = compile_flow(spark, cfg)
    assert flow2.df("qdt").count() == 0


def test_flow_remote_fs_and_kv(spark, tmp_path):
    from nifi_minifi_cpp_spark.sources.remote_fs import RemoteEntry

    class FakeRemote:
        def listdir(self, path):
            return [RemoteEntry(path="/r/f1.txt", size=5, mtime=100.0, is_dir=False)]

        def read(self, path):
            if path == "/r/f1.txt":
                return b"hello"
            raise FileNotFoundError(path)

        def write(self, path, data):
            (tmp_path / "put.log").open("a").write(f"{path}|{data.decode()}\n")

    def factory():
        return FakeRemote()

    kv_store = str(tmp_path / "kv.log")

    def kv_factory(path=kv_store):
        class KV:
            def get(self, key):
                if key == "/r/f1.txt":
                    return b"kv-val"
                raise KeyError(key)

            def upsert(self, key, value):
                with open(path, "a") as f:
                    f.write(f"{key}={value}\n")

        return KV()

    cfg = {
        "processors": [
            {"id": "ls", "type": "ListSFTP",
             "properties": {"client": FakeRemote(), "directory": "/r"}},
            {"id": "fetch", "type": "FetchSFTP", "properties": {"client_factory": factory}},
            {"id": "kvget", "type": "GetCouchbaseKey",
             "properties": {"client_factory": kv_factory, "key_col": "path", "value_col": "kv_value"}},
            {"id": "kvput", "type": "PutCouchbaseKey",
             "properties": {"client_factory": kv_factory, "key_col": "path", "value_col": "content"}},
            {"id": "putsftp", "type": "PutSFTP", "properties": {"client_factory": factory}},
        ],
        "connections": [
            {"source": "ls", "destination": "fetch"},
            {"source": "fetch", "relationship": "success", "destination": "kvget"},
            {"source": "kvget", "relationship": "success", "destination": "kvput"},
            {"source": "fetch", "relationship": "success", "destination": "putsftp"},
        ],
    }
    flow = compile_flow(spark, cfg)
    got = flow.df("fetch", "success").first()
    assert got["content"] == "hello" and got["fetch_status"] == "success"
    assert flow.df("kvget", "success").first()["kv_value"] == "kv-val"
    assert open(kv_store).read() == "/r/f1.txt=hello\n"
    assert (tmp_path / "put.log").read_text() == "/r/f1.txt|hello\n"


def test_flow_template_jolt_script_syslog_funnel(spark):
    def upper_transform(record):
        return {"content": record["content"].upper()}

    cfg = {
        "processors": [
            {"id": "gen", "type": "GenerateFlowFile",
             "properties": {"batch_size": 2, "custom_text": '{"user": {"name": "ada"}}'}},
            {"id": "tpl", "type": "UpdateAttribute", "properties": {"who": "ada"}},
            {"id": "applied", "type": "ApplyTemplate", "properties": {"template": "hi {{who}}"}},
            {"id": "jolt", "type": "JoltTransformJSON",
             "properties": {"shift": {"user.name": "who.is"}}},
            {"id": "script", "type": "ExecuteScript",
             "properties": {"transform": upper_transform, "output_schema": "content string"}},
            {"id": "fun", "type": "Funnel"},
            {"id": "syslog", "type": "GenerateFlowFile",
             "properties": {"batch_size": 1,
                            "custom_text": "<34>Oct 11 22:14:15 host app: msg"}},
            {"id": "parsed", "type": "ParseSyslog"},
        ],
        "connections": [
            {"source": "gen", "destination": "tpl"},
            {"source": "tpl", "destination": "applied"},
            {"source": "gen", "destination": "jolt"},
            {"source": "applied", "destination": "fun"},
            {"source": "jolt", "destination": "fun"},
            {"source": "jolt", "destination": "script"},
            {"source": "syslog", "destination": "parsed"},
        ],
    }
    flow = compile_flow(spark, cfg)
    assert flow.df("applied").first()["content"] == "hi ada"
    assert flow.df("jolt").first()["content"] == '{"who":{"is":"ada"}}'
    assert flow.df("script").first()["content"] == '{"WHO":{"IS":"ADA"}}'
    assert flow.df("fun").count() == 4
    psl = flow.df("parsed").first()
    assert dict(psl["attributes"])["syslog.valid"] == "true"


def test_flow_analytics_stages(spark, sf_dir):
    cfg = {
        "processors": [
            {"id": "docs", "type": "TableSource",
             "properties": {"table": "documents", "sf_dir": sf_dir}},
            {"id": "quality", "type": "AnalyzeText"},
            {"id": "dedup", "type": "DeduplicateText", "properties": {"strategy": "exact"}},
            {"id": "emb", "type": "TableSource",
             "properties": {"table": "embeddings", "sf_dir": sf_dir, "as_flowfiles": False}},
            {"id": "embdedup", "type": "DeduplicateEmbeddings", "properties": {"threshold": 0.99}},
            {"id": "topk", "type": "CosineTopK",
             "properties": {"query_vec": [1.0] + [0.0] * 63, "k": 5}},
            {"id": "llm", "type": "RunLlmInference",
             "properties": {"prompt_template": "summarize: {{content}}", "batch_size": 8}},
        ],
        "connections": [
            {"source": "docs", "destination": "quality"},
            {"source": "docs", "destination": "dedup"},
            {"source": "emb", "destination": "embdedup"},
            {"source": "emb", "destination": "topk"},
            {"source": "docs", "destination": "llm"},
        ],
    }
    flow = compile_flow(spark, cfg)
    n_docs = flow.df("docs").count()
    q = flow.df("quality").first()
    assert q["lang_detected"] is not None and q["n_tokens"] >= 0
    assert flow.df("dedup").count() <= n_docs
    assert flow.df("embdedup").count() <= flow.df("emb").count()
    topk = flow.df("topk").collect()
    assert len(topk) == 5 and topk[0]["score"] >= topk[-1]["score"]
    assert flow.df("llm").first()["completion"] != ""


def test_flow_handler_sinks_batch(spark, tmp_path):
    """Handler-style sinks run eagerly on batch flows, executor-side."""
    mqtt_log = str(tmp_path / "mqtt.log")
    es_log = str(tmp_path / "es.log")
    kin_log = str(tmp_path / "kin.log")
    loki_log = str(tmp_path / "loki.log")

    def mqtt_factory(path=mqtt_log):
        class Client:
            def publish(self, topic, payload, qos=0, retain=False):
                with open(path, "a") as f:
                    f.write(f"{topic}|{payload.decode()}\n")

        return Client()

    def session_factory(path=es_log):
        class Resp:
            status_code = 200
            text = "{}"

        class Sess:
            def request(self, method, url, data=None, headers=None, timeout=None):
                with open(path, "a") as f:
                    f.write(f"{url}\n")
                return Resp()

        return Sess()

    def loki_session_factory(path=loki_log):
        class Resp:
            status_code = 204
            text = ""

        class Sess:
            def request(self, method, url, data=None, headers=None, timeout=None):
                with open(path, "a") as f:
                    f.write(data.decode() + "\n")
                return Resp()

        return Sess()

    def kinesis_factory(path=kin_log):
        class Client:
            def put_records(self, StreamName=None, Records=None):
                with open(path, "a") as f:
                    for r in Records:
                        f.write(f"{StreamName}|{r['Data'].decode()}\n")
                return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

        return Client()

    cfg = {
        "processors": [
            {"id": "gen", "type": "GenerateFlowFile",
             "properties": {"batch_size": 3, "custom_text": "payload"}},
            {"id": "mqtt", "type": "PublishMQTT",
             "properties": {"topic": "t/x", "client_factory": mqtt_factory}},
            {"id": "loki", "type": "PushGrafanaLokiREST",
             "properties": {"url": "http://loki/push", "session_factory": loki_session_factory}},
            {"id": "kin", "type": "PutKinesisStream",
             "properties": {"stream_name": "s1", "client_factory": kinesis_factory}},
            {"id": "sql", "type": "PutSQL",
             "properties": {"format": "parquet", "path": str(tmp_path / "out.parquet")}},
        ],
        "connections": [
            {"source": "gen", "destination": "mqtt"},
            {"source": "gen", "destination": "loki"},
            {"source": "gen", "destination": "kin"},
            {"source": "gen", "destination": "sql"},
        ],
    }
    flow = compile_flow(spark, cfg)
    assert flow.df("mqtt").count() == 3  # passthrough relationship
    assert open(mqtt_log).read().count("t/x|payload") == 3
    assert open(kin_log).read().count("s1|payload") == 3
    assert open(loki_log).read().count('"payload"') == 3
    assert spark.read.parquet(str(tmp_path / "out.parquet")).count() == 3


def test_object_store_crud_file_scheme(spark, tmp_path):
    """The 16 provider List/Fetch/Put/Delete names share one Hadoop-FS
    implementation; file:// exercises the same code path as s3a://."""
    src_dir = tmp_path / "store"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("alpha")
    (src_dir / "b.txt").write_text("beta")
    url = f"file://{src_dir}"
    out_url = f"file://{tmp_path / 'out'}"
    cfg = {
        "processors": [
            {"id": "ls", "type": "ListS3", "properties": {"url": url, "glob_filter": "*.txt"}},
            {"id": "fetch", "type": "FetchGCSObject", "properties": {"url": url}},
            {"id": "put", "type": "PutAzureBlobStorage",
             "properties": {"url": out_url, "format": "parquet", "mode": "overwrite"}},
        ],
        "connections": [{"source": "fetch", "destination": "put"}],
    }
    flow = compile_flow(spark, cfg)
    listing = {r["filename"]: r["size"] for r in flow.df("ls").collect()}
    assert listing == {"a.txt": 5, "b.txt": 4}
    fetched = {r["filename"]: r["content"] for r in flow.df("fetch").collect()}
    assert fetched == {"a.txt": "alpha", "b.txt": "beta"}
    assert spark.read.parquet(out_url).count() == 2
    # delete one object, then the listing shrinks
    del_cfg = {
        "processors": [
            {"id": "rm", "type": "DeleteS3Object", "properties": {"url": f"{url}/a.txt"}},
        ],
        "connections": [],
    }
    out = compile_flow(spark, del_cfg).df("rm").first()
    assert out["deleted"] is True
    assert [r["filename"] for r in compile_flow(spark, cfg).df("ls").collect()] == ["b.txt"]


def test_reference_name_aliases_compile(spark, tmp_path):
    """Reference-exact processor class names resolve: rolling window,
    archive focus/unfocus, OPC/SMB/llama aliases, splunk ack poll."""
    import json as _json

    have = set(registered_processors())
    assert {"FetchOPCProcessor", "PutOPCProcessor", "FetchSmb", "ListSmb",
            "RunLlamaCppInference", "PushGrafanaLokiGrpc", "ListenUDP",
            "ListenTCP", "ListenHTTP", "ListenSyslog", "ConsumeMQTT",
            "ConsumeJournald", "PublishKafka", "GetTCP"} <= have

    def ack_session():
        class Resp:
            status_code = 200
            text = _json.dumps({"acks": {"1": True, "2": False}})

        class Sess:
            def request(self, method, url, data=None, headers=None, timeout=None):
                return Resp()

        return Sess()

    cfg = {
        "processors": [
            {"id": "src", "type": "TableSource",
             "properties": {"table": "events", "sf_dir": "/root/testdata/sf0.001",
                            "as_flowfiles": False}},
            {"id": "roll", "type": "AttributeRollingWindow",
             "properties": {"value_col": "value", "window_count": 5}},
        ],
        "connections": [{"source": "src", "destination": "roll"}],
    }
    flow = compile_flow(spark, cfg)
    row = flow.df("roll").first()
    assert "rolling_count" in flow.df("roll").columns or row is not None

    acks = spark.createDataFrame([("m1", 1), ("m2", 2)], "content string, splunk_ack_id long")
    splunk_cfg = {
        "processors": [
            {"id": "poll", "type": "QuerySplunkIndexingStatus",
             "properties": {"url": "https://splunk:8088", "token": "t",
                            "session_factory": ack_session}},
        ],
        "connections": [],
    }
    from nifi_minifi_cpp_spark.plans.pipeline import _PROCESSORS

    routed = _PROCESSORS["QuerySplunkIndexingStatus"](spark, acks, {
        "url": "https://splunk:8088", "token": "t", "session_factory": ack_session,
    })
    assert [r["content"] for r in routed["acknowledged"].collect()] == ["m1"]
    assert [r["content"] for r in routed["undetermined"].collect()] == ["m2"]


def test_site_to_site_ports_handoff(spark, tmp_path):
    """Two independent flows hand off through a channel: producer
    commits batches atomically (staging + rename), each consumer
    replays with its own cursor; a second producer batch arrives
    exactly once."""
    from nifi_minifi_cpp_spark.plans import input_port, output_port

    channel = str(tmp_path / "chan")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b2 = spark.createDataFrame([(3, "c")], "id long, v string")
    assert output_port(b1, channel) > 0

    # batch consumer sees batch 1 only
    got1 = sorted(r["id"] for r in input_port(spark, channel, "id long, v string", streaming=False).collect())
    assert got1 == [1, 2]

    # streaming consumer with its own checkpoint: batch 1 now, batch 2 after publish
    import os

    stream = input_port(spark, channel, "id long, v string", streaming=True)
    q = (
        stream.writeStream.format("memory").queryName("s2s_out").outputMode("append")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck")).start()
    )
    try:
        q.processAllAvailable()
        assert {r["id"] for r in spark.sql("SELECT * FROM s2s_out").collect()} == {1, 2}
        output_port(b2, channel)
        q.processAllAvailable()
        rows = [r["id"] for r in spark.sql("SELECT * FROM s2s_out").collect()]
        assert sorted(rows) == [1, 2, 3] and len(rows) == 3  # exactly once
    finally:
        q.stop()

    # flow-compiler names: producer flow and batch consumer flow
    prod_cfg = {
        "processors": [
            {"id": "gen", "type": "GenerateFlowFile",
             "properties": {"batch_size": 2, "custom_text": "hello"}},
            {"id": "out", "type": "OutputPort", "properties": {"channel": str(tmp_path / "chan2")}},
        ],
        "connections": [{"source": "gen", "destination": "out"}],
    }
    compile_flow(spark, prod_cfg)
    cons_cfg = {
        "processors": [
            {"id": "in", "type": "InputPort",
             "properties": {"channel": str(tmp_path / "chan2"), "streaming": False,
                            "schema": "uuid string, ts timestamp, content string, "
                                      "attributes map<string,string>, lineage array<string>"}},
        ],
        "connections": [],
    }
    rows = compile_flow(spark, cons_cfg).df("in").collect()
    assert len(rows) == 2 and all(r["content"] == "hello" for r in rows)


def test_deduplicate_text_streaming_flow(spark, tmp_path):
    """DeduplicateText on a streaming input compiles to the
    watermark-bounded dedup-on-ingest form."""
    import datetime as _dt

    src = str(tmp_path / "in")
    base = _dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(base, "same"), (base + _dt.timedelta(minutes=1), "same"),
         (base + _dt.timedelta(minutes=2), "other")],
        "ts timestamp, content string",
    ).write.parquet(src)
    cfg = {
        "processors": [
            {"id": "srcp", "type": "FileStreamSource",
             "properties": {"path": src, "schema": "ts timestamp, content string"}},
            {"id": "dedup", "type": "DeduplicateText",
             "properties": {"strategy": "exact", "watermark": "10 minutes"}},
        ],
        "connections": [{"source": "srcp", "destination": "dedup"}],
    }
    flow = compile_flow(spark, cfg)
    out = flow.df("dedup")
    assert out.isStreaming
    import os as _os

    q = (
        out.writeStream.format("memory").queryName("flow_dedup").outputMode("append")
        .option("checkpointLocation", _os.path.join(str(tmp_path), "ck")).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r["content"] for r in spark.sql("SELECT content FROM flow_dedup").collect()) == ["other", "same"]


def test_output_port_commits_atomically(spark, tmp_path):
    """A multi-partition batch publishes as ONE txn directory (single
    atomic rename) — a concurrent reader can never see a torn batch."""
    import os as _os

    from nifi_minifi_cpp_spark.plans import input_port, output_port

    channel = str(tmp_path / "chan")
    df = spark.createDataFrame([(i,) for i in range(100)], "id long").repartition(8)
    n = output_port(df, channel)
    assert n >= 8  # all 8 shards published
    entries = sorted(_os.listdir(channel))
    assert len(entries) == 1 and entries[0].startswith("txn-")  # one atomic unit
    assert not any(e.startswith(".staging") for e in entries)
    got = input_port(spark, channel, "id long", streaming=False).count()
    assert got == 100


def test_streaming_flow_defers_objectstore_put_and_putsql(spark, tmp_path):
    """Streaming flows ending in PutS3Object / PutSQL defer to
    FlowController instead of throwing at compile (round-4 review
    finding); the object-store put actually lands rows."""
    import datetime as _dt
    import os as _os

    from nifi_minifi_cpp_spark.plans.pipeline import FlowController

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(_dt.datetime(2024, 1, 1), "x")], "ts timestamp, content string"
    ).write.parquet(src)
    out_url = f"file://{tmp_path / 'sink'}"
    cfg = {
        "processors": [
            {"id": "s", "type": "FileStreamSource",
             "properties": {"path": src, "schema": "ts timestamp, content string"}},
            {"id": "put", "type": "PutS3Object",
             "properties": {"url": out_url, "checkpoint": str(tmp_path / "ck1")}},
            {"id": "sql", "type": "PutSQL",
             "properties": {"format": "parquet", "path": str(tmp_path / "sqlout"),
                            "checkpoint": str(tmp_path / "ck2")}},
        ],
        "connections": [
            {"source": "s", "destination": "put"},
            {"source": "s", "destination": "sql"},
        ],
    }
    ctl = FlowController(spark, cfg).start()
    try:
        ctl.await_quiesce()
    finally:
        ctl.stop()
    assert spark.read.parquet(out_url).count() == 1
    assert spark.read.parquet(str(tmp_path / "sqlout")).count() == 1


def _stream_src(spark, tmp_path, rows, schema) -> dict:
    """A FileStreamSource processor over ``rows`` staged as parquet."""
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).write.parquet(src)
    return {"id": "src", "type": "FileStreamSource", "properties": {"path": src, "schema": schema}}


def test_streaming_objectstore_put_partition_by(spark, tmp_path):
    """A streaming object-store put lays out ``partition_by`` like the
    batch put: one ``filename=<v>`` directory per value."""
    import os as _os

    from nifi_minifi_cpp_spark.plans.pipeline import FlowController

    sink = tmp_path / "sink"
    cfg = {
        "processors": [
            _stream_src(spark, tmp_path, [("a.txt", "x"), ("b.txt", "y")], "filename string, content string"),
            {"id": "put", "type": "PutS3Object",
             "properties": {"url": f"file://{sink}", "checkpoint": str(tmp_path / "ck"),
                            "partition_by": ["filename"]}},
        ],
        "connections": [{"source": "src", "destination": "put"}],
    }
    ctl = FlowController(spark, cfg).start()
    try:
        ctl.await_quiesce()
    finally:
        ctl.stop()
    assert sorted(e for e in _os.listdir(sink) if not e.startswith(("_", "."))) == [
        "filename=a.txt", "filename=b.txt",
    ]


@pytest.mark.parametrize("bad_first", [True, False])
def test_flow_controller_start_is_all_or_nothing(spark, tmp_path, bad_first):
    """When one streaming sink fails to start, FlowController.start
    stops the queries it already started before re-raising, whichever
    order the sinks are listed in."""
    import os as _os

    from nifi_minifi_cpp_spark.plans.pipeline import FlowController

    view = f"all_or_nothing_{int(bad_first)}_{_os.getpid()}"
    bad = {"id": "put", "type": "PutFile",
           "properties": {"directory": str(tmp_path / "out"), "format": "no_such_format",
                          "checkpoint": str(tmp_path / "ck")}}
    mem = {"id": "mem", "type": "MemorySink", "properties": {"name": view}}
    sinks = [bad, mem] if bad_first else [mem, bad]
    cfg = {
        "processors": [_stream_src(spark, tmp_path, [(1, "a")], "id long, v string"), *sinks],
        "connections": [{"source": "src", "destination": s["id"]} for s in sinks],
    }
    before = {q.id for q in spark.streams.active}
    ctl = FlowController(spark, cfg)
    try:
        with pytest.raises(Exception, match="no_such_format"):
            ctl.start()
        assert ctl.queries == []
        assert {q.id for q in spark.streams.active} <= before
    finally:
        for q in spark.streams.active:
            if q.id not in before:
                q.stop()


def _minimal_sink_props(ptype: str, tmp) -> dict:
    """Smallest properties each sink type compiles with; client
    factories are fakes that compiling never calls."""
    def fake():
        raise AssertionError("a sink client was built at compile time")

    store = {"url": f"file://{tmp}/store", "checkpoint": f"{tmp}/ck"}
    remote = {"client_factory": fake}
    loki = {"url": "http://localhost:9"}
    return {
        "MemorySink": {"name": "sink_table"},
        "OutputPort": {"channel": f"{tmp}/chan", "checkpoint": f"{tmp}/ck"},
        "PostElasticsearch": {"hosts": "http://localhost:9"},
        "PublishKafka": {"brokers": "localhost:9", "topic": "t"},
        "PublishMQTT": {"topic": "t", "client_factory": fake},
        "PushGrafanaLokiGrpc": loki,
        "PushGrafanaLokiREST": loki,
        "PutAzureBlobStorage": store,
        "PutAzureDataLakeStorage": store,
        "PutCouchbaseKey": remote,
        "PutFile": {"directory": f"{tmp}/out", "checkpoint": f"{tmp}/ck"},
        "PutGCSObject": store,
        "PutKinesisStream": {"stream_name": "s", "client_factory": fake},
        "PutS3Object": store,
        "PutSFTP": remote,
        "PutSQL": {"table": "t"},
        "PutSmb": remote,
        "PutTCP": {"host": "localhost", "port": 9},
        "PutUDP": {"host": "localhost", "port": 9},
    }[ptype]


@pytest.mark.parametrize("ptype", sorted(_SINKS))
def test_every_sink_type_defers_on_a_stream(spark, tmp_path, ptype):
    """Every entry of the sink table compiles a streaming input to an
    unstarted writer in ``streaming_sinks``; compiling starts no query."""
    from pyspark.sql.streaming import DataStreamWriter

    cfg = {
        "processors": [
            _stream_src(spark, tmp_path, [("u1", "c1", {"k": "v"})],
                        "uuid string, content string, attributes map<string,string>"),
            {"id": "sink", "type": ptype, "properties": _minimal_sink_props(ptype, tmp_path)},
        ],
        "connections": [{"source": "src", "destination": "sink"}],
    }
    before = {q.id for q in spark.streams.active}
    flow = compile_flow(spark, cfg)
    assert isinstance(flow.streaming_sinks["sink"], DataStreamWriter)
    assert flow.df("sink").isStreaming
    assert {q.id for q in spark.streams.active} == before


def test_fetch_file_relationships_single_read(spark, tmp_path):
    """FetchFile flow processor: consuming both relationships performs
    exactly one read per path (barrier before the split)."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("alpha")
    cfg = {
        "processors": [
            {"id": "ls", "type": "ListFile", "properties": {"pattern": str(d / "*.txt")}},
            {"id": "fetch", "type": "FetchFile"},
        ],
        "connections": [{"source": "ls", "destination": "fetch"}],
    }
    flow = compile_flow(spark, cfg)
    ok = flow.df("fetch", "success")
    bad = flow.df("fetch", "failure")
    # both frames must be consistent even when the file disappears
    # between consumptions — the barrier means one read happened
    assert ok.count() == 1
    import os as _os

    _os.remove(str(d / "a.txt"))
    assert bad.count() == 0  # still the materialized result, not a re-read


def test_output_port_batch_refuses_object_store_schemes(spark, tmp_path):
    """Batch Site-to-Site commit relies on atomic rename; object-store
    schemes without it must fail fast with guidance (VERDICT r4 #3) —
    and the error must fire even without the connector jars on the
    classpath."""
    import pytest as _pytest

    from nifi_minifi_cpp_spark.plans import output_port

    df = spark.createDataFrame([(1,)], "id long")
    for scheme in ("s3a", "gs", "wasbs"):
        with _pytest.raises(ValueError, match="atomic rename"):
            output_port(df, f"{scheme}://bucket/chan")


def test_output_port_batch_refuses_streaming_channel(spark, tmp_path):
    """One mode per channel: a _spark_metadata dir (streaming sink log)
    makes batch txn-* commits invisible to readers, so the batch port
    refuses (ADVICE r4)."""
    import os as _os

    import pytest as _pytest

    from nifi_minifi_cpp_spark.plans import output_port

    channel = str(tmp_path / "chan")
    _os.makedirs(_os.path.join(channel, "_spark_metadata"))
    df = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(ValueError, match="_spark_metadata"):
        output_port(df, channel)


def test_output_port_streaming_refuses_batch_channel(spark, tmp_path):
    """And the converse: a streaming producer on a channel already
    holding batch txn-* commits would shadow them behind its sink log."""
    import os as _os

    import pytest as _pytest

    from nifi_minifi_cpp_spark.plans import output_port
    from nifi_minifi_cpp_spark.streaming import sources as ssrc

    channel = str(tmp_path / "chan")
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    output_port(batch, channel)

    src = str(tmp_path / "src")
    batch.write.parquet(src)
    stream = spark.readStream.schema("id long, v string").parquet(src)
    with _pytest.raises(ValueError, match="one mode per channel"):
        output_port(stream, channel, checkpoint=str(tmp_path / "ck"))


def test_output_port_cleans_leftover_temporary_dir(spark, tmp_path):
    """A leftover _temporary DIRECTORY inside the staging area (from an
    interrupted earlier write) must not abort the publish (ADVICE r4:
    os.remove raised IsADirectoryError). The commit path deletes
    directories recursively via the Hadoop FS."""
    import os as _os

    from nifi_minifi_cpp_spark.plans import input_port, output_port

    channel = str(tmp_path / "chan")
    # first publish: normal
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    output_port(df, channel)
    # second publish against a channel dir that already exists
    output_port(df, channel)
    assert input_port(spark, channel, "id long", streaming=False).count() == 20
    txns = [e for e in _os.listdir(channel) if e.startswith("txn-")]
    assert len(txns) == 2
    # every txn dir holds only part files plus dot-prefixed entries
    # (.crc sidecars the local ChecksumFileSystem hides from listings;
    # Spark readers ignore dotfiles) — no visible markers or dirs
    for t in txns:
        for e in _os.listdir(_os.path.join(channel, t)):
            assert e.startswith(("part-", "part.", ".")), e
            assert not _os.path.isdir(_os.path.join(channel, t, e)), e


def test_publish_staging_strips_temporary_dir(spark, tmp_path):
    """The commit's cleanup phase handles a leftover _temporary
    DIRECTORY inside the staged write (interrupted/speculative tasks)
    — os.remove used to raise IsADirectoryError here (ADVICE r4)."""
    import os as _os

    from nifi_minifi_cpp_spark.plans.ports import _fs_for, _publish_staging

    channel = str(tmp_path / "chan")
    staging_dir = _os.path.join(channel, ".staging-abc")
    _os.makedirs(_os.path.join(staging_dir, "_temporary", "0"))
    for pf in ("part-00000.parquet", "part-00001.parquet"):
        with open(_os.path.join(staging_dir, pf), "wb") as fh:
            fh.write(b"x")
    open(_os.path.join(staging_dir, "_SUCCESS"), "w").close()

    jvm, fs, _ = _fs_for(spark, channel)
    staging = jvm.org.apache.hadoop.fs.Path(staging_dir)
    n = _publish_staging(jvm, fs, staging, channel, "abc")
    assert n == 2
    entries = _os.listdir(_os.path.join(channel, "txn-abc"))
    assert sorted(e for e in entries if not e.startswith(".")) == [
        "part-00000.parquet",
        "part-00001.parquet",
    ]
    assert not _os.path.exists(staging_dir)


def test_environment_variable_parameter_provider(spark, monkeypatch):
    """EnvironmentVariableParameterProvider (PARAMETER_PROVIDERS.md:22):
    a flow resolves #{VAR}-style parameters from a provider-populated
    context; regex + comma-separated inclusion strategies; declared
    parameters override provided ones."""
    from nifi_minifi_cpp_spark.plans.pipeline import (
        parameter_provider_contexts,
        parse_parameter_contexts,
    )

    monkeypatch.setenv("S2S_TEST_HOME", "/home/tester")
    monkeypatch.setenv("S2S_TEST_MODE", "prod")
    monkeypatch.setenv("OTHER_VAR", "nope")

    cfg = {
        "parameter_providers": [
            {
                "type": "EnvironmentVariableParameterProvider",
                "parameter_group_name": "envctx",
                "environment_variable_inclusion_strategy": "regular expression",
                "include_environment_variables": "S2S_TEST_.*",
            }
        ]
    }
    got = parameter_provider_contexts(cfg)
    assert got == {"envctx": {"S2S_TEST_HOME": "/home/tester", "S2S_TEST_MODE": "prod"}}

    # comma-separated strategy picks only the named vars that exist
    cfg2 = {
        "parameter_providers": [
            {
                "type": "EnvironmentVariableParameterProvider",
                "parameter_group_name": "envctx",
                "environment_variable_inclusion_strategy": "comma-separated",
                "include_environment_variables": "S2S_TEST_HOME, MISSING_VAR",
            }
        ]
    }
    assert parameter_provider_contexts(cfg2) == {"envctx": {"S2S_TEST_HOME": "/home/tester"}}

    # declared parameters of the same name win over provided ones, and
    # other contexts can inherit the provider-populated context
    merged = parse_parameter_contexts(
        {
            **cfg,
            "parameter_contexts": [
                {"name": "envctx", "parameters": {"S2S_TEST_MODE": "dev"}},
                {"name": "child", "inherited_parameter_contexts": ["envctx"]},
            ],
        }
    )
    assert merged["envctx"]["S2S_TEST_HOME"] == "/home/tester"
    assert merged["envctx"]["S2S_TEST_MODE"] == "dev"
    assert merged["child"]["S2S_TEST_HOME"] == "/home/tester"

    # end-to-end: a flow property resolves #{S2S_TEST_HOME}
    flow_cfg = {
        **cfg,
        "parameter_context_name": "envctx",
        "processors": [
            {
                "id": "gen",
                "type": "GenerateFlowFile",
                "properties": {"batch_size": 1, "custom_text": "home=#{S2S_TEST_HOME}"},
            },
        ],
        "connections": [],
    }
    rows = compile_flow(spark, flow_cfg).df("gen").collect()
    assert rows[0]["content"] == "home=/home/tester"


def test_parameter_provider_unknown_type_raises():
    from nifi_minifi_cpp_spark.plans.pipeline import parameter_provider_contexts

    with pytest.raises(FlowCompileError, match="unknown parameter provider"):
        parameter_provider_contexts(
            {"parameter_providers": [{"type": "NoSuchProvider", "parameter_group_name": "x"}]}
        )


def test_stage_text_atomic_repairs_torn_stage(spark, tmp_path):
    """Review r5: a stage dir left WITHOUT _SUCCESS by a crashed run
    must be repaired (removed + republished), not silently served."""
    import os as _os

    from nifi_minifi_cpp_spark.entry_queries.text_content_ops import _stage_text_atomic

    stage = str(tmp_path / "stage")
    _os.makedirs(stage)  # torn: exists, no _SUCCESS
    with open(_os.path.join(stage, "part-junk"), "w") as fh:
        fh.write("stale partial data")

    df = spark.createDataFrame([("good",)], "value string")
    _stage_text_atomic(stage, lambda: df.coalesce(1))
    assert _os.path.exists(_os.path.join(stage, "_SUCCESS"))
    contents = []
    for e in _os.listdir(stage):
        if e.startswith("part-") and not e.endswith(".crc"):
            with open(_os.path.join(stage, e)) as fh:
                contents.append(fh.read())
    assert "".join(contents) == "good\n"
    # idempotent second call (healthy stage short-circuits)
    _stage_text_atomic(stage, lambda: (_ for _ in ()).throw(AssertionError("must not rebuild")))


def test_flow_controller_output_port_respects_channel_guard(spark, tmp_path):
    """Review r5: a compiled flow's streaming OutputPort must hit the
    same one-mode-per-channel guard as the direct output_port call."""
    import os as _os

    from nifi_minifi_cpp_spark.plans.pipeline import FlowController

    channel = str(tmp_path / "chan")
    _os.makedirs(_os.path.join(channel, "txn-deadbeef"))  # batch commits live here

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(src)
    cfg = {
        "processors": [
            {"id": "in", "type": "FileStreamSource",
             "properties": {"path": src, "schema": "id long, v string"}},
            {"id": "out", "type": "OutputPort",
             "properties": {"channel": channel, "checkpoint": str(tmp_path / "ck")}},
        ],
        "connections": [{"source": "in", "destination": "out"}],
    }
    with pytest.raises(ValueError, match="one mode per channel"):
        FlowController(spark, cfg).start()


def test_connection_drop_empty_edge(spark):
    """FlowSchema 'drop empty' connection field: zero-byte content is
    dropped on the edge (Connection.h drop-empty flag)."""
    from nifi_minifi_cpp_spark.plans.pipeline import compile_flow

    flow = {
        "processors": [
            {"id": "gen", "type": "GenerateFlowFile",
             "properties": {"batch_size": 4, "custom_text": ""}},
            {"id": "gen2", "type": "GenerateFlowFile",
             "properties": {"batch_size": 3, "custom_text": "keep"}},
            {"id": "log", "type": "LogAttribute"},
        ],
        "connections": [
            {"source": "gen", "destination": "log", "drop empty": "true"},
            {"source": "gen2", "destination": "log", "drop empty": "true"},
        ],
    }
    out = compile_flow(spark, flow).df("log")
    assert out.count() == 3  # the 4 empty-content rows dropped on the edge


def test_connection_flowfile_expiration_edge(spark):
    """Connection.cpp:153-158: now > entryDate + TTL deletes the
    FlowFile at poll time; the Catalyst edge filter is the same check."""
    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.plans.pipeline import _connection_edge

    df = spark.range(2).select(
        F.col("id"),
        F.when(F.col("id") == 0, F.current_timestamp())  # fresh
        .otherwise(F.current_timestamp() - F.expr("INTERVAL 1 HOUR"))  # stale
        .alias("ts"),
        F.lit("x").alias("content"),
    )
    kept = _connection_edge(df, {"flowfile expiration": "10 min"}).collect()
    assert [r.id for r in kept] == [0]
    # 0 = disabled (reference default): nothing dropped
    assert _connection_edge(df, {"flowfile expiration": 0}).count() == 2


def test_get_file_filter_matrix(spark, tmp_path):
    """r15 (GetFile.h:96-158): the full property matrix executes —
    filename regex, hidden-file skip, min/max age and size, batch-size
    cap with oldest-first ordering, recurse toggle, and the
    consume-and-delete mode materializing before the unlink."""
    import os
    import time

    from nifi_minifi_cpp_spark.plans.pipeline import _PROCESSORS as PROCESSORS

    d = tmp_path / "in"
    sub = d / "sub"
    sub.mkdir(parents=True)
    now = time.time()

    (d / "a.txt").write_text("A")
    (d / "b.txt").write_text("B")
    (d / ".hidden.txt").write_text("H")
    (d / "c.log").write_text("C")          # regex-excluded
    (d / "old.txt").write_text("OLD")
    os.utime(d / "old.txt", (now - 3600, now - 3600))
    (d / "big.txt").write_text("X" * 100)  # size-excluded
    (sub / "nested.txt").write_text("N")

    get = PROCESSORS["GetFile"]

    def run(props):
        out = get(spark, None, dict(props, input_directory=str(d)))
        return sorted(r["content"] for r in out["success"].collect())

    base = {
        "File Filter": r".*\.txt",
        "Maximum File Age": "10 min",
        "Maximum File Size": "50",
    }
    # hidden skipped by default; c.log regex-excluded; old.txt too old;
    # big.txt too big; nested.txt included (recurse default true)
    assert run(base) == ["A", "B", "N"]
    # recurse off drops the nested file
    assert run(dict(base, **{"Recurse Subdirectories": "false"})) == ["A", "B"]
    # hidden included on demand
    got = run(dict(base, **{"Ignore Hidden Files": "false"}))
    assert got == ["A", "B", "H", "N"]
    # min size: only the 100-byte file (and max lifted)
    assert run({"File Filter": r".*\.txt", "Minimum File Size": 50}) == ["X" * 100]
    # batch size 2: the two OLDEST mtimes win
    os.utime(d / "a.txt", (now - 60, now - 60))
    os.utime(d / "b.txt", (now - 30, now - 30))
    assert run(dict(base, **{"Batch Size": 2})) == ["A", "B"]
    # min age excludes everything younger than 5 min
    assert run({"File Filter": r".*\.txt", "Minimum File Age": "5 min"}) == ["OLD"]

    # r16 (ADVICE r15): sizes are DATA_SIZE strings (GetFile.h:118-127)
    # — '0 B' maximum means disabled, '50 B' filters like plain 50,
    # and the reference's decimal-K / binary-KB quirk parses
    assert run(dict(base, **{"Maximum File Size": "0 B"})) == ["A", "B", "N", "X" * 100]
    assert run(dict(base, **{"Maximum File Size": "50 B"})) == ["A", "B", "N"]
    assert run({"File Filter": r".*\.txt", "Minimum File Size": "50 B"}) == ["X" * 100]

    # consume-and-delete: output intact, sources gone
    got = run(dict(base, **{"Keep Source File": "false"}))
    assert got == ["A", "B", "N"]
    assert not (d / "a.txt").exists() and not (sub / "nested.txt").exists()
    assert (d / "c.log").exists() and (d / "old.txt").exists()  # unmatched kept


def test_parse_data_size_reference_units():
    """TypedValues.h:108-147 + Literals.h:22-60: bare K/M/G are
    DECIMAL, two-letter KB/MB/GB are BINARY (the reference's
    backwards-compat quirk, preserved verbatim); case-insensitive;
    unknown units warn and fall back to multiplier 1."""
    import warnings

    from nifi_minifi_cpp_spark.streaming.sources import _parse_data_size_bytes as p

    assert p("0 B") == 0
    assert p("1 KB") == 1024
    assert p("1 K") == 1000
    assert p("2 MB") == 2 * 1024**2
    assert p("2 M") == 2_000_000
    assert p("1GB") == 1024**3
    assert p("1 gb") == 1024**3  # case-insensitive
    assert p("10") == 10
    assert p(10) == 10
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert p("5 parsecs") == 5  # compat: warn, multiplier 1
        assert any("parsec" in str(x.message).lower() for x in w)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        p("not a size")
