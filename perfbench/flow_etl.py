"""The ``flow_etl`` entry: one YAML flow compiled by ``plans.pipeline.compile_flow``.

It runs as one more entry of the ``iterative_builders`` closed loop. Its
work is in *execute* (code-generated EL, regex and JSON, and real parquet
writes by the eager ``PutFile`` sinks) with no build-time jobs, so it is
that workload's control for build-layer changes and the measure of the
``plans`` layer.

    TableSource -> UpdateAttribute -> RouteOnAttribute
      errors -> ExtractText -> ReplaceText -> PutFile
      big    -> AttributesToJSON -> PutFile
"""

from __future__ import annotations

from pathlib import Path

import duckdb

import inputs

ROWS = 20_000
ROWS_TINY = 2_000

FLOW = """
processors:
  - {id: src, type: TableSource, properties: {table: events, sf_dir: "%(src)s"}}
  - id: tag
    type: UpdateAttribute
    properties:
      severity: "${status:startsWith('5'):ifElse('high', 'low')}"
      host_uc: "${host:toUpper()}"
  - id: route
    type: RouteOnAttribute
    properties:
      errors: "${event_type:equals('error')}"
      big: "${value:gt(900)}"
  - {id: extract, type: ExtractText, properties: {attribute: code, regex: '"status": "([0-9]+)"'}}
  - id: redact
    type: ReplaceText
    properties: {replacement_strategy: regex_replace, search_value: 'h[0-9]+', replacement_value: host-x}
  - {id: put_errors, type: PutFile, properties: {directory: "%(out)s/errors"}}
  - {id: tojson, type: AttributesToJSON, properties: {attributes_list: [event_type, severity, host_uc]}}
  - {id: put_big, type: PutFile, properties: {directory: "%(out)s/big"}}
connections:
  - {source: src, destination: tag}
  - {source: tag, destination: route}
  - {source: route, relationship: errors, destination: extract}
  - {source: extract, destination: redact}
  - {source: redact, destination: put_errors}
  - {source: route, relationship: big, destination: tojson}
  - {source: tojson, destination: put_big}
"""

# Expected outputs, computed by DuckDB from the generated events alone:
# per relationship the row count and order-free checksums of the content
# and of the attribute the branch sets.
_SEVERITY = "CASE WHEN json_extract_string(props, '$.status') LIKE '5%' THEN 'high' ELSE 'low' END"
_EXPECTED = {
    "errors": """
        SELECT count(*), bit_xor(hash(regexp_replace(props, 'h[0-9]+', 'host-x', 'g'))),
               bit_xor(hash(regexp_extract(props, '"status": "([0-9]+)"', 1)))
        FROM events WHERE event_type = 'error'""",
    "big": f"""
        SELECT count(*),
               bit_xor(hash('{{"event_type":"' || event_type || '","severity":"' || {_SEVERITY}
                             || '","host_uc":"' || upper(json_extract_string(props, '$.host'))
                             || '"}}')),
               bit_xor(hash({_SEVERITY}))
        FROM events WHERE value > 900""",
}
_ACTUAL = {
    "errors": """
        SELECT count(*), bit_xor(hash(content)), bit_xor(hash(attributes['code.1'][1]))
        FROM read_parquet('%s/*.parquet')""",
    "big": """
        SELECT count(*), bit_xor(hash(content)), bit_xor(hash(attributes['severity'][1]))
        FROM read_parquet('%s/*.parquet')""",
}


class FlowEntry:
    def __init__(self, tiny: bool):
        self.rows = ROWS_TINY if tiny else ROWS

    def generate(self, seed: int, inputs_dir: Path) -> None:
        self.src = inputs_dir / "events"
        self.out = inputs_dir / "flow-out"
        inputs.events_table(seed, self.rows, self.src / "events.parquet")
        self._expected = None

    def config(self) -> str:
        return FLOW % {"src": self.src, "out": self.out}

    def run(self, spark) -> None:
        from nifi_minifi_cpp_spark.plans.pipeline import compile_flow

        compile_flow(spark, self.config())

    def check(self) -> bool:
        """The flow's parquet output against DuckDB over its input."""
        con = duckdb.connect()
        try:
            if self._expected is None:
                con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.src}/events.parquet'")
                self._expected = {rel: con.sql(sql).fetchone() for rel, sql in _EXPECTED.items()}
            return all(
                con.sql(_ACTUAL[rel] % (self.out / rel)).fetchone() == self._expected[rel]
                for rel in _ACTUAL
            )
        finally:
            con.close()
