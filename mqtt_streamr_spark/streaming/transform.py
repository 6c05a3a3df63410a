"""Transform stage: compiled Column when possible, interpreter UDF otherwise.

Mirrors the reference's single --transform option (bin/mqtt-streamr.js:48-51):
the expression is parsed ONCE at pipeline build time (bin:108 parity); per
record it runs either as a Catalyst expression (fast path) or as an
Arrow-batched pandas UDF hosting the Python interpreter (fallback — still
batched, never row-at-a-time Python)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import Column

from mqtt_streamr_spark.jsonata import jsonata
from mqtt_streamr_spark.jsonata.compiler import (
    compile_to_json,
    compile_typed,
    project_to_schema,
    to_json_string,
)
from mqtt_streamr_spark.jsonata.errors import NotCompilable


def transform_to_json(expr: str, payload_col: Column, *,
                      mode: str = "auto",
                      schema: str | None = None,
                      parsed_col: Column | None = None
                      ) -> tuple[Column, str]:
    """Build a Column mapping a JSON-string payload to the transformed
    JSON-string output. Returns (column, backend) where backend is
    'typed', 'compiled' or 'interpreted'.

    mode: 'auto' (try typed/compiled, fall back), 'compiled' (raise if not
    compilable), 'interpreted' (force the UDF).
    schema: optional declared message schema (DDL string). When set, the
    typed fast path compiles over from_json(payload, schema) — struct
    navigation inside whole-stage codegen instead of variant expression
    eval. Fields outside the schema read as undefined.
    parsed_col: ``try_parse_json(payload_col)`` when the caller already
    has it (the bridge parses once for validity); the compiled backend
    then navigates that variant instead of parsing the payload again.

    Backend cost model (r8): 'auto' is not "compiled wherever possible"
    but "the measured-fastest correct backend per construct class"
    (crossover measured on the events corpus, COVERAGE.md /
    compiler.py:_desc_matches_variant):

        typed (schema given)           ~19 us/row  — always first choice
        Arrow interpreter              ~33 us/row
        compiled VARIANT, descendants  ~50-100 us/row (non-codegen
                                        expression eval; bare ** ~2x **.k)
        compiled VARIANT, shallow      fastest (whole-stage codegen
                                        around parse-once variant nav)

    So with NO schema and a ``**`` (descendants) step anywhere in the
    expression, auto picks the interpreter; every other schemaless
    expression still prefers the compiled path. The rule deliberately
    does NOT extend to deep dynamic walks: an 8-level variant path
    measured COMPILED 2.4 s vs interpreter 5.1 s over 100k rows at
    sf0.1 (r8) — ordinary variant navigation stays cheap in the JVM;
    only the per-node descendant recursion crosses over.
    ``mode='compiled'`` bypasses the model (the plan-assertion queries
    use it to prove the compiled descendants machinery). The pin is
    tested per construct class in
    tests/test_streaming.py::test_auto_backend_cost_model.
    """
    if mode not in ("auto", "compiled", "interpreted"):
        raise ValueError(
            f"transform mode {mode!r} not in auto/compiled/interpreted"
        )
    parsed = jsonata(expr)  # parse errors surface at build time, like bin:108
    if schema is not None and mode in ("auto", "compiled"):
        try:
            tc = compile_typed(
                parsed.ast, F.from_json(payload_col, schema), schema
            )
            return to_json_string(tc), "typed"
        except NotCompilable:
            pass  # fall through to the variant path, then the interpreter
    if mode == "auto" and _contains_node_type(parsed.ast, "descendants"):
        return _interpreted_udf(expr)(payload_col), "interpreted"
    if mode in ("auto", "compiled"):
        try:
            if parsed_col is None:
                parsed_col = F.try_parse_json(payload_col)
            col = compile_to_json(parsed.ast, parsed_col,
                                  raw_col=payload_col)
            return col, "compiled"
        except NotCompilable:
            if mode == "compiled":
                raise
    return _interpreted_udf(expr)(payload_col), "interpreted"


def transform_typed_struct(expr: str, source_col: Column, *, schema: str,
                           out_schema: str) -> tuple[Column, str]:
    """TYPED transform over an already-STRUCTURED message column, output
    projected to ``out_schema`` — the struct-direct equivalent of

        out, b = transform_to_json(expr, F.to_json(source_col),
                                   schema=schema)   # b == "typed"
        F.from_json(out, out_schema)

    with the two serialize/parse round-trips deleted (guide §4: for a
    message that starts life as typed columns, to_json -> from_json ->
    transform -> to_json -> from_json is four Jackson passes per row of
    pure overhead; Catalyst additionally collapses the transform's
    ``getField(struct(...))`` navigation into the source columns, so the
    whole transform runs on the original columns inside codegen). The
    round-trip is lossless for the supported shapes, so results are
    bit-identical (pinned by the old-vs-new parity suite); ``source_col``
    must carry exactly the field types ``schema`` declares.

    Returns ``(column, "typed")``; raises ``NotCompilable`` when the
    expression needs a fallback backend (those callers keep the JSON
    surface — the fallbacks are defined over JSON payloads)."""
    parsed = jsonata(expr)
    tc = compile_typed(parsed.ast, source_col, schema)
    return project_to_schema(tc, out_schema), "typed"


def _contains_node_type(node, node_type: str) -> bool:
    """True if any node of the parsed AST has the given type — the
    construct detector behind the auto-mode cost model."""
    if isinstance(node, dict):
        if node.get("type") == node_type:
            return True
        return any(_contains_node_type(v, node_type) for v in node.values())
    if isinstance(node, (list, tuple)):  # object-constructor pairs are tuples
        return any(_contains_node_type(v, node_type) for v in node)
    return False


def seeded_transform_to_json(expr: str, payload_col: Column,
                             seed_col: Column) -> Column:
    """Interpreter-backend transform with PER-ROW seeded
    ``$random``/``$shuffle`` (engine extension; see
    jsonata.interpreter.SeededLCG for the pinned algorithm). The seed
    column makes the spec's nondeterministic functions reproducible —
    and therefore oracle-checkable — per row; everything else matches
    the unseeded interpreter exactly. Arrow-batched pandas UDF, fully
    distributed, map-only."""
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    jsonata(expr)  # parse errors surface at build time

    active = SparkSession.getActiveSession()
    if active is not None:
        from mqtt_streamr_spark.shipping import ensure_shipped

        ensure_shipped(active)

    @pandas_udf("string")
    def _transform(payloads, seeds):  # type: ignore[no-untyped-def]
        import pandas as pd

        from mqtt_streamr_spark.jsonata import jsonata as _jsonata
        from mqtt_streamr_spark.jsonata.values import UNDEFINED

        compiled = _jsonata(expr)

        def one(payload, seed):
            if payload is None or seed is None:
                return None
            try:
                value = json.loads(payload)
            except (ValueError, TypeError):
                return None
            try:
                result = compiled.evaluate(value, seed=int(seed))
            except Exception:
                return None
            if result is UNDEFINED:
                return None
            return json.dumps(result, separators=(",", ":"),
                              ensure_ascii=False)

        return pd.Series(
            [one(p, s) for p, s in zip(payloads, seeds)]
        )

    return _transform(payload_col, seed_col)


def infer_message_schema(df, payload_col: str = "payload",
                         sample_rows: int | None = 10_000) -> str:
    """Infer a message-schema DDL from observed payloads, for feeding
    ``transform_to_json(schema=...)`` / ``PipelineSpec.message_schema`` —
    the bridge from schemaless ingestion to the TYPED compile path
    (struct navigation inside whole-stage codegen, the fastest backend).

    Uses Spark's own JSON schema inference (the same machinery as
    ``spark.read.json``) over up to ``sample_rows`` payloads
    (None = all). At 100 TB infer on the bounded sample ONCE and treat
    the result as a declared contract: ``from_json`` is PERMISSIVE, so
    fields absent from the inferred schema read as undefined and
    type-mismatched rows null out — same semantics as a hand-declared
    schema, documented in compile_typed. Rows whose payload is NULL or
    invalid JSON are ignored by inference (they are dropped by the
    pipeline's invalid-drop stage anyway)."""
    ds = df.select(F.col(payload_col).cast("string").alias("payload"))
    if sample_rows is not None:
        ds = ds.limit(sample_rows)
    spark = ds.sparkSession
    inferred = spark.read.json(
        ds.rdd.map(lambda r: r["payload"]).filter(lambda s: s is not None)
    ).schema
    # spark.read.json adds a corrupt-record column when some sampled rows
    # are invalid JSON — that column is inference noise, not a field
    corrupt = spark.conf.get(
        "spark.sql.columnNameOfCorruptRecord", "_corrupt_record"
    )
    fields = [f for f in inferred.fields if f.name != corrupt]
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fields
    )


def _interpreted_udf(expr: str):
    """Arrow-batched fallback. The expression string (not the AST closure)
    is captured so the UDF pickles cheaply to executors; each executor
    parses once per python worker."""

    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    # Workers must be able to import this package (the harness loads the
    # repo from a bare directory). MUST happen before the UDF object is
    # built: pyspark snapshots the python-includes list at creation time.
    active = SparkSession.getActiveSession()
    if active is not None:
        from mqtt_streamr_spark.shipping import ensure_shipped

        ensure_shipped(active)

    @pandas_udf("string")
    def _transform(payloads):  # type: ignore[no-untyped-def]
        import pandas as pd

        from mqtt_streamr_spark.jsonata import jsonata as _jsonata
        from mqtt_streamr_spark.jsonata.values import UNDEFINED

        compiled = _jsonata(expr)

        def one(payload):
            if payload is None:
                return None
            try:
                value = json.loads(payload)
            except (ValueError, TypeError):
                return None
            try:
                result = compiled.evaluate(value)
            except Exception:
                return None
            if result is UNDEFINED:
                return None
            return json.dumps(result, separators=(",", ":"),
                              ensure_ascii=False)

        return pd.Series([one(p) for p in payloads])

    return _transform
