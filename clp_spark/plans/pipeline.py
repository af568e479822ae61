"""The parse -> encode -> enrich -> route -> aggregate plan.

Spark-first re-expression of CLP's compression path
(reference walk: clp/clp/FileCompressor.cpp -> clp/streaming_archive/writer/
Archive.cpp:299-316 write_msg -> EncodedVariableInterpreter.hpp:317-336):

  raw turns --mapInArrow(tokenize+encode+hash)--> parsed  (ids born in-UDF)
      parsed --groupBy--> logtype dictionary, var dictionary (content-hash ids)
      parsed --broadcast join--> role/tool enrichment
      parsed --pmod(logtype_id, n_buckets)--> per-logtype-bucket sinks,
             written partition-local (no shuffle; plans/ingest.py)
      parsed --groupBy--> per-logtype / per-tool / per-conversation counts

The way back is plans/grep.decode, the one decode: templates (and a
collectible var dictionary) travel in one broadcast (_dict_broadcast) and
every batch renders through render_vec.render_arrow, the same batch render
roundtrip_mismatch_count folds its compare into.

Design-for-scale notes:
  * dictionary IDs are content hashes (functions/hash64.py, computed inside
    the parse UDF over the flat byte buffers), not first-seen dense ids —
    dense assignment needs a global ordered shuffle; content hashing is
    embarrassingly parallel, deterministic across retries/executors, and
    collision-safe to ~1e9 distinct entries (birthday p < 3%); the dictionary
    tables keep (id, string) so round-trip decode never depends on luck.
    Hashing in-UDF (not JVM xxhash64) lets the ids-only hot path
    (parse_encode_ids) skip materializing template/variable strings through
    Arrow entirely.
  * per-turn work happens once in ONE Arrow-batched UDF; everything after is
    whole-stage-codegen column ops (no Python in the agg/join/route path).
  * the logtype distribution is Zipfian (one hot template >= 40% of rows);
    because the bucket column is derived in place rather than shuffled on,
    a hot logtype stays spread over the input splits instead of landing on
    one straggler task; AQE skew-join covers the read side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..caching import DRIVER_VALUES
from ..functions.tokenizer import _template_parts


def ts_millis(ts_col: str) -> Column:
    """Epoch millis from a timestamp column. The cast normalizes
    TIMESTAMP_NTZ (parquet isAdjustedToUTC=false) to session-tz instants;
    the session is pinned to UTC (clp_spark/session.py) so this matches
    DuckDB's naive-as-UTC epoch_ms semantics."""
    return F.unix_millis(F.col(ts_col).cast("timestamp"))


PARSED_EXTRA_FIELDS = [
    StructField("logtype", StringType()),
    StructField("var_types", ArrayType(IntegerType())),
    StructField("dict_vars", ArrayType(StringType())),
    StructField("logtype_id", LongType()),
    StructField("dict_var_ids", ArrayType(LongType())),
    StructField("encoded_vars", ArrayType(LongType())),
]

_ENCODED_STRUCT = StructType(PARSED_EXTRA_FIELDS)


def parse_encode(transcripts: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenize + encode every turn's text (one Arrow-NATIVE pass).

    mapInArrow: input text bytes come straight from the Arrow string
    buffers, outputs (template strings, dict-var strings, id/encoded
    arrays) are built as Arrow arrays from numpy buffers, and passthrough
    columns are copied at the Arrow level — NO pandas object columns
    anywhere ("vectorized pandas/Arrow UDFs ... never per-row Python").
    Adds: logtype, var_types, dict_vars (slot-ordered), and the
    content-hash ids logtype_id / dict_var_ids / encoded_vars (dict slots
    filled with ids — the ragged-array layout of reference
    File.hpp:257-259, kept per row). Ids are hashed INSIDE the UDF over
    the flat byte buffers (functions/hash64.py) — hashing JVM-side would
    only re-read the very strings whose transfer the ids exist to avoid.
    For the messages-only path use parse_encode_ids, which skips
    materializing template/variable strings entirely.
    """
    import pyarrow as pa

    out_schema = StructType(
        [f for f in transcripts.schema.fields] + PARSED_EXTRA_FIELDS
    )
    names = [f.name for f in out_schema.fields]
    in_names = [f.name for f in transcripts.schema.fields]
    text_idx = in_names.index(text_col)

    def run(batches):
        from clp_spark.functions.tokenizer_vec import encode_full_arrow

        for b in batches:
            enc = encode_full_arrow(b.column(text_idx))
            arrays = [b.column(i) for i in range(b.num_columns)] + [
                enc["logtype"], enc["var_types"], enc["dict_vars"],
                enc["logtype_id"], enc["dict_var_ids"], enc["encoded_vars"],
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return transcripts.mapInArrow(run, schema=out_schema)


def parse_encode_ids(transcripts: DataFrame, text_col: str = "text") -> DataFrame:
    """Ids-only parse for the parsed+routed hot path: adds ONLY
    (logtype_id, encoded_vars) via an Arrow-native mapInArrow pass.

    Exactly the reference message layout (File.hpp:257-259): the message
    store never carries template/variable STRINGS — those belong to the
    dictionaries. Avoiding their materialization cuts the parse stage's
    Arrow traffic by ~an order of magnitude, which is what keeps N->4N
    scaling efficient on bandwidth-bound executors. Passthrough columns are
    copied at the Arrow level (no Python objects)."""
    import pyarrow as pa

    out_schema = StructType(
        [f for f in transcripts.schema.fields]
        + [
            StructField("logtype_id", LongType()),
            StructField("encoded_vars", ArrayType(LongType())),
        ]
    )
    names = [f.name for f in out_schema.fields]
    in_names = [f.name for f in transcripts.schema.fields]

    def run(batches):
        from clp_spark.functions.tokenizer_vec import encode_ids_arrow

        for b in batches:
            lid, ev = encode_ids_arrow(b.column(in_names.index(text_col)))
            arrays = [b.column(i) for i in range(b.num_columns)] + [lid, ev]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return transcripts.mapInArrow(run, schema=out_schema)


def var_kinds(logtype: str | None) -> list[int]:
    """Placeholder-kind sequence of a template (0x11/0x12/0x13 per var)."""
    return [ord(k) for k in _template_parts(logtype or "")[1]]


def build_var_dict(parsed: DataFrame) -> DataFrame:
    """Variable dictionary: (var_id, var_str, n_occurrences).

    Analog of reference VariableDictionaryWriter (clp/VariableDictionaryWriter.cpp:11-41).
    """
    return (
        parsed.select(
            F.explode(F.arrays_zip("dict_var_ids", "dict_vars")).alias("v")
        )
        .groupBy(
            F.col("v.dict_var_ids").alias("var_id"),
            F.col("v.dict_vars").alias("var_str"),
        )
        .agg(F.count("*").alias("n_occurrences"))
        .select("var_id", "var_str", "n_occurrences")
    )


def enrich(parsed: DataFrame, dim_role: DataFrame, dim_tool: DataFrame) -> DataFrame:
    """Broadcast-hash enrich (analog of CLP var-dict lookup joins,
    SURVEY.md §2.3; dims are tiny, never shuffled)."""
    return parsed.join(F.broadcast(dim_role), "role", "left").join(
        F.broadcast(dim_tool), "tool", "left"
    )


def encoded_messages(parsed: DataFrame) -> DataFrame:
    """The encoded-message store — exactly the reference 3-column layout
    (ts, logtype_id, vars[]; File.hpp:257-259) plus transcript keys. No
    per-row type/id metadata: variable kinds live in the logtype dictionary
    (one entry per template), so dict ids are recovered by zipping
    encoded_vars with the template's var_kinds at decode."""
    return parsed.select(
        "conv_id", "turn_idx", "ts", "role", "tool", "logtype_id", "encoded_vars",
    )


def per_logtype_counts(parsed: DataFrame) -> DataFrame:
    return parsed.groupBy("logtype").agg(F.count("*").alias("cnt"))


def per_tool_counts(enriched: DataFrame) -> DataFrame:
    return enriched.groupBy("tool", "tool_family", "cost_class").agg(
        F.count("*").alias("cnt")
    )


def per_conversation_counts(parsed: DataFrame) -> DataFrame:
    return parsed.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.min(ts_millis("ts")).alias("first_ts_ms"),
        F.max(ts_millis("ts")).alias("last_ts_ms"),
    )


def count_by_time(df: DataFrame, bucket_ms: int = 3_600_000, ts_col: str = "ts") -> DataFrame:
    """Tumbling count-by-time with reference bucket semantics
    bucket = (ts_ms / B) * B, integer division
    (reference clp/clo/OutputHandler.hpp:271-273)."""
    bucket = F.expr(f"unix_millis(cast({ts_col} as timestamp)) div {bucket_ms}") * F.lit(bucket_ms)
    return df.groupBy(bucket.alias("bucket_ms")).agg(F.count("*").alias("cnt"))


def logtype_table(messages: DataFrame, logtype_dict: DataFrame, logtype: str) -> DataFrame:
    """glt-style per-logtype pivot: one table per template with the ragged
    variable array pivoted to real columns (ts, keys, var_0..var_{n-1}) —
    the Spark analog of glt's LogtypeTable
    (reference glt/streaming_archive/writer/LogtypeTable.hpp:13-76).

    The template string resolves to its content-hash id driver-side (no
    scan); the filter + array-index projection is pure codegen, and on a
    bucket-partitioned messages sink the logtype_id filter prunes files via
    parquet min-max/dictionary stats.
    """
    n_vars = len(var_kinds(logtype))
    lid_row = logtype_dict.filter(F.col("logtype") == logtype).select("logtype_id").first()
    if lid_row is None:
        base = messages.filter(F.lit(False))
    else:
        base = messages.filter(F.col("logtype_id") == lid_row["logtype_id"])
    return base.select(
        "conv_id",
        "turn_idx",
        "ts",
        *[F.col("encoded_vars").getItem(i).alias(f"var_{i}") for i in range(n_vars)],
    )


def parse_encode_with_schema(
    transcripts: DataFrame, schema, text_col: str = "text"
) -> DataFrame:
    """Schema-file (grok) variant of parse_encode: user variable patterns
    instead of the built-in heuristic (reference write_msg_using_schema,
    clp/streaming_archive/writer/Archive.cpp:318-451). Same output columns,
    same downstream pipeline."""

    @F.pandas_udf(_ENCODED_STRUCT)
    def schema_udf(texts: pd.Series) -> pd.DataFrame:
        from clp_spark.functions.grok import encode_batch_schema
        from clp_spark.functions.hash64 import add_id_columns

        pdf = add_id_columns(encode_batch_schema(texts, schema))
        return pdf[
            ["logtype", "var_types", "dict_vars", "logtype_id", "dict_var_ids", "encoded_vars"]
        ]

    return transcripts.withColumn("_enc", schema_udf(F.col(text_col))).select(
        "*", "_enc.*"
    ).drop("_enc")


def _dict_broadcast(spark, logtype_rows, var_rows):
    """Broadcast pre-built decode structures (templates split once, var
    dictionary as sorted arrays) — executors never re-derive them per task.
    Session-cached by dictionary content, so repeated decodes of one archive
    ship it once instead of leaking a broadcast per query."""
    from ..functions.render_vec import DictLookup, TemplateTable

    lt, vd = tuple(logtype_rows), tuple(var_rows)
    return DRIVER_VALUES.get_or_load(
        ("dict_broadcast", lt, vd),
        lambda: spark.sparkContext.broadcast((TemplateTable(lt), DictLookup(vd))),
    )


def roundtrip_mismatch_count(
    spark,
    messages: DataFrame,
    logtype_rows,
    var_rows,
    text_col: str = "text",
) -> DataFrame:
    """Round-trip verify with the compare FOLDED INTO the decode pass.

    The decode measured at the Python-Arrow BRIDGE floor (an identity
    mapInArrow is slower than the decode itself — BASELINE.md r3), so the
    only way left to go faster is to ship fewer bytes: here only
    (text, logtype_id, encoded_vars) crosses into Python, the rendered
    strings are compared against the originals INSIDE the batch (one Arrow
    kernel), and a single int64 per partition crosses back — decoded
    strings, key and ts columns never ride the bridge at all. This is the
    co-streamed verify the reference decompressor does against its input
    (clp/streaming_archive/reader/Archive.cpp:163-195 order guarantee).
    Returns a 1-row DataFrame (mismatches bigint)."""
    bc = _dict_broadcast(spark, logtype_rows, var_rows)
    out_schema = StructType([StructField("mismatches", LongType())])

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from clp_spark.functions.render_vec import render_arrow

        templates, vd = bc.value
        total = 0
        for b in batches:
            texts = render_arrow(b.column(1), b.column(2), templates, vd)
            # null orig vs rendered text counts as a mismatch (fill True)
            neq = pc.fill_null(pc.invert(pc.equal(texts, b.column(0))), True)
            total += pc.sum(pc.cast(neq, pa.int64())).as_py() or 0
        yield pa.RecordBatch.from_arrays(
            [pa.array([total], type=pa.int64())], ["mismatches"]
        )

    per_part = messages.select(text_col, "logtype_id", "encoded_vars").mapInArrow(
        run, schema=out_schema
    )
    return per_part.agg(F.sum("mismatches").alias("mismatches"))
