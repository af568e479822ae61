"""clp_s analog: schema inference, schema-id routing, structural round trip
(reference test-clp_s-end_to_end.cpp:187-259 compress->extract->structural
JSON equality)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clp_spark.plans import pipeline as P
from clp_spark.plans.ingest import logtype_dict_frame, search_archives
from clp_spark.plans.semistructured import (
    TIMESTAMP_KEYS,
    infer_json_schema,
    ingest_json,
    ingest_json_archive,
    leaf_paths,
    numeric_ts_leaf_paths,
    schema_table,
)
from clp_spark.sources.jsonlogs import load_jsonlogs

SF_DIR = "/root/testdata/sf0.001"


def _manifest_file(out):
    with open(os.path.join(out, "_manifest.json")) as f:
        return json.load(f)


def _manifest_oracle(spark, out):
    """The manifest read back from the written records/: row count, distinct
    schema ids, and [min, max] per date path (epoch ms) and per
    numeric-epoch timestamp path (raw values) that holds a value."""
    written = spark.read.parquet(os.path.join(out, "records"))
    rec = written.schema["rec"].dataType
    date_paths = [
        p for p in leaf_paths(rec)
        if p.rsplit(".", 1)[-1].lower() in TIMESTAMP_KEYS
        and isinstance(written.select(F.col(f"rec.{p}")).schema[0].dataType, T.TimestampType)
    ]

    def ranges(cols):
        if not cols:
            return {}
        row = written.agg(*(f(c) for c in cols.values() for f in (F.min, F.max))).first()
        return {
            p: [row[2 * i], row[2 * i + 1]] for i, p in enumerate(cols) if row[2 * i] is not None
        }

    m = {
        "n_records": written.count(),
        "n_schemas": written.select("schema_id").distinct().count(),
    }
    if date_paths:
        m["timestamp_ranges"] = ranges({p: F.unix_millis(F.col(f"rec.{p}")) for p in date_paths})
    numeric = ranges({p: F.col(f"rec.{p}") for p in numeric_ts_leaf_paths(rec)})
    if numeric:
        m["numeric_ts_ranges"] = numeric
    return m


@pytest.fixture(scope="module")
def parsed(spark):
    return ingest_json(spark, load_jsonlogs(spark, SF_DIR)).persist()


def test_schema_ids_partition_records(spark, parsed):
    groups = parsed.groupBy("schema_id", "schema_keys").count().collect()
    assert len(groups) == 4  # four record shapes in the corpus
    # id is a pure function of the key set
    assert len({g["schema_id"] for g in groups}) == 4


def test_schema_table_projects_only_its_leaves(spark, parsed):
    keys = parsed.select("schema_keys").distinct().collect()
    some = sorted(r["schema_keys"] for r in keys)[0]
    tbl = schema_table(parsed, some)
    assert set(tbl.columns) == {"event_id"} | {c.replace(".", "_") for c in some.split(",")}
    assert tbl.count() > 0
    # no null leaves inside a schema's own table
    for c in tbl.columns:
        assert tbl.filter(F.col(c).isNull()).count() == 0


def _strip_nulls(d):
    if isinstance(d, dict):
        return {k: _strip_nulls(v) for k, v in d.items() if v is not None}
    if isinstance(d, list):
        return [_strip_nulls(x) for x in d]
    return d


def test_structural_roundtrip(spark, parsed):
    """to_json(from_json(x)) must be structurally identical to x (key order
    and float formatting normalized via python json)."""
    back = parsed.select("event_id", "json", F.to_json("rec").alias("rejson")).collect()
    for r in back:
        a = _strip_nulls(json.loads(r["json"]))
        b = _strip_nulls(json.loads(r["rejson"]))
        assert a == b, (r["event_id"], a, b)


def test_inference_merges_all_shapes(spark):
    df = load_jsonlogs(spark, SF_DIR)
    schema = infer_json_schema(spark, df, "json")
    assert set(leaf_paths(schema)) == {
        "component", "err.code", "err.msg", "host", "latency_ms",
        "level", "metric", "note", "tags", "value",
    }


def test_clpstring_typing_and_roundtrip(spark):
    """clp_s string typing rule (JsonParser.cpp:557-583): space -> ClpString
    (full CLP encode), else VarString (single dictionary variable); both
    decode back byte-exactly through the shared dictionaries."""
    from clp_spark.plans.semistructured import (
        VARSTRING_LOGTYPE_ID,
        decode_json_strings,
        encode_json_strings,
        infer_json_schema,
        json_string_store,
        parse_json,
    )
    from clp_spark.sources.jsonlogs import load_jsonlogs

    df = load_jsonlogs(spark, "/root/testdata/sf0.001")
    schema = infer_json_schema(spark, df, "json")
    store = json_string_store(parse_json(df, "json", schema), schema)
    encoded = encode_json_strings(store).persist()

    kinds = {r["kind"] for r in encoded.select("kind").distinct().collect()}
    assert kinds == {"clp", "var"}  # corpus exercises both typings
    # ClpString rows: the `note` values (contain spaces) with real templates
    clp_rows = encoded.filter("kind = 'clp'")
    assert clp_rows.filter(f"logtype_id = {VARSTRING_LOGTYPE_ID}").count() == 0
    assert clp_rows.filter("size(encoded_vars) = 0").count() == 0

    lt, vd = logtype_dict_frame(encoded), P.build_var_dict(encoded)
    dec = decode_json_strings(encoded, lt, vd)
    bad = dec.join(store, ["event_id", "path"]).filter("text != value").count()
    assert bad == 0
    assert dec.count() == store.count()
    encoded.unpersist()


def test_clpstring_search_matches_raw_values(spark):
    from pyspark.sql import functions as F

    from clp_spark.plans.semistructured import (
        encode_json_strings,
        infer_json_schema,
        json_string_store,
        parse_json,
        search_json_strings,
    )
    from clp_spark.sources.jsonlogs import load_jsonlogs

    df = load_jsonlogs(spark, "/root/testdata/sf0.001")
    schema = infer_json_schema(spark, df, "json")
    store = json_string_store(parse_json(df, "json", schema), schema)
    encoded = encode_json_strings(store).persist()
    lt, vd = logtype_dict_frame(encoded), P.build_var_dict(encoded)

    got = {
        (r["event_id"], r["path"])
        for r in search_json_strings(encoded, lt, vd, "host h1*").collect()
    }
    want = {
        (r["event_id"], r["path"])
        for r in store.filter(F.col("value").rlike(".*host h1.*")).collect()
    }
    assert got == want and got
    # WontMatch early-out inside JSON strings
    assert search_json_strings(encoded, lt, vd, "zz_nope_zz").count() == 0
    encoded.unpersist()


def test_varstring_search_finds_inner_tokens(spark):
    """A space-free value is a VarString: ONE dictionary variable under the
    bare placeholder template, so the query's inner tokens (cut on '=',
    ':', '/') are not its variables. The encoded-variable needles must not
    drop such rows."""
    from clp_spark.plans.semistructured import (
        encode_json_strings,
        search_json_strings,
    )

    values = ["http://host:8080/x", "a=user42=b", "b=user42 c=8080 d"]
    store = spark.createDataFrame(
        [(i, "v", v) for i, v in enumerate(values)], "event_id long, path string, value string"
    )
    encoded = encode_json_strings(store).persist()
    lt, vd = logtype_dict_frame(encoded), P.build_var_dict(encoded)

    def hits(q):
        return sorted(r["event_id"] for r in search_json_strings(encoded, lt, vd, q).collect())

    assert hits("host:8080/") == [0]
    assert hits("a=user42=b") == [1]
    assert hits("=user42=") == [1]
    assert hits(" c=8080 ") == [2]
    assert hits("user43") == []
    encoded.unpersist()


def test_infer_json_schema_is_rdd_free_and_sampled(spark):
    """VERDICT r1 item 9: inference must not round-trip the corpus through
    a Python RDD; it samples via LIMIT + driver-local parallelize."""
    from clp_spark.plans.semistructured import infer_json_schema, merge_schemas
    from clp_spark.sources.jsonlogs import load_jsonlogs
    from pyspark.sql import types as T

    df = load_jsonlogs(spark, "/root/testdata/sf0.001")
    schema = infer_json_schema(spark, df, "json", sample_rows=64)
    names = {f.name for f in schema.fields}
    assert {"level", "err", "tags", "metric"} <= names

    # registry merge: a prior schema keeps keys the sample misses
    prior = T.StructType([T.StructField("rare_key", T.StringType())])
    merged = infer_json_schema(spark, df, "json", sample_rows=8, prior=prior)
    assert "rare_key" in {f.name for f in merged.fields}

    a = T.StructType([T.StructField("x", T.LongType()),
                      T.StructField("s", T.StructType([T.StructField("a", T.LongType())]))])
    b = T.StructType([T.StructField("x", T.StringType()),
                      T.StructField("s", T.StructType([T.StructField("b", T.LongType())]))])
    m = merge_schemas(a, b)
    assert m["x"].dataType == T.StringType()  # conflict widens to string
    assert {f.name for f in m["s"].dataType.fields} == {"a", "b"}


def test_projection_prunes_from_json_schema(spark):
    """schema_subset makes from_json parse ONLY the projected fields — the
    clp_s projection pushdown expressed in the plan (at 100TB, parsing
    unused JSON fields is pure waste)."""
    from clp_spark.plans.semistructured import (
        infer_json_schema,
        parse_json,
        project_json,
        schema_subset,
    )

    df = load_jsonlogs(spark, SF_DIR)
    schema = infer_json_schema(spark, df, "json")
    sub = schema_subset(schema, ["err.*", "level"])
    assert {f.name for f in sub.fields} == {"err", "level"}
    parsed = parse_json(df, "json", sub).select("event_id", "rec")
    out = project_json(parsed, ["err.*", "level"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus-synthesis SQL mentions every key; assert on the from_json
    # expression itself: its schema must contain only the projected fields
    i = plan.find("from_json(")
    frag = plan[i : plan.find("CASE", i)]  # the from_json SCHEMA args
    assert "StructField(err" in frag and "StructField(level" in frag
    assert "note" not in frag and "latency_ms" not in frag  # never parsed
    row = out.filter("err_msg IS NOT NULL").first()
    assert row["err_msg"] == "timeout" and row["level"] == "ERROR"


def test_json_archive_roundtrip_and_search(spark, tmp_path):
    """On-disk clp_s archive: per-schema-bucket records + string dicts, and a
    manifest equal to a read-back of records/; search_archives over one
    archive, and over two archives of disjoint halves of the input, matches
    raw-value grep without opening records/; bucket partition pruning is
    visible in the plan."""
    df = load_jsonlogs(spark, SF_DIR)
    out = str(tmp_path / "jarch")
    m = ingest_json_archive(spark, df, out)
    assert m["n_records"] == df.count() and m["n_schemas"] == 4
    assert _manifest_file(out) == m == _manifest_oracle(spark, out)

    def hits(dirs):
        found = search_archives(spark, dirs, "retry 1 of", key_cols=("event_id", "path"))
        assert not [f for f in found.inputFiles() if "/records/" in f]
        return {(r["event_id"], r["path"]) for r in found.collect()}

    want = {
        (r["event_id"], "note")
        for r in df.filter(F.get_json_object("json", "$.note").rlike(".*retry 1 of.*")).collect()
    }
    assert hits([out]) == want and want

    halves = []
    for i in range(2):
        halves.append(str(tmp_path / f"half{i}"))
        ingest_json_archive(spark, df.filter(F.col("event_id") % 2 == i), halves[-1])
    assert hits(halves) == want

    rec = spark.read.parquet(out + "/records").filter(F.col("schema_bucket") == 3)
    plan = rec._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_json_archive_ingest_job_count(spark, tmp_path):
    """A warm ingest_json_archive on sf0.001 runs at most 12 Spark jobs: the
    manifest comes from an Observation on the records write and nothing is
    read back."""
    df = load_jsonlogs(spark, SF_DIR)
    out = str(tmp_path / "jarch")
    ingest_json_archive(spark, df, out)
    sc = spark.sparkContext
    group = "json-archive-ingest"
    sc.setJobGroup(group, group)
    try:
        ingest_json_archive(spark, df, out)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 12


def test_json_archive_manifest_survives_torn_rewrite(spark, tmp_path, monkeypatch):
    """Re-ingesting into an existing JSON archive while the manifest write
    fails part-way leaves the previous manifest readable, so KQL search
    over the archive still works."""
    import os

    from clp_spark.plans.semistructured import ingest_json_archive, search_json_archives_kql

    df = load_jsonlogs(spark, SF_DIR).limit(200)
    out = str(tmp_path / "jarch")
    first = ingest_json_archive(spark, df, out)

    def torn_dump(obj, f, **kw):
        text = json.dumps(obj, **kw)
        f.write(text[: len(text) // 2])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        ingest_json_archive(spark, df, out)
    monkeypatch.undo()

    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f) == first
    assert search_json_archives_kql(spark, [out], 'level: "ERROR"').count() > 0


def test_partitioned_inference_sees_late_keys(spark):
    """ADVICE r2: archive ingest must not silently drop a key that first
    appears after the global sample window. Per-partition sampling sees a
    key that only exists deep in a late partition."""
    import json as _json

    from clp_spark.plans.semistructured import (
        infer_json_schema,
        infer_json_schema_partitioned,
    )

    rows = [
        _json.dumps({"a": i} if i < 2600 else {"a": i, "late_key": "x"})
        for i in range(3000)
    ]
    # 4 ordered partitions deterministically: parallelize slices in order
    rdd = spark.sparkContext.parallelize([(r,) for r in rows], 4)
    df = spark.createDataFrame(rdd, "json string")

    sampled = infer_json_schema(spark, df, "json")  # first 2048 rows only
    assert "late_key" not in {f.name for f in sampled.fields}
    full = infer_json_schema_partitioned(spark, df, "json", per_partition=512)
    assert "late_key" in {f.name for f in full.fields}


def test_encode_json_strings_single_scan(spark):
    """VERDICT r2 item 7: the typing split must NOT scan the upstream parse
    twice. The plan contains exactly one scan of the source."""
    from clp_spark.plans.semistructured import (
        encode_json_strings,
        infer_json_schema,
        json_string_store,
        parse_json,
    )

    df = load_jsonlogs(spark, SF_DIR)
    schema = infer_json_schema(spark, df, "json")
    store = json_string_store(parse_json(df, "json", schema), schema)
    encoded = encode_json_strings(store)
    plan = encoded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan
    # kinds follow the typing rule exactly
    assert encoded.filter("kind = 'clp'").count() > 0
    assert encoded.filter("kind = 'var' AND size(dict_vars) != 1").count() == 0
    assert (
        encoded.filter("kind = 'var' AND dict_vars[0] LIKE '% %'").count() == 0
    )


def test_datestring_typing_and_roundtrip(spark):
    """VERDICT r2 item 5 (clp_s JsonParser.cpp:557-583 DateString rule):
    timestamp-named string keys become TimestampType fields; unparseable
    values fall back to the raw sidecar; decode is byte-exact either way."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from clp_spark.plans.semistructured import (
        date_leaf_paths,
        decode_json_dates,
        infer_json_schema,
        parse_json,
        type_json_dates,
    )

    rows = [
        ('{"meta": {"timestamp": "2016-05-08 07:10:03"}, "msg": "a"}',),
        ('{"meta": {"timestamp": "1462692845123"}, "msg": "b"}',),  # epoch-ms
        ('{"meta": {"timestamp": "pending"}, "msg": "c"}',),  # unparseable
        ('{"msg": "d"}',),  # key absent
    ]
    df = spark.createDataFrame(rows, "json string")
    schema = infer_json_schema(spark, df, "json")
    assert date_leaf_paths(schema) == ["meta.timestamp"]
    typed = type_json_dates(parse_json(df, "json", schema), schema)
    fld = typed.select(F.col("rec.meta.timestamp").alias("t")).schema["t"]
    assert isinstance(fld.dataType, T.TimestampType)
    got = typed.select(
        F.col("rec.msg").alias("msg"),
        F.unix_millis(F.col("rec.meta.timestamp")).alias("ms"),
        "__datefmt_0",
        "__dateraw_0",
    ).collect()
    by = {r["msg"]: r for r in got}
    assert by["a"]["ms"] == 1462691403000 and by["a"]["__datefmt_0"] >= 0
    assert by["b"]["ms"] == 1462692845123
    assert by["c"]["ms"] is None and by["c"]["__dateraw_0"] == "pending"
    assert by["d"]["ms"] is None and by["d"]["__dateraw_0"] is None

    back = decode_json_dates(typed, schema)
    vals = {r["msg"]: r["t"] for r in back.select(
        F.col("rec.msg").alias("msg"),
        F.col("rec.meta.timestamp").alias("t")).collect()}
    assert vals == {"a": "2016-05-08 07:10:03", "b": "1462692845123",
                    "c": "pending", "d": None}


def test_json_archive_timestamp_index_prunes(spark, tmp_path):
    """Archive-level timestamp index (TimestampEntry + EvaluateTimestampIndex):
    manifests record per-date-path min/max; a KQL date range that cannot
    intersect an archive's range means that archive's parquet is NEVER
    opened (inputFiles assert), while results stay exact."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from clp_spark.plans.semistructured import (
        archive_may_match,
        ingest_json_archive,
        search_json_archives_kql,
    )

    def mk(hour, n=40):
        rows = [
            (i, '{"meta": {"timestamp": "2016-05-08 %02d:%02d:%02d"}, '
                '"level": "%s"}' % (hour, i % 60, (i * 7) % 60,
                                    "ERROR" if i % 4 == 0 else "INFO"))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "event_id long, json string")

    d1, d2 = str(tmp_path / "a07"), str(tmp_path / "a19")
    m1 = ingest_json_archive(spark, mk(7), d1)
    m2 = ingest_json_archive(spark, mk(19), d2)
    for d, m in ((d1, m1), (d2, m2)):
        assert _manifest_file(d) == m == _manifest_oracle(spark, d)
    assert "meta.timestamp" in m1["timestamp_ranges"]
    lo, hi = m1["timestamp_ranges"]["meta.timestamp"]
    assert lo <= hi and str(lo)[:2] == "14"

    q = ('level: "ERROR" and meta.timestamp >= date("2016-05-08 07:00:00")'
         ' and meta.timestamp <= date("2016-05-08 07:59:59")')
    with open(os.path.join(d2, "_manifest.json")) as f:
        assert not archive_may_match(_json.load(f), q)
    out = search_json_archives_kql(spark, [d1, d2], q)
    assert all("a19" not in p for p in out.inputFiles())
    rows = out.select("event_id").collect()
    assert sorted(r["event_id"] for r in rows) == [i for i in range(40) if i % 4 == 0]

    # a range covering both archives scans both
    q_all = 'meta.timestamp >= date("2016-05-08 00:00:00")'
    both = search_json_archives_kql(spark, [d1, d2], q_all)
    assert both.count() == 80
    files = both.inputFiles()
    assert any("a07" in p for p in files) and any("a19" in p for p in files)

    # disjoint on every archive: no parquet data read at all
    none = search_json_archives_kql(
        spark, [d1, d2], 'meta.timestamp < date("2015-01-01 00:00:00")'
    )
    assert none.count() == 0


def test_json_archive_formatted_float_roundtrip_and_search(spark, tmp_path):
    """FormattedFloat/DictionaryFloat (VERDICT r3 item 4): float leaves
    round-trip BYTE-EXACTLY through the archive — valid formats via the
    16-bit descriptor, invalid ones via the raw fallback (reference
    fixtures test_{valid,invalid}_formatted_float.jsonl,
    clp_s/ColumnWriter.hpp:102-133) — and numeric KQL search over the typed
    double column matches the reference's search semantics
    (test_search_formatted_float.jsonl)."""
    from clp_spark.plans.semistructured import (
        decode_json_floats,
        float_sidecars,
        infer_json_schema,
        ingest_json_archive,
        search_json_archives_kql,
    )

    # texts drawn from the reference fixtures: descriptor-representable,
    # dictionary-fallback, and plain
    texts = [
        "-1.000000E3", "-1.000000E-2", "0.000000E+000", "3E3", "2.000000",
        "123456789.000", "1.234567891234567E+0009", "0.00",
        "123456789.123456789",          # >17 sig digits -> raw fallback
        "1.2345678912345679e+13",       # non-754 literal -> raw fallback
        "0.000000E010",                 # zero w/ nonzero exp -> raw fallback
        "0.0000000000000001",
    ]
    rows = [
        (i, '{"idx": %d, "fv": %s, "msg": "m %d"}' % (i, t, i))
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "event_id long, json string")
    out = str(tmp_path / "farch")
    schema = infer_json_schema(spark, df, "json")
    ingest_json_archive(spark, df, out, schema=schema)

    rec = spark.read.parquet(out + "/records")
    # sidecar columns landed; descriptor vs fallback split is the
    # reference's exact split on these fixtures
    (_, fmt_c, raw_c) = float_sidecars(schema)[0]
    got = {r["i"]: (r["f"], r["r"]) for r in rec.select(
        F.col("rec.idx").alias("i"), F.col(fmt_c).alias("f"), F.col(raw_c).alias("r")
    ).collect()}
    fallback_idx = {8, 9, 10}
    for i, t in enumerate(texts):
        fmt, raw = got[i]
        if i in fallback_idx:
            assert fmt == -1 and raw == t, (i, t, fmt, raw)
        else:
            assert fmt >= 0 and raw is None, (i, t, fmt, raw)

    # byte-exact decode for EVERY row, both kinds
    dec = decode_json_floats(rec, schema)
    back = {r["i"]: r["t"] for r in dec.select(
        F.col("rec.idx").alias("i"), F.col("rec.fv").alias("t")
    ).collect()}
    assert back == {i: t for i, t in enumerate(texts)}

    # numeric search over the typed double column (reference
    # clp-s-search-formatted-float: value comparisons, format-agnostic)
    hits = search_json_archives_kql(spark, [out], "fv >= 3000")
    assert sorted(r["idx"] for r in hits.select("idx").collect()) == [3, 5, 6, 8, 9]
    hits2 = search_json_archives_kql(spark, [out], 'fv < 0 AND msg: "m 0"')
    assert [r["idx"] for r in hits2.select("idx").collect()] == [0]


def test_json_archive_numeric_epoch_timestamp_index(spark, tmp_path):
    """Numeric-epoch timestamp keys (VERDICT r3 item 5): int/float-valued
    timestamp-named keys feed the archive ts index RAW (reference
    TimestampEntry.hpp:58-93, no unit conversion) and are searched
    NUMERICALLY (test-clp_s-search.cpp:297-343 over
    test_search_{int,float}_timestamp.jsonl); an out-of-range archive's
    parquet is never opened."""
    import json as _json
    import os

    from clp_spark.plans.semistructured import (
        archive_may_match,
        ingest_json_archive,
        search_json_archives_kql,
    )

    # the reference int fixture values: epoch-ms 1759417024100/200/300
    def mk(offset_ms, n=3):
        rows = [
            (i, '{"idx": %d, "timestamp": %d}' % (i, 1759417024100 + offset_ms + i * 100))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "event_id long, json string")

    d1, d2 = str(tmp_path / "near"), str(tmp_path / "far")
    m1 = ingest_json_archive(spark, mk(0), d1)
    ingest_json_archive(spark, mk(10**9), d2)
    assert _manifest_file(d1) == m1 == _manifest_oracle(spark, d1)
    assert m1["numeric_ts_ranges"]["timestamp"] == [1759417024100, 1759417024300]

    # the reference's own query set (clp-s-search-epoch-timestamp)
    q = "timestamp > 1759417024100 AND timestamp < 1759417024300"
    with open(os.path.join(d2, "_manifest.json")) as f:
        assert not archive_may_match(_json.load(f), q)
    out = search_json_archives_kql(spark, [d1, d2], q)
    assert all("far" not in p for p in out.inputFiles())
    assert sorted(r["idx"] for r in out.select("idx").collect()) == [1]
    assert search_json_archives_kql(
        spark, [d1, d2], "timestamp > 1759417024299.9"
    ).count() == 4  # idx 2 of the near archive + all 3 far rows

    # float-epoch (seconds, reference float fixture): raw values, same path
    def mkf(n=3):
        rows = [
            (i, '{"idx": %d, "timestamp": %s}' % (i, f"17594170{24 + i}.{i + 1}"))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "event_id long, json string")

    d3 = str(tmp_path / "float")
    m3 = ingest_json_archive(spark, mkf(), d3)
    assert _manifest_file(d3) == m3 == _manifest_oracle(spark, d3)
    lo, hi = m3["numeric_ts_ranges"]["timestamp"]
    assert abs(lo - 1759417024.1) < 1e-6 and abs(hi - 1759417026.3) < 1e-6
    got = search_json_archives_kql(
        spark, [d3], "timestamp > 1759417024.1 AND timestamp < 1759417026.3"
    )
    assert sorted(r["idx"] for r in got.select("idx").collect()) == [1]
    # disjoint numeric range: the archive is provably unmatchable
    with open(os.path.join(d3, "_manifest.json")) as f:
        assert not archive_may_match(_json.load(f), "timestamp < 1759417000")


def test_json_archive_array_dict(spark, tmp_path):
    """Encoded array store (clp_s archive_constants array.dict): array
    values leave the records table for their own dictionary; array search
    parses DICT entries only; decode re-attaches values exactly."""
    from pyspark.sql import functions as F

    from clp_spark.plans.semistructured import (
        decode_json_arrays,
        infer_json_schema,
        ingest_json_archive,
        parse_json,
        search_json_archive_arrays,
    )

    df = load_jsonlogs(spark, SF_DIR)
    out = str(tmp_path / "jarch")
    ingest_json_archive(spark, df, out)

    rec = spark.read.parquet(out + "/records")
    # arrays are nulled in records...
    assert rec.filter(F.col("rec.tags").isNotNull()).count() == 0
    # ...and live deduped in the dict (one distinct serialized array here)
    adict = spark.read.parquet(out + "/array_dict")
    store = spark.read.parquet(out + "/array_store")
    n_with_tags = df.filter(F.get_json_object("json", "$.tags").isNotNull()).count()
    assert adict.count() == 1 and store.count() == n_with_tags
    assert adict.first()["n_occurrences"] == n_with_tags

    got = {r["event_id"] for r in
           search_json_archive_arrays(spark, out, "tags", "slow").collect()}
    want = {r["event_id"] for r in
            df.filter(F.get_json_object("json", "$.tags").isNotNull()).collect()}
    assert got == want and got

    # decode: re-attached arrays equal the original parse
    schema = infer_json_schema(spark, df, "json")
    orig = parse_json(df, "json", schema).select(
        "event_id", F.col("rec.tags").alias("tags")
    )
    back = decode_json_arrays(rec, store, schema).select(
        "event_id", F.col("rec.tags").alias("tags")
    )
    assert back.exceptAll(orig).count() == 0 and orig.exceptAll(back).count() == 0
