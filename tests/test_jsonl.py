"""JSONL source: schema-on-read parsing, corrupt capture, quarantine
(sources/jsonl.py)."""

import json
import os

from pyspark.sql import functions as F

from feature_extraction_spark.sources.jsonl import (
    TRANSCRIPT_DDL,
    parse_jsonl,
    quarantine,
    read_jsonl,
)


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))


def test_read_jsonl_good_and_corrupt(spark, tmp_path):
    good = {
        "conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hi",
        "tool": None, "ts": "2026-01-01T00:00:00Z",
    }
    lines = [
        json.dumps(good),
        '{"conv_id": "c2", "turn_idx": ',  # truncated -> corrupt
        json.dumps({**good, "conv_id": "c3", "turn_idx": 1}),
    ]
    p = str(tmp_path / "t.jsonl")
    _write_lines(p, lines)
    df = read_jsonl(spark, p)
    rows = df.collect()
    assert len(rows) == 3
    by_conv = {r["conv_id"]: r for r in rows}
    assert by_conv["c1"]["role"] == "user" and by_conv["c1"]["_corrupt"] is None
    assert by_conv["c3"]["turn_idx"] == 1
    corrupt = [r for r in rows if r["_corrupt"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["_corrupt"].startswith('{"conv_id": "c2"')


def test_quarantine_splits_and_drops_column(spark, tmp_path):
    p = str(tmp_path / "t.jsonl")
    _write_lines(
        p,
        [
            '{"conv_id": "a", "turn_idx": 0, "role": "user", "text": "x"}',
            "not json at all",
        ],
    )
    good, bad = quarantine(read_jsonl(spark, p))
    assert good.count() == 1 and "_corrupt" not in good.columns
    assert bad.collect()[0]["raw"] == "not json at all"


def test_parse_jsonl_column_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, '{"conv_id": "c", "turn_idx": 3, "role": "assistant", '
             '"text": "ok", "tool": null, "ts": "2026-01-01T00:00:00Z"}'),
         (2, "garbage{")],
        "src_id int, json string",
    )
    out = parse_jsonl(df)
    rows = {r["src_id"]: r for r in out.collect()}
    assert rows[1]["conv_id"] == "c" and rows[1]["_corrupt"] is None
    assert rows[1]["role"] == "assistant"
    assert rows[2]["conv_id"] is None and rows[2]["_corrupt"] == "garbage{"


def test_read_jsonl_no_inference_prepass(spark, tmp_path):
    """Explicit schema: the reader must not scan the input to infer
    (schema equality is the observable)."""
    p = str(tmp_path / "t.jsonl")
    _write_lines(p, ['{"conv_id": "a"}'])
    df = read_jsonl(spark, p)
    assert [f.name for f in df.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "_corrupt"
    ]


def test_parse_jsonl_custom_schema_and_structtype(spark):
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    st = StructType([
        StructField("a", LongType()), StructField("b", StringType()),
    ])
    df = spark.createDataFrame(
        [('{"a": 4, "b": "z"}',)], "json string"
    )
    out = parse_jsonl(df, schema=st).collect()[0]
    assert out["a"] == 4 and out["b"] == "z" and out["_corrupt"] is None


def test_streaming_jsonl_ingestion_with_quarantine(spark, tmp_path):
    """readStream.text + parse_jsonl + quarantine in foreachBatch: good
    rows land in the table, corrupt raw lines in the dead-letter dir —
    identical semantics to the batch reader."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    _write_lines(
        os.path.join(src, "a.jsonl"),
        [
            '{"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hi"}',
            "broken{",
            '{"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "yo"}',
        ],
    )
    good_dir = str(tmp_path / "good")
    bad_dir = str(tmp_path / "bad")

    def sink(batch, batch_id):
        g, b = quarantine(parse_jsonl(batch, json_col="value"))
        g.write.mode("append").parquet(good_dir)
        b.write.mode("append").parquet(bad_dir)

    stream = spark.readStream.text(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    good = spark.read.parquet(good_dir)
    assert good.count() == 2
    assert {r["role"] for r in good.collect()} == {"user", "assistant"}
    bad = spark.read.parquet(bad_dir)
    assert [r["raw"] for r in bad.collect()] == ["broken{"]

def test_parse_jsonl_nested_structtype_schema(spark):
    # ADVICE r4: simpleString surgery mangled nested colons; the corrupt
    # field is now appended structurally, so nested schemas parse
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField(
                "meta",
                StructType([StructField("turns", IntegerType())]),
            ),
            StructField(
                "tags",
                ArrayType(
                    StructType([StructField("name", StringType())])
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            ('{"conv_id":"c1","meta":{"turns":3},"tags":[{"name":"a"}]}',),
            ("not json",),
        ],
        "json string",
    )
    out = parse_jsonl(df, schema=schema).collect()
    good = [r for r in out if r["_corrupt"] is None]
    bad = [r for r in out if r["_corrupt"] is not None]
    assert len(good) == 1 and len(bad) == 1
    assert good[0]["meta"]["turns"] == 3
    assert good[0]["tags"][0]["name"] == "a"
    assert bad[0]["_corrupt"] == "not json"


def test_parse_jsonl_wrong_type_keeps_partial_result(spark):
    """Valid JSON with a field of the wrong type (the registry's
    jsonl_parse_events %89 class): PERMISSIVE keeps the partial result.
    The mismatched field is NULL, every other field is recovered, and the
    corrupt column carries the raw line. Malformed JSON, by contrast,
    recovers no field."""
    badtype = '{"event_id": 178, "event_type": "click", "user_id": "x42"}'
    nested = '{"event_id": 267, "event_type": "view", "user_id": {"id": 7}}'
    good = '{"event_id": 3, "event_type": "buy", "user_id": 9}'
    truncated = '{"event_id'
    df = spark.createDataFrame(
        [(1, badtype), (2, nested), (3, good), (4, truncated)],
        "src_id int, json string",
    )
    out = parse_jsonl(df, schema="event_id bigint, event_type string, user_id bigint")
    assert out.columns == ["src_id", "event_id", "event_type", "user_id", "_corrupt"]
    rows = {r["src_id"]: tuple(r)[1:] for r in out.collect()}
    assert rows[1] == (178, "click", None, badtype)
    assert rows[2] == (267, "view", None, nested)
    assert rows[3] == (3, "buy", 9, None)
    assert rows[4] == (None, None, None, truncated)
