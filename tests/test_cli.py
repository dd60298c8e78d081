"""CLI parity test: the `python -m json2hbase_spark` surface mirrors
the reference utility's one-pass JSON→HBase ETL (SURVEY.md §3.1)."""

from __future__ import annotations

import json
from collections import Counter

import pyarrow.parquet as pq

from json2hbase_spark.__main__ import run


def test_cli_end_to_end(spark, tmp_path):
    src = tmp_path / "docs.jsonl"
    src.write_text(
        "\n".join(
            [
                json.dumps({"id": 1, "name": "alice", "addr": {"city": "oslo"}, "tags": ["a", "b"]}),
                json.dumps({"id": 2, "name": "bob", "addr": {"city": None}, "tags": []}),
            ]
        )
    )
    out = tmp_path / "table"
    status = run(
        [
            "--input", str(src),
            "--rowkey", "id",
            "--output", str(out),
            "--regions", "2",
        ]
    )
    assert status["cells"] == 7  # null city and empty tags emit nothing

    cells = {
        (r.rowkey, r.qualifier): r.value
        for r in spark.read.parquet(str(out)).collect()
    }
    assert cells[("1", "addr.city")] == "oslo"
    assert cells[("1", "tags.0")] == "a"
    assert cells[("1", "tags.1")] == "b"
    assert ("2", "addr.city") not in cells
    assert cells[("2", "name")] == "bob"


def _nested_corpus(tmp_path):
    """Objects, arrays of objects, null leaves, empty arrays and a key
    containing '.', over enough documents to fill several regions."""
    docs = [
        {
            "id": i,
            "name": None if i % 7 == 0 else f"user{i}",
            "addr": {"city": None if i % 5 == 0 else f"c{i % 3}", "geo": {"lat": i / 4, "lon": None}},
            "orders": [{"sku": f"s{i}-{j}", "qty": j or None} for j in range(i % 4)],
            "tags": [f"t{j}" for j in range(i % 3)],
            "v.1": f"dot{i}" if i % 2 else None,
        }
        for i in range(1, 61)
    ]
    src = tmp_path / "nested.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs))
    return src


def _run_nested(src, out):
    return run(["--input", str(src), "--rowkey", "id", "--output", str(out), "--regions", "4"])


def test_cli_writes_exactly_the_flattened_cells(spark, tmp_path):
    from json2hbase_spark.operators.flatten import kv_flatten
    from json2hbase_spark.operators.hbase import derive_rowkey

    src = _nested_corpus(tmp_path)
    out = tmp_path / "table"
    status = _run_nested(src, out)

    keyed = spark.read.json(str(src)).withColumn("__rowkey", derive_rowkey("id"))
    expected = Counter(tuple(r) for r in kv_flatten(keyed, "__rowkey", cf="d").collect())
    cols = ("rowkey", "cf", "qualifier", "value")
    files = sorted(out.glob("*.parquet"))
    tables = [pq.read_table(f, columns=list(cols)) for f in files]
    written = Counter(
        cell for t in tables for cell in zip(*(t.column(c).to_pylist() for c in cols))
    )
    assert written == expected
    assert ("1", "d", "v\\.1", "dot1") in written  # '.' in a key is escaped
    assert status["cells"] == spark.read.parquet(str(out)).count() == sum(expected.values())
    # no rowkey is split across region files
    per_file = [set(t.column("rowkey").to_pylist()) for t in tables]
    assert len(per_file) > 1
    assert sum(map(len, per_file)) == len(set().union(*per_file)) == 60


def test_cli_run_job_budget(spark, tmp_path):
    """A warm run() launches at most four Spark jobs: schema inference,
    range sample, document shuffle, and flatten + sort + write. A second
    flatten pass or a read-back of the table shows up here."""
    src = _nested_corpus(tmp_path)
    _run_nested(src, tmp_path / "warm")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    _run_nested(src, tmp_path / "table")
    assert dag.nextJobId() - first <= 4


def test_avro_lite_spec_roundtrip():
    """Pure-python Avro codec: zig-zag edge values, unicode strings,
    IEEE double bit-exactness, both required codecs, multi-block
    files, and rejection of corrupt sync markers."""
    import math
    import struct

    import pytest

    from json2hbase_spark.operators.avro_lite import (
        read_container,
        record_schema,
        write_container,
    )

    schema = record_schema(
        "t", [("k", "long"), ("s", "string"), ("i", "int"), ("d", "double")]
    )
    rows = [
        (0, "", 0, 0.0),
        (-1, "a", -1, -0.0),
        (2**62, "émü ✓ é", -(2**31) + 1, 1e308),
        (-(2**62), "x" * 300, 2**31 - 1, 5e-324),
        (63, "zig", 64, math.pi),
    ]
    for codec in ("null", "deflate"):
        data = write_container(schema, iter(rows), codec=codec, block_rows=2)
        fields, back = read_container(data)
        assert [n for n, _ in fields] == ["k", "s", "i", "d"]
        assert len(back) == len(rows)
        for want, got in zip(rows, back):
            assert want[:3] == got[:3]
            assert struct.pack("<d", want[3]) == struct.pack("<d", got[3])
    corrupt = bytearray(write_container(schema, iter(rows), block_rows=100))
    corrupt[-1] ^= 0xFF  # trailing sync byte
    with pytest.raises(ValueError, match="sync"):
        read_container(bytes(corrupt))


def test_avro_lite_write_validation():
    """Writer-side validation (ADVICE r11): unknown codecs fail AT
    WRITE instead of stamping their name over an uncompressed payload,
    and out-of-range ints fail at write instead of emitting >10-byte
    varints only this codec could read back."""
    import pytest

    from json2hbase_spark.operators.avro_lite import (
        record_schema,
        write_container,
    )

    schema = record_schema("t", [("k", "long"), ("i", "int")])
    with pytest.raises(ValueError, match="unsupported codec"):
        write_container(schema, iter([(1, 1)]), codec="snappy")
    with pytest.raises(ValueError, match="int64"):
        write_container(schema, iter([(2**63, 0)]))
    with pytest.raises(ValueError, match="int64"):
        write_container(schema, iter([(-(2**63) - 1, 0)]))
    with pytest.raises(ValueError, match="int32"):
        write_container(schema, iter([(0, 2**31)]))
    # boundary values still round-trip
    from json2hbase_spark.operators.avro_lite import read_container

    ok = [(2**63 - 1, 2**31 - 1), (-(2**63), -(2**31))]
    _, back = read_container(write_container(schema, iter(ok)))
    assert back == ok
