"""Multi-format reader tests over the golden fixtures (FIXTURES.md §B),
asserting the reference's record shapes (SURVEY §2.1).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dynamic_etl_pipeline_spark.ingest import (
    read_any,
    read_csv,
    read_docx,
    read_json,
    read_pdf,
    read_txt,
    read_xml,
)
from dynamic_etl_pipeline_spark.ingest.readers import promote_xml_attrs


def test_csv_reader(spark, fixtures_dir):
    df = read_csv(spark, str(fixtures_dir / "customers.csv"))
    assert df.count() == 10
    assert "Customer Id" in df.columns and "Email" in df.columns
    # real types survive inference (no all-string coercion)
    assert dict(df.dtypes)["Index"] == "int"


def test_json_reader_heterogeneous(spark, fixtures_dir):
    df = read_json(spark, str(fixtures_dir / "records.json"))
    assert df.count() == 5
    assert set(df.columns) == {"id", "name", "score", "tag", "extra"}
    # missing keys surface as nulls (dict-absence -> NULL mapping)
    assert df.filter(F.col("tag").isNull()).count() == 1
    assert df.filter(F.col("extra").isNotNull()).count() == 1


def test_txt_reader_skips_blank_lines(spark, fixtures_dir):
    df = read_txt(spark, str(fixtures_dir / "notes.txt"))
    rows = df.orderBy("line_no").collect()
    assert all(r["content"].strip() for r in rows)
    assert rows[0]["content"].startswith("Meeting notes")
    # 8 physical lines, 3 blank -> 5 non-empty (app.py:219 filter)
    assert len(rows) == 5


def test_python_workers_import_package_outside_repo_root(fixtures_dir,
                                                        tmp_path):
    """A local[N] session started outside the repo root, with the
    package on sys.path only, must still run a Python kernel: its
    workers start in the session's cwd, so they find the package only
    through the PYTHONPATH get_spark hands them (read_txt's
    encoding-sniffing mapInPandas kernel is the probe)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from dynamic_etl_pipeline_spark.ingest import read_txt\n"
        "from dynamic_etl_pipeline_spark.session import get_spark\n"
        "spark = get_spark('outside-root', 'local[2]')\n"
        f"print('LINES', read_txt(spark, {str(fixtures_dir / 'notes.txt')!r})"
        ".count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "LINES 5" in out.stdout, out.stderr[-3000:]


def test_txt_reader_latin1_fallback(spark, fixtures_dir):
    df = read_txt(spark, str(fixtures_dir / "notes_latin1.txt"))
    contents = [r["content"] for r in df.orderBy("line_no").collect()]
    assert contents[0].startswith("Café résumé")
    assert any("münchen" in c for c in contents)


def test_xml_reader_attrs_and_text(spark, fixtures_dir):
    df = read_xml(spark, str(fixtures_dir / "catalog.xml"))
    rows = df.orderBy("child_no").collect()
    assert len(rows) == 6
    assert rows[0]["attrs"] == {"sku": "A100", "price": "9.99"}
    assert rows[0]["_text"] == "Widget of quality"
    assert rows[5]["tag"] == "misc"
    wide = promote_xml_attrs(df)
    assert {"sku", "price", "note", "_text"} <= set(wide.columns)
    assert wide.filter(F.col("sku") == "A100").first()["price"] == "9.99"


def test_pdf_reader_plumbing(spark, tmp_path):
    # defined inside the test so cloudpickle ships it by value (executors
    # cannot import the test module)
    def fake_pdf_extractor(raw: bytes) -> list[str]:
        return raw.decode("utf-8").split("\f")

    p = tmp_path / "doc.pdf"
    p.write_bytes("page one text\fpage two text\f\f".encode())
    df = read_pdf(spark, str(p), extractor=fake_pdf_extractor, keep_empty=True)
    rows = df.orderBy("page_no").collect()
    assert [r["page_no"] for r in rows] == [0, 1, 2, 3]
    assert rows[1]["content"] == "page two text"


def test_docx_reader_plumbing_filters_empty(spark, tmp_path):
    p = tmp_path / "doc.docx"
    p.write_bytes("para one\n\npara two\n".encode())
    df = read_docx(
        spark, str(p), extractor=lambda raw: raw.decode("utf-8").split("\n")
    )
    rows = df.orderBy("para_no").collect()
    # empty paragraph dropped (app.py:197)
    assert [r["content"] for r in rows] == ["para one", "para two"]


def test_pdf_reader_end_to_end_no_injected_extractor(spark, fixtures_dir):
    """Real committed PDF, vendored pure-Python extractor (no pypdf).

    Parity: reference app.py:184-191 extracts page-by-page text."""
    df = read_pdf(spark, str(fixtures_dir / "sample_classic.pdf"))
    rows = df.orderBy("page_no").collect()
    assert [r["page_no"] for r in rows] == [0, 1, 2]
    assert rows[0]["content"].startswith("Invoice (No. 42) for ACME Corp")
    assert "Hex encoded line" in rows[1]["content"]
    assert rows[2]["content"] == "Third page first line\nquoted line"


def test_docx_reader_end_to_end_no_injected_extractor(spark, fixtures_dir):
    """Real committed DOCX, stdlib extractor; blanks dropped (app.py:197)."""
    df = read_docx(spark, str(fixtures_dir / "sample.docx"))
    rows = df.orderBy("para_no").collect()
    texts = [r["content"] for r in rows]
    assert texts[0] == "First paragraph of the contract."
    assert texts[-1] == "Signed in duplicate."
    assert all(t.strip() for t in texts)  # empty paragraph filtered
    assert not any("cell text" in t for t in texts)  # table text excluded


def test_read_any_dispatches_pdf_and_docx(spark, fixtures_dir):
    assert read_any(spark, str(fixtures_dir / "sample_classic.pdf")).count() == 3
    assert read_any(spark, str(fixtures_dir / "sample.docx")).count() == 3


def test_pdf_reader_malformed_input_raises(spark, tmp_path):
    p = tmp_path / "doc.pdf"
    p.write_bytes(b"this is not a pdf at all")
    with pytest.raises(Exception, match="not a PDF"):
        read_pdf(spark, str(p)).collect()


def test_read_any_dispatch(spark, fixtures_dir):
    assert read_any(spark, str(fixtures_dir / "customers.csv")).count() == 10
    assert read_any(spark, str(fixtures_dir / "notes.txt")).count() == 5
    with pytest.raises(ValueError, match="Unsupported file format"):
        read_any(spark, "file.xyz")


def test_jsonl_writer_roundtrips_through_reader(spark, tmp_path):
    from dynamic_etl_pipeline_spark.ingest.readers import read_json
    from dynamic_etl_pipeline_spark.ingest.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, "alice", ["a@x.com"]), (2, "bob", [])],
        "id long, name string, emails array<string>",
    )
    out = str(tmp_path / "recs_jsonl")
    write_jsonl(df, out)
    back = read_json(spark, out)
    got = {(r["id"], r["name"], tuple(r["emails"] or [])) for r in back.collect()}
    assert got == {(1, "alice", ("a@x.com",)), (2, "bob", ())}


def test_csv_writer_serializes_complex_columns(spark, tmp_path):
    import json

    from dynamic_etl_pipeline_spark.ingest.readers import read_csv
    from dynamic_etl_pipeline_spark.ingest.writers import write_csv

    df = spark.createDataFrame(
        [(1, {"emails": ["a@x.com", "b@y.org"]}, ["ok"])],
        "id long, pat struct<emails:array<string>>, issues array<string>",
    )
    out = str(tmp_path / "recs_csv")
    write_csv(df, out)
    back = read_csv(spark, out)
    row = back.collect()[0]
    assert row["id"] == 1
    assert json.loads(row["pat"]) == {"emails": ["a@x.com", "b@y.org"]}
    assert json.loads(row["issues"]) == ["ok"]


def test_read_any_error_record_fallback(spark, tmp_path):
    """Reference app.py:220-222 parity: a failed ingest yields one
    {"content": "", "_ingest_error": ...} record instead of raising."""
    from dynamic_etl_pipeline_spark.ingest.readers import read_any

    bad = tmp_path / "broken.xml"
    bad.write_text("<root><unclosed></root")
    df = read_any(spark, str(bad), on_error="record")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["content"] == ""
    assert rows[0]["_ingest_error"]

    # healthy files are unaffected by the mode
    ok = tmp_path / "ok.csv"
    ok.write_text("a,b\n1,2\n")
    good = read_any(spark, str(ok), on_error="record")
    assert good.count() == 1 and "_ingest_error" not in good.columns

    import pytest as _pytest
    with _pytest.raises(ValueError, match="on_error"):
        read_any(spark, str(ok), on_error="nope")


def test_coerce_strings_compat_mode(spark):
    """All-string compat (app.py:255-261): scalars -> str with
    NULL -> '', nested columns keep shape, lineage untouched."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_spark.quality import coerce_strings

    df = spark.createDataFrame(
        [(1, 2.5, None, dt.datetime(2024, 1, 1), {"emails": ["a@x.com"]})],
        "id long, score double, note string, at timestamp, "
        "pat struct<emails:array<string>>",
    ).withColumn("_schema_version", F.lit(7))
    out = coerce_strings(df)
    types = dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)
    assert types["id"] == "string" and types["score"] == "string"
    assert types["at"] == "string"
    assert types["pat"].startswith("struct")          # nested kept
    assert types["_schema_version"] == "int"          # lineage kept
    row = out.collect()[0]
    assert row["id"] == "1" and row["note"] == ""     # NULL -> ''
    assert row["score"] == "2.5"


def test_decode_bytes_encoding_cascade():
    """chardet-parity cases for the no-chardet heuristic cascade
    (VERDICT r2 missing-item 3, as far as testable without the lib):
    BOMs, BOM-less UTF-16 both endiannesses, cp1252-vs-latin1 on the
    0x80-0x9F band, and the never-raises contract."""
    from dynamic_etl_pipeline_spark.ingest.encoding import decode_bytes

    text = "Café résumé — naïve “quotes” münchen"
    plain = "hello plain ascii text over here"
    # utf-8 (strict path) and utf-8-sig (BOM stripped)
    assert decode_bytes(text.encode("utf-8")) == text
    assert decode_bytes(text.encode("utf-8-sig")) == text
    # UTF-16/32 with BOM ("utf-16"/"utf-32" codecs emit one) and
    # BOM-less -le/-be variants (exercising the NUL-density probe):
    # decoded, BOM not leaked into the content
    for enc in ("utf-16", "utf-16-le", "utf-16-be", "utf-32"):
        out = decode_bytes(plain.encode(enc))
        assert out.replace("﻿", "") == plain, enc
    # BOM-less UTF-16 both ways (the chardet UTF-16 heuristic)
    assert decode_bytes(plain.encode("utf-16-le")) == plain
    assert decode_bytes(plain.encode("utf-16-be")) == plain
    # cp1252 curly quotes / em-dash: 0x93/0x94/0x97 must come back as
    # punctuation (chardet says windows-1252), not C1 control chars
    cp = b"he said \x93hi\x94 \x97 bye"
    out = decode_bytes(cp)
    assert "“hi”" in out and "—" in out
    # latin-1 fallback still total for bytes undefined in cp1252
    assert decode_bytes(b"caf\xe9 \x81 raw") != ""
    # never raises, returns str
    assert decode_bytes(None) == ""
    assert decode_bytes(b"") == ""
    assert decode_bytes("already str") == "already str"


def test_decode_bytes_never_raises_fuzz():
    """Property: decode_bytes is total over arbitrary byte strings —
    any input decodes to SOME str (the reference's never-fail upload
    contract, app.py:55-56)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dynamic_etl_pipeline_spark.ingest.encoding import decode_bytes

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=512))
    def check(raw):
        out = decode_bytes(raw)
        assert isinstance(out, str)
        # round-trip sanity: pure-ASCII bytes always decode to themselves
        if raw and max(raw) < 128 and 0 not in raw:
            assert out == raw.decode("ascii")

    check()


def test_training_shards_are_sorted_within_files(spark, tmp_path):
    """write_training_shards: every shard directory's files hold rows
    in sort-column order (the dataloader contract), with no global
    sort in the plan — repartition + sortWithinPartitions only."""
    import glob

    import pyarrow.parquet as pq

    from dynamic_etl_pipeline_spark.ingest.writers import (
        write_training_shards,
    )

    rows = [(i, i % 4, f"doc {i}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["pos", "shard", "text"]).repartition(13)
    out = str(tmp_path / "shards")
    write_training_shards(df, out, "shard", ["pos"])
    shard_dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(shard_dirs) == 4
    seen = 0
    for d in shard_dirs:
        for f in glob.glob(f"{d}/*.parquet"):
            pos = pq.read_table(f, columns=["pos"])["pos"].to_pylist()
            assert pos == sorted(pos), f"unsorted shard file {f}"
            seen += len(pos)
    assert seen == 1000
