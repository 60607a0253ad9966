"""XML kernel tests: StAX escaping rules, <mem> transform matrix (FIXTURES
F4), type-render kernel branches (FIXTURES F2), golden docset output
(SURVEY appendix vector)."""

from __future__ import annotations

import io
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F


def _one(spark, col_expr, value, ddl):
    df = spark.createDataFrame([(value,)], ddl)
    return df.select(F.expr(col_expr(df.columns[0])).alias("out")).collect()[0]["out"]


def test_escape_text(spark):
    from cql_xmlpipe_spark.functions.xmlfuncs import xml_escape_text

    got = _one(spark, xml_escape_text, "a < b & \"c\" > d 'e'", "s string")
    assert got == "a &lt; b &amp; \"c\" &gt; d 'e'"  # quotes NOT escaped in text


def test_escape_attr(spark):
    from cql_xmlpipe_spark.functions.xmlfuncs import xml_escape_attr

    got = _one(spark, xml_escape_attr, 'a<b&"q">z', "s string")
    assert got == "a&lt;b&amp;&quot;q&quot;&gt;z"  # SURVEY appendix vector 3


def test_mem_transform_matrix(spark):
    from cql_xmlpipe_spark.functions.xmlfuncs import mem_transform

    cases = {
        "[[1,2],[3]]": "<![CDATA[<mem>1 2</mem><mem>3</mem>]]>",
        "[not json]": "[not json]",
        '{"a":1}': '{"a":1}',
        "hello & <world>": "hello &amp; &lt;world&gt;",
        "": "",  # reference crashes here (Query.java:281) — we don't
        None: "",
        "[]": "<![CDATA[]]>",
        "[1,2,3]": "[1,2,3]",  # not a List<Integer[]> -> fallback
    }
    df = spark.createDataFrame([(k,) for k in cases], "txt string")
    got = {
        r["txt"]: r["out"]
        for r in df.select("txt", F.expr(mem_transform("txt")).alias("out")).collect()
    }
    for k, expected in cases.items():
        assert got[k] == expected, k


def test_render_kernel_branches(spark):
    from cql_xmlpipe_spark.functions.render import render_value

    def render(value, ddl):
        df = spark.createDataFrame([(value,)], ddl)
        dtype = df.schema.fields[0].dataType
        return df.select(F.expr(render_value(df.columns[0], dtype)).alias("o")).collect()[0]["o"]

    assert render(42, "c int") == "42"
    assert render(2**40, "c long") == str(2**40)
    assert render(True, "c boolean") == "true"
    assert render(1.0, "c double") == "1.0"
    assert render(1.0e10, "c double") == "1.0E10"  # Java Double.toString format
    assert render(Decimal("1.2300"), "c decimal(10,4)") == "1.2300"
    assert render(["a", "b"], "c array<string>") == "a b"
    assert render([1, 2, 3], "c array<int>") == "1 2 3"
    assert render([], "c array<int>") == ""
    # nested arrays flatten depth by depth, each level its own lambda
    assert render([[1, 2], [3]], "c array<array<int>>") == "1 2 3"
    assert render([[1, None], None, []], "c array<array<int>>") == "1   "
    assert render([[[1], [2, 3]], [[4]]], "c array<array<array<int>>>") == "1 2 3 4"
    stamps = [datetime(2006, 1, 2, 15, 4, 5), None, datetime(2010, 12, 31, 23, 59, 59)]
    assert render(stamps, "c array<timestamp>") == (
        "Mon Jan 02 15:04:05 UTC 2006  Fri Dec 31 23:59:59 UTC 2010"
    )
    assert render({"k": 1}, "c map<string,int>") == ""  # parity: Query.java:265
    assert render(bytearray(b"\x01\xff"), "c binary") == "01FF"
    assert render(None, "c string") == ""
    ts = render(datetime(2006, 1, 2, 15, 4, 5), "c timestamp")
    assert ts == "Mon Jan 02 15:04:05 UTC 2006"  # java.util.Date.toString, UTC


def test_docset_golden(spark):
    """End-to-end golden: SURVEY appendix vector 2 (JDK StAX probe)."""
    from cql_xmlpipe_spark.operators.xmlpipe import write_docset_stream, xml_documents

    df = spark.createDataFrame(
        [(123, "a < b & \"c\" > d 'e'", "[[1,2],[3]]")],
        "id int, title string, content string",
    )
    docs = xml_documents(df, ["id"], field_cols=["title", "content"])
    buf = io.StringIO()
    n = write_docset_stream(docs, buf)
    assert n == 1
    assert buf.getvalue() == (
        '<?xml version="1.0" encoding="utf-8"?><sphinx:docset>'
        '\n<sphinx:document id="123">'
        "<title>a &lt; b &amp; \"c\" &gt; d 'e'</title>"
        "<content><![CDATA[<mem>1 2</mem><mem>3</mem>]]></content>"
        "</sphinx:document>"
        "\n</sphinx:docset>"
    )


def test_empty_element_not_self_closed(spark):
    from cql_xmlpipe_spark.operators.xmlpipe import xml_documents

    df = spark.createDataFrame([(1, "")], "id int, content string")
    xml = xml_documents(df, ["id"]).collect()[0]["xml"]
    assert "<content></content>" in xml


def test_render_sane_mode(spark):
    """mode='sane' divergences: nested types as JSON (parity emits ''),
    ISO timestamps (parity emits java.util.Date format)."""
    from cql_xmlpipe_spark.functions.render import render_value

    def render(value, ddl, mode):
        df = spark.createDataFrame([(value,)], ddl)
        dtype = df.schema.fields[0].dataType
        return df.select(
            F.expr(render_value(df.columns[0], dtype, mode)).alias("o")
        ).collect()[0]["o"]

    assert render({"k": 1}, "c map<string,int>", "sane") == '{"k":1}'
    assert render({"k": 1}, "c map<string,int>", "parity") == ""
    assert render(datetime(2006, 1, 2, 15, 4, 5), "c timestamp", "sane") == (
        "2006-01-02 15:04:05"
    )
    assert render(None, "c map<string,int>", "sane") == ""
    nested = [[datetime(2006, 1, 2, 15, 4, 5)], [datetime(2010, 12, 31, 23, 59, 59)]]
    assert render(nested, "c array<array<timestamp>>", "sane") == (
        "2006-01-02 15:04:05 2010-12-31 23:59:59"
    )
    assert render([{"k": 1}, None], "c array<map<string,int>>", "sane") == '{"k":1} '
    assert render([{"k": 1}, None], "c array<map<string,int>>", "parity") == " "


@pytest.mark.parametrize("position", ["field", "key"])
@pytest.mark.parametrize("name", ["a.b", "it's", "x`y", "back\\slash"])
def test_awkward_column_names(spark, name, position):
    """Column names are SQL identifiers and element tags are SQL literals:
    a dot is not struct access, and quotes, backquotes and backslashes
    reach the tag verbatim."""
    from cql_xmlpipe_spark.operators.xmlpipe import xml_documents

    quoted = "`" + name.replace("`", "``") + "`"
    df = spark.sql(f"SELECT 1 AS k, 'v' AS {quoted}")
    keys = ["k"] if position == "field" else ["k", name]
    doc_id = 1 if position == "field" else 65717  # sdbm(base 1, "v")
    assert xml_documents(df, keys).collect()[0]["xml"] == (
        f'\n<sphinx:document id="{doc_id}"><k>1</k><{name}>v</{name}></sphinx:document>'
    )


def test_document_plan_build_is_a_few_py4j_commands(spark):
    """The document plan is built from SQL text: a handful of round trips
    to the JVM, not one per literal, function and lambda of every field
    (the Column-built plan of this frame took about 3,000)."""
    import gc

    from cql_xmlpipe_spark.operators.xmlpipe import xml_documents
    from scripts.plan_fingerprint import py4j_commands

    ddl = (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz,"
        " l_commitdate date, l_receiptdate date, l_shipinstruct string,"
        " l_shipmode string, l_comment string"
    )
    keys = ["l_orderkey", "l_linenumber"]
    xml_documents(spark.createDataFrame([], ddl), keys)  # the hash UDF's one-time JVM setup
    df = spark.createDataFrame([], ddl)
    gc.collect()
    with py4j_commands(spark.sparkContext) as sent:
        xml_documents(df, keys)
    assert sent[0] <= 50, sent[0]
