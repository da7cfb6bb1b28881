"""The one enrichment: ``functions.normalize.enrich_arrow`` (the Arrow pass
the epoch kernel runs over its folded survivors) computes what the native
Spark expressions compute, column for column, on a corpus of edge cases,
and ``with_normalized_columns`` (the spec sources' ``normalize`` stage)
runs that same pass through Spark."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pyspark.sql.pandas.types import to_arrow_type

from foundry_es_spark.functions.normalize import (
    ARROW_ENRICHED_COLS,
    DATS_NESTED_TYPE,
    NORMALIZED_FIELDS,
    dats_nested_arrow,
    dats_nested_expr,
    dats_normalize_meta,
    enrich_arrow,
    normalize_lang,
    with_normalized_columns,
)

# (content, lang)
CORPUS = [
    (None, "py"),                        # a tombstone: every derived column null
    ("", "PY"),
    ("trailing newline\n", "Markdown"),
    ("\n\n", None),
    ("short abcdef1 ok abcdef12 " + "0123456789abcdef" * 2 + "01234567", "yml"),  # 7, 8, 40 hex
    ("sha256 " + "ab" * 32 + " too long " + "c" * 65 + " upper ABCDEF12 mixed abcDEF12", "C"),
    ("repeat abcdef12 x abcdef12 2024-01-01 y 2024-01-01 z 01234567", "h"),
    ("bad dates 2024-13-99 2024-02-30 2023-02-29 leap 2024-02-29", "SQL"),
    ("adjacent 2024-01-01-2024-01-02 and 1999-12-31/2000-01-01", "zzz"),
    ("edges 0000-01-01 9999-12-31 _2024-05-05 2024-05-05_ a2024-05-05", ""),
    ("nul\x00abcdef12\x00byte", "Java"),
    ("MIT License\nCopyright 2020-05-05 deadbeef00\n", "scala"),
    ("cafe 12345678\tfeedface\rbaadf00d", "JSON"),
]
UNICODE_ROW = ("éabcdef12 ünïcode", "py")  # a non-ASCII letter next to hex


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, c, lang) for i, (c, lang) in enumerate(rows)], "id int, content string, lang string"
    )


def _native(df):
    """The reference: the same columns from native Spark expressions (JDK
    regexes for ``dats``) and the RE2 ``meta`` pandas UDF."""
    c = F.col("content")
    return (
        df.withColumn("content_sha256", F.sha2(c, 256))
        .withColumn("n_lines", F.when(c.isNotNull(), F.size(F.split(c, "\n"))))
        .withColumn("n_chars", F.when(c.isNotNull(), F.length(c)).cast("long"))
        .withColumn("lang", normalize_lang("lang"))
        .withColumn("meta", F.when(c.isNotNull(), dats_normalize_meta(c)))
        .withColumn("dats", dats_nested_expr("content"))
    )


def _assert_rows_equal(got, ref, cols, rows):
    for c in cols:
        want = ref.column(c).combine_chunks()
        have = got.column(c).combine_chunks()
        # Spark's computed struct marks some nested fields non-null; the
        # table's (placeholder) type does not — the values must agree
        assert have.type == got.schema.field(c).type
        for i in range(len(rows)):
            assert have.slice(i, 1).equals(want.cast(have.type).slice(i, 1)), (c, rows[i])


def _arrow_enriched(spark, rows):
    """The rows as the epoch kernel receives them: typed null placeholders
    (the table schema's types, through Spark's Arrow conversion), then
    :func:`enrich_arrow` outside Spark."""
    df = _frame(spark, rows)
    for name, ddl in NORMALIZED_FIELDS:
        if name in ARROW_ENRICHED_COLS:
            df = df.withColumn(name, F.lit(None).cast(ddl))
    tbl = df.orderBy("id").toArrow()
    return enrich_arrow(tbl)


def test_enrich_arrow_equals_native_spark_form(spark):
    got = _arrow_enriched(spark, CORPUS)
    ref = _native(_frame(spark, CORPUS)).orderBy("id").toArrow()
    assert set(ARROW_ENRICHED_COLS) <= set(got.column_names)
    _assert_rows_equal(got, ref, ARROW_ENRICHED_COLS, CORPUS)


def test_with_normalized_columns_runs_the_arrow_enrichment(spark):
    """The spec-source ``normalize`` stage stores what epochs store, the
    RE2 row included; ``content_sha256`` is the JVM's ``sha2``."""
    rows = CORPUS + [UNICODE_ROW]
    got = with_normalized_columns(_frame(spark, rows)).orderBy("id").toArrow()
    _assert_rows_equal(got, _arrow_enriched(spark, rows), ARROW_ENRICHED_COLS, rows)
    ref = _native(_frame(spark, rows)).orderBy("id").toArrow()
    _assert_rows_equal(got, ref, ["content_sha256"], rows)
    assert [f.name for f in got.schema][-4:] == ["n_lines", "n_chars", "meta", "dats"]


def test_enrich_arrow_handcrafted_values(spark):
    tbl = _arrow_enriched(spark, CORPUS)
    # row 9 holds year 0, which Python's date cannot represent
    got = {c: [tbl.column(c)[i].as_py() if i != 9 else None for i in range(tbl.num_rows)]
           for c in tbl.column_names}
    assert got["meta"][0] is None and got["dats"][0] is None and got["n_lines"][0] is None
    assert got["lang"][:3] == ["python", "python", "markdown"]
    assert got["n_lines"][2] == 2 and got["n_chars"][1] == 0
    ids = [(i["value"], i["scheme"]) for i in got["dats"][4]["identifiers"]]
    assert ids == [("0123456789abcdef" * 2 + "01234567", "sha1"), ("abcdef12", "hex")]
    assert [i["scheme"] for i in got["dats"][5]["identifiers"]] == ["sha256"]
    assert [i["value"] for i in got["dats"][6]["identifiers"]] == ["01234567", "abcdef12"]
    dates = {d["raw"]: d["d"] for d in got["dats"][7]["dates"]}
    # calendar-invalid tokens keep their raw value with a null date
    assert dates["2024-13-99"] is None and dates["2024-02-30"] is None
    assert dates["2023-02-29"] is None and str(dates["2024-02-29"]) == "2024-02-29"
    raws = [d["raw"] for d in got["dats"][8]["dates"]]
    assert raws == ["1999-12-31", "2000-01-01", "2024-01-01", "2024-01-02"]
    assert [i["value"] for i in got["dats"][10]["identifiers"]] == ["abcdef12"]


def test_unicode_word_boundary_follows_re2(spark):
    """The table follows RE2's ASCII ``\\b`` (as ``meta.first_identifier``
    always has): a hex run after a non-ASCII letter is an identifier.
    JDK 17's regex counts the letter as a word character, so the native
    ``dats_nested_expr`` finds none there; nothing stores that form."""
    got = _arrow_enriched(spark, [UNICODE_ROW])
    assert [i["value"] for i in got.column("dats").to_pylist()[0]["identifiers"]] == ["abcdef12"]
    assert got.column("meta").to_pylist()[0]["first_identifier"] == "abcdef12"
    jdk = _native(_frame(spark, [UNICODE_ROW])).toArrow().column("dats").to_pylist()[0]
    assert jdk["identifiers"] == []


@pytest.mark.parametrize("n", [0, 1])
def test_dats_nested_arrow_tiny_inputs(n):
    out = dats_nested_arrow(
        pa.array(["2024-01-01 abcdef12"][:n], pa.string()), to_arrow_type(DATS_NESTED_TYPE)
    )
    assert len(out) == n
    if n:
        assert out.to_pylist()[0]["identifiers"] == [{"value": "abcdef12", "scheme": "hex"}]
