"""DATS-style metadata normalization (SURVEY.md §2.3 T1–T6).

The reference runs a per-record transformation-DSL interpreter
[F-ES: common/.../transform/TransformationLanguageInterpreter — UNVERIFIED,
SURVEY.md §0]; here the same enhancement is split by cost:

- sha256 (pyarrow has no SHA-256 kernel) and date standardization stay
  JVM-side inside whole-stage codegen;
- the enrichment stored with each row (line/char counts, lang
  canonicalization, the DATS ``meta`` and ``dats`` structs) is ONE pass of
  Arrow kernels, :func:`enrich_arrow`: inside the epoch's compaction
  kernel, and behind :func:`with_normalized_columns` elsewhere, so Python
  is entered once per Arrow batch, never per row (BASELINE.json
  input_hint: "no per-row Python"). The native Spark forms of the same
  columns remain as the reference it is tested against.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- T1: digest


def with_content_digest(df: DataFrame, src: str = "content", dest: str = "content_sha256") -> DataFrame:
    """T1: the per-row invariant the whole build is verified on
    (BASELINE.json: "content sha256 equality"). Native — no UDF."""
    return df.withColumn(dest, F.sha2(F.col(src), 256))


# ------------------------------------------------------- T3: lang normalize

# ext/alias → canonical language name; broadcast-joined or inlined as a map
LANG_CANON = {
    "py": "python", "python": "python",
    "scala": "scala",
    "java": "java",
    "sql": "sql",
    "md": "markdown", "markdown": "markdown",
    "json": "json",
    "yaml": "yaml", "yml": "yaml",
    "c": "c", "h": "c",
}


def normalize_lang(col: str | Column = "lang") -> Column:
    """T3: canonicalize `lang` via an inline literal map (tiny vocabulary →
    `element_at(create_map(...))`; a broadcast join would also work but the
    map constant-folds)."""
    c = F.col(col) if isinstance(col, str) else col
    pairs: list[Column] = []
    for k, v in LANG_CANON.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.coalesce(F.element_at(F.create_map(*pairs), F.lower(c)), c)


# ----------------------------------------------------------- T4: date std


def standardize_date(col: str | Column, fmts: list[str] | None = None) -> Column:
    """T4: the reference DSL's `toStandardDate(...)` — try formats in order."""
    c = F.col(col) if isinstance(col, str) else col
    fmts = fmts or ["yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd", "MM/dd/yyyy", "yyyyMMdd"]
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(f)) for f in fmts])


# ---------------------------------------------- T2: vectorized DATS struct

DATS_META_TYPE = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("n_tokens", T.IntegerType(), True),
        T.StructField("n_words", T.IntegerType(), True),
        T.StructField("avg_line_len", T.DoubleType(), True),
        T.StructField("has_license_hint", T.BooleanType(), True),
        T.StructField("first_identifier", T.StringType(), True),
    ]
)


def dats_meta_arrow(content):
    """T2 core: DATS-style metadata struct computed with pyarrow.compute
    kernels (RE2-backed, 3–25× faster than pandas ``.str`` which re-enters
    Python's ``re`` per element). Input: ``pa.Array``/``ChunkedArray`` of
    strings; output: ``pa.StructArray`` (null where content is null, e.g.
    D tombstones)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(content, pa.ChunkedArray):
        content = content.combine_chunks()
    first = pc.utf8_trim_whitespace(
        pc.list_element(pc.split_pattern(pc.fill_null(content, ""), "\n", max_splits=1), 0)
    )
    title = pc.if_else(
        pc.greater(pc.utf8_length(first), 0),
        pc.utf8_slice_codeunits(first, 0, 120),
        pa.scalar(None, pa.string()),
    )
    n_tokens = pc.cast(
        pc.count_substring_regex(content, r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"), pa.int32()
    )
    n_words = pc.cast(pc.count_substring_regex(content, r"\b\w+\b"), pa.int32())
    n_lines = pc.add(pc.count_substring(content, "\n"), 1)
    avg_line_len = pc.divide(
        pc.cast(pc.utf8_length(content), pa.float64()), pc.cast(n_lines, pa.float64())
    )
    has_license = pc.match_substring_regex(
        content, r"(?i)license|copyright|apache|gpl|mit\b"
    )
    first_id = pc.struct_field(
        pc.extract_regex(content, r"\b(?P<id>[0-9a-f]{8,40})\b"), "id"
    )
    return pa.StructArray.from_arrays(
        [title, n_tokens, n_words, avg_line_len, has_license, first_id],
        names=[f.name for f in DATS_META_TYPE.fields],
        mask=pc.is_null(content),
    )


@F.pandas_udf(DATS_META_TYPE)
def dats_normalize_meta(content: pd.Series) -> pd.DataFrame:
    """T2: DATS-style metadata struct from `content` — a thin pandas_udf
    wrapper over the Arrow-kernel core (no Python row loop anywhere)."""
    import pyarrow as pa

    from foundry_es_spark.arrowpin import prepare_task_worker

    prepare_task_worker()  # Arrow pool pin + zip finder drop; see arrowpin.py
    struct = dats_meta_arrow(pa.Array.from_pandas(content, type=pa.string()))
    # every field is already null where content is null (dats_meta_arrow)
    return pd.DataFrame(
        {name: struct.field(name).to_pandas() for name in [f.name for f in DATS_META_TYPE.fields]}
    )


# ------------------------------------- T2b: nested DATS model (SURVEY §1.1)

# The DATS target schema is arrays-of-structs (identifiers[], dates[],
# creators[]); the flat `meta` struct above covers the scalar fields, this
# covers the nested ones. Stored form: Arrow kernels (dats_nested_arrow,
# below); native reference form: regexp_extract_all + higher-order
# functions (dats_nested_expr).
DATS_NESTED_TYPE = T.StructType(
    [
        T.StructField(
            "identifiers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("value", T.StringType(), True),
                        T.StructField("scheme", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "dates",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("raw", T.StringType(), True),
                        T.StructField("d", T.DateType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


def dats_nested_expr(content_col: str | Column = "content") -> Column:
    """The nested DATS struct: hex identifiers (scheme = sha1/sha256 by
    length, else hex) and ISO dates, as sorted-distinct arrays of structs.

    ``try_to_date`` (not ``to_date``): the date regex matches calendar-
    invalid tokens like 2024-13-99, and under Spark 4's default ANSI mode
    a plain cast would throw — a poison-pill row that passes validity but
    fails the epoch on every retry. Invalid dates keep their raw token
    with a null ``d``."""
    c = F.col(content_col) if isinstance(content_col, str) else content_col
    ids = F.transform(
        F.array_sort(
            F.array_distinct(
                F.regexp_extract_all(c, F.lit(r"\b[0-9a-f]{8,64}\b"), F.lit(0))
            )
        ),
        lambda v: F.struct(
            v.alias("value"),
            F.when(F.length(v) == 40, F.lit("sha1"))
            .when(F.length(v) == 64, F.lit("sha256"))
            .otherwise(F.lit("hex"))
            .alias("scheme"),
        ),
    )
    dates = F.transform(
        F.array_sort(
            F.array_distinct(
                F.regexp_extract_all(c, F.lit(r"\b\d{4}-\d{2}-\d{2}\b"), F.lit(0))
            )
        ),
        lambda v: F.struct(v.alias("raw"), F.try_to_timestamp(v).cast("date").alias("d")),
    )
    return F.when(c.isNotNull(), F.struct(ids.alias("identifiers"), dates.alias("dates")))


def with_normalized_columns(df: DataFrame, content_col: str = "content") -> DataFrame:
    """The full T1+T2+T3 enhancement applied to a DataFrame, in Spark: the
    epoch kernel's enrichment, so every write path stores the same values.

    ``content_sha256`` is the JVM's ``sha2``; the other derived columns
    are projected as typed nulls and filled by :func:`enrich_arrow` over
    each Arrow batch in one ``mapInArrow`` (Python is entered once per
    batch, never per row). ``lang``, when present, is canonicalised. D
    tombstones (null content) produce null derived columns. The native
    forms (:func:`normalize_lang`, :func:`dats_normalize_meta`,
    :func:`dats_nested_expr`) are the reference ``tests/test_enrich.py``
    compares with; they differ only where JDK and RE2 regexes do (see
    :func:`dats_nested_arrow`)."""
    df = df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))
    for name, ddl in NORMALIZED_FIELDS:
        if name in ARROW_ENRICHED_COLS:
            df = df.withColumn(name, F.lit(None).cast(ddl))

    def enrich(batches):
        import pyarrow as pa

        from foundry_es_spark.arrowpin import prepare_task_worker

        prepare_task_worker()  # Arrow pool pin + zip finder drop; see arrowpin.py
        for b in batches:
            yield from enrich_arrow(pa.Table.from_batches([b]), content_col).to_batches()

    return df.mapInArrow(enrich, df.schema)


# ------------------------------------- the same enrichment, in one Arrow pass

# Columns :func:`enrich_arrow` fills; ``content_sha256`` is not among them
# (pyarrow has no SHA-256 kernel: the epoch takes the JVM's sha2 before the
# exchange, and the fold carries it along with ``content``).
ARROW_ENRICHED_COLS = ("lang", "n_lines", "n_chars", "meta", "dats")

_HEX_ID = r"\b[0-9a-f]{8,64}\b"
_ISO_DATE = r"\b\d{4}-\d{2}-\d{2}\b"


def _extract_all(content, pattern: str):
    """Every non-overlapping match of ``pattern`` in each row, left to
    right, as parallel ``(row, value)`` arrays (pyarrow has no extract-all
    kernel). Each match is wrapped in a NUL sentinel and the row split on
    it, so matches sit at the odd positions of each row's pieces.
    ``content`` must hold no NUL (the caller maps them to \\x01)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    marked = pc.replace_substring_regex(content, pattern, "\x00\\0\x00")
    pieces = pc.split_pattern(marked, "\x00")
    row = pc.list_parent_indices(pieces).to_numpy()
    flat = pc.list_flatten(pieces)
    idx = np.arange(len(row))
    start = np.ones(len(row), dtype=bool)
    start[1:] = row[1:] != row[:-1]
    pos = idx - np.maximum.accumulate(np.where(start, idx, 0))
    odd = pos % 2 == 1
    return row[odd], flat.filter(pa.array(odd))


def _sorted_distinct_lists(n: int, row, values):
    """Per-row ``array_sort(array_distinct(...))`` of ``(row, value)``
    pairs: one sort by (row, value), then a boundary compare. Returns the
    list offsets (int32, ``n + 1``) and the kept values."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = pa.table({"r": row, "v": values}).sort_by([("r", "ascending"), ("v", "ascending")])
    r = t.column("r").to_numpy()
    v = t.column("v").combine_chunks()
    keep = np.ones(len(r), dtype=bool)
    if len(r) > 1:
        keep[1:] = (r[1:] != r[:-1]) | pc.not_equal(v.slice(1), v.slice(0, len(v) - 1)).to_numpy(
            zero_copy_only=False
        )
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(r[keep], minlength=n), out=offsets[1:])
    return pa.array(offsets), v.filter(pa.array(keep))


def dats_nested_arrow(content, dats_type):
    """:func:`dats_nested_expr` in Arrow kernels, for the epoch kernel.
    ``dats_type``: the Arrow type to build (the table column's).

    Regex semantics are RE2's, where ``\\b`` is an ASCII word boundary:
    a hex run right after a non-ASCII letter (``é0123abcd``) is an
    identifier here, while JDK 17's ``java.util.regex`` (Spark's
    ``regexp_extract_all``) counts the letter as a word character and
    finds none. ``meta.first_identifier`` has always used RE2, so the two
    columns now agree. Dates parse as ``try_to_timestamp`` does: a token
    that is not a calendar date (``2024-02-30``, ``2024-13-99``) keeps
    its raw value with a null ``d``; Arrow's ``strptime`` rolls such days
    over, so a parse that does not format back to the token is nulled."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(content, pa.ChunkedArray):
        content = content.combine_chunks()
    n = len(content)
    ids_t, dates_t = dats_type.field("identifiers").type, dats_type.field("dates").type
    # NUL is the match sentinel of _extract_all; \x01 is, like NUL, a
    # non-word character, so no \b moves and no match can hold either
    text = pc.replace_substring(content, "\x00", "\x01")

    offs, v = _sorted_distinct_lists(n, *_extract_all(text, _HEX_ID))
    width = pc.utf8_length(v)
    scheme = pc.if_else(
        pc.equal(width, 40), "sha1", pc.if_else(pc.equal(width, 64), "sha256", "hex")
    )
    ids = pa.ListArray.from_arrays(
        offs, pa.StructArray.from_arrays([v, scheme], fields=list(ids_t.value_type)), type=ids_t
    )

    offs, raw = _sorted_distinct_lists(n, *_extract_all(text, _ISO_DATE))
    ts = pc.strptime(raw, format="%Y-%m-%d", unit="s", error_is_null=True)
    real = pc.equal(pc.strftime(ts, format="%Y-%m-%d"), raw)
    d = pc.if_else(real, pc.cast(ts, pa.date32()), pa.scalar(None, pa.date32()))
    dates = pa.ListArray.from_arrays(
        offs, pa.StructArray.from_arrays([raw, d], fields=list(dates_t.value_type)), type=dates_t
    )
    return pa.StructArray.from_arrays(
        [ids, dates], fields=list(dats_type), mask=pc.is_null(content)
    )


def enrich_arrow(tbl, content_col: str = "content"):
    """The stored enrichment (all but ``content_sha256``) as one Arrow pass
    over a table: each column of :data:`ARROW_ENRICHED_COLS` that ``tbl``
    holds is replaced, keeping its type, by the value computed from
    ``content`` (``lang``: from itself). Absent columns stay absent, so a
    table schema without the normalized fields still gets its ``lang``
    canonicalised. Vectorised kernels only: no row loop."""
    import pyarrow as pa
    import pyarrow.compute as pc

    content = tbl.column(content_col).combine_chunks()
    names = tbl.column_names

    def fill(name, make):
        nonlocal tbl
        if name in names:
            i = names.index(name)
            typ = tbl.schema.field(i).type
            col = make(typ)
            tbl = tbl.set_column(i, tbl.schema.field(i), col if col.type == typ else col.cast(typ))

    def lang(_):
        raw = tbl.column("lang").combine_chunks()
        canon = pc.take(
            pa.array(list(LANG_CANON.values())),
            pc.index_in(pc.utf8_lower(raw), value_set=pa.array(list(LANG_CANON))),
        )
        return pc.coalesce(canon, raw)

    fill("lang", lang)
    fill("n_lines", lambda _: pc.add(pc.count_substring(content, "\n"), 1))
    fill("n_chars", lambda _: pc.utf8_length(content))
    fill("meta", lambda _: dats_meta_arrow(content))
    fill("dats", lambda typ: dats_nested_arrow(content, typ))
    return tbl


# Derived (name, ddl-type) pairs added to the base table schema by the
# normalization stage — the "DATS-normalized columns" that schema evolution
# later mutates (BASELINE.json north_star).
NORMALIZED_FIELDS: list[tuple[str, str]] = [
    ("content_sha256", "string"),
    ("n_lines", "int"),
    ("n_chars", "bigint"),
    ("meta", DATS_META_TYPE.simpleString()),
    ("dats", DATS_NESTED_TYPE.simpleString()),
]
