"""DATS-style metadata normalization (SURVEY.md §2.3 T1–T6).

The reference runs a per-record transformation-DSL interpreter
[F-ES: common/.../transform/TransformationLanguageInterpreter — UNVERIFIED,
SURVEY.md §0]; here the same enhancement is split by cost:

- anything expressible with built-in ``pyspark.sql.functions`` stays
  JVM-side inside whole-stage codegen (sha256, line/char counts, lang
  canonicalization, date standardization);
- genuine text analysis over ``content`` runs as ONE vectorized
  ``pandas_udf`` returning a struct, so Python is entered once per Arrow
  batch, never per row (BASELINE.json input_hint: "no per-row Python").
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
    out = pd.DataFrame(
        {name: struct.field(name).to_pandas() for name in [f.name for f in DATS_META_TYPE.fields]}
    )
    out.loc[content.isna(), :] = pd.NA
    return out


# ------------------------------------- T2b: nested DATS model (SURVEY §1.1)

# The DATS target schema is arrays-of-structs (identifiers[], dates[],
# creators[]); the flat `meta` struct above covers the scalar fields, this
# covers the nested ones. Computed with NATIVE regexp_extract_all +
# higher-order functions — whole-stage codegen, no Python/Arrow transfer at
# all (strictly cheaper than extending the pandas kernel, which pyarrow
# could not do anyway: pa.compute has no extract-all).
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
    """The full T1+T2+T3 enhancement applied to a change batch.

    Cheap columns native (sha256, n_lines, n_chars, lang); the text-analysis
    struct via ONE Arrow-vectorized UDF call. D tombstones (null content)
    produce null derived columns.
    """
    c = F.col(content_col)
    out = (
        df.withColumn("content_sha256", F.sha2(c, 256))
        .withColumn("n_lines", F.when(c.isNotNull(), F.size(F.split(c, "\n"))))
        .withColumn("n_chars", F.when(c.isNotNull(), F.length(c)).cast("long"))
        .withColumn("lang", normalize_lang("lang"))
    )
    if "meta" not in df.columns:
        # the sorted compaction kernel (operators/cdc.py) already emits
        # meta in its Arrow pass; don't pay a second transfer
        out = out.withColumn("meta", F.when(c.isNotNull(), dats_normalize_meta(c)))
    if "dats" not in df.columns:
        out = out.withColumn("dats", dats_nested_expr(content_col))
    return out


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
