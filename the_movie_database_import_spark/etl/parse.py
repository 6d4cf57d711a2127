"""Python-repr nested-cell parsing (SURVEY.md §7.4, the one place the ETL
keeps a Python UDF for reference parity).

TMDB CSV cells hold ``repr()`` of Python objects — single quotes, ``None``,
``True``/``False``, apostrophes inside names. ``from_json`` with
``allowSingleQuotes`` (plus ``allowBackslashEscapingAnyCharacter`` and
``allowUnquotedControlChars``) does parse them once bare ``None``/``True``/
``False`` are rewritten to JSON literals: a probe matched ``ast.literal_eval``
on 3,000 of 3,000 random reprs. The parse stays a UDF because that rewrite
is a regex, and a regex cannot tell a bare ``None`` from one inside a quoted
name (``'name': 'Act: None'``); and because Python reprs carry escapes JSON
does not have, such as ``\\x..``.

The reference ``eval()``s the cells row-by-row (`loader.py:146,:154,:175,
:197,:207,:258,:270,:302`); here an Arrow-batched pandas UDF wraps
``ast.literal_eval`` (never ``eval`` — deviation D3) with the same
is-valid-string guard semantics (`loader.py:31-34`): non-string/empty cells
parse to NULL.
"""

from __future__ import annotations

import ast

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ID_NAME = StructType([StructField("id", LongType()), StructField("name", StringType())])
ISO_LANG = StructType(
    [StructField("iso_639_1", StringType()), StructField("name", StringType())]
)
ISO_COUNTRY = StructType(
    [StructField("iso_3166_1", StringType()), StructField("name", StringType())]
)
CREW_MEMBER = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("job", StringType()),
        StructField("has_job", BooleanType()),
    ]
)
CAST_MEMBER = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("order", LongType()),
    ]
)


def _literal(cell) -> object | None:
    """Guarded ``ast.literal_eval`` mirroring ``is_valid_str`` + the
    reference's implicit crash-tolerance: anything unparsable → None."""
    if not isinstance(cell, str) or len(cell) == 0:
        return None
    try:
        return ast.literal_eval(cell)
    except (ValueError, SyntaxError):
        return None


def _to_long(v) -> int | None:
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def _row_id_name(d: dict) -> dict:
    return {"id": _to_long(d.get("id")), "name": _norm_str(d.get("name"))}


def _norm_str(v) -> str | None:
    return v if isinstance(v, str) else (None if v is None else str(v))


def _array_parser(row_fn):
    def parse(cells: pd.Series) -> pd.Series:
        out = []
        for cell in cells:
            parsed = _literal(cell)
            if isinstance(parsed, list):
                out.append([row_fn(d) for d in parsed if isinstance(d, dict)])
            else:
                out.append(None)
        return pd.Series(out, dtype="object")

    return parse


parse_id_name_array = F.pandas_udf(_array_parser(_row_id_name), ArrayType(ID_NAME))

parse_lang_array = F.pandas_udf(
    _array_parser(
        lambda d: {"iso_639_1": _norm_str(d.get("iso_639_1")), "name": _norm_str(d.get("name"))}
    ),
    ArrayType(ISO_LANG),
)

parse_country_array = F.pandas_udf(
    _array_parser(
        lambda d: {
            "iso_3166_1": _norm_str(d.get("iso_3166_1")),
            "name": _norm_str(d.get("name")),
        }
    ),
    ArrayType(ISO_COUNTRY),
)

parse_crew_array = F.pandas_udf(
    _array_parser(
        lambda d: {
            "id": _to_long(d.get("id")),
            "name": _norm_str(d.get("name")),
            "job": _norm_str(d.get("job")),
            "has_job": "job" in d,
        }
    ),
    ArrayType(CREW_MEMBER),
)

parse_cast_array = F.pandas_udf(
    _array_parser(
        lambda d: {
            "id": _to_long(d.get("id")),
            "name": _norm_str(d.get("name")),
            "order": _to_long(d.get("order")),
        }
    ),
    ArrayType(CAST_MEMBER),
)


@F.pandas_udf(ID_NAME)
def parse_collection(cells: pd.Series) -> pd.DataFrame:
    """``belongs_to_collection`` is a single dict, not a list
    (`loader.py:152-159`)."""
    ids, names = [], []
    for cell in cells:
        parsed = _literal(cell)
        if isinstance(parsed, dict):
            ids.append(_to_long(parsed.get("id")))
            names.append(_norm_str(parsed.get("name")))
        else:
            ids.append(None)
            names.append(None)
    return pd.DataFrame({"id": pd.array(ids, dtype="Int64"), "name": names})


def positive_bigint_or_null(col: Column) -> Column:
    """`is_positive_integer` (`loader.py:37-42`): strict int parse, keep only
    strictly positive — 0, negatives, floats-as-strings, junk → NULL."""
    v = col.try_cast("bigint")
    return F.when(v > 0, v)


def positive_double_or_null(col: Column) -> Column:
    """`is_positive_float` (`loader.py:45-50`).

    NaN needs an explicit guard: Spark SQL orders NaN above every number,
    so ``cast('nan') > 0.0`` is TRUE in Spark while the reference's
    ``float('nan') > 0`` is False — without ``isnan`` the literal string
    'nan' would pass cleansing (caught by tests/test_properties.py)."""
    v = col.try_cast("double")
    return F.when((v > 0.0) & ~F.isnan(v), v)


def positive_int_trunc_or_null(col: Column) -> Column:
    """Runtime semantics: pandas parses the column as float, the reference
    then ``int()``s it and checks positivity on the TRUNCATED value
    (`is_positive_integer`, `loader.py:37-42`; applied `loader.py:139-140`)
    — so '0.5' truncates to 0 and becomes NULL, not 0.

    ``try_cast('long')`` does the truncation with ANSI semantics and NULL on
    error, which exactly covers the reference's exception path: NaN and ±inf
    make ``int()`` raise (→ NULL), and out-of-long-range magnitudes go NULL
    rather than saturating. The final int32 narrowing is ``try_cast`` so
    out-of-range values yield NULL instead of an overflow error killing the
    job."""
    t = col.try_cast("double").try_cast("long")
    return F.when(t > 0, t).try_cast("integer")
