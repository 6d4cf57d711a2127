"""Python-repr nested-cell parsing (SURVEY.md §1.1, row A5): ``from_json``
for every cell in the canonical repr grammar, ``ast.literal_eval`` for the
rest.

TMDB CSV cells hold ``repr()`` of Python objects — single quotes, ``None``,
apostrophes inside names. ``from_json`` with ``allowSingleQuotes`` reads
them once each bare ``None`` value is rewritten to ``null``. That rewrite
is a regex, so it is exact only on cells whose layout is known.

**The guard** (``Shape.guard``) is a whole-cell match of the canonical
``repr`` of a ``list[dict[str, int | str | None]]`` (or of the single dict
of ``belongs_to_collection``), with separators exactly ``', '`` and
``': '`` and nothing after the closing bracket. Typed keys must hold their
type or ``None``: ids at most 18 digits (so always int64), names plain
strings. Strings hold no backslash and no control character, so no escape
has to be translated. Keys are single-quoted runs of 1-64 word
characters, and a double-quoted string holds no ``': ``, so the only
``'<key>': None`` and ``'job': `` texts are a key and its value (a value
string is followed by ``, `` or ``}``, never by ``: ``), which the rewrite
turns into ``null`` and into a ``has_job`` marker. Any other key may hold
any of the three value kinds; ``from_json`` skips it, as the reference's
``.get`` ignores it.

**The fallback.** ``parse_nested`` caches each input table's parse with
every cell the guard rejected kept raw, and looks for such a cell while it
fills the cache. Only when one exists does it add one Arrow ``pandas_udf``
over the cached rows, whatever the table's number of nested columns; each
column's argument is NULL wherever the guard accepted the cell, so only
rejected cells reach Python. An input with none runs no Python at all.
There the reference's ``eval()``
(`loader.py:146,:154,:175,:197,:207,:258,:270,:302`) is
``ast.literal_eval`` (never ``eval`` — deviation D3), with the same
is-valid-string semantics (`loader.py:31-34`): a non-string, empty or
unparsable cell is NULL. The parsed value is written back as standard
JSON in the column's own schema, so both branches end in the same
``from_json``. Cells that ``from_json`` would read differently from
``literal_eval`` without failing — float or string ids (``12.0``,
``'12'``), Python escapes (``'caf\\xe9'``), trailing text, a list with a
non-dict element — all fail the guard.
"""

from __future__ import annotations

import ast
import json
import operator
from dataclasses import dataclass
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import tracked_cache

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

_JSON_OPTIONS = {"allowSingleQuotes": "true"}

# Java regex pieces of the guard. Every quantifier is possessive: no
# backtracking, and a repeated group loops instead of recursing, so a
# cell of any length is matched in one pass without growing the stack.
_INT = r"-?+(?:0|[1-9][0-9]{0,17}+)"
_SQ_BODY = r"[^'\\\x00-\x1f\x7f]*+"
_SQ = f"'{_SQ_BODY}'"
_DQ = r'"(?:[^"' + r"'\\\x00-\x1f\x7f]|'(?!: ))*+" + '"'
_STR = f"(?:{_SQ}|{_DQ})"
# Keys are word characters, so text of the form 'key': can only be a key.
_KEY = "[A-Za-z0-9_]{1,64}"


@dataclass(frozen=True)
class Shape:
    """One nested-cell layout: a list of dicts, or one dict
    (``is_list=False``), read into ``struct``. A LongType field is an
    int-valued key, a StringType field a string-valued key, and a
    BooleanType field ``has_<key>`` records whether ``<key>`` is present
    (crew's ``"job" in d``, `loader.py:259`)."""

    struct: StructType
    is_list: bool = True

    def _keys(self, kind: type) -> list[str]:
        return [f.name for f in self.struct.fields if isinstance(f.dataType, kind)]

    @property
    def presence(self) -> list[str]:
        return [k.removeprefix("has_") for k in self._keys(BooleanType)]

    @property
    def dtype(self) -> DataType:
        return ArrayType(self.struct) if self.is_list else self.struct

    @property
    def guard(self) -> str:
        reserved = "|".join(self.struct.fieldNames())
        entry = "|".join(
            [f"'{k}': (?:{_INT}|None)" for k in self._keys(LongType)]
            + [f"'{k}': (?:{_STR}|None)" for k in self._keys(StringType)]
            + [f"'(?!(?:{reserved})'){_KEY}+': (?:{_INT}|{_STR}|None)"]
        )
        # an item is followed by ", " and the next item, or by the close
        d = f"\\{{(?:(?:{entry})(?:, (?=')|(?=\\}})))*+\\}}"
        body = f"\\[(?:{d}(?:, (?=\\{{)|(?=\\])))*+\\]" if self.is_list else d
        return f"\\A{body}\\z"

    def to_json(self, raw: Column) -> Column:
        """The exact rewrite of a guarded cell: bare ``None`` → ``null``,
        and a ``has_<key>`` marker before each presence key."""
        # the literal comes first, so the lookbehind runs only where it matched
        out = F.regexp_replace(raw, f"None(?<='{_KEY}': None)(?=[,}}])", "null")
        for k in self.presence:
            out = F.regexp_replace(out, f"'{k}': ", f"'has_{k}': true, '{k}': ")
        return out

    def read(self, json_text: Column) -> Column:
        """``from_json`` into this shape; a presence flag the rewrite did
        not set is False, not NULL."""
        parsed = F.from_json(json_text, self.dtype, _JSON_OPTIONS)
        for k in self.presence:
            parsed = F.transform(parsed, _default_false(f"has_{k}"))
        return parsed

    def row(self, d: dict) -> dict:
        out = {k: _to_long(d.get(k)) for k in self._keys(LongType)}
        out.update((k, _norm_str(d.get(k))) for k in self._keys(StringType))
        out.update((f"has_{k}", k in d) for k in self.presence)
        return out

    def literal_json(self, cell) -> str | None:
        """The fallback: ``literal_eval`` the cell, keep what the reference
        keeps, and write it as JSON in this shape."""
        parsed = _literal(cell)
        if self.is_list and isinstance(parsed, list):
            return json.dumps([self.row(d) for d in parsed if isinstance(d, dict)])
        if not self.is_list and isinstance(parsed, dict):
            return json.dumps(self.row(parsed))
        return None


def _default_false(field: str):
    return lambda e: e.withField(field, F.coalesce(e[field], F.lit(False)))


ID_NAMES = Shape(ID_NAME)
LANGS = Shape(ISO_LANG)
COUNTRIES = Shape(ISO_COUNTRY)
CREW = Shape(CREW_MEMBER)
CAST = Shape(CAST_MEMBER)
COLLECTION = Shape(ID_NAME, is_list=False)


def _literal(cell) -> object | None:
    """Guarded ``ast.literal_eval`` mirroring ``is_valid_str`` + the
    reference's implicit crash-tolerance: anything unparsable → None
    (unhashable dict keys, parser stack exhaustion and deep nesting
    included)."""
    if not isinstance(cell, str) or len(cell) == 0:
        return None
    try:
        return ast.literal_eval(cell)
    except (ValueError, SyntaxError, TypeError, MemoryError, RecursionError):
        return None


_INT64 = range(-(2**63), 2**63)


def _to_long(v) -> int | None:
    """``int(v)`` when it fits a LongType; NULL otherwise (``inf``, NaN,
    junk strings, magnitudes beyond int64)."""
    try:
        n = int(v)
    except (TypeError, ValueError, OverflowError):
        return None
    return n if n in _INT64 else None


def _norm_str(v) -> str | None:
    return v if isinstance(v, str) else (None if v is None else str(v))


def _fallback_udf(shapes: tuple[Shape, ...]):
    """One Arrow UDF for all of a table's nested columns: argument ``i`` is
    column ``i``'s cell where the guard failed and NULL elsewhere, and the
    result's field ``f{i}`` is that cell's JSON (NULL for NULL)."""
    out = StructType([StructField(f"f{i}", StringType()) for i in range(len(shapes))])

    def parse(*cells: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            {
                f"f{i}": [shape.literal_json(c) for c in col]
                for i, (shape, col) in enumerate(zip(shapes, cells))
            }
        )

    return F.pandas_udf(parse, out)


def parse_nested(df: DataFrame, keep: list[str], **cells: tuple[str, Shape]) -> DataFrame:
    """``keep`` plus one parsed column per ``alias=(raw column, shape)``,
    cached and tracked. The guard runs once per cell; cells it accepts are
    read natively, and the fallback UDF is planned only when the filled
    cache holds a non-empty cell the guard rejected."""
    shapes = tuple(shape for _, shape in cells.values())
    raws = [f"_raw{i}" for i in range(len(shapes))]
    flagged = [f"_flagged{i}" for i in range(len(shapes))]
    step = df.select(
        *keep,
        *[F.col(c).alias(r) for r, (c, _) in zip(raws, cells.values())],
        *[
            ((F.length(c) > 0) & ~F.col(c).rlike(shape.guard)).alias(f)
            for f, (c, shape) in zip(flagged, cells.values())
        ],
    )
    # A second projection: Spark does not inline a non-trivial expression
    # that is read twice, so each guard's result is computed once. A
    # rejected cell is kept raw for the fallback; an accepted one is parsed.
    staged = tracked_cache(
        step.select(
            *keep,
            *[F.when(F.col(f), F.col(r)).alias(r) for r, f in zip(raws, flagged)],
            *[
                F.when(~F.col(f), shape.read(shape.to_json(F.col(r)))).alias(a)
                for a, r, f, shape in zip(cells, raws, flagged, shapes)
            ],
        )
    )
    # the probe fills the cache, which the first write would fill anyway
    if staged.filter(reduce(operator.or_, [F.col(r).isNotNull() for r in raws])).isEmpty():
        return staged.select(*keep, *cells)
    fb = _fallback_udf(shapes)(*raws)
    return tracked_cache(
        staged.select(
            *keep,
            *[
                F.when(F.col(r).isNull(), F.col(a)).otherwise(shape.read(fb[f"f{i}"])).alias(a)
                for i, (a, r, shape) in enumerate(zip(cells, raws, shapes))
            ],
        )
    )


def parse_id_name_array(col: str | Column) -> Column:
    """The ``literal_eval`` path alone over one id/name array column: the
    fallback the native parse must agree with."""
    return ID_NAMES.read(_fallback_udf((ID_NAMES,))(col)["f0"])


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
