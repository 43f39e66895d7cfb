"""Scalar string / datatype expressions (SURVEY §2.9, F1-F10).

The emission helpers render Spark SQL text: each takes the SQL of its input
expression and returns the SQL of the result, so a whole domain's triple
array is one parsed expression instead of hundreds of Column objects built
over py4j. Everything runs JVM-side. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from yckg_spark.namespaces import XSD_BOOLEAN, XSD_DECIMAL, XSD_INTEGER, XSD_STRING

# Characters the reference rewrites to "_" when a category name becomes an
# IRI tail (create_yelp_nt_files.py:93: ' ', '&', '/', "'", '-', '(', ')').
_IRI_BAD = " &/'-()"
_IRI_SUB = "_" * len(_IRI_BAD)


def sql_str(s: str) -> str:
    """A Python string as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sanitize_iri(x: str) -> str:
    """F1 — byte-exact re-realization of the category sanitize chain.

    ``translate`` is character-by-character substitution, equivalent to the
    reference's chained single-char ``str.replace`` calls.
    """
    return f"translate({x}, {sql_str(_IRI_BAD)}, {sql_str(_IRI_SUB)})"


def sanitize_iri_py(s: str) -> str:
    """Python twin of :func:`sanitize_iri` for plan-time constants."""
    return s.translate(str.maketrans(_IRI_BAD, _IRI_SUB))


def repair_pseudo_json(x: str) -> str:
    """F2 — the reference's pseudo-JSON repair chain, same order, same
    (buggy) literal-substring semantics (create_yelp_nt_files.py:118):
    ' -> ", None -> null, u" -> ", True -> true, False -> false.

    The chain corrupts values containing apostrophes or the words True/None —
    we reproduce that corruption on purpose; triple identity must match.
    """
    for old, new in [("'", '"'), ("None", "null"), ('u"', '"'), ("True", "true"), ("False", "false")]:
        x = f"replace({x}, {sql_str(old)}, {sql_str(new)})"
    return x


def normalize_datetime(x: str) -> str:
    """F3 — '"YYYY-MM-DD hh:mm:ss" -> "...T..."' (space→T, first occurrence
    is the only one in well-formed values; the reference replaces all).
    """
    return f"replace({x}, ' ', 'T')"


def inferred_datatype(x: str) -> str:
    """F5 — datatype inference for *string* values, preserving the
    reference's check order: isdigit → integer, float-parsable → decimal,
    else string (schema_functions.py:59-65). '007' → integer, '3.5' →
    decimal, '1,5' → string.

    ``RLIKE '^[0-9]+$'`` is str.isdigit() for ASCII content; float(s)
    succeeding is ``try_cast(... AS DOUBLE)`` being non-null — Spark's
    cast accepts the same lexical space for ordinary numerics, and try_cast
    does not throw under ANSI mode (the Spark 4 default).
    """
    return (
        f"CASE WHEN {x} RLIKE '^[0-9]+$' THEN {sql_str(XSD_INTEGER)}"
        f" WHEN try_cast({x} AS DOUBLE) IS NOT NULL THEN {sql_str(XSD_DECIMAL)}"
        f" ELSE {sql_str(XSD_STRING)} END"
    )


def json_value_datatype(x: str) -> str:
    """Datatype of a *parsed JSON* scalar as rdflib Literal() would type it
    (create_yelp_nt_files.py:134-137: Literal(sub_object) with no datatype →
    bool→xsd:boolean, int→xsd:integer, float→xsd:double... but in the nested
    attribute dicts only bool/str occur; str → plain literal, i.e. NULL
    datatype). ``x`` holds the JSON lexical form from a map<string,string>
    parse: 'true'/'false' → boolean, pure digits → integer, else plain.
    """
    return (
        f"CASE WHEN {x} IN ('true', 'false') THEN {sql_str(XSD_BOOLEAN)}"
        f" WHEN {x} RLIKE '^-?[0-9]+$' THEN {sql_str(XSD_INTEGER)} END"
    )


def space_words_lower(col: Column) -> Column:
    """F7 — camelCase → spaced lowercase (string_functions.py:40-41)."""
    return F.lower(F.regexp_replace(col, r"(?<!^)([A-Z])([^A-Z])", r" $1$2"))
