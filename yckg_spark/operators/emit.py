"""Triple emission: parsed record DataFrames → one columnar triples DataFrame.

Re-realizes the reference's per-row rdflib Graph construction
(Code/create_yelp_nt_files.py:21-305). Each domain is ONE Generate:
``inline(<entry array>)``, where the array holds a struct per candidate
triple of the record. The array is Spark SQL text rendered from the mapping
tables (functions/mappings.py): the fixed scalars, and the list- and
map-valued families (categories, attributes, hours, friends, elite, review
dates, checkin date counts) expanded in place with ``transform`` /
``flatten`` / ``map_entries``. There is no union and no shuffle inside a
domain, and building the plan is a few SQL strings per domain rather than
thousands of Column objects made over py4j. Blank nodes become
deterministic skolem IRIs (functions/skolem.py).

The reference's none-value side channel (create_yelp_nt_files.py:112-114)
rides in the same array: an entry with a non-null ``kind`` ('none' for a
sentinel value, 'error' for an unparseable nested attribute) carries the raw
key/value and goes to the second output DataFrame.

Each ``<domain>_entries`` returns the domain's entry rows; ``emit_all``
unions them and splits them on ``kind`` into ``(triples, errors)`` with
schemas ``schemas.TRIPLES`` / ``schemas.ERRORS``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructType

from yckg_spark import schemas
from yckg_spark.functions.mappings import (
    NESTED_ATTRIBUTE_KEYS,
    NONE_SENTINELS,
    TYPE_MAP,
    datatype_for,
    iri_root,
    predicate_for,
)
from yckg_spark.functions.skolem import skolem_iri
from yckg_spark.functions.strings import (
    inferred_datatype,
    json_value_datatype,
    normalize_datetime,
    repair_pseudo_json,
    sanitize_iri,
    sql_str as q,
)
from yckg_spark.namespaces import (
    BUSINESS_URI,
    RDF_TYPE,
    SCHEMA,
    USER_URI,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_INTEGER,
    YELPCAT,
    YELPVOC,
)

TRIPLE_COLS = ["subject", "predicate", "object", "is_literal", "datatype", "source_domain"]
ERROR_COLS = ["subject", "predicate", "object", "kind", "source_domain"]

_NULL = "CAST(NULL AS STRING)"
# a typed field the reference dispatches by Python value type (int →
# integer, float → decimal); string fields infer from the value instead
_TYPE_DATATYPES = {LongType: XSD_INTEGER, DoubleType: XSD_DECIMAL}


def _entry(s: str, p: str, o: str, *, lit: bool, dtype: str = _NULL, kind: str = _NULL) -> str:
    """One candidate triple (``kind`` null) or error row, as SQL."""
    return (
        f"named_struct('subject', {s}, 'predicate', {p}, 'object', {o},"
        f" 'is_literal', {str(lit).lower()}, 'datatype', {dtype}, 'kind', {kind})"
    )


def _iri(s: str, p: str, o: str) -> str:
    return _entry(s, p, o, lit=False)


def _error(key: str, raw: str = _NULL, kind: str = "none") -> str:
    """An errors-side row of the record: the reference logs the *raw*
    key/value (create_yelp_nt_files.py:113). ``key`` is SQL."""
    return _entry("subject", key, raw, lit=True, kind=q(kind))


def _is_sentinel(x: str) -> str:
    return f"({x} IS NULL OR {x} IN ({', '.join(map(q, NONE_SENTINELS))}))"


def _value(schema: StructType, key: str) -> tuple[str, str, str]:
    """(predicate, object, datatype) SQL of a record field, from the mapping
    tables: mapped keys take their predicate and datatype, the rest fall
    back to ``yelpvoc:{key}`` typed from the field (get_schema_predicate,
    schema_functions.py:12-76)."""
    raw = f"CAST({key} AS STRING)"
    dtype = datatype_for(key) or _TYPE_DATATYPES.get(type(schema[key].dataType))
    obj = normalize_datetime(raw) if dtype == XSD_DATETIME else raw
    return q(predicate_for(key)), obj, (q(dtype) if dtype else inferred_datatype(raw))


def _scalars(schema: StructType, skip: set[str]) -> list[str]:
    """A literal entry per remaining field, with none-sentinel routing."""
    out = []
    for key in schema.fieldNames():
        if key in skip:
            continue
        pred, obj, dtype = _value(schema, key)
        raw = f"CAST({key} AS STRING)"
        out.append(
            f"IF({_is_sentinel(raw)}, {_error(q(key), raw)},"
            f" {_entry('subject', pred, obj, lit=True, dtype=dtype)})"
        )
    return out


def _inline(df: DataFrame, domain: str, parts: list[str]) -> DataFrame:
    """The domain's entry rows: one ``inline`` of the concatenated entry
    arrays, plus ``source_domain``."""
    return df.selectExpr(f"inline(concat({', '.join(parts)}))", f"{q(domain)} AS source_domain")


# ---------------------------------------------------------------------------
# business  (reference: create_yelp_nt_files.py:21-195, business path)
# ---------------------------------------------------------------------------


def business_entries(biz: DataFrame) -> DataFrame:
    has = q(YELPVOC + "has")
    fixed = [
        _iri("subject", q(RDF_TYPE), q(TYPE_MAP["business"])),
        _iri("subject", q(SCHEMA + "url"), f"concat({q(BUSINESS_URI)}, business_id)"),
        *_scalars(schemas.BUSINESS, {"business_id", "attributes", "categories", "hours"}),
    ]
    # categories: ", "-split, sanitized: a keywords edge plus the category's
    # type triple. The reference's first-seen category_cache (:47,101-108)
    # is set-equivalent to the build's global dedup of the repeats. A falsy
    # value is NOT deleted by the reference (:86-89) and falls through to
    # the none-sentinel routing.
    categories = f"""IF(categories IS NULL OR categories = '',
        array({_error("'categories'", "categories")}),
        flatten(transform(
            transform(split(categories, ', '), c -> concat({q(YELPCAT)}, {sanitize_iri("c")})),
            cat -> array(
                {_iri("subject", q(SCHEMA + "keywords"), "cat")},
                {_iri("cat", q(RDF_TYPE), q(YELPVOC + "YelpCategory"))}))))"""
    # nested pseudo-JSON attribute → skolem blank node subgraph
    # (create_yelp_nt_files.py:116-137); the one-element transform binds
    # the bnode and the parse once. A value the repair chain cannot save
    # kills the whole record in the reference (exception at :183); we
    # surface it instead. A JSON null sub-value → rdflib Literal(None),
    # whose lexical form is "None".
    type_map = ", ".join(f"{q(k)}, {q(TYPE_MAP[k])}" for k in sorted(NESTED_ATTRIBUTE_KEYS))
    nested = f"""flatten(transform(
        array(named_struct(
            'b', {skolem_iri("subject", "kv.key")},
            'm', from_json({repair_pseudo_json("kv.value")}, 'map<string,string>'))),
        n -> IF(n.m IS NULL,
            array({_error("kv.key", kind="error")}),
            concat(
                array(
                    {_iri("subject", f"concat({has}, kv.key)", "n.b")},
                    {_iri("n.b", q(RDF_TYPE), f"map({type_map})[kv.key]")}),
                transform(map_entries(n.m), e -> {_entry(
                    "n.b", f"concat({has}, e.key)", "coalesce(e.value, 'None')",
                    lit=True, dtype=json_value_datatype("e.value"))})))))"""
    # flattened attributes (dictionary_functions.py:1-18, dispatched per
    # key at :111-178): a plain one → yelpvoc:{key} literal typed from the
    # string value. flatten_dictionary keeps a null attributes/hours value
    # as a plain key → the none list (dictionary_functions.py:11-16 +
    # create_yelp_nt_files.py:112).
    nested_keys = ", ".join(map(q, sorted(NESTED_ATTRIBUTE_KEYS)))
    attributes = f"""IF(attributes IS NULL,
        array({_error("'attributes'")}),
        flatten(transform(map_entries(attributes), kv -> CASE
            WHEN {_is_sentinel("kv.value")} THEN array({_error("kv.key", "kv.value")})
            WHEN kv.key IN ({nested_keys}) THEN {nested}
            ELSE array({_entry(
                "subject", f"concat({q(YELPVOC)}, kv.key)", "kv.value",
                lit=True, dtype=inferred_datatype("kv.value"))})
            END)))"""
    # hours: exempt from flattening (dictionary_functions.py:12), so it
    # takes the dict path: yelpvoc:hasHours → bnode typed
    # schema:OpeningHoursSpecification with plain-literal per-day values
    hours = f"""IF(hours IS NULL,
        array({_error("'hours'")}),
        concat(
            array(
                {_iri("subject", q(predicate_for("hours")), "hours_bnode")},
                {_iri("hours_bnode", q(RDF_TYPE), q(TYPE_MAP["hours"]))}),
            transform(map_entries(hours), kv -> {_entry(
                "hours_bnode", f"concat({has}, kv.key)", "kv.value", lit=True)})))"""
    subject = f"concat({q(iri_root('business'))}, business_id)"
    rows = biz.selectExpr(
        f"{subject} AS subject", f"{skolem_iri(subject, q('hours'))} AS hours_bnode", "*"
    )
    return _inline(rows, "business", [f"array({', '.join(fixed)})", categories, attributes, hours])


# ---------------------------------------------------------------------------
# user  (reference: create_yelp_nt_files.py, user path + list branch :139-157)
# ---------------------------------------------------------------------------


def user_entries(users: DataFrame) -> DataFrame:
    fixed = [
        _iri("subject", q(RDF_TYPE), q(TYPE_MAP["user"])),
        _iri("subject", q(SCHEMA + "url"), f"concat({q(USER_URI)}, user_id)"),
        *_scalars(schemas.USER, {"user_id", "friends", "elite"}),
    ]
    # friends: ", "-split → schema:knows IRI edges (:148-152)
    friends = f"""IF({_is_sentinel("friends")},
        array({_error("'friends'", "friends")}),
        transform(split(friends, ', '), f -> {_iri(
            "subject", q(predicate_for("friends")), f"concat({q(iri_root('user'))}, f)")}))"""
    # elite: bare-comma split (:140 — the one key split on "," not ", ");
    # datatype inferred once from the FULL original string (:142 computes
    # get_schema_predicate on the unsplit value)
    elite = f"""IF({_is_sentinel("elite")},
        array({_error("'elite'", "elite")}),
        transform(split(elite, ','), y -> {_entry(
            "subject", q(predicate_for("elite")), "y", lit=True, dtype=inferred_datatype("elite"))}))"""
    rows = users.selectExpr(f"concat({q(iri_root('user'))}, user_id) AS subject", "*")
    return _inline(rows, "user", [f"array({', '.join(fixed)})", friends, elite])


# ---------------------------------------------------------------------------
# review  (reference: create_yelp_nt_files.py:55-56,76-81 + scalar path)
# ---------------------------------------------------------------------------


def review_entries(reviews: DataFrame) -> DataFrame:
    fixed = [
        _iri("subject", q(RDF_TYPE), q(TYPE_MAP["review"])),
        # review url: https://www.yelp.com/biz/{business_id}?hrid={review_id} (:56,69-71)
        _iri(
            "subject",
            q(SCHEMA + "url"),
            f"concat({q(BUSINESS_URI)}, business_id, '?hrid=', review_id)",
        ),
        # author edge added before the generic loop (:76-81)
        _iri("subject", q(SCHEMA + "author"), f"concat({q(iri_root('user'))}, user_id)"),
        # business link is an IRI for reviews (:160-166)
        f"""IF(business_id IS NULL, {_error("'business_id'")}, {_iri(
            "subject", q(predicate_for("business_id")),
            f"concat({q(iri_root('business'))}, business_id)")})""",
        *_scalars(schemas.REVIEW, {"review_id", "user_id", "business_id", "date"}),
    ]
    # 'date' goes through the list branch (:139-157): ", "-split, space→T
    dates = f"""IF({_is_sentinel("date")},
        array({_error("'date'", "date")}),
        transform(split(date, ', '), d -> {_entry(
            "subject", q(predicate_for("date")), normalize_datetime("d"),
            lit=True, dtype=q(datatype_for("date")))}))"""
    rows = reviews.selectExpr(f"concat({q(iri_root('review'))}, review_id) AS subject", "*")
    return _inline(rows, "review", [f"array({', '.join(fixed)})", dates])


# ---------------------------------------------------------------------------
# tip  (reference: create_tip_nt_file :253-304 — blank-node subject; NOTE the
# reference has no none-sentinel routing in this path and emits *every*
# remaining value as a Literal, including the business link typed xsd:anyURI)
# ---------------------------------------------------------------------------


def tip_entries(tips: DataFrame) -> DataFrame:
    entries = [
        _iri("subject", q(SCHEMA + "author"), f"concat({q(iri_root('user'))}, user_id)"),
        _iri("subject", q(RDF_TYPE), q(YELPVOC + "Tip")),
    ]
    for key in ("business_id", "text", "date", "compliment_count"):
        pred, obj, dtype = _value(schemas.TIP, key)
        if key == "business_id":  # Literal(obj, datatype=anyURI) at :294-296
            obj = f"concat({q(iri_root('business'))}, business_id)"
        entries.append(_entry("subject", pred, obj, lit=True, dtype=dtype))
    # a tip has no natural key; the skolem uses the page url so duplicate tip
    # content keeps reference multiplicity (one bnode per input row).
    rows = tips.selectExpr(f"{skolem_iri(q('tip'), 'url')} AS subject", "*")
    return _inline(rows, "tip", [f"array({', '.join(entries)})"])


# ---------------------------------------------------------------------------
# checkin  (reference: create_checkin_nt_file :198-250 — Counter over the
# date list → per-(date,count) blank node with 4 triples)
# ---------------------------------------------------------------------------


def checkin_entries(checkins: DataFrame) -> DataFrame:
    # Counter(dates) of ONE record (:215-225), per row: sort the record's
    # normalized dates; each run of equal dates is one (date, count) pair,
    # its count the distance to the next run's start.
    dates = checkins.where("date IS NOT NULL AND date != ''").selectExpr(
        "business_id",
        f"array_sort(transform(split(date, ', '), d -> {normalize_datetime('d')})) AS ds",
    )
    runs = dates.selectExpr(
        "business_id",
        "ds",
        "filter(sequence(0, size(ds) - 1), i -> i = 0 OR ds[i] != get(ds, i - 1)) AS starts",
    )
    business = f"concat({q(iri_root('checkin'))}, business_id)"
    cell = f"""flatten(transform(
        transform(starts, (p, j) -> named_struct(
            'b', {skolem_iri(q('checkin'), 'business_id', 'ds[p]')},
            'd', ds[p],
            'n', coalesce(get(starts, j + 1), size(ds)) - p)),
        c -> array(
            {_iri("c.b", q(SCHEMA + "object"), business)},
            {_iri("c.b", q(RDF_TYPE), q(SCHEMA + "ArriveAction"))},
            {_entry("c.b", q(SCHEMA + "startTime"), "c.d", lit=True, dtype=q(XSD_DATETIME))},
            {_entry("c.b", q(SCHEMA + "interactionStatistic"), "CAST(c.n AS STRING)",
                    lit=True, dtype=q(XSD_INTEGER))})))"""
    return _inline(runs, "checkin", [cell])


# ---------------------------------------------------------------------------
# glue
# ---------------------------------------------------------------------------

ENTRIES = {
    "business": business_entries,
    "user": user_entries,
    "review": review_entries,
    "tip": tip_entries,
    "checkin": checkin_entries,
}
# the domains whose reference path routes values to the none list; tip and
# checkin emit every value (create_tip_nt_file, create_checkin_nt_file)
_ROUTED = {"business", "user", "review"}


def _union(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.union(b)


def emit_all(records: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """(triples, errors) of all domains present in ``records``: the union of
    their entry rows, split on ``kind``."""
    entries = {domain: ENTRIES[domain](df) for domain, df in records.items()}
    routed = [x for domain, x in entries.items() if domain in _ROUTED]
    rest = [x for domain, x in entries.items() if domain not in _ROUTED]
    # the routed union is built once and reused inside ``every``
    routed = [reduce(_union, routed)] if routed else []
    every = reduce(_union, routed + rest)
    # no routing domain present: an empty errors branch, pruned from the plan
    errors = routed[0] if routed else every.where("false")
    triples = every.where("kind IS NULL").selectExpr(*TRIPLE_COLS)
    return triples, errors.where("kind IS NOT NULL").selectExpr(*ERROR_COLS)
