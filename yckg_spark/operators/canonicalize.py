"""Canonicalization + explicit skew handling (north_rule requirement).

The reference's first-seen caches (create_yelp_nt_files.py:47,101-108) and
drop_duplicates calls (A8/A9 in SURVEY §2.5) become global hash aggregations
here. Two shapes:

  * ``dedup_triples`` — whole-row distinct; keys are near-unique so skew is
    not a concern and Spark's partial (map-side) aggregation suffices.
  * ``salted_agg`` / ``salted_distinct_values`` — two-phase aggregation with
    an explicit salt for *head-entity* keys: in this corpus the category
    'Restaurants' covers ~35% of businesses and the head city ~10% of rows
    (reference reality, Yelp_CQ.md:24-45). A naive groupBy(category) puts a
    third of the data in one reducer; salting splits each hot key across
    ``n_salts`` partial groups, then merges the partials.

AQE skew-join splitting is additionally enabled session-wide (session.py);
salting covers aggregations, which AQE's skew handling does not re-balance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


DEDUP_KEY = ["subject", "predicate", "object", "is_literal", "datatype"]

# every source_domain the program writes, sorted: min() over their ranks is
# min() over the names (emit.ENTRIES, enrich_schema, enrich_wikidata)
SOURCE_DOMAINS = (
    "business",
    "checkin",
    "review",
    "schema_mappings",
    "tip",
    "user",
    "wiki_mappings",
    "wikidata_locations",
)
_NAMES = [f"'{d}'" for d in SOURCE_DOMAINS]
_RANK = (
    "CASE WHEN source_domain IS NULL THEN NULL "
    + " ".join(f"WHEN source_domain = {n} THEN {i}" for i, n in enumerate(_NAMES))
    + " ELSE raise_error(concat('unknown source_domain: ', source_domain)) END"
)
_UNRANK = f"get(array({', '.join(_NAMES)}), source_domain)"


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Global set semantics over the emitted triple multiset.

    Any carried column OUTSIDE the dedup key (e.g. ``source_domain``) is
    resolved with a deterministic min() instead of dropDuplicates'
    arbitrary survivor — two builds at different parallelism produce
    byte-identical stores even when the same triple is emitted by several
    domains. ``source_domain`` is min()-ed as its rank in
    ``SOURCE_DOMAINS``: an int buffer keeps the aggregate a
    HashAggregate, where min() over a string plans a SortAggregate that
    sorts the 5 string keys twice. A name outside the list fails the job.
    """
    extra = [c for c in triples.columns if c not in DEDUP_KEY]
    if not extra:
        return triples.dropDuplicates(DEDUP_KEY)
    coded = "source_domain" in extra
    if coded:
        triples = triples.withColumn("source_domain", F.expr(_RANK))
    out = triples.groupBy(*DEDUP_KEY).agg(*[F.min(c).alias(c) for c in extra])
    return out.withColumn("source_domain", F.expr(_UNRANK)) if coded else out


def _salt(df: DataFrame, n_salts: int) -> Column:
    # content-hash salt: fully deterministic across runs and parallelism
    # levels (unlike monotonically_increasing_id); rows of one hot key spread
    # across n_salts partial groups as long as the rows differ in any column
    return F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column → 'count' | 'sum:<col>'. Phase 1 aggregates
    per (key, salt) — at most ``n_salts`` partial rows per hot key, spread
    across reducers; phase 2 merges partials per key.
    """
    phase1_exprs = []
    phase2_exprs = []
    for out, spec in aggs.items():
        if spec == "count":
            phase1_exprs.append(F.count(F.lit(1)).alias(f"__p_{out}"))
        else:
            kind, col = spec.split(":", 1)
            assert kind == "sum", spec
            phase1_exprs.append(F.sum(col).alias(f"__p_{out}"))
        phase2_exprs.append(F.sum(f"__p_{out}").alias(out))
    partial = df.withColumn("__salt", _salt(df, n_salts)).groupBy(*keys, "__salt").agg(*phase1_exprs)
    return partial.groupBy(*keys).agg(*phase2_exprs)


def salted_distinct_values(df: DataFrame, col: str, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Distinct values of one (possibly extremely hot) column via salted
    two-phase dedup — phase 1 dedups per (value, salt) partition-locally,
    phase 2 dedups the ≤ n_salts survivors per value."""
    salted = df.withColumn("__salt", _salt(df, n_salts)).select(col, "__salt")
    return salted.dropDuplicates([col, "__salt"]).select(col).distinct()
