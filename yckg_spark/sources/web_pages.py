"""The primary source: a table of Common-Crawl-style web pages
(url, warc_ts, html, text, lang) → five typed record DataFrames.

Production target is an Iceberg table (``spark.read.table``); the sandbox has
no Iceberg runtime jar, so the reader falls back to parquet with the same
schema — the pipeline above this function is identical either way. Column
pruning matters enormously here: the ``html`` binary column is only read when
extraction actually runs; every downstream stage selects away from it
immediately so the scan's ReadSchema stays narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yckg_spark import schemas
from yckg_spark.operators.extract import classify_domain, with_extracted_text

DOMAINS = ("business", "user", "review", "tip", "checkin")

_RECORD_SCHEMAS = {
    "business": schemas.BUSINESS,
    "user": schemas.USER,
    "review": schemas.REVIEW,
    "tip": schemas.TIP,
    "checkin": schemas.CHECKIN,
}


def read_web_pages(spark: SparkSession, source: str) -> DataFrame:
    """``source`` is a table name (Iceberg catalog) or a parquet path.

    A bucket-partitioned dataset (written by :func:`write_bucketed_pages`)
    comes back with the discovered ``bucket`` partition column appended —
    downstream bucket filters then hit ``PartitionFilters`` (pruned scan)
    instead of decoding every row to evaluate a hash predicate.
    """
    if "/" in source or source.endswith(".parquet"):
        return spark.read.schema(schemas.WEB_PAGES).parquet(source)
    return spark.read.table(source)


def bucket_spec_path(path: str) -> str:
    import os

    return os.path.join(path, "_bucket_spec.json")


def read_bucket_spec(path: str) -> dict | None:
    """n_buckets the dataset was written with, or None if not bucketed."""
    import json
    import os

    p = bucket_spec_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def with_trusted_bucket(
    pages: DataFrame, spec: dict | None, n_buckets: int
) -> DataFrame:
    """Keep a discovered ``bucket`` partition column ONLY when the sidecar
    spec exists and matches the requested bucket count. ``bucket=`` dirs
    with a missing spec (e.g. a copy that moved only the parquet files)
    mean the layout's bucket count is unknown — drop the column so the
    build recomputes it from url, instead of silently never building
    buckets >= the layout's true count."""
    if "bucket" in pages.columns and (spec is None or spec["n_buckets"] != n_buckets):
        return pages.drop("bucket")
    return pages


def write_bucketed_pages(pages: DataFrame, path: str, n_buckets: int) -> None:
    """Write the corpus partitioned by ``bucket = pmod(hash(url), n)`` —
    the sandbox emulation of an Iceberg table partitioned by
    ``bucket(n, url)`` (SURVEY §1.4). Each materialization bucket becomes
    a physical partition directory, so per-bucket work (resumable build
    commits, worker shards) scans only its own slice of the corpus.

    The spec file records n_buckets so readers can verify their bucket
    count matches the physical layout before trusting the partition column.
    """
    import json

    (
        pages.withColumn("bucket", F.pmod(F.hash("url"), F.lit(n_buckets)))
        .write.mode("overwrite")
        .partitionBy("bucket")
        # bounded row groups so a bucket's files stay splittable across
        # tasks even when one writer task produced the whole partition
        .option("parquet.block.size", 4 * 1024 * 1024)
        .parquet(path)
    )
    with open(bucket_spec_path(path), "w") as fh:
        json.dump({"n_buckets": n_buckets, "expr": "pmod(hash(url), n_buckets)"}, fh)


def parse_records(
    pages: DataFrame,
    *,
    lang: str = "en",
    use_extraction: bool = True,
    cache: bool | str = True,
    scratch_dir: str | None = None,
    persisted_out: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """pages → {domain: typed record DataFrame (+ url, warc_ts)}.

    ``use_extraction=True`` runs the HTML→text pandas UDF; with False the
    pre-extracted ``text`` column is trusted (both paths are byte-identical
    on well-formed corpora — asserted by tests/test_extract.py).

    Emission reads each domain frame in one Generate branch per output
    (triples, errors), so the five domain parses share the classified
    frame, which needs a stage cut — without one every domain branch
    re-runs the extraction UDF. The cut is the only one: each domain's
    ``from_json`` then runs once per consuming action, which costs less
    than writing and re-reading five parsed frames.

    ``scratch_dir`` (preferred at scale): materialize the classified frame
    to parquet and re-read it. Columnar, splittable, contention-free — the
    production two-stage pipeline (extracted-records table between
    extraction and emission). Block-manager ``persist`` is the fallback
    (``cache=True`` / a ``StorageLevel`` attr name string); the persisted
    frame is appended to ``persisted_out`` so the caller can release it.
    """
    pages = pages.filter(F.col("lang") == lang)
    if use_extraction:
        pages = with_extracted_text(pages).drop("html")
        text_col = F.col("extracted_text")
    else:
        pages = pages.drop("html")
        text_col = F.col("text")

    classified = pages.select(
        "url",
        "warc_ts",
        text_col.alias("record_text"),
        classify_domain(text_col).alias("domain"),
    )
    if scratch_dir:
        cpath = f"{scratch_dir}/classified.parquet"
        classified.write.mode("overwrite").parquet(cpath)
        classified = classified.sparkSession.read.parquet(cpath)
    elif cache:
        from pyspark import StorageLevel

        # DISK_ONLY by default: serialized blocks on local disk sidestep the
        # in-heap memory-store pressure that a 10×-bigger corpus would put on
        # the executor heap; page cache makes re-reads near-memory-speed.
        level = getattr(StorageLevel, cache) if isinstance(cache, str) else StorageLevel.DISK_ONLY
        classified = classified.persist(level)
        if persisted_out is not None:
            persisted_out.append(classified)

    return {
        domain: classified.where(f"domain = '{domain}'")
        .selectExpr(
            "url",
            "warc_ts",
            f"from_json(record_text, '{_RECORD_SCHEMAS[domain].simpleString()}') AS r",
        )
        .selectExpr("url", "warc_ts", "r.*")
        for domain in DOMAINS
    }
