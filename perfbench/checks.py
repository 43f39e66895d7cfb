"""Output checks: the program's results against the cached oracles.

Triple sets are compared by an order-independent digest (row count plus
the sum of a 64-bit row hash) computed by the same Spark expression on
both sides, so a check costs one aggregate job instead of collecting the
store to the driver.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRIPLE_KEY = ["subject", "predicate", "object", "is_literal", "datatype"]
ERROR_KEY = ["subject", "predicate", "kind"]


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(rows, sum of each row's xxhash64 over ``cols``): equal for equal
    multisets of rows, whatever their order."""
    # nulls hash as "" so every column always feeds the hash; the digest
    # therefore cannot tell a null from an empty string
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols])
    row = df.select(*cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


class Oracle:
    """Digests of one corpus's oracle files, each computed once per run."""

    def __init__(self, spark: SparkSession, corpus: str):
        self._spark = spark
        self._corpus = corpus
        self._cache: dict[str, tuple[int, int]] = {}

    def _get(self, name: str, cols: list[str]) -> tuple[int, int]:
        if name not in self._cache:
            path = os.path.join(self._corpus, f"{name}.parquet")
            self._cache[name] = digest(self._spark.read.parquet(path), cols)
        return self._cache[name]

    def _compare(self, label: str, df: DataFrame, name: str, cols: list[str]) -> list[str]:
        got, want = digest(df, cols), self._get(name, cols)
        return [] if got == want else [f"{label} {got} != oracle {want}"]

    def check_store(self, store: str) -> list[str]:
        """Problems with a built store's triples and errors ([] when equal).
        The error channel is compared as a set, as the golden tests do."""
        read = self._spark.read.parquet
        errors = read(os.path.join(store, "errors")).select(*ERROR_KEY).distinct()
        return self._compare(
            "store triples", read(os.path.join(store, "triples")), "oracle_triples", TRIPLE_KEY
        ) + self._compare("store errors", errors, "oracle_errors", ERROR_KEY)

    def check_links(self, link_out: str) -> list[str]:
        triples = self._spark.read.parquet(os.path.join(link_out, "triples"))
        return self._compare("link triples", triples, "oracle_links", TRIPLE_KEY)


def rows_match(got: list[tuple], want: list[list]) -> bool:
    """CQ rows equal the oracle's: same shape, strings equal, numbers equal
    to a relative 1e-9 (averages are summed in another order)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, str):
                if a != b:
                    return False
            elif not isinstance(a, (int, float)) or not math.isclose(
                float(a), b, rel_tol=1e-9
            ):
                return False
    return True
