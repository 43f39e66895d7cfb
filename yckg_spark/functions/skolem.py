"""Deterministic skolem IRIs for blank nodes.

The reference mints rdflib ``BNode()`` labels that are random per process
(create_yelp_nt_files.py:122,227,270) — incompatible with distributed,
resumable execution and with set-based P/R comparison. We replace every
blank node with a *content-addressed skolem IRI*:

    yelpent:bnode/<sha256(part1 | part2 | ...)>

Same inputs → same IRI, across runs, partitions, and parallelism levels.
P/R against the reference is computed after skolemizing both sides with the
same rule (SURVEY §7 known-hard #1).
"""

from __future__ import annotations

from yckg_spark.functions.strings import sql_str
from yckg_spark.namespaces import YELPENT

SKOLEM_ROOT = YELPENT + "bnode/"
_SEP = "\x1f"  # unit separator — cannot occur in the payload fields


def skolem_iri(*parts: str) -> str:
    """Spark SQL for the content-hash skolem IRI of the given SQL
    expressions (columns or quoted constants)."""
    fields = ", ".join(f"coalesce(CAST({p} AS STRING), '')" for p in parts)
    return f"concat({sql_str(SKOLEM_ROOT)}, sha2(concat_ws(chr({ord(_SEP)}), {fields}), 256))"


def skolem_iri_py(*parts: str) -> str:
    """Python twin for tests / golden-oracle construction."""
    import hashlib

    payload = _SEP.join("" if p is None else str(p) for p in parts)
    return SKOLEM_ROOT + hashlib.sha256(payload.encode("utf-8")).hexdigest()
