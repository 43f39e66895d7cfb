"""Seeded benchmark inputs and their oracles, cached on disk.

Every input is a pure function of (kind, seed, n_business). The web pages
come from ``fixtures/generate.py``; the oracles come from the independent
pure-Python checks under ``tests/``. Nothing here starts Spark: the program
only ever sees the parquet files written below.

Cache layout: ``<cache>/<kind>-s<seed>-n<n_business>/`` holding
``web_pages.parquet``, the snapshot lookup tables, ``oracle_triples.parquet``,
``oracle_errors.parquet``, ``oracle_links.parquet`` and ``oracle.json``
(CQ answers, LD-JSON hit fraction, page counts).
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.generate import (
    _PAGE_SCHEMA,
    build_pages,
    generate_records,
    snapshot_tables,
)
from tests.oracle import golden_from_pages
from tests.oracle_locations import golden_location_triples
from yckg_spark.namespaces import RDF_TYPE, SCHEMA, YELPCAT, YELPVOC, XSD_STRING
from yckg_spark.operators.extract import _LDJSON_RE

_TRIPLE_SCHEMA = pa.schema(
    [
        ("subject", pa.string()),
        ("predicate", pa.string()),
        ("object", pa.string()),
        ("is_literal", pa.bool_()),
        ("datatype", pa.string()),
    ]
)
_ERROR_SCHEMA = pa.schema(
    [("subject", pa.string()), ("predicate", pa.string()), ("kind", pa.string())]
)
# bump when the layout or the oracle definitions change, so stale caches
# are rebuilt instead of trusted
_VERSION = "v1"


def corpus_dir(cache: str, kind: str, seed: int, n_business: int) -> str:
    """Generate (once) and return the input directory for one corpus."""
    out = os.path.join(cache, f"{kind}-s{seed}-n{n_business}")
    marker = os.path.join(out, f"_OK_{_VERSION}")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    pages = build_pages(generate_records(seed, n_business), seed)
    _write_pages(pages, os.path.join(out, "web_pages.parquet"))
    snaps = snapshot_tables()
    for name, rows in snaps.items():
        keys = list(rows[0].keys())
        pq.write_table(
            pa.table({k: [r.get(k) for r in rows] for k in keys}),
            os.path.join(out, f"{name}.parquet"),
        )
    _write_oracle(out, pages, snaps)
    with open(marker, "w") as fh:
        fh.write("ok")
    return out


def _write_pages(pages: list[dict], path: str) -> None:
    cols = {k: [p[k] for p in pages] for k in _PAGE_SCHEMA.names}
    # same row-group bound as the repo's fixtures, so the scan can split
    pq.write_table(pa.table(cols, schema=_PAGE_SCHEMA), path, row_group_size=2048)


def _write_oracle(out: str, pages: list[dict], snaps: dict) -> None:
    english = [p for p in pages if p["lang"] == "en"]
    triples, errors = golden_from_pages(english)
    businesses = [json.loads(p["text"]) for p in english if "/business/" in p["url"]]
    links = golden_location_triples(businesses, snaps)
    pq.write_table(_triple_table(triples), os.path.join(out, "oracle_triples.parquet"))
    pq.write_table(_triple_table(links), os.path.join(out, "oracle_links.parquet"))
    pq.write_table(
        pa.table(
            {
                "subject": [e[0] for e in errors],
                "predicate": [e[1] for e in errors],
                "kind": [e[2] for e in errors],
            },
            schema=_ERROR_SCHEMA,
        ),
        os.path.join(out, "oracle_errors.parquet"),
    )
    hits = sum(1 for p in english if _LDJSON_RE.search(p["html"]))
    meta = {
        "pages": len(pages),
        "english_pages": len(english),
        "ldjson_hit_frac": hits / len(english),
        "triples": len(triples),
        "errors": len(errors),
        "link_triples": len(links),
        "business_rows": len(businesses),
        "cq_answers": cq_answers(triples),
    }
    with open(os.path.join(out, "oracle.json"), "w") as fh:
        json.dump(meta, fh)


def _triple_table(triples) -> pa.Table:
    rows = sorted(triples, key=lambda t: tuple("" if x is None else str(x) for x in t))
    return pa.table(
        {name: [t[i] for t in rows] for i, name in enumerate(_TRIPLE_SCHEMA.names)},
        schema=_TRIPLE_SCHEMA,
    )


def cq_answers(golden) -> dict[str, list[list]]:
    """Each reference CQ text's rows, computed in plain Python over the
    oracle triples the way ``tests/test_queries.py`` does. Numbers are
    floats (compared with a tolerance); row order is the SELECT order."""
    def objs(pred, *, literal=None):
        return {
            o for (s, p, o, il, dt) in golden
            if p == pred and (literal is None or il == literal)
        }

    def subjects(pred, obj):
        return {s for (s, p, o, il, dt) in golden if p == pred and o == obj}

    keywords = SCHEMA + "keywords"
    restaurants = subjects(keywords, YELPCAT + "Restaurants")
    reviewed = objs(SCHEMA + "about", literal=False)
    biz = subjects(RDF_TYPE, SCHEMA + "LocalBusiness")
    ratings = [
        float(o) for (s, p, o, il, dt) in golden
        if p == SCHEMA + "aggregateRating" and s in biz
    ]
    rated = {
        s for (s, p, o, il, dt) in golden
        if p == SCHEMA + "aggregateRating" and s in biz and float(o) > 4
    }
    in_city = {
        s for (s, p, o, il, dt) in golden
        if p == YELPVOC + "locatedInCity" and o == "Santa Barbara" and dt == XSD_STRING
    }

    obj = {s: o for (s, p, o, il, dt) in golden if p == SCHEMA + "object"}
    start = {s: o for (s, p, o, il, dt) in golden if p == SCHEMA + "startTime"}
    visits = {s: int(o) for (s, p, o, il, dt) in golden if p == SCHEMA + "interactionStatistic"}
    per_day: Counter = Counter()
    per_biz: Counter = Counter()
    for bn, b in obj.items():
        d = start[bn][:10]
        per_day[(b, d)] += visits[bn]
        per_biz[b] += visits[bn]
    (b8, d8), v8 = max(per_day.items(), key=lambda kv: kv[1])
    b9, v9 = max(per_biz.items(), key=lambda kv: kv[1])

    knows = [(s, o) for (s, p, o, il, dt) in golden if p == SCHEMA + "knows"]
    friends = Counter(s for s, _ in knows)
    persons = subjects(RDF_TYPE, SCHEMA + "Person")
    reviews = subjects(RDF_TYPE, SCHEMA + "UserReview")
    authored = Counter(
        o for (s, p, o, il, dt) in golden if p == SCHEMA + "author" and s in reviews
    )
    may_2018 = sum(
        1 for (s, p, o, il, dt) in golden
        if p == SCHEMA + "dateCreated" and s in reviews and o.startswith("2018-05")
    )
    parking = subjects(RDF_TYPE, SCHEMA + "ParkingFacility")
    parking_preds = {p for (s, p, o, il, dt) in golden if s in parking and p != RDF_TYPE}
    karaoke = subjects(YELPVOC + "haskaraoke", "true")
    music = {(s, o) for (s, p, o, il, dt) in golden if p == YELPVOC + "hasMusic"}

    year, month, day = (float(x) for x in d8.split("-"))
    return {
        "cq1": [[float(len(objs(keywords)))]],
        "cq2": [[float(len(restaurants))]],
        "cq3": [[float(len(restaurants & reviewed))]],
        "cq4": [[float(len(reviewed))]],
        "cq5": [[float(len(rated))]],
        "cq6": [[sum(ratings) / len(ratings)]],
        # the CQ7 text has no review join: every Santa Barbara business
        "cq7": [[float(len(in_city))]],
        "cq8": [[b8, year, month, day, float(v8)]],
        "cq9": [[b9, float(v9)]],
        "cq10": [[float(len(objs(SCHEMA + "author", literal=False)))]],
        "cq11": [[float(sum(1 for c in friends.values() if c > 10))]],
        "cq12": [[len(knows) / len(persons)]],
        "cq13": [[float(sum(1 for c in authored.values() if c == 10))]],
        "cq14": [[2018.0, 5.0, float(may_2018)]],
        "cq15": [[float(len(parking_preds))]],
        "cq16": [[float(len({b for (b, bn) in music if bn in karaoke}))]],
    }


def load_meta(corpus: str) -> dict:
    with open(os.path.join(corpus, "oracle.json")) as fh:
        return json.load(fh)
