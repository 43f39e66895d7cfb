"""End-to-end golden test: full pipeline (scan → extract → parse → emit) vs
the independent Python oracle. P/R must be 1.0 at fixture scale (the driver
rule requires ≥0.95; we hold the engine to exact)."""

import json

import pyarrow.parquet as pq
import pytest

from fixtures.generate import default_fixture
from tests import oracle
from yckg_spark.operators.emit import emit_all
from yckg_spark.sources.web_pages import parse_records, read_web_pages


@pytest.fixture(scope="module")
def pipeline_result(spark, smoke_fixture_dir):
    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    records = parse_records(pages, use_extraction=True)
    triples, errors = emit_all(records)
    got_triples = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"], r["datatype"])
        for r in triples.collect()
    }
    got_errors = {(r["subject"], r["predicate"], r["kind"]) for r in errors.collect()}
    return got_triples, got_errors


@pytest.fixture(scope="module")
def golden(smoke_fixture_dir):
    tbl = pq.read_table(f"{smoke_fixture_dir}/web_pages.parquet", columns=["url", "text", "lang"])
    pages = tbl.to_pylist()
    return oracle.golden_from_pages(pages)


def _pr(got, want):
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    return precision, recall


def test_triples_pr_is_one(pipeline_result, golden):
    got, _ = pipeline_result
    want, _ = golden
    precision, recall = _pr(got, want)
    if precision < 1.0 or recall < 1.0:
        extra = list(got - want)[:10]
        missing = list(want - got)[:10]
        raise AssertionError(
            f"P={precision:.4f} R={recall:.4f}\nEXTRA (engine-only): {extra}\nMISSING: {missing}"
        )


def test_error_side_channel_matches(pipeline_result, golden):
    _, got_err = pipeline_result
    _, want_err = golden
    want_err = {(s, p, "none") for (s, p, _k) in want_err}
    got_none = {e for e in got_err if e[2] == "none"}
    assert got_none == want_err


def test_every_iri_is_absolute(pipeline_result):
    got, _ = pipeline_result
    for s, p, o, is_lit, dt in got:
        assert s.startswith("http"), s
        assert p.startswith("http"), p
        if not is_lit:
            assert o.startswith("http"), (s, p, o)


def test_emission_deterministic_across_parallelism(spark, smoke_fixture_dir):
    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")

    def run(n):
        records = parse_records(pages.repartition(n), use_extraction=False)
        t, _ = emit_all(records)
        return {tuple(r) for r in t.collect()}

    assert run(2) == run(13)


def test_checkin_counts_per_page_when_page_repeats(spark):
    """The same checkin page crawled at two URLs: the reference's Counter
    runs over ONE record's date list, so each copy counts 1 and 2, never
    the 2 and 4 of a global per-(business, date) count."""
    from datetime import datetime

    from yckg_spark import schemas

    rec = {
        "business_id": "B1",
        "date": "2016-01-01 10:00:00, 2016-01-02 11:00:00, 2016-01-02 11:00:00",
    }
    pairs = [("https://example.org/checkin/a", rec), ("https://example.org/checkin/b", rec)]
    pages = spark.createDataFrame(
        [(url, datetime(2021, 1, 1), None, json.dumps(r), "en") for url, r in pairs],
        schemas.WEB_PAGES,
    )
    triples, errors = emit_all(parse_records(pages, use_extraction=False))
    got = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"], r["datatype"])
        for r in triples.collect()
    }
    want, _ = oracle.golden_from_pages(
        [{"url": u, "text": json.dumps(r), "lang": "en"} for u, r in pairs]
    )
    assert got == want
    counts = sorted(o for _s, p, o, _l, _d in got if p.endswith("interactionStatistic"))
    assert counts == ["1", "2"]
    assert errors.count() == 0


def test_emit_all_plan_construction_round_trips(spark, smoke_fixture_dir):
    """Building the emission plan is a few SQL strings per domain: at most
    1,000 py4j round trips for all five domains (one Column-built scalar
    entry alone used to take ~280)."""
    from py4j.java_gateway import GatewayClient

    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    records = parse_records(pages, use_extraction=False, cache=False)
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        emit_all(records)
    finally:
        GatewayClient.send_command = send
    assert 0 < calls[0] <= 1000, calls[0]
