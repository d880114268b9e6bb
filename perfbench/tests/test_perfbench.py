"""Tests for the benchmark's own pieces: input generators, event-log
parsing and span attribution, and the correctness checks that feed
``failed``. None of them starts Spark.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import os

import duckdb
import pytest

import eventlog
import gen_tables
import ingest_gen
import run

DATA = os.path.join(os.path.dirname(__file__), "data")


# -- generators ------------------------------------------------------------


def _files(waves):
    return [f for w in waves for f in w.files]


def test_waves_are_byte_identical_for_a_seed_and_differ_across_seeds():
    a = ingest_gen.make_waves(7, [500] * 3)
    b = ingest_gen.make_waves(7, [500] * 3)
    c = ingest_gen.make_waves(8, [500] * 3)
    assert _files(a) == _files(b)
    assert [body for _, body in _files(a)] != [body for _, body in _files(c)]


def test_wave_contents_match_their_expectation():
    waves = ingest_gen.make_waves(3, [500] * 5)
    lines = [
        line
        for w in waves
        for _, body in w.files
        for line in gzip.decompress(body).decode().splitlines()
    ]
    want = ingest_gen.expected_after(waves)
    assert want.raw_rows == len(lines) == 5 * 500
    # replays are byte-for-byte copies, so distinct valid ids < valid lines
    assert want.events == sum(len(w.valid) for w in waves) < len(lines)
    assert sum(c for c, _, _ in want.summary.values()) == want.events
    # wave 3 covers 21:00-01:00, so it lands in two day partitions
    days = {rel.split("/")[2] for rel, _ in waves[3].files}
    assert days == {"day=01", "day=02"}


def test_tables_are_identical_for_a_seed_and_differ_across_seeds():
    a = gen_tables.tables(5, 0.001)
    b = gen_tables.tables(5, 0.001)
    c = gen_tables.tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000


# -- event log and spans ---------------------------------------------------

# The log was recorded from a local[2] session running a two-job group-by
# (execution 0: one shuffle-map job and one result job) and then the
# registry's b17 pandas-UDF query (a plan-build job, then execution 1),
# and trimmed to the fields eventlog.parse reads.
T_GROUPBY = (1792207126930.9, 1792207133118.5)


def _spans():
    s = eventlog.Span
    return [
        s(0, None, "query:groupby", *T_GROUPBY),
        s(1, 0, "exec", 1792207128800.0, 1792207133100.0),
        s(2, None, "query:b17", 1792207133118.6, 1792207138500.0),
        s(3, 2, "build", 1792207133118.6, 1792207134500.0),
        s(4, 2, "exec", 1792207134500.0, 1792207138400.0),
    ]


def test_event_log_attributes_jobs_and_plans_to_innermost_spans():
    log = eventlog.parse(os.path.join(DATA, "two_queries.eventlog"))
    assert sorted(log.jobs) == [0, 1, 2, 3]
    spans = _spans()
    rows = eventlog.attribute(log, spans)
    assert rows[1]["jobs"] == 2  # both group-by jobs ran inside exec
    assert rows[3]["jobs"] == 1  # b17's plan-build job
    assert rows[4]["jobs"] == 1
    assert None not in rows  # nothing fell outside the spans

    tracer = eventlog.Tracer()
    tracer.spans = spans
    groupby = eventlog.rollup(rows, tracer.subtree(spans[0]))
    b17 = eventlog.rollup(rows, tracer.subtree(spans[2]))
    # job 1 lists stage 1, but it was skipped (its shuffle came from job 0)
    assert (groupby["jobs"], groupby["stages"], groupby["tasks"]) == (2, 2, 3)
    assert groupby["shuffle_write_bytes"] == groupby["shuffle_read_bytes"] == 364
    assert groupby["exchanges"] == 1 and groupby["python_eval_nodes"] == 0
    assert groupby["python_run_ms"] == 0
    assert b17["python_eval_nodes"] == 1 and b17["exchanges"] == 0
    assert b17["python_run_ms"] == 2243
    assert b17["python_sent_bytes"] == 1523184
    assert b17["python_returned_bytes"] == 20144


def test_tracer_nests_spans_and_times_them():
    tracer = eventlog.Tracer()
    with tracer.span("wave") as wave:
        with tracer.span("run_once") as inner:
            pass
    assert inner.parent == wave.id and wave.parent is None
    assert wave.start_ms <= inner.start_ms <= inner.end_ms <= wave.end_ms
    assert tracer.subtree(wave) == {wave.id, inner.id}
    assert eventlog.innermost(tracer.spans, inner.start_ms) is inner


# -- correctness checks: a planted wrong result is caught ------------------


@pytest.fixture(scope="module")
def expected():
    return ingest_gen.expected_after(ingest_gen.make_waves(4, [500] * 4))


def test_ingest_check_accepts_the_expected_warehouse(expected):
    assert run.check_ingest(
        expected, expected.events, 0, expected.raw_rows, dict(expected.summary),
        expected.raw_rows,
    ) == []


def test_ingest_check_catches_a_dropped_row(expected):
    summary = dict(expected.summary)
    key = next(iter(summary))
    count, first, last = summary[key]
    summary[key] = (count - 1, first, last)
    problems = run.check_ingest(
        expected, expected.events - 1, 0, expected.raw_rows, summary,
        expected.raw_rows,
    )
    assert any("events rows" in p for p in problems)
    assert any("summary" in p for p in problems)


def test_ingest_check_catches_duplicates_and_lost_raw_rows(expected):
    problems = run.check_ingest(
        expected, expected.events, 3, expected.raw_rows - 1,
        dict(expected.summary), expected.raw_rows,
    )
    assert len(problems) == 2


def test_query_check_catches_a_changed_result():
    vl = run.load_verify_local()
    con = duckdb.connect()
    oracle = "SELECT * FROM (VALUES (1, 2.5), (2, 3.0)) t(k, v)"
    assert run.check_query(vl, "q", ["k", "v"], [(2, 3.0), (1, 2.5)], con, oracle) is None
    assert "values differ" in run.check_query(
        vl, "q", ["k", "v"], [(1, 2.5), (2, 3.5)], con, oracle
    )
    assert "rows" in run.check_query(vl, "q", ["k", "v"], [(1, 2.5)], con, oracle)
    assert run.check_query(vl, "q", ["k"], [], con, None) == "q: no rows"
