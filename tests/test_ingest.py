"""Ingestion invariants + north-rule span-sequence equality."""

import datetime as dt

from pyspark.sql import functions as F

from movingspark import ingest
from tests.conftest import rows_to_points


def test_dedup_keep_first_and_min_rows(spark):
    df = spark.createDataFrame(
        [
            (1, "a", dt.datetime(2020, 1, 1, 0, 0, 0), 0.0, 0.0),
            (2, "a", dt.datetime(2020, 1, 1, 0, 0, 0), 9.0, 9.0),  # dup ts, higher tiebreak
            (3, "a", dt.datetime(2020, 1, 1, 0, 0, 10), 1.0, 1.0),
            (4, "b", dt.datetime(2020, 1, 1), 0.0, 0.0),  # singleton group -> dropped
        ],
        "event_id long, tid string, ts timestamp, px double, py double",
    )
    out = ingest.make_traj_points(df, "tid", "ts", "px", "py", tiebreak="event_id")
    rows = out.orderBy("traj_id", "t").collect()
    assert [r["traj_id"] for r in rows] == ["a", "a"]
    assert rows[0]["x"] == 0.0  # keep-first by event_id


def test_min_duration_filter(spark):
    df = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:00", 0, 0),
            (1, "2020-01-01T00:00:05", 1, 0),
            (2, "2020-01-01T00:00:00", 0, 0),
            (2, "2020-01-01T01:00:00", 1, 0),
        ],
    )
    out = ingest.filter_min_duration(df, 60.0)
    assert set(r["traj_id"] for r in out.collect()) == {"2"}


def test_min_length_filter(spark):
    df = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:00", 0, 0),
            (1, "2020-01-01T00:00:05", 1, 0),
            (2, "2020-01-01T00:00:00", 0, 0),
            (2, "2020-01-01T00:00:05", 100, 0),
        ],
    )
    out = ingest.filter_min_length(df, 50.0)
    assert set(r["traj_id"] for r in out.collect()) == {"2"}


def test_synth_docs_shape(spark):
    docs = ingest.synth_interleaved_docs(spark, 20)
    rows = docs.orderBy("doc_id").collect()
    assert len(rows) == 20
    assert rows[0]["doc_id"] == "doc000000000"
    spans = rows[0]["spans"]
    assert len(spans) == 4  # 4 + 0 % 13
    assert [s["kind"] for s in spans] == ["text", "media", "text", "media"]
    assert [s["offset"] for s in spans] == [0, 1, 2, 3]
    assert spans[1]["media_ref"] == "mem://media/doc000000000/1.bin"
    assert spans[0]["text"].count(";") == 2


def test_explode_doc_points(spark):
    docs = ingest.synth_interleaved_docs(spark, 10)
    pts = ingest.explode_doc_points(docs)
    rows = pts.filter(F.col("traj_id") == "doc000000000").orderBy("t").collect()
    assert len(rows) == 2  # text spans at offsets 0 and 2
    assert rows[0]["t"] == dt.datetime(2017, 7, 14, 2, 40)  # unix 1500000000
    assert rows[1]["t"] == dt.datetime(2017, 7, 14, 2, 40, 20)  # +2*10s
    assert -180 <= rows[0]["x"] <= 180 and -85 <= rows[0]["y"] <= 85


def test_span_sequence_invariant_roundtrip(spark):
    docs = ingest.synth_interleaved_docs(spark, 200)
    bad = ingest.span_invariant_violations(docs)
    assert bad.count() == 0


SPANS_DDL = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"

# planted docs: (doc_id, spans as (kind, text, media_ref, offset)); the
# round trip sorts by offset, then kind, text, media_ref (nulls first)
PLANTED = [
    ("in_order", [("text", "a", None, 0), ("media", None, "m1", 1), ("text", "b", None, 2)]),
    ("swap", [("text", "a", None, 1), ("text", "b", None, 0)]),
    ("dup_sorted", [("media", None, "m", 0), ("text", "a", None, 0)]),
    ("dup_unsorted", [("text", "a", None, 0), ("media", None, "m", 0)]),
    ("dup_nulls", [("text", "a", None, 0), (None, None, None, 0)]),
    ("dup_nulls_sorted", [(None, None, None, 0), ("text", "a", None, 0)]),
    # same content at swapped offsets: the offset is not in the hash
    ("same_content", [("text", "a", None, 1), ("text", "a", None, 0)]),
    ("one_span", [("media", None, "m", 7)]),
    # a null span hashes and sorts as an all-null one, ahead of offset 0
    ("null_span", [None, ("text", "a", None, 0)]),
    ("empty", []),
    ("null", None),
]


def planted_docs(spark):
    return spark.createDataFrame(PLANTED, SPANS_DDL)


def test_span_invariant_detects_violation(spark):
    """Exactly the planted docs whose array order differs from the
    reassembly's (offset, kind, text, media_ref) order violate; empty and
    null spans are absent."""
    bad = ingest.span_invariant_violations(planted_docs(spark))
    assert sorted(r["doc_id"] for r in bad.collect()) == ["dup_nulls", "dup_unsorted", "swap"]


def test_span_digests_match_two_pass_oracle(spark, tmp_path):
    """Per-doc (h, h_n, h_rt, h_rt_n) of the one-pass aggregate equal the
    two-digest full-outer join, on planted, synthetic (in order and
    reversed) and perfbench docs read from parquet."""
    from movingspark import catalog
    from perfbench import gen
    from tests.oracles import span_digests_two_pass, span_invariant_violations_two_pass

    table, _ = gen.gen_docs(gen.DocParams(n_docs=2000), 3)
    gen.write_parts(table, str(tmp_path / "docs"), n_files=3)
    synth = ingest.synth_interleaved_docs(spark, 5000)
    cases = {
        "planted": planted_docs(spark),
        "synth": synth,
        "synth reversed": synth.limit(500).withColumn("spans", F.reverse("spans")),
        "perfbench": catalog.read_table(spark, str(tmp_path / "docs")),
    }
    cols = ["doc_id", "h", "h_n", "h_rt", "h_rt_n"]
    for name, docs in cases.items():
        got = ingest._span_digests(docs).select(*cols)
        want = span_digests_two_pass(docs).select(*cols)
        assert got.count() == want.count() > 0, name
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, name
        bad = ingest.span_invariant_violations(docs)
        assert sorted(bad.collect()) == sorted(span_invariant_violations_two_pass(docs).collect()), name
    assert ingest.span_invariant_violations(cases["synth reversed"]).count() == 500


def test_reassemble_docs_matches_array_sort_oracle(spark):
    from tests.oracles import reassemble_docs_array_sort

    docs = planted_docs(spark).unionByName(ingest.synth_interleaved_docs(spark, 300))
    got, want = ingest.reassemble_docs(docs), reassemble_docs_array_sort(docs)
    assert got.schema == want.schema
    assert got.count() == want.count() and got.exceptAll(want).count() == 0


def test_events_as_traj_points(spark):
    pts = ingest.events_as_traj_points(spark, "/root/testdata/sf0.001")
    assert pts.columns[:4] == ["traj_id", "t", "x", "y"]
    n = pts.count()
    assert n > 0
    # no duplicate (traj_id, t)
    assert pts.select("traj_id", "t").distinct().count() == n


def test_geotag_media_spans_ffill_and_leading_media(spark):
    from movingspark import ingest

    spans_a = [
        {"kind": "media", "text": None, "media_ref": "m0", "offset": 0},  # no prior text
        {"kind": "text", "text": "1500000000;10.0;20.0", "media_ref": None, "offset": 1},
        {"kind": "media", "text": None, "media_ref": "m2", "offset": 2},
        {"kind": "text", "text": "1500000060;30.0;40.0", "media_ref": None, "offset": 3},
        {"kind": "media", "text": None, "media_ref": "m4", "offset": 4},
    ]
    docs = spark.createDataFrame(
        [("d1", spans_a)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {r["media_ref"]: r for r in ingest.geotag_media_spans(docs, res=3).collect()}
    assert set(got) == {"m0", "m2", "m4"}
    assert got["m0"]["x"] is None and got["m0"]["cell"] is None  # leading media: no location
    assert (got["m2"]["x"], got["m2"]["y"]) == (10.0, 20.0)
    assert (got["m4"]["x"], got["m4"]["y"]) == (30.0, 40.0)
    assert got["m4"]["cell"] is not None
    assert got["m2"]["t"] is not None and got["m4"]["t"] > got["m2"]["t"]


def test_geotag_media_no_join_no_python(spark):
    from movingspark import ingest

    docs = ingest.synth_interleaved_docs(spark, 10)
    plan = ingest.geotag_media_spans(docs, res=3)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Python" not in plan
