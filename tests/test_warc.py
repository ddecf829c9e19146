"""WARC ingestion: framing round-trip, strictness, member splits,
and the distributed stats path."""

import gzip
import zlib

import pytest


def _gzip_members(payload):
    """Each gzip member's compressed bytes: the split points a
    distributed reader shards one huge .warc.gz at. A streaming
    decompressor stops at a member's end; ``unused_data`` is the
    rest."""
    members = []
    while payload:
        d = zlib.decompressobj(wbits=31)
        d.decompress(payload)
        assert d.eof, "truncated gzip member"
        members.append(payload[: len(payload) - len(d.unused_data)])
        payload = d.unused_data
    return members


def _mk(n_records=3):
    from json_ld_spark.sources.warc import build_warc_gz

    records = []
    for rid in range(n_records):
        records.append((
            {
                "WARC-Type": "response",
                "WARC-Record-ID": f"<urn:uuid:{rid}>",
                "WARC-Target-URI": f"https://x.org/{rid}",
            },
            bytes((rid * 7 + j) % 256 for j in range(50 + rid)),
        ))
    return records, build_warc_gz(records)


def test_warc_round_trip():
    from json_ld_spark.sources.warc import parse_warc_gz

    records, payload = _mk(4)
    parsed = parse_warc_gz(payload)
    assert len(parsed) == 4
    for (h0, b0), (h1, b1) in zip(records, parsed):
        assert b1 == b0
        assert h1["WARC-Target-URI"] == h0["WARC-Target-URI"]
        assert int(h1["Content-Length"]) == len(b0)


def test_warc_uncompressed_also_parses():
    from json_ld_spark.sources.warc import build_warc_record, parse_warc_gz

    raw = build_warc_record({"WARC-Type": "metadata"}, b"hello")
    assert parse_warc_gz(raw)[0][1] == b"hello"


def test_warc_framing_violations_are_loud():
    from json_ld_spark.sources.warc import parse_warc_gz

    _, payload = _mk(2)
    data = gzip.decompress(payload)
    # wrong version line
    with pytest.raises(ValueError):
        parse_warc_gz(b"WARC/9.9" + data[8:])
    # truncated body (cut before the last record's terminator)
    with pytest.raises(ValueError):
        parse_warc_gz(data[:-10])
    # content-length lie
    bad = data.replace(b"Content-Length: 50", b"Content-Length: 49", 1)
    with pytest.raises(ValueError):
        parse_warc_gz(bad)


def test_warc_member_iteration_matches_records():
    from json_ld_spark.sources.warc import parse_warc_gz

    records, payload = _mk(5)
    members = _gzip_members(payload)
    assert len(members) == 5
    assert b"".join(members) == payload
    # each member parses standalone — the distributed split property
    for m, (h0, b0) in zip(members, records):
        assert parse_warc_gz(m)[0][1] == b0


def test_warc_record_stats_distributed(spark):
    from json_ld_spark.operators.warc_ops import (
        synthesize_warc_files,
        warc_record_stats,
    )

    rows = warc_record_stats(synthesize_warc_files(spark, 12)).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file_id"], []).append(r)
    assert set(by_file) == set(range(12))
    for fid, rs in by_file.items():
        assert len(rs) == 2 + fid % 4
        for r in sorted(rs, key=lambda x: x["record_idx"]):
            rid = r["record_idx"]
            length = 100 + (fid * 5 + rid * 11) % 200
            assert r["n_bytes"] == length
            assert r["sum_bytes"] == sum(
                (fid * 7 + rid * 13 + j * 3) % 256 for j in range(length)
            )


def test_warc_html_pages_decodes_html_bodies(spark):
    from json_ld_spark.operators.warc_ops import (
        synthesize_warc_html,
        warc_html_pages,
    )

    pages = warc_html_pages(synthesize_warc_html(spark, 6)).collect()
    assert len(pages) == sum(2 + fid % 3 for fid in range(6))
    for p in pages:
        assert p["html"].startswith("<html><head><title>Page ")
        assert f"Page {p['file_id']}-{p['record_idx']}" in p["html"]
        assert p["target_uri"].startswith("https://crawl-")


def test_robots_parser_and_matching(spark):
    from pyspark.sql import functions as F

    from json_ld_spark.sources.robots import match_robots, parse_robots

    txt = (
        "# c\n"
        "User-agent: SpecBot\n"
        "Disallow: /only-specbot\n"
        "\n"
        "User-agent: *\n"
        "User-agent: OtherBot\n"
        "Disallow: /private\n"
        "Allow: /private/ok\n"
        "Disallow:\n"          # empty: no restriction, not 'block all'
        "Crawl-delay: 5\n"     # unknown directive ignored
        "Sitemap: https://x/s.xml\n"
    )
    star = parse_robots(txt, "*")
    assert star == [(False, "/private"), (True, "/private/ok")]
    # specific UA group wins and * group is ignored for it
    assert parse_robots(txt, "SpecBot") == [(False, "/only-specbot")]
    # matching, on the JVM matcher q_robots_filter runs: longest match
    # wins; no match -> allowed; a tie on length: Allow beats Disallow
    tie = [(False, "/a"), (True, "/a")]
    rules = spark.createDataFrame(
        [("star", allow, prefix) for allow, prefix in star]
        + [("tie", allow, prefix) for allow, prefix in tie],
        "host string, allow boolean, prefix string",
    )
    urls = spark.createDataFrame(
        [
            ("star", "/public"),
            ("star", "/private/x"),
            ("star", "/private/ok/deep"),
            ("tie", "/a/b"),
        ],
        "host string, path string",
    ).withColumn("canon", F.col("path"))
    got = {
        (r["host"], r["canon"]): (r["allowed"], r["matched_prefix"])
        for r in match_robots(urls, rules).collect()
    }
    assert got == {
        ("star", "/public"): (True, None),
        ("star", "/private/x"): (False, "/private"),
        ("star", "/private/ok/deep"): (True, "/private/ok"),
        ("tie", "/a/b"): (True, "/a"),
    }
    # consecutive-UA group applies to both agents
    assert parse_robots(txt, "OtherBot") == star


def test_warc_round_trip_property():
    """Hypothesis: arbitrary binary bodies (including CRLFCRLF inside
    the BODY — the framing trap) and header values survive the
    .warc.gz round-trip, and member iteration matches record count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from json_ld_spark.sources.warc import build_warc_gz, parse_warc_gz

    header_val = st.text(
        alphabet=st.characters(
            codec="ascii", exclude_characters="\r\n", min_codepoint=32
        ),
        min_size=0,
        max_size=30,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.tuples(header_val, st.binary(min_size=0, max_size=200)),
            min_size=1,
            max_size=5,
        )
    )
    def roundtrip(records):
        recs = [
            ({"WARC-Type": "response", "WARC-Target-URI": uri.strip()}, body)
            for uri, body in records
        ]
        payload = build_warc_gz(recs)
        parsed = parse_warc_gz(payload)
        assert len(parsed) == len(recs)
        for (h0, b0), (h1, b1) in zip(recs, parsed):
            assert b1 == b0
            assert h1["WARC-Target-URI"] == h0["WARC-Target-URI"]
        assert len(_gzip_members(payload)) == len(recs)

    roundtrip()
