"""Golden tests for the intake converters (operators/intake.py) —
hand-computed expectations mirroring the reference scripts'
transform() semantics arm by arm."""

from __future__ import annotations

import base64
import binascii

import pytest

from sandcrawler_spark.operators import intake


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_doaj_requests(spark):
    df = spark.createDataFrame(
        [
            (
                "DOAJ-1",
                (
                    [("DOI", "10.1/a"), ("pmid", "123"), ("doi", "10.2/B")],
                    [
                        # kept, canonicalized (host lowercased, :80 dropped)
                        ("fulltext", "http://Pub.Example.org:80/a.pdf", "application/pdf"),
                        # html fans out to html AND pdf
                        ("fulltext", "http://x.org/h", "text/html"),
                        # non-fulltext link type: dropped
                        ("homepage", "http://x.org/skip", "application/pdf"),
                        # domain blocklist: dropped
                        ("fulltext", "http://zenodo.org/rec/1", "application/pdf"),
                        # content_type 'abstract' maps to []: dropped
                        ("fulltext", "http://x.org/abs", "abstract"),
                        # unknown content_type: dropped
                        ("fulltext", "http://x.org/unknown", "video/mp4"),
                        # null content_type → '' → pdf
                        ("fulltext", "http://x.org/empty", None),
                    ],
                ),
            ),
            # null link array → no requests
            ("doaj-2", (None, None)),
            # >1000-char canonical URL → dropped
            ("doaj-3", ([], [("fulltext", "http://y.org/" + "z" * 1100, "xml")])),
        ],
        "id string, bibjson struct<identifier:array<struct<type:string,id:string>>,"
        " link:array<struct<type:string,url:string,content_type:string>>>",
    )
    out = intake.doaj_requests(df)
    got = _rows(out, "base_url", "ingest_type", "ext_doi", "ext_doaj", "link_source_id")
    # last matching identifier wins (10.2/B), lowercased
    assert got == [
        ("http://pub.example.org/a.pdf", "pdf", "10.2/b", "doaj-1", "doaj-1"),
        ("http://x.org/empty", "pdf", "10.2/b", "doaj-1", "doaj-1"),
        ("http://x.org/h", "html", "10.2/b", "doaj-1", "doaj-1"),
        ("http://x.org/h", "pdf", "10.2/b", "doaj-1", "doaj-1"),
    ]
    one = out.where(out.base_url == "http://x.org/empty").collect()[0]
    assert (one.release_stage, one.rel, one.link_source, one.ingest_request_source) == (
        "published", "publisher", "doaj", "doaj",
    )


def test_unpaywall_requests(spark):
    df = spark.createDataFrame(
        [
            (
                "10.5/X",
                "gold",
                [
                    ("http://a.org/p.pdf", "publishedVersion", "publisher", "oa journal", "pmh-1"),
                    (None, "x", "y", None, None),  # no pdf url
                    ("http://zenodo.org/1.pdf", "draftVersion", "repo", None, ""),  # blocklist
                    ("http://b.org/q.pdf", "weirdVersion", "repository", "", None),  # unmapped stage
                ],
            ),
            ("nope/1", "bronze", [("http://c.org/r.pdf", "publishedVersion", "p", None, None)]),
        ],
        "doi string, oa_status string, oa_locations array<struct<url_for_pdf:string,"
        "version:string,host_type:string,evidence:string,pmh_id:string>>",
    )
    got = _rows(
        intake.unpaywall_requests(df),
        "base_url", "release_stage", "rel", "ext_doi", "ext_pmh_id",
        "extra_oa_status", "extra_evidence",
    )
    assert got == [
        ("http://a.org/p.pdf", "published", "publisher", "10.5/x", "pmh-1", "gold", "oa journal"),
        ("http://b.org/q.pdf", None, "repository", "10.5/x", None, "gold", None),
    ]


def test_oai_requests(spark):
    df = spark.createDataFrame(
        [
            # kept: 2nd url blocklisted; formats has PDF; doi[0] kept;
            # LAST matching type wins the stage
            (
                "oai:GOOD.org:1",
                ["http://a.org/1.pdf", "http://hdl.handle.net/x"],
                ["text/xml", "application/PDF"],
                ["10.9/Z", "10.8/ignored"],
                [
                    "info:eu-repo/semantics/draftVersion",
                    "info:eu-repo/semantics/publishedVersion",
                ],
            ),
            # OAI prefix blocklist
            ("oai:kb.dk:77", ["http://b.org/2.pdf"], None, None, None),
            # non-empty formats without pdf → dropped
            ("oai:good.org:2", ["http://c.org/3.pdf"], ["text/html"], ["notadoi"], None),
            # empty formats list passes; non-10. doi dropped; unmapped type → null stage
            ("oai:good.org:3", ["http://d.org/4.pdf"], [], ["x"], ["something"]),
            # id doesn't start with oai:
            ("bad:id", ["http://e.org/5.pdf"], None, None, None),
            # null urls
            ("oai:good.org:4", None, None, None, None),
        ],
        "oai string, urls array<string>, formats array<string>,"
        " doi array<string>, types array<string>",
    )
    got = _rows(
        intake.oai_requests(df),
        "base_url", "link_source_id", "ext_oai", "ext_doi", "release_stage",
    )
    assert got == [
        ("http://a.org/1.pdf", "oai:good.org:1", "oai:good.org:1", "10.9/z", "published"),
        ("http://d.org/4.pdf", "oai:good.org:3", "oai:good.org:3", None, None),
    ]


def test_arabesque_requests(spark):
    df = spark.createDataFrame(
        [("pmc1", True, "http://f.org/Final.pdf"), ("pmc2", False, "http://g.org/x.pdf")],
        "identifier string, hit boolean, final_url string",
    )
    out = intake.arabesque_requests(
        df, link_source="pmc", extid_type="pmcid", release_stage="published"
    ).collect()
    assert len(out) == 1
    r = out[0]
    # final_url passes through VERBATIM (no canonicalization here)
    assert r.base_url == "http://f.org/Final.pdf"
    assert (r.link_source, r.extid_type, r.extid_value, r.release_stage) == (
        "pmc", "pmcid", "pmc1", "published",
    )
    with pytest.raises(ValueError):
        intake.arabesque_requests(df, "pmc", "pmcid", release_stage="bogus")


def test_covid_requests(spark):
    df = spark.createDataFrame(
        [
            ("w1", None, None, None, "http://wf.org/1"),
            (None, "c1", "http://cn.org/info", "http://cn.org/read", None),
            (None, "c2", "http://cn.org/i2", None, None),
            (None, None, "http://x.org/", None, None),  # neither id: dropped
        ],
        "wanfang_id string, cnki_id string, info_url string, read_url string, url string",
    )
    got = _rows(intake.covid_requests(df), "base_url", "link_source", "link_source_id")
    assert got == [
        ("http://cn.org/i2", "cnki_covid19", "c2"),
        ("http://cn.org/info", "cnki_covid19", "c1"),
        ("http://cn.org/read", "cnki_covid19", "c1"),
        ("http://wf.org/1", "wanfang_covid19", "w1"),
    ]


def test_enrich_matches(spark):
    hex40 = "aabbccddeeff00112233445566778899aabbccdd"
    b32 = base64.b32encode(binascii.unhexlify(hex40)).decode()
    df = spark.createDataFrame(
        [("sha1:" + b32, ["10.1/d"], ("http://h.org/p", "20200101000000"),
          "application/pdf", 1234)],
        "raw_sha1 string, dois array<string>, cdx struct<url:string,dt:string>,"
        " mimetype string, size bigint",
    )
    r = intake.enrich_matches(df).collect()[0]
    assert r.sha1 == hex40
    assert (r.cdx_url, r.cdx_dt, r.size, r.mimetype) == (
        "http://h.org/p", "20200101000000", 1234, "application/pdf",
    )
    assert list(r.dois) == ["10.1/d"]


def test_check_authors_groupworks_kernel():
    f = intake.check_authors_groupworks
    # filter_groupworks.py:69-78 test vectors, adjusted for the
    # equal-length rule of this variant
    assert f([], []) is True  # REQUIRE_AUTHORS=False
    assert f([], ["one"]) is False
    assert f(["one"], ["one"]) is True
    assert f(["one two"], ["One Two"]) is True
    assert f(["two"], ["One Two"]) is True
    assert f(["mago"], ["Mr. Magoo"]) is True  # substring containment
    assert f(["Mr. Magoo"], ["Mr Magoo"]) is True
    assert f(["one", "tw", "thr"], ["one", "two", "three"]) is True
    # equal-length rule: left longer OR shorter both fail
    assert f(["a b", "c d"], ["a b"]) is False
    assert f(["a b"], ["a b", "c d"]) is False
    # single-char tokenized last name fails
    assert f(["x"], ["x"]) is False


def test_groupworks_filter(spark):
    df = spark.createDataFrame(
        [
            # filtered[0] — reference pass-2 quirk: never contributes
            ("s1", 1, 950, (["alice smith"], 2020, "L1"), (["Alice Smith"], 2020, "R0")),
            ("s1", 2, 960, (["bob jones"], None, "L2"), (["Bob Jones"], 2021, "R0")),
            ("s1", 3, 970, (["carol wu"], 2019, "L3"), (["Carol Wu"], 2019, "R0")),
            # stray pair: intersects nothing once the group is seeded
            ("s1", 4, 990, (["dan li"], None, "L4"), (["Dan Li"], None, "RX")),
            ("s1", 5, 800, (["eve po"], None, "L5"), (["Eve Po"], None, "R0")),  # score
            ("s1", 6, 950, ([], None, "L6"), ([], None, "R0")),  # both-empty: passes
            ("s1", 7, 950, (["x"], None, "L7"), (["x"], None, "R0")),  # 1-char name
            ("s1", 8, 950, (["ann lee", "b c"], None, "L8"), (["Ann Lee"], None, "R0")),
            ("s1", 9, 950, (["fred mo"], 2018, "L9"), (["Fred Mo"], 2019, "R0")),  # year
            # a slug with a single surviving line emits nothing
            ("s2", 1, 999, (["gary oz"], None, "M1"), (["Gary Oz"], None, "N1")),
        ],
        "slug string, seq int, score int,"
        " left struct<authors:array<string>,year:int,fatcat_release:string>,"
        " right struct<authors:array<string>,year:int,fatcat_release:string>",
    )
    got = _rows(intake.groupworks_filter(df), "slug", "fatcat_release")
    assert got == [("s1", "L2"), ("s1", "L3"), ("s1", "L6"), ("s1", "R0")]


def test_groupworks_slug_cap(spark):
    rows = [
        ("big", i, 999, (["al ok"], None, f"L{i}"), (["Al Ok"], None, "R"))
        for i in range(51)
    ] + [
        ("ok", i, 999, (["al ok"], None, f"K{i}"), (["Al Ok"], None, "S"))
        for i in range(3)
    ]
    df = spark.createDataFrame(
        rows,
        "slug string, seq int, score int,"
        " left struct<authors:array<string>,year:int,fatcat_release:string>,"
        " right struct<authors:array<string>,year:int,fatcat_release:string>",
    )
    got = _rows(intake.groupworks_filter(df), "slug", "fatcat_release")
    # 'big' (51 lines > 50) dropped whole; 'ok' keeps lines 1.. (K1, K2, S)
    assert got == [("ok", "K1"), ("ok", "K2"), ("ok", "S")]


def test_archiveorg_filesets(spark):
    """archiveorg_fileset.py:47-113 arm by arm: mediatype gate, the
    verbatim [9:] release_ prefix strip, len-26 filter, want_file
    exclusions (source, sidecar suffixes vs item and lowercased item,
    leading underscore, academictorrents extras), parse_file (size
    cast, .get-style format->mimetype, hash-presence gate), and the
    urls/release_ids assembly."""
    ident = "a" * 26

    def f(name, source="original", fmt="PDF", size="10", sha1="S", md5="M"):
        return (name, source, fmt, size, sha1, md5)

    rows = [
        # normal item: one kept pdf, one unmapped format, sidecars dropped
        (
            "Item1",
            ident,
            "texts",
            [
                f("paper.pdf", size="123"),
                f("Item1_meta.xml", fmt="XML"),
                f("item1_thumb.png", fmt="PNG"),  # lowercase-item match
                f("_hidden", fmt="Text"),
                f("deriv.csv", source="derivative", fmt="CSV"),
                f("weird.dat", fmt="DAT"),  # unmapped -> null mimetype
                f("nohash.txt", fmt="Text", md5=None),
                f("Item1.bib", fmt="Text"),  # kept: NOT academictorrents
            ],
        ),
        # academictorrents: .bib and torrent sidecars additionally dropped
        (
            "academictorrents_x",
            "release_q" + ident,  # [9:] strips 'release_q'
            "texts",
            [
                f("academictorrents_x.bib", fmt="Text"),
                f("academictorrents_x_academictorrents.torrent", fmt="Text"),
                f("keep.pdf"),
            ],
        ),
        ("Item3", ident, "collection", [f("x.pdf")]),  # mediatype gate
        ("Item4", ident, "web", [f("x.pdf")]),  # mediatype gate
        ("Item5", "tooshort", "texts", [f("x.pdf")]),  # len != 26
    ]
    src = spark.createDataFrame(
        rows,
        "item_name string, release_id string, mediatype string, "
        "files array<struct<name:string,source:string,format:string,"
        "size:string,sha1:string,md5:string>>",
    )
    out = {r.item_name: r for r in intake.archiveorg_filesets(src).collect()}
    assert set(out) == {"Item1", "academictorrents_x"}

    r1 = out["Item1"]
    assert r1.release_ids == [ident]
    assert [(u.rel, u.url) for u in r1.urls] == [
        ("archive", "https://archive.org/download/Item1/")
    ]
    assert [(m.path, m.size, m.mimetype) for m in r1.manifest] == [
        ("paper.pdf", 123, "application/pdf"),
        ("weird.dat", 10, None),
        ("Item1.bib", 10, "text/plain"),
    ]
    r2 = out["academictorrents_x"]
    assert r2.release_ids == [ident]
    assert [m.path for m in r2.manifest] == ["keep.pdf"]
