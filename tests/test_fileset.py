"""Golden tests for the fileset-ingest model (operators/fileset.py)
against hand-derived expectations from the reference grammar
(fileset_platforms.py / ingest_fileset.py). Vectors cover every branch
of the dataverse persistentId parser, the figshare path parser, the
ordered platform dispatch, scope errors, the size gates, and strategy
selection thresholds.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sandcrawler_spark.operators import fileset

DV = "https://demo.dataverse.org/dataset.xhtml?persistentId="

# (persistentId value, valid, dataset_id, file_id)
DATAVERSE_VECTORS = [
    # len(comp[1]) == 6, 2 components: authority / dataset_id
    (DV + "doi:10.5072/AB1234", True, "AB1234", None),
    # len(comp[1]) == 6, 3 components: dataset_id + file_id
    (DV + "doi:10.5072/AB1234/CD5678", True, "AB1234", "CD5678"),
    # shoulder (len != 6), 3 components: authority / shoulder / dataset_id
    (DV + "doi:10.5072/FK2/AB1234", True, "AB1234", None),
    # shoulder, 4 components: + file_id
    (DV + "doi:10.5072/FK2/AB1234/CD5678", True, "AB1234", "CD5678"),
    # hdl: prefix
    (DV + "hdl:20.500.12345/XY9876", True, "XY9876", None),
    # wrong prefix
    (DV + "ark:/12345/x6789", False, None, None),
    # doi: but not 10. — reference requires 'doi:10.' literally
    (DV + "doi:11.5072/AB1234", False, None, None),
    # dataset id not 6 chars (shoulder branch, comp[2] len 7)
    (DV + "doi:10.5072/FK2/AB12345", False, None, None),
    # file id not 6 chars
    (DV + "doi:10.5072/AB1234/CD567", False, None, None),
    # too few components
    (DV + "doi:10.5072", False, None, None),
    # too many components (5)
    (DV + "doi:10.5072/FK2/AB1234/CD5678/EF9999", False, None, None),
    # no param at all
    ("https://demo.dataverse.org/dataset.xhtml", False, None, None),
]

# (url, article_id, version) — None means no parse
FIGSHARE_VECTORS = [
    ("https://figshare.com/articles/Some_Name/8987858/1", "8987858", "1"),
    (
        "https://figshare.com/articles/dataset/STable_1_xls/12127176/4",
        "12127176",
        "4",
    ),
    # type word dropped, no version → parser returns id but NO version
    ("https://figshare.com/articles/dataset/Name/12127176", "12127176", None),
    # id without version, no type word
    ("https://figshare.com/articles/Name/8987858", "8987858", None),
    # not /articles/
    ("https://figshare.com/collections/Name/123/1", None, None),
    # non-digit id
    ("https://figshare.com/articles/Name/abc/1", None, None),
    # empty name segment still parses (reference quirk)
    ("https://figshare.com/articles//8987858/2", "8987858", "2"),
    # trailing extra segment → len != 3 after trim → no parse
    ("https://figshare.com/articles/Name/8987858/1/extra", None, None),
]

# (url, expected platform or None)
PLATFORM_VECTORS = [
    (DV + "doi:10.5072/FK2/AB1234", "dataverse"),
    # dataverse param on an arbitrary host still matches (reference
    # checks only the param grammar, not the host) …
    ("https://data.example.edu/ds?persistentId=doi:10.7910/ABCDEF", "dataverse"),
    # … but a 5-char dataset id fails the grammar
    ("https://data.example.edu/ds?persistentId=doi:10.7910/DVN12", None),
    ("https://figshare.com/articles/Name/8987858/1", "figshare"),
    # figshare without version → NOT figshare (match needs version)
    ("https://figshare.com/articles/Name/8987858", None),
    # figshare.com must be in the HOST, not the path
    ("https://example.com/figshare.com/articles/Name/1/2", None),
    ("https://zenodo.org/record/5230255", "zenodo"),
    # zenodo host with port, case-insensitive
    ("https://ZENODO.ORG:443/record/5230255", "zenodo"),
    ("https://zenodo.org/communities/foo", None),
    ("https://archive.org/details/someitem_v1", "archiveorg"),
    ("http://archive.org/download/someitem_v1", "archiveorg"),
    ("https://www.archive.org/details/x", None),  # substring is '://archive.org/'
    ("https://example.com/dataset/42", None),
]


@pytest.fixture(scope="module")
def urls_df(spark):
    urls = sorted(
        {u for u, *_ in DATAVERSE_VECTORS}
        | {u for u, *_ in FIGSHARE_VECTORS}
        | {u for u, _ in PLATFORM_VECTORS}
    )
    return spark.createDataFrame([(u,) for u in urls], ["base_url"]).cache()


def test_dataverse_pid_golden(urls_df):
    rows = {
        r["base_url"]: r
        for r in urls_df.select(
            "base_url", fileset.dataverse_pid(F.col("base_url")).alias("p")
        ).collect()
    }
    for url, valid, ds, fid in DATAVERSE_VECTORS:
        p = rows[url]["p"]
        assert p["valid"] == valid, url
        assert p["dataset_id"] == ds, url
        assert p["file_id"] == fid, url


def test_figshare_ids_golden(urls_df):
    rows = {
        r["base_url"]: r
        for r in urls_df.select(
            "base_url", fileset.figshare_ids(F.col("base_url")).alias("p")
        ).collect()
    }
    for url, aid, ver in FIGSHARE_VECTORS:
        p = rows[url]["p"]
        assert p["article_id"] == aid, url
        assert p["version"] == ver, url


def test_platform_dispatch_golden(urls_df):
    rows = {
        r["base_url"]: r["platform"]
        for r in urls_df.select(
            "base_url", fileset.platform_name(F.col("base_url")).alias("platform")
        ).collect()
    }
    for url, platform in PLATFORM_VECTORS:
        assert rows[url] == platform, url


def test_archiveorg_want_file(spark):
    """The archive.org want_file rule (fileset_platforms.py:716-742)
    has one home, ``intake.archiveorg_filesets``: each vector's name
    survives into the item's manifest iff it is wanted."""
    from sandcrawler_spark.operators import intake

    item = "someitem_v1"
    vectors = [
        # (name, source, keep)
        ("data.csv", "original", True),
        ("data.csv", "derivative", False),
        (item + "_meta.xml", "original", False),
        (item + "_meta.sqlite", "original", False),
        (item.lower() + "_files.xml", "original", False),
        ("_hidden.txt", "original", False),
        ("nested/_ok.txt", "original", True),  # startswith only
    ]
    at_item = "academictorrents_12345"
    at_vectors = [
        (at_item + "_academictorrents.torrent", "original", False),
        (at_item + ".bib", "original", False),
        ("paper.pdf", "original", True),
    ]
    release_id = "a" * 26
    df = spark.createDataFrame(
        [
            (it, release_id, "texts",
             [(n, s, "Text", "1", "sha1", "md5") for n, s, _ in vs])
            for it, vs in ((item, vectors), (at_item, at_vectors))
        ],
        "item_name string, release_id string, mediatype string, "
        "files array<struct<name:string,source:string,format:string,"
        "size:string,sha1:string,md5:string>>",
    )
    got = {
        r["item_name"]: [m["path"] for m in r["manifest"]]
        for r in intake.archiveorg_filesets(df).collect()
    }
    assert got[item] == [n for n, _, keep in vectors if keep]
    assert got[at_item] == [n for n, _, keep in at_vectors if keep]


def _mk_requests(spark, rows):
    return spark.createDataFrame(rows, ["base_url", "ingest_type"])


def _mk_manifest(spark, rows):
    return spark.createDataFrame(rows, ["base_url", "path", "size"])


MB64 = 64 * 1024 * 1024
GB = 1024 * 1024 * 1024


def test_fileset_ingest_statuses_and_strategies(spark):
    dv1 = DV + "doi:10.5072/AB1111"  # 1 small file → web-file
    dv2 = DV + "doi:10.5072/AB2222"  # 1 big file → archiveorg-file
    dv3 = DV + "doi:10.5072/AB3333"  # multi small → web-fileset
    dv4 = DV + "doi:10.5072/AB4444"  # multi w/ big file → archiveorg-fileset
    dv5 = DV + "doi:10.5072/AB5555"  # total > 64 GiB → too-large-size
    dv6 = DV + "doi:10.5072/AB6666"  # 201 files → too-many-files
    dv7 = DV + "doi:10.5072/AB7777"  # no manifest → empty-manifest
    dvs = DV + "doi:10.5072/AB8888/CD8888"  # file-level id → platform-scope
    ia1 = "https://archive.org/details/item1"  # 1 file → archiveorg-file
    ia2 = "https://archive.org/details/item2"  # multi SMALL → archiveorg-fileset
    ias = "https://archive.org/download/item3/file.pdf"  # → platform-scope
    nop = "https://example.com/ds/1"  # → no-platform-match
    skip = "https://zenodo.org/record/1"  # ingest_type file → dropped

    reqs = _mk_requests(
        spark,
        [(u, "dataset") for u in (dv1, dv2, dv3, dv4, dv5, dv6, dv7, dvs, ia1, ia2, ias, nop)]
        + [(skip, "file")],
    )
    manifest_rows = (
        [(dv1, "a", 100)]
        + [(dv2, "a", MB64)]  # not < 64 MiB → archiveorg-file
        + [(dv3, f"f{i}", 1000) for i in range(3)]
        + [(dv4, "small", 1000), (dv4, "big", MB64)]
        + [(dv5, f"f{i}", 33 * GB) for i in range(2)]  # 66 GiB
        + [(dv6, f"f{i}", 10) for i in range(201)]
        + [(dvs, "x", 10)]
        + [(ia1, "one", 5 * GB)]
        + [(ia2, "a", 10), (ia2, "b", 10)]  # small but archiveorg → fileset
        + [(ias, "x", 10), (nop, "x", 10)]
    )
    out = {
        r["base_url"]: r
        for r in fileset.fileset_ingest(
            reqs, _mk_manifest(spark, manifest_rows)
        ).collect()
    }
    assert len(out) == 12  # 'file' request dropped by want()
    expect = {
        dv1: ("success", "web-file", 1, 100),
        dv2: ("success", "archiveorg-file", 1, MB64),
        dv3: ("success", "web-fileset", 3, 3000),
        dv4: ("success", "archiveorg-fileset", 2, 1000 + MB64),
        dv5: ("too-large-size", None, 2, 66 * GB),
        dv6: ("too-many-files", None, 201, 2010),
        dv7: ("empty-manifest", None, 0, 0),
        dvs: ("platform-scope", None, 1, 10),
        ia1: ("success", "archiveorg-file", 1, 5 * GB),
        ia2: ("success", "archiveorg-fileset", 2, 20),
        ias: ("platform-scope", None, 1, 10),
        nop: ("no-platform-match", None, 1, 10),
    }
    for url, (status, strategy, fc, total) in expect.items():
        r = out[url]
        assert r["status"] == status, url
        assert r["ingest_strategy"] == strategy, url
        assert r["file_count"] == fc, url
        assert r["total_size"] == total, url


def test_boundary_thresholds(spark):
    """total_size == max is NOT too-large (strict >); file_count == 200
    is NOT too-many (strict >); largest == 64 MiB - 1 stays web."""
    u1 = DV + "doi:10.5072/AA1111"
    u2 = DV + "doi:10.5072/AA2222"
    u3 = DV + "doi:10.5072/AA3333"
    reqs = _mk_requests(spark, [(u, "dataset") for u in (u1, u2, u3)])
    manifest = _mk_manifest(
        spark,
        [(u1, "a", fileset.MAX_TOTAL_SIZE)]
        + [(u2, f"f{i}", 1) for i in range(200)]
        + [(u3, "a", MB64 - 1), (u3, "b", MB64 - 1)],
    )
    out = {r["base_url"]: r for r in fileset.fileset_ingest(reqs, manifest).collect()}
    # 1 file of exactly 64 GiB: passes the gate; not < 64 MiB → archiveorg-file
    assert out[u1]["status"] == "success"
    assert out[u1]["ingest_strategy"] == "archiveorg-file"
    assert out[u2]["status"] == "success"
    assert out[u2]["ingest_strategy"] == "web-fileset"
    assert out[u3]["ingest_strategy"] == "web-fileset"


def test_presummarized_ingest_matches_default_path(spark):
    """fileset_ingest(manifest_summary=...) — the round-6 two-level
    aggregation fast path — must be row-identical to the default
    summarize-from-raw-manifest path on a corpus that exercises every
    status branch (reuses the vectors above, including a base_url whose
    rollup arrives split across two partial rows, which the merge must
    recombine exactly)."""
    dv1 = DV + "doi:10.5072/AB1111"
    dv4 = DV + "doi:10.5072/AB4444"
    dv7 = DV + "doi:10.5072/AB7777"
    ia2 = "https://archive.org/details/item2"
    nop = "https://example.com/ds/1"
    reqs = _mk_requests(
        spark, [(u, "dataset") for u in (dv1, dv4, dv7, ia2, nop)]
    )
    manifest_rows = (
        [(dv1, "a", 100)]
        + [(dv4, "small", 1000), (dv4, "big", MB64)]
        + [(ia2, "a", 10), (ia2, "b", 10)]
        + [(nop, "x", 10)]
    )
    manifest = _mk_manifest(spark, manifest_rows)
    default = fileset.fileset_ingest(reqs, manifest)
    # partials under a finer key (path), merged back under base_url
    partials = manifest.groupBy("base_url", "path").agg(
        F.count(F.lit(1)).alias("file_count"),
        F.sum(F.col("size").cast("bigint")).alias("total_size"),
        F.max(F.col("size").cast("bigint")).alias("largest_size"),
    ).drop("path")
    merged = fileset.merge_manifest_summaries(partials)
    fast = fileset.fileset_ingest(reqs, manifest=None, manifest_summary=merged)
    a = sorted(map(tuple, default.collect()))
    b = sorted(map(tuple, fast.collect()))
    assert a == b


def test_with_platform_classification_matches_scalar_forms(spark):
    """with_platform_classification (round-6 factored parse_url path)
    must agree with the reference-shaped scalar expressions
    platform_name()/platform_scope_error() on every dispatch vector."""
    urls = (
        [DV + p for p, *_ in DATAVERSE_VECTORS]
        + [u for u, *_ in FIGSHARE_VECTORS]
        + [
            "https://zenodo.org/record/5678",
            "https://zenodo.org/api/record/5678",
            "https://archive.org/details/item1",
            "https://archive.org/download/item3/file.pdf",
            "https://archive.org/download/item3",
            "https://example.com/ds/1",
            DV + "doi:10.5072/AB1234/CD5678",  # dataverse file-level → scope
        ]
    )
    df = spark.createDataFrame(
        [(u, "dataset") for u in urls], ["base_url", "ingest_type"]
    )
    fast = {
        r["base_url"]: (r["platform_name"], r["__scope_err"])
        for r in fileset.with_platform_classification(df).collect()
    }
    slow_df = df.withColumn(
        "platform_name", fileset.platform_name(F.col("base_url"))
    ).withColumn(
        "scope_err",
        fileset.platform_scope_error(F.col("base_url"), F.col("platform_name")),
    )
    slow = {
        r["base_url"]: (r["platform_name"], r["scope_err"])
        for r in slow_df.collect()
    }
    assert fast == slow
