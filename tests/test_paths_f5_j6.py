"""C14 fs-path sanitize (golden vectors vs posixpath ground truth),
F5 source/tarball filters, and the J6 self-join matchable predicate."""

from __future__ import annotations

import posixpath

from pyspark.sql import functions as F

from sandcrawler_spark.functions.paths import sanitize_fs_path_col

# reference's own vectors (misc.py:313-318) + adversarial extras
PATH_VECTORS = [
    "/thing.png",
    "../../thing.png",
    "thing.png",
    "subdir/thing.png",
    "subdir/./thing.png",
    "a/b/../thing.png",
    "a/b/c/../../thing.png",
    "./thing.png",
    "a//b///thing.png",
    "..",
    ".",
    "",
    "a/..",
    "a/../..",
    "x//y/../../z/thing.png",
    "deep/1/2/3/4/5/../../../../../f.bin",
]


def _expected(p: str) -> str:
    return posixpath.relpath(posixpath.normpath(posixpath.join("/", p)), "/")


def test_sanitize_column_matches_scalar(spark):
    df = spark.createDataFrame([(p,) for p in PATH_VECTORS], "p string")
    got = {
        r["p"]: r["clean"]
        for r in df.select("p", sanitize_fs_path_col("p").alias("clean")).collect()
    }
    for p in PATH_VECTORS:
        assert got[p] == _expected(p), p
    # the reference's own goldens (misc.py test)
    assert got["/thing.png"] == "thing.png"
    assert got["../../thing.png"] == "thing.png"
    assert got["thing.png"] == "thing.png"
    assert got["subdir/thing.png"] == "subdir/thing.png"


_CDX_COLS = "surt string, datetime string, http_status int, mimetype string, sha1b32 string"


def test_f5_filters(spark):
    from sandcrawler_spark.sources.cdx import filter_source_code, filter_tarballs

    rows = [
        # (surt, dt, status, mime, sha)
        ("org,x)/src/a.py", "1", 200, "text/plain", "s1"),        # source hit
        ("org,x)/src/b.c", "2", 200, "text/x-c", "s2"),           # source hit
        ("org,x)/src/b.c", "1", 200, "text/x-c", "s2"),           # dup sha -> top1
        ("org,x)/src/c.py", "3", 404, "text/plain", "s3"),        # bad status
        ("org,x)/src/d.py", "4", 200, "application/pdf", "s4"),   # bad mime
        ("org,x)/src/e.pyc", "5", 200, "text/plain", "s5"),       # bad suffix
        ("org,x)/dist/pkg.tar.gz", "6", 200, "application/gzip", "t1"),   # tar hit
        ("org,x)/dist/PKG.TAR.GZ?v=2", "7", 200, "application/x-gtar", "t2"),  # ci hit
        ("org,x)/dist/pkg.tgz", "8", 200, "application/gzip", "t3"),      # no .tar.gz
        ("org,x)/dist/pkg.tar.gz", "9", 200, "text/html", "t4"),          # bad mime
    ]
    cdx = spark.createDataFrame(rows, _CDX_COLS)
    src = filter_source_code(cdx).collect()
    assert sorted(r["sha1b32"] for r in src) == ["s1", "s2"]
    # deterministic top-1: min struct keeps datetime "1" for s2
    assert {r["sha1b32"]: r["datetime"] for r in src}["s2"] == "1"
    tar = filter_tarballs(cdx).collect()
    assert sorted(r["sha1b32"] for r in tar) == ["t1", "t2"]


def test_j6_self_join_matchable(spark):
    from sandcrawler_spark.operators.dedup import self_join_matchable

    rows = [
        # slug, release, work
        ("s1", "r1", "w2"),
        ("s1", "r2", "w1"),   # pair with r1 exactly once (w2 > w1)
        ("s1", "r3", None),   # null work -> never matches
        ("s1", None, "w9"),   # null release -> never matches
        ("s1", "r4", "w2"),   # same work as r1 -> no (w2 > w2 false)
        ("s2", "r5", "w5"),   # lone slug -> no pair
    ]
    df = spark.createDataFrame(rows, "slug string, release string, work string")
    got = self_join_matchable(df).select("release_1", "release_2").collect()
    pairs = sorted((r["release_1"], r["release_2"]) for r in got)
    assert pairs == [("r1", "r2"), ("r4", "r2")]


def test_sanitize_property_vs_posixpath(spark):
    """Hypothesis: the column kernel equals the reference's
    normpath-chroot-relpath composition for arbitrary segment soup
    (each example is a batch of paths, sanitized in one Spark job)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seg = st.sampled_from(["a", "b", "thing.png", "..", ".", "", "x y", "-"])
    path = st.lists(seg, min_size=0, max_size=8).map("/".join)
    lead = st.sampled_from(["", "/"])

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.tuples(lead, path).map("".join), min_size=1, max_size=100))
    def run(paths):
        df = spark.createDataFrame([(p,) for p in paths], "p string")
        for r in df.select("p", sanitize_fs_path_col("p").alias("clean")).collect():
            assert r["clean"] == _expected(r["p"]), r["p"]

    run()
