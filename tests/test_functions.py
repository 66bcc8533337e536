"""Golden tests for the scalar kernel, ported from the reference's
inline asserts (misc.py:39-47; python/tests/test_misc.py:50-69)."""

from __future__ import annotations

import pytest

from sandcrawler_spark.functions.hashes import b32_hex, gen_file_metadata, hex_b32
from sandcrawler_spark.functions.urlkeys import canonical_url, host_of, url_fuzzy_equal


def test_canonical_url_basics():
    assert canonical_url("HTTP://Example.COM/path") == "http://example.com/path"
    assert canonical_url("http://example.com") == "http://example.com/"
    assert canonical_url("http://example.com:80/x") == "http://example.com/x"
    assert canonical_url("https://example.com:443/x") == "https://example.com/x"
    assert canonical_url("https://example.com:8443/x") == "https://example.com:8443/x"
    # bare colon port stripped (reference clean_url, misc.py:16-18)
    assert canonical_url("http://example.com:/x") == "http://example.com/x"
    assert canonical_url("  http://example.com/x  ") == "http://example.com/x"
    # dot segments
    assert canonical_url("http://e.com/a/b/../c/./d") == "http://e.com/a/c/d"
    # fragment dropped
    assert canonical_url("http://e.com/a#frag") == "http://e.com/a"
    # percent normalization: unreserved decoded, escapes uppercased
    assert canonical_url("http://e.com/%7Euser/%2fx") == "http://e.com/~user/%2Fx"
    assert canonical_url(None) is None
    assert canonical_url("") is None
    # idempotent
    u = "http://www.annalsofian.org/article.asp?issn=0972-2327;year=2014"
    assert canonical_url(canonical_url(u)) == canonical_url(u)


def test_url_fuzzy_equal_reference_vector():
    # misc.py:39-47
    assert url_fuzzy_equal(
        "http://www.annalsofian.org/article.asp?issn=0972-2327;year=2014;volume=17;issue=4;spage=463;epage=465;aulast=Nithyashree",
        "http://annalsofian.org/article.asp?issn=0972-2327;year=2014;volume=17;issue=4;spage=463;epage=465;aulast=Nithyashree",
    )


def test_b32_hex():
    # round-trip + known vector style of python/tests/test_misc.py:50-69
    hx = "1b9b6e3a4e1c4b2b8e5d0a9f3c7d2e1f4a5b6c7d"
    assert b32_hex(hex_b32(hx).lower()) == hx
    assert b32_hex("sha1:" + hex_b32(hx)) == hx
    assert b32_hex(hx) == hx  # 40-char passthrough
    with pytest.raises(ValueError):
        b32_hex("short")


def test_gen_file_metadata():
    meta = gen_file_metadata(b"%PDF-1.4 fake pdf body")
    assert meta["mimetype"] == "application/pdf"
    assert meta["size_bytes"] == 22
    assert len(meta["sha1hex"]) == 40
    assert len(meta["sha256hex"]) == 64
    assert len(meta["md5hex"]) == 32
    assert gen_file_metadata(b"<html><body>x</body></html>")["mimetype"] == "text/html"


def test_host_of():
    assert host_of("HTTPS://WWW.Example.org:443/a/b") == "www.example.org"


def test_spark_udf_parity(spark):
    """pandas-UDF form must agree exactly with the pure-Python form."""
    from pyspark.sql import functions as F

    from sandcrawler_spark.functions.urlkeys import canonical_url_udf

    urls = [
        "HTTP://Example.COM:80/a/../b/?q=1#frag",
        "https://www.cairn.info/static//x.png",
        "http://e.com/%7Euser",
        "scielo.br/journal/10.1234/abc",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select("url", canonical_url_udf("url").alias("cu")).collect()
    for r in rows:
        assert r.cu == canonical_url(r.url)
    # the frontier's url key (xxhash64 of the canonical URL) is
    # deterministic across runs
    h1 = df.select(F.xxhash64(canonical_url_udf("url"))).collect()
    h2 = df.select(F.xxhash64(canonical_url_udf("url"))).collect()
    assert h1 == h2


def test_resolve_ref_goldens():
    """C11 urljoin kernel (reference resolves every redirect Location and
    extracted resource URL against its base: ia.py:894,
    html_metadata.py:1062-1064)."""
    from sandcrawler_spark.functions.urlkeys import resolve_ref

    base = "http://h0.example.org/papers/d3/p1.pdf"
    assert resolve_ref(base, "p2.pdf") == "http://h0.example.org/papers/d3/p2.pdf"
    assert resolve_ref(base, "/p9.pdf") == "http://h0.example.org/p9.pdf"
    assert resolve_ref(base, "../../p9.pdf") == "http://h0.example.org/p9.pdf"
    # ..'s past the root pop nothing (RFC 3986 §5.2.4)
    assert resolve_ref("http://h0.example.org/p1.pdf", "../../p9.pdf") == (
        "http://h0.example.org/p9.pdf"
    )
    # protocol-relative inherits the base scheme
    assert resolve_ref(base, "//h2.example.org/x.pdf") == "http://h2.example.org/x.pdf"
    assert resolve_ref("https://a.org/p", "//b.org/x") == "https://b.org/x"
    # absolute refs pass straight through to canonicalization
    assert resolve_ref(base, "HTTP://ABS.ORG:80/y") == "http://abs.org/y"
    # scheme-less host-looking refs are RELATIVE here (unlike seed intake)
    assert resolve_ref(base, "www.b.org/y") == (
        "http://h0.example.org/papers/d3/www.b.org/y"
    )
    assert resolve_ref(base, "") is None
    assert resolve_ref(base, None) is None


def test_resolve_url_udf_parity(spark):
    from pyspark.sql import functions as F

    from sandcrawler_spark.functions.urlkeys import resolve_ref, resolve_url_udf

    rows = [
        ("http://h0.example.org/papers/d3/p1.pdf", "p2.pdf"),
        ("http://h0.example.org/papers/d3/p1.pdf", "/p9.pdf"),
        ("http://h0.example.org/p1.pdf", "../../p9.pdf"),
        ("https://a.org/p", "//b.org/x"),
        ("http://h0.example.org/p1.pdf", "HTTP://ABS.ORG:80/y"),
        ("http://h0.example.org/p1.pdf", "http://ok.org/already/canonical.pdf"),
        ("http://h0.example.org/p1.pdf", None),
        (None, "x.pdf"),
    ]
    df = spark.createDataFrame(rows, "base string, ref string")
    got = df.select("base", "ref", resolve_url_udf("base", "ref").alias("r")).collect()
    for r in got:
        assert r.r == resolve_ref(r.base, r.ref), (r.base, r.ref)


def test_check_authors_reference_vectors():
    """Ported verbatim from the reference's own test
    (scripts/filter_scored_matches.py:61-70 test_check_authors)."""
    from sandcrawler_spark.operators.text import check_authors

    assert not check_authors([], [])
    assert not check_authors([], ["one"])
    assert check_authors(["one"], ["one"])
    assert check_authors(["one two"], ["One Two"])
    assert check_authors(["two"], ["One Two"])
    assert check_authors(["two"], ["two, one"])
    assert check_authors(["mago"], ["Mr. Magoo"])
    assert check_authors(["Mr. Magoo"], ["Mr Magoo"])
    assert check_authors(["one", "tw", "thr"], ["one", "two", "three"])


def test_fix_transfer_encoding_bytes():
    """F10 kernel (ia.py:1432-1463): gunzip exactly when the body sniffs
    gzip but CDX disagrees; rehash happens downstream."""
    import gzip

    from sandcrawler_spark.operators.media import fix_transfer_encoding_bytes

    body = b"%PDF-1.4 pretend pdf"
    gz = gzip.compress(body, mtime=0)
    # mislabeled: sniffs gzip, CDX claims pdf -> unwrapped
    inner, fixed = fix_transfer_encoding_bytes(gz, "application/pdf")
    assert fixed and inner == body
    # correctly declared gzip -> untouched
    same, fixed = fix_transfer_encoding_bytes(gz, "application/gzip")
    assert not fixed and same == gz
    # plain body -> untouched regardless of claim
    same, fixed = fix_transfer_encoding_bytes(body, "text/html")
    assert not fixed and same == body


def test_tmpfs_local_dir_reaps_dead_pid_dirs(monkeypatch, tmp_path):
    """A SIGKILLed driver leaves its tmpfs shuffle subdir behind (RAM!);
    the next session must reap dead-PID subdirs and keep live ones."""
    import os
    import shutil as _shutil

    from sandcrawler_spark import session as S

    base = "/dev/shm/sandcrawler-spark-local"
    if not os.path.isdir("/dev/shm"):
        import pytest

        pytest.skip("no /dev/shm")
    monkeypatch.setenv("SPARK_GRAFT_TMPFS", "1")
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    os.makedirs(os.path.join(base, "pid-999999999"), exist_ok=True)  # dead
    live = os.path.join(base, f"pid-{os.getpid()}")
    os.makedirs(live, exist_ok=True)
    try:
        d = S._tmpfs_local_dir()
        assert d == live  # current pid's subdir
        assert not os.path.exists(os.path.join(base, "pid-999999999"))
        assert os.path.exists(live)
    finally:
        _shutil.rmtree(base, ignore_errors=True)


def test_session_memory_fits_the_machine():
    """Driver heap = a quarter of RAM capped at 8g, off-heap = half the
    heap, each at least 1g — never more than the machine can back."""
    from sandcrawler_spark.session import memory_for

    gib_kb = 1 << 20
    assert memory_for(16 * gib_kb) == ("4g", "2g")
    assert memory_for(16_393_000) == ("3g", "1g")  # a 16 GB box's MemTotal
    assert memory_for(256 * gib_kb) == ("8g", "4g")
    assert memory_for(2 * gib_kb) == ("1g", "1g")
