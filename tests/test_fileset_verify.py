"""Archiving-strategy verification operators (operators/fileset.py,
modeling fileset_strategies.py): check_existing_item,
verify_manifest_local, web_fetch_verify.

Hand-derived goldens per reference rung, plus a pure-Python
re-implementation of the reference's sequential verify loop
(fileset_strategies.py:100-211) run over a generated 120-item fixture
and compared row-for-row with the Spark plan — the parity evidence
that the declarative rewrite preserves the order-sensitive mutation
semantics (abort at first download error, rung-by-rung backfills).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sandcrawler_spark.operators import fileset

MAN_SCHEMA = (
    "item string, idx int, path string, size bigint, sha1 string,"
    " sha256 string, md5 string, mimetype string"
)
FET_SCHEMA = (
    "item string, path string, size_bytes bigint, sha1hex string,"
    " sha256hex string, md5hex string, mimetype string"
)


# --- check_existing_item ------------------------------------------------


def test_check_existing_decisions(spark):
    manifest = spark.createDataFrame(
        [
            # i1: both files match (one via sha1, one via md5-only)
            ("i1", "a", 10, "s_a", "m_a"),
            ("i1", "b", 20, "s_b", "m_b"),
            # i2: size mismatch on one file
            ("i2", "a", 10, "s_a", "m_a"),
            ("i2", "b", 21, "s_b", "m_b"),
            # i3: one file missing from the item entirely
            ("i3", "a", 10, "s_a", "m_a"),
            ("i3", "zz", 5, "s_z", "m_z"),
            # i4: existing sha1 EMPTY (falsy in the reference) but md5
            # matches -> still 'exists' (fileset_strategies.py:76-78)
            ("i4", "a", 10, "s_a", "m_a"),
            # i5: hash present but wrong on both
            ("i5", "a", 10, "s_a", "m_a"),
        ],
        "item string, path string, size bigint, sha1 string, md5 string",
    )
    existing = spark.createDataFrame(
        [
            ("i1", "a", 10, "s_a", "WRONG"),
            ("i1", "b", 20, "", "m_b"),
            ("i2", "a", 10, "s_a", "m_a"),
            ("i2", "b", 20, "s_b", "m_b"),
            ("i3", "a", 10, "s_a", "m_a"),
            ("i4", "a", 10, "", "m_a"),
            ("i5", "a", 10, "XX", "YY"),
        ],
        "item string, name string, size bigint, sha1 string, md5 string",
    )
    out = {
        r["item"]: (r["status"], r["files_exist"])
        for r in fileset.check_existing_item(manifest, existing).collect()
    }
    assert out["i1"] == ("success-existing", 2)
    assert out["i2"] == (None, 1)
    assert out["i3"] == (None, 1)
    assert out["i4"] == ("success-existing", 1)
    assert out["i5"] == (None, 0)


# --- verify_manifest_local: rung goldens --------------------------------


def _verify(spark, man_rows, fet_rows):
    man = spark.createDataFrame(man_rows, MAN_SCHEMA)
    fet = spark.createDataFrame(fet_rows, FET_SCHEMA)
    return {
        (r["item"], r["idx"]): r
        for r in fileset.verify_manifest_local(man, fet).collect()
    }


def test_verify_local_rungs(spark):
    man = [
        ("i", 0, "ok.txt", 10, "s0", None, None, None),
        ("i", 1, "size.txt", 10, "s1", None, None, None),
        ("i", 2, "sha1.txt", 10, "s2", None, None, None),
        ("i", 3, "sha256.txt", 10, "s3", "x256", None, None),
        ("i", 4, "md5.txt", 10, "s4", None, "m4", None),
        ("i", 5, "../evil", 10, "s5", None, None, None),
    ]
    fet = [
        ("i", "ok.txt", 10, "s0", "h256", "h5", "text/csv"),
        ("i", "size.txt", 11, "s1", "h256", "h5", "text/csv"),
        ("i", "sha1.txt", 10, "OTHER", "h256", "h5", "text/csv"),
        ("i", "sha256.txt", 10, "s3", "DIFF", "h5", "text/csv"),
        ("i", "md5.txt", 10, "s4", "h256", "NOPE", "text/csv"),
    ]
    out = _verify(spark, man, fet)
    assert out[("i", 0)]["status"] == "verified-local"
    assert out[("i", 1)]["status"] == "mismatch-size"
    assert out[("i", 2)]["status"] == "mismatch-sha1"
    assert out[("i", 3)]["status"] == "mismatch-sha256"
    assert out[("i", 4)]["status"] == "mismatch-md5"
    assert out[("i", 5)]["status"] == "unsafe-path"
    # item status = lowest-idx non-verified rung
    assert out[("i", 0)]["item_status"] == "mismatch-size"
    # rung-by-rung backfill: sha256/md5 backfilled on the verified row
    assert out[("i", 0)]["sha256"] == "h256" and out[("i", 0)]["md5"] == "h5"
    # sha1 rung passed before md5 mismatched -> sha256 got backfilled
    assert out[("i", 4)]["sha256"] == "h256" and out[("i", 4)]["md5"] == "m4"
    # size rung failed -> nothing backfilled
    assert out[("i", 1)]["sha256"] is None


def test_verify_local_null_manifest_size_is_mismatch(spark):
    """FilesetManifestFile.size is Optional in the reference; its
    sequential verify compares ``file_meta['size_bytes'] != m.size``,
    and Python ``10 != None`` is True — a size-less manifest row is a
    size MISMATCH, not a silently-skipped rung."""
    man = [("i", 0, "nosize.txt", None, "s0", None, None, None)]
    fet = [("i", "nosize.txt", 10, "s0", "h256", "h5", "text/csv")]
    out = _verify(spark, man, fet)
    assert out[("i", 0)]["status"] == "mismatch-size"


def test_verify_local_mimetype_rules(spark):
    man = [
        ("i", 0, "keep", 1, None, None, None, "text/csv"),
        ("i", 1, "override", 1, None, None, None, "text/csv"),
        ("i", 2, "fill", 1, None, None, None, None),
    ]
    fet = [
        # fetched text/plain never overrides (fileset_strategies.py:188-190)
        ("i", "keep", 1, "a", "b", "c", "text/plain"),
        ("i", "override", 1, "a", "b", "c", "application/zip"),
        ("i", "fill", 1, "a", "b", "c", "image/png"),
    ]
    out = _verify(spark, man, fet)
    assert out[("i", 0)]["mimetype"] == "text/csv"
    assert out[("i", 1)]["mimetype"] == "application/zip"
    assert out[("i", 2)]["mimetype"] == "image/png"
    assert out[("i", 0)]["item_status"] == "success"


def test_verify_local_download_abort(spark):
    # idx 1 has no fetched row -> the reference returns there: idx 2 is
    # never visited (status NULL) and the ITEM is error-platform-download
    # even though idx 0 already failed a rung (it only `continue`d).
    man = [
        ("i", 0, "bad", 5, "sX", None, None, None),
        ("i", 1, "gone", 5, None, None, None, None),
        ("i", 2, "later", 5, None, None, None, None),
    ]
    fet = [
        ("i", "bad", 6, "sX", None, None, None),
        ("i", "later", 5, "sL", None, None, None),
    ]
    out = _verify(spark, man, fet)
    assert out[("i", 0)]["status"] == "mismatch-size"
    assert out[("i", 1)]["status"] == "error-platform-download"
    assert out[("i", 2)]["status"] is None
    assert all(
        out[("i", k)]["item_status"] == "error-platform-download" for k in (0, 1, 2)
    )


# --- verify_manifest_local: python-model parity over a fixture ----------


def _py_sanitize(path):
    segs = [s for s in path.split("/") if s not in ("", ".")]
    out = []
    for s in segs:
        if s == "..":
            if out:
                out.pop()
        else:
            out.append(s)
    return "/".join(out) or "."


def _py_verify(man_rows, fet_by_key):
    """Line-for-line model of fileset_strategies.py:100-211."""
    rows = sorted(man_rows, key=lambda r: r[1])
    state = {}
    item_status = None
    for item, idx, path, size, sha1, sha256, md5, mime in rows:
        st = {"status": None, "sha1": sha1, "sha256": sha256, "md5": md5, "mimetype": mime}
        state[idx] = st
        if item_status == "error-platform-download":
            continue  # reference already returned; row untouched
        if path != _py_sanitize(path):
            st["status"] = "unsafe-path"
            continue
        fm = fet_by_key.get((item, path))
        if fm is None:
            st["status"] = "error-platform-download"
            item_status = "error-platform-download"
            continue
        fsize, fsha1, fsha256, fmd5, fmime = fm
        if fsize != size:
            st["status"] = "mismatch-size"
            continue
        if sha1:
            if fsha1 != sha1:
                st["status"] = "mismatch-sha1"
                continue
        else:
            st["sha1"] = fsha1
        if sha256:
            if fsha256 != sha256:
                st["status"] = "mismatch-sha256"
                continue
        else:
            st["sha256"] = fsha256
        if md5:
            if fmd5 != md5:
                st["status"] = "mismatch-md5"
                continue
        else:
            st["md5"] = fmd5
        if mime:
            if fmime != mime and fmime != "text/plain":
                st["mimetype"] = fmime
        else:
            st["mimetype"] = fmime
        st["status"] = "verified-local"
    if item_status is None:
        for idx in sorted(state):
            if state[idx]["status"] != "verified-local":
                item_status = state[idx]["status"]
                break
        else:
            item_status = "success"
    return state, item_status


def test_verify_local_python_model_parity(spark):
    # 120 deterministic items, 1-5 files each, planting every rung via
    # modular classes (incl. items with BOTH an early mismatch and a
    # later download error, the order-sensitive case)
    man_rows, fet_rows = [], []
    for i in range(120):
        item = f"it{i:03d}"
        nf = 1 + i % 5
        for k in range(nf):
            key = i * 7 + k
            path = "../up" if key % 17 == 0 else f"d/f{k}.bin"
            size = 100 + k
            # '' classes: the reference's truthiness gates treat them as
            # absent (no mismatch, fetched value overwrites)
            sha1 = None if key % 3 == 0 else ("" if key % 37 == 0 else f"sha1-{key}")
            sha256 = None if key % 4 != 0 else f"sha256-{key}"
            md5 = None if key % 5 != 0 else ("" if key % 31 == 0 else f"md5-{key}")
            mime = None if key % 6 == 0 else ("" if key % 41 == 0 else "text/csv")
            man_rows.append((item, k, path, size, sha1, sha256, md5, mime))
            if key % 11 == 0:
                continue  # download error: no fetched row
            fsize = size + (1 if key % 13 == 0 else 0)
            fsha1 = ("WRONG" if key % 19 == 0 else f"sha1-{key}")
            fsha256 = ("WRONG" if key % 23 == 0 else f"sha256-{key}")
            fmd5 = ("WRONG" if key % 29 == 0 else f"md5-{key}")
            fmime = ["text/csv", "text/plain", "application/zip"][key % 3]
            fet_rows.append((item, path, fsize, fsha1, fsha256, fmd5, fmime))
    fet_by_key = {(r[0], r[1]): (r[2], r[3], r[4], r[5], r[6]) for r in fet_rows}

    out = _verify(spark, man_rows, fet_rows)
    by_item = {}
    for r in man_rows:
        by_item.setdefault(r[0], []).append(r)
    checked = 0
    for item, rows in by_item.items():
        state, item_status = _py_verify(rows, fet_by_key)
        for idx, st in state.items():
            got = out[(item, idx)]
            for fld in ("status", "sha1", "sha256", "md5", "mimetype"):
                assert got[fld] == st[fld], (item, idx, fld, got[fld], st[fld])
            assert got["item_status"] == item_status, (item, idx)
            checked += 1
    assert checked == len(man_rows)


# --- web_fetch_verify ----------------------------------------------------


def test_web_fetch_verify(spark):
    man_rows = [
        ("w1", 0, "http://a/0", 10, "s0", None, None, None),
        ("w1", 1, "http://a/1", 10, None, None, "m1", None),
        ("w2", 0, "http://b/0", 10, None, None, None, None),
        ("w3", 0, "http://c/0", 10, None, None, None, None),
        ("w4", 0, "http://d/0", 10, None, None, None, None),
        ("w5", 0, "http://e/0", 10, "sX", None, None, None),
    ]
    # w6: 21 files, all uncaptured -> too-much-spn
    man_rows += [
        ("w6", k, f"http://f/{k}", 1, None, None, None, None) for k in range(21)
    ]
    man = spark.createDataFrame(
        man_rows,
        "item string, idx int, platform_url string, size bigint,"
        " sha1 string, sha256 string, md5 string, mimetype string",
    )
    res = spark.createDataFrame(
        [
            ("http://a/0", "success", "http://a/0", "20200101000000", 10, "s0", "t0", "m0", "application/pdf", False),
            ("http://a/1", "success", "http://a/1", "20200101000000", 10, "s1", "t1", "m1", "text/html", False),
            ("http://b/0", "terminal-bad-status", "http://b/0", "20200101000000", None, None, None, None, None, False),
            # w3: missing row entirely -> no-capture (single file, under SPN budget)
            ("http://d/0", "success", "http://d/0", "20200101000000", 10, "sd", "td", "md", "application/pdf", True),
            ("http://e/0", "success", "http://e/0", "20200101000000", 10, "sY", "tY", "mY", "application/pdf", False),
        ],
        "url string, status string, terminal_url string, terminal_dt string,"
        " size_bytes bigint, sha1hex string, sha256hex string, md5hex string,"
        " mimetype string, empty_body boolean",
    )
    out = {
        (r["item"], r["idx"]): r
        for r in fileset.web_fetch_verify(man, res).collect()
    }
    assert out[("w1", 0)]["status"] == "success"
    assert out[("w1", 1)]["status"] == "success"
    # backfill on success: null sha1 filled, manifest md5 kept
    assert out[("w1", 1)]["sha1"] == "s1" and out[("w1", 1)]["md5"] == "m1"
    assert out[("w1", 0)]["item_status"] == "success"
    assert out[("w2", 0)]["status"] == "terminal-bad-status"
    assert out[("w2", 0)]["item_status"] == "terminal-bad-status"
    assert out[("w3", 0)]["status"] == "no-capture"
    assert out[("w4", 0)]["status"] == "empty-blob"
    assert out[("w5", 0)]["status"] == "mismatch"
    assert all(out[("w6", k)]["status"] == "too-much-spn" for k in range(21))
    assert out[("w6", 0)]["item_status"] == "too-much-spn"


def test_web_fetch_null_manifest_size_is_mismatch(spark):
    """Same reference rule as verify_manifest_local: a NULL manifest
    size compares unequal to the fetched size -> mismatch, even when
    every present hash matches."""
    man = spark.createDataFrame(
        [("wn", 0, "http://n/0", None, "sN", None, None, None)],
        "item string, idx int, platform_url string, size bigint,"
        " sha1 string, sha256 string, md5 string, mimetype string",
    )
    res = spark.createDataFrame(
        [("http://n/0", "success", "http://n/0", "20200101000000", 10,
          "sN", "tN", "mN", "application/pdf", False)],
        "url string, status string, terminal_url string, terminal_dt string,"
        " size_bytes bigint, sha1hex string, sha256hex string, md5hex string,"
        " mimetype string, empty_body boolean",
    )
    r = fileset.web_fetch_verify(man, res).collect()[0]
    assert r["status"] == "mismatch"


def test_web_fetch_first_failure_order(spark):
    man = spark.createDataFrame(
        [
            ("i", 0, "http://x/ok", 5, None, None, None, None),
            ("i", 1, "http://x/bad", 5, None, None, None, None),
            ("i", 2, "http://x/worse", 5, None, None, None, None),
        ],
        "item string, idx int, platform_url string, size bigint,"
        " sha1 string, sha256 string, md5 string, mimetype string",
    )
    res = spark.createDataFrame(
        [
            ("http://x/ok", "success", "t", "dt", 5, "a", "b", "c", "m", False),
            ("http://x/bad", "redirect", "t", "dt", None, None, None, None, None, False),
            ("http://x/worse", "terminal-bad-status", "t", "dt", None, None, None, None, None, False),
        ],
        "url string, status string, terminal_url string, terminal_dt string,"
        " size_bytes bigint, sha1hex string, sha256hex string, md5hex string,"
        " mimetype string, empty_body boolean",
    )
    rows = fileset.web_fetch_verify(man, res).collect()
    assert all(r["item_status"] == "redirect" for r in rows)


def test_web_fetch_empty_string_hashes_are_absent(spark):
    # reference: `m.md5 and m.md5 != ...` — '' never mismatches, and
    # `m.md5 or file_meta[...]` — '' is overwritten by the fetched value
    man = spark.createDataFrame(
        [("i", 0, "http://z/0", 5, "", None, "", "")],
        "item string, idx int, platform_url string, size bigint,"
        " sha1 string, sha256 string, md5 string, mimetype string",
    )
    res = spark.createDataFrame(
        [("http://z/0", "success", "t", "dt", 5, "S", "T", "M", "app/x", False)],
        "url string, status string, terminal_url string, terminal_dt string,"
        " size_bytes bigint, sha1hex string, sha256hex string, md5hex string,"
        " mimetype string, empty_body boolean",
    )
    r = fileset.web_fetch_verify(man, res).collect()[0]
    assert r["status"] == "success"
    assert r["sha1"] == "S" and r["md5"] == "M" and r["mimetype"] == "app/x"


def test_verify_local_partitioning_invariant(spark):
    """Round-5 regression guard: the ladder's per-item first-bad pick
    must not depend on input partitioning or row order (the round-5
    split-aware scans exposed a fixture whose duplicate keys made the
    min-idx status tie arbitrary). With unique idx per item, results
    are identical under 1-partition, many-partition, and reversed
    inputs."""
    rows = []
    for item in range(40):
        it = f"it{item}"
        for idx in range(5):
            k = item * 5 + idx
            rows.append((
                it, idx, f"d/f{idx}.bin", 100 + k,
                f"sha1-{k}" if k % 3 else None,
                None, None, "text/csv",
            ))
    fet = [
        (it, p, sz + (1 if (i + sz) % 7 == 0 else 0),
         s1 if (i + sz) % 5 else "WRONG", None, None, "text/csv")
        for (it, i, p, sz, s1, _s2, _m, _mt) in rows
        if (i + sz) % 11  # some files never downloaded
    ]

    def run(man_df, fet_df):
        out = fileset.verify_manifest_local(man_df, fet_df)
        return sorted(tuple(r) for r in out.collect())

    man1 = spark.createDataFrame(rows, MAN_SCHEMA)
    fet1 = spark.createDataFrame(fet, FET_SCHEMA)
    base = run(man1, fet1)
    shuffled = run(
        man1.repartition(13), fet1.repartition(7)
    )
    reversed_ = run(
        spark.createDataFrame(rows[::-1], MAN_SCHEMA).coalesce(1),
        spark.createDataFrame(fet[::-1], FET_SCHEMA).coalesce(1),
    )
    assert base == shuffled == reversed_
