"""Unit invariants for the text-cleaning stage (operators/text.py:
gopher_rules / line_dedup / pii_redact) — edge cases the battery's
synthesized corpus doesn't produce."""

from __future__ import annotations

from sandcrawler_spark.operators import text as X


def test_gopher_rules_flags(spark):
    # 60 words, mean len 4.67, 10 stopwords
    clean = " ".join(["the", "quick", "brown", "foxes", "jumped", "over"] * 10)
    short = "tiny doc of the and that"  # fails ok_words
    symbols = " ".join(["#tag"] * 60)  # fails ok_symbols + ok_stop
    df = spark.createDataFrame(
        [(1, clean), (2, short), (3, symbols)], "id long, text string"
    )
    rows = {r["id"]: r for r in X.gopher_rules(df, "id", "text").collect()}
    assert rows[1]["pass_gopher"] is True
    assert rows[2]["ok_words"] is False and rows[2]["pass_gopher"] is False
    assert rows[3]["ok_symbols"] is False and rows[3]["n_stop"] == 0


def test_line_dedup_removal_and_order(spark):
    df = spark.createDataFrame(
        [
            (1, "unique one\nSHARED LINE\nunique two"),
            (2, "shared line\nonly in two"),
            (3, "shared line"),  # all lines removed
            (4, "   \nkeep me\n   "),  # whitespace lines never dup-removed
            (5, "keep me too\n   "),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in X.line_dedup(df, "id", "text").collect()}
    # dedup is case-insensitive (lower+trim norm); order preserved
    assert out[1]["clean_text"] == "unique one\nunique two"
    assert out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "only in two"
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1
    assert out[3]["n_lines"] == 1
    # whitespace-only lines appear in 3 docs but survive
    assert out[4]["clean_text"] == "   \nkeep me\n   "
    assert out[5]["n_removed"] == 0


def test_duplicate_line_stats_goldens(spark):
    df = spark.createDataFrame(
        [
            # lines a,b,a,c,a,b -> 3/6 dup; paragraphs all distinct
            (1, "a\nb\na\n\nc\n\na\nb"),
            (2, "x\nx\nx\nx"),          # 3/4 dup lines, one paragraph
            (3, ""),                      # empty doc: all zero, passes
            (4, "p q r"),                 # single line, no dups
            (5, "dup\n\ndup\n\ndup"),    # 2/3 dup lines AND paragraphs
            (6, "  \nkeep\n  \nkeep"),   # blank lines excluded, 1/2 dup
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in X.duplicate_line_stats(df, "id", "text").collect()}
    assert out[1]["dup_line_frac"] == 0.5
    assert out[1]["dup_line_char_frac"] == 0.2308  # 3 dup chars / 13
    assert out[1]["dup_para_frac"] == 0.0 and out[1]["pass_dup"] is False
    assert out[2]["dup_line_frac"] == 0.75
    assert out[3]["pass_dup"] is True and out[3]["dup_line_frac"] == 0.0
    assert out[4]["pass_dup"] is True
    assert out[5]["dup_para_frac"] == 0.6667
    assert out[5]["dup_para_char_frac"] == 0.4615  # 6 dup chars / 13
    assert out[6]["dup_line_frac"] == 0.5  # blanks out of num and denom


def test_duplicate_line_stats_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(1, "a\nb")], "id long, text string")
    plan = (
        X.duplicate_line_stats(df, "id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure projection: no shuffle anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_redact_goldens(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.org and c.d+x@e.co.uk here"),
            (2, "ip 192.168.0.1 phone +12345678 short +123 end"),
            (3, "nothing to scrub"),
            (4, "ver 1.2.3.4 is an ip-shaped version"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in X.pii_redact(df, "id", "text").collect()}
    assert out[1]["n_emails"] == 2
    assert out[1]["redacted"] == "mail <EMAIL> and <EMAIL> here"
    assert out[2]["n_ips"] == 1 and out[2]["n_phones"] == 1
    assert out[2]["redacted"] == "ip <IP> phone <PHONE> short +123 end"
    assert out[3]["redacted"] == "nothing to scrub"
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_phones"]) == (0, 0, 0)
    assert out[4]["n_ips"] == 1  # dotted quads redact even as versions


def test_line_dedup_min_docs_threshold(spark):
    df = spark.createDataFrame(
        [(1, "x\ny"), (2, "x\nz"), (3, "x\nw")], "id long, text string"
    )
    strict = {r["id"]: r for r in X.line_dedup(df, "id", "text", min_docs=4).collect()}
    assert all(r["n_removed"] == 0 for r in strict.values())
    loose = {r["id"]: r for r in X.line_dedup(df, "id", "text", min_docs=3).collect()}
    assert all(r["clean_text"] != "x" and "x" not in r["clean_text"] for r in loose.values())


def test_boilerplate_classify_context_rules(spark):
    from sandcrawler_spark.operators.text import boilerplate_classify

    text = "\n\n".join([
        "the be to of and that have with",   # good (density 1.0)
        "ok",                                 # short, prev good -> good
        "menu copyright login register xyz",  # bad (0 stopwords)
        "the data table scan",                # neargood (0.25), neighbors bad/short -> bad
        "ok go",                              # short, next paragraph is neargood not good -> bad
        "the data table scan",                # neargood, neighbors short/none -> bad
    ])
    df = spark.createDataFrame([(1, text)], "id long, body string")
    rows = {r["idx"]: (r["ctx_free"], r["cls"])
            for r in boilerplate_classify(df, "id", "body").collect()}
    assert rows == {
        0: ("good", "good"),
        1: ("short", "good"),
        2: ("bad", "bad"),
        3: ("neargood", "bad"),
        4: ("short", "bad"),
        5: ("neargood", "bad"),
    }


def test_boilerplate_promotion_neargood_next_to_good(spark):
    from sandcrawler_spark.operators.text import boilerplate_classify

    text = "the data table scan\n\nthe be to of and that have with"
    df = spark.createDataFrame([(7, text)], "id long, body string")
    rows = {r["idx"]: r["cls"] for r in boilerplate_classify(df, "id", "body").collect()}
    assert rows == {0: "good", 1: "good"}  # neargood promoted by good neighbor


def test_clean_documents_rules(spark):
    """Cleanup kernel: control strip, horizontal-whitespace collapse
    (incl. NBSP), space-around-newline, blank-line cap, trim, NFC
    composition of decomposed sequences."""
    from sandcrawler_spark.operators.text import clean_documents

    rows = [
        ("ctl", "a\x00b\x07c\x1fd\x7fe"),
        ("ws", "a \t   b"),
        ("nl", "one \r\n two\n\n\n\n\nthree"),
        ("nfc", "étude"),
        ("trim", "  padded  "),
        ("none", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["id"]: r["text"] for r in clean_documents(df).collect()}
    assert out["ctl"] == "abcde"
    assert out["ws"] == "a b"
    assert out["nl"] == "one\ntwo\n\nthree"
    assert out["nfc"] == "étude" and len(out["nfc"]) == 5
    assert out["trim"] == "padded"
    assert out["none"] is None
