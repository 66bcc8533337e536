"""Text-analysis operators for the training-data pipeline: tokenizing,
shingling, quality scoring, language-ID heuristic, fingerprinting.

All engine-portable: every function is pure Catalyst expressions (no
Python in the hot path), built on a shared deterministic hash
convention so DuckDB oracles can reproduce results bit-for-bit:

    hash28(s) = int(md5(s)[:7 hex], 16)    — 28-bit, safe for (a*h+b)%p
                                             in int64 without overflow
    hash60(s) = int(md5(s)[:15 hex], 16)   — 60-bit, for simhash bits

(md5 because every engine has it; xxhash64 would be Spark-only.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STOPWORDS = ("the", "a", "of", "and", "to")


# ------------------------------------------------- C9: token author-match
# Semantics of the reference's scored-match filter
# (python/scripts/filter_scored_matches.py:24-58): `left` is the
# known-good author list, `right` the extracted one; every left author's
# tokenized last name must appear (as a substring) in the tokenized
# concatenation of the right list.


def author_tokenize(s: str) -> str:
    """Lowercase, keep alnum+space, ASCII-fold by dropping non-ASCII
    (filter_scored_matches.py:24-35).

    Deliberate divergence (ADVICE r2): the reference computes
    ``s.replace('&apos;', "'")`` but DISCARDS the result (a no-op bug),
    so ``O&apos;Brien`` tokenizes there as ``oaposbrien``. We apply the
    replacement — names containing the XML entity tokenize to the
    intended ``obrien`` here. This only widens matches for entity-
    escaped names; the golden vectors in tests cover both forms."""
    s = s.replace("&apos;", "'")
    s = "".join(c for c in s.lower() if c.isalnum() or c.isspace())
    return s.encode("ascii", "replace").replace(b"?", b"").decode("ascii")


def check_authors(left: list[str] | None, right: list[str] | None) -> bool:
    """Reference ``check_authors`` (filter_scored_matches.py:38-58):
    empty left fails; left may not be longer than right; each left
    author's last name (jr.-stripped, tokenized, >1 char) must be a
    substring of the tokenized joined right list."""
    left = list(left or [])
    right = list(right or [])
    if not left:
        return False
    if len(left) > len(right):
        return False
    right_all = author_tokenize(" ".join(right))
    for name in left:
        words = name.lower().replace("jr.", "").split()
        if not words:
            return False
        last = author_tokenize(words[-1])
        if len(last) <= 1:
            return False
        if last not in right_all:
            return False
    return True


@F.pandas_udf(T.BooleanType())
def check_authors_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    """Vectorized C9 over two array<string> columns (Arrow delivers
    arrays as numpy ndarrays — normalized to lists before the kernel)."""
    return pd.Series(
        [
            check_authors(
                None if l is None else list(l), None if r is None else list(r)
            )
            for l, r in zip(left, right)
        ],
        dtype="boolean",
    )


def tokens_col(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), "\\s+")


def hash28_col(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")


def hash60_col(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct word n-grams. Shingle assembly is a
    Catalyst ``transform(sequence(...))`` — rows with < n tokens yield no
    shingles (guarded: Spark's sequence() auto-reverses for start>stop).

    Distinctness is enforced PER DOCUMENT with ``array_distinct``
    before the explode (round 6): the old global ``.distinct()`` after
    the explode shuffled every (id, shingle) row — ~10M rows / 600 MB
    at the sf1.0 battery scale — to deduplicate sets that are already
    local to one row. Same (id, shingle) set, zero exchanges, and the
    whole shingle lineage stays narrow (guide §2.4 "remove shuffles
    outright")."""
    toks = df.select(F.col(id_col).alias("id"), tokens_col(text_col).alias("toks")).filter(
        F.size("toks") >= n
    )
    gram = f"transform(sequence(0, size(toks)-{n}), i -> concat_ws(' ', {', '.join(f'toks[i+{k}]' for k in range(n))}))"
    return toks.select(
        "id", F.explode(F.array_distinct(F.expr(gram))).alias("shingle")
    )


# ASCII punctuation as explicit ranges so the identical class compiles
# under Java regex and RE2 (no \p{Punct}, whose meaning differs).
PUNCT_CLASS = r"[!-/:-@\[-`{-~]"


def doc_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc quality features: token count, mean token length,
    stopword ratio, punctuation ratio (the length/punct/stopword
    quality-scoring family for corpus filtering)."""
    t = F.trim(F.col(text_col))
    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("toks"), t.alias("t")
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return toks.select(
        "id",
        F.size("toks").alias("n_tokens"),
        F.round(F.length(F.concat_ws("", F.col("toks"))) / F.size("toks"), 4).alias(
            "avg_token_len"
        ),
        F.round(
            F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t)))
            / F.size("toks"),
            4,
        ).alias("stop_ratio"),
        F.when(
            F.length("t") > 0,
            F.round(F.regexp_count(F.col("t"), F.lit(PUNCT_CLASS)) / F.length("t"), 4),
        ).alias("punct_ratio"),
    )


def lang_guess(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """n-gram-heuristic language ID (stopword-density rule, ``en`` at
    ≥ 0.12 stopwords per token): a cheap, deterministic classifier of
    the kind large corpus pipelines run before real LID models."""
    q = doc_quality(df, id_col, text_col)
    return q.select(
        "id",
        F.when(F.col("stop_ratio") >= 0.12, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("lang_guess"),
    )


# Character-trigram profiles (Cavnar-Trenkle-style n-gram LID, profile
# size cut to the most frequent+discriminative trigrams per language —
# public-corpus commonplaces). Counting uses the replace-trick
# ((len - len(replace(text, tri, ''))) / 3), which both Java and DuckDB
# implement as non-overlapping left-to-right replace-all, so the oracle
# reproduces scores exactly.
LANG_TRIGRAM_PROFILES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", (" th", "the", "he ", " an", "and", "nd ", " of", "of ",
            "ing", "ng ", " to", "ed ")),
    ("de", ("en ", "er ", " de", "der", "die", " di", "sch", "ein",
            "ich", "che", "und", " un")),
    ("fr", (" de", "de ", " le", "le ", "es ", "ent", "nt ", "et ",
            " la", "la ", "ion", " et")),
    ("es", (" la", "la ", " de", "de ", "os ", " el", "el ", "as ",
            " en", "en ", "ión", "ado")),
)


def lang_guess_ngram(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-n-gram language ID: per-language trigram-profile hit
    density over the lowercased text, argmax with an absolute density
    floor (0.01 hits/char — below it the text matches no
    profile and falls to ``other``). Ties break to the earliest profile
    in ``LANG_TRIGRAM_PROFILES`` order. Pure Catalyst — 48 codegen'd
    replace/length expressions, no explode, no Python."""
    c = F.lower(F.col(text_col))
    n_chars = F.length(c)

    def profile_score(tris: tuple[str, ...]):
        counts = [
            (F.length(c) - F.length(F.replace(c, F.lit(t), F.lit("")))) / F.lit(3)
            for t in tris
        ]
        s = counts[0]
        for cnt in counts[1:]:
            s = s + cnt
        return s

    scored = F.array(
        *[
            F.struct(
                profile_score(tris).alias("s"),
                F.lit(-i).alias("neg_i"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, tris) in enumerate(LANG_TRIGRAM_PROFILES)
        ]
    )
    best = F.array_max(scored)
    return df.select(
        F.col(id_col).alias("id"),
        F.when(
            (n_chars > 0) & (best["s"] / n_chars >= F.lit(0.01)),
            best["lang"],
        )
        .otherwise(F.lit("other"))
        .alias("lang_ngram"),
    )


# BPE-ish pre-tokenizer regex (the GPT-2 pretokenizer family shape:
# contraction suffixes, space-prefixed letter runs, space-prefixed digit
# runs, space-prefixed punctuation runs, residual whitespace runs).
# Deliberately lookahead-free so the IDENTICAL pattern executes under
# both Java regex (Spark, leftmost-first alternation) and RE2 (DuckDB,
# default Perl semantics = also leftmost-first); the one divergence from
# GPT-2 is dropping its `\s+(?!\S)` trailing-space lookahead, so a run
# of k>=2 spaces tokenizes as one whitespace token instead of splitting
# its last space onto the next token. Token COUNTS (what a corpus
# pipeline budgets by) are what this operator reports, not merge-ready
# piece strings.
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc token accounting for training-data budgeting: whitespace
    token count, BPE-ish pre-token count (``BPE_TOKEN_PATTERN``), and
    chars-per-BPE-token (the compression-ratio quality signal — prose
    sits near 3-5, junk/binary spew collapses toward 1). Pure Catalyst
    (``regexp_count`` — codegen'd, no Python)."""
    c = F.trim(F.col(text_col))
    n_bpe = F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))
    return df.select(
        F.col(id_col).alias("id"),
        F.size(tokens_col(c)).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(n_bpe > 0, F.round(F.length(c) / n_bpe, 4)).alias(
            "chars_per_bpe_token"
        ),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Winnowing-style document fingerprint: min 28-bit shingle hash —
    one stable 'representative shingle' per doc (rolling-hash
    fingerprint family)."""
    sh = shingles(df, id_col, text_col)
    return (
        sh.withColumn("h", hash28_col("shingle"))
        .groupBy("id")
        .agg(F.min("h").alias("fingerprint"))
    )


def _ngram_counts(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, g, cnt) word n-gram occurrence counts — NON-distinct (unlike
    :func:`shingles`): repetition analysis needs multiplicities."""
    toks = df.select(F.col(id_col).alias("id"), tokens_col(text_col).alias("toks")).filter(
        F.size("toks") >= n
    )
    gram = (
        f"transform(sequence(0, size(toks)-{n}), "
        f"i -> concat_ws(' ', {', '.join(f'toks[i+{k}]' for k in range(n))}))"
    )
    return (
        toks.select("id", F.explode(F.expr(gram)).alias("g"))
        .groupBy("id", "g")
        .agg(F.count("*").alias("cnt"))
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    ``n``-gram (default 13, the GPT-3/PaLM convention) with a held-out
    benchmark set. Output one row per CONTAMINATED doc:
    (id, n_hit_ngrams, n_ngrams, overlap_frac).

    Scale shape: the benchmark n-gram set is small relative to the
    corpus (eval suites are a few MB against a 100 TB corpus), so it is
    broadcast — the corpus side streams map-side with no shuffle; the
    only shuffle is the per-doc hit count groupBy(id). For benchmark
    sets too big to broadcast, drop the hint and Catalyst/AQE picks a
    shuffled hash join on the same plan."""
    bench_grams = shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    corpus_grams = shingles(corpus, id_col, text_col, n)
    totals = corpus_grams.groupBy("id").agg(F.count("*").alias("n_ngrams"))
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_hit_ngrams"))
    )
    return hits.join(totals, "id").select(
        "id",
        "n_hit_ngrams",
        "n_ngrams",
        F.round(F.col("n_hit_ngrams") / F.col("n_ngrams"), 4).alias("overlap_frac"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, public
    paper), adapted to single-line docs: per doc,

    - ``top_ngram_frac``: chars covered by all occurrences of the most
      frequent 2-gram / total chars (Gopher's top-2..4-gram
      character fraction), and
    - ``dup_ngram_frac``: chars covered by every 5-gram that
      occurs more than once / total chars (Gopher's duplicate
      5..10-gram character fraction).

    Chars are measured on the whitespace-normalized lowercase text
    (single-space joined tokens) so the measure is layout-invariant.
    Docs shorter than n tokens get 0.0. Pure Catalyst: two n-gram
    groupBys + per-doc max/sum, all shuffles on (id) or (id, g)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.length(F.concat_ws(" ", tokens_col(text_col))).alias("doc_chars"),
    )
    top = (
        _ngram_counts(df, id_col, text_col, 2)
        .groupBy("id")
        .agg(F.max(F.col("cnt") * F.length("g")).alias("top_chars"))
    )
    dup = (
        _ngram_counts(df, id_col, text_col, 5)
        .filter(F.col("cnt") >= 2)
        .groupBy("id")
        .agg(F.sum(F.col("cnt") * F.length("g")).alias("dup_chars"))
    )
    return (
        base.join(top, "id", "left")
        .join(dup, "id", "left")
        .select(
            "id",
            "doc_chars",
            F.coalesce(
                F.round(F.col("top_chars") / F.col("doc_chars"), 4), F.lit(0.0)
            ).alias("top_ngram_frac"),
            F.coalesce(
                F.round(F.col("dup_chars") / F.col("doc_chars"), 4), F.lit(0.0)
            ).alias("dup_ngram_frac"),
        )
    )


# Gopher quality-rule constants (Rae et al. 2021, table A1 — public
# paper): word-count bounds, mean-word-length bounds, symbol-to-word
# ratio, alphabetic-word fraction, and the fixed 8-stopword set.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style document quality RULES (pass/fail flags), distinct
    from :func:`doc_quality`'s raw features: each published threshold
    becomes a boolean column plus an overall ``pass_gopher``.

    Rules (Rae et al. 2021 §A1.1): 50 <= words <= 100,000; 3 <= mean
    word length <= 10; (hash + ellipsis) / words < 0.1; >= 80% of words
    contain an alphabetic character; >= 2 stopwords from the fixed
    8-word set. Pure Catalyst (one projection, no shuffle, no Python);
    array lambdas keep everything inside whole-stage codegen."""
    toks = df.select(F.col(id_col).alias("id"), tokens_col(text_col).alias("toks"))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n = F.size("toks")
    feats = toks.select(
        "id",
        n.alias("n_words"),
        F.round(F.length(F.concat_ws("", F.col("toks"))) / n, 4).alias("mean_word_len"),
        F.round(
            F.size(F.filter("toks", lambda t: t.rlike("[#]|[.]{3}|…"))) / n, 4
        ).alias("symbol_ratio"),
        F.round(F.size(F.filter("toks", lambda t: t.rlike("[A-Za-z]"))) / n, 4).alias(
            "alpha_frac"
        ),
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).alias(
            "n_stop"
        ),
    )
    rules = feats.select(
        "*",
        F.col("n_words").between(50, 100_000).alias("ok_words"),
        F.col("mean_word_len").between(3, 10).alias("ok_word_len"),
        (F.col("symbol_ratio") < 0.1).alias("ok_symbols"),
        (F.col("alpha_frac") >= 0.8).alias("ok_alpha"),
        (F.col("n_stop") >= 2).alias("ok_stop"),
    )
    return rules.select(
        "*",
        (
            F.col("ok_words")
            & F.col("ok_word_len")
            & F.col("ok_symbols")
            & F.col("ok_alpha")
            & F.col("ok_stop")
        ).alias("pass_gopher"),
    )


def duplicate_line_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher repetition RULES, line/paragraph half (Rae et al. 2021
    §A1.2, public paper) — the within-document duplicate-structure
    signals that complement :func:`repetition_stats`'s n-gram char
    fractions and :func:`gopher_rules`'s §A1.1 document rules:

    - ``dup_line_frac``:  lines that repeat an earlier identical line /
      total non-blank lines (threshold 0.30),
    - ``dup_line_char_frac``:  chars of those repeated lines /
      ``length(text)`` (threshold 0.20),
    - ``dup_para_frac`` / ``dup_para_char_frac``:  same over
      ``\\n\\n``-separated paragraphs (0.30 / 0.20).

    "Repeats an earlier occurrence" is exactly
    ``size(arr) - size(array_distinct(arr))`` (array_distinct keeps
    first occurrences), and the char numerator is the joined-length
    difference — so the whole operator is ONE zero-shuffle projection
    of array expressions inside whole-stage codegen: no explode, no
    groupBy, no Python. Blank (whitespace-only) lines/paragraphs are
    excluded from both numerator and denominator, else empty-line runs
    dominate the fractions. Fractions are rounded to 4 before the
    threshold comparisons (flags are functions of the printed values,
    like :func:`gopher_rules`). A doc passes a rule when the fraction
    is <= its threshold; ``pass_dup`` ANDs all four."""

    text_len = F.length(text_col)

    def _dup(arr: Column) -> tuple[Column, Column]:
        kept = F.filter(arr, lambda x: F.length(F.trim(x)) > 0)
        dedup = F.array_distinct(kept)
        n_dup = F.size(kept) - F.size(dedup)
        c_dup = F.length(F.array_join(kept, "")) - F.length(F.array_join(dedup, ""))
        frac = F.coalesce(F.round(n_dup / F.nullif(F.size(kept), F.lit(0)), 4), F.lit(0.0))
        cfrac = F.coalesce(F.round(c_dup / F.nullif(text_len, F.lit(0)), 4), F.lit(0.0))
        return frac, cfrac

    line_frac, line_cfrac = _dup(F.split(text_col, "\n"))
    para_frac, para_cfrac = _dup(F.split(text_col, "\n\n"))
    stats = df.select(
        F.col(id_col).alias("id"),
        line_frac.alias("dup_line_frac"),
        line_cfrac.alias("dup_line_char_frac"),
        para_frac.alias("dup_para_frac"),
        para_cfrac.alias("dup_para_char_frac"),
    )
    return stats.select(
        "*",
        (F.col("dup_line_frac") <= 0.30).alias("ok_dup_line"),
        (F.col("dup_line_char_frac") <= 0.20).alias("ok_dup_line_char"),
        (F.col("dup_para_frac") <= 0.30).alias("ok_dup_para"),
        (F.col("dup_para_char_frac") <= 0.20).alias("ok_dup_para_char"),
        (
            (F.col("dup_line_frac") <= 0.30)
            & (F.col("dup_line_char_frac") <= 0.20)
            & (F.col("dup_para_frac") <= 0.30)
            & (F.col("dup_para_char_frac") <= 0.20)
        ).alias("pass_dup"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style duplicated-line removal (Wenzek et al. 2019, public
    paper): drop every line whose normalized form (lower+trim) appears
    in >= ``min_docs`` DISTINCT documents, then reassemble each
    document's surviving lines in original order.

    Scale shape: explode -> one groupBy(norm) for distinct-doc counts
    (map-side partial agg) -> left_anti join (the duplicated-norm side
    is the small side at corpus scale: only norms over threshold) ->
    one groupBy(id) with an array_sort reassembly (order from DATA
    [pos], not from partitioning). Whitespace-only lines are never
    counted as duplicates. No window functions, no Python.

    Output: (id, clean_text, n_lines, n_removed) — every input doc
    keeps a row even when all its lines are removed (clean_text '')."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("nrm", F.lower(F.trim("line")))
    dup_norms = (
        lines.where(F.col("nrm") != "")
        .groupBy("nrm")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("nrm")
    )
    kept = lines.join(dup_norms, "nrm", "left_anti")
    reassembled = kept.groupBy("id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy("id").agg(F.count("*").alias("n_lines"))
    return totals.join(reassembled, "id", "left").select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_lines",
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("int").alias("n_removed"),
    )


# PII patterns: identical char-class-only regexes compile the same
# under Java regex (Spark) and RE2 (DuckDB) — no lookaround, no \b
# semantics differences (RE2 supports \b as word boundary like Java).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{7,15}"


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing for training corpora: count and redact emails,
    IPv4 addresses, and +international phone numbers (the standard
    pre-training scrub set). Counting precedes redaction; replacement
    order email -> ip -> phone is fixed so overlapping matches resolve
    deterministically. Pure Catalyst (regexp_count/regexp_replace are
    codegen'd JVM regex), one projection, zero shuffle."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PHONE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
            ),
            PII_PHONE,
            "<PHONE>",
        ).alias("redacted"),
    )


def boilerplate_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """jusText-inspired two-pass boilerplate classification (Pomikálek
    2011, public thesis — simplified as documented below): split each
    document into paragraphs on blank lines, classify each paragraph
    context-free by length and stopword density, then let borderline
    paragraphs inherit from their neighbors — the context-sensitive
    pass that makes jusText better than per-paragraph thresholds alone.

    Context-free classes (per paragraph):
    - ``short``    — fewer than 4 tokens,
    - ``good``     — stopword density ≥ 0.32,
    - ``neargood`` — density ≥ 0.17,
    - ``bad``      — otherwise.

    Context-sensitive resolution (the simplification: jusText walks to
    the nearest non-short neighbor on each side; here only the DIRECT
    neighbors vote, which keeps the pass a single lag/lead window —
    one shuffle on the doc key — instead of a per-doc scan):
    ``good``/``bad`` stay; ``short``/``neargood`` become ``good`` iff
    an adjacent paragraph is context-free ``good``, else ``bad``.
    Stopword density uses the fixed 8-word Gopher stopword set
    (GOPHER_STOPWORDS) so the measure is deterministic and
    SQL-replayable; swap in a full language-specific list at
    deployment.

    Returns ``(id, idx, n_words, ctx_free, cls)`` per paragraph.
    Shuffle shape: one explode (no shuffle) + one keyed window on
    ``(id ORDER BY idx)`` — paragraphs of a doc are WIDE not deep, so
    no skew; everything is codegen'd Catalyst."""
    from pyspark.sql import Window

    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\\n{2,}")).alias("idx", "para"),
    )
    toks = F.filter(tokens_col("para"), lambda t: F.length(t) > 0)
    scored = paras.select(
        "id",
        "idx",
        F.size(toks).alias("n_words"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).alias("n_stop"),
    ).withColumn(
        "ctx_free",
        F.when(F.col("n_words") < 4, F.lit("short"))
        .when(F.col("n_stop") / F.col("n_words") >= 0.32, F.lit("good"))
        .when(F.col("n_stop") / F.col("n_words") >= 0.17, F.lit("neargood"))
        .otherwise(F.lit("bad")),
    )
    w = Window.partitionBy("id").orderBy("idx")
    prev_c, next_c = F.lag("ctx_free").over(w), F.lead("ctx_free").over(w)
    return scored.select(
        "id",
        "idx",
        "n_words",
        "ctx_free",
        F.when(F.col("ctx_free").isin("good", "bad"), F.col("ctx_free"))
        .when((prev_c == "good") | (next_c == "good"), F.lit("good"))
        .otherwise(F.lit("bad"))
        .alias("cls"),
    )


# --- unicode/text cleanup (the C4/Dolma-style preprocessing stage) ------

# C0 controls minus tab/newline/CR, plus DEL and the C1 block -- the
# characters every web-text pipeline strips before anything else sees
# the text
_CONTROL_CHARS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"


@F.pandas_udf(T.StringType())
def nfc_normalize_udf(s: pd.Series) -> pd.Series:
    """Unicode NFC normalization (Arrow-batched; Catalyst has no
    normalization builtin -- this is the documented scalar-kernel slow
    path, same tier as the URL canonicalizer). DuckDB replays it with
    ``nfc_normalize`` in the oracle."""
    import unicodedata

    return s.map(lambda x: unicodedata.normalize("NFC", x) if x is not None else None)


def clean_text_col(text: Column) -> Column:
    """Text-cleanup kernel: strip control characters (C0 except
    tab/newline/CR, DEL, C1), collapse horizontal-whitespace runs to
    one space, normalize space around newlines, cap blank-line runs at
    one empty line, trim -- then NFC-normalize (combining sequences
    -> precomposed, the fix for the same grapheme hashing/deduping
    differently by byte form). The regex passes are
    pure Catalyst; only NFC crosses the Arrow boundary."""
    c = F.regexp_replace(text, _CONTROL_CHARS, "")
    c = F.regexp_replace(c, "[ \\t\\u00A0]+", " ")
    c = F.regexp_replace(c, " ?\\r?\\n ?", "\n")
    c = F.regexp_replace(c, "\\n{3,}", "\n\n")
    c = F.trim(c)
    return nfc_normalize_udf(c)


def clean_documents(df: DataFrame) -> DataFrame:
    """(id, text) from (doc_id, text) with the cleanup kernel applied
    -- run BEFORE hashing, dedup, or quality scoring so that
    byte-level noise (controls, NBSP runs, decomposed accents) cannot
    split exact-dup groups or skew token counts."""
    return df.select(
        F.col("doc_id").alias("id"),
        clean_text_col(F.col("text")).alias("text"),
    )
