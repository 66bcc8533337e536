"""Driver-facing query battery: every operator family from SURVEY.md §2
expressed over the driver's testdata tables, each with a DuckDB oracle.

Conventions (driver contract):
- every computed column is aliased IDENTICALLY in Spark and SQL;
- double aggregates are rounded (2dp for sums, 4-6dp for ratios) so the
  value-hash is stable across engines' fp summation orders;
- LIMIT/top-k queries order by a TOTAL key (explicit tiebreakers);
- DuckDB type quirks are cast away (sum(int) → HUGEINT ⇒ CAST BIGINT).

Query keys are prefixed by the SURVEY §2 operator id they demonstrate
(f=filters, j=joins, a=aggregations, w=windows, o=sorts, u=set-ops,
c=scalar functions, s=sources/streaming, dd=dedup suite, txt=text
analysis, ann=similarity search, med=multimodal plumbing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str, fanout: bool = True) -> DataFrame:
    """Battery table scan, split-aware.

    Parquet scans parallelize at ROW-GROUP granularity, and the bench
    fixtures are single-row-group files — so without intervention every
    scan (and all narrow work above it: regex ladders, Arrow UDFs,
    partial aggregates) runs in ONE task no matter how many cores the
    session has. Production layouts don't have this problem (Iceberg's
    write.target-file-size / proper row-group sizing yield splittable
    scans), so emulate that at the source: when the footer says the
    file cannot feed at least a quarter of the session's partitions AND
    the table is big enough for fan-out to beat the shuffle it costs,
    repartition once right after the scan. No-op on well-laid-out
    inputs; Catalyst still pushes filters/pruning through Repartition.

    ``fanout=False`` opts a query out: when its FIRST operation over
    the table is itself an exchange (a window/groupBy/join whose
    partial stage collapses the data or re-shuffles it anyway), the
    round-robin fan-out is a pure extra pass over the table (the r5
    one-shot bench caught this as a regression cluster — a5/w1/fr/aj).
    ``fanout=True`` (the default) applies the footer heuristics."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not fanout:
        return df
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        # inside the guard: a non-numeric shuffle-partitions value
        # (e.g. "auto" on some platforms) must fall back to the
        # unrepartitioned scan, not raise (ADVICE r5)
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — non-local/odd path: leave as-is
        return df
    # worth-it gate: enough rows OR enough bytes (wide-payload tables
    # like embeddings carry few rows but heavy cells — row count alone
    # left the sf1.0 embeddings scan, and every fold above it, in ONE
    # task). Compressed data size is what the footer knows.
    data_bytes = sum(
        md.row_group(i).total_byte_size for i in range(md.num_row_groups)
    )
    big_enough = md.num_rows >= 50_000 or data_bytes >= 4 << 20
    if big_enough and md.num_row_groups < max(2, par // 4):
        return df.repartition(par)
    return df


# =========================================================== flagship (Q1)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A4/A9 family): the classic pricing summary —
    groupBy 2 keys, 8 aggregates, order by keys."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_FLAGSHIP_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                            AS sum_qty,
       round(sum(l_extendedprice), 2)                                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                    AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)      AS sum_charge,
       round(avg(l_quantity), 4)                                            AS avg_qty,
       round(avg(l_extendedprice), 4)                                       AS avg_price,
       round(avg(l_discount), 4)                                            AS avg_disc,
       count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ===================================================== filters / projections


def f2_status_mime_filter(spark, sf_dir):
    """F2: value+category gate (HTTP-200+mimetype filter shape:
    pig/filter-cdx-pdfs.pig:18-20)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("purchase", "signup") & (F.col("value") > 50))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def f4_regex_filter(spark, sf_dir):
    """F4: regex alternation filter (scholarly-URL heuristic shape:
    pig/filter-cdx-paper-pdfs.pig:24-36) — single Catalyst-compiled rlike."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").rlike("(window|join|filter)"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


def f12_length_filter(spark, sf_dir):
    """F12: length-bound row filters (persist.py:104-107 URL-length gates)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter((F.length("text") >= 200) & (F.length("text") <= 400))
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


def f13_regex_rewrite(spark, sf_dir):
    """F13/C14: regexp_replace projection (arxiv URL rewrite shape,
    ingest_file.py:260-279)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.withColumn("slug", F.regexp_replace(F.lower("p_name"), "[^a-z0-9]+", "-"))
        .groupBy("slug")
        .agg(F.count("*").alias("n"))
    )


# ================================================================= joins


def j1_broadcast_join(spark, sf_dir):
    """J1: big ⋈ small seed-list equi-join → broadcast hash join
    (pig/filter-cdx-join-urls.pig:17-36)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def j2_sortmerge_join(spark, sf_dir):
    """J2: large×large equi-join → sort-merge (pig/join-cdx-sha1.pig:19-42).

    Round 6: the big side is partially aggregated under the join key
    BEFORE the exchange (guide §2.3 "aggregate before you shuffle") —
    count/sum decompose exactly over the per-orderkey groups, and
    o_orderkey is unique in orders, so re-summing the partials after
    the join yields the identical result while the lineitem side
    shuffles one row per orderkey instead of one per line item."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    o = _t(spark, sf_dir, "orders", fanout=False)
    li_pre = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("l_quantity").alias("__qty")
    )
    return (
        li_pre.join(o, li_pre.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("__n").alias("n_items"),
            F.round(F.sum("__qty"), 2).alias("qty"),
        )
    )


def j3_anti_join(spark, sf_dir):
    """J3: left_anti = keep keys NOT in state (CdxBackfillJob.scala:62-67
    'new sha1s only') — customers with no event stream presence."""
    c = _t(spark, sf_dir, "customer", fanout=False)
    ev = _t(spark, sf_dir, "events", fanout=False)
    return (
        c.join(ev, c.c_custkey == ev.user_id, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive"))
    )


def j4_semi_join(spark, sf_dir):
    """U4/J2: left_semi membership join (sha1-digest intersect,
    pig/join-cdx-sha1.pig)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


def j5_fuzzy_slug_join(spark, sf_dir):
    """J5/C8: slug-keyed fuzzy match join scored by Levenshtein
    (Scorable.scala:16-27 + StringUtilities.scala:43-74). Slug = brand;
    pairs of distinct parts within a slug with edit distance ≤ 4."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    l = p.select(
        F.col("p_brand").alias("b"),
        F.col("p_partkey").alias("k1"),
        F.col("p_name").alias("n1"),
    )
    r = p.select(
        F.col("p_brand").alias("b"),
        F.col("p_partkey").alias("k2"),
        F.col("p_name").alias("n2"),
    )
    return (
        l.join(r, "b")
        .filter(F.col("k1") < F.col("k2"))
        .withColumn("dist", F.levenshtein("n1", "n2"))
        .filter(F.col("dist") <= 4)
        .groupBy(F.col("b").alias("p_brand"))
        .agg(F.count("*").alias("n_pairs"), F.round(F.avg("dist"), 4).alias("avg_dist"))
    )


def j7_threeway_join(spark, sf_dir):
    """J7: multi-stage join (ScoreInsertable.scala:52-72) — customer ⋈
    nation ⋈ region, AQE/broadcast picks strategies."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


def j9_left_join_report(spark, sf_dir):
    """J9: result LEFT JOIN request reporting with predicates
    (sql/monitoring_queries.md:7-16)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
        .join(c, o.o_custkey == c.c_custkey, "left")
        .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ============================================================ aggregations


def a1_group_count(spark, sf_dir):
    """A1: group-count (HBaseStatusCountJob.scala:27-31)."""
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n"))


def a2_global_count(spark, sf_dir):
    """A2: global count (pig/hbase-count-rows.pig:13-15)."""
    return _t(spark, sf_dir, "lineitem", fanout=False).agg(F.count("*").alias("n_rows"))


def a3_count_distinct(spark, sf_dir):
    """A3: exact + approx count-distinct (sql/stats/README.md:40-42; the
    approx variant is the 10^10-scale path)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


def a4_topn_counts(spark, sf_dir):
    """A4: top-N group-counts with total-order tiebreak
    (sql/stats/README.md:30-60 'ORDER BY COUNT DESC LIMIT 30')."""
    p = _t(spark, sf_dir, "part", fanout=False)
    return (
        p.groupBy("p_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("p_type"))
        .limit(10)
    )


def a5_cube_rollup(spark, sf_dir):
    """A5: multi-dim CUBE with HAVING (sql/monitoring_queries.md:42-66)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 50)
    )


def a6_regex_extract_agg(spark, sf_dir):
    """A6: regex-extract + aggregate (domain extraction shape,
    sql/monitoring_queries.md:27-31)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k_str", F.regexp_extract("props", '"k": (\\d+)', 1))
        .groupBy("k_str")
        .agg(F.count("*").alias("n"))
    )


def a8_last_wins_dedup(spark, sf_dir):
    """A8: order-sensitive last-wins batch dedup (db.py:186-190) — keep
    each user's LAST event by (ts, event_id), then count by type.

    Round 6: the window row_number (full shuffle + per-key sort of
    every event) is replaced by a ``max_by`` under the same total order
    (ts, event_id) — the frontier's in-batch dedup shape (BENCH.md r2
    optimization log). (ts, event_id) is a total order per user, so the
    selected row is identical; the aggregation partial-combines
    map-side, shuffling one row per (partition, user). (Struct-ordered
    max_by compiles to SortAggregate, so a sort by the GROUP key
    remains — the win is the shuffle volume, not sort removal.)"""
    ev = _t(spark, sf_dir, "events", fanout=False)
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by(
                F.col("event_type"), F.struct(F.col("ts"), F.col("event_id"))
            ).alias("event_type")
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )


def a9_sum(spark, sf_dir):
    """A9: SUM aggregate (sql/stats/README.md:26-28)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return li.agg(
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        ),
    )


# ================================================================ windows


def w1_dedup_top1(spark, sf_dir):
    """W1: one row per key via TOP(1) (pig/filter-cdx-paper-pdfs.pig:38-42)
    — deterministic tiebreak, then re-aggregate.

    Round 6: row_number → ``min_by`` under the identical total order
    mapped into a struct (price DESC → -price ASC; keys (l_orderkey,
    l_linenumber) make it total, prices are positive so fp negation is
    exact). Same selected row per l_partkey; the aggregation
    partial-combines map-side, so the exchange carries one struct per
    (partition, partkey) instead of every line item (struct-ordered
    min_by is a SortAggregate — the group-key sort remains, the
    shuffle volume is the win)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    best = li.groupBy("l_partkey").agg(
        F.min_by(
            F.struct("l_returnflag", "l_extendedprice"),
            F.struct(
                (-F.col("l_extendedprice")).alias("neg_price"),
                F.col("l_orderkey"),
                F.col("l_linenumber"),
            ),
        ).alias("__b")
    )
    return (
        best.select(F.col("__b.l_returnflag").alias("l_returnflag"),
                    F.col("__b.l_extendedprice").alias("l_extendedprice"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("best_sum"))
    )


def w2_best_capture(spark, sf_dir):
    """W2: best-capture selection = top-1 by composite rank tuple
    (ia.py:371-390): per customer pick order by (status='F', price desc,
    date asc, key asc)."""
    o = _t(spark, sf_dir, "orders", fanout=False)
    w = Window.partitionBy("o_custkey").orderBy(
        (F.col("o_orderstatus") == "F").cast("int").desc(),
        F.col("o_totalprice").desc(),
        F.col("o_orderdate").asc(),
        F.col("o_orderkey").asc(),
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("best_order"), "o_orderstatus")
    )


def w3_politeness_topk(spark, sf_dir):
    """W3: per-host budget window (north_rule politeness) — first 3 events
    per user by (ts, event_id)."""
    ev = _t(spark, sf_dir, "events", fanout=False)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )


def w4_multiplicity_cutoff(spark, sf_dir):
    """W4: drop over-multiplicitous keys (slug >10 matches cutoff,
    scripts/filter_scored_matches.py:62-101)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    w = Window.partitionBy("l_orderkey")
    return (
        li.withColumn("k_n", F.count("*").over(w))
        .filter(F.col("k_n") <= 3)
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"))
    )


# ============================================================ sorts / sets


def o1_global_rank(spark, sf_dir):
    """O1: global total-order ranking WITHOUT a single-task window —
    exercises operators/ranking.with_global_rank (Pig ORDER...PARALLEL)."""
    from sandcrawler_spark.operators.ranking import with_global_rank

    # project the two needed columns BEFORE ranking: with_global_rank
    # persists + range-shuffles its input, and the full orders row
    # tripled those bytes for columns the output never uses (guide
    # §2.3 "project before the exchange")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = with_global_rank(
        o,
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        rank_col="rank",
        num_partitions=8,
    )
    return ranked.filter(F.col("rank") < 100).select(
        "rank", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


def u1_distinct(spark, sf_dir):
    """U1: DISTINCT (pig/filter-cdx-join-urls.pig:19)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return li.select("l_returnflag", "l_linestatus").distinct()


def u3_except(spark, sf_dir):
    """U3: EXCEPT via anti-join (MissingColumnDumpJob.scala:36-44) — parts
    never shipped."""
    p = _t(spark, sf_dir, "part", fanout=False)
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return (
        p.select("p_partkey")
        .exceptAll(li.select(F.col("l_partkey").alias("p_partkey")).distinct())
        .agg(F.count("*").alias("n_unshipped"))
    )


# ======================================================== scalar functions


def c5_hashes(spark, sf_dir):
    """C5: content hashing builtins (gen_file_metadata, misc.py:49-81)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("md5hex"),
        F.sha2("text", 256).alias("sha256hex"),
        F.length("text").alias("n_bytes"),
    )


def c6_datetime(spark, sf_dir):
    """C6: CDX-style datetime formatting round-trip (misc.py:245-271)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )


def s2_json_scan(spark, sf_dir):
    """S2/C10: JSON field access over a JSON-string column
    (JsonLinePusher, workers.py:374-409; JSONB access db.py:265)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .withColumn("k_bucket", F.col("k") % 10)
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"))
    )


def a11_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (monitoring-stats family;
    the 10^10-scale variant is approx_percentile — same plan shape)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.avg("l_extendedprice"), 4).alias("mean_price"),
    )


def a10_conditional_pivot(spark, sf_dir):
    """Pivot as conditional aggregation (engine-portable pivot form)."""
    li = _t(spark, sf_dir, "lineitem", fanout=False)
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_o"),
        F.round(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)), 2).alias("qty_f"),
    )


def c13_array_ops(spark, sf_dir):
    """C13: array column ops (hop-list membership/append shape,
    ingest_file.py:640,711-712) — tokenize, slice, rejoin."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), "\\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("first3"),
        F.array_contains(toks, "join").alias("has_join"),
    )


# ========================================================= streaming shapes


def st_tumbling_window(spark, sf_dir):
    """§2.9: tumbling event-time window aggregation (Structured Streaming
    groupBy(window(...)); batch mode produces identical semantics)."""
    ev = _t(spark, sf_dir, "events", fanout=False)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "event_type",
            "n",
            "v",
        )
    )


def st_session_window(spark, sf_dir):
    """§2.9: session windows (30-min gap) per user — session count + sizes.
    Spark: native session_window; oracle: gaps-and-islands."""
    ev = _t(spark, sf_dir, "events", fanout=False)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


_F5_EXTS = ["c", "h", "py", "java", "html", "pdf", "tar.gz", "txt"]
_F5_MIMES = [
    "text/x-c", "text/x-c", "text/plain", "text/plain",
    "text/html", "application/pdf", "application/gzip", "text/plain",
]


def f5_suffix_filter(spark, sf_dir):
    """F5: source-code / tarball suffix filters
    (pig/filter-cdx-source-code-crude.pig:22-30 +
    filter-cdx-tarball.pig:21-34) over a CDX-shaped projection of
    documents: status gate + mimetype rlike + path-suffix rlike, then
    the pig scripts' distinct-by-sha1 top-1 — exercised through the
    dedicated cdx.filter_source_code / filter_tarballs operators."""
    from sandcrawler_spark.sources.cdx import filter_source_code, filter_tarballs

    d = _t(spark, sf_dir, "documents")
    idx = (F.col("doc_id") % 8 + 1).cast("int")
    exts = F.array(*[F.lit(x) for x in _F5_EXTS])
    mimes = F.array(*[F.lit(x) for x in _F5_MIMES])
    cdx = d.select(
        F.concat(
            F.lit("org,example)/"), F.col("source"), F.lit("/file"),
            F.col("doc_id").cast("string"), F.lit("."), F.element_at(exts, idx),
        ).alias("surt"),
        (F.col("doc_id") % 86400 + 20200101000000).cast("string").alias("datetime"),
        F.when(F.col("doc_id") % 7 == 0, 404).otherwise(200).alias("http_status"),
        F.element_at(mimes, idx).alias("mimetype"),
        F.concat(F.lit("sha"), (F.col("doc_id") % 333).cast("string")).alias("sha1b32"),
        F.element_at(exts, idx).alias("ext"),
    )
    out = filter_source_code(cdx).unionByName(filter_tarballs(cdx))
    return out.groupBy("ext").agg(
        F.count("*").alias("n"), F.min("surt").alias("first_surt")
    )


def j6_selfjoin_dedup(spark, sf_dir):
    """J6: self-join work grouping (GroupFatcatWorksJob.scala:23-42 via
    operators.dedup.self_join_matchable): slug = type#size, release =
    partkey, work = brand; selfMatchable pairs scored by the reference's
    ×1000 Levenshtein similarity (Scorable.scala:85-95)."""
    from sandcrawler_spark.operators.dedup import self_join_matchable

    p = _t(spark, sf_dir, "part").select(
        F.concat_ws("#", "p_type", F.col("p_size").cast("string")).alias("slug"),
        F.col("p_partkey").alias("release"),
        F.col("p_brand").alias("work"),
        F.col("p_name").alias("title"),
    )
    pairs = self_join_matchable(p, "slug", "release", "work")
    score = F.floor(
        1000
        * (
            1
            - F.levenshtein("title_1", "title_2")
            / F.greatest(F.length("title_1"), F.length("title_2"))
        )
    ).cast("bigint")
    return (
        pairs.withColumn("score", score)
        .groupBy("slug")
        .agg(
            F.count("*").alias("n_pairs"),
            F.max("score").alias("best_score"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
    )


def c14_fs_sanitize(spark, sf_dir):
    """C14: filesystem-path sanitization (misc.py:303-310) — the
    pure-Catalyst segment fold in functions.paths.sanitize_fs_path_col
    over six adversarial path templates; the oracle states the expected
    normpath output per template independently."""
    from sandcrawler_spark.functions.paths import sanitize_fs_path_col

    d = _t(spark, sf_dir, "documents")
    name = F.concat(F.lit("thing"), F.col("doc_id").cast("string"), F.lit(".png"))
    tmpl = (F.col("doc_id") % 6).cast("int")
    path = (
        F.when(tmpl == 0, F.concat(F.lit("/"), name))
        .when(tmpl == 1, F.concat(F.lit("../../"), name))
        .when(tmpl == 2, name)
        .when(tmpl == 3, F.concat(F.lit("subdir/./"), name))
        .when(tmpl == 4, F.concat(F.lit("a/b/../"), name))
        .otherwise(F.concat(F.lit("x//y/../../z/"), name))
    )
    return (
        d.select(tmpl.alias("tmpl"), sanitize_fs_path_col(path).alias("clean"))
        .groupBy("tmpl")
        .agg(F.count("*").alias("n"), F.min("clean").alias("first_path"))
    )


def c11_urljoin(spark, sf_dir):
    """C11: urljoin resolution (reference ia.py:894 — redirect Location
    — and html_metadata.py:1062-1064 — resource hrefs — both resolved
    unconditionally against the fetch URL). Six ref shapes per doc:
    sibling-relative, root-relative, dot-segment, absolute, a relative
    ref with an embedded ``://`` in its query (must still be joined,
    ADVICE r2), and protocol-relative. The oracle states the resolved
    canonical URL per template independently."""
    from sandcrawler_spark.functions.urlkeys import resolve_url_udf

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("http://h"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.org/a/b/page"),
    )
    tmpl = (F.col("doc_id") % 6).cast("int")
    ref = (
        F.when(tmpl == 0, F.concat(F.lit("img/x"), sid, F.lit(".png")))
        .when(tmpl == 1, F.concat(F.lit("/root/y"), sid))
        .when(tmpl == 2, F.concat(F.lit("../up"), sid))
        .when(tmpl == 3, F.concat(F.lit("http://other.org/abs"), sid))
        .when(tmpl == 4, F.concat(F.lit("page?next=http://x"), sid))
        .otherwise(F.concat(F.lit("//cdn.example.net/z"), sid))
    )
    return d.select(
        "doc_id",
        tmpl.alias("tmpl"),
        resolve_url_udf(base, ref).alias("resolved"),
    )


def rb_longest_match(spark, sf_dir):
    """Robots.txt end-to-end (north rule: "robots.txt caches"): per-host
    robots BODIES are synthesized deterministically, parsed with the
    RFC 9309 Arrow-batched parser (group selection: the `sandcrawler`
    group shadows `User-agent: *`'s Disallow-all), and every URL gets a
    longest-match allow/deny via the set-oriented decision join
    (host equi-join + max(struct(precedence, allow))). Exercises group
    selection, longest-match, and the Allow-overrides-shorter-Disallow
    case; the oracle states the RFC decision per URL independently."""
    from sandcrawler_spark.functions import robots

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    hn = (F.col("doc_id") % 20).cast("string")
    urls = d.select(
        "doc_id",
        F.concat(F.lit("h"), hn, F.lit(".example.org")).alias("host"),
        F.concat(
            F.lit("/d/"),
            (F.col("doc_id") % 40).cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/open/x")).otherwise(F.lit("/x")),
        ).alias("path"),
    )
    bodies = (
        urls.select("host")
        .distinct()
        .select(
            "host",
            F.regexp_extract("host", r"^h(\d+)\.", 1).alias("n"),
        )
        .select(
            "host",
            F.concat(
                F.lit("User-agent: *\nDisallow: /\n"),
                F.lit("User-agent: sandcrawler\nDisallow: /d/"),
                F.col("n"),
                # trailing "/" keeps "/d/2/" from prefix-matching "/d/22/x"
                F.lit("/\nAllow: /d/"),
                F.col("n"),
                F.lit("/open\n"),
            ).alias("robots_txt"),
        )
    )
    rules = robots.explode_rules(bodies, agent="sandcrawler")
    return robots.robots_allowed(urls, rules)


# ============================================== ORACLE SQL (DuckDB) strings

ORACLES: dict[str, str] = {
    "q1_pricing_summary": _FLAGSHIP_SQL,
    "rb_longest_match": """
        SELECT doc_id,
               'h' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS host,
               '/d/' || CAST(doc_id % 40 AS VARCHAR)
                     || CASE WHEN doc_id % 5 = 0 THEN '/open/x' ELSE '/x' END AS path,
               ((doc_id % 40) <> (doc_id % 20)) OR (doc_id % 5 = 0) AS allowed
        FROM documents WHERE doc_id < 2000
    """,
    "c11_urljoin": """
        SELECT doc_id,
               CAST(doc_id % 6 AS INT) AS tmpl,
               CASE doc_id % 6
                 WHEN 0 THEN 'http://h' || CAST(doc_id % 20 AS VARCHAR)
                     || '.example.org/a/b/img/x' || CAST(doc_id AS VARCHAR) || '.png'
                 WHEN 1 THEN 'http://h' || CAST(doc_id % 20 AS VARCHAR)
                     || '.example.org/root/y' || CAST(doc_id AS VARCHAR)
                 WHEN 2 THEN 'http://h' || CAST(doc_id % 20 AS VARCHAR)
                     || '.example.org/a/up' || CAST(doc_id AS VARCHAR)
                 WHEN 3 THEN 'http://other.org/abs' || CAST(doc_id AS VARCHAR)
                 WHEN 4 THEN 'http://h' || CAST(doc_id % 20 AS VARCHAR)
                     || '.example.org/a/b/page?next=http://x' || CAST(doc_id AS VARCHAR)
                 ELSE 'http://cdn.example.net/z' || CAST(doc_id AS VARCHAR)
               END AS resolved
        FROM documents
    """,
    "f5_suffix_filter": """
        WITH cdx AS (
            SELECT 'org,example)/' || source || '/file' || CAST(doc_id AS VARCHAR)
                       || '.' || (['c','h','py','java','html','pdf','tar.gz','txt'])[(doc_id % 8) + 1] AS surt,
                   CAST(doc_id % 86400 + 20200101000000 AS VARCHAR) AS datetime,
                   CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS http_status,
                   (['text/x-c','text/x-c','text/plain','text/plain',
                     'text/html','application/pdf','application/gzip','text/plain'])[(doc_id % 8) + 1] AS mimetype,
                   'sha' || CAST(doc_id % 333 AS VARCHAR) AS sha1b32,
                   (['c','h','py','java','html','pdf','tar.gz','txt'])[(doc_id % 8) + 1] AS ext
            FROM documents),
        src AS (
            SELECT *, row_number() OVER (PARTITION BY sha1b32
                       ORDER BY surt, datetime, http_status, mimetype, ext) AS rn
            FROM cdx
            WHERE http_status = 200 AND regexp_matches(mimetype, '.*text.*')
              AND regexp_matches(surt, '.*\\.(c|h|py|java)$')),
        tar AS (
            SELECT *, row_number() OVER (PARTITION BY sha1b32
                       ORDER BY surt, datetime, http_status, mimetype, ext) AS rn
            FROM cdx
            WHERE http_status = 200
              AND regexp_matches(mimetype, '.*(octet|gzip|gtar|tgz).*')
              AND regexp_matches(surt, '(?i).+\\.tar\\.gz.*')),
        u AS (SELECT ext, surt FROM src WHERE rn = 1
              UNION ALL SELECT ext, surt FROM tar WHERE rn = 1)
        SELECT ext, count(*) AS n, min(surt) AS first_surt FROM u GROUP BY ext
    """,
    "j6_selfjoin_dedup": """
        WITH p AS (
            SELECT p_type || '#' || CAST(p_size AS VARCHAR) AS slug,
                   p_partkey AS release, p_brand AS work, p_name AS title
            FROM part),
        pairs AS (
            SELECT a.slug, a.title AS t1, b.title AS t2
            FROM p a JOIN p b ON a.slug = b.slug
            WHERE a.release IS NOT NULL AND b.release IS NOT NULL
              AND a.release <> b.release
              AND a.work IS NOT NULL AND b.work IS NOT NULL AND a.work > b.work),
        scored AS (
            SELECT slug,
                   CAST(floor(1000 * (1 - CAST(levenshtein(t1, t2) AS DOUBLE)
                        / greatest(length(t1), length(t2)))) AS BIGINT) AS score
            FROM pairs)
        SELECT slug, count(*) AS n_pairs, max(score) AS best_score,
               round(avg(score), 4) AS avg_score
        FROM scored GROUP BY slug
    """,
    "c14_fs_sanitize": """
        WITH t AS (
            SELECT CAST(doc_id % 6 AS INT) AS tmpl,
                   'thing' || CAST(doc_id AS VARCHAR) || '.png' AS name
            FROM documents)
        SELECT tmpl, count(*) AS n,
               min(CASE WHEN tmpl = 3 THEN 'subdir/' || name
                        WHEN tmpl = 4 THEN 'a/' || name
                        WHEN tmpl = 5 THEN 'z/' || name
                        ELSE name END) AS first_path
        FROM t GROUP BY tmpl
    """,
    "f2_status_mime_filter": """
        SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        FROM events WHERE event_type IN ('purchase','signup') AND value > 50
        GROUP BY event_type
    """,
    "f4_regex_filter": """
        SELECT lang, count(*) AS n_docs FROM documents
        WHERE regexp_matches(text, '(window|join|filter)') GROUP BY lang
    """,
    "f12_length_filter": """
        SELECT source, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
        FROM documents WHERE length(text) BETWEEN 200 AND 400 GROUP BY source
    """,
    "f13_regex_rewrite": """
        SELECT regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g') AS slug,
               count(*) AS n
        FROM part GROUP BY 1
    """,
    "j1_broadcast_join": """
        SELECT p_brand, count(*) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
    """,
    "j2_sortmerge_join": """
        SELECT o_orderpriority, count(*) AS n_items, round(sum(l_quantity),2) AS qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "j3_anti_join": """
        SELECT c_mktsegment, count(*) AS n_inactive FROM customer
        WHERE c_custkey NOT IN (SELECT user_id FROM events)
        GROUP BY c_mktsegment
    """,
    "j4_semi_join": """
        SELECT p_brand, count(*) AS n_parts FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem) GROUP BY p_brand
    """,
    "j5_fuzzy_slug_join": """
        SELECT a.p_brand AS p_brand, count(*) AS n_pairs,
               round(avg(levenshtein(a.p_name, b.p_name)), 4) AS avg_dist
        FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
        GROUP BY a.p_brand
    """,
    "j7_threeway_join": """
        SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal),2) AS total_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "j9_left_join_report": """
        SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
               count(*) AS n_orders, round(sum(o_totalprice),2) AS total
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY 1
    """,
    "a1_group_count": "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "a2_global_count": "SELECT count(*) AS n_rows FROM lineitem",
    "a3_count_distinct": """
        SELECT count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        FROM lineitem
    """,
    "a4_topn_counts": """
        SELECT p_type, count(*) AS n FROM part GROUP BY p_type
        ORDER BY n DESC, p_type ASC LIMIT 10
    """,
    "a5_cube_rollup": """
        SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus) HAVING count(*) > 50
    """,
    "a6_regex_extract_agg": """
        SELECT regexp_extract(props, '"k": (\\d+)', 1) AS k_str, count(*) AS n
        FROM events GROUP BY 1
    """,
    "a8_last_wins_dedup": """
        SELECT event_type, count(*) AS n_users FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1 GROUP BY event_type
    """,
    "a9_sum": """
        SELECT round(sum(l_extendedprice),2) AS total_price,
               round(sum(l_extendedprice * (1 - l_discount)),2) AS total_revenue
        FROM lineitem
    """,
    "w1_dedup_top1": """
        SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice),2) AS best_sum
        FROM (
            SELECT *, row_number() OVER (PARTITION BY l_partkey
                ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
            FROM lineitem) WHERE rn = 1 GROUP BY l_returnflag
    """,
    "w2_best_capture": """
        SELECT o_custkey, o_orderkey AS best_order, o_orderstatus FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY (o_orderstatus = 'F')::int DESC, o_totalprice DESC,
                         o_orderdate ASC, o_orderkey ASC) AS rn
            FROM orders) WHERE rn = 1
    """,
    "w3_politeness_topk": """
        SELECT event_type, count(*) AS n, round(sum(value),2) AS v FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC) AS rn
            FROM events) WHERE rn <= 3 GROUP BY event_type
    """,
    "w4_multiplicity_cutoff": """
        SELECT l_linestatus, count(*) AS n FROM (
            SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS k_n FROM lineitem)
        WHERE k_n <= 3 GROUP BY l_linestatus
    """,
    "o1_global_rank": """
        SELECT rank, o_orderkey, round(o_totalprice,2) AS o_totalprice FROM (
            SELECT row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) - 1
                   AS rank, o_orderkey, o_totalprice
            FROM orders) WHERE rank < 100
    """,
    "a11_percentiles": """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
               round(avg(l_extendedprice), 4) AS mean_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "a10_conditional_pivot": """
        SELECT l_returnflag,
               round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END), 2) AS qty_o,
               round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END), 2) AS qty_f
        FROM lineitem GROUP BY l_returnflag
    """,
    "c13_array_ops": """
        SELECT doc_id,
               CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS INT) AS n_tokens,
               array_to_string(regexp_split_to_array(lower(trim(text)), '\\s+')[1:3], ' ') AS first3,
               list_contains(regexp_split_to_array(lower(trim(text)), '\\s+'), 'join') AS has_join
        FROM documents
    """,
    "u1_distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "u3_except": """
        SELECT count(*) AS n_unshipped FROM (
            SELECT p_partkey FROM part
            EXCEPT SELECT DISTINCT l_partkey FROM lineitem)
    """,
    "c5_hashes": """
        SELECT doc_id, md5(text) AS md5hex, sha256(text) AS sha256hex,
               CAST(length(text) AS INTEGER) AS n_bytes
        FROM documents
    """,
    "c6_datetime": """
        SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
               round(sum(value),2) AS v
        FROM events GROUP BY 1
    """,
    "s2_json_scan": """
        SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
               count(*) AS n
        FROM events GROUP BY 1
    """,
    "st_tumbling_window": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type, count(*) AS n, round(sum(value),2) AS v
        FROM events GROUP BY 1, 2
    """,
    "st_session_window": """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL '30 minutes' OR
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events),
        sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged)
        SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events
        FROM sessions GROUP BY user_id, sid
    """,
}

QUERIES = {
    "q1_pricing_summary": flagship,
    "f5_suffix_filter": f5_suffix_filter,
    "j6_selfjoin_dedup": j6_selfjoin_dedup,
    "c14_fs_sanitize": c14_fs_sanitize,
    "f2_status_mime_filter": f2_status_mime_filter,
    "f4_regex_filter": f4_regex_filter,
    "f12_length_filter": f12_length_filter,
    "f13_regex_rewrite": f13_regex_rewrite,
    "j1_broadcast_join": j1_broadcast_join,
    "j2_sortmerge_join": j2_sortmerge_join,
    "j3_anti_join": j3_anti_join,
    "j4_semi_join": j4_semi_join,
    "j5_fuzzy_slug_join": j5_fuzzy_slug_join,
    "j7_threeway_join": j7_threeway_join,
    "j9_left_join_report": j9_left_join_report,
    "a1_group_count": a1_group_count,
    "a2_global_count": a2_global_count,
    "a3_count_distinct": a3_count_distinct,
    "a4_topn_counts": a4_topn_counts,
    "a5_cube_rollup": a5_cube_rollup,
    "a6_regex_extract_agg": a6_regex_extract_agg,
    "a8_last_wins_dedup": a8_last_wins_dedup,
    "a9_sum": a9_sum,
    "w1_dedup_top1": w1_dedup_top1,
    "w2_best_capture": w2_best_capture,
    "w3_politeness_topk": w3_politeness_topk,
    "w4_multiplicity_cutoff": w4_multiplicity_cutoff,
    "a10_conditional_pivot": a10_conditional_pivot,
    "a11_percentiles": a11_percentiles,
    "c13_array_ops": c13_array_ops,
    "o1_global_rank": o1_global_rank,
    "u1_distinct": u1_distinct,
    "u3_except": u3_except,
    "c5_hashes": c5_hashes,
    "c6_datetime": c6_datetime,
    "s2_json_scan": s2_json_scan,
    "st_tumbling_window": st_tumbling_window,
    "st_session_window": st_session_window,
    "c11_urljoin": c11_urljoin,
    "rb_longest_match": rb_longest_match,
}
