"""Physical-plan audit: assert the plans we want, not just the results.

Checks (per the scale checklist in the project brief):
- parquet scans carry PushedFilters + pruned ReadSchema where expected
- small sides broadcast (BroadcastHashJoin), big×big goes sort-merge
- anti/semi joins use the right join type
- hot paths are inside WholeStageCodegen

Writes PLANS.md with annotated excerpts. Exits nonzero on violations.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.01"


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _embedding_lsh_probe(spark, sf_dir):
    from sandcrawler_spark.operators.similarity import embedding_near_dups_lsh
    from sandcrawler_spark.queries.battery import _t

    return embedding_near_dups_lsh(_t(spark, sf_dir, "embeddings"), tau=0.9)


def _pq_search_probe(spark, sf_dir):
    from pyspark.sql import functions as F

    from sandcrawler_spark.operators.similarity import pq_encode, pq_search
    from sandcrawler_spark.queries.battery import _t
    from sandcrawler_spark.queries.training import _pq_fixed_books

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_fixed_books()
    return pq_search(emb.filter(F.col("vec_id") < 4), pq_encode(emb, books), books, k=3)


def _pagerank_probe(spark, sf_dir):
    from sandcrawler_spark.operators.linkgraph import pagerank
    from sandcrawler_spark.queries.training import _lg_edges

    return pagerank(_lg_edges(spark, sf_dir), iterations=2, checkpoint=False)


def _bfs_probe(spark, sf_dir):
    from pyspark.sql import functions as F

    from sandcrawler_spark.operators.linkgraph import bfs_depths, graph_nodes
    from sandcrawler_spark.queries.training import _lg_edges

    edges = _lg_edges(spark, sf_dir)
    seeds = graph_nodes(edges).filter(F.col("node") % 10 == 0)
    return bfs_depths(edges, seeds, max_depth=2, early_stop=False, checkpoint=False)


def _hits_probe(spark, sf_dir):
    from sandcrawler_spark.operators.linkgraph import hits
    from sandcrawler_spark.queries.training import _lg_edges

    return hits(_lg_edges(spark, sf_dir), iterations=1, checkpoint=False)


def main() -> int:
    from pyspark.sql import functions as F

    from sandcrawler_spark.queries import QUERIES
    from sandcrawler_spark.session import get_spark

    spark = get_spark("plan-audit", cores=4, shuffle_partitions=4)
    checks: list[tuple[str, str, list[str], list[str]]] = [
        # (name, query_key, must_contain_patterns, must_not_contain)
        ("q1 filter pushdown + pruning", "q1_pricing_summary",
         [r"PushedFilters: \[IsNotNull\(l_shipdate\)", r"l_returnflag"], []),
        ("j1 broadcast join", "j1_broadcast_join",
         [r"BroadcastHashJoin"], []),
        ("j2 big-big join", "j2_sortmerge_join", [r"Join"], []),
        ("j3 anti join", "j3_anti_join", [r"LeftAnti"], []),
        ("j4 semi join", "j4_semi_join", [r"LeftSemi"], []),
        # round 6: w1's top-1 is a min_by aggregation with map-side
        # partial combine (struct-ordered min_by compiles to
        # SortAggregate — the win is the shuffle shrinking to one
        # partial row per (partition, key), not sort removal) — assert
        # the shape and that no window/rank filter snuck back in
        ("w1 min_by top-1 (partial-combined, no window)", "w1_dedup_top1",
         [r"partial_min_by"], [r"Window", r"row_number"]),
        ("minhash: no python UDF in plan", "dd_minhash_lsh",
         [], [r"BatchEvalPython", r"ArrowEvalPython"]),
        ("simhash: no python UDF in plan", "dd_simhash",
         [], [r"BatchEvalPython", r"ArrowEvalPython"]),
        ("ann: broadcast queries, no row-python", "ann_cosine_topk",
         [r"Broadcast"], [r"BatchEvalPython"]),
        # VERDICT r01 #6: the pair-enumeration stages must NOT be
        # row-level cartesian products
        ("simhash pairs: banded, no cross join", "dd_simhash_pairs",
         [], [r"CartesianProduct"]),
        ("embedding near-dup: blocked GEMM, no row cartesian", "dd_embedding_neardup",
         [r"MapInPandas"], [r"CartesianProduct"]),
        ("minhash: signature build not exploded", "dd_minhash_lsh",
         [], [r"CartesianProduct"]),
        ("ivf search: cell equi-join probe path", "ann_ivf_search",
         [r"Join"], [r"CartesianProduct"]),
        # SRP-LSH near-dup scale path (no battery entry — approximate):
        # candidates must come from a band equi-join, never a cartesian
        ("embedding LSH: banded equi-join, no cartesian", _embedding_lsh_probe,
         [r"Join"], [r"CartesianProduct", r"BroadcastNestedLoop"]),
        # round-3 pure-Catalyst text/media operators: whole plan stays
        # JVM-side (regexp_count / replace-count / hex-prefix when-chain)
        ("bpe token counting: no python, codegen", "txt_tokens",
         [r"\[codegen id :"], [r"BatchEvalPython", r"ArrowEvalPython"]),
        # (AQE wraps the agg pre-execution, so codegen ids aren't
        # printed; the claims that matter: map-side partial agg, one
        # shuffle, scan pruned to `text`, no Python, no explode)
        ("trigram lang-id: no python, no explode", "txt_langid_ngram",
         [r"HashAggregate", r"ReadSchema: struct<text:string>"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"Generate"]),
        ("container sniff: no python, codegen", "med_sniff",
         [r"\[codegen id :"], [r"BatchEvalPython", r"ArrowEvalPython"]),
        # PQ/ADC search: queries + codebooks ride the closure, the codes
        # scan stays linear — NO join of any kind in the plan, and the
        # only Python is the Arrow-batched LUT kernel (MapInPandas)
        ("pq search: join-free linear codes scan", _pq_search_probe,
         [r"MapInPandas"],
         [r"Join", r"CartesianProduct", r"BatchEvalPython"]),
        # audio windowing: the 1→N segment fan-out happens INSIDE the
        # Arrow batch (MapInPandas) — no Generate/explode, no shuffle
        # before downstream filters can prune, no row-Python
        ("audio segmentation: in-batch fan-out, no explode/shuffle",
         "med_audio_segments",
         [r"MapInPandas"],
         [r"Generate", r"Exchange", r"BatchEvalPython"]),
        # temporal operators: as-of is union + window carry (NO join of
        # any kind on the plain path would be ideal, but the bucketed
        # battery variant uses one equi-join for the carry-in — what
        # matters is no nested-loop/cartesian and no Python anywhere
        ("as-of join: window carry, no nested loop, no python",
         "aj_asof_join",
         [r"Window"],
         [r"CartesianProduct", r"BroadcastNestedLoop",
          r"BatchEvalPython", r"ArrowEvalPython"]),
        ("interval join: bucket equi-join, no nested loop, no python",
         "iv_interval_join",
         [r"Join"],
         [r"CartesianProduct", r"BroadcastNestedLoop",
          r"BatchEvalPython", r"ArrowEvalPython"]),
        # token-chunk packing: two-phase cumsum + bounded sequence
        # fan-out — pure Catalyst, no applyInPandas
        ("token-chunk packing: catalyst-only, no pandas groups",
         "pack_token_chunks",
         [r"Window", r"Generate"],
         [r"FlatMapGroupsInPandas", r"BatchEvalPython", r"ArrowEvalPython",
          r"CartesianProduct"]),
        # curation: hash sampling is a pure scan+filter (no shuffle, no
        # python); stratified/pack ride the two-phase range rank (windows
        # are per-__pid, never a single-task global window)
        ("hash sample: shuffle-free pure filter", "smp_hash_sample",
         [r"Scan parquet"],
         [r"Exchange", r"BatchEvalPython", r"ArrowEvalPython"]),
        ("stratified sample: range-ranked, no python", "smp_stratified",
         [r"(?i)rangepartitioning"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        ("mixture weights: partial agg + broadcast totals", "mix_domain_weights",
         [r"HashAggregate", r"Broadcast"],
         [r"BatchEvalPython", r"ArrowEvalPython"]),
        ("lpt pack: range-ranked, no python", "pack_shards_lpt",
         [r"(?i)rangepartitioning"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        ("ffd pack: arrow-batched per-shard groups", "pack_ffd_twoclass",
         [r"FlatMapGroupsInPandas"], [r"BatchEvalPython", r"CartesianProduct"]),
        # robots: Arrow parse is per-HOST (tiny side); the per-URL
        # decision join must broadcast the rules and stay row-Python-free
        ("robots decision: broadcast rules, no row python", "rb_longest_match",
         [r"BroadcastHashJoin"], [r"BatchEvalPython", r"CartesianProduct"]),
        # text-cleaning stage: gopher/pii are pure projections (no
        # shuffle, no python); line dedup is agg+anti-join, python-free
        ("gopher rules: pure projection, no python", "txt_gopher_rules",
         [r"\[codegen id :"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"Exchange"]),
        ("pii redact: pure projection, no python", "txt_pii_redact",
         [r"\[codegen id :"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"Exchange"]),
        ("line dedup: agg + anti-join, no python", "txt_line_dedup",
         [r"Aggregate", r"LeftAnti"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # standalone URL-seen: a throwaway sharded bloom built and
        # probed executor-side via grouped Arrow (never row-Python,
        # never a bitmap collect), and the confirm stage is a real
        # anti-join
        ("bloom anti-join: cogrouped probe + exact confirm", "cf_anti_join",
         [r"FlatMapCoGroupsInPandas", r"LeftAnti"],
         [r"BatchEvalPython", r"CartesianProduct"]),
        # ES weighted sample: top-k must be TakeOrderedAndProject
        # (per-partition top-k + k-row merge), not a global sort
        ("weighted sample: top-k, no global sort", "smp_weighted",
         [r"TakeOrderedAndProject"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"Exchange rangepartitioning"]),
        # link graph: pure DataFrame joins+aggs, never python, never a
        # cartesian; anchor top-k is a single keyed window.  pagerank is
        # probed with checkpoint=False — localCheckpoint (the production
        # default, needed for lineage truncation) collapses the visible
        # plan to Scan ExistingRDD, hiding the iteration shape
        ("pagerank: joins+aggs only, no python", _pagerank_probe,
         [r"HashAggregate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        ("indegree citation: broadcast max, no python", "lg_indegree",
         [r"Broadcast"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        ("anchor top-k: keyed window, no python", "lg_anchor_topk",
         [r"Window"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # HITS: per-half-step L1 normalization is a scalar agg broadcast
        # back as a 1-row frame (BroadcastNestedLoopJoin over 1 row),
        # NEVER a single-partition global window or a cartesian blowup
        ("hits: joins+aggs, broadcast normalization, no python", _hits_probe,
         [r"HashAggregate", r"Broadcast"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"Window \[", ]),
        # BM25/tf-idf: postings = explode + map-side-combined groupBy;
        # corpus stats broadcast; per-key top-k is a keyed window
        ("bm25: keyed window top-k, broadcast stats, no python", "ir_bm25_topk",
         [r"Window", r"Broadcast", r"Generate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        ("tfidf: keyed window top-k, no python", "ir_tfidf_terms",
         [r"Window", r"Generate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # sitemap/feed parse: regexp block-extract + transform +
        # explode, all JVM-side
        ("sitemap parse: pure catalyst, no python", "src_sitemap_entries",
         [r"Generate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        ("feed parse: pure catalyst, no python", "src_feed_entries",
         [r"Generate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # unigram NLL: postings + term-count join + broadcast totals
        ("unigram nll: term join + broadcast totals, no python",
         "txt_unigram_nll",
         [r"HashAggregate", r"Broadcast"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # semdedup: within-cell equi-join pairs, broadcast centroids
        ("semdedup: cell equi-join pairs, no cartesian", "dd_semdedup",
         [r"Join"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # mixture sampler: broadcast rate table onto one filter pass
        ("mixture sample: broadcast rates, no python", "smp_mixture_sample",
         [r"Broadcast"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # mirror hosts: hash equi-join intersections, never a cartesian
        ("mirror hosts: hash equi-join, no cartesian", "dd_mirror_hosts",
         [r"Join"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # interleave stats: keyed lag window, order from data
        ("interleave stats: keyed window, no python", "sp_interleave_stats",
         [r"Window"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # substring spans: anchor equi-join + keyed window merge —
        # never python, never a cartesian
        ("substring spans: anchor join + keyed window, no python",
         "dd_substring_spans",
         [r"Window", r"Generate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # composed curation: dedup agg + hash join-back + rule
        # projection, one plan, no python
        ("curation pipeline: agg + join-back, no python", "pipe_curation",
         [r"HashAggregate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # BFS discovery depth: each level is equi-join + distinct +
        # anti-join vs visited (the crawl round's dedup shape); probed
        # with checkpoint=False — localCheckpoint collapses the visible
        # plan to Scan ExistingRDD, hiding the per-level shape
        ("bfs depth: per-level anti-join, no python", _bfs_probe,
         [r"LeftAnti"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # change-rate estimation: ONE keyed lag window + one partial
        # aggregable groupBy(url); the decision-time max broadcasts back
        # as a 1-row frame — never python, never a cartesian
        ("change rate: keyed window + agg, no python", "fr_change_rate",
         [r"Window", r"HashAggregate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # DSIR: token explode → bucket agg → broadcast log-ratio table
        # back onto the token stream → per-doc partial-agg sum
        ("dsir: explode + broadcast ratios, no python", "cu_dsir_score",
         [r"Generate", r"HashAggregate", r"Broadcast"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # metadata quality gate: pure scan+filter+projection — the
        # prefix/suffix folds are single aggregate() higher-order
        # expressions, so no shuffle, no python, no expression blowup
        ("biblio metadata filter: pure projection, no python",
         "bib_metadata_filter",
         [r"Scan parquet"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"Exchange",
          r"CartesianProduct"]),
        # fileset ingest: URL grammar is parse_url/split column logic
        # (codegen), manifest rollup is one map-side-combinable
        # HashAggregate, summary joins requests on base_url — no
        # python, no cartesian anywhere
        ("fileset ingest: catalyst grammar + one rollup, no python",
         "fs_dataset_ingest",
         [r"HashAggregate", r"Join"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop"]),
        # crossref refs prep: filter + one keyed window for the
        # per-work cap; the only python is the Arrow-batched unescape
        # (never row-at-a-time BatchEvalPython), no cartesian
        ("crossref refs prep: keyed window cap, arrow-only python",
         "bib_crossref_refs",
         [r"Window"],
         [r"BatchEvalPython", r"CartesianProduct", r"BroadcastNestedLoop"]),
        # TEI parse: one Arrow-batched pandas UDF pass, no shuffle
        ("tei biblio: arrow-batched parse, no shuffle, no row-python",
         "bib_tei_metadata",
         [r"ArrowEvalPython"],
         [r"BatchEvalPython", r"Exchange", r"CartesianProduct"]),
        # incremental MinHash: delta bands equi-join the stored index;
        # corpus re-shingled only behind a semi-join; never a cartesian
        ("minhash incremental probe: equi-joins only, semi-join pushdown",
         "dd_minhash_incr",
         [r"LeftSemi"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop"]),
        # HTML scope classification: regex/when-chain string logic only
        # — one codegen'd projection, no python, no shuffle
        ("html scope: pure codegen projection, no python, no shuffle",
         "sp_html_scope",
         [r"\[codegen id :"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"Exchange",
          r"CartesianProduct"]),
        # incremental SimHash: chunk equi-joins against the stored
        # signature table; XOR verify; never a cartesian
        ("simhash incremental probe: chunk equi-joins, no cartesian",
         "dd_simhash_incr",
         [r"Join"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop"]),
        # monitoring reports: result⋈request equi-join, map-side
        # combinable rollup, top-N via TakeOrderedAndProject (never a
        # global Sort), no python
        ("monitoring broken-domains: equi-join + TakeOrdered, no python",
         "mon_broken_domains",
         [r"TakeOrderedAndProject", r"HashAggregate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop"]),
        # boilerplate: explode + density projection + ONE keyed window
        # — no python, no cartesian, no second shuffle
        ("boilerplate classify: one keyed window, no python",
         "txt_boilerplate",
         [r"Window", r"Generate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop"]),
        # ccnet buckets: per-language percentile agg broadcast back as
        # thresholds — no global sort, no window over the corpus. (The
        # plan's one BroadcastNestedLoop is unigram_nll's 1-row scalar
        # totals crossJoin — constant-size by construction.)
        ("ccnet buckets: broadcast thresholds, no global sort/window",
         "txt_ccnet_buckets",
         [r"BroadcastHashJoin"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"Window",
          r"CartesianProduct"]),
        # intake converters: single-pass scan + explode projections;
        # the only python is the Arrow-batched canonicalizer. groupworks
        # adds its tiny per-slug contagion groups on ONE slug shuffle.
        ("doaj intake: one-pass explode + arrow canon, no row-python",
         "in_doaj_requests",
         [r"Generate"],
         [r"BatchEvalPython", r"CartesianProduct", r"BroadcastNestedLoop"]),
        ("groupworks: slug-grouped contagion, no cartesian",
         "in_groupworks",
         [r"FlatMapGroupsInPandas"],
         [r"BatchEvalPython", r"CartesianProduct", r"BroadcastNestedLoop"]),
        # import prep: grobid release mapping is a pure projection
        # (array transform, no shuffle, no python); manifest is two
        # collect aggs + hash joins; the cdx funnel is equi-joins only
        ("grobid releases: pure projection, no python, no shuffle",
         "im_grobid_releases",
         [r"Scan parquet"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"Exchange",
          r"CartesianProduct"]),
        ("manifest matches: collect aggs + hash joins, no python",
         "im_manifest_matches",
         [r"HashAggregate", r"Join"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop"]),
        ("cdx sha1 resolve: two-tier equi-join funnel, no python",
         "im_cdx_sha1hex",
         [r"Join", r"Generate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop"]),
        # revisit resolution: dt normalization is codegen'd string
        # logic; the one-hop lookup is a keyed equi-join
        ("revisit resolve: catalyst dt-normalize + equi-join, no python",
         "cdx_revisit_resolve",
         [r"Join"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop"]),
        # pdf span producer: the gates (sniff/denylist/length) are
        # catalyst expressions that null the blob before the Arrow
        # boundary — ONE scan, ONE MapInPandas, no union-of-branches
        # (which would re-scan the source once per status), no shuffle
        ("pdf spans: one scan + one arrow pass, no union re-scan",
         "med_pdf_spans",
         [r"MapInPandas"],
         [r"Union", r"BatchEvalPython", r"CartesianProduct",
          r"BroadcastNestedLoop", r"Exchange"]),
        # WARC scan: binaryFile listing → one Arrow parse per file —
        # no shuffle, no row-python, no join anywhere in the scan
        ("warc scan: per-file arrow parse, no shuffle",
         "src_warc_scan",
         [r"MapInPandas"],
         [r"Exchange", r"BatchEvalPython", r"Join", r"CartesianProduct"]),
        # quality classifier inference: features are catalyst
        # split/explode/hash, the weight table is a BROADCAST equi-join
        # onto the feature stream, and the per-doc margin is one
        # partial-aggregable HashAggregate — zero Python anywhere
        ("quality classifier: broadcast weights, no python",
         "cls_quality_score",
         [r"BroadcastHashJoin", r"HashAggregate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"SortMergeJoin",
          r"CartesianProduct"]),
        # fileset verification: equi-joins + per-item aggregates only —
        # the reference's order-sensitive sequential ladder must NOT
        # surface as a window (single-task risk) or any Python
        ("fileset local verify: joins+aggs only, no window, no python",
         "fs_verify_local",
         [r"HashAggregate"],
         [r"Window", r"BatchEvalPython", r"ArrowEvalPython",
          r"CartesianProduct", r"BroadcastNestedLoop"]),
        ("fileset web verify: joins+aggs only, no window, no python",
         "fs_web_fetch",
         [r"HashAggregate"],
         [r"Window", r"BatchEvalPython", r"ArrowEvalPython",
          r"CartesianProduct", r"BroadcastNestedLoop"]),
        # composed rule->model curation: dedup min-agg + gopher gates +
        # classifier margin, still one Python-free plan with the weight
        # table broadcast
        ("quality pipeline: rule+model composition, no python",
         "pipe_curation_quality",
         [r"BroadcastHashJoin", r"HashAggregate"],
         [r"BatchEvalPython", r"ArrowEvalPython", r"CartesianProduct"]),
        # text cleanup: regex passes stay Catalyst; the ONLY Python is
        # the Arrow-batched NFC kernel — no row-python, no shuffle
        ("text cleanup: arrow NFC only, no shuffle, no row python",
         "txt_clean",
         [r"ArrowEvalPython"],
         [r"BatchEvalPython", r"Exchange", r"Join"]),
    ]
    report = ["# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n"]
    failures = []
    for title, key, musts, must_nots in checks:
        df = key(spark, SF) if callable(key) else QUERIES[key](spark, SF)
        plan = fmt(df)
        for pat in musts:
            if not re.search(pat, plan):
                failures.append(f"{title}: missing /{pat}/")
        for pat in must_nots:
            if re.search(pat, plan):
                failures.append(f"{title}: must-not /{pat}/ present")
        head = "\n".join(
            line for line in plan.splitlines()
            if re.search(r"Scan parquet|PushedFilters|Join|Window|WholeStageCodegen \(", line)
        )[:2000]
        key_name = key.__name__ if callable(key) else key
        report.append(f"## {key_name} — {title}\n```\n{head}\n```\n")

    # frontier round: robots join must broadcast; politeness windows present
    from sandcrawler_spark.plans.datagen import gen_frontier
    from sandcrawler_spark.plans.frontier import prepare_seeds, run_round

    import tempfile

    d = tempfile.mkdtemp()
    gen_frontier(d, n_urls=500, n_hosts=20, n_seeds=150, seed=1)
    robots = spark.read.parquet(f"{d}/robots.parquet")
    caps = spark.read.parquet(f"{d}/capture_history.parquet")
    docs = spark.read.parquet(f"{d}/docs.parquet")
    fr = prepare_seeds(spark.read.parquet(f"{d}/seeds.parquet"))
    rr = run_round(spark, fr, None, robots, caps, docs, 0)
    plan = fmt(rr.url_seen_delta)
    if not re.search(r"BroadcastHashJoin", plan):
        failures.append("frontier round: robots join not broadcast")
    if not re.search(r"Window", plan):
        failures.append("frontier round: politeness window missing")
    report.append(
        "## frontier round (url_seen delta)\n```\n"
        + "\n".join(
            line for line in plan.splitlines()
            if re.search(r"Join|Window|ArrowEval|Scan parquet", line)
        )[:2500]
        + "\n```\n"
    )
    report.append(
        "Audit result: " + ("ALL CHECKS PASS" if not failures else "FAILURES: " + "; ".join(failures)) + "\n"
    )
    with open("PLANS.md", "w") as f:
        f.write("\n".join(report))
    print("\n".join(failures) if failures else "ALL CHECKS PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
