"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship document-curation pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data pipeline ops); each takes (spark, sf_dir) and returns a
DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for EVERY query, including
the two non-relational ones: the crawl-engine E2E's oracle inlines the
pure-Python reference-semantics oracle's expected order as a VALUES
relation, and multimodal_decode's oracle re-derives the fake codec's
deterministic metadata arithmetic in SQL (the binary mapInPandas plumbing
is exercised Spark-side but not projected).

Column-name parity: every computed column is aliased identically on both
sides. Numeric parity: aggregates that would be float-order-dependent are
kept in exact integer arithmetic (cents, basis points, integer Jaccard
tests); cosine similarities use left-to-right double summation in both
engines and are rounded to 6 dp.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full document-curation decision over sf0.001 —
    exact-dedup representative AND near-dup (minhash-LSH connected
    component) survivor AND language + quality floors, in one composed
    plan (the post-crawl half of the pipeline; the crawl half is gated by
    tests/test_golden_e2e.py and the crawl_e2e_order oracle)."""
    return q_pipeline_curate(spark, DEFAULT_SF).orderBy("doc_id")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_crawl_canonical_keys(spark, sf_dir):
    """URL canonicalization + md5 seen-key (reference spider/request.go:113-117
    + north_rule canonicalization), through the engine's own pandas UDFs."""
    from crawler_spark.operators.canon import with_canonical

    urls = _t(spark, sf_dir, "orders").select(
        F.concat(
            F.lit("HTTP://Orders.Example.COM:80/o/"),
            F.col("o_orderkey"),
            F.lit("?b=2&a=1#frag"),
        ).alias("url"),
        F.lit("GET").alias("method"),
    )
    return with_canonical(urls, "url").select(
        F.col("url").alias("raw_url"), F.col("curl").alias("curl"), F.col("key").alias("key")
    )


def q_crawl_seen_antijoin(spark, sf_dir):
    """Seen-set dedup as exact anti-join (engine/schedule.go:343-351)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    # seen side = a strict subset (every 3rd order), so the survivor set is
    # non-empty and the gate actually exercises the anti-join semantics
    seen = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.join(seen, "c_custkey", "left_anti").select("c_custkey", "c_name")


def q_crawl_wave_topk(spark, sf_dir):
    """Budgeted top-k per group — the politeness wave pop
    (engine/schedule.go:254-264 priority-FIFO, generalized)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_crawl_round_metrics(spark, sf_dir):
    """Per-round metrics aggregation shape (north_rule fetch metrics)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def q_crawl_priority_order(spark, sf_dir):
    """Deterministic priority-class ordering with total tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderpriority", "o_orderdate", "o_orderkey")
        .limit(50)
        .select("o_orderkey", "o_orderpriority")
    )


def q_crawl_retry_union(spark, sf_dir):
    """Retry-once union semantics (engine/schedule.go:431-447): first
    'attempt' rows unioned with retries, exactly-once per key."""
    ev = _t(spark, sf_dir, "events")
    first = ev.filter(F.col("event_type") == "click").select("event_id", "user_id")
    retry = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first.select("event_id"), "event_id", "left_anti")
        .select("event_id", "user_id")
    )
    return first.withColumn("attempt", F.lit(0)).unionByName(
        retry.withColumn("attempt", F.lit(1))
    )


def q_crawl_proxy_rotation(spark, sf_dir):
    """Round-robin proxy selection (proxy/proxy.go:34-51): proxy =
    urls[i % n], with the atomic counter realized as the row's stable id."""
    o = _t(spark, sf_dir, "orders")
    proxies = ["http://proxy0:8888", "http://proxy1:8888", "http://proxy2:8888"]
    idx = F.pmod(F.col("o_orderkey"), F.lit(len(proxies)))
    proxy = F.element_at(F.array(*[F.lit(p) for p in proxies]), (idx + 1).cast("int"))
    return o.select("o_orderkey", idx.alias("proxy_idx"), proxy.alias("proxy"))


def q_crawl_content_filter(spark, sf_dir):
    """Content-match filter -> emit the matching page id (GetSunRoom
    semantics, parse/doubangroup/group.go:57-71): keep only bodies matching
    a regex, project the identifying column."""
    docs = _t(spark, sf_dir, "documents")
    # 'slow fast' matches a strict subset of the corpus (the sunroom-regex
    # shape with a non-empty result, so the gate has discriminating power)
    return docs.filter(F.regexp_like("text", F.lit(r"(slow fast|sunroom)"))).select(
        "doc_id", "source"
    )


def q_crawl_field_extraction(spark, sf_dir):
    """Named-regex field projection (ParseBookDetail,
    parse/doubanbook/book.go:111-140): first submatch per field, int cast
    for numeric fields (strconv.Atoi analog)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([A-Za-z]+)", 1).alias("first_word"),
        F.regexp_extract("text", r"(\d{1,9})", 1).alias("first_num_s"),
        F.nullif(F.regexp_extract("text", r"(\d{1,9})", 1), F.lit("")).cast("long").alias("first_num"),
    )


def q_crawl_body_validity(spark, sf_dir):
    """Body-length validity filter (engine/schedule.go:364-372): responses
    under the reference's 6000-byte constant are fetch failures."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("body_len"),
        (F.length("text") >= 6000).alias("ok"),
    )


def q_crawl_budget_math(spark, sf_dir):
    """Multi-tier token-bucket admissibility in exact integer arithmetic
    (limiter/limiter.go:16-41 -> textcore.task_budget): per row, admissible =
    min over two tiers of (carry_num + rate*round_s) DIV dur, burst-capped."""
    s = _t(spark, sf_dir, "supplier")
    return s.selectExpr(
        "s_suppkey",
        "LEAST((pmod(CAST(floor(abs(s_acctbal)) AS BIGINT), 180)"
        "       + (pmod(s_suppkey, 20) + 1) * 60) DIV 3,"
        "      (pmod(s_suppkey, 20) + 1) * 40) AS tier1_adm",
        "((pmod(s_suppkey, 7) + 1) * 60) DIV 60 AS tier2_adm",
    ).selectExpr(
        "s_suppkey",
        "tier1_adm",
        "tier2_adm",
        "LEAST(tier1_adm, tier2_adm) AS admissible",
    )


def q_crawl_typed_results(spark, sf_dir):
    """Per-task typed result table: the declared-projection of the map-typed
    results envelope into the rule's ItemFields columns + URL/round envelope
    (storage/sqlstorage/sqlstorage.go:43-61, sqldb/sqldb.go:68-90). Exercises
    missing-key -> NULL and undeclared-key -> dropped semantics."""
    from crawler_spark.operators.typed_results import typed_results
    from crawler_spark.textcore import Rule

    rule = Rule(task="parts", rule="detail", item_fields=("brand", "ptype", "missing"))
    p = _t(spark, sf_dir, "part")
    results = p.select(
        F.lit("parts").alias("task"),
        F.lit("detail").alias("rule"),
        F.concat(F.lit("http://parts.example.com/p/"), F.col("p_partkey")).alias("url"),
        F.lit(1).alias("round"),
        F.map_from_arrays(
            F.array(F.lit("brand"), F.lit("ptype"), F.lit("junk")),
            F.array(F.col("p_brand"), F.col("p_type"), F.col("p_name")),
        ).alias("data"),
    )
    return typed_results(results, rule)


def q_events_json_extract(spark, sf_dir):
    """JSON scalar extraction (reference serializes payloads as JSON,
    storage/sqlstorage/sqlstorage.go:122-137)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k_val")
    )


def q_events_sessionize(spark, sf_dir):
    """Sessionization (gap > 1800s) via lag + running sum — the batch
    analog of the streaming politeness/window state."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.withColumn("pts", F.lag("ts").over(w))
    x = x.withColumn(
        "brk",
        F.when(
            F.col("pts").isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp("pts")) > 1800),
            1,
        ).otherwise(0),
    )
    x = x.withColumn(
        "sess_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return x.groupBy("user_id", "sess_id").agg(F.count("*").alias("n_events"))


def q_events_interval_join(spark, sf_dir):
    """Interval join via day-bin bucketing + refine (no nested loop):
    events inside each user's first-48h activity window."""
    from crawler_spark.pipeline.events import interval_count_join

    return interval_count_join(_t(spark, sf_dir, "events"), hours=48)


def q_events_anomaly(spark, sf_dir):
    """Daily volume spikes per event type vs the exact lower-median
    baseline (2n > 3*med) — integer-exact ops monitoring."""
    from crawler_spark.pipeline.events import daily_anomalies

    return daily_anomalies(_t(spark, sf_dir, "events"))


def q_events_retention(spark, sf_dir):
    """Cohort retention matrix: users active k days after their first
    event, grouped by first-event date."""
    from crawler_spark.pipeline.events import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


def q_events_asof_join(spark, sf_dir):
    """As-of correlation: for each purchase, the most recent strictly-earlier
    click by the same user — single windowed pass, no join explosion."""
    from crawler_spark.pipeline.events import asof_last_before

    return asof_last_before(_t(spark, sf_dir, "events"), "purchase", "click")


def q_agg_pricing_summary(spark, sf_dir):
    """Aggregation pipeline (map-side partials -> final) in exact cents."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("price_cents"),
    )


def q_dedup_exact(spark, sf_dir):
    from crawler_spark.pipeline.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark, sf_dir):
    from crawler_spark.pipeline.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), num_hashes=9, band_size=3)


def q_dedup_clusters(spark, sf_dir):
    """Transitive closure of the LSH pairs -> one survivor per component.
    The step the reference's per-URL visited map never needed (URL identity
    is already an equivalence relation) but content near-dup requires."""
    from crawler_spark.pipeline.dedup import neardup_clusters

    return neardup_clusters(_t(spark, sf_dir, "documents"), num_hashes=9, band_size=3)


def q_dedup_simhash(spark, sf_dir):
    from crawler_spark.pipeline.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from crawler_spark.pipeline.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold_num=1, threshold_den=5,
        max_df=100,
    )


def q_text_lang_id(spark, sf_dir):
    from crawler_spark.pipeline.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_text_quality(spark, sf_dir):
    from crawler_spark.pipeline.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_text_token_counts(spark, sf_dir):
    from crawler_spark.pipeline.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def q_text_fingerprint(spark, sf_dir):
    from crawler_spark.pipeline.textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def q_text_repetition(spark, sf_dir):
    from crawler_spark.pipeline.textstats import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


def q_docs_profile(spark, sf_dir):
    """One-pass data-quality profile of the documents table (null counts,
    distinct counts, string-rendered ranges per column)."""
    from crawler_spark.pipeline.textstats import profile_table

    return profile_table(_t(spark, sf_dir, "documents"))


def q_events_rfm(spark, sf_dir):
    """RFM user segmentation (recency vs corpus max, frequency, cents)
    with log2 buckets — one keyed aggregation, no global sort."""
    from crawler_spark.pipeline.events import rfm_scores

    return rfm_scores(_t(spark, sf_dir, "events"))


def q_events_transitions(spark, sf_dir):
    """First-order Markov transition counts over per-user event streams
    ('^' marks stream start) — the funnel/bot-detection behavior model."""
    from crawler_spark.pipeline.events import transition_counts

    return transition_counts(_t(spark, sf_dir, "events"))


def q_text_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix (actual x predicted with counts) —
    the model-eval rollup of the lang_id heuristic."""
    from crawler_spark.pipeline.textstats import lang_id

    return (
        lang_id(_t(spark, sf_dir, "documents"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def q_events_cube(spark, sf_dir):
    """CUBE grouping sets over (event_type, day): all four granularities
    in one pass with grouping_id disambiguation."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d")
    )
    return ev.cube("event_type", "d").agg(
        F.count("*").cast("long").alias("n"),
        F.grouping_id().cast("int").alias("gid"),
    )


def q_text_cooccurrence(spark, sf_dir):
    """Top-100 co-occurring token pairs (2-token forward window) with an
    integer PMI surrogate — the embedding-training count matrix."""
    from crawler_spark.pipeline.textstats import cooccurrence_topk

    return cooccurrence_topk(_t(spark, sf_dir, "documents"))


def q_text_quality_agreement(spark, sf_dir):
    """2x2 agreement matrix between the model-based and Gopher-rule
    quality detectors — threshold calibration before a corpus-wide cut."""
    from crawler_spark.pipeline.textstats import gopher_rules, quality_model

    docs = _t(spark, sf_dir, "documents")
    qm = quality_model(docs).select("doc_id", F.col("keep").alias("model_keep"))
    gr = gopher_rules(docs).select("doc_id", F.col("keep").alias("gopher_keep"))
    return (
        qm.join(gr, "doc_id")
        .groupBy("model_keep", "gopher_keep")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def q_text_countmin(spark, sf_dir):
    """Count-min sketch (4x1024, md5 hashes) + accuracy probe on the 20
    heaviest tokens: est >= true always, overcount quantified."""
    from crawler_spark.pipeline.textstats import countmin_probe

    return countmin_probe(_t(spark, sf_dir, "documents"))


def q_text_novelty(spark, sf_dir):
    """Per-doc share of corpus-unique shingles in basis points — the
    inverse-boilerplate curation signal."""
    from crawler_spark.pipeline.textstats import novelty_scores

    return novelty_scores(_t(spark, sf_dir, "documents"))


def q_text_bm25_topk(spark, sf_dir):
    """Top-10 docs for the query {spark, hash, window} by integer-exact
    BM25 (k1=1.2, b=0.75 as exact rationals) — retrieval over the corpus."""
    from crawler_spark.pipeline.textstats import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), ("spark", "hash", "window"), k=10
    )


def q_text_tfidf_topterms(spark, sf_dir):
    """Per-doc top-5 keywords by integer-exact TF-IDF (idf = bit-length of
    N/df — engine-portable, no float ranks)."""
    from crawler_spark.pipeline.textstats import tfidf_topterms

    return tfidf_topterms(_t(spark, sf_dir, "documents"), k=5)


def q_text_vocab_topk(spark, sf_dir):
    from crawler_spark.pipeline.textstats import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=20)


def q_text_segment_dedup(spark, sf_dir):
    from crawler_spark.pipeline.textstats import segment_dedup

    return segment_dedup(_t(spark, sf_dir, "documents"), k=10)


def q_text_lm_score(spark, sf_dir):
    from crawler_spark.pipeline.textstats import lm_score

    return lm_score(_t(spark, sf_dir, "documents"))


def q_docs_template_stats(spark, sf_dir):
    from crawler_spark.pipeline.textstats import template_stats

    return template_stats(_t(spark, sf_dir, "documents"), head_k=8, min_df=2)


_MIXTURE_TARGETS = {"en": 400, "fr": 150, "de": 150, "es": 150, "zh": 150}


def q_crawl_robots_parse(spark, sf_dir):
    """Robots.txt ingestion (north_rule politeness source): deterministic
    robots bodies synthesized per nation-host — a googlebot group that must
    be ignored, the '*' group with per-host prefixes, an empty (allow-all)
    Disallow, a trailing comment — parsed to exploded rules."""
    from crawler_spark.operators.robots import parse_robots

    n = _t(spark, sf_dir, "nation")
    host = F.concat(
        F.regexp_replace(F.lower("n_name"), " ", "-"), F.lit(".example.com")
    )
    k = F.col("n_nationkey").cast("int")
    body = F.concat_ws(
        "\n",
        F.concat(F.lit("# robots for "), host),
        F.lit("User-Agent: googlebot"),
        F.lit("Disallow: /secret"),
        F.lit(""),
        F.lit("User-agent: *"),
        F.concat(F.lit("Disallow: /tag/"), k),
        F.when(k % 3 == 0, F.lit("Disallow:")).otherwise(F.lit("Disallow: /tmp")),
        F.concat(F.lit("Crawl-delay: "), (k % 5)),
        F.lit("Disallow: /x # trailing comment"),
    )
    return parse_robots(n.select(host.alias("host"), body.alias("body")))


def q_crawl_sitemap_parse(spark, sf_dir):
    """Sitemap seed-source ingestion: per supplier-host a deterministic
    sitemap body (two url entries with messy whitespace; even hosts also
    carry a sitemap-index child) parsed to exploded (host, kind, loc)."""
    from crawler_spark.operators.sitemap import parse_sitemaps

    s = _t(spark, sf_dir, "supplier")
    host = F.concat(F.lit("s"), F.col("s_suppkey").cast("long"), F.lit(".shop.example"))
    k = F.col("s_suppkey").cast("long")
    body = F.concat_ws(
        "\n",
        F.lit('<?xml version="1.0"?>'),
        F.lit("<urlset>"),
        F.concat(F.lit("<url><loc>https://"), host, F.lit("/p/"), k, F.lit("-1</loc></url>")),
        F.lit("<url>"),
        F.concat(F.lit("<loc> https://"), host, F.lit("/p/"), k, F.lit("-2 </loc>")),
        F.lit("</url>"),
        F.lit("</urlset>"),
        F.when(
            k % 2 == 0,
            F.concat(
                F.lit("<sitemapindex><sitemap><loc>https://"),
                host,
                F.lit("/sitemap-"),
                k,
                F.lit(".xml</loc></sitemap></sitemapindex>"),
            ),
        ).otherwise(F.lit("")),
    )
    return parse_sitemaps(s.select(host.alias("host"), body.alias("body")))


def q_crawl_sitemap_ingest(spark, sf_dir):
    """The complete sitemap-to-frontier ENQUEUE path, composed from the
    engine's own operators: XML sitemap bodies (messy whitespace, upper-
    case hosts, default :443 ports, unsorted query params, fragments)
    -> sitemap_seeds (canonical URL + md5 key, the engine's seed
    contract) -> exact anti-join against the seen set -> lastmod
    freshness priorities joined on the canonical URL. Output = the new
    (curl, key, priority) rows a continuous crawl would append to its
    frontier this round."""
    from crawler_spark.operators.canon import canonical_col
    from crawler_spark.operators.dedup import anti_join_seen
    from crawler_spark.operators.sitemap import sitemap_freshness, sitemap_seeds

    sup = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    host = F.concat(F.lit("s"), k, F.lit(".shop.example"))
    d1 = F.expr("CAST(date_add(DATE'2024-01-01', CAST(s_suppkey % 20 AS INT)) AS STRING)")
    d2 = F.expr("CAST(date_add(DATE'2024-01-01', CAST((s_suppkey * 7) % 20 AS INT)) AS STRING)")
    body = F.concat_ws(
        "\n",
        F.lit("<urlset>"),
        F.concat(
            F.lit("<url><loc> HTTPS://S"), k, F.lit(".Shop.Example:443/p/"),
            k, F.lit("-1?z=2&a=1#f </loc><lastmod>"), d1, F.lit("</lastmod></url>"),
        ),
        F.concat(
            F.lit("<url><loc>https://"), host, F.lit("/p/"), k,
            F.lit("-2</loc><lastmod>"), d2, F.lit("</lastmod></url>"),
        ),
        F.lit("</urlset>"),
    )
    bodies = sup.select(host.alias("host"), body.alias("body"))
    seeds = sitemap_seeds(bodies, task="sitemap", rule="page")
    # every third supplier's first page was already crawled
    seen = sup.filter("s_suppkey % 3 = 0").select(
        F.md5(
            F.concat(
                F.lit("https://s"), k, F.lit(".shop.example/p/"), k,
                F.lit("-1?a=1&z=2"), F.lit("GET"),
            )
        ).alias("key")
    )
    fresh = sitemap_freshness(bodies).select(
        canonical_col("url").alias("curl"), "priority"
    )
    new = anti_join_seen(seeds, seen, "key")
    return new.join(fresh, "curl").select("curl", "key", "priority")


def q_dedup_winnow(spark, sf_dir):
    """MOSS-style winnowed-fingerprint near-dup pairs (code-dedup family)."""
    from crawler_spark.pipeline.dedup import winnow_pairs

    return winnow_pairs(
        _t(spark, sf_dir, "documents"), k=3, w=4, min_shared=2, max_df=100
    )


def q_text_bpe_pairs(spark, sf_dir):
    from crawler_spark.pipeline.textstats import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_n=50)


def q_docs_mixture_weights(spark, sf_dir):
    from crawler_spark.pipeline.assemble import mixture_weights

    return mixture_weights(_t(spark, sf_dir, "documents"), _MIXTURE_TARGETS)


def q_docs_interleave_spans(spark, sf_dir):
    """The north rule's interleaved payload shape (BASELINE.json input_hint)
    materialized deterministically: text chunks + interleaved media refs with
    closed-form offsets, returned exploded (flat columns) for the hash gate."""
    from crawler_spark.pipeline.interleaved import synth_spans

    return synth_spans(_t(spark, sf_dir, "documents"), chunk=5, media_every=2)


def q_docs_interleave_stats(spark, sf_dir):
    from crawler_spark.pipeline.interleaved import interleave_stats

    return interleave_stats(_t(spark, sf_dir, "documents"), chunk=5, media_every=2)


def q_docs_interleave_render(spark, sf_dir):
    from crawler_spark.pipeline.interleaved import render_interleaved

    return render_interleaved(_t(spark, sf_dir, "documents"), chunk=5, media_every=2)


def q_text_quality_model(spark, sf_dir):
    """Hashed-feature linear quality scorer (fasttext-classifier shape) with
    a deterministic hash-derived weight table the oracle re-derives."""
    from crawler_spark.pipeline.textstats import quality_model

    return quality_model(_t(spark, sf_dir, "documents"), threshold_bp=0)


def q_text_ccnet_buckets(spark, sf_dir):
    """CCNet-style per-language head/middle/tail terciles over the integer
    LM fluency score, via histogram rank-math (no per-doc window)."""
    from crawler_spark.pipeline.textstats import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents"))


def q_crawl_trap_templates(spark, sf_dir):
    """Crawl-trap detection: URL-template explosion per host. Synthetic
    frontier from orders — a calendar family (/cal/DATE, trap), a static
    family (/p/PRIORITY, 5 URLs/host, benign), an id family (/item/N/view,
    trap)."""
    from crawler_spark.pipeline.frontier import trap_templates

    o = _t(spark, sf_dir, "orders")
    urls = o.select(
        F.expr(
            "concat('http://h', o_custkey % 20, '.shop.example',"
            " CASE WHEN o_orderkey % 3 = 0 THEN concat('/cal/', o_orderdate)"
            "      WHEN o_orderkey % 3 = 1 THEN concat('/p/', o_orderpriority)"
            "      ELSE concat('/item/', o_orderkey, '/view') END)"
        ).alias("url")
    )
    return trap_templates(urls, min_urls=100)


def q_crawl_refetch_schedule(spark, sf_dir):
    """Adaptive re-fetch scheduling (freshness backoff): events as fetch
    history — user_id is the url, 'purchase' marks a content change."""
    from crawler_spark.pipeline.frontier import refetch_schedule

    ev = _t(spark, sf_dir, "events")
    hist = ev.select(
        F.col("user_id").alias("url_id"),
        F.col("ts"),
        F.col("event_id").alias("fetch_id"),
        (F.col("event_type") == "purchase").alias("changed"),
    )
    return refetch_schedule(hist, base_s=3600, max_doublings=8)


def q_crawl_change_rate(spark, sf_dir):
    """Poisson change-rate estimation per URL (Cho & Garcia-Molina
    bias-reduced estimator) from the same synthesized fetch history as
    crawl_refetch_schedule — λ/day is what a freshness-optimal recrawl
    policy allocates bandwidth by."""
    from crawler_spark.pipeline.frontier import change_rate_estimate

    ev = _t(spark, sf_dir, "events")
    hist = ev.select(
        F.col("user_id").alias("url_id"),
        F.col("ts"),
        F.col("event_id").alias("fetch_id"),
        (F.col("event_type") == "purchase").alias("changed"),
    )
    return change_rate_estimate(hist)


def q_crawl_drain_plan(spark, sf_dir):
    """Politeness-constrained drain plan: rounds-to-empty per host backlog
    and the makespan-critical hosts — total crawl time is the worst
    backlog/budget ratio, not frontier size. Hosts from orders custkeys;
    every third host carries a robots crawl-delay."""
    from crawler_spark.pipeline.frontier import drain_plan

    o = _t(spark, sf_dir, "orders")
    fr = o.select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string")).alias("host")
    )
    delays = spark.range(0, 50, 3).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        (F.col("id") % 7 + 1).cast("long").alias("crawl_delay_s"),
    )
    return drain_plan(fr, delays, round_s=60, default_delay_s=2)


def q_docs_source_scorecard(spark, sf_dir):
    """Per-source curation scorecard (C4-style domain triage): plurality
    language, mean quality signals, boilerplate rate — the table that
    decides which feeds get downweighted or blocklisted."""
    from crawler_spark.pipeline.textstats import source_scorecard

    return source_scorecard(_t(spark, sf_dir, "documents"))


def q_text_kn_bigram(spark, sf_dir):
    """Interpolated Kneser-Ney bigram model (D=3/4, exact quarters over a
    common denominator — integer ppm): the n-gram LM training step whose
    continuation counts fix MLE's zero-probability unseen bigrams."""
    from crawler_spark.pipeline.textstats import kn_bigram

    return kn_bigram(_t(spark, sf_dir, "documents"))


def q_crawl_revisit_bandwidth(spark, sf_dir):
    """Per-host revisit capacity plan from the same synthesized fetch
    history as crawl_change_rate: evidence-based intervals (exact
    integer mean_interval / p-hat, clamped) rolled up to fetches/day —
    the feasibility check against the politeness budget."""
    from crawler_spark.pipeline.frontier import revisit_bandwidth

    ev = _t(spark, sf_dir, "events")
    hist = ev.select(
        F.col("user_id").alias("url_id"),
        F.col("ts"),
        F.col("event_id").alias("fetch_id"),
        (F.col("event_type") == "purchase").alias("changed"),
    )
    hosts = ev.select(F.col("user_id").alias("url_id")).distinct().select(
        "url_id",
        F.concat(F.lit("h"), (F.col("url_id") % 20).cast("string")).alias("host"),
    )
    return revisit_bandwidth(hist, hosts)


def q_crawl_budget_from_revisit(spark, sf_dir):
    """The recrawl family driven INTO the wave budget (VERDICT r3
    next-round item 5): evidence-based revisit capacity
    (revisit_bandwidth over the synthesized fetch history, liberal
    change definition so the intervals land in-range) prorated to a
    day-granularity macro-round by revisit_budget_per_round — exactly
    what CrawlEngine(revisit_plan=...) consumes — and min'd against the
    politeness budget of a synthesized per-host crawl-delay ladder.
    Both sides bind somewhere: the fixture's h0/h7/h14 are
    revisit-limited, the rest politeness-limited. The engine E2E for the
    same min() is tests/test_revisit_budget.py."""
    from crawler_spark.pipeline.frontier import revisit_bandwidth

    ev = _t(spark, sf_dir, "events")
    hist = ev.select(
        F.col("user_id").alias("url_id"),
        F.col("ts"),
        F.col("event_id").alias("fetch_id"),
        F.col("event_type").isin("purchase", "view", "click").alias("changed"),
    )
    hosts = ev.select(F.col("user_id").alias("url_id")).distinct().select(
        "url_id",
        F.concat(F.lit("h"), (F.col("url_id") % 20).cast("string")).alias("host"),
    )
    plan = revisit_bandwidth(hist, hosts)
    # every derived column is a row-wise function of plan's own columns:
    # revisit_budget_per_round's proration (same max(1, fpd*round_s div
    # 86400) formula — the engine path uses that operator; this query
    # inlines it so all columns come out of ONE projection) and the
    # politeness ladder compose with no joins, and the expensive
    # revisit_bandwidth aggregation runs once (a join-per-column version
    # recomputes it per branch and shuffles twice for nothing)
    return plan.select(
        "host",
        "fetches_per_day",
        F.greatest(
            F.lit(1), F.expr("fetches_per_day * 86400 div 86400")
        ).cast("long").alias("revisit_budget"),
        F.expr(
            "CAST(86400 div ((CAST(substring(host, 2) AS INT) % 7 + 1) * 7200)"
            " AS BIGINT)"
        ).alias("politeness_budget"),
        F.least(
            F.greatest(F.lit(1), F.expr("fetches_per_day * 86400 div 86400")),
            F.expr(
                "CAST(86400 div ((CAST(substring(host, 2) AS INT) % 7 + 1)"
                " * 7200) AS BIGINT)"
            ),
        ).cast("long").alias("budget_per_round"),
    )


def q_crawl_bloom_audit(spark, sf_dir):
    """Bloom sizing audit: measured FPR of the double-hashing scheme
    (relational simulation — bit set as a DISTINCT position relation)."""
    from crawler_spark.pipeline.frontier import bloom_fpr_audit

    o = _t(spark, sf_dir, "orders")
    build = o.select(F.concat(F.lit("b"), F.col("o_orderkey").cast("string")).alias("key"))
    probe = o.select(F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("key"))
    return bloom_fpr_audit(build, probe, m_bits=1 << 18, k_hashes=5)


def q_crawl_cuckoo_audit(spark, sf_dir):
    """Cuckoo-filter sizing audit (round 5 — the cuckoo side of the
    survey's "bloom/cuckoo" URL-seen design space): EXACT measured FPR
    of a partial-key cuckoo filter (8-bit fingerprints, 2^14 XOR-linked
    buckets) over disjoint build/probe key sets. Exactness rests on the
    partial-key property (probe visibility is placement-independent —
    frontier.cuckoo_fpr_audit docstring); the oracle replays the same
    md5 hash arithmetic relationally."""
    from crawler_spark.pipeline.frontier import cuckoo_fpr_audit

    o = _t(spark, sf_dir, "orders")
    build = o.select(F.concat(F.lit("b"), F.col("o_orderkey").cast("string")).alias("key"))
    probe = o.select(F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("key"))
    return cuckoo_fpr_audit(build, probe, m_buckets=1 << 14, f_bits=8)


def q_crawl_redirects(spark, sf_dir):
    """Redirect-alias resolution by pointer doubling (6 rounds resolve
    chains to 64 hops): synthetic 8-hop alias chains over doc ids."""
    from crawler_spark.pipeline.frontier import resolve_redirects

    d = _t(spark, sf_dir, "documents")
    edges = d.filter(F.col("doc_id") % 8 != 7).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("u"), (F.col("doc_id") + 1).cast("string")).alias("dst"),
    )
    return resolve_redirects(edges)


def q_crawl_snapshot_diff(spark, sf_dir):
    """Added/deleted/changed keys between two frontier snapshots (the
    reference's workNodeDiff, master/master.go:467-486, at table scale):
    per-URL hit counts in the first vs second half of January."""
    from crawler_spark.pipeline.frontier import snapshot_diff

    ev = _t(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://h"),
        (F.col("user_id") % 50).cast("string"),
        F.lit(".example/"),
        F.col("event_type"),
    )
    base = ev.select(url.alias("key"), F.to_date("ts").alias("d"))
    old = (
        base.filter(F.col("d") < F.lit("2024-01-16"))
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("payload"))
    )
    new = (
        base.filter(F.col("d") >= F.lit("2024-01-16"))
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("payload"))
    )
    return snapshot_diff(old, new)


def q_crawl_host_skew(spark, sf_dir):
    """Host-skew report sizing the engine's salting: synthetic skewed
    frontier (half of all URLs collapse onto host h0)."""
    from crawler_spark.pipeline.frontier import host_skew

    o = _t(spark, sf_dir, "orders")
    fr = o.select(
        F.expr(
            "concat('h', CASE WHEN o_orderkey % 10 < 5 THEN 0"
            " ELSE o_orderkey % 10 END)"
        ).alias("host")
    )
    return host_skew(fr, n_parts=32)


def q_docs_caption_pairs(spark, sf_dir):
    """Image-caption candidate mining: each media span paired with its
    adjacent preceding/following text spans in offset order (the alignment
    heuristic interleaved multimodal training pairs are mined with). One
    doc_id-partitioned window, no self-join."""
    from crawler_spark.pipeline.interleaved import caption_pairs

    return caption_pairs(_t(spark, sf_dir, "documents"), chunk=5, media_every=2)


def q_docs_modality_mix(spark, sf_dir):
    """Per-language modality mixture (tokens per media asset, media doc
    share) — closed-form in token counts, never materializes spans."""
    from crawler_spark.pipeline.interleaved import modality_mix

    return modality_mix(_t(spark, sf_dir, "documents"), chunk=5, media_every=2)


def q_docs_span_dedup(spark, sf_dir):
    """Cross-document text-span dedup over the interleaved payload: spans
    repeated across docs are boilerplate to drop while keeping each doc's
    media and unique text."""
    from crawler_spark.pipeline.interleaved import span_dedup

    return span_dedup(
        _t(spark, sf_dir, "documents"), chunk=5, media_every=2, min_df=2
    )


def q_crawl_url_features(spark, sf_dir):
    """Per-URL frontier-prioritizer features (path depth, params, digit
    count, length) — map-side codegen, no shuffle."""
    from crawler_spark.pipeline.frontier import url_features

    o = _t(spark, sf_dir, "orders")
    urls = o.select(
        F.expr(
            "concat('http://h', o_custkey % 20, '.shop.example',"
            " CASE WHEN o_orderkey % 4 = 0"
            "      THEN concat('/a/b/c/item', o_orderkey, '?p=1&q=', o_custkey)"
            "      WHEN o_orderkey % 4 = 1 THEN '/about'"
            "      WHEN o_orderkey % 4 = 2 THEN concat('/item/', o_orderkey)"
            "      ELSE concat('/x?session=', o_orderkey) END)"
        ).alias("url")
    )
    return url_features(urls)


def q_docs_source_stats(spark, sf_dir):
    from crawler_spark.pipeline.textstats import source_stats

    return source_stats(_t(spark, sf_dir, "documents"))


def q_text_pii_scrub(spark, sf_dir):
    from crawler_spark.pipeline.textstats import pii_scrub

    return pii_scrub(_t(spark, sf_dir, "documents"))


def q_docs_length_deciles(spark, sf_dir):
    from crawler_spark.pipeline.textstats import length_deciles

    return length_deciles(_t(spark, sf_dir, "documents"))


def q_text_decontam(spark, sf_dir):
    """Eval-set decontamination: flag training docs sharing 3-gram shingles
    with a held-out slice (doc_id % 53 == 0 stands in for the benchmark
    table; the operator takes any eval DataFrame)."""
    from crawler_spark.pipeline.assemble import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 53 != 0),
        docs.filter(F.col("doc_id") % 53 == 0),
        k=3,
        threshold_bp=500,
    )


def q_docs_priority_sample(spark, sf_dir):
    """Exact-count weighted sampling without replacement (50 per lang,
    heavier docs preferred) — deterministic A-Res surrogate, two-level
    top-k so no stratum ever funnels through one partition."""
    from crawler_spark.pipeline.assemble import priority_sample

    return priority_sample(_t(spark, sf_dir, "documents"), n_per_stratum=50)


def q_docs_stratified_sample(spark, sf_dir):
    """Deterministic per-language keep rates (hash-of-doc_id arithmetic) —
    the reproducible mixture-sampling primitive."""
    from crawler_spark.pipeline.assemble import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        {"en": 2500, "fr": 5000, "de": 5000, "es": 7500, "zh": 10000},
    )


def q_docs_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing: doc -> occupied training-sequence bins
    via a distributed two-level prefix sum (no unpartitioned window)."""
    from crawler_spark.pipeline.assemble import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), capacity=2048)


def _order_supplier_edges(spark, sf_dir):
    """Bidirectional bipartite link graph from lineitem (namespaced node
    ids) — the testdata stand-in for a host link graph."""
    li = _t(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _cosupplier_edges(spark, sf_dir):
    """Co-occurrence graph: suppliers sharing an order (the testdata
    stand-in for hosts sharing in-links — NOT bipartite, so it has
    triangles). Canonical u < v, deduped."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.select("l_orderkey", "l_suppkey").distinct()
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .distinct()
    )


def q_graph_triangles(spark, sf_dir):
    """Per-node exact triangle counts via degree-ordered orientation
    (bounded wedge join — no hub blowup)."""
    from crawler_spark.pipeline.graph import triangles

    return triangles(_cosupplier_edges(spark, sf_dir))


def q_graph_neighbor_jaccard(spark, sf_dir):
    """Co-citation similarity: supplier pairs whose part sets overlap with
    Jaccard >= 17/100 (df-capped inverted index on the shared part —
    the threshold sits in the overlap distribution's discriminating tail)."""
    from crawler_spark.pipeline.graph import neighbor_jaccard

    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return neighbor_jaccard(e, max_deg=100, threshold_num=17, threshold_den=100)


def q_graph_kcore(spark, sf_dir):
    """2-core membership after 4 peel rounds — the dense-nucleus signal
    (spam farms live in high cores, long-tail pages in the fringe)."""
    from crawler_spark.pipeline.graph import kcore_peel

    return kcore_peel(_cosupplier_edges(spark, sf_dir), core_k=2, iters=4)


def q_graph_components_twophase(spark, sf_dir):
    """Connected components by large-star/small-star contraction (Kiveris
    et al.) — O(log n) rounds on any shape, run to the exact fixpoint (so
    the oracle is the true recursive closure, not an iteration count)."""
    from crawler_spark.pipeline.graph import components_twophase

    return components_twophase(_cosupplier_edges(spark, sf_dir))


def q_graph_degrees(spark, sf_dir):
    from crawler_spark.pipeline.graph import degrees

    return degrees(_order_supplier_edges(spark, sf_dir))


def q_graph_pagerank(spark, sf_dir):
    """Exact-integer PageRank (3 iterations) over the link graph — the
    link-mass signal a frontier scheduler turns into host budgets."""
    from crawler_spark.pipeline.graph import pagerank

    return pagerank(_order_supplier_edges(spark, sf_dir), iters=3)


def q_graph_hits(spark, sf_dir):
    """Shift-normalized exact-integer HITS (2 iterations) on the forward
    bipartite graph: orders are hubs, suppliers are authorities."""
    from crawler_spark.pipeline.graph import hits

    li = _t(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return hits(fwd, iters=2)


def q_graph_components(spark, sf_dir):
    """Hash-min connected components (4 rounds) over a sparsified link
    graph: customer->order stars bridged by a 1-in-97 slice of the
    order->supplier edges — the host-community signal a frontier uses to
    spread budget across site clusters."""
    from crawler_spark.pipeline.graph import components

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    stars = o.select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    bridges = li.filter(
        (F.col("l_orderkey") % 97 == 0) & (F.col("l_linenumber") == 1)
    ).select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    fwd = stars.unionByName(bridges)
    und = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return components(und, iters=4)


def q_text_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText document-quality rule signals + keep verdict."""
    from crawler_spark.pipeline.textstats import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"))


def q_docs_span_lang_mix(spark, sf_dir):
    """Per-span language mix over the interleaved payload — the
    code-switching signal doc-level lang-ID averages away."""
    from crawler_spark.pipeline.interleaved import span_lang_mix

    return span_lang_mix(_t(spark, sf_dir, "documents"))


def q_docs_interleave_pack(spark, sf_dir):
    """Span-atomic multimodal sequence packing: text spans cost BPE
    tokens, media spans a fixed 64-visual-token budget; global bin
    assignment via the two-level prefix sum (never a global window)."""
    from crawler_spark.pipeline.interleaved import pack_interleaved

    return pack_interleaved(_t(spark, sf_dir, "documents"), capacity=2048)


def q_docs_media_dedup(spark, sf_dir):
    """Content-hash dedup of media assets across the interleaved corpus
    (pool-of-16 deterministic content stand-in)."""
    from crawler_spark.pipeline.interleaved import media_dedup

    return media_dedup(_t(spark, sf_dir, "documents"))


def q_crawl_rank_budget(spark, sf_dir):
    """Link mass feeding the frontier: PageRank (2 exact-integer
    iterations) over the order-supplier graph becomes a per-supplier
    politeness budget (1 + rank/quarter-scale, capped at 8), which pops
    that many orders per supplier — the graph->scheduler composition a
    rank-aware crawler runs every refresh cycle. All keyed exchanges
    (rank join + per-supplier row_number window over candidates)."""
    from pyspark.sql import Window

    from crawler_spark.pipeline.graph import RANK_SCALE, pagerank

    ranks = pagerank(_order_supplier_edges(spark, sf_dir), iters=2)
    q = RANK_SCALE // 4
    budgets = ranks.filter(F.col("node").startswith("s:")).select(
        "node",
        (F.lit(1) + F.least(F.lit(7), F.expr(f"rank DIV {q}")))
        .cast("long")
        .alias("budget"),
    )
    cand = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("node"),
            F.col("l_orderkey").cast("long").alias("orderkey"),
        )
        .distinct()
    )
    w = Window.partitionBy("node").orderBy("orderkey")
    return (
        cand.join(budgets, "node")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= F.col("budget"))
        .select("node", "orderkey", "rn", "budget")
    )


def q_events_funnel(spark, sf_dir):
    """Strictly-ordered view->click->purchase funnel per user: two stacked
    O(1)-state window passes over one user-keyed sort, no self-joins."""
    from crawler_spark.pipeline.events import funnel

    return funnel(_t(spark, sf_dir, "events"))


def q_text_inverted_index(spark, sf_dir):
    """Bounded inverted index: df/cf per term, posting lists only for
    terms under the df cap (hot stopword-class terms flagged, not
    materialized)."""
    from crawler_spark.pipeline.textstats import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"), max_df=100)


def q_sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance (Jegou PAMI'11):
    per-subspace exact-integer Lloyd codebooks, corpus compressed to m
    codes, query = distance-table lookup + sum — the third classic ANN
    family next to LSH and IVF, and the memory-bandwidth play at 10^10
    vectors (the hot scan touches m ints per candidate, not 64 floats)."""
    from crawler_spark.pipeline.similarity import pq_topk

    return pq_topk(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2],
        m=4, k_codes=4, iters=2, topk=5,
    )


def q_sim_ann_multiprobe(spark, sf_dir):
    """Multi-probe LSH (Lv et al. VLDB'07): the query probes its home
    bucket plus every Hamming-1 bucket of the ONE table (p+1 probes)
    instead of building T independent tables — the index-memory/recall
    trade production LSH deployments use. Same exact-cosine rerank and
    rank contract as sim_ann_lsh."""
    from crawler_spark.pipeline.similarity import ann_topk_multiprobe

    return ann_topk_multiprobe(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=10, n_planes=8
    )


def q_sim_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ composite (Faiss IVFPQ shape; Jegou PAMI'11 SecV): IVF's
    coarse cells prune the scan to nprobe probed cells, PQ codes + a
    broadcast ADC table price what remains — the production
    billion-scale layout, composed from the two already-gated halves
    (sim_ann_ivf's cell/probe fragment + sim_ann_pq's codebook/ADC
    fragment, both unchanged in the oracle). Round-4 addition following
    the measured index-selection table in SCALE.md (IVF prunes compute,
    PQ compresses memory; the composite buys both)."""
    from crawler_spark.pipeline.similarity import ivf_pq_topk

    return ivf_pq_topk(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4],
        nprobe=2, m=4, k_codes=4, iters=2, topk=10,
    )


def q_sim_ann_ivf_pq_residual(spark, sf_dir):
    """TEXTBOOK residual IVFPQ (Jegou PAMI'11 SecV-A, the Faiss IVFPQ
    layout): PQ codebooks trained on r = x - c(cell(x)) instead of raw
    vectors — the coarse step explains between-cell variance so the
    sub-codebooks spend their bits on the tighter residual distribution;
    the ADC table is per (query, probed cell). Integer-exact residuals
    (coarse centroids are quantized corpus vectors)."""
    from crawler_spark.pipeline.similarity import ivf_pq_residual_topk

    return ivf_pq_residual_topk(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4],
        nprobe=2, m=4, k_codes=4, iters=2, topk=10,
    )


def q_sim_pq_recall(spark, sf_dir):
    """Measured recall@5 of PQ ADC vs exact L2 top-5 on the same
    quantized vectors — completes the ANN index-selection table next to
    sim_ann_recall (LSH) and sim_ivf_recall."""
    from crawler_spark.pipeline.similarity import pq_recall

    return pq_recall(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2],
        m=4, k_codes=4, iters=2, topk=5,
    )


def q_sim_kmeans(spark, sf_dir):
    """Exact-integer Lloyd k-means (k=4, 2 iterations, deterministic
    lowest-id seeds) — the reproducible corpus-bucketing step."""
    from crawler_spark.pipeline.similarity import kmeans_quantized

    return kmeans_quantized(_t(spark, sf_dir, "embeddings"), k=4, iters=2)


def q_sim_pair_histogram(spark, sf_dir):
    """Cosine histogram of LSH same-bucket candidate pairs (20 bins) —
    the near-dup cosine-threshold tuning diagnostic."""
    from crawler_spark.pipeline.similarity import pair_cosine_histogram

    return pair_cosine_histogram(_t(spark, sf_dir, "embeddings"))


def q_sim_lsh_bucket_stats(spark, sf_dir):
    """Bucket-size skew diagnostic per LSH table — the ops-health query
    that tells you when a table needs more planes or multi-probe: bucket
    count, max bucket size, and max/avg skew in integer bp. Two keyed
    aggregations over the bucket index, no joins."""
    from crawler_spark.pipeline.similarity import lsh_buckets_multitable

    b = lsh_buckets_multitable(_t(spark, sf_dir, "embeddings"), n_tables=4)
    per = b.groupBy(F.col("table").alias("tbl"), "bucket").agg(
        F.count("*").alias("sz")
    )
    return per.groupBy("tbl").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("sz").cast("long").alias("n_vecs"),
        F.max("sz").cast("long").alias("max_sz"),
        F.expr("CAST(1000 * max(sz) * count(*) DIV sum(sz) AS BIGINT)").alias(
            "skew_bp"
        ),
    )


def q_sim_ann_recall(spark, sf_dir):
    """Measured recall@10 of single-table LSH ANN vs exact cosine top-10 —
    the quality number that justifies the bucketed index."""
    from crawler_spark.pipeline.similarity import ann_recall

    return ann_recall(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    )


def q_sim_ivf_recall(spark, sf_dir):
    """Measured recall@10 of the IVF index (nprobe=2) vs exact cosine —
    the nprobe-tuning number."""
    from crawler_spark.pipeline.similarity import ivf_recall

    return ivf_recall(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10, nprobe=2
    )


def q_pipeline_assemble(spark, sf_dir):
    """Composed assembly decision: stratified sample -> eval-set
    decontamination -> GPT-style sequence packing, one declarative plan."""
    from crawler_spark.pipeline.assemble import assemble_export

    return assemble_export(
        _t(spark, sf_dir, "documents"),
        {"en": 2500, "fr": 5000, "de": 5000, "es": 7500, "zh": 10000},
        capacity=2048,
    )


def q_docs_shard_assign(spark, sf_dir):
    """Deterministic export-shard manifest (shard + within-shard position
    from a reproducible hash shuffle)."""
    from crawler_spark.pipeline.assemble import shard_assign

    return shard_assign(_t(spark, sf_dir, "documents"), n_shards=8)


def q_dedup_agreement(spark, sf_dir):
    """2x2 agreement matrix between the exact-hash and 64-bit simhash dup
    detectors — the threshold-tuning diagnostic."""
    from crawler_spark.pipeline.dedup import dedup_agreement

    return dedup_agreement(_t(spark, sf_dir, "documents"))


def q_dedup_simhash_pairs(spark, sf_dir):
    """Manku-style simhash near-dup pairs (Hamming <= 3 via 4-band
    pigeonhole + exact popcount verify) — WWW'07 web-crawl dedup."""
    from crawler_spark.pipeline.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(_t(spark, sf_dir, "documents"))


def q_dedup_survivorship(spark, sf_dir):
    """Near-dup clusters with a QUALITY-picked survivor (stop_bp,
    n_tokens, min-id tiebreak) instead of min-id — the curation policy."""
    from crawler_spark.pipeline.dedup import survivorship

    return survivorship(_t(spark, sf_dir, "documents"), num_hashes=9, band_size=3)


def q_dedup_incremental(spark, sf_dir):
    """Delta-vs-index dedup: every 10th doc is 'today's batch', the rest
    is the historical corpus — verdict + matched index doc per new doc."""
    from crawler_spark.pipeline.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    return incremental_dedup(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
        num_hashes=9,
        band_size=3,
    )


def q_dedup_containment(spark, sf_dir):
    """Directional shingle containment (|A∩B|/|A| >= 4/5): the asymmetric
    dup family Jaccard dilutes away (quotes, partial scrapes)."""
    from crawler_spark.pipeline.dedup import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"))


def q_dedup_lsh_quality(spark, sf_dir):
    """Confusion matrix of MinHash-LSH candidate pairs vs exact Jaccard
    truth (>= 1/5) — the banding-parameter tuning diagnostic."""
    from crawler_spark.pipeline.dedup import lsh_pair_quality

    return lsh_pair_quality(_t(spark, sf_dir, "documents"), num_hashes=9, band_size=3)


def q_docs_curriculum(spark, sf_dir):
    """Quality-annealed epoch schedule: epochs 0..E-2 hash-permute the
    full corpus, the final epoch restricts to the top-25%-by-quality
    docs (exact integer rank, no global window) — the "end on your
    cleanest data" phase of modern pretraining mixes."""
    from crawler_spark.pipeline.assemble import curriculum_order

    return curriculum_order(
        _t(spark, sf_dir, "documents"), n_epochs=3, final_clean_bp=2500
    )


def q_docs_epoch_order(spark, sf_dir):
    """Reproducible per-epoch training order (3 epochs x 8 shards):
    coordination-free reshuffle, each epoch an independent hash
    permutation."""
    from crawler_spark.pipeline.assemble import epoch_order

    return epoch_order(_t(spark, sf_dir, "documents"), n_epochs=3, n_shards=8)


def q_docs_dsir_weights(spark, sf_dir):
    """DSIR-style hashed-unigram importance weights (exact-integer
    likelihood ratio in bp): target = the corpus's English slice, raw =
    the whole corpus."""
    from crawler_spark.pipeline.assemble import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.where(F.col("lang") == "en"), n_buckets=4096)


def q_agg_pricing_rollup(spark, sf_dir):
    """Grouping-sets aggregate (ROLLUP over returnflag, linestatus) with
    grouping_id — the subtotal/total OLAP surface in one pass; Spark plans
    one Expand + one partial->final aggregation, never G separate scans."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("qty_cents"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select("l_returnflag", "l_linestatus", "n_rows", "qty_cents", "gid")
    )


def q_docs_dataset_card(spark, sf_dir):
    from crawler_spark.pipeline.assemble import dataset_card

    return dataset_card(_t(spark, sf_dir, "documents"))


def q_sim_cosine_topk(spark, sf_dir):
    from crawler_spark.pipeline.similarity import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10)


def q_sim_embedding_neardup(spark, sf_dir):
    from crawler_spark.pipeline.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), max_id=100, sim_threshold=0.35
    )


def q_sim_ann_lsh(spark, sf_dir):
    from crawler_spark.pipeline.similarity import ann_topk

    return ann_topk(_t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10)


def q_sim_ann_multitable(spark, sf_dir):
    """Multi-table LSH ANN — the production recall fix over single-table
    sign-LSH (one p-plane table finds a neighbor with prob (1-theta/pi)^p;
    T independent tables lift recall to 1-(1-r^p)^T while every per-table
    bucket stays ~N/2^p). Reference has no ANN surface; this is the
    training-data-pipeline extension."""
    from crawler_spark.pipeline.similarity import ann_topk_multitable

    return ann_topk_multitable(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10, n_tables=4
    )


def q_sim_embedding_clusters(spark, sf_dir):
    """Embedding-cosine near-dup families closed into components, one
    min-id survivor each — the dedup DECISION the pairs query feeds."""
    from crawler_spark.pipeline.similarity import embedding_neardup_clusters

    return embedding_neardup_clusters(
        _t(spark, sf_dir, "embeddings"), max_id=200, sim_threshold=0.3
    )


def q_sim_ann_ivf(spark, sf_dir):
    """IVF-cell ANN — the second standard ANN family next to LSH (coarse
    quantize to sampled centroids, probe the query's nprobe nearest cells).
    Reference has no ANN surface; training-data-pipeline extension."""
    from crawler_spark.pipeline.similarity import ivf_topk

    return ivf_topk(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3, 4], k=10, nprobe=2
    )


def q_multimodal_decode(spark, sf_dir):
    """Binary-column decode plumbing (deterministic fake codec; real decode
    stubbed — no image libs in this container)."""
    from crawler_spark.pipeline.multimodal import decode_assets, synth_assets

    docs = _t(spark, sf_dir, "documents")
    refs = docs.select(
        F.concat(F.lit("img://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias(
            "media_ref"
        )
    )
    assets = synth_assets(spark, refs)
    return decode_assets(assets, fake=True).select(
        "asset_id", "media_ref", "width", "height", "n_bytes", "ok"
    )


def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling plumbing through the driver gate: one asset row in,
    n_frames rows out via mapInPandas (the video-frame shape). The frame
    payload hash is dropped from the gated projection (the fake codec's
    sha1-over-binary has no DuckDB analog); the 1->N row explosion,
    ordinals, and timestamps are what the oracle checks exactly."""
    from crawler_spark.pipeline.multimodal import sample_frames, synth_assets

    docs = _t(spark, sf_dir, "documents")
    refs = docs.select(
        F.concat(F.lit("img://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias(
            "media_ref"
        )
    )
    assets = synth_assets(spark, refs)
    return sample_frames(assets, every_ms=1000, n_frames=3).select(
        "asset_id", "frame_idx", "t_ms"
    )


def q_multimodal_assemble(spark, sf_dir):
    """Multimodal training-record assembly: the interleaved documents'
    media spans fetch+decode their assets (fake codec, real mapInPandas
    plumbing) and the decoded metadata joins back per document — the
    spans->assets->record composition a multimodal packing stage runs."""
    from crawler_spark.pipeline.interleaved import synth_spans
    from crawler_spark.pipeline.multimodal import decode_assets, synth_assets

    docs = _t(spark, sf_dir, "documents")
    media = synth_spans(docs, chunk=5, media_every=2).filter(
        F.col("kind") == "media"
    )
    decoded = decode_assets(
        synth_assets(spark, media.select("media_ref")), fake=True
    )
    per = (
        media.join(decoded, "media_ref")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_media"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("width").alias("max_width"),
        )
    )
    return (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_media", F.lit(0)).cast("long").alias("n_media"),
            F.coalesce("n_ok", F.lit(0)).cast("long").alias("n_ok"),
            F.coalesce("total_bytes", F.lit(0)).cast("long").alias("total_bytes"),
            F.coalesce("max_width", F.lit(0)).cast("int").alias("max_width"),
        )
    )


def q_pipeline_curate(spark, sf_dir):
    """The end-to-end training-data curation decision in ONE plan: a
    document survives iff it is the exact-dedup representative of its
    body, the min-id survivor of its near-dup (minhash-LSH connected
    component) family, language-identified as English, and above length/
    stopword quality floors. This is the composition a 100 TB curation
    job runs — every stage is the already-oracle-checked operator, and
    Catalyst fuses the four signal joins over one documents scan."""
    from crawler_spark.pipeline.dedup import exact_dedup, neardup_clusters
    from crawler_spark.pipeline.textstats import lang_id, quality_score

    docs = _t(spark, sf_dir, "documents")
    ex = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    near = neardup_clusters(docs, num_hashes=9, band_size=3).filter("keep").select("doc_id", "cluster_id")
    lang = lang_id(docs).select("doc_id", "predicted")
    q = quality_score(docs).select("doc_id", "n_tokens", "stop_bp")
    return (
        docs.select("doc_id")
        .join(ex, "doc_id")
        .join(near, "doc_id")
        .join(lang, "doc_id")
        .join(q, "doc_id")
        .filter(
            (F.col("predicted") == "en")
            & (F.col("n_tokens") >= 30)
            & (F.col("stop_bp") >= 40)
        )
        .select("doc_id", "cluster_id", "predicted", "n_tokens", "stop_bp")
    )


def q_pipeline_clean(spark, sf_dir):
    """The END-TO-END curation cascade as ONE plan (VERDICT r3 next-round
    item 2): raw docs -> per-source boilerplate strip -> exact content
    dedup -> minhash-LSH near-dup components -> exact-substring removal
    over the survivors -> Gopher quality gates on the fully-cleaned text
    -> per-source accounting rollup. Stage order is RefinedWeb's
    (filtering, fuzzy dedup, THEN exact-substring removal — substring
    cuts before minhash would make near-identical docs artificially
    unique). The oracle composes the per-stage SQL fragments in the same
    order; substr_n=5 here (vs the standalone query's 8) so the
    substring stage is active on the synthetic corpus, and the Gopher
    prose floors are passed EXPLICITLY at the relaxed 30-word/1-stopword
    test-corpus values (the operator's defaults are the paper's 50/2 —
    the synthetic corpus tops out at stop_hits=1)."""
    from crawler_spark.pipeline.clean import curation_cascade

    return curation_cascade(
        _t(spark, sf_dir, "documents"), substr_n=5,
        min_words=30, min_stop_hits=1,
    )


def q_pipeline_clean_docs(spark, sf_dir):
    """The cascade's EXPORT: the cleaned, deduplicated, quality-gated
    corpus itself (doc_id, source, clean_text, n_words) — what a
    curation run actually ships, where pipeline_clean is the dataset
    card it ships alongside. Same stage parameters and the same per-doc
    flag relation (clean.py _cascade_flags), so the export and the
    rollup cannot disagree; the oracle shares the rollup oracle's
    entire CTE chain with a different final SELECT. Gopher floors at
    the explicit relaxed 30/1 (operator defaults are the paper's 50/2;
    see q_pipeline_clean)."""
    from crawler_spark.pipeline.clean import cleaned_corpus

    return cleaned_corpus(
        _t(spark, sf_dir, "documents"), substr_n=5,
        min_words=30, min_stop_hits=1,
    )


def q_pipeline_clean_bytes(spark, sf_dir):
    """The curation cascade at PAPER FIDELITY for stage 4: RefinedWeb's
    exact-substring pass is Lee et al. ExactSubstr at byte resolution,
    and substr_mode="bytes" runs exactly that (char-40-grams at every
    offset of each dedup survivor, islands cut byte-exactly) in place of
    the shuffle-cheap word-5-gram default the pipeline_clean query pins.
    Same rollup shape, same per-doc flag relation; the oracle swaps one
    CTE stage in the shared cascade chain and recomputes everything
    downstream (Gopher gates now see the byte-cut text)."""
    from crawler_spark.pipeline.clean import curation_cascade

    return curation_cascade(
        _t(spark, sf_dir, "documents"), substr_n=30, substr_mode="bytes",
        min_words=30, min_stop_hits=1,
    )


def q_pipeline_clean_pack(spark, sf_dir):
    """The last mile raw crawl -> training-ready sequences (VERDICT r4
    next-round item 6): the curation cascade's cleaned-corpus export fed
    straight into GPT-style sequence packing — each surviving document
    mapped to the training-sequence bins it occupies when the cleaned
    corpus is concatenated in doc_id order and split every 512 tokens
    (small capacity so bin boundaries are exercised on the sf0.01
    corpus). The export is materialized once (the Iceberg corpus-table
    commit in production) so the per-doc flag relation is computed
    exactly once; the oracle extends the cascade CTE chain with the same
    running-sum prefix the docs_pack_sequences oracle uses."""
    from crawler_spark.pipeline.clean import cleaned_corpus_packed

    return cleaned_corpus_packed(
        _t(spark, sf_dir, "documents"), capacity=512, substr_n=5,
        min_words=30, min_stop_hits=1,
    )


def q_stream_windowed_metrics(spark, sf_dir):
    """Structured Streaming surface through the driver gate: the events
    table becomes a fetch-event firehose (deterministic column mapping),
    read as a file stream with Trigger.AvailableNow through the watermarked
    windowed-metrics pipeline (streaming/metrics.py) into a complete-mode
    memory sink. Complete mode emits every window regardless of the final
    watermark, so the result equals the batch/SQL aggregation exactly —
    the stream/batch parity Structured Streaming guarantees and
    tests/test_streaming.py pins."""
    import tempfile

    from crawler_spark.streaming.metrics import windowed_fetch_metrics

    ev = _t(spark, sf_dir, "events").select(
        # watermarks require TIMESTAMP (LTZ); the parquet roundtrip would
        # otherwise surface the source's TIMESTAMP_NTZ
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_type").alias("task"),
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias("host"),
        (F.col("value") >= 10.0).alias("ok"),
        F.floor(F.col("value") * 100).cast("long").alias("n_bytes"),
        (F.col("event_id") % 1000).cast("int").alias("latency_ms"),
    )
    d = tempfile.mkdtemp(prefix="entry_stream_")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{d}/events")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/events")
    sink = "entry_stream_metrics"
    q = (
        windowed_fetch_metrics(stream, window_s=60, watermark_s=120)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{d}/ckpt")
        .start()
    )
    q.awaitTermination()
    # window bounds as epoch seconds: timestamp values round-trip with
    # engine-specific unit/tz dtypes (ns vs us), epoch longs hash identically
    return spark.table(sink).select(
        F.unix_timestamp("win_start").alias("win_start_s"),
        F.unix_timestamp("win_end").alias("win_end_s"),
        "task", "host", "n_fetches", "n_ok", "n_failed", "sum_bytes",
        "max_latency_ms",
    )


def q_stream_funnel(spark, sf_dir):
    """Stateful streaming funnel through the driver gate: the events table
    becomes a per-user event stream folded into strictly-ordered 3-step
    completion state (streaming/funnel.py, applyInPandasWithState, O(1)
    state per user). One AvailableNow batch == the batch funnel exactly,
    so the DuckDB oracle is the batch funnel SQL."""
    import tempfile

    from crawler_spark.streaming.funnel import streaming_funnel

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type").alias("event_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    d = tempfile.mkdtemp(prefix="entry_funnel_")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{d}/ev")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/ev")
    sink = "entry_stream_funnel"
    q = (
        streaming_funnel(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{d}/ckpt")
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def q_stream_sessionize(spark, sf_dir):
    """Stateful streaming sessionizer through the driver gate: the events
    table becomes a per-user stream folded into gap-based sessions
    (streaming/sessionize.py, applyInPandasWithState, O(1) state per
    user). One AvailableNow batch == the batch sessionizer exactly, so
    the DuckDB oracle is the batch sessionize SQL."""
    import tempfile

    from crawler_spark.streaming.sessionize import streaming_sessionize

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    d = tempfile.mkdtemp(prefix="entry_sessionize_")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{d}/ev")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/ev")
    sink = "entry_stream_sessionize"
    q = (
        streaming_sessionize(stream, gap_s=1800)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{d}/ckpt")
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def q_stream_rate_limit(spark, sf_dir):
    """Stateful streaming politeness limiter through the driver gate: the
    events table becomes a fetch-request firehose, admission-controlled to
    3 requests per host per 600 s tumbling window via
    applyInPandasWithState (streaming/ratelimit.py). Verdicts depend only
    on data order (epoch_s, req_id), so the batch SQL replay in the oracle
    reproduces them exactly."""
    import tempfile

    from crawler_spark.streaming.ratelimit import streaming_rate_limit

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias("host"),
        F.col("event_id").cast("long").alias("req_id"),
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("epoch_s"),
    )
    d = tempfile.mkdtemp(prefix="entry_ratelimit_")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{d}/req")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/req")
    sink = "entry_stream_ratelimit"
    q = (
        streaming_rate_limit(stream, cap=3, window_s=600)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{d}/ckpt")
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def q_stream_dedup(spark, sf_dir):
    """Stateful streaming URL-seen dedup through the driver gate: the
    events table becomes a discovered-URL firehose (md5-keyed), reduced to
    first-ever occurrences by the sharded sorted-run+tail state layout
    (streaming/dedup.py). key = md5(url) makes the emitted row a pure
    function of the key, so the result set equals SELECT DISTINCT
    regardless of micro-batch arrival order — which is the oracle."""
    import tempfile

    from crawler_spark.streaming.dedup import streaming_seen_dedup

    url = F.concat(
        F.lit("https://h"),
        (F.col("user_id") % 50).cast("string"),
        F.lit(".example/"),
        F.col("event_type"),
    )
    ev = _t(spark, sf_dir, "events").select(
        F.md5(url).alias("key"), url.alias("url")
    )
    d = tempfile.mkdtemp(prefix="entry_streamdedup_")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{d}/urls")
    stream = spark.readStream.schema(ev.schema).parquet(f"{d}/urls")
    sink = "entry_stream_dedup"
    q = (
        streaming_seen_dedup(stream, n_shards=16)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{d}/ckpt")
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def q_graph_hostgraph(spark, sf_dir):
    """URL link graph collapsed to the weighted host graph (one keyed
    aggregation; map-side host regexp) — the granularity budgets and
    host-level PageRank live at. Synthetic URL edges from lineitem."""
    from crawler_spark.pipeline.graph import host_graph

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.expr(
            "concat('http://h', l_orderkey % 40, '.example/p/', l_orderkey)"
        ).alias("src_url"),
        F.expr(
            "concat('http://h', l_partkey % 25, '.example/i/', l_partkey)"
        ).alias("dst_url"),
    )
    return host_graph(edges)


def q_graph_reciprocity(spark, sf_dir):
    """Per-node reciprocated-edge fraction (link-farm signal) over a
    directed supplier->supplier graph derived from shared orders with an
    asymmetric direction rule, so reciprocity is non-trivial."""
    from crawler_spark.pipeline.graph import reciprocity

    li = _t(spark, sf_dir, "lineitem")
    s = li.select("l_orderkey", "l_suppkey").distinct()
    a, b = s.alias("a"), s.alias("b")
    # direction: edge u->v when u+v even for u<v pairs, both directions
    # when the order key is divisible by 3 (the reciprocated subset)
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
            F.col("l_orderkey").alias("ok"),
        )
        .filter(
            (F.col("src") < F.col("dst"))
            & ((F.col("src") + F.col("dst")) % 2 == 0)
            | (F.col("ok") % 3 == 0)
        )
        .select("src", "dst")
    )
    return reciprocity(pairs)


def q_stream_hll(spark, sf_dir):
    """Streaming HLL-register fold (applyInPandasWithState, one int of
    state per register) driven end-to-end with an availableNow file
    stream; the sink fold groupBy(register).max IS the sketch's own merge
    operator, and max over ranks is order/batching-independent — so the
    result provably equals the batch register table, which is the oracle."""
    import tempfile

    from crawler_spark.streaming.hll import streaming_hll

    h = (
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    ev = _t(spark, sf_dir, "events").selectExpr(f"{h} AS h")
    d = tempfile.mkdtemp(prefix="entry_streamhll_")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{d}/hashes")
    stream = spark.readStream.schema("h long").parquet(f"{d}/hashes")
    sink = "entry_stream_hll"
    q = (
        streaming_hll(stream, m=256)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{d}/ckpt")
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"SELECT register, CAST(max(max_rank) AS INT) AS max_rank "
        f"FROM {sink} GROUP BY register"
    )


def q_stream_hot_hosts(spark, sf_dir):
    """Streaming hot-key budget alert (applyInPandasWithState, one long
    of state per key): a key emits exactly once, when its cumulative
    count first crosses the threshold. The emitted KEY SET is provably
    batching-independent (totals are sums; >= T doesn't care which batch
    crossed), so it equals the batch GROUP BY ... HAVING oracle; the
    crossing-time count is batch-dependent and is projected away here."""
    import tempfile

    from crawler_spark.streaming.hotkeys import streaming_hot_keys

    ev = _t(spark, sf_dir, "events").selectExpr("CAST(user_id AS STRING) AS key")
    d = tempfile.mkdtemp(prefix="entry_streamhot_")
    ev.coalesce(4).write.mode("overwrite").parquet(f"{d}/keys")
    stream = spark.readStream.schema("key string").parquet(f"{d}/keys")
    sink = "entry_stream_hot"
    q = (
        streaming_hot_keys(stream, threshold=70)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{d}/ckpt")
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT key FROM {sink}")


def q_crawl_e2e_order(spark, sf_dir):
    """Full crawl-engine micro-round E2E on the deterministic fixture
    (2 rounds). SQL-inexpressible (stateful round loop); the exact oracle
    equality gate lives in tests/test_golden_e2e.py."""
    import tempfile

    from crawler_spark.engine import CrawlEngine
    from crawler_spark.fixtures import make_fixture, write_fixture
    from crawler_spark.operators.fetch import GraphFetcher

    fx = make_fixture(n_tags=2, lists_per_tag=2, books_per_list=4, n_topics=12)
    d = tempfile.mkdtemp(prefix="entry_crawl_")
    write_fixture(fx, f"{d}/fx", spark)
    web = spark.read.parquet(f"{d}/fx/web_graph")
    eng = CrawlEngine(
        spark, f"{d}/state", GraphFetcher(web), fx.tasks, fx.rules, fx.robots, fx.round_s
    )
    eng.init_state(spark.read.parquet(f"{d}/fx/seeds"))
    eng.run(max_rounds=2)
    rnd = eng.store.latest_round()
    return eng.store.read_through("order", rnd).select(
        "round", "priority", "seq", "curl"
    )


def q_docs_quantile_sketch(spark, sf_dir):
    """Constant-memory log2-histogram quantile sketch over document length
    — the mergeable profiler primitive that replaces an exact global sort
    at 100 TB (answer within one power of two, <=64 rows of state)."""
    from crawler_spark.pipeline.textstats import quantile_sketch

    return quantile_sketch(_t(spark, sf_dir, "documents"))


def q_text_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLICATION (bpe_pairs is training): ordered merge
    table applied to every word as chained literal replaces over a
    parenthesized symbol rendering — pure codegen, no UDF."""
    from crawler_spark.pipeline.textstats import bpe_encode

    return bpe_encode(_t(spark, sf_dir, "documents"))


def q_text_bpe_train(spark, sf_dir):
    """Full iterative BPE TRAINING loop (6 merges): per-iteration
    weighted-pair argmax + corpus-wide merge over the word-frequency
    vocab relation; returns the ordered merge table. Closes VERDICT r2
    missing-item 5 (bpe_pair_counts was one iteration)."""
    from crawler_spark.pipeline.textstats import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), n_merges=6)


def q_text_bpe_train_batched(spark, sf_dir):
    """BPE training at a production merge count (64) via the BATCHED
    trainer: several provably-order-equivalent merges accepted per
    pair-count scan (strict-dominance walk over the sorted counts — see
    textstats.bpe_train_batched for the exactness argument), so the scan
    count is sub-linear in n_merges (measured 42 scans / 64 merges at
    sf0.01, 2.4x faster than one-argmax-per-scan). The oracle is the same
    unrolled sequential loop — the batching must be invisible in the
    result. Closes VERDICT r3 next-round item 6."""
    from crawler_spark.pipeline.textstats import bpe_train_batched

    return bpe_train_batched(_t(spark, sf_dir, "documents"), n_merges=64)


def q_text_exact_substring_dedup(spark, sf_dir):
    """Exact duplicate-substring REMOVAL (word-8-gram granularity, Lee et
    al. ExactSubstr analog): every non-first corpus-wide occurrence of a
    duplicated 8-gram is cut out of the canonical rendering; overlapping
    cuts merge. The transform counterpart of text_dup_ngram_coverage.
    Closes VERDICT r2 missing-item 6 at n-gram resolution."""
    from crawler_spark.pipeline.textstats import exact_substring_dedup

    return exact_substring_dedup(_t(spark, sf_dir, "documents"), n=8)


def q_text_exact_substring_bytes(spark, sf_dir):
    """Exact duplicate-substring removal at BYTE/character granularity
    (round 5 — closes VERDICT r2/r4 missing-item 6 at full resolution):
    a char-40-gram at EVERY text offset; every non-first corpus-wide
    occurrence of a duplicated gram is cut from the raw text with
    boundaries exact to the character (overlapping cuts merge), the Lee
    et al. ExactSubstr semantics the word-gram variant rounds to word
    boundaries. The oracle regenerates the same every-offset gram
    relation with generate_series + substr and the same keeper/island
    machinery as the word-level oracle."""
    from crawler_spark.pipeline.textstats import exact_substring_dedup_bytes

    return exact_substring_dedup_bytes(_t(spark, sf_dir, "documents"), n=40)


def q_text_exact_substring_winnow(spark, sf_dir):
    """Winnowing-sampled byte-level exact-substring removal (round 5):
    every w=8-offset window selects its (md5-32bit-hash, offset)-argmin
    char-40-gram; only selected spans enter the keeper shuffle (~2/(w+1)
    candidate density), every duplicated run >= n+w-1 still detected and
    interior-cut byte-exactly. The hash is engine-portable (first 8 hex
    chars of md5), so the oracle replays the exact minimizer selection:
    same combined min(h*2^30+offset) window, same keeper/island chain."""
    from crawler_spark.pipeline.textstats import exact_substring_dedup_winnow

    return exact_substring_dedup_winnow(_t(spark, sf_dir, "documents"), n=40, w=8)


def q_text_host_boilerplate(spark, sf_dir):
    """Per-source boilerplate REMOVAL (CCNet line-dedup analog at 10-token
    segment granularity): a segment repeated in >= 30% of a source's docs
    is site chrome and is cut; emits the rebuilt clean_text plus counts.
    The transform counterpart of text_segment_dedup's measurement."""
    from crawler_spark.pipeline.textstats import host_boilerplate_strip

    return host_boilerplate_strip(
        _t(spark, sf_dir, "documents"), k=10, min_share_bp=3000, min_df=2
    )


def q_text_dup_ngram_coverage(spark, sf_dir):
    """Cross-document duplicated 8-gram character coverage (RefinedWeb
    metric; the scalable proxy for suffix-array exact-substring dedup) —
    interval-union island sweep per doc, df-filtered gram semi-join."""
    from crawler_spark.pipeline.textstats import dup_ngram_coverage

    return dup_ngram_coverage(_t(spark, sf_dir, "documents"), n=8)


def q_crawl_anchor_text(spark, sf_dir):
    """Anchor-text aggregation per link target (plurality anchor with
    deterministic tie-break, no window) — the ranking signal a frontier
    prioritizer joins onto candidate URLs. Links synthesized from
    lineitem: order->part edges labeled by returnflag-linestatus."""
    from crawler_spark.pipeline.frontier import anchor_text

    li = _t(spark, sf_dir, "lineitem")
    links = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
        F.lower(
            F.concat(F.col("l_returnflag"), F.lit("-"), F.col("l_linestatus"))
        ).alias("anchor"),
    )
    return anchor_text(links)


_PSL_SUFFIXES = ("example", "co.example", "org.example", "shop.example")


def q_crawl_domain_budget(spark, sf_dir):
    """Registered-domain rollup via public-suffix LONGEST-match (broadcast
    theta-join; publicsuffix.org semantics) + per-registrant politeness
    budget. Synthetic frontier from orders: two-level suffixes, deep
    subdomains sharing a registrant, and a no-match fallback family."""
    from crawler_spark.pipeline.frontier import domain_budget

    o = _t(spark, sf_dir, "orders")
    fr = o.select(
        F.expr(
            "CASE WHEN o_orderkey % 4 = 0"
            "  THEN concat('h', o_custkey % 50, '.co.example')"
            " WHEN o_orderkey % 4 = 1"
            "  THEN concat('w', o_orderkey % 7, '.h', o_custkey % 50, '.co.example')"
            " WHEN o_orderkey % 4 = 2"
            "  THEN concat('h', o_custkey % 30, '.example')"
            " ELSE concat('x', o_custkey % 10, '.other.test') END"
        ).alias("host")
    )
    sfx = spark.createDataFrame([(s,) for s in _PSL_SUFFIXES], "suffix string")
    return domain_budget(fr, sfx, per_host_cap=100)


def q_events_hll_registers(spark, sf_dir):
    """HLL-style register table over event user_ids — the mergeable
    constant-memory distinct-count sketch (per-register max rank as plain
    partial->final max), exact-integer and engine-portable; n_distinct is
    the per-register accuracy probe."""
    from crawler_spark.pipeline.textstats import hll_registers

    return hll_registers(_t(spark, sf_dir, "events"), "user_id", m=256)


def q_sim_semantic_dedup(spark, sf_dir):
    """SemDeDup: cosine >= 0.3 within k-means clusters drops the
    semantically redundant copy (lower-rank survivor kept) — pairwise
    work bounded to N^2/k by the clustering, decisions exact-integer."""
    from crawler_spark.pipeline.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=4, iters=2,
        threshold_num=3, threshold_den=10,
    )


def q_events_lateness(spark, sf_dir):
    """Event-time disorder profile vs a simulated multi-source arrival
    order (deterministic md5 permutation) — the measurement that sizes a
    streaming watermark delay. One sessionize-shaped window per user."""
    from crawler_spark.pipeline.events import lateness_profile

    ev = _t(spark, sf_dir, "events").withColumn(
        "_arr", F.md5(F.col("event_id").cast("string"))
    )
    return lateness_profile(ev, "_arr", late_threshold_s=86400)


def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank from a seed supplier set (suppkey % 11 = 0)
    — the focused-crawl / TrustRank priority signal; unreached nodes stay
    at exactly 0."""
    from crawler_spark.pipeline.graph import ppr

    li = _t(spark, sf_dir, "lineitem")
    seeds = (
        li.filter("l_suppkey % 11 = 0")
        .select(
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("node")
        )
        .distinct()
    )
    return ppr(_order_supplier_edges(spark, sf_dir), seeds, iters=3)


def q_graph_spam_mass(spark, sf_dir):
    """Spam mass (Gyongyi et al. VLDB'06): PageRank minus trust-seeded
    PPR, normalized to equal total mass — the fraction of a node's rank
    not reachable from trusted seeds; the link-farm budget-cut signal."""
    from crawler_spark.pipeline.graph import spam_mass

    li = _t(spark, sf_dir, "lineitem")
    seeds = (
        li.filter("l_suppkey % 11 = 0")
        .select(
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("node")
        )
        .distinct()
    )
    return spam_mass(_order_supplier_edges(spark, sf_dir), seeds, iters=3)


def q_crawl_robots_decision(spark, sf_dir):
    """RFC 9309 robots evaluation: longest allow/disallow match governs,
    Allow wins ties, no match = allowed. Robots bodies with Allow
    carve-outs under a broad Disallow, candidates from orders."""
    from crawler_spark.operators.robots import parse_robots, robots_decision

    n = _t(spark, sf_dir, "nation")
    host = F.concat(
        F.regexp_replace(F.lower("n_name"), " ", "-"), F.lit(".example.com")
    )
    k = F.col("n_nationkey").cast("int")
    body = F.concat_ws(
        "\n",
        F.lit("User-agent: *"),
        F.lit("Disallow: /private/"),
        F.lit("Allow: /private/pub/"),
        F.when(k % 2 == 0, F.lit("Disallow: /")).otherwise(F.lit("")),
        F.lit("Allow: /open"),
    )
    rules = parse_robots(
        n.select(host.alias("host"), body.alias("body")), include_allow=True
    )
    # candidates keyed to the same nation hosts
    nn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("_nk"),
        F.concat(
            F.regexp_replace(F.lower("n_name"), " ", "-"), F.lit(".example.com")
        ).alias("host"),
    )
    cand = (
        _t(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") % 25).cast("int").alias("_nk"),
            F.expr(
                "CASE WHEN o_orderkey % 4 = 0 THEN concat('/private/doc', o_orderkey)"
                " WHEN o_orderkey % 4 = 1 THEN concat('/private/pub/doc', o_orderkey)"
                " WHEN o_orderkey % 4 = 2 THEN concat('/open/page', o_orderkey)"
                " ELSE concat('/free/page', o_orderkey) END"
            ).alias("path"),
        )
        .join(nn, "_nk")
        .select("host", "path")
    )
    return robots_decision(cand, rules)


def q_sim_norm_histogram(spark, sf_dir):
    """log2 histogram of quantized squared embedding norms — the ANN
    index diagnostic (norm spread = IP/cosine divergence; zero spike =
    broken embeddings). Exact integers, <=64 buckets."""
    from crawler_spark.pipeline.similarity import norm_histogram

    return norm_histogram(_t(spark, sf_dir, "embeddings"))


def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup family-size histogram (singletons included, partitions
    the corpus) — the dedup health report."""
    from crawler_spark.pipeline.dedup import cluster_size_histogram

    return cluster_size_histogram(_t(spark, sf_dir, "documents"), num_hashes=9, band_size=3)


def q_events_peak_hour(spark, sf_dir):
    """Hour-of-day volume profile per event type + each type's peak hour
    (deterministic tie-break) — load-shaping telemetry for politeness
    scheduling windows."""
    ev = _t(spark, sf_dir, "events")
    hours = ev.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "HH").alias("hour"),
    ).agg(F.count("*").cast("long").alias("n_events"))
    best = hours.groupBy("event_type").agg(
        F.min(
            F.struct((-F.col("n_events")).alias("_neg"), F.col("hour").alias("_h"))
        ).alias("_b")
    ).select(
        "event_type",
        F.col("_b._h").alias("peak_hour"),
        (-F.col("_b._neg")).cast("long").alias("peak_n"),
    )
    return hours.join(best, "event_type").select(
        "event_type", "hour", "n_events", "peak_hour", "peak_n"
    )


def q_events_type_overlap(spark, sf_dir):
    """Audience-overlap (co-audience Jaccard) between event types — the
    user-keyed self-join is bounded by |types|^2 per user."""
    from crawler_spark.pipeline.events import type_overlap

    return type_overlap(_t(spark, sf_dir, "events"))


def q_crawl_wave_fairness(spark, sf_dir):
    """Jain's fairness index (bp) of a per-host wave allocation — the
    politeness/salting regression alarm. Synthetic skewed allocation from
    orders (same family as crawl_host_skew)."""
    from crawler_spark.pipeline.frontier import wave_fairness

    o = _t(spark, sf_dir, "orders")
    alloc = o.select(
        F.expr(
            "concat('h', CASE WHEN o_orderkey % 10 < 5 THEN 0"
            " ELSE o_orderkey % 10 END)"
        ).alias("host")
    ).groupBy("host").agg(F.count("*").cast("long").alias("n"))
    return wave_fairness(alloc)


def q_crawl_sitemap_freshness(spark, sf_dir):
    """lastmod-driven recrawl priorities from sitemap bodies (log-spaced
    ladder vs the newest lastmod in the batch — no wall clock). Sitemap
    XML synthesized per nation-host from order dates."""
    from crawler_spark.operators.sitemap import sitemap_freshness

    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    host = F.concat(
        F.regexp_replace(F.lower("n_name"), " ", "-"), F.lit(".example.com")
    )
    entries = (
        o.select(
            (F.col("o_custkey") % 25).cast("int").alias("_nk"),
            F.concat(
                F.lit("<url><loc>https://example.com/o/"),
                F.col("o_orderkey"),
                F.lit("</loc><lastmod>"),
                F.col("o_orderdate").cast("string"),
                F.lit("</lastmod></url>"),
            ).alias("e"),
        )
        .groupBy("_nk")
        .agg(F.concat_ws("\n", F.sort_array(F.collect_list("e"))).alias("entries"))
    )
    bodies = entries.join(
        n.select(F.col("n_nationkey").cast("int").alias("_nk"), host.alias("host")),
        "_nk",
    ).select(
        "host",
        F.concat(F.lit("<urlset>\n"), F.col("entries"), F.lit("\n</urlset>")).alias("body"),
    )
    return sitemap_freshness(bodies)


def q_text_readability(spark, sf_dir):
    """Integer Flesch reading-ease (vowel-run syllable proxy, centi-units,
    floor division) — pure map-side codegen quality signal."""
    from crawler_spark.pipeline.textstats import readability

    return readability(_t(spark, sf_dir, "documents"))


def q_events_gap_profile(spark, sf_dir):
    """Per-user inter-event gap profile (min/lower-median/max, exact rank
    math) — the bot/automation detector and empirical politeness floor."""
    from crawler_spark.pipeline.events import gap_profile

    return gap_profile(_t(spark, sf_dir, "events"))


def q_docs_chunking(spark, sf_dir):
    """RAG/embedding chunk prep: overlapping 64-token windows every 48
    tokens, closed-form starts (no window function), chunk ids as md5 —
    text re-sliced downstream instead of duplicated through shuffles."""
    from crawler_spark.pipeline.assemble import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"))


def q_text_fertility(spark, sf_dir):
    """Per-language BPE symbols-per-word (tokenizer fertility) — the
    token-cost table multilingual mixture budgeting reweights by."""
    from crawler_spark.pipeline.assemble import tokenizer_fertility

    return tokenizer_fertility(_t(spark, sf_dir, "documents"))


def q_dedup_band_sweep(spark, sf_dir):
    """Banding-parameter tuning table: the LSH confusion matrix swept
    over (hashes, band_size) configs against one exact-Jaccard truth set
    — precision/recall per config from one result."""
    from crawler_spark.pipeline.dedup import lsh_band_sweep

    return lsh_band_sweep(_t(spark, sf_dir, "documents"))


def q_dedup_cascade(spark, sf_dir):
    """Per-stage dedup cascade accounting: exact content-hash first, then
    minhash-LSH components over the exact survivors — the removal report
    published next to a dataset card. Stage populations are 1-row
    aggregates composed lazily (no collect)."""
    from crawler_spark.pipeline.dedup import dedup_cascade

    return dedup_cascade(_t(spark, sf_dir, "documents"), num_hashes=9, band_size=3)


def q_text_idf_drift(spark, sf_dir):
    """Vocabulary drift between two deterministic corpus halves — the
    distribution-shift monitor run before a new crawl batch joins a
    training mix. One conditional-sum aggregation, no half-vs-half join."""
    from crawler_spark.pipeline.textstats import idf_drift

    return idf_drift(_t(spark, sf_dir, "documents"), min_df=3, top=100)


def q_crawl_canonical_collisions(spark, sf_dir):
    """Canonicalization-as-dedup report: raw URL variants (case, default
    port, query order, fragments) that collapse onto one canonical URL,
    through the engine's own canonicalizer — the dup-family audit a crawl
    runs to quantify how much fetch budget canonicalization saves."""
    from crawler_spark.operators.canon import with_canonical

    o = _t(spark, sf_dir, "orders")
    variants = o.select(
        F.explode(
            F.array(
                F.concat(
                    F.lit("HTTP://Shop.Example.COM:80/i/"),
                    F.col("o_orderkey"), F.lit("?b=2&a=1#frag"),
                ),
                F.concat(
                    F.lit("http://shop.example.com/i/"),
                    F.col("o_orderkey"), F.lit("?a=1&b=2"),
                ),
                # every third order also gets a distinct-query variant that
                # must NOT collapse into the family
                F.when(
                    F.col("o_orderkey") % 3 == 0,
                    F.concat(
                        F.lit("http://shop.example.com/i/"),
                        F.col("o_orderkey"), F.lit("?a=2&b=2"),
                    ),
                ),
            )
        ).alias("url")
    ).filter(F.col("url").isNotNull()).withColumn("method", F.lit("GET"))
    canon = with_canonical(variants, "url")
    return (
        canon.groupBy("curl")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.count_distinct("url").cast("long").alias("n_variants"),
        )
        .filter(F.col("n_variants") >= 2)
    )


# The driver's correctness gate verifies only the FIRST 50 registry
# entries per round (CORRECTNESS_r{N}.json == registry positions 1-50).
# _CHECK_WINDOW therefore front-loads the queries with the LEAST driver
# evidence, then the STALEST. Round-5 window (positions 1-50): the new
# round-5 op, then the final 14 never-driver-verified backlog queries
# (clearing cumulative driver coverage to 167+1/168), then the
# oldest-evidence freshness rotation (3 r1 rows + 32 of the r2 cohort).
# queries() preserves the handwritten order for everything not named
# here. NOTE: only the first 50 window entries are driver-verified —
# entries beyond position 50 are the next rotation's queue, nothing
# more (they hold no driver evidence until they rotate forward).
_CHECK_WINDOW = [
    # round-5 additions (never checked by anyone) — first, always
    "pipeline_clean_pack",
    "text_exact_substring_bytes",
    "text_exact_substring_winnow",
    "pipeline_clean_bytes",
    "crawl_cuckoo_audit",
    # the 14 backlog queries with NO driver-signed row after rounds 1-4
    # (r4 VERDICT item 1 — explicitly including crawl_e2e_order and
    # multimodal_decode, whose oracles were added after their r1 no_oracle
    # rows and which were never re-windowed)
    "crawl_e2e_order",
    "multimodal_decode",
    "dedup_cluster_sizes",
    "sim_norm_histogram",
    "events_peak_hour",
    "crawl_wave_fairness",
    "text_readability",
    "text_fertility",
    "crawl_canonical_collisions",
    "events_lateness",
    "text_bpe_encode",
    "text_dup_ngram_coverage",
    "crawl_anchor_text",
    "crawl_domain_budget",
    # standing FRESHNESS rotation (r4 VERDICT item 2): remaining slots go
    # to the queries with the OLDEST driver evidence — first the three r1
    # rows (three edit-rounds stale), then the r2 cohort in registry order.
    # Positions 51+ are the next rotation's queue (the rest of the r2
    # cohort), nothing more.
    "sim_cosine_topk",
    "sim_embedding_neardup",
    "sim_ann_lsh",
    "crawl_canonical_keys",
    "crawl_seen_antijoin",
    "crawl_wave_topk",
    "crawl_round_metrics",
    "crawl_priority_order",
    "crawl_retry_union",
    "crawl_proxy_rotation",
    "crawl_content_filter",
    "crawl_field_extraction",
    "crawl_body_validity",
    "crawl_budget_math",
    "events_json_extract",
    "events_sessionize",
    "agg_pricing_summary",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_lang_id",
    "text_quality",
    "text_token_counts",
    "text_fingerprint",
    "crawl_typed_results",
    "dedup_clusters",
    "text_repetition",
    "text_pii_scrub",
    "text_bm25_topk",
    "docs_profile",
    "events_cube",
    "events_rfm",
    "events_transitions",
    "text_langid_confusion",
    "text_countmin",
    "text_cooccurrence",
    "text_quality_agreement",
    "text_novelty",
    "text_tfidf_topterms",
    "text_vocab_topk",
    "text_segment_dedup",
    "text_lm_score",
    "docs_template_stats",
    "crawl_robots_parse",
    "crawl_sitemap_parse",
    "dedup_winnow",
    "text_bpe_pairs",
    "docs_mixture_weights",
    "docs_interleave_spans",
    "docs_interleave_stats",
    "docs_interleave_render",
    "text_quality_model",
]


def _reorder(base: dict) -> dict:
    head = {k: base[k] for k in _CHECK_WINDOW if k in base}
    return head | {k: v for k, v in base.items() if k not in head}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _reorder(_queries_base())


def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crawl_canonical_keys": q_crawl_canonical_keys,
        "crawl_seen_antijoin": q_crawl_seen_antijoin,
        "crawl_wave_topk": q_crawl_wave_topk,
        "crawl_round_metrics": q_crawl_round_metrics,
        "crawl_priority_order": q_crawl_priority_order,
        "crawl_retry_union": q_crawl_retry_union,
        "crawl_proxy_rotation": q_crawl_proxy_rotation,
        "crawl_content_filter": q_crawl_content_filter,
        "crawl_field_extraction": q_crawl_field_extraction,
        "crawl_body_validity": q_crawl_body_validity,
        "crawl_budget_math": q_crawl_budget_math,
        "crawl_typed_results": q_crawl_typed_results,
        "events_json_extract": q_events_json_extract,
        "events_sessionize": q_events_sessionize,
        "agg_pricing_summary": q_agg_pricing_summary,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "text_token_counts": q_text_token_counts,
        "text_fingerprint": q_text_fingerprint,
        "text_repetition": q_text_repetition,
        "text_pii_scrub": q_text_pii_scrub,
        "text_bm25_topk": q_text_bm25_topk,
        "docs_profile": q_docs_profile,
        "events_cube": q_events_cube,
        "events_rfm": q_events_rfm,
        "events_transitions": q_events_transitions,
        "text_langid_confusion": q_text_langid_confusion,
        "text_countmin": q_text_countmin,
        "text_cooccurrence": q_text_cooccurrence,
        "text_quality_agreement": q_text_quality_agreement,
        "text_novelty": q_text_novelty,
        "text_tfidf_topterms": q_text_tfidf_topterms,
        "text_vocab_topk": q_text_vocab_topk,
        "text_segment_dedup": q_text_segment_dedup,
        "text_lm_score": q_text_lm_score,
        "docs_template_stats": q_docs_template_stats,
        "crawl_robots_parse": q_crawl_robots_parse,
        "crawl_sitemap_parse": q_crawl_sitemap_parse,
        "dedup_winnow": q_dedup_winnow,
        "text_bpe_pairs": q_text_bpe_pairs,
        "docs_mixture_weights": q_docs_mixture_weights,
        "docs_interleave_spans": q_docs_interleave_spans,
        "docs_interleave_stats": q_docs_interleave_stats,
        "docs_interleave_render": q_docs_interleave_render,
        "text_quality_model": q_text_quality_model,
        "text_ccnet_buckets": q_text_ccnet_buckets,
        "crawl_trap_templates": q_crawl_trap_templates,
        "crawl_refetch_schedule": q_crawl_refetch_schedule,
        "crawl_host_skew": q_crawl_host_skew,
        "crawl_snapshot_diff": q_crawl_snapshot_diff,
        "crawl_redirects": q_crawl_redirects,
        "crawl_change_rate": q_crawl_change_rate,
        "crawl_drain_plan": q_crawl_drain_plan,
        "docs_source_scorecard": q_docs_source_scorecard,
        "text_kn_bigram": q_text_kn_bigram,
        "crawl_bloom_audit": q_crawl_bloom_audit,
        "crawl_cuckoo_audit": q_crawl_cuckoo_audit,
        "docs_caption_pairs": q_docs_caption_pairs,
        "docs_modality_mix": q_docs_modality_mix,
        "docs_span_dedup": q_docs_span_dedup,
        "crawl_url_features": q_crawl_url_features,
        "docs_source_stats": q_docs_source_stats,
        "docs_length_deciles": q_docs_length_deciles,
        "text_decontam": q_text_decontam,
        "docs_priority_sample": q_docs_priority_sample,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_pack_sequences": q_docs_pack_sequences,
        "pipeline_assemble": q_pipeline_assemble,
        "graph_degrees": q_graph_degrees,
        "graph_pagerank": q_graph_pagerank,
        "graph_hits": q_graph_hits,
        "graph_triangles": q_graph_triangles,
        "graph_components_twophase": q_graph_components_twophase,
        "graph_kcore": q_graph_kcore,
        "graph_neighbor_jaccard": q_graph_neighbor_jaccard,
        "graph_components": q_graph_components,
        "text_gopher_rules": q_text_gopher_rules,
        "docs_span_lang_mix": q_docs_span_lang_mix,
        "docs_interleave_pack": q_docs_interleave_pack,
        "docs_media_dedup": q_docs_media_dedup,
        "events_funnel": q_events_funnel,
        "text_inverted_index": q_text_inverted_index,
        "crawl_rank_budget": q_crawl_rank_budget,
        "sim_lsh_bucket_stats": q_sim_lsh_bucket_stats,
        "sim_ann_pq": q_sim_ann_pq,
        "sim_ann_ivf_pq": q_sim_ann_ivf_pq,
        "sim_ann_ivf_pq_residual": q_sim_ann_ivf_pq_residual,
        "sim_pq_recall": q_sim_pq_recall,
        "docs_curriculum": q_docs_curriculum,
        "graph_spam_mass": q_graph_spam_mass,
        "crawl_sitemap_ingest": q_crawl_sitemap_ingest,
        "crawl_revisit_bandwidth": q_crawl_revisit_bandwidth,
        "crawl_budget_from_revisit": q_crawl_budget_from_revisit,
        "sim_kmeans": q_sim_kmeans,
        "sim_pair_histogram": q_sim_pair_histogram,
        "docs_epoch_order": q_docs_epoch_order,
        "agg_pricing_rollup": q_agg_pricing_rollup,
        "dedup_agreement": q_dedup_agreement,
        "dedup_containment": q_dedup_containment,
        "dedup_incremental": q_dedup_incremental,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_survivorship": q_dedup_survivorship,
        "dedup_lsh_quality": q_dedup_lsh_quality,
        "docs_dsir_weights": q_docs_dsir_weights,
        "multimodal_frames": q_multimodal_frames,
        "sim_ann_recall": q_sim_ann_recall,
        "sim_ivf_recall": q_sim_ivf_recall,
        "docs_shard_assign": q_docs_shard_assign,
        "docs_dataset_card": q_docs_dataset_card,
        "events_asof_join": q_events_asof_join,
        "events_anomaly": q_events_anomaly,
        "events_interval_join": q_events_interval_join,
        "events_retention": q_events_retention,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_embedding_neardup": q_sim_embedding_neardup,
        "sim_embedding_clusters": q_sim_embedding_clusters,
        "sim_ann_lsh": q_sim_ann_lsh,
        "sim_ann_multitable": q_sim_ann_multitable,
        "sim_ann_multiprobe": q_sim_ann_multiprobe,
        "sim_ann_ivf": q_sim_ann_ivf,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_assemble": q_multimodal_assemble,
        "pipeline_curate": q_pipeline_curate,
        "pipeline_clean": q_pipeline_clean,
        "pipeline_clean_docs": q_pipeline_clean_docs,
        "pipeline_clean_pack": q_pipeline_clean_pack,
        "pipeline_clean_bytes": q_pipeline_clean_bytes,
        "stream_windowed_metrics": q_stream_windowed_metrics,
        "stream_rate_limit": q_stream_rate_limit,
        "stream_dedup": q_stream_dedup,
        "stream_funnel": q_stream_funnel,
        "stream_sessionize": q_stream_sessionize,
        "stream_hll": q_stream_hll,
        "stream_hot_hosts": q_stream_hot_hosts,
        "graph_hostgraph": q_graph_hostgraph,
        "graph_reciprocity": q_graph_reciprocity,
        "docs_quantile_sketch": q_docs_quantile_sketch,
        "events_hll_registers": q_events_hll_registers,
        "sim_semantic_dedup": q_sim_semantic_dedup,
        "text_idf_drift": q_text_idf_drift,
        "dedup_cascade": q_dedup_cascade,
        "dedup_band_sweep": q_dedup_band_sweep,
        "docs_chunking": q_docs_chunking,
        "crawl_robots_decision": q_crawl_robots_decision,
        "events_gap_profile": q_events_gap_profile,
        "crawl_sitemap_freshness": q_crawl_sitemap_freshness,
        "events_type_overlap": q_events_type_overlap,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "sim_norm_histogram": q_sim_norm_histogram,
        "events_peak_hour": q_events_peak_hour,
        "crawl_wave_fairness": q_crawl_wave_fairness,
        "text_readability": q_text_readability,
        "text_fertility": q_text_fertility,
        "crawl_canonical_collisions": q_crawl_canonical_collisions,
        "events_lateness": q_events_lateness,
        "graph_ppr": q_graph_ppr,
        "text_bpe_encode": q_text_bpe_encode,
        "text_bpe_train": q_text_bpe_train,
        "text_bpe_train_batched": q_text_bpe_train_batched,
        "text_exact_substring_dedup": q_text_exact_substring_dedup,
        "text_exact_substring_bytes": q_text_exact_substring_bytes,
        "text_exact_substring_winnow": q_text_exact_substring_winnow,
        "text_host_boilerplate": q_text_host_boilerplate,
        "text_dup_ngram_coverage": q_text_dup_ngram_coverage,
        "crawl_anchor_text": q_crawl_anchor_text,
        "crawl_domain_budget": q_crawl_domain_budget,
        "crawl_e2e_order": q_crawl_e2e_order,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

_SHINGLES_CTE = f"""
toks AS (
    SELECT doc_id, {_TOKS} AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    WHERE len(t) >= 3
)
"""

# interleaved span synthesis (pipeline/interleaved.py semantics): 5-token
# text chunks, a media span after every 2nd chunk, closed-form offsets
_SPANS_CTE = f"""
            WITH t AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_TOKS} AS toks
                FROM documents
            ), ch AS (
                SELECT doc_id,
                       CASE WHEN len(toks) > 0
                            THEN list_transform(generate_series(0, (len(toks) - 1) // 5),
                                                i -> array_to_string(toks[i * 5 + 1 : i * 5 + 5], ' '))
                            ELSE CAST([] AS VARCHAR[]) END AS chunks
                FROM t
            ), txt AS (
                SELECT doc_id, CAST(ci + ci // 2 AS INT) AS "offset",
                       'text' AS kind, chunks[ci + 1] AS text, '' AS media_ref
                FROM ch, unnest(generate_series(0, len(chunks) - 1)) g(ci)
                WHERE len(chunks) > 0
            ), med AS (
                SELECT doc_id, CAST(3 * j - 1 AS INT) AS "offset",
                       'media' AS kind, '' AS text,
                       'asset://' || doc_id || '/' || j AS media_ref
                FROM ch, unnest(generate_series(1, len(chunks) // 2)) g(j)
                WHERE len(chunks) >= 2
            ), spans AS (
                SELECT * FROM txt UNION ALL SELECT * FROM med
            )
"""

_STOP_PAT = r"\b(the|and|of|to|is|a|in)\b"
_BPE_PAT = r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"


def _lang_count(lang_words: list[str]) -> str:
    pat = r"\b(" + "|".join(lang_words) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}', 1))"


def _e2e_order_sql() -> str:
    """Expected crawl order for the 2-round E2E fixture, computed by the
    pure-Python reference-semantics oracle (crawler_spark/oracle.py — no
    Spark involved) and inlined as a VALUES relation. This makes the
    stateful round loop equality-checkable by the driver's SQL gate even
    though the loop itself is not SQL-expressible."""
    from crawler_spark.fixtures import make_fixture
    from crawler_spark.oracle import run_oracle

    fx = make_fixture(n_tags=2, lists_per_tag=2, books_per_list=4, n_topics=12)
    o = run_oracle(
        fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s,
        max_rounds=2,
    )
    vals = ", ".join(
        f"(CAST({rnd} AS INT), CAST({prio} AS INT), CAST({seq} AS BIGINT), '{curl}')"
        for rnd, prio, seq, curl in o.order_full
    )
    return f"SELECT * FROM (VALUES {vals}) AS t(round, priority, seq, curl)"


_EDGE_CTE = """
fwd AS (
    SELECT DISTINCT 'o:' || l_orderkey AS src, 's:' || l_suppkey AS dst
    FROM lineitem
),
e AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
n AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
od AS (SELECT src, count(*) AS od FROM e GROUP BY src)
"""


def _pagerank_sql(iters: int = 3, scale: int = 10**9, dn: int = 85, dd: int = 100) -> str:
    """Unrolled fixed-iteration integer PageRank (mirrors pipeline/graph.py:
    every division is floor division, so ranks match to the last unit)."""
    teleport = (dd - dn) * scale // dd
    parts = [
        f"WITH {_EDGE_CTE}, "
        f'r0 AS (SELECT node, CAST({scale} AS BIGINT) AS "rank" FROM n)'
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
        r{t} AS (
            SELECT n.node,
                   CAST({teleport} + {dn} * coalesce(s.s, 0) // {dd} AS BIGINT) AS "rank"
            FROM n LEFT JOIN (
                SELECT e.dst AS node, sum(r{t - 1}."rank" // od.od) AS s
                FROM e JOIN r{t - 1} ON r{t - 1}.node = e.src
                       JOIN od ON od.src = e.src
                GROUP BY e.dst
            ) s ON s.node = n.node
        )""")
    parts.append(f' SELECT node, "rank" FROM r{iters}')
    return "".join(parts)


def _lsh_sweep_sql(configs=((6, 3), (9, 3), (12, 4))) -> str:
    """Banding-parameter sweep oracle: per-config candidate sets (same
    sig/bands construction as dedup_lsh_quality, generalized over
    (num_hashes, band_size)) against the one exact-Jaccard truth set."""
    ctes = [_SHINGLES_CTE]
    selects = []
    for H, b in configs:
        label = f"h{H}_b{b}"
        n_bands = H // b
        sig = (
            f"sig_{label} AS (SELECT doc_id, "
            + ", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(H))
            + " FROM sh GROUP BY doc_id)"
        )
        bands = (
            f"bands_{label} AS ("
            + " UNION ALL ".join(
                f"SELECT doc_id, {bb} AS band, "
                f"md5({' || '.join(f'mh{bb * b + j}' for j in range(b))}) AS band_key "
                f"FROM sig_{label}"
                for bb in range(n_bands)
            )
            + ")"
        )
        cand = (
            f"cand_{label} AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
            f"FROM bands_{label} a JOIN bands_{label} b "
            f"ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"
        )
        ctes += [sig, bands, cand]
        selects.append(
            f"SELECT '{label}' AS config,"
            " coalesce(c.doc_a IS NOT NULL, FALSE) AS in_lsh,"
            " coalesce(t.doc_a IS NOT NULL, FALSE) AS is_true,"
            " CAST(count(*) AS BIGINT) AS n_pairs"
            f" FROM cand_{label} c"
            " FULL OUTER JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b"
            " GROUP BY 1, 2, 3"
        )
    truth = """
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE 5 * inter >= 1 * (sa.n + sb.n - inter)
        )"""
    return (
        "WITH " + ",\n".join(ctes) + ",\n" + truth + "\n"
        + " UNION ALL ".join(selects)
    )


def _ppr_sql(iters: int = 3, scale: int = 10**9, dn: int = 85, dd: int = 100) -> str:
    """Unrolled exact-integer PERSONALIZED PageRank (mirrors
    pipeline/graph.py ppr): r0 = scale on seeds / 0 elsewhere, teleport
    paid only to seeds, every division floor division."""
    teleport = (dd - dn) * scale // dd
    parts = [
        f"WITH {_EDGE_CTE}, "
        "sd AS (SELECT DISTINCT 's:' || l_suppkey AS node FROM lineitem"
        " WHERE l_suppkey % 11 = 0), "
        "b AS (SELECT n.node,"
        f" CASE WHEN sd.node IS NOT NULL THEN CAST({teleport} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS t,"
        f" CASE WHEN sd.node IS NOT NULL THEN CAST({scale} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS rr"
        " FROM n LEFT JOIN sd ON sd.node = n.node), "
        'r0 AS (SELECT node, rr AS "rank" FROM b)'
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
        r{t} AS (
            SELECT b.node,
                   CAST(b.t + {dn} * coalesce(s.s, 0) // {dd} AS BIGINT) AS "rank"
            FROM b LEFT JOIN (
                SELECT e.dst AS node, sum(r{t - 1}."rank" // od.od) AS s
                FROM e JOIN r{t - 1} ON r{t - 1}.node = e.src
                       JOIN od ON od.src = e.src
                GROUP BY e.dst
            ) s ON s.node = b.node
        )""")
    parts.append(f' SELECT node, "rank" FROM r{iters}')
    return "".join(parts)


def _rank_budget_sql(iters: int = 2, scale: int = 10**9) -> str:
    """PageRank CTEs (same unrolled builder as _pagerank_sql) + the
    budget/top-k tail mirroring q_crawl_rank_budget."""
    body = _pagerank_sql(iters=iters, scale=scale)
    body = body[: body.rindex(" SELECT ")]  # keep the WITH-chain only
    q = scale // 4
    return body + f""",
        budgets AS (
            SELECT node, CAST(1 + least(7, "rank" // {q}) AS BIGINT) AS budget
            FROM r{iters} WHERE node LIKE 's:%'
        ),
        cand AS (
            SELECT DISTINCT 's:' || l_suppkey AS node,
                   CAST(l_orderkey AS BIGINT) AS orderkey
            FROM lineitem
        ),
        ranked AS (
            SELECT c.node, c.orderkey, b.budget,
                   CAST(row_number() OVER (
                       PARTITION BY c.node ORDER BY c.orderkey) AS INT) AS rn
            FROM cand c JOIN budgets b USING (node)
        )
        SELECT node, orderkey, rn, budget FROM ranked WHERE rn <= budget
    """


def _components_sql(iters: int = 4) -> str:
    """Unrolled fixed-iteration hash-min label propagation (mirrors
    pipeline/graph.py components(): min over self + in-neighbors per
    round, binary string comparison) on the sparsified customer-order-
    supplier graph."""
    parts = [
        "WITH stars AS (SELECT 'c:' || o_custkey AS src,"
        " 'o:' || o_orderkey AS dst FROM orders), "
        "bridges AS (SELECT 'o:' || l_orderkey AS src,"
        " 's:' || l_suppkey AS dst FROM lineitem"
        " WHERE l_orderkey % 97 = 0 AND l_linenumber = 1), "
        "fwd AS (SELECT src, dst FROM stars UNION ALL SELECT src, dst FROM bridges), "
        "e AS (SELECT DISTINCT src, dst FROM"
        " (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd)), "
        "n AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
        "l0 AS (SELECT node, node AS comp FROM n)"
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
        l{t} AS (
            SELECT n.node,
                   least(l{t - 1}.comp, coalesce(m.m, l{t - 1}.comp)) AS comp
            FROM n JOIN l{t - 1} USING (node)
            LEFT JOIN (
                SELECT e.dst AS node, min(l{t - 1}.comp) AS m
                FROM e JOIN l{t - 1} ON l{t - 1}.node = e.src GROUP BY e.dst
            ) m USING (node)
        )""")
    parts.append(f" SELECT node, comp FROM l{iters}")
    return "".join(parts)


def _kcore_sql(core_k: int = 2, iters: int = 4) -> str:
    """Unrolled fixed-round k-core peeling (mirrors pipeline/graph.py
    kcore_peel) on the co-supplier graph."""
    parts = [
        """WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        und AS (
            SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
            FROM s a JOIN s b
              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        ),
        nodes AS (SELECT u AS node FROM und UNION SELECT v AS node FROM und),
        a0 AS (SELECT node FROM nodes)"""
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
        e{t} AS (
            SELECT und.u, und.v FROM und
            JOIN a{t - 1} x ON x.node = und.u
            JOIN a{t - 1} y ON y.node = und.v
        ),
        d{t} AS (
            SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM e{t} UNION ALL SELECT v AS node FROM e{t}
            ) GROUP BY node
        ),
        a{t} AS (SELECT node FROM d{t} WHERE d >= {core_k})""")
    parts.append(f"""
        SELECT nodes.node, (a.node IS NOT NULL) AS in_core
        FROM nodes LEFT JOIN a{iters} a USING (node)""")
    return "".join(parts)


def _kmeans_sql(k: int = 4, iters: int = 2, scale: int = 10**6) -> str:
    """Unrolled exact-integer Lloyd k-means (mirrors
    pipeline/similarity.py kmeans_quantized): quantized coordinates,
    d2 = qq - 2qc + cc from dot products (exact in double below 2^53),
    truncating integer centroid means, (d2, cid) argmin tie-break."""

    def d2(c_alias: str) -> str:
        return (
            "CAST(list_dot_product(q.qe::DOUBLE[], q.qe::DOUBLE[])"
            f" - 2 * list_dot_product(q.qe::DOUBLE[], {c_alias}.cv::DOUBLE[])"
            f" + list_dot_product({c_alias}.cv::DOUBLE[], {c_alias}.cv::DOUBLE[])"
            " AS BIGINT)"
        )

    parts = [
        f"""WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qe
            FROM embeddings
        ),
        c0 AS (SELECT CAST(vec_id AS INT) AS cid, qe AS cv FROM q WHERE vec_id < {k})"""
    ]
    for t in range(1, iters + 2):
        parts.append(f""",
        a{t} AS (
            SELECT vec_id, cluster, d2 FROM (
                SELECT q.vec_id, c.cid AS cluster, {d2("c")} AS d2,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {d2("c")}, c.cid) AS rk
                FROM q CROSS JOIN c{t - 1} c
            ) WHERE rk = 1
        )""")
        if t <= iters:
            parts.append(f""",
        u{t} AS (
            SELECT a.cluster,
                   unnest(range(len(q.qe))) AS dim,
                   unnest(q.qe) AS v
            FROM a{t} a JOIN q USING (vec_id)
        ),
        m{t} AS (
            SELECT cluster, dim, CAST(sum(v) // count(*) AS BIGINT) AS cval
            FROM u{t} GROUP BY cluster, dim
        ),
        c{t} AS (
            SELECT CAST(cluster AS INT) AS cid, list(cval ORDER BY dim) AS cv
            FROM m{t} GROUP BY cluster
        )""")
    parts.append(f"\nSELECT vec_id, cluster, d2 FROM a{iters + 1}")
    return "".join(parts)


def _pq_lloyd_ctes(iters: int, d2) -> list[str]:
    """The unrolled per-subspace Lloyd chain over a ``sub`` CTE
    ((vec_id, sub, sv) with c0 = first-k init): a{t} assign, u/m{t}
    truncating integer mean, c{t} rebuilt codebooks — shared verbatim by
    the plain-PQ, shared-codebook IVF-PQ, and residual-IVFPQ oracles
    (they differ only in what ``sub`` contains and how candidates are
    restricted)."""
    parts = []
    for t in range(1, iters + 2):
        parts.append(f""",
        a{t} AS (
            SELECT vec_id, sub, cid AS code FROM (
                SELECT sb.vec_id, sb.sub, c.cid, {d2("sb.sv", "c.cv")} AS d2,
                       row_number() OVER (
                           PARTITION BY sb.vec_id, sb.sub
                           ORDER BY {d2("sb.sv", "c.cv")}, c.cid) AS rk
                FROM sub sb JOIN c{t - 1} c ON sb.sub = c.sub
            ) WHERE rk = 1
        )""")
        if t <= iters:
            parts.append(f""",
        u{t} AS (
            SELECT a.sub, a.code AS cid,
                   unnest(range(len(sb.sv))) AS dim, unnest(sb.sv) AS v
            FROM a{t} a JOIN sub sb
              ON a.vec_id = sb.vec_id AND a.sub = sb.sub
        ),
        m{t} AS (
            SELECT sub, cid, dim, CAST(sum(v) // count(*) AS BIGINT) AS cval
            FROM u{t} GROUP BY sub, cid, dim
        ),
        c{t} AS (
            SELECT sub, CAST(cid AS INT) AS cid, list(cval ORDER BY dim) AS cv
            FROM m{t} GROUP BY sub, cid
        )""")
    return parts


def _pq_d2_sql(x: str, c: str) -> str:
    return (
        f"CAST(list_dot_product({x}::DOUBLE[], {x}::DOUBLE[])"
        f" - 2 * list_dot_product({x}::DOUBLE[], {c}::DOUBLE[])"
        f" + list_dot_product({c}::DOUBLE[], {c}::DOUBLE[]) AS BIGINT)"
    )


def _pq_sql(
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    topk: int = 5,
    qids: tuple[int, ...] = (0, 1, 2),
    dim: int = 64,
    scale: int = 10**6,
    ivf_cents: tuple[int, ...] | None = None,
    nprobe: int = 2,
) -> str:
    """Unrolled product-quantization ADC top-k (mirrors
    pipeline/similarity.py pq_topk): per-subspace exact-integer Lloyd
    codebooks (same construction as _kmeans_sql, keyed by sub), corpus
    encoded to m codes, query distance = per-subspace table lookup summed,
    (ad2, vec_id) rank ties. With ``ivf_cents`` set this becomes the
    IVF-PQ composite (ivf_pq_topk): the sim_ann_ivf oracle's cell
    assignment + probe selection CTEs are appended and the candidate set
    is restricted to code rows whose cell is in the query's nprobe probed
    cells — the PQ training/encoding/distance-table CTEs are unchanged."""
    d = dim // m

    def d2(x: str, c: str) -> str:
        return (
            f"CAST(list_dot_product({x}::DOUBLE[], {x}::DOUBLE[])"
            f" - 2 * list_dot_product({x}::DOUBLE[], {c}::DOUBLE[])"
            f" + list_dot_product({c}::DOUBLE[], {c}::DOUBLE[]) AS BIGINT)"
        )

    parts = [
        f"""WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qe
            FROM embeddings
        ),
        sub AS (
            SELECT vec_id, s.sub, q.qe[s.sub * {d} + 1 : s.sub * {d} + {d}] AS sv
            FROM q, (SELECT unnest(range({m})) AS sub) s
        ),
        c0 AS (SELECT sub, CAST(vec_id AS INT) AS cid, sv AS cv
               FROM sub WHERE vec_id < {k})"""
    ]
    parts.extend(_pq_lloyd_ctes(iters, d2))
    in_list = ", ".join(str(i) for i in qids)
    if ivf_cents is not None:
        parts.append(f""",
        cent AS (
            SELECT u.cell, e.embedding::DOUBLE[] AS cv
            FROM (VALUES {", ".join(f"({c}, {vid})" for c, vid in enumerate(ivf_cents))}) AS u(cell, vid)
            JOIN embeddings e ON e.vec_id = u.vid
        ), csim AS (
            SELECT e.vec_id, c.cell,
                   list_dot_product(e.embedding::DOUBLE[], c.cv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cv, c.cv))) AS sim
            FROM embeddings e CROSS JOIN cent c
        ), asn AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
                FROM csim
            ) WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
                FROM csim WHERE vec_id IN ({in_list})
            ) WHERE rn <= {nprobe}
        )""")
        cand_extra = (
            " JOIN asn ON asn.vec_id = a.vec_id"
            " JOIN probes p ON p.cell = asn.cell AND p.query_id = dt.query_id"
        )
    else:
        cand_extra = ""
    parts.append(f""",
        qsub AS (
            SELECT vec_id AS query_id, sub, sv AS qv
            FROM sub WHERE vec_id IN ({in_list})
        ),
        dt AS (
            SELECT qs.query_id, qs.sub, c.cid, {d2("qs.qv", "c.cv")} AS d2q
            FROM qsub qs JOIN c{iters} c ON qs.sub = c.sub
        ),
        cand AS (
            SELECT dt.query_id, a.vec_id, CAST(sum(dt.d2q) AS BIGINT) AS ad2
            FROM a{iters + 1} a JOIN dt ON a.sub = dt.sub AND a.code = dt.cid{cand_extra}
            WHERE a.vec_id <> dt.query_id
            GROUP BY dt.query_id, a.vec_id
        )
        SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INT) AS rank, ad2
        FROM (
            SELECT query_id, vec_id, ad2,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ad2, vec_id) AS rk
            FROM cand
        ) WHERE rk <= {topk}""")
    return "".join(parts)


def _ivf_pq_residual_sql(
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    topk: int = 10,
    qids: tuple[int, ...] = (0, 1, 2, 3, 4),
    ivf_cents: tuple[int, ...] = tuple(7 + 37 * i for i in range(8)),
    nprobe: int = 2,
    dim: int = 64,
    scale: int = 10**6,
) -> str:
    """Textbook residual IVFPQ (mirrors similarity.py
    ivf_pq_residual_topk): the sim_ann_ivf cell/probe CTEs, residuals
    r = qe − quantized-coarse-centroid (exact integer subtraction — the
    coarse centroids are corpus vectors), the SAME unrolled Lloyd chain
    over residual subvectors, and a per-(query, probed-cell) distance
    table; candidates restricted to probed cells."""
    d = dim // m
    d2 = _pq_d2_sql
    in_list = ", ".join(str(i) for i in qids)
    parts = [
        f"""WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qe
            FROM embeddings
        ),
        centq AS (
            SELECT u.cell, q.qe AS ce
            FROM (VALUES {", ".join(f"({c}, {vid})" for c, vid in enumerate(ivf_cents))}) AS u(cell, vid)
            JOIN q ON q.vec_id = u.vid
        ),
        cent AS (
            SELECT u.cell, e.embedding::DOUBLE[] AS cv
            FROM (VALUES {", ".join(f"({c}, {vid})" for c, vid in enumerate(ivf_cents))}) AS u(cell, vid)
            JOIN embeddings e ON e.vec_id = u.vid
        ), csim AS (
            SELECT e.vec_id, c.cell,
                   list_dot_product(e.embedding::DOUBLE[], c.cv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cv, c.cv))) AS sim
            FROM embeddings e CROSS JOIN cent c
        ), asn AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
                FROM csim
            ) WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
                FROM csim WHERE vec_id IN ({in_list})
            ) WHERE rn <= {nprobe}
        ),
        rq AS (
            SELECT q.vec_id, a.cell,
                   list_transform(range(1, {dim + 1}), j -> q.qe[j] - cq.ce[j]) AS re
            FROM q JOIN asn a USING (vec_id) JOIN centq cq ON cq.cell = a.cell
        ),
        sub AS (
            SELECT vec_id, s.sub, rq.re[s.sub * {d} + 1 : s.sub * {d} + {d}] AS sv
            FROM rq, (SELECT unnest(range({m})) AS sub) s
        ),
        c0 AS (SELECT sub, CAST(vec_id AS INT) AS cid, sv AS cv
               FROM sub WHERE vec_id < {k})"""
    ]
    parts.extend(_pq_lloyd_ctes(iters, d2))
    parts.append(f""",
        qres AS (
            SELECT p.query_id, p.cell,
                   list_transform(range(1, {dim + 1}), j -> q.qe[j] - cq.ce[j]) AS re
            FROM probes p JOIN q ON q.vec_id = p.query_id
            JOIN centq cq ON cq.cell = p.cell
        ),
        qsub AS (
            SELECT query_id, cell, s.sub,
                   qres.re[s.sub * {d} + 1 : s.sub * {d} + {d}] AS qv
            FROM qres, (SELECT unnest(range({m})) AS sub) s
        ),
        dt AS (
            SELECT qs.query_id, qs.cell, qs.sub, c.cid, {d2("qs.qv", "c.cv")} AS d2q
            FROM qsub qs JOIN c{iters} c ON qs.sub = c.sub
        ),
        cand AS (
            SELECT dt.query_id, a.vec_id, CAST(sum(dt.d2q) AS BIGINT) AS ad2
            FROM a{iters + 1} a
            JOIN asn ON asn.vec_id = a.vec_id
            JOIN dt ON dt.cell = asn.cell AND a.sub = dt.sub AND a.code = dt.cid
            WHERE a.vec_id <> dt.query_id
            GROUP BY dt.query_id, a.vec_id
        )
        SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INT) AS rank, ad2
        FROM (
            SELECT query_id, vec_id, ad2,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ad2, vec_id) AS rk
            FROM cand
        ) WHERE rk <= {topk}""")
    return "".join(parts)


def _hits_sql(iters: int = 2, scale: int = 10**9) -> str:
    """Unrolled fixed-iteration shift-normalized integer HITS (mirrors
    pipeline/graph.py hits(): x' = x DIV greatest(max(x) DIV scale, 1),
    every division floor division, so hub/auth match to the last unit).
    Runs on the FORWARD bipartite lineitem graph (orders are hubs,
    suppliers are authorities)."""
    parts = [
        "WITH fwd AS (SELECT DISTINCT 'o:' || l_orderkey AS src,"
        " 's:' || l_suppkey AS dst FROM lineitem), "
        "n AS (SELECT src AS node FROM fwd UNION SELECT dst FROM fwd), "
        f"h0 AS (SELECT node, CAST({scale} AS BIGINT) AS hub FROM n)"
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
        a{t}r AS (
            SELECT fwd.dst AS node, sum(h{t - 1}.hub) AS s
            FROM fwd JOIN h{t - 1} ON h{t - 1}.node = fwd.src GROUP BY fwd.dst
        ),
        a{t}g AS (SELECT greatest(max(s) // {scale}, 1) AS g FROM a{t}r),
        a{t} AS (
            SELECT n.node, CAST(coalesce(s, 0) // g AS BIGINT) AS auth
            FROM n LEFT JOIN a{t}r USING (node) CROSS JOIN a{t}g
        ),
        h{t}r AS (
            SELECT fwd.src AS node, sum(a{t}.auth) AS s
            FROM fwd JOIN a{t} ON a{t}.node = fwd.dst GROUP BY fwd.src
        ),
        h{t}g AS (SELECT greatest(max(s) // {scale}, 1) AS g FROM h{t}r),
        h{t} AS (
            SELECT n.node, CAST(coalesce(s, 0) // g AS BIGINT) AS hub
            FROM n LEFT JOIN h{t}r USING (node) CROSS JOIN h{t}g
        )""")
    parts.append(
        f" SELECT n.node, h{iters}.hub, a{iters}.auth"
        f" FROM n JOIN h{iters} USING (node) JOIN a{iters} USING (node)"
    )
    return "".join(parts)


def _ann_planes_sql(table: int = 0) -> str:
    """Inline the deterministic hyperplanes as SQL literals (same md5-derived
    constants similarity._hyperplanes produces)."""
    from crawler_spark.pipeline.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, table=table)
    bits = []
    for i, pl in enumerate(planes):
        arr = "[" + ", ".join(f"{v:.1f}" for v in pl) + "]::DOUBLE[]"
        bits.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) > 0 THEN {1 << i} ELSE 0 END"
        )
    return " + ".join(bits)


def _bpe_sym_expr() -> str:
    """Chained-replace rendering of textstats.BPE_MERGES over the
    parenthesized symbol string — byte-identical to the Spark side's
    F.replace chain (both engines replace all non-overlapping occurrences
    left-to-right)."""
    from crawler_spark.pipeline.textstats import BPE_MERGES

    s = "regexp_replace(w, '(.)', '(\\1)', 'g')"
    for a, b in BPE_MERGES:
        s = f"replace({s}, '({a})({b})', '({a}{b})')"
    return s


def _bpe_train_sql(k: int = 6) -> str:
    """Unrolled k-iteration BPE training loop (the fixed-iteration style
    of the PageRank/HITS oracles): v{i} = vocab after i merges, p{i} =
    weighted adjacent-pair counts, b{i} = 1-row argmax (n DESC, pair ASC
    — same total order as the Spark side). Every stage is MATERIALIZED:
    v{i} is referenced twice (p{i} and v{i+1}), so DuckDB's default CTE
    inlining would expand the unroll EXPONENTIALLY (2^k scans of
    documents — at k=64 it dies on file handles before it dies on time);
    materialization makes it the linear k-pass loop it describes."""
    stages = [
        """words AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS tc FROM (
                SELECT unnest(list_filter(string_split_regex(lower(text),
                    '[^a-z]+'), x -> x <> '')) AS w
                FROM documents
            ) GROUP BY w
        )""",
        "v0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS sym, tc FROM words)",
    ]
    for i in range(k):
        stages.append(f"""p{i} AS MATERIALIZED (
            SELECT pair, CAST(sum(tc) AS BIGINT) AS n FROM (
                SELECT unnest(list_transform(range(1, len(sa)),
                           j -> sa[j] || ' ' || sa[j + 1])) AS pair, tc
                FROM (SELECT regexp_extract_all(sym, '\\(([a-z]+)\\)', 1) AS sa,
                             tc FROM v{i})
                WHERE len(sa) >= 2
            ) GROUP BY pair
        )""")
        stages.append(
            f"b{i} AS MATERIALIZED (SELECT pair, n FROM p{i} ORDER BY n DESC, pair ASC LIMIT 1)"
        )
        stages.append(f"""v{i + 1} AS MATERIALIZED (
            SELECT replace(sym,
                '(' || split_part(pair, ' ', 1) || ')(' || split_part(pair, ' ', 2) || ')',
                '(' || replace(pair, ' ', '') || ')') AS sym, tc
            FROM v{i}, b{i}
        )""")
    union = "\nUNION ALL ".join(
        f"SELECT CAST({i + 1} AS INT) AS rk, pair, n FROM b{i}" for i in range(k)
    )
    return "WITH " + ",\n".join(stages) + "\n" + union


def _boiler_clean_cte(
    src: str, p: str, k: int = 10, share_bp: int = 3000, min_df: int = 2
) -> str:
    """Parameterized host_boilerplate_strip stage — the
    "text_host_boilerplate" oracle verbatim modulo (source relation, CTE
    prefix), emitting ``{p}out(doc_id, source, n_boiler, text)`` so a
    downstream stage can consume the stripped text as its corpus."""
    return f"""{p}t AS (
                SELECT doc_id, source, {_TOKS} AS toks FROM {src}
            ), {p}s AS (
                SELECT doc_id, source,
                       CASE WHEN len(toks) > 0
                            THEN list_transform(generate_series(0, (len(toks) - 1) // {k}),
                                                i -> array_to_string(toks[i * {k} + 1 : i * {k} + {k}], ' '))
                            ELSE CAST([] AS VARCHAR[]) END AS segs
                FROM {p}t
            ), {p}inst AS (
                SELECT doc_id, source, i, segs[i + 1] AS seg,
                       md5(segs[i + 1]) AS sh
                FROM {p}s, unnest(generate_series(0, len(segs) - 1)) AS g(i)
                WHERE len(segs) > 0
            ), {p}dfreq AS (
                SELECT source, sh, count(DISTINCT doc_id) AS df
                FROM {p}inst GROUP BY source, sh
            ), {p}srcn AS (
                SELECT source, count(*) AS n_docs FROM {src} GROUP BY source
            ), {p}boiler AS (
                SELECT source, sh FROM {p}dfreq JOIN {p}srcn USING (source)
                WHERE df >= {min_df} AND df * 10000 >= {share_bp} * n_docs
            ), {p}flagged AS (
                SELECT i.doc_id, i.i, i.seg, b.sh IS NOT NULL AS is_bp
                FROM {p}inst i LEFT JOIN {p}boiler b
                  ON i.source = b.source AND i.sh = b.sh
            ), {p}per AS (
                SELECT doc_id, count(*) AS n_segments,
                       sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS n_boiler,
                       coalesce(string_agg(CASE WHEN NOT is_bp THEN seg END,
                                           ' ' ORDER BY i), '') AS clean_text
                FROM {p}flagged GROUP BY doc_id
            ), {p}out AS MATERIALIZED (
                SELECT d.doc_id, d.source,
                       CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
                       coalesce(clean_text, '') AS text
                FROM {src} d LEFT JOIN {p}per USING (doc_id)
            )"""


def _substr_clean_cte(src: str, p: str, n: int = 8) -> str:
    """Parameterized exact_substring_dedup stage — the
    "text_exact_substring_dedup" oracle verbatim modulo (source relation,
    CTE prefix, gram width), emitting ``{p}out(doc_id, removed_chars,
    ctext)``."""
    leads = ", ".join(
        f"lead(t, {j}) OVER (PARTITION BY doc_id ORDER BY pos)"
        for j in range(1, n)
    )
    return f"""{p}tokpos AS (
                SELECT doc_id, unnest({_TOKS}) AS t,
                       unnest(range(len({_TOKS}))) AS pos
                FROM {src}
            ), {p}offs AS (
                SELECT doc_id, pos, t,
                       CAST(coalesce(sum(length(t) + 1) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
                FROM {p}tokpos
            ), {p}g AS (
                SELECT doc_id, s,
                       concat_ws(' ', t, {leads}) AS gram,
                       lead(t, {n - 1}) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL AS fullg
                FROM {p}offs
            ), {p}spans AS (
                SELECT doc_id, s, s + length(gram) AS e, gram FROM {p}g WHERE fullg
            ), {p}rem AS (
                SELECT doc_id, s, e FROM (
                    SELECT doc_id, s, e,
                           row_number() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn
                    FROM {p}spans
                ) WHERE rn > 1
            ), {p}isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (
                           PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS newi
                FROM {p}rem
            ), {p}isl2 AS (
                SELECT doc_id, s, e,
                       sum(newi) OVER (PARTITION BY doc_id ORDER BY s, e) AS islid
                FROM {p}isl
            ), {p}islands AS (
                SELECT doc_id, CAST(min(s) AS BIGINT) AS isl_s,
                       CAST(max(e) AS BIGINT) AS isl_e, FALSE AS sent
                FROM {p}isl2 GROUP BY doc_id, islid
            ), {p}canon AS (
                SELECT doc_id,
                       coalesce(array_to_string({_TOKS}, ' '), '') AS canon
                FROM {src}
            ), {p}marks AS (
                SELECT doc_id, isl_s, isl_e, sent FROM {p}islands
                UNION ALL
                SELECT doc_id, CAST(length(canon) AS BIGINT),
                       CAST(length(canon) AS BIGINT), TRUE
                FROM {p}canon
            ), {p}pieces AS (
                SELECT m.doc_id, isl_s, isl_e, sent,
                       substring(canon, CAST(prev_e + 1 AS INT),
                                 CAST(isl_s - prev_e AS INT)) AS piece
                FROM (
                    SELECT doc_id, isl_s, isl_e, sent,
                           coalesce(lag(isl_e) OVER (
                               PARTITION BY doc_id ORDER BY isl_s, isl_e
                           ), 0) AS prev_e
                    FROM {p}marks
                ) m JOIN {p}canon USING (doc_id)
            ), {p}out AS MATERIALIZED (
                SELECT doc_id,
                       CAST(sum(CASE WHEN NOT sent THEN isl_e - isl_s ELSE 0 END) AS BIGINT) AS removed_chars,
                       string_agg(piece, '' ORDER BY isl_s, isl_e) AS ctext
                FROM {p}pieces GROUP BY doc_id
            )"""


def _neardup_mins_cte(src: str, p: str) -> str:
    """Parameterized minhash-LSH (9 hashes, 3 bands of 3, 3-shingles) +
    recursive component closure — the "pipeline_curate" oracle's dedup
    fragment modulo (source relation, CTE prefix), emitting
    ``{p}mins(u, mn)`` (min reachable doc over the pair graph; docs with
    no pairs are absent). Must live inside a WITH RECURSIVE query."""
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(9)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(mh{3 * b} || mh{3 * b + 1} || mh{3 * b + 2}) AS band_key FROM {p}sig"
        for b in range(3)
    )
    return f"""{p}toks AS (
                SELECT doc_id, {_TOKS} AS t FROM {src}
            ), {p}sh AS (
                SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
                FROM {p}toks, UNNEST(range(1, len(t) - 1)) AS u(i)
                WHERE len(t) >= 3
            ), {p}sig AS MATERIALIZED (
                SELECT doc_id, {sig_cols} FROM {p}sh GROUP BY doc_id
            ), {p}bands AS MATERIALIZED (
                {bands}
            ), {p}pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM {p}bands a JOIN {p}bands b
                  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ), {p}und AS MATERIALIZED (
                SELECT doc_a AS u, doc_b AS v FROM {p}pairs
                UNION ALL SELECT doc_b, doc_a FROM {p}pairs
            ), {p}reach(u, v) AS (
                SELECT u, v FROM {p}und
                UNION
                SELECT r.u, {p}und.v FROM {p}reach r JOIN {p}und ON r.v = {p}und.u
            ), {p}mins AS MATERIALIZED (
                SELECT u, min(v) AS mn FROM {p}reach GROUP BY u
            )"""


def _gopher_bp_cte(src: str, p: str) -> str:
    """Parameterized gopher_rules signal stage — the "text_gopher_rules"
    oracle's b/bp chain modulo (source relation, CTE prefix), emitting
    ``{p}out(doc_id, n_words, mean_wl_bp, symbol_bp, bullet_bp,
    ellipsis_bp, alpha_bp, stop_hits)`` (signals only — the consumer
    applies its own thresholds)."""
    return f"""{p}gb AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_words,
                       CAST(coalesce(list_sum(list_transform(
                           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                           x -> length(x))), 0) AS BIGINT) AS sum_wl,
                       CAST(length(regexp_replace(text, '[^#]', '', 'g'))
                            + len(regexp_extract_all(text, '(\\.\\.\\.|…)', 0)) AS BIGINT) AS n_symbols,
                       CAST(len(list_filter(string_split(text, chr(10)), l -> trim(l) <> '')) AS BIGINT) AS n_lines,
                       CAST(len(list_filter(string_split(text, chr(10)),
                           l -> trim(l) <> '' AND regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
                       CAST(len(list_filter(string_split(text, chr(10)),
                           l -> trim(l) <> '' AND regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS BIGINT) AS n_ellipsis,
                       CAST(len(list_filter(
                           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                           x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
                       CAST((CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text), '\\bbe\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
                FROM {src}
            ), {p}out AS MATERIALIZED (
                SELECT doc_id, n_words,
                       CASE WHEN n_words > 0 THEN (1000 * sum_wl) // n_words ELSE 0 END AS mean_wl_bp,
                       CASE WHEN n_words > 0 THEN (1000 * n_symbols) // n_words ELSE 0 END AS symbol_bp,
                       CASE WHEN n_lines > 0 THEN (1000 * n_bullet) // n_lines ELSE 0 END AS bullet_bp,
                       CASE WHEN n_lines > 0 THEN (1000 * n_ellipsis) // n_lines ELSE 0 END AS ellipsis_bp,
                       CASE WHEN n_words > 0 THEN (1000 * n_alpha) // n_words ELSE 0 END AS alpha_bp,
                       stop_hits
                FROM {p}gb
            )"""


def _substr_bytes_cte(src: str, p: str, n: int = 40) -> str:
    """Parameterized BYTE-level exact_substring_dedup stage — the
    "text_exact_substring_bytes" oracle modulo (source relation, CTE
    prefix, gram width), emitting ``{p}out(doc_id, removed_chars,
    ctext)``. ``src`` must provide (doc_id, text)."""
    return f"""{p}bodies AS (
                SELECT doc_id, text AS body, CAST(length(text) AS BIGINT) AS clen
                FROM {src}
            ), {p}soffs0 AS (
                SELECT doc_id, body,
                       unnest(range(CAST(length(body) - {n - 1} AS BIGINT))) AS o
                FROM {p}bodies WHERE length(body) >= {n}
            ), {p}soffs AS (
                SELECT doc_id,
                       CAST(o AS BIGINT) AS s,
                       CAST(o + {n} AS BIGINT) AS e,
                       substr(body, CAST(o + 1 AS INT), {n}) AS gram
                FROM {p}soffs0
            ), {p}rem AS (
                SELECT doc_id, s, e FROM (
                    SELECT doc_id, s, e,
                           row_number() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn,
                           count(*) OVER (PARTITION BY gram) AS occ
                    FROM {p}soffs
                ) WHERE occ >= 2 AND rn > 1
            ), {p}isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (
                           PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS newi
                FROM {p}rem
            ), {p}isl2 AS (
                SELECT doc_id, s, e,
                       sum(newi) OVER (PARTITION BY doc_id ORDER BY s, e) AS islid
                FROM {p}isl
            ), {p}islands AS (
                SELECT doc_id, CAST(min(s) AS BIGINT) AS isl_s,
                       CAST(max(e) AS BIGINT) AS isl_e, FALSE AS sent
                FROM {p}isl2 GROUP BY doc_id, islid
            ), {p}marks AS (
                SELECT doc_id, isl_s, isl_e, sent FROM {p}islands
                UNION ALL
                SELECT doc_id, clen, clen, TRUE FROM {p}bodies
            ), {p}pieces AS (
                SELECT m.doc_id, isl_s, isl_e, sent,
                       substring(body, CAST(prev_e + 1 AS INT),
                                 CAST(isl_s - prev_e AS INT)) AS piece
                FROM (
                    SELECT doc_id, isl_s, isl_e, sent,
                           coalesce(lag(isl_e) OVER (
                               PARTITION BY doc_id ORDER BY isl_s, isl_e
                           ), 0) AS prev_e
                    FROM {p}marks
                ) m JOIN {p}bodies USING (doc_id)
            ), {p}out AS MATERIALIZED (
                SELECT doc_id,
                       CAST(sum(CASE WHEN NOT sent THEN isl_e - isl_s ELSE 0 END) AS BIGINT) AS removed_chars,
                       string_agg(piece, '' ORDER BY isl_s, isl_e) AS ctext
                FROM {p}pieces GROUP BY doc_id
            )"""


def _pipeline_clean_ctes(substr_mode: str = "words") -> str:
    """The composed curation-cascade CTE chain shared by the rollup
    (pipeline_clean), export (pipeline_clean_docs), and byte-substring
    (pipeline_clean_bytes) oracles: the per-stage fragments chained in
    the Spark cascade's order (clean.py), each stage's output relation
    feeding the next as its corpus. ``substr_mode`` swaps stage 4
    between the word-5-gram and byte-30-gram variants (30 chars is the
    active-and-comparable width on the synthetic corpus: 307 vs the
    word default's 314 removed chars at sf0.01), mirroring the
    cascade's ``substr_mode`` parameter."""
    substr = (
        _substr_bytes_cte("surv", "c4", n=30)
        if substr_mode == "bytes"
        else _substr_clean_cte("surv", "c4", n=5)
    )
    frags = ",\n            ".join([
        _boiler_clean_cte("documents", "c1"),
        "docs1 AS MATERIALIZED (SELECT doc_id, source, n_boiler, text FROM c1out)",
        "exact_keep AS (SELECT min(doc_id) AS keep_id FROM docs1 GROUP BY md5(text))",
        """exflag AS MATERIALIZED (
                SELECT d.doc_id, d.source, d.n_boiler, d.text,
                       (ek.keep_id IS NOT NULL) AS exact_kept
                FROM docs1 d LEFT JOIN exact_keep ek ON ek.keep_id = d.doc_id
            )""",
        "exsurv AS (SELECT doc_id, text FROM exflag WHERE exact_kept)",
        _neardup_mins_cte("exsurv", "c3"),
        """nearflag AS MATERIALIZED (
                SELECT f.doc_id, f.source, f.n_boiler, f.text, f.exact_kept,
                       CASE WHEN f.exact_kept
                            THEN f.doc_id = LEAST(f.doc_id, coalesce(m.mn, f.doc_id)) END AS near_keep
                FROM exflag f LEFT JOIN c3mins m ON m.u = f.doc_id
            )""",
        "surv AS (SELECT doc_id, text FROM nearflag WHERE exact_kept AND near_keep)",
        substr,
        "gin AS (SELECT doc_id, ctext AS text FROM c4out)",
        _gopher_bp_cte("gin", "c5"),
        """flags AS (
                SELECT n.doc_id, n.source, n.n_boiler, n.exact_kept, n.near_keep,
                       s.removed_chars, g.n_words,
                       (g.n_words BETWEEN 30 AND 100000 AND g.mean_wl_bp BETWEEN 3000 AND 10000
                        AND g.symbol_bp <= 100 AND g.bullet_bp <= 900
                        AND g.ellipsis_bp <= 300 AND g.alpha_bp >= 800
                        AND g.stop_hits >= 1) AS gopher_keep
                FROM nearflag n
                LEFT JOIN c4out s ON s.doc_id = n.doc_id
                LEFT JOIN c5out g ON g.doc_id = n.doc_id
            )""",
    ])
    return f"WITH RECURSIVE {frags}"


def _pipeline_clean_sql(substr_mode: str = "words") -> str:
    return _pipeline_clean_ctes(substr_mode) + """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_raw,
                   CAST(sum(n_boiler) AS BIGINT) AS boiler_segs_removed,
                   CAST(sum(CASE WHEN NOT exact_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_removed,
                   CAST(sum(CASE WHEN exact_kept AND NOT near_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_near_removed,
                   CAST(sum(CASE WHEN exact_kept AND near_keep THEN removed_chars ELSE 0 END) AS BIGINT) AS substr_chars_removed,
                   CAST(sum(CASE WHEN exact_kept AND near_keep AND NOT gopher_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_removed,
                   CAST(sum(CASE WHEN exact_kept AND near_keep AND gopher_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
                   CAST(sum(CASE WHEN exact_kept AND near_keep AND gopher_keep THEN n_words ELSE 0 END) AS BIGINT) AS sum_words_final
            FROM flags GROUP BY source"""


def _pipeline_clean_docs_sql() -> str:
    """The export side: one row per surviving doc with its fully-cleaned
    text — the same CTE chain, final SELECT = survivors instead of the
    per-source rollup. The `flags` CTE carries no text, so the cleaned
    body joins from c4out (the substring stage's output) directly."""
    return _pipeline_clean_ctes() + """
            SELECT f.doc_id, f.source, s.ctext AS clean_text, f.n_words
            FROM flags f JOIN c4out s ON s.doc_id = f.doc_id
            WHERE f.exact_kept AND f.near_keep AND f.gopher_keep"""


def _pipeline_clean_pack_sql(capacity: int = 512) -> str:
    """Export -> packing: the cascade CTE chain's survivors tokenized
    (BPE regex over the fully-cleaned text) and run through the same
    doc_id-ordered running-sum prefix the docs_pack_sequences oracle
    uses, at the query's capacity."""
    return _pipeline_clean_ctes() + f""",
            packsurv AS (
                SELECT f.doc_id, f.source, f.n_words,
                       CAST(len(regexp_extract_all(s.ctext, '{_BPE_PAT}', 1)) AS BIGINT) AS n_tok
                FROM flags f JOIN c4out s ON s.doc_id = f.doc_id
                WHERE f.exact_kept AND f.near_keep AND f.gopher_keep
            ),
            packcum AS (
                SELECT doc_id, source, n_words, n_tok,
                       CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) - n_tok AS start_off
                FROM packsurv
            )
            SELECT doc_id, source, n_words, n_tok, start_off,
                   start_off // {capacity} AS first_bin,
                   CASE WHEN n_tok > 0 THEN (start_off + n_tok - 1) // {capacity}
                        ELSE start_off // {capacity} END AS last_bin,
                   (CASE WHEN n_tok > 0 THEN (start_off + n_tok - 1) // {capacity}
                         ELSE start_off // {capacity} END) - start_off // {capacity} + 1 AS n_bins
            FROM packcum"""


def oracle_sql() -> dict[str, str]:
    en = _lang_count(["the", "and", "of", "to", "is"])
    fr = _lang_count(["le", "la", "et", "les", "des"])
    de = _lang_count(["der", "die", "und", "das", "ist"])
    es = _lang_count(["el", "los", "que", "de", "y"])
    cjk = "len(regexp_extract_all(text, '[一-鿿]', 0)) > 0"
    pred = f"""CASE WHEN {cjk} THEN 'zh'
        WHEN c_en > 0 AND c_en >= c_fr AND c_en >= c_de AND c_en >= c_es THEN 'en'
        WHEN c_fr > 0 AND c_fr >= c_de AND c_fr >= c_es THEN 'fr'
        WHEN c_de > 0 AND c_de >= c_es THEN 'de'
        WHEN c_es > 0 THEN 'es' ELSE 'und' END"""

    d = {
        "crawl_canonical_keys": """
            SELECT 'HTTP://Orders.Example.COM:80/o/' || o_orderkey || '?b=2&a=1#frag' AS raw_url,
                   'http://orders.example.com/o/' || o_orderkey || '?a=1&b=2' AS curl,
                   md5('http://orders.example.com/o/' || o_orderkey || '?a=1&b=2' || 'GET') AS key
            FROM orders
        """,
        "crawl_seen_antijoin": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey AND o.o_orderkey % 3 = 0)
        """,
        "crawl_wave_topk": """
            SELECT user_id, event_id, rn FROM (
                SELECT user_id, event_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn <= 3
        """,
        "crawl_round_metrics": """
            SELECT event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY event_type
        """,
        "crawl_priority_order": """
            SELECT o_orderkey, o_orderpriority FROM orders
            ORDER BY o_orderpriority, o_orderdate, o_orderkey LIMIT 50
        """,
        "crawl_retry_union": """
            SELECT event_id, user_id, 0 AS attempt FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT event_id, user_id, 1 AS attempt FROM events e
            WHERE event_type = 'purchase'
              AND NOT EXISTS (SELECT 1 FROM events c
                              WHERE c.event_type = 'click' AND c.event_id = e.event_id)
        """,
        "crawl_proxy_rotation": """
            SELECT o_orderkey,
                   o_orderkey % 3 AS proxy_idx,
                   (['http://proxy0:8888', 'http://proxy1:8888', 'http://proxy2:8888'])[(o_orderkey % 3) + 1] AS proxy
            FROM orders
        """,
        "crawl_content_filter": """
            SELECT doc_id, source FROM documents
            WHERE regexp_matches(text, '(slow fast|sunroom)')
        """,
        "crawl_field_extraction": """
            SELECT doc_id,
                   regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
                   regexp_extract(text, '(\\d{1,9})', 1) AS first_num_s,
                   CAST(nullif(regexp_extract(text, '(\\d{1,9})', 1), '') AS BIGINT) AS first_num
            FROM documents
        """,
        "crawl_body_validity": """
            SELECT doc_id, length(text) AS body_len, length(text) >= 6000 AS ok
            FROM documents
        """,
        "crawl_budget_math": """
            SELECT s_suppkey, tier1_adm, tier2_adm,
                   LEAST(tier1_adm, tier2_adm) AS admissible
            FROM (
                SELECT s_suppkey,
                       LEAST((CAST(floor(abs(s_acctbal)) AS BIGINT) % 180
                              + (s_suppkey % 20 + 1) * 60) // 3,
                             (s_suppkey % 20 + 1) * 40) AS tier1_adm,
                       ((s_suppkey % 7 + 1) * 60) // 60 AS tier2_adm
                FROM supplier
            )
        """,
        "crawl_typed_results": """
            SELECT p_brand AS brand,
                   p_type AS ptype,
                   CAST(NULL AS VARCHAR) AS missing,
                   'http://parts.example.com/p/' || p_partkey AS url,
                   1 AS round
            FROM part
        """,
        "events_json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
            FROM events
        """,
        "events_sessionize": """
            WITH x AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
                FROM events
            ), y AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) > 1800 THEN 1 ELSE 0 END AS brk
                FROM x
            ), z AS (
                SELECT user_id,
                       CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
                FROM y
            )
            SELECT user_id, sess_id, count(*) AS n_events FROM z GROUP BY user_id, sess_id
        """,
        # oracle is the NAIVE theta-join — algorithmic diversity vs the
        # bin+refine Spark plan
        "events_interval_join": """
            WITH wins AS (
                SELECT user_id,
                       min(epoch_us(CAST(ts AS TIMESTAMP))) AS w_start_us
                FROM events GROUP BY user_id
            ),
            w2 AS (
                SELECT user_id, w_start_us,
                       w_start_us + CAST(48 AS BIGINT) * 3600 * 1000000 AS w_end_us
                FROM wins
            ),
            pts AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS p_us FROM events)
            SELECT w2.user_id, w2.w_start_us,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM w2 JOIN pts
              ON pts.p_us >= w2.w_start_us AND pts.p_us < w2.w_end_us
            GROUP BY 1, 2
        """,
        "events_anomaly": """
            WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS d0,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY 1, 2
            ),
            ranked AS (
                SELECT event_type, d0, n_events,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY n_events, d0) AS rk,
                       count(*) OVER (PARTITION BY event_type) AS n_days
                FROM daily
            ),
            med AS (
                SELECT event_type, n_events AS med
                FROM ranked WHERE rk = (n_days + 1) // 2
            )
            SELECT daily.event_type, strftime(d0, '%Y-%m-%d') AS d,
                   n_events, med, (2 * n_events > 3 * med) AS is_spike
            FROM daily JOIN med USING (event_type)
        """,
        "events_retention": """
            WITH firsts AS (
                SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
                FROM events GROUP BY user_id
            ),
            active AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
            )
            SELECT strftime(f.cohort_date, '%Y-%m-%d') AS cohort_date,
                   CAST(date_diff('day', f.cohort_date, a.d) AS INT) AS offset_days,
                   CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
            FROM active a JOIN firsts f USING (user_id)
            GROUP BY 1, 2
        """,
        "events_asof_join": """
            WITH m AS (
                SELECT event_id, ts, user_id, event_type, value,
                       CASE WHEN event_type = 'click' THEN ts END AS r_ts,
                       CASE WHEN event_type = 'click' THEN value END AS r_value
                FROM events WHERE event_type IN ('purchase', 'click')
            ), c AS (
                SELECT event_id, ts, user_id, event_type, value,
                       last_value(r_ts IGNORE NULLS) OVER w AS prev_ts,
                       last_value(r_value IGNORE NULLS) OVER w AS prev_value
                FROM m
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            )
            SELECT event_id, user_id, value, prev_value,
                   epoch_us(ts) - epoch_us(prev_ts) AS gap_us
            FROM c WHERE event_type = 'purchase'
        """,
        "text_repetition": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), b AS (
                SELECT doc_id, len(toks) AS n_tokens,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(generate_series(1, len(toks) - 1),
                                                i -> toks[i] || ' ' || toks[i + 1])
                            ELSE CAST([] AS VARCHAR[]) END AS bigrams
                FROM t
            ), p AS (
                SELECT doc_id, n_tokens, len(bigrams) AS n_bigrams,
                       len(bigrams) - len(list_distinct(bigrams)) AS dup_bigrams
                FROM b
            ), tc AS (
                SELECT doc_id, unnest(toks) AS tok FROM t
            ), topt AS (
                SELECT doc_id, max(c) AS top_tok_n
                FROM (SELECT doc_id, tok, count(*) AS c FROM tc GROUP BY doc_id, tok)
                GROUP BY doc_id
            )
            SELECT p.doc_id, n_tokens,
                   CAST(coalesce(top_tok_n, 0) AS BIGINT) AS top_tok_n,
                   CASE WHEN n_tokens > 0
                        THEN (1000 * CAST(coalesce(top_tok_n, 0) AS BIGINT)) // n_tokens
                        ELSE 0 END AS top_tok_bp,
                   n_bigrams,
                   CASE WHEN n_bigrams > 0
                        THEN (1000 * CAST(dup_bigrams AS BIGINT)) // n_bigrams
                        ELSE 0 END AS dup_bigram_bp
            FROM p LEFT JOIN topt ON p.doc_id = topt.doc_id
        """,
        "text_pii_scrub": r"""
            WITH a AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g') AS no_email
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(no_email, '[0-9]{7,}', '<NUM>', 'g') AS clean_text,
                   n_emails,
                   len(regexp_extract_all(no_email, '[0-9]{7,}')) AS n_longnums
            FROM a
        """,
        "docs_profile": f"""
            WITH one AS (
                SELECT CAST(count(*) AS BIGINT) AS _n,
                       {", ".join(
                           f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}__nn,"
                           f" CAST(count(DISTINCT {c}) AS BIGINT) AS {c}__nd,"
                           f" min(CAST({c} AS VARCHAR)) AS {c}__mn,"
                           f" max(CAST({c} AS VARCHAR)) AS {c}__mx"
                           for c in ("doc_id", "text", "lang", "source", "n_chars")
                       )}
                FROM documents
            )
            {" UNION ALL ".join(
                f"SELECT '{c}' AS column, _n AS n_rows, {c}__nn AS n_null,"
                f" {c}__nd AS n_distinct, {c}__mn AS min_s, {c}__mx AS max_s FROM one"
                for c in ("doc_id", "text", "lang", "source", "n_chars")
            )}
        """,
        "events_cube": """
            SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(grouping(event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS INT) AS gid
            FROM events
            GROUP BY CUBE (event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d'))
        """,
        "text_cooccurrence": f"""
            WITH tokpos AS (
                SELECT doc_id, unnest({_TOKS}) AS t,
                       unnest(range(len({_TOKS}))) AS pos
                FROM documents
            ),
            pairs AS (
                SELECT t AS tok_a,
                       lead(t, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS tok_b
                FROM tokpos
                UNION ALL
                SELECT t,
                       lead(t, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                FROM tokpos
            ),
            pc AS (
                SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_pair
                FROM pairs WHERE tok_b IS NOT NULL
                GROUP BY 1, 2 HAVING count(*) >= 5
            ),
            uni AS (
                SELECT t AS tok, CAST(count(*) AS BIGINT) AS n
                FROM tokpos GROUP BY t
            ),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS t_corpus FROM tokpos)
            SELECT tok_a, tok_b, n_pair, ua.n AS n_a, ub.n AS n_b,
                   CAST(length(bin(((t_corpus // ua.n) * n_pair) // ub.n + 1)) AS INT) AS pmi_bits
            FROM pc
            JOIN uni ua ON ua.tok = tok_a
            JOIN uni ub ON ub.tok = tok_b
            CROSS JOIN tot
            ORDER BY n_pair DESC, tok_a, tok_b LIMIT 100
        """,
        "text_countmin": f"""
            WITH inst AS (
                SELECT unnest({_TOKS}) AS tok FROM documents
            ),
            cells AS (
                {" UNION ALL ".join(
                    f"SELECT {j} AS j, ('0x' || substr(md5('{j}:' || tok), 1, 8))::BIGINT % 1024 AS c FROM inst"
                    for j in range(4)
                )}
            ),
            sketch AS (
                SELECT j, c, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY j, c
            ),
            truec AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS true_n
                FROM inst GROUP BY tok
            ),
            probe AS (
                SELECT tok, true_n FROM truec
                ORDER BY true_n DESC, tok ASC LIMIT 20
            ),
            pcells AS (
                {" UNION ALL ".join(
                    f"SELECT tok, true_n, {j} AS j, ('0x' || substr(md5('{j}:' || tok), 1, 8))::BIGINT % 1024 AS c FROM probe"
                    for j in range(4)
                )}
            )
            SELECT p.tok, p.true_n, min(s.n) AS est_n,
                   min(s.n) - p.true_n AS overcount
            FROM pcells p JOIN sketch s ON s.j = p.j AND s.c = p.c
            GROUP BY p.tok, p.true_n
        """,
        "text_novelty": f"""
            WITH {_SHINGLES_CTE},
            uniq AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) = 1),
            per_doc AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
                FROM sh GROUP BY doc_id
            ),
            per_uniq AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_unique
                FROM sh JOIN uniq USING (shingle) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(n_shingles, 0) AS n_shingles,
                   coalesce(n_unique, 0) AS n_unique,
                   CASE WHEN coalesce(n_shingles, 0) > 0
                        THEN (10000 * coalesce(n_unique, 0)) // n_shingles
                        ELSE 0 END AS novelty_bp
            FROM documents d
            LEFT JOIN per_doc USING (doc_id)
            LEFT JOIN per_uniq USING (doc_id)
        """,
        "text_bm25_topk": f"""
            WITH inst AS (
                SELECT doc_id, unnest({_TOKS}) AS term FROM documents
            ),
            tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM inst WHERE term IN ('spark', 'hash', 'window')
                GROUP BY doc_id, term
            ),
            dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ),
            dl AS (
                SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents
            ),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
            t AS (SELECT CAST(count(*) AS BIGINT) AS t_corpus FROM inst),
            scored AS (
                SELECT tf.doc_id,
                       (10000 * CAST(length(bin(n.n_corpus // d.df)) AS BIGINT)
                        * 22000 * tf.tf)
                       // (10000 * tf.tf + 3000
                           + 9 * ((1000 * dl.dl * n.n_corpus) // t.t_corpus))
                       AS partial
                FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id)
                CROSS JOIN n CROSS JOIN t
            )
            SELECT doc_id, CAST(sum(partial) AS BIGINT) AS score
            FROM scored GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 10
        """,
        "text_tfidf_topterms": f"""
            WITH inst AS (
                SELECT doc_id, unnest({_TOKS}) AS term FROM documents
            ),
            base AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM inst GROUP BY doc_id, term
            ),
            dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df FROM base GROUP BY term
            ),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
            scored AS (
                SELECT b.doc_id, b.term, b.tf, d.df,
                       b.tf * CAST(length(bin(n.n_corpus // d.df)) AS BIGINT) AS score
                FROM base b JOIN dfreq d USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, df, score, rk FROM (
                SELECT doc_id, term, tf, df, score,
                       CAST(row_number() OVER (PARTITION BY doc_id
                                               ORDER BY score DESC, term) AS INT) AS rk
                FROM scored
            ) WHERE rk <= 5
        """,
        "text_vocab_topk": f"""
            WITH inst AS (
                SELECT lang, unnest({_TOKS}) AS tok FROM documents
            ),
            c AS (SELECT lang, tok, count(*) AS n FROM inst GROUP BY lang, tok)
            SELECT lang, tok, n, rk FROM (
                SELECT lang, tok, n,
                       CAST(row_number() OVER (PARTITION BY lang
                                               ORDER BY n DESC, tok) AS INT) AS rk
                FROM c
            ) WHERE rk <= 20
        """,
        "text_segment_dedup": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) > 0
                            THEN list_transform(generate_series(0, (len(toks) - 1) // 10),
                                                i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
                            ELSE CAST([] AS VARCHAR[]) END AS segs
                FROM t
            ), inst AS (
                SELECT doc_id, md5(unnest(segs)) AS sh FROM s
            ), dfreq AS (
                SELECT sh, count(DISTINCT doc_id) AS df FROM inst GROUP BY sh
            ), per AS (
                SELECT doc_id, count(*) AS n_segments,
                       sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_dup
                FROM inst JOIN dfreq USING (sh) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
                   CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_segments,
                   CASE WHEN coalesce(n_segments, 0) > 0
                        THEN (1000 * CAST(coalesce(n_dup, 0) AS BIGINT)) // n_segments
                        ELSE 0 END AS dup_seg_bp
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "text_lm_score": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), inst AS (
                SELECT doc_id, toks[i] AS t1, toks[i + 1] AS t2
                FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
                WHERE len(toks) >= 2
            ), doc_bg AS (
                SELECT doc_id, t1, t2, count(*) AS n
                FROM inst GROUP BY doc_id, t1, t2
            ), bg AS (
                SELECT t1, t2, sum(n) AS cb FROM doc_bg GROUP BY t1, t2
            ), ctx AS (
                SELECT t1, sum(cb) AS cu FROM bg GROUP BY t1
            ), scored AS (
                SELECT doc_id, n,
                       (1000 * CAST(cb AS BIGINT)) // cu AS p_bp
                FROM doc_bg JOIN bg USING (t1, t2) JOIN ctx USING (t1)
            ), per AS (
                SELECT doc_id, sum(n) AS n_bigrams,
                       sum(n * p_bp) // sum(n) AS lm_bp
                FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(coalesce(lm_bp, 0) AS BIGINT) AS lm_bp
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "docs_template_stats": f"""
            WITH b AS (
                SELECT doc_id,
                       md5(array_to_string({_TOKS}[1:8], ' ')) AS template_fp
                FROM documents
            ), dfreq AS (
                SELECT template_fp, count(DISTINCT doc_id) AS template_df
                FROM b GROUP BY template_fp
            )
            SELECT doc_id, template_fp,
                   CAST(template_df AS BIGINT) AS template_df,
                   template_df >= 2 AS is_template
            FROM b JOIN dfreq USING (template_fp)
        """,
        "crawl_robots_parse": r"""
            WITH b AS (
                SELECT regexp_replace(lower(n_name), ' ', '-', 'g') || '.example.com' AS host,
                       '# robots for ' || regexp_replace(lower(n_name), ' ', '-', 'g') || '.example.com'
                       || chr(10) || 'User-Agent: googlebot'
                       || chr(10) || 'Disallow: /secret'
                       || chr(10) || ''
                       || chr(10) || 'User-agent: *'
                       || chr(10) || 'Disallow: /tag/' || CAST(n_nationkey AS INT)
                       || chr(10) || CASE WHEN n_nationkey % 3 = 0
                                          THEN 'Disallow:' ELSE 'Disallow: /tmp' END
                       || chr(10) || 'Crawl-delay: ' || CAST(n_nationkey % 5 AS INT)
                       || chr(10) || 'Disallow: /x # trailing comment' AS body
                FROM nation
            ), parts AS (
                SELECT host, string_split(body, chr(10)) AS ls FROM b
            ), lines AS (
                SELECT host, i - 1 AS pos,
                       trim(regexp_replace(ls[i], '#.*$', '')) AS line
                FROM parts, unnest(generate_series(1, len(ls))) g(i)
            ), cl AS (
                SELECT host, pos,
                       coalesce(regexp_extract(line, '(?i)^user-agent:\s*(.*)$', 1), '') AS ua,
                       coalesce(regexp_extract(line, '(?i)^disallow:\s*(.*)$', 1), '') AS disallow,
                       coalesce(regexp_extract(line, '(?i)^crawl-delay:\s*([0-9]+)$', 1), '') AS delay
                FROM lines
            ), gov AS (
                SELECT *, last_value(CASE WHEN ua <> '' THEN ua END IGNORE NULLS)
                          OVER (PARTITION BY host ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS gov
                FROM cl
            )
            SELECT host, 'disallow' AS rule_kind, disallow AS rule_value
            FROM gov WHERE gov = '*' AND disallow <> ''
            UNION ALL
            SELECT host, 'crawl_delay_ms' AS rule_kind,
                   CAST(CAST(delay AS BIGINT) * 1000 AS VARCHAR) AS rule_value
            FROM gov WHERE gov = '*' AND delay <> ''
        """,
        "dedup_winnow": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), hh AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 3 THEN CAST([] AS BIGINT[])
                            ELSE list_transform(generate_series(0, len(toks) - 3),
                                 i -> CAST(('0x' || substr(md5(array_to_string(toks[i + 1 : i + 3], ' ')), 1, 15)) AS BIGINT))
                       END AS h
                FROM t
            ), sig AS (
                SELECT doc_id,
                       CASE WHEN len(h) = 0 THEN h
                            WHEN len(h) < 4 THEN [list_aggregate(h, 'min')]
                            ELSE list_distinct(list_transform(generate_series(0, len(h) - 4),
                                 j -> list_aggregate(h[j + 1 : j + 4], 'min')))
                       END AS fps
                FROM hh
            ), inst AS (
                SELECT doc_id, unnest(fps) AS fp FROM sig
            ), cold AS (
                SELECT * FROM inst
                WHERE fp NOT IN (SELECT fp FROM inst GROUP BY fp HAVING count(*) > 100)
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM cold a JOIN cold b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2
        """,
        "crawl_sitemap_parse": r"""
            WITH b AS (
                SELECT 's' || CAST(s_suppkey AS BIGINT) || '.shop.example' AS host,
                       '<?xml version="1.0"?>' || chr(10)
                       || '<urlset>' || chr(10)
                       || '<url><loc>https://' || ('s' || CAST(s_suppkey AS BIGINT) || '.shop.example')
                       || '/p/' || CAST(s_suppkey AS BIGINT) || '-1</loc></url>' || chr(10)
                       || '<url>' || chr(10)
                       || '<loc> https://' || ('s' || CAST(s_suppkey AS BIGINT) || '.shop.example')
                       || '/p/' || CAST(s_suppkey AS BIGINT) || '-2 </loc>' || chr(10)
                       || '</url>' || chr(10)
                       || '</urlset>' || chr(10)
                       || CASE WHEN s_suppkey % 2 = 0
                               THEN '<sitemapindex><sitemap><loc>https://'
                                    || ('s' || CAST(s_suppkey AS BIGINT) || '.shop.example')
                                    || '/sitemap-' || CAST(s_suppkey AS BIGINT)
                                    || '.xml</loc></sitemap></sitemapindex>'
                               ELSE '' END AS body
                FROM supplier
            )
            SELECT host, 'url' AS kind,
                   unnest(regexp_extract_all(body, '<url>\s*<loc>\s*([^<]+?)\s*</loc>', 1)) AS loc
            FROM b
            UNION ALL
            SELECT host, 'sitemap' AS kind,
                   unnest(regexp_extract_all(body, '<sitemap>\s*<loc>\s*([^<]+?)\s*</loc>', 1)) AS loc
            FROM b
        """,
        "text_bpe_pairs": f"""
            WITH tok AS (
                SELECT unnest({_TOKS}) AS tok FROM documents
            ), tc AS (
                SELECT tok, count(*) AS tc FROM tok GROUP BY tok
            ), pairs AS (
                SELECT substr(tok, i, 1) || ' ' || substr(tok, i + 1, 1) AS pair, tc
                FROM tc, unnest(generate_series(1, length(tok) - 1)) g(i)
                WHERE length(tok) >= 2
            ), c AS (
                SELECT pair, CAST(sum(tc) AS BIGINT) AS n FROM pairs GROUP BY pair
            )
            SELECT pair, n, rk FROM (
                SELECT pair, n,
                       CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rk
                FROM c
            ) WHERE rk <= 50
        """,
        "docs_mixture_weights": """
            WITH tgt(lang, target_bp) AS (
                VALUES ('de', 150), ('en', 400), ('es', 150), ('fr', 150), ('zh', 150)
            ), c AS (
                SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
            ), tot AS (
                SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM c
            )
            SELECT t.lang,
                   CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
                   CAST((1000 * CAST(coalesce(n_docs, 0) AS BIGINT)) // n_total AS BIGINT) AS share_bp,
                   CAST(target_bp AS INT) AS target_bp,
                   CAST((CAST(target_bp AS BIGINT) * n_total) // 1000 AS BIGINT) AS expected_n,
                   CAST(CASE WHEN coalesce(n_docs, 0) > 0
                        THEN (1000 * ((CAST(target_bp AS BIGINT) * n_total) // 1000)) // n_docs
                        ELSE 0 END AS BIGINT) AS weight_bp
            FROM tgt t LEFT JOIN c USING (lang) CROSS JOIN tot
        """,
        "docs_interleave_spans": _SPANS_CTE + """
            SELECT * FROM spans
        """,
        "docs_interleave_stats": _SPANS_CTE + """
            , per AS (
                SELECT doc_id, count(*) AS n_spans,
                       sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS n_text_spans,
                       sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS n_media_spans,
                       sum(CASE WHEN kind = 'text' THEN length(text) ELSE 0 END) AS text_chars,
                       max("offset") AS max_offset,
                       count(DISTINCT "offset") AS n_offsets
                FROM spans GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(n_text_spans, 0) AS BIGINT) AS n_text_spans,
                   CAST(coalesce(n_media_spans, 0) AS BIGINT) AS n_media_spans,
                   CAST(coalesce(text_chars, 0) AS BIGINT) AS text_chars,
                   coalesce(max_offset + 1, 0) = coalesce(n_offsets, 0)
                       AND coalesce(n_offsets, 0) = coalesce(n_spans, 0) AS offsets_ok
            FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
            LEFT JOIN per USING (doc_id)
        """,
        "docs_interleave_render": _SPANS_CTE + """
            , per AS (
                SELECT doc_id,
                       md5(string_agg(
                           CASE WHEN kind = 'text' THEN text
                                ELSE '<media:' || media_ref || '>' END,
                           ' ' ORDER BY "offset")) AS render_fp,
                       count(*) AS n_pieces,
                       sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS n_media
                FROM spans GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(render_fp, md5('')) AS render_fp,
                   CAST(coalesce(n_pieces, 0) AS BIGINT) AS n_pieces,
                   CAST(coalesce(n_media, 0) AS BIGINT) AS n_media
            FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
            LEFT JOIN per USING (doc_id)
        """,
        "text_quality_model": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), inst AS (
                SELECT doc_id, unnest(toks) AS tok FROM t
            ), per AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum((7 * length(tok) + ascii(tok)) % 13 - 6)
                            AS BIGINT) AS w_sum
                FROM inst GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce((10000 * w_sum) // n_tokens, 0) AS BIGINT)
                       AS score_bp,
                   coalesce((10000 * w_sum) // n_tokens, 0) >= 0 AS keep
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "text_ccnet_buckets": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), inst AS (
                SELECT doc_id, toks[i] AS t1, toks[i + 1] AS t2
                FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
                WHERE len(toks) >= 2
            ), doc_bg AS (
                SELECT doc_id, t1, t2, count(*) AS n
                FROM inst GROUP BY doc_id, t1, t2
            ), bg AS (
                SELECT t1, t2, sum(n) AS cb FROM doc_bg GROUP BY t1, t2
            ), ctx AS (
                SELECT t1, sum(cb) AS cu FROM bg GROUP BY t1
            ), scored AS (
                SELECT doc_id, n,
                       (1000 * CAST(cb AS BIGINT)) // cu AS p_bp
                FROM doc_bg JOIN bg USING (t1, t2) JOIN ctx USING (t1)
            ), per AS (
                SELECT doc_id, sum(n * p_bp) // sum(n) AS lm_bp
                FROM scored GROUP BY doc_id
            ), lm AS (
                SELECT d.doc_id, d.lang,
                       CAST(coalesce(lm_bp, 0) AS BIGINT) AS lm_bp
                FROM documents d LEFT JOIN per USING (doc_id)
            ), hist AS (
                SELECT lang, lm_bp, count(*) AS c FROM lm GROUP BY lang, lm_bp
            ), cum AS (
                SELECT lang, lm_bp,
                       sum(c) OVER (PARTITION BY lang ORDER BY lm_bp DESC) - c
                           AS cum,
                       sum(c) OVER (PARTITION BY lang) AS n
                FROM hist
            )
            SELECT lm.doc_id, lm.lang, lm.lm_bp,
                   CASE WHEN 3 * cum < n THEN 'head'
                        WHEN 3 * cum < 2 * n THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM lm JOIN cum USING (lang, lm_bp)
        """,
        "crawl_trap_templates": """
            WITH u AS (
                SELECT 'http://h' || (o_custkey % 20) || '.shop.example' ||
                       CASE WHEN o_orderkey % 3 = 0 THEN '/cal/' || o_orderdate
                            WHEN o_orderkey % 3 = 1 THEN '/p/' || o_orderpriority
                            ELSE '/item/' || o_orderkey || '/view' END AS url
                FROM orders
            ), p AS (
                SELECT lower(regexp_extract(url,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
                       regexp_replace(
                           regexp_extract(url,
                               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                           '[0-9]+([-._][0-9]+)*', 'N', 'g') AS template,
                       url
                FROM u
            )
            SELECT host, template,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
                   count(DISTINCT url) >= 100 AS is_trap
            FROM p GROUP BY host, template
        """,
        "crawl_refetch_schedule": """
            WITH h AS (
                SELECT user_id AS url_id, ts, event_id AS fetch_id,
                       event_type = 'purchase' AS changed
                FROM events
            ), r AS (
                SELECT url_id, ts, changed,
                       row_number() OVER (PARTITION BY url_id
                                          ORDER BY ts, fetch_id) AS rn
                FROM h
            ), p AS (
                SELECT url_id,
                       CAST(count(*) AS BIGINT) AS n_fetches,
                       max(ts) AS last_ts,
                       CAST(coalesce(max(CASE WHEN changed THEN rn END), 0)
                            AS BIGINT) AS last_change_rn
                FROM r GROUP BY url_id
            )
            SELECT url_id, n_fetches,
                   n_fetches - last_change_rn AS unchanged_streak,
                   CAST(3600 AS BIGINT)
                       << CAST(least(n_fetches - last_change_rn, 8) AS INT)
                       AS interval_s,
                   CAST(floor(epoch(last_ts)) AS BIGINT)
                       + (CAST(3600 AS BIGINT)
                          << CAST(least(n_fetches - last_change_rn, 8) AS INT))
                       AS next_fetch_epoch
            FROM p
        """,
        "crawl_drain_plan": """
            WITH fr AS (
                SELECT 'h' || CAST(o_custkey % 50 AS VARCHAR) AS host FROM orders
            ), per AS (
                SELECT host, CAST(count(*) AS BIGINT) AS n_urls
                FROM fr GROUP BY host
            ), d AS (
                SELECT 'h' || CAST(i AS VARCHAR) AS host,
                       CAST(i % 7 + 1 AS BIGINT) AS crawl_delay_s
                FROM generate_series(0, 49, 3) AS g(i)
            ), j AS (
                SELECT host, n_urls,
                       greatest(1, 60 // greatest(coalesce(crawl_delay_s, 2), 1))
                           AS budget_per_round
                FROM per LEFT JOIN d USING (host)
            ), p AS (
                SELECT host, n_urls, budget_per_round,
                       (n_urls + budget_per_round - 1) // budget_per_round
                           AS rounds_to_drain
                FROM j
            )
            SELECT host, n_urls,
                   CAST(budget_per_round AS BIGINT) AS budget_per_round,
                   CAST(rounds_to_drain AS BIGINT) AS rounds_to_drain,
                   rounds_to_drain = (SELECT max(rounds_to_drain) FROM p)
                       AS is_critical
            FROM p
        """,
        "docs_source_scorecard": f"""
            WITH q AS (
                SELECT doc_id, source,
                       len({_TOKS}) AS n_tokens,
                       CASE WHEN len({_TOKS}) > 0
                            THEN (1000 * CAST(len(regexp_extract_all(lower(text),
                                 '{_STOP_PAT}', 1)) AS BIGINT)) // len({_TOKS})
                            ELSE 0 END AS stop_bp,
                       {en} AS c_en, {fr} AS c_fr, {de} AS c_de, {es} AS c_es,
                       text
                FROM documents
            ), lp AS (
                SELECT doc_id, source, n_tokens, stop_bp,
                       {pred} AS predicted
                FROM q
            ), t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) > 0
                            THEN list_transform(generate_series(0, (len(toks) - 1) // 10),
                                                i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
                            ELSE CAST([] AS VARCHAR[]) END AS segs
                FROM t
            ), inst AS (
                SELECT doc_id, md5(unnest(segs)) AS sh FROM s
            ), dfreq AS (
                SELECT sh, count(DISTINCT doc_id) AS df FROM inst GROUP BY sh
            ), seg AS (
                SELECT doc_id, count(*) AS n_segments,
                       sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_dup
                FROM inst JOIN dfreq USING (sh) GROUP BY doc_id
            ), b AS (
                SELECT lp.source, lp.predicted, lp.n_tokens, lp.stop_bp,
                       coalesce(seg.n_segments, 0) AS n_segments,
                       coalesce(seg.n_dup, 0) AS n_dup
                FROM lp LEFT JOIN seg USING (doc_id)
            ), lc AS (
                SELECT source, predicted, count(*) AS cnt
                FROM b GROUP BY source, predicted
            ), top AS (
                SELECT source, predicted AS top_lang FROM (
                    SELECT source, predicted,
                           row_number() OVER (PARTITION BY source
                                              ORDER BY cnt DESC, predicted ASC)
                               AS rn
                    FROM lc
                ) WHERE rn = 1
            ), agg AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                       CAST(sum(n_tokens) // count(*) AS BIGINT) AS mean_tokens,
                       CAST(sum(stop_bp) // count(*) AS BIGINT) AS mean_stop_bp,
                       CASE WHEN sum(n_segments) > 0
                            THEN CAST(1000 * sum(n_dup) // sum(n_segments) AS BIGINT)
                            ELSE 0 END AS dup_seg_bp
                FROM b GROUP BY source
            )
            SELECT source, n_docs, top_lang, sum_tokens,
                   mean_tokens, mean_stop_bp, dup_seg_bp
            FROM agg JOIN top USING (source)
        """,
        "text_kn_bigram": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), inst AS (
                SELECT toks[i] AS t1, toks[i + 1] AS t2
                FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
                WHERE len(toks) >= 2
            ), bg AS (
                SELECT t1, t2, CAST(count(*) AS BIGINT) AS c12
                FROM inst GROUP BY t1, t2
            ), l AS (
                SELECT t1, sum(c12) AS c1,
                       CAST(count(*) AS BIGINT) AS succ1
                FROM bg GROUP BY t1
            ), r AS (
                SELECT t2, CAST(count(*) AS BIGINT) AS pred2
                FROM bg GROUP BY t2
            ), bt AS (
                SELECT CAST(count(*) AS BIGINT) AS b_types FROM bg
            )
            SELECT t1, t2, c12,
                   CAST(1000000 * (greatest(4 * c12 - 3, 0) * b_types
                                   + 3 * succ1 * pred2)
                        // (4 * c1 * b_types) AS BIGINT) AS kn_ppm
            FROM bg JOIN l USING (t1) JOIN r USING (t2) CROSS JOIN bt
        """,
        "crawl_revisit_bandwidth": """
            WITH h AS (
                SELECT user_id AS url_id, ts, event_id AS fetch_id,
                       event_type = 'purchase' AS changed
                FROM events
            ), r AS (
                SELECT url_id, ts, changed,
                       row_number() OVER (PARTITION BY url_id
                                          ORDER BY ts, fetch_id) AS rn
                FROM h
            ), p AS (
                SELECT url_id,
                       CAST(count(*) - 1 AS BIGINT) AS n_obs,
                       CAST(sum(CASE WHEN rn > 1 AND changed THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_changed,
                       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts)))
                            AS BIGINT) AS span_s
                FROM r GROUP BY url_id
            ), iv AS (
                SELECT url_id,
                       CASE WHEN n_obs > 0 AND span_s > 0 THEN
                           greatest(3600, least(604800,
                               span_s * (2 * n_obs + 1)
                               // greatest(n_obs * (2 * n_changed + 1), 1)))
                       ELSE 604800 END AS interval_s,
                       CASE WHEN n_obs > 0 AND span_s > 0 THEN 0 ELSE 1 END AS cold
                FROM p
            )
            SELECT 'h' || CAST(url_id % 20 AS VARCHAR) AS host,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(sum(cold) AS BIGINT) AS n_cold,
                   CAST(sum(86400 // interval_s) AS BIGINT) AS fetches_per_day,
                   CAST(min(interval_s) AS BIGINT) AS min_interval_s_host
            FROM iv GROUP BY url_id % 20
        """,
        # revisit capacity -> per-round budget, min'd against politeness:
        # same estimator chain as crawl_revisit_bandwidth with the liberal
        # change definition, prorated to an 86400 s macro-round (at which
        # round_s the proration is the identity: budget = max(1, fpd))
        "crawl_budget_from_revisit": """
            WITH h AS (
                SELECT user_id AS url_id, ts, event_id AS fetch_id,
                       event_type IN ('purchase', 'view', 'click') AS changed
                FROM events
            ), r AS (
                SELECT url_id, ts, changed,
                       row_number() OVER (PARTITION BY url_id
                                          ORDER BY ts, fetch_id) AS rn
                FROM h
            ), p AS (
                SELECT url_id,
                       CAST(count(*) - 1 AS BIGINT) AS n_obs,
                       CAST(sum(CASE WHEN rn > 1 AND changed THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_changed,
                       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts)))
                            AS BIGINT) AS span_s
                FROM r GROUP BY url_id
            ), iv AS (
                SELECT url_id,
                       CASE WHEN n_obs > 0 AND span_s > 0 THEN
                           greatest(3600, least(604800,
                               span_s * (2 * n_obs + 1)
                               // greatest(n_obs * (2 * n_changed + 1), 1)))
                       ELSE 604800 END AS interval_s
                FROM p
            ), fpd AS (
                SELECT 'h' || CAST(url_id % 20 AS VARCHAR) AS host,
                       CAST(sum(86400 // interval_s) AS BIGINT) AS fetches_per_day
                FROM iv GROUP BY url_id % 20
            )
            SELECT host, fetches_per_day,
                   CAST(greatest(1, fetches_per_day * 86400 // 86400) AS BIGINT) AS revisit_budget,
                   CAST(86400 // ((CAST(substr(host, 2) AS INT) % 7 + 1) * 7200) AS BIGINT) AS politeness_budget,
                   CAST(least(greatest(1, fetches_per_day),
                              86400 // ((CAST(substr(host, 2) AS INT) % 7 + 1) * 7200)) AS BIGINT) AS budget_per_round
            FROM fpd
        """,
        "crawl_change_rate": """
            WITH h AS (
                SELECT user_id AS url_id, ts, event_id AS fetch_id,
                       event_type = 'purchase' AS changed
                FROM events
            ), r AS (
                SELECT url_id, ts, changed,
                       row_number() OVER (PARTITION BY url_id
                                          ORDER BY ts, fetch_id) AS rn
                FROM h
            ), p AS (
                SELECT url_id,
                       CAST(count(*) - 1 AS BIGINT) AS n_obs,
                       CAST(sum(CASE WHEN rn > 1 AND changed THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_changed,
                       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts)))
                            AS BIGINT) AS span_s
                FROM r GROUP BY url_id
            )
            SELECT url_id, n_obs, n_changed, span_s,
                   CASE WHEN n_obs > 0 AND span_s > 0 THEN
                       round(86400.0
                             * ln(CAST(2 * n_obs + 1 AS DOUBLE)
                                  / CAST(2 * (n_obs - n_changed) + 1 AS DOUBLE))
                             * CAST(n_obs AS DOUBLE) / CAST(span_s AS DOUBLE),
                             6)
                   END AS lambda_per_day
            FROM p
        """,
        "crawl_cuckoo_audit": """
            WITH b AS (SELECT 'b' || o_orderkey AS k FROM orders),
            p AS (SELECT 'p' || o_orderkey AS k FROM orders),
            br AS (
                SELECT k,
                       ('0x' || substr(md5(k), 1, 8))::BIGINT % 16384 AS i1,
                       ('0x' || substr(md5(k), 9, 8))::BIGINT % 255 + 1 AS fp
                FROM b
            ),
            stored AS (SELECT DISTINCT i1 AS bk, fp FROM br),
            pr AS (
                SELECT k,
                       ('0x' || substr(md5(k), 1, 8))::BIGINT % 16384 AS i1,
                       ('0x' || substr(md5(k), 9, 8))::BIGINT % 255 + 1 AS fp
                FROM p
            ),
            pr2 AS (
                SELECT k, i1, fp,
                       xor(i1, ('0x' || substr(md5(CAST(fp AS VARCHAR)), 1, 8))::BIGINT % 16384) AS i2
                FROM pr
            ),
            cand AS (
                SELECT k, fp, i1 AS bk FROM pr2
                UNION ALL
                SELECT k, fp, i2 AS bk FROM pr2
            ),
            fps AS (
                SELECT DISTINCT c.k FROM cand c
                JOIN stored s ON s.bk = c.bk AND s.fp = c.fp
            )
            SELECT CAST(16384 AS BIGINT) AS m_buckets,
                   CAST(8 AS INT) AS f_bits,
                   (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_build,
                   (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_probe,
                   (SELECT CAST(count(*) AS BIGINT) FROM stored) AS n_slots,
                   (SELECT CAST(count(*) AS BIGINT) FROM fps) AS n_false_pos,
                   (SELECT (10000 * (SELECT count(*) FROM fps)) // greatest(count(*), 1) FROM p) AS fpr_bp
        """,
        "crawl_bloom_audit": """
            WITH bkeys AS (
                SELECT 'b' || CAST(o_orderkey AS VARCHAR) AS k FROM orders
            ),
            pkeys AS (
                SELECT 'p' || CAST(o_orderkey AS VARCHAR) AS k FROM orders
            ),
            bpos AS (
                SELECT DISTINCT
                    (('0x' || substr(md5(k), 1, 8))::BIGINT
                     + t.i * ((('0x' || substr(md5(k), 9, 8))::BIGINT) | 1))
                    % 262144 AS pos
                FROM bkeys, unnest([0, 1, 2, 3, 4]) AS t(i)
            ),
            ppos AS (
                SELECT k,
                    (('0x' || substr(md5(k), 1, 8))::BIGINT
                     + t.i * ((('0x' || substr(md5(k), 9, 8))::BIGINT) | 1))
                    % 262144 AS pos
                FROM pkeys, unnest([0, 1, 2, 3, 4]) AS t(i)
            ),
            fps AS (
                SELECT k FROM ppos
                WHERE pos IN (SELECT pos FROM bpos)
                GROUP BY k HAVING count(*) = 5
            )
            SELECT CAST(262144 AS BIGINT) AS m_bits, 5 AS k_hashes,
                   (SELECT CAST(count(*) AS BIGINT) FROM bkeys) AS n_build,
                   (SELECT CAST(count(*) AS BIGINT) FROM pkeys) AS n_probe,
                   (SELECT CAST(count(*) AS BIGINT) FROM bpos) AS n_bits_set,
                   (SELECT CAST(count(*) AS BIGINT) FROM fps) AS n_false_pos,
                   (10000 * (SELECT count(*) FROM fps))
                   // greatest((SELECT count(*) FROM pkeys), 1) AS fpr_bp
        """,
        # recursive one-hop walk — algorithmic diversity vs pointer doubling
        "crawl_redirects": """
            WITH RECURSIVE e AS (
                SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
                       'u' || CAST(doc_id + 1 AS VARCHAR) AS dst
                FROM documents WHERE doc_id % 8 <> 7
            ),
            walk(src, cur, hops) AS (
                SELECT src, dst, CAST(1 AS BIGINT) FROM e
                UNION ALL
                SELECT w.src, e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.cur
            )
            SELECT w.src, w.cur AS final, w.hops, FALSE AS looped
            FROM walk w
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.cur)
        """,
        "crawl_snapshot_diff": """
            WITH base AS (
                SELECT 'https://h' || CAST(user_id % 50 AS VARCHAR)
                       || '.example/' || event_type AS key,
                       CAST(ts AS DATE) AS d
                FROM events
            ),
            old AS (
                SELECT key, CAST(count(*) AS BIGINT) AS old_payload
                FROM base WHERE d < DATE '2024-01-16' GROUP BY key
            ),
            new AS (
                SELECT key, CAST(count(*) AS BIGINT) AS new_payload
                FROM base WHERE d >= DATE '2024-01-16' GROUP BY key
            )
            SELECT key,
                   CASE WHEN old_payload IS NULL THEN 'added'
                        WHEN new_payload IS NULL THEN 'deleted'
                        ELSE 'changed' END AS change,
                   old_payload, new_payload
            FROM old FULL OUTER JOIN new USING (key)
            WHERE old_payload IS NULL OR new_payload IS NULL
               OR old_payload <> new_payload
        """,
        "crawl_host_skew": """
            WITH f AS (
                SELECT 'h' || CASE WHEN o_orderkey % 10 < 5 THEN 0
                                   ELSE o_orderkey % 10 END AS host
                FROM orders
            ), c AS (
                SELECT host, count(*) AS n FROM f GROUP BY host
            ), t10 AS (
                SELECT sum(n) AS top10_n
                FROM (SELECT n FROM c ORDER BY n DESC, host LIMIT 10)
            ), r AS (
                SELECT CAST(sum(n) AS BIGINT) AS n_urls,
                       CAST(count(*) AS BIGINT) AS n_hosts,
                       CAST(max(n) AS BIGINT) AS max_n
                FROM c
            )
            SELECT n_urls, n_hosts,
                   CAST((max_n * 10000) // n_urls AS BIGINT) AS max_host_share_bp,
                   CAST((top10_n * 10000) // n_urls AS BIGINT) AS top10_share_bp,
                   CAST((max_n * 32 + n_urls - 1) // n_urls AS BIGINT) AS salt_factor_32
            FROM r, t10
        """,
        "docs_caption_pairs": _SPANS_CTE + """
            , nb AS (
                SELECT doc_id, "offset", kind, media_ref,
                       CASE WHEN lag(kind) OVER w = 'text'
                            THEN lag(text) OVER w ELSE '' END AS cap_before,
                       CASE WHEN lead(kind) OVER w = 'text'
                            THEN lead(text) OVER w ELSE '' END AS cap_after
                FROM spans
                WINDOW w AS (PARTITION BY doc_id ORDER BY "offset")
            )
            SELECT doc_id, "offset", media_ref,
                   coalesce(cap_before, '') AS cap_before,
                   coalesce(cap_after, '') AS cap_after
            FROM nb WHERE kind = 'media'
        """,
        "docs_modality_mix": f"""
            WITH t AS (
                SELECT lang, CAST(len({_TOKS}) AS BIGINT) AS n_toks FROM documents
            ), p AS (
                SELECT lang, n_toks,
                       (CASE WHEN n_toks > 0 THEN (n_toks - 1) // 5 + 1 ELSE 0 END) // 2
                           AS n_media
                FROM t
            )
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN n_media > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS docs_with_media,
                   CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                   CAST(sum(n_media) AS BIGINT) AS total_media,
                   CAST(CASE WHEN sum(n_media) > 0
                             THEN (sum(n_toks) * 10000) // sum(n_media)
                             ELSE 0 END AS BIGINT) AS tokens_per_media_bp
            FROM p GROUP BY lang
        """,
        "docs_span_dedup": _SPANS_CTE + """
            , ts AS (
                SELECT doc_id, "offset", kind, text, media_ref,
                       md5(text) AS span_fp
                FROM spans WHERE kind = 'text'
            ), dfq AS (
                SELECT span_fp, count(DISTINCT doc_id) AS span_df
                FROM ts GROUP BY span_fp
            )
            SELECT ts.doc_id, ts."offset", ts.kind, ts.text, ts.media_ref,
                   CAST(dfq.span_df AS BIGINT) AS span_df,
                   dfq.span_df >= 2 AS drop_span
            FROM ts JOIN dfq USING (span_fp)
            UNION ALL
            SELECT doc_id, "offset", kind, text, media_ref,
                   CAST(0 AS BIGINT) AS span_df, FALSE AS drop_span
            FROM spans WHERE kind = 'media'
        """,
        "crawl_url_features": """
            WITH u AS (
                SELECT 'http://h' || (o_custkey % 20) || '.shop.example' ||
                       CASE WHEN o_orderkey % 4 = 0
                            THEN '/a/b/c/item' || o_orderkey || '?p=1&q=' || o_custkey
                            WHEN o_orderkey % 4 = 1 THEN '/about'
                            WHEN o_orderkey % 4 = 2 THEN '/item/' || o_orderkey
                            ELSE '/x?session=' || o_orderkey END AS url
                FROM orders
            ), p AS (
                SELECT url,
                       regexp_extract(url,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
                       regexp_extract(url, '\\?([^#]*)', 1) AS query
                FROM u
            )
            SELECT url,
                   CAST(length(url) AS BIGINT) AS url_len,
                   CAST(CASE WHEN length(path) > 1
                             THEN len(string_split(path, '/')) - 1
                             ELSE 0 END AS BIGINT) AS path_depth,
                   CAST(CASE WHEN length(query) > 0
                             THEN len(string_split(query, '&'))
                             ELSE 0 END AS BIGINT) AS n_params,
                   CAST(length(url) -
                        length(regexp_replace(url, '[0-9]', '', 'g'))
                        AS BIGINT) AS n_digits
            FROM p
        """,
        "docs_source_stats": r"""
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
                   count(DISTINCT lang) AS n_langs,
                   CAST(count(*) - count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')))
                        AS BIGINT) AS n_exact_dups
            FROM documents GROUP BY source
        """,
        "docs_length_deciles": """
            WITH hist AS (
                SELECT length(text) AS len, count(*) AS c
                FROM documents GROUP BY length(text)
            ), cum AS (
                SELECT len, sum(c) OVER (ORDER BY len
                                         ROWS UNBOUNDED PRECEDING) AS cum
                FROM hist
            ), d AS (
                SELECT unnest(generate_series(1, 9)) AS decile
            ), t AS (
                SELECT decile,
                       ((SELECT max(cum) FROM cum) - 1) * decile // 10 + 1 AS target
                FROM d
            )
            SELECT CAST(t.decile AS INT) AS decile,
                   CAST(min(cum.len) AS BIGINT) AS len_value
            FROM t JOIN cum ON cum.cum >= t.target
            GROUP BY t.decile
        """,
        "text_decontam": f"""
            WITH {_SHINGLES_CTE},
            ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 53 = 0),
            tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 53 <> 0),
            counts AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
            ov AS (
                SELECT tr.doc_id, count(*) AS n_overlap
                FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(c.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
                   CASE WHEN coalesce(c.n_shingles, 0) > 0
                        THEN (1000 * CAST(coalesce(o.n_overlap, 0) AS BIGINT)) // c.n_shingles
                        ELSE 0 END AS overlap_bp,
                   CASE WHEN coalesce(c.n_shingles, 0) > 0
                        THEN coalesce(o.n_overlap, 0) * 1000 >= 500 * c.n_shingles
                        ELSE FALSE END AS contaminated
            FROM documents d
            LEFT JOIN counts c USING (doc_id)
            LEFT JOIN ov o USING (doc_id)
            WHERE d.doc_id % 53 <> 0
        """,
        "docs_dsir_weights": f"""
            WITH toks AS (
                SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ),
            raw AS (
                SELECT doc_id,
                       ('0x' || substr(md5('dsir:' || tok), 1, 8))::BIGINT % 4096 AS bucket
                FROM toks
            ),
            tgt_toks AS (
                SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang = 'en'
            ),
            tgtb AS (
                SELECT ('0x' || substr(md5('dsir:' || tok), 1, 8))::BIGINT % 4096 AS bucket
                FROM tgt_toks
            ),
            src AS (SELECT bucket, count(*) AS s_b FROM raw GROUP BY bucket),
            tgt AS (SELECT bucket, count(*) AS t_b FROM tgtb GROUP BY bucket),
            scored AS (
                SELECT r.doc_id,
                       (10000 * (COALESCE(t.t_b, 0) + 1)) // (COALESCE(s.s_b, 0) + 1) AS tok_bp
                FROM raw r
                LEFT JOIN src s USING (bucket)
                LEFT JOIN tgt t USING (bucket)
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(sum(tok_bp) // count(*) AS BIGINT) AS imp_bp
            FROM scored GROUP BY doc_id
        """,
        "docs_priority_sample": """
            WITH base AS (
                SELECT doc_id, lang AS stratum,
                       CAST(n_chars AS BIGINT) + 1 AS weight,
                       ('0x' || substr(md5('psamp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
                FROM documents
            ),
            pri AS (
                SELECT doc_id, stratum, weight, (h * 1000000) // weight AS pri
                FROM base
            )
            SELECT doc_id, stratum, weight, pri, rk FROM (
                SELECT doc_id, stratum, weight, pri,
                       CAST(row_number() OVER (PARTITION BY stratum
                                               ORDER BY pri, doc_id) AS INT) AS rk
                FROM pri
            ) WHERE rk <= 50
        """,
        "docs_stratified_sample": """
            WITH r(lang, rate_bp) AS (
                VALUES ('de', 5000), ('en', 2500), ('es', 7500),
                       ('fr', 5000), ('zh', 10000)
            )
            SELECT d.doc_id, d.lang,
                   ('0x' || substr(md5('mix1:' || d.doc_id), 1, 8))::BIGINT % 10000 AS bucket
            FROM documents d JOIN r USING (lang)
            WHERE ('0x' || substr(md5('mix1:' || d.doc_id), 1, 8))::BIGINT % 10000 < r.rate_bp
        """,
        "docs_pack_sequences": f"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '{_BPE_PAT}', 1)) AS BIGINT) AS n_tok
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tok,
                       CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) - n_tok AS start_off
                FROM t
            )
            SELECT doc_id, n_tok, start_off,
                   start_off // 2048 AS first_bin,
                   CASE WHEN n_tok > 0 THEN (start_off + n_tok - 1) // 2048
                        ELSE start_off // 2048 END AS last_bin,
                   (CASE WHEN n_tok > 0 THEN (start_off + n_tok - 1) // 2048
                         ELSE start_off // 2048 END) - start_off // 2048 + 1 AS n_bins
            FROM c
        """,
        "graph_degrees": f"""
            WITH {_EDGE_CTE},
            i AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY dst)
            SELECT n.node,
                   CAST(coalesce(od.od, 0) AS BIGINT) AS out_deg,
                   CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg
            FROM n
            LEFT JOIN od ON od.src = n.node
            LEFT JOIN i ON i.node = n.node
        """,
        "graph_pagerank": _pagerank_sql(iters=3),
        "crawl_rank_budget": _rank_budget_sql(iters=2),
        "pipeline_assemble": f"""
            WITH {_SHINGLES_CTE},
            r(lang, rate_bp) AS (
                VALUES ('de', 5000), ('en', 2500), ('es', 7500),
                       ('fr', 5000), ('zh', 10000)
            ),
            samp AS (
                SELECT d.doc_id FROM documents d JOIN r USING (lang)
                WHERE d.doc_id % 53 <> 0
                  AND ('0x' || substr(md5('mix1:' || d.doc_id), 1, 8))::BIGINT % 10000 < r.rate_bp
            ),
            ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 53 = 0),
            tr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN samp USING (doc_id)),
            counts AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
            ov AS (
                SELECT tr.doc_id, count(*) AS n_overlap
                FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id
            ),
            kept AS (
                SELECT s.doc_id FROM samp s
                LEFT JOIN counts c USING (doc_id)
                LEFT JOIN ov o USING (doc_id)
                WHERE NOT (coalesce(c.n_shingles, 0) > 0
                           AND coalesce(o.n_overlap, 0) * 1000 >= 500 * c.n_shingles)
            ),
            t AS (
                SELECT d.doc_id, d.lang,
                       CAST(len(regexp_extract_all(d.text, '{_BPE_PAT}', 1)) AS BIGINT) AS n_tok
                FROM documents d JOIN kept USING (doc_id)
            ),
            c2 AS (
                SELECT doc_id, lang, n_tok,
                       CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) - n_tok AS start_off
                FROM t
            )
            SELECT doc_id, lang, n_tok, start_off,
                   start_off // 2048 AS first_bin,
                   CASE WHEN n_tok > 0 THEN (start_off + n_tok - 1) // 2048
                        ELSE start_off // 2048 END AS last_bin
            FROM c2
        """,
        "docs_epoch_order": """
            WITH e AS (
                SELECT d.doc_id, g.epoch,
                       md5('epoch' || g.epoch || ':' || d.doc_id) AS h
                FROM documents d,
                     unnest(generate_series(0, 2)) g(epoch)
            ), s AS (
                SELECT doc_id, CAST(epoch AS INT) AS epoch, h,
                       ('0x' || substr(h, 1, 8))::BIGINT % 8 AS shard
                FROM e
            )
            SELECT doc_id, epoch, shard,
                   CAST(row_number() OVER (
                       PARTITION BY epoch, shard ORDER BY h, doc_id) AS BIGINT) AS pos
            FROM s
        """,
        "agg_pricing_rollup": """
            SELECT l_returnflag, l_linestatus,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
                   CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "docs_shard_assign": """
            WITH h AS (
                SELECT doc_id, md5('shard1:' || doc_id) AS h,
                       ('0x' || substr(md5('shard1:' || doc_id), 1, 8))::BIGINT % 8 AS shard
                FROM documents
            )
            SELECT doc_id, shard,
                   CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                        AS BIGINT) AS pos
            FROM h
        """,
        "docs_dataset_card": f"""
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT source) AS n_sources,
                   CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
                   CAST(sum(CAST(len(regexp_extract_all(text, '{_BPE_PAT}', 1)) AS BIGINT))
                        AS BIGINT) AS total_tokens
            FROM documents GROUP BY lang
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n_rows,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "dedup_exact": """
            SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_docs
            FROM documents GROUP BY md5(text)
        """,
        "dedup_minhash_lsh": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
                SELECT doc_id,
                       {", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(9))}
                FROM sh GROUP BY doc_id
            ),
            bands AS (
                {" UNION ALL ".join(
                    f"SELECT doc_id, {b} AS band, md5(mh{3*b} || mh{3*b+1} || mh{3*b+2}) AS band_key FROM sig"
                    for b in range(3)
                )}
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            sig AS (
                SELECT doc_id,
                       {", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(9))}
                FROM sh GROUP BY doc_id
            ),
            bands AS (
                {" UNION ALL ".join(
                    f"SELECT doc_id, {b} AS band, md5(mh{3*b} || mh{3*b+1} || mh{3*b+2}) AS band_key FROM sig"
                    for b in range(3)
                )}
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ),
            und AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT u, v FROM und
                UNION
                SELECT r.u, und.v FROM reach r JOIN und ON r.v = und.u
            ),
            mins AS (SELECT u, min(v) AS mn FROM reach GROUP BY u)
            SELECT d.doc_id,
                   LEAST(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id,
                   d.doc_id = LEAST(d.doc_id, coalesce(m.mn, d.doc_id)) AS keep
            FROM documents d LEFT JOIN mins m ON m.u = d.doc_id
        """,
        "dedup_simhash_pairs": f"""
            WITH inst AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_lo,
                       ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_hi
                FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            ),
            sums AS (
                SELECT doc_id,
                       {", ".join(f"sum(CASE WHEN (h_lo >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32))},
                       {", ".join(f"sum(CASE WHEN (h_hi >> {b - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32, 64))}
                FROM inst GROUP BY doc_id
            ),
            sims AS (
                SELECT doc_id,
                       CAST({" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << (b - 32)} ELSE 0 END" for b in range(32, 64))} AS BIGINT) AS simhash_hi,
                       CAST({" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))} AS BIGINT) AS simhash_lo
                FROM sums
            ),
            bands AS (
                {" UNION ALL ".join(
                    f"SELECT doc_id, simhash_hi, simhash_lo, {b} AS band,"
                    f" (simhash_{'lo' if b < 2 else 'hi'} >> {(b % 2) * 16}) & 65535 AS bv FROM sims"
                    for b in range(4)
                )}
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.simhash_hi AS ah, a.simhash_lo AS al,
                       b.simhash_hi AS bh, b.simhash_lo AS bl
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) AS INT) AS dist
            FROM cand
            WHERE bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) <= 3
        """,
        "dedup_simhash": f"""
            WITH inst AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_lo,
                       ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_hi
                FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            ),
            sums AS (
                SELECT doc_id,
                       {", ".join(f"sum(CASE WHEN (h_lo >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32))},
                       {", ".join(f"sum(CASE WHEN (h_hi >> {b - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32, 64))}
                FROM inst GROUP BY doc_id
            )
            SELECT doc_id,
                   CAST({" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << (b - 32)} ELSE 0 END" for b in range(32, 64))} AS BIGINT) AS simhash_hi,
                   CAST({" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))} AS BIGINT) AS simhash_lo
            FROM sums
        """,
        "dedup_agreement": f"""
            WITH ex AS (SELECT doc_id, md5(text) AS fp FROM documents),
            exd AS (SELECT fp, count(*) AS c FROM ex GROUP BY fp),
            exflag AS (
                SELECT doc_id, (c > 1) AS exact_dup FROM ex JOIN exd USING (fp)
            ),
            inst AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_lo,
                       ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_hi
                FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            ),
            sums AS (
                SELECT doc_id,
                       {", ".join(f"sum(CASE WHEN (h_lo >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32))},
                       {", ".join(f"sum(CASE WHEN (h_hi >> {b - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32, 64))}
                FROM inst GROUP BY doc_id
            ),
            sims AS (
                SELECT doc_id,
                       CAST({" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << (b - 32)} ELSE 0 END" for b in range(32, 64))} AS BIGINT) AS simhash_hi,
                       CAST({" + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))} AS BIGINT) AS simhash_lo
                FROM sums
            ),
            shd AS (
                SELECT simhash_hi, simhash_lo, count(*) AS c2
                FROM sims GROUP BY simhash_hi, simhash_lo
            ),
            shflag AS (
                SELECT doc_id, (c2 > 1) AS simhash_dup
                FROM sims JOIN shd USING (simhash_hi, simhash_lo)
            )
            SELECT exact_dup, simhash_dup, CAST(count(*) AS BIGINT) AS n_docs
            FROM exflag JOIN shflag USING (doc_id)
            GROUP BY exact_dup, simhash_dup
        """,
        "dedup_containment": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(count(*) AS BIGINT) AS inter
                FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            pairboth AS (
                SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
            )
            SELECT doc_a AS contained, doc_b AS container, inter, na AS n_contained
            FROM pairboth WHERE 5 * inter >= 4 * na
            UNION ALL
            SELECT doc_b AS contained, doc_a AS container, inter, nb AS n_contained
            FROM pairboth WHERE 5 * inter >= 4 * nb
        """,
        "dedup_survivorship": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            sig AS (
                SELECT doc_id,
                       {", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(9))}
                FROM sh GROUP BY doc_id
            ),
            bands AS (
                {" UNION ALL ".join(
                    f"SELECT doc_id, {b} AS band, md5(mh{3*b} || mh{3*b+1} || mh{3*b+2}) AS band_key FROM sig"
                    for b in range(3)
                )}
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ),
            und AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT u, v FROM und
                UNION
                SELECT r.u, und.v FROM reach r JOIN und ON r.v = und.u
            ),
            mins AS (SELECT u, min(v) AS mn FROM reach GROUP BY u),
            clu AS (
                SELECT d.doc_id,
                       LEAST(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id
                FROM documents d LEFT JOIN mins m ON m.u = d.doc_id
            ),
            qual AS (
                SELECT doc_id,
                       CASE WHEN len({_TOKS}) > 0
                            THEN (1000 * CAST(len(regexp_extract_all(lower(text), '{_STOP_PAT}', 1)) AS BIGINT)) // len({_TOKS})
                            ELSE 0 END AS stop_bp,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ),
            lab AS (
                SELECT c.doc_id, c.cluster_id, q.stop_bp, q.n_tokens
                FROM clu c JOIN qual q USING (doc_id)
            ),
            fam AS (
                SELECT cluster_id FROM lab GROUP BY cluster_id HAVING count(*) > 1
            ),
            best AS (
                SELECT cluster_id, doc_id AS surv FROM (
                    SELECT lab.cluster_id, lab.doc_id,
                           row_number() OVER (PARTITION BY lab.cluster_id
                               ORDER BY stop_bp DESC, n_tokens DESC, doc_id ASC) AS rk
                    FROM lab JOIN fam USING (cluster_id)
                ) WHERE rk = 1
            )
            SELECT lab.doc_id, lab.cluster_id,
                   CASE WHEN b.surv IS NULL THEN TRUE
                        ELSE lab.doc_id = b.surv END AS keep
            FROM lab LEFT JOIN best b USING (cluster_id)
        """,
        "dedup_incremental": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
                SELECT doc_id,
                       {", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(9))}
                FROM sh GROUP BY doc_id
            ),
            bands AS (
                {" UNION ALL ".join(
                    f"SELECT doc_id, {b} AS band, md5(mh{3*b} || mh{3*b+1} || mh{3*b+2}) AS band_key FROM sig"
                    for b in range(3)
                )}
            ),
            newids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
            cfp AS (
                SELECT md5(text) AS fp, min(doc_id) AS match_exact
                FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
            ),
            nfp AS (
                SELECT doc_id, md5(text) AS fp
                FROM documents WHERE doc_id % 10 = 0
            ),
            ex AS (SELECT doc_id, match_exact FROM nfp LEFT JOIN cfp USING (fp)),
            nb AS (SELECT b.* FROM bands b WHERE b.doc_id % 10 = 0),
            cbmin AS (
                SELECT band, band_key, min(doc_id) AS cdoc
                FROM bands WHERE doc_id % 10 <> 0 GROUP BY 1, 2
            ),
            near AS (
                SELECT nb.doc_id, min(cdoc) AS match_near
                FROM nb JOIN cbmin USING (band, band_key) GROUP BY nb.doc_id
            )
            SELECT n.doc_id,
                   CASE WHEN e.match_exact IS NOT NULL THEN 'exact_dup'
                        WHEN nr.match_near IS NOT NULL THEN 'near_dup'
                        ELSE 'fresh' END AS verdict,
                   coalesce(e.match_exact, nr.match_near) AS matched
            FROM newids n
            LEFT JOIN ex e USING (doc_id)
            LEFT JOIN near nr ON nr.doc_id = n.doc_id
        """,
        "dedup_lsh_quality": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
                SELECT doc_id,
                       {", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(9))}
                FROM sh GROUP BY doc_id
            ),
            bands AS (
                {" UNION ALL ".join(
                    f"SELECT doc_id, {b} AS band, md5(mh{3*b} || mh{3*b+1} || mh{3*b+2}) AS band_key FROM sig"
                    for b in range(3)
                )}
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            truth AS (
                SELECT doc_a, doc_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE 5 * inter >= 1 * (sa.n + sb.n - inter)
            )
            SELECT coalesce(c.doc_a IS NOT NULL, FALSE) AS in_lsh,
                   coalesce(t.doc_a IS NOT NULL, FALSE) AS is_true,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM cand c
            FULL OUTER JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
            GROUP BY 1, 2
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS un
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE 5 * inter >= 1 * (sa.n + sb.n - inter)
        """,
        "text_lang_id": f"""
            WITH c AS (
                SELECT doc_id, lang, text,
                       {en} AS c_en, {fr} AS c_fr, {de} AS c_de, {es} AS c_es
                FROM documents
            )
            SELECT doc_id, lang AS actual, {pred} AS predicted,
                   ({pred}) = lang AS correct
            FROM c
        """,
        "text_langid_confusion": f"""
            WITH c AS (
                SELECT doc_id, lang, text,
                       {en} AS c_en, {fr} AS c_fr, {de} AS c_de, {es} AS c_es
                FROM documents
            )
            SELECT lang AS actual, {pred} AS predicted,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM c GROUP BY 1, 2
        """,
        "events_rfm": """
            WITH ref AS (
                SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS ref_us FROM events
            ),
            per AS (
                SELECT user_id,
                       max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
                       CAST(count(*) AS BIGINT) AS n_events,
                       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
                FROM events GROUP BY user_id
            )
            SELECT user_id,
                   (ref_us - last_us) // 86400000000 AS r_days,
                   n_events, cents,
                   CAST(length(bin(((ref_us - last_us) // 86400000000) + 1)) AS INT) AS r_bucket,
                   CAST(length(bin(n_events)) AS INT) AS f_bucket,
                   CAST(length(bin(greatest(cents, 0) + 1)) AS INT) AS m_bucket
            FROM per CROSS JOIN ref
        """,
        "events_transitions": """
            SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n FROM (
                SELECT coalesce(lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id), '^') AS prev_type,
                       event_type
                FROM events
            ) GROUP BY 1, 2
        """,
        "text_quality": f"""
            WITH b AS (
                SELECT doc_id,
                       len({_TOKS}) AS n_tokens,
                       length(text) AS n_chars_m,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                       len(regexp_extract_all(lower(text), '{_STOP_PAT}', 1)) AS n_stopwords
                FROM documents
            )
            SELECT doc_id, n_tokens, n_chars_m, n_punct, n_stopwords,
                   CASE WHEN n_tokens > 0 THEN (1000 * CAST(n_stopwords AS BIGINT)) // n_tokens ELSE 0 END AS stop_bp,
                   CASE WHEN n_tokens > 0 THEN (1000 * CAST(n_chars_m AS BIGINT)) // n_tokens ELSE 0 END AS avg_toklen_bp
            FROM b
        """,
        "text_token_counts": f"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS ws_tokens,
                   len(regexp_extract_all(text, '{_BPE_PAT}', 1)) AS bpe_tokens
            FROM documents
        """,
        "text_fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "sim_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id IN (0,1,2,3,4)
            ), scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
            ), ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
                       sim
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim6
            FROM ranked WHERE rank <= 10
        """,
        "sim_embedding_neardup": """
            WITH sub AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 100
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS sim6
            FROM sub a JOIN sub b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35
        """,
        "sim_embedding_clusters": """
            WITH RECURSIVE sub AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 200
            ), pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM sub a JOIN sub b ON a.vec_id < b.vec_id
                WHERE list_dot_product(a.e, b.e)
                      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.3
            ), und AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs
            ), reach(u, v) AS (
                SELECT u, v FROM und
                UNION
                SELECT r.u, und.v FROM reach r JOIN und ON r.v = und.u
            ), mins AS (SELECT u, min(v) AS mn FROM reach GROUP BY u)
            SELECT s.vec_id,
                   LEAST(s.vec_id, coalesce(m.mn, s.vec_id)) AS cluster_id,
                   s.vec_id = LEAST(s.vec_id, coalesce(m.mn, s.vec_id)) AS keep
            FROM sub s LEFT JOIN mins m ON m.u = s.vec_id
        """,
        "sim_ann_lsh": f"""
            WITH bkt AS (
                SELECT vec_id, embedding, {_ann_planes_sql()} AS bucket FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket AS qbucket
                FROM bkt WHERE vec_id IN (0,1,2,3,4)
            ), scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                FROM bkt e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
            ), ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
                       sim
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim6
            FROM ranked WHERE rank <= 10
        """,
        # multi-probe: home bucket + every single-bit-flipped bucket of
        # the ONE table (p+1 probes; a vector lives in exactly one bucket
        # and probes are distinct, so no candidate dedup needed)
        "sim_ann_multiprobe": f"""
            WITH bkt AS (
                SELECT vec_id, embedding, {_ann_planes_sql()} AS bucket FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket AS qbucket
                FROM bkt WHERE vec_id IN (0,1,2,3,4)
            ), probes AS (
                SELECT query_id, qv,
                       unnest([qbucket] || list_transform(range(0, 8),
                                                          i -> xor(qbucket, (1 << i)))) AS bucket
                FROM q
            ), scored AS (
                SELECT p.query_id, e.vec_id AS neighbor_id,
                       list_dot_product(e.embedding::DOUBLE[], p.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(p.qv, p.qv))) AS sim
                FROM bkt e JOIN probes p ON e.bucket = p.bucket AND e.vec_id <> p.query_id
            ), ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
                       sim
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim6
            FROM ranked WHERE rank <= 10
        """,
        # candidate = shares the query's bucket in ANY of the 4 independent
        # tables (OR of per-table equality), then exact-cosine rerank —
        # mirrors ann_topk_multitable's union-distinct exactly
        "sim_ann_pq": _pq_sql(m=4, k=4, iters=2, topk=5, qids=(0, 1, 2)),
        # IVF-PQ composite: same PQ CTEs + sim_ann_ivf's cell/probe CTEs
        # restricting the candidate codes to probed cells
        "sim_ann_ivf_pq": _pq_sql(
            m=4, k=4, iters=2, topk=10, qids=(0, 1, 2, 3, 4),
            ivf_cents=tuple(7 + 37 * i for i in range(8)), nprobe=2,
        ),
        "sim_ann_ivf_pq_residual": _ivf_pq_residual_sql(),
        "sim_kmeans": _kmeans_sql(k=4, iters=2),
        "sim_pair_histogram": f"""
            WITH bkt AS (
                SELECT vec_id, embedding, {_ann_planes_sql()} AS bucket FROM embeddings
            ),
            pairs AS (
                SELECT list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                       AS sim
                FROM bkt a JOIN bkt b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT CAST(floor(round(sim, 6) * 20) AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs GROUP BY 1
        """,
        "sim_lsh_bucket_stats": f"""
            WITH bkt AS (
                SELECT vec_id,
                       {_ann_planes_sql(0)} AS b0,
                       {_ann_planes_sql(1)} AS b1,
                       {_ann_planes_sql(2)} AS b2,
                       {_ann_planes_sql(3)} AS b3
                FROM embeddings
            ), longf AS (
                SELECT 0 AS tbl, b0 AS bucket FROM bkt
                UNION ALL SELECT 1, b1 FROM bkt
                UNION ALL SELECT 2, b2 FROM bkt
                UNION ALL SELECT 3, b3 FROM bkt
            ), per AS (
                SELECT tbl, bucket, count(*) AS sz FROM longf GROUP BY tbl, bucket
            )
            SELECT tbl, CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(sz) AS BIGINT) AS n_vecs,
                   CAST(max(sz) AS BIGINT) AS max_sz,
                   CAST(1000 * max(sz) * count(*) // sum(sz) AS BIGINT) AS skew_bp
            FROM per GROUP BY tbl
        """,
        "sim_ann_multitable": f"""
            WITH bkt AS (
                SELECT vec_id, embedding,
                       {_ann_planes_sql(0)} AS b0,
                       {_ann_planes_sql(1)} AS b1,
                       {_ann_planes_sql(2)} AS b2,
                       {_ann_planes_sql(3)} AS b3
                FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                       b0 AS qb0, b1 AS qb1, b2 AS qb2, b3 AS qb3
                FROM bkt WHERE vec_id IN (0,1,2,3,4)
            ), scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                FROM bkt e JOIN q ON e.vec_id <> q.query_id
                 AND (e.b0 = q.qb0 OR e.b1 = q.qb1 OR e.b2 = q.qb2 OR e.b3 = q.qb3)
            ), ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
                       sim
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim6
            FROM ranked WHERE rank <= 10
        """,
        # IVF: centroids = corpus vectors at fixed sampled ids (cells 0-7),
        # assignment = argmax cosine w/ lowest-cell tie-break, queries probe
        # their 2 nearest cells, exact rerank inside — mirrors
        # similarity.ivf_topk (same left-to-right double dot products)
        "sim_ann_ivf": f"""
            WITH cent AS (
                SELECT u.cell, e.embedding::DOUBLE[] AS cv
                FROM (VALUES {", ".join(f"({c}, {vid})" for c, vid in enumerate(7 + 37 * i for i in range(8)))}) AS u(cell, vid)
                JOIN embeddings e ON e.vec_id = u.vid
            ), csim AS (
                SELECT e.vec_id, c.cell,
                       list_dot_product(e.embedding::DOUBLE[], c.cv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS sim
                FROM embeddings e CROSS JOIN cent c
            ), asn AS (
                SELECT vec_id, cell FROM (
                    SELECT vec_id, cell,
                           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
                    FROM csim
                ) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, cell FROM (
                    SELECT vec_id, cell,
                           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
                    FROM csim WHERE vec_id IN (0,1,2,3,4)
                ) WHERE rn <= 2
            ), q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id IN (0,1,2,3,4)
            ), scored AS (
                SELECT p.query_id, e.vec_id AS neighbor_id,
                       list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                FROM embeddings e
                JOIN asn a ON a.vec_id = e.vec_id
                JOIN probes p ON p.cell = a.cell
                JOIN q ON q.query_id = p.query_id
                WHERE e.vec_id <> p.query_id
            ), ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
                       sim
                FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim6
            FROM ranked WHERE rank <= 10
        """,
        # curation composition: exact-dedup representative AND near-dup
        # component survivor (same recursive closure as dedup_clusters)
        # AND predicted-en AND quality floors — all from the same
        # already-verified fragments
        "pipeline_curate": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            sig AS (
                SELECT doc_id,
                       {", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(9))}
                FROM sh GROUP BY doc_id
            ),
            bands AS (
                {" UNION ALL ".join(
                    f"SELECT doc_id, {b} AS band, md5(mh{3*b} || mh{3*b+1} || mh{3*b+2}) AS band_key FROM sig"
                    for b in range(3)
                )}
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ),
            und AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT u, v FROM und
                UNION
                SELECT r.u, und.v FROM reach r JOIN und ON r.v = und.u
            ),
            mins AS (SELECT u, min(v) AS mn FROM reach GROUP BY u),
            exact_keep AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
            ),
            lang_c AS (
                SELECT doc_id, {en} AS c_en, {fr} AS c_fr, {de} AS c_de, {es} AS c_es
                FROM documents
            ),
            quality AS (
                SELECT doc_id,
                       len({_TOKS}) AS n_tokens,
                       CASE WHEN len({_TOKS}) > 0
                            THEN (1000 * CAST(len(regexp_extract_all(lower(text), '{_STOP_PAT}', 1)) AS BIGINT)) // len({_TOKS})
                            ELSE 0 END AS stop_bp
                FROM documents
            )
            SELECT d.doc_id,
                   LEAST(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id,
                   ({pred}) AS predicted,
                   q.n_tokens, q.stop_bp
            FROM documents d
            JOIN exact_keep ek ON ek.doc_id = d.doc_id
            LEFT JOIN mins m ON m.u = d.doc_id
            JOIN lang_c c ON c.doc_id = d.doc_id
            JOIN quality q ON q.doc_id = d.doc_id
            WHERE d.doc_id = LEAST(d.doc_id, coalesce(m.mn, d.doc_id))
              AND ({pred}) = 'en'
              AND q.n_tokens >= 30 AND q.stop_bp >= 40
        """,
        # the composed end-to-end curation cascade: every stage fragment
        # is the corresponding per-stage oracle (text_host_boilerplate,
        # pipeline_curate's LSH closure, text_exact_substring_dedup,
        # text_gopher_rules) parameterized by its input relation and
        # chained in the Spark cascade's order
        "pipeline_clean": _pipeline_clean_sql(),
        "pipeline_clean_docs": _pipeline_clean_docs_sql(),
        "pipeline_clean_pack": _pipeline_clean_pack_sql(capacity=512),
        "pipeline_clean_bytes": _pipeline_clean_sql(substr_mode="bytes"),
        # streaming windowed metrics: complete-mode availableNow output ==
        # the plain batch window aggregation (stream/batch parity); the
        # deterministic event mapping is re-derived here, windows via
        # time_bucket on the same 60s tumbling grid
        "stream_windowed_metrics": """
            WITH ev AS (
                SELECT ts,
                       event_type AS task,
                       'h' || CAST(user_id % 50 AS VARCHAR) AS host,
                       value >= 10.0 AS ok,
                       CAST(floor(value * 100) AS BIGINT) AS n_bytes,
                       CAST(event_id % 1000 AS INT) AS latency_ms
                FROM events
            )
            SELECT CAST(epoch(time_bucket(INTERVAL '60 seconds', ts)) AS BIGINT) AS win_start_s,
                   CAST(epoch(time_bucket(INTERVAL '60 seconds', ts)) + 60 AS BIGINT) AS win_end_s,
                   task, host,
                   count(*) AS n_fetches,
                   CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
                   CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_failed,
                   CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
                   max(latency_ms) AS max_latency_ms
            FROM ev
            GROUP BY 1, 2, 3, 4
        """,
        # multimodal_decode's projection is pure deterministic arithmetic
        # over the media_ref (the fake codec's metadata + payload size);
        # the binary payload itself (mapInPandas plumbing) is exercised by
        # the Spark side but not projected, so the row set IS SQL-checkable.
        "multimodal_decode": """
            WITH refs AS (
                SELECT DISTINCT 'img://' || source || '/' || doc_id AS media_ref
                FROM documents
            )
            SELECT md5(media_ref) AS asset_id,
                   media_ref,
                   CAST((length(media_ref) * 7) % 640 + 1 AS INT) AS width,
                   CAST((length(media_ref) * 13) % 480 + 1 AS INT) AS height,
                   CAST(256 AS BIGINT) AS n_bytes,
                   TRUE AS ok
            FROM refs
        """,
        "multimodal_frames": """
            WITH refs AS (
                SELECT DISTINCT 'img://' || source || '/' || doc_id AS media_ref
                FROM documents
            )
            SELECT md5(media_ref) AS asset_id,
                   CAST(g.i AS INT) AS frame_idx,
                   CAST(g.i * 1000 AS INT) AS t_ms
            FROM refs, unnest(generate_series(0, 2)) g(i)
        """,
        "multimodal_assemble": _SPANS_CTE + """
            , mspans AS (
                SELECT doc_id, media_ref FROM spans WHERE kind = 'media'
            ), per AS (
                SELECT doc_id, count(*) AS n_media,
                       count(*) AS n_ok,
                       CAST(count(*) * 256 AS BIGINT) AS total_bytes,
                       max(CAST((length(media_ref) * 7) % 640 + 1 AS INT)) AS max_width
                FROM mspans GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_media, 0) AS BIGINT) AS n_media,
                   CAST(coalesce(n_ok, 0) AS BIGINT) AS n_ok,
                   CAST(coalesce(total_bytes, 0) AS BIGINT) AS total_bytes,
                   CAST(coalesce(max_width, 0) AS INT) AS max_width
            FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
            LEFT JOIN per USING (doc_id)
        """,
        # crawl_e2e_order: the stateful round loop is not SQL-expressible,
        # but its expected output on the deterministic fixture is — the
        # pure-Python oracle's order, inlined as VALUES.
        "graph_ppr": _ppr_sql(iters=3),
        "text_idf_drift": f"""
            WITH inst AS (
                SELECT DISTINCT doc_id, doc_id % 2 = 0 AS a,
                       unnest({_TOKS}) AS term
                FROM documents
            ),
            tot AS (
                SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
                FROM documents
            ),
            per AS (
                SELECT term,
                       CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS df_a,
                       CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS df_b
                FROM inst GROUP BY term
                HAVING count(*) >= 3
            )
            SELECT term, df_a, df_b,
                   CAST(length(bin(n_a // greatest(df_a, 1))) AS INT) AS idf_bits_a,
                   CAST(length(bin(n_b // greatest(df_b, 1))) AS INT) AS idf_bits_b,
                   CAST(abs(length(bin(n_a // greatest(df_a, 1)))
                            - length(bin(n_b // greatest(df_b, 1)))) AS INT) AS drift_bits
            FROM per CROSS JOIN tot
            ORDER BY drift_bits DESC, df_a + df_b DESC, term
            LIMIT 100
        """,
        "crawl_canonical_collisions": """
            WITH raw AS (
                SELECT 'HTTP://Shop.Example.COM:80/i/' || o_orderkey || '?b=2&a=1#frag' AS url,
                       'http://shop.example.com/i/' || o_orderkey || '?a=1&b=2' AS curl
                FROM orders
                UNION ALL
                SELECT 'http://shop.example.com/i/' || o_orderkey || '?a=1&b=2',
                       'http://shop.example.com/i/' || o_orderkey || '?a=1&b=2'
                FROM orders
                UNION ALL
                SELECT 'http://shop.example.com/i/' || o_orderkey || '?a=2&b=2',
                       'http://shop.example.com/i/' || o_orderkey || '?a=2&b=2'
                FROM orders WHERE o_orderkey % 3 = 0
            )
            SELECT curl, CAST(count(*) AS BIGINT) AS n_raw,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_variants
            FROM raw GROUP BY curl HAVING count(DISTINCT url) >= 2
        """,
        "sim_semantic_dedup": f"""
            WITH km AS ({_kmeans_sql(k=4, iters=2)}),
            q2 AS (
                SELECT vec_id,
                       list_transform(embedding,
                                      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
                FROM embeddings
            ),
            base AS (
                SELECT km.vec_id, km.cluster, km.d2, q2.qe,
                       CAST(list_dot_product(q2.qe::DOUBLE[], q2.qe::DOUBLE[]) AS BIGINT) AS qq
                FROM km JOIN q2 USING (vec_id)
            ),
            drops AS (
                SELECT DISTINCT b.vec_id
                FROM base a JOIN base b
                  ON a.cluster = b.cluster
                 AND (a.d2 < b.d2 OR (a.d2 = b.d2 AND a.vec_id < b.vec_id))
                WHERE CAST(list_dot_product(a.qe::DOUBLE[], b.qe::DOUBLE[]) AS BIGINT) > 0
                  AND 100 * CAST(list_dot_product(a.qe::DOUBLE[], b.qe::DOUBLE[]) AS BIGINT)
                          * CAST(list_dot_product(a.qe::DOUBLE[], b.qe::DOUBLE[]) AS BIGINT)
                      >= 9 * a.qq * b.qq
            )
            SELECT km.vec_id, km.cluster, (d.vec_id IS NULL) AS keep
            FROM km LEFT JOIN drops d ON d.vec_id = km.vec_id
        """,
        "events_lateness": """
            WITH x AS (
                SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                       md5(CAST(event_id AS VARCHAR)) AS arr
                FROM events
            ),
            y AS (
                SELECT user_id,
                       greatest(0, coalesce(max(us) OVER (
                           PARTITION BY user_id ORDER BY arr
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0)) AS late_us
                FROM x
            )
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                   CAST(sum(CASE WHEN late_us > 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_over,
                   CAST(max(late_us) AS BIGINT) AS max_late_us
            FROM y GROUP BY user_id
        """,
        "dedup_band_sweep": _lsh_sweep_sql(),
        "sim_norm_histogram": """
            WITH q AS (
                SELECT CAST(list_dot_product(
                           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))::DOUBLE[],
                           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))::DOUBLE[]
                       ) AS BIGINT) AS qq
                FROM embeddings
            )
            SELECT CAST(length(bin(greatest(qq, 0))) AS INT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(min(qq) AS BIGINT) AS min_qq,
                   CAST(max(qq) AS BIGINT) AS max_qq
            FROM q GROUP BY 1
        """,
        "events_type_overlap": """
            WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
            sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
            ovl AS (
                SELECT a.event_type AS type_a, b.event_type AS type_b,
                       CAST(count(*) AS BIGINT) AS n_both
                FROM ut a JOIN ut b ON a.user_id = b.user_id
                                   AND a.event_type < b.event_type
                GROUP BY 1, 2
            )
            SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
                   CAST(10000 * n_both // (sa.n + sb.n - n_both) AS BIGINT) AS jaccard_bp
            FROM ovl
            JOIN sizes sa ON sa.event_type = type_a
            JOIN sizes sb ON sb.event_type = type_b
        """,
        "crawl_wave_fairness": """
            WITH alloc AS (
                SELECT concat('h', CASE WHEN o_orderkey % 10 < 5 THEN 0
                                        ELSE o_orderkey % 10 END) AS host,
                       CAST(count(*) AS BIGINT) AS n
                FROM orders GROUP BY 1
            )
            SELECT CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(sum(n) AS BIGINT) AS total,
                   CAST(10000 * sum(n) * sum(n)
                        // greatest(count(*) * sum(n * n), 1) AS BIGINT) AS fairness_bp
            FROM alloc
        """,
        "crawl_sitemap_ingest": """
            WITH sup AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier),
            u AS (
                SELECT k,
                       'https://s' || k || '.shop.example/p/' || k || '-1?a=1&z=2' AS curl,
                       DATE '2024-01-01' + CAST(k % 20 AS INT) AS lastmod,
                       TRUE AS maybe_seen
                FROM sup
                UNION ALL
                SELECT k,
                       'https://s' || k || '.shop.example/p/' || k || '-2' AS curl,
                       DATE '2024-01-01' + CAST((k * 7) % 20 AS INT) AS lastmod,
                       FALSE
                FROM sup
            ),
            ref AS (SELECT max(lastmod) AS r FROM u),
            fresh AS (
                SELECT curl, k, maybe_seen,
                       CAST(greatest(0, 6 - length(bin(
                           CAST(date_diff('day', lastmod, r) AS BIGINT)
                       ))) AS INT) AS priority
                FROM u CROSS JOIN ref
            )
            SELECT curl, md5(curl || 'GET') AS key, priority
            FROM fresh
            WHERE NOT (maybe_seen AND k % 3 = 0)
        """,
        "crawl_sitemap_freshness": """
            WITH hosts AS (
                SELECT CAST(n_nationkey AS INT) AS nk,
                       replace(lower(n_name), ' ', '-') || '.example.com' AS host
                FROM nation
            ),
            urls AS (
                SELECT CAST(o_custkey % 25 AS INT) AS nk,
                       'https://example.com/o/' || o_orderkey AS url,
                       CAST(o_orderdate AS DATE) AS lastmod
                FROM orders
            ),
            j AS (SELECT h.host, u.url, u.lastmod FROM urls u JOIN hosts h USING (nk)),
            ref AS (SELECT max(lastmod) AS r FROM j)
            SELECT host, url, strftime(lastmod, '%Y-%m-%d') AS lastmod,
                   CAST(date_diff('day', lastmod, r) AS INT) AS age_days,
                   CAST(greatest(0, 6 - length(bin(CAST(date_diff('day', lastmod, r) AS BIGINT)))) AS INT) AS priority
            FROM j CROSS JOIN ref
        """,
        "text_readability": f"""
            WITH base AS (
                SELECT doc_id,
                       CAST(len({_TOKS}) AS BIGINT) AS n_words,
                       CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+', 0))) AS BIGINT) AS n_sentences,
                       CAST(len(regexp_extract_all(lower(text), '[aeiou]+', 0)) AS BIGINT) AS n_syllables
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_words, n_sentences, n_syllables,
                       CAST(100 * n_words // n_sentences AS BIGINT) AS wps_c,
                       CAST(100 * n_syllables // greatest(n_words, 1) AS BIGINT) AS spw_c
                FROM base
            )
            SELECT doc_id, n_words, n_sentences, n_syllables, wps_c, spw_c,
                   CAST(20684 - 1015 * wps_c // 1000 - 8460 * spw_c // 100 AS BIGINT) AS fre_c
            FROM c
        """,
        "events_gap_profile": """
            WITH g AS (
                SELECT user_id, ts, event_id,
                       epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
                FROM events
            ),
            gg AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
            r AS (
                SELECT user_id, gap_us,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY gap_us, ts, event_id) AS rk
                FROM gg
            ),
            per AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
                       CAST(max(gap_us) AS BIGINT) AS max_gap_us
                FROM gg GROUP BY user_id
            )
            SELECT p.user_id, p.n_gaps, p.min_gap_us,
                   CAST(r.gap_us AS BIGINT) AS median_gap_us, p.max_gap_us
            FROM per p JOIN r ON r.user_id = p.user_id
                             AND r.rk = (p.n_gaps + 1) // 2
        """,
        "crawl_robots_decision": """
            WITH hosts AS (
                SELECT CAST(n_nationkey AS INT) AS nk,
                       replace(lower(n_name), ' ', '-') || '.example.com' AS host
                FROM nation
            ),
            rules AS (
                SELECT host, '/private/' AS prefix, FALSE AS is_allow FROM hosts
                UNION ALL SELECT host, '/private/pub/', TRUE FROM hosts
                UNION ALL SELECT host, '/', FALSE FROM hosts WHERE nk % 2 = 0
                UNION ALL SELECT host, '/open', TRUE FROM hosts
            ),
            cand AS (
                SELECT DISTINCT h.host,
                       CASE WHEN o_orderkey % 4 = 0 THEN concat('/private/doc', o_orderkey)
                            WHEN o_orderkey % 4 = 1 THEN concat('/private/pub/doc', o_orderkey)
                            WHEN o_orderkey % 4 = 2 THEN concat('/open/page', o_orderkey)
                            ELSE concat('/free/page', o_orderkey) END AS path
                FROM orders o JOIN hosts h ON h.nk = o_orderkey % 25
            ),
            m AS (
                SELECT c.host, c.path,
                       CASE WHEN r.prefix IS NOT NULL AND starts_with(c.path, r.prefix)
                            THEN length(r.prefix) * 2 + CASE WHEN r.is_allow THEN 1 ELSE 0 END
                       END AS sc
                FROM cand c LEFT JOIN rules r ON r.host = c.host
            ),
            best AS (SELECT host, path, max(sc) AS sc FROM m GROUP BY host, path)
            SELECT host, path,
                   CASE WHEN sc IS NULL THEN TRUE ELSE sc % 2 = 1 END AS allowed,
                   CAST(coalesce(sc // 2, 0) AS INT) AS match_len
            FROM best
        """,
        "docs_chunking": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            tt AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
            st AS (
                SELECT doc_id, t, n,
                       unnest(range(((greatest(n - 64, 0) + 47) // 48) + 1)) AS ci
                FROM tt
            )
            SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
                   CAST(ci * 48 AS BIGINT) AS start_tok,
                   CAST(least(64, n - ci * 48) AS BIGINT) AS n_tok,
                   md5(array_to_string(t[ci * 48 + 1 : ci * 48 + 64], ' ')) AS chunk_hash
            FROM st
        """,
        "text_fertility": f"""
            WITH words AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                          x -> x <> '')) AS w
                FROM documents
            ),
            enc AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(length({_bpe_sym_expr()})
                            - length(replace({_bpe_sym_expr()}, '(', ''))) AS BIGINT) AS n_symbols
                FROM words GROUP BY doc_id
            )
            SELECT d.lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS n_words,
                   CAST(sum(n_symbols) AS BIGINT) AS n_symbols,
                   CAST(10000 * sum(n_symbols) // greatest(sum(n_words), 1) AS BIGINT) AS fertility_bp
            FROM enc JOIN documents d USING (doc_id)
            GROUP BY d.lang
        """,
        "dedup_cascade": f"""
            WITH RECURSIVE ex AS (
                SELECT md5(text) AS fp, min(doc_id) AS keep_id
                FROM documents GROUP BY md5(text)
            ),
            docs2 AS (
                SELECT d.doc_id, d.text FROM documents d
                JOIN ex ON ex.keep_id = d.doc_id
            ),
            toks2 AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
                FROM docs2
            ),
            sh2 AS (
                SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
                FROM toks2, UNNEST(range(1, len(t) - 1)) AS u(i)
                WHERE len(t) >= 3
            ),
            sig AS (
                SELECT doc_id,
                       {", ".join(f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(9))}
                FROM sh2 GROUP BY doc_id
            ),
            bands AS (
                {" UNION ALL ".join(
                    f"SELECT doc_id, {b} AS band, md5(mh{3*b} || mh{3*b+1} || mh{3*b+2}) AS band_key FROM sig"
                    for b in range(3)
                )}
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ),
            und AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT u, v FROM und
                UNION
                SELECT r.u, und.v FROM reach r JOIN und ON r.v = und.u
            ),
            mins AS (SELECT u, min(v) AS mn FROM reach GROUP BY u),
            n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex),
            n2 AS (
                SELECT CAST(count(*) AS BIGINT) AS n FROM docs2 d
                LEFT JOIN mins m ON m.u = d.doc_id
                WHERE d.doc_id = LEAST(d.doc_id, coalesce(m.mn, d.doc_id))
            )
            SELECT '1_exact' AS stage, n0.n AS n_in, n0.n - n1.n AS n_removed,
                   n1.n AS n_out
            FROM n0, n1
            UNION ALL
            SELECT '2_near_dup', n1.n, n1.n - n2.n, n2.n FROM n1, n2
        """,
        "graph_hostgraph": """
            WITH e AS (
                SELECT 'http://h' || (l_orderkey % 40) || '.example/p/' || l_orderkey AS src_url,
                       'http://h' || (l_partkey % 25) || '.example/i/' || l_partkey AS dst_url
                FROM lineitem
            )
            SELECT lower(regexp_extract(src_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS src_host,
                   lower(regexp_extract(dst_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS dst_host,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT src_url) AS BIGINT) AS n_src_pages
            FROM e GROUP BY 1, 2
        """,
        "graph_reciprocity": """
            WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
            p AS (
                SELECT a.l_suppkey AS src, b.l_suppkey AS dst, a.l_orderkey AS ok
                FROM s a JOIN s b ON a.l_orderkey = b.l_orderkey
                WHERE a.l_suppkey <> b.l_suppkey
            ),
            e AS (
                SELECT DISTINCT src, dst FROM p
                WHERE (src < dst AND (src + dst) % 2 = 0) OR ok % 3 = 0
            )
            SELECT e.src AS node,
                   CAST(count(*) AS BIGINT) AS out_deg,
                   CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
                   CAST(10000 * sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                        // count(*) AS BIGINT) AS reciprocity_bp
            FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src
            GROUP BY e.src
        """,
        "stream_hot_hosts": """
            SELECT CAST(user_id AS VARCHAR) AS key
            FROM events GROUP BY user_id HAVING count(*) >= 70
        """,
        "stream_hll": """
            WITH v AS (
                SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM events
            ),
            r AS (SELECT CAST(h % 256 AS INT) AS register, h // 256 AS w FROM v)
            SELECT register,
                   CAST(max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS INT) AS max_rank
            FROM r GROUP BY register
        """,
        "events_hll_registers": """
            WITH v AS (
                SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM events
            ),
            r AS (
                SELECT CAST(h % 256 AS INT) AS register, h // 256 AS w, h FROM v
            )
            SELECT register,
                   CAST(max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS INT) AS max_rank,
                   CAST(count(DISTINCT h) AS BIGINT) AS n_distinct
            FROM r GROUP BY register
        """,
        "docs_quantile_sketch": """
            WITH hist AS (
                SELECT CAST(length(bin(greatest(CAST(n_chars AS BIGINT), 0))) AS INT) AS bucket,
                       CAST(count(*) AS BIGINT) AS n
                FROM documents GROUP BY 1
            ),
            cum AS (
                SELECT a.bucket, CAST(sum(b.n) AS BIGINT) AS cum_count
                FROM hist a JOIN hist b ON b.bucket <= a.bucket
                GROUP BY a.bucket
            ),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM hist),
            spec AS (SELECT unnest([50, 90, 99]) AS q)
            SELECT CAST(q AS INT) AS q,
                   CAST(min(bucket) AS INT) AS bucket,
                   CAST((1::BIGINT << min(bucket)) - 1 AS BIGINT) AS upper_bound,
                   CAST(min(cum_count) AS BIGINT) AS cum_count,
                   total
            FROM cum CROSS JOIN tot CROSS JOIN spec
            WHERE cum_count * 100 >= q * total
            GROUP BY q, total
        """,
        "text_bpe_train": _bpe_train_sql(6),
        # batched trainer vs the UNROLLED SEQUENTIAL loop at 64 merges:
        # the batch-acceptance rule must be invisible in the result
        "text_bpe_train_batched": _bpe_train_sql(64),
        "text_bpe_encode": f"""
            WITH words AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                          x -> x <> '')) AS w
                FROM documents
            ),
            enc AS (
                SELECT doc_id, CAST(length(w) AS BIGINT) AS chars,
                       CAST(length({_bpe_sym_expr()})
                            - length(replace({_bpe_sym_expr()}, '(', '')) AS BIGINT) AS syms
                FROM words
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(chars) AS BIGINT) AS n_chars_az,
                   CAST(sum(syms) AS BIGINT) AS n_symbols,
                   CAST(10000 * sum(syms) // greatest(sum(chars), 1) AS BIGINT) AS compression_bp
            FROM enc GROUP BY doc_id
        """,
        "text_exact_substring_dedup": f"""
            WITH tokpos AS (
                SELECT doc_id, unnest({_TOKS}) AS t,
                       unnest(range(len({_TOKS}))) AS pos
                FROM documents
            ),
            offs AS (
                SELECT doc_id, pos, t,
                       CAST(coalesce(sum(length(t) + 1) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
                FROM tokpos
            ),
            g AS (
                SELECT doc_id, s,
                       concat_ws(' ', t,
                           {", ".join(f"lead(t, {j}) OVER (PARTITION BY doc_id ORDER BY pos)" for j in range(1, 8))}
                       ) AS gram,
                       lead(t, 7) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL AS fullg
                FROM offs
            ),
            spans AS (
                SELECT doc_id, s, s + length(gram) AS e, gram FROM g WHERE fullg
            ),
            rem AS (
                SELECT doc_id, s, e FROM (
                    SELECT doc_id, s, e,
                           row_number() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn
                    FROM spans
                ) WHERE rn > 1
            ),
            isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (
                           PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS newi
                FROM rem
            ),
            isl2 AS (
                SELECT doc_id, s, e,
                       sum(newi) OVER (PARTITION BY doc_id ORDER BY s, e) AS islid
                FROM isl
            ),
            islands AS (
                SELECT doc_id, CAST(min(s) AS BIGINT) AS isl_s,
                       CAST(max(e) AS BIGINT) AS isl_e, FALSE AS sent
                FROM isl2 GROUP BY doc_id, islid
            ),
            canon AS (
                -- coalesce: DuckDB's array_to_string([]) is NULL where
                -- Spark's array_join is '' (tokenless docs)
                SELECT doc_id,
                       coalesce(array_to_string({_TOKS}, ' '), '') AS canon
                FROM documents
            ),
            marks AS (
                SELECT doc_id, isl_s, isl_e, sent FROM islands
                UNION ALL
                SELECT doc_id, CAST(length(canon) AS BIGINT),
                       CAST(length(canon) AS BIGINT), TRUE
                FROM canon
            ),
            pieces AS (
                SELECT m.doc_id, isl_s, isl_e, sent,
                       substring(canon, CAST(prev_e + 1 AS INT),
                                 CAST(isl_s - prev_e AS INT)) AS piece
                FROM (
                    SELECT doc_id, isl_s, isl_e, sent,
                           coalesce(lag(isl_e) OVER (
                               PARTITION BY doc_id ORDER BY isl_s, isl_e
                           ), 0) AS prev_e
                    FROM marks
                ) m JOIN canon USING (doc_id)
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN NOT sent THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_spans,
                   CAST(sum(CASE WHEN NOT sent THEN isl_e - isl_s ELSE 0 END) AS BIGINT) AS removed_chars,
                   string_agg(piece, '' ORDER BY isl_s, isl_e) AS clean_text
            FROM pieces GROUP BY doc_id
        """,
        "text_exact_substring_winnow": """
            WITH bodies AS (
                SELECT doc_id, text AS body, CAST(length(text) AS BIGINT) AS clen
                FROM documents
            ),
            soffs0 AS (
                SELECT doc_id, body,
                       unnest(range(CAST(length(body) - 39 AS BIGINT))) AS o
                FROM bodies WHERE length(body) >= 40
            ),
            soffs AS (
                SELECT doc_id,
                       CAST(o AS BIGINT) AS s,
                       CAST(o + 40 AS BIGINT) AS e,
                       substr(body, CAST(o + 1 AS INT), 40) AS gram
                FROM soffs0
            ),
            combed AS (
                SELECT doc_id, s, e, gram,
                       ('0x' || substr(md5(gram), 1, 8))::BIGINT * 1073741824 + s AS comb
                FROM soffs
            ),
            winmin AS (
                SELECT doc_id,
                       min(comb) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn
                FROM combed
            ),
            sel AS (
                SELECT DISTINCT doc_id, mn % 1073741824 AS s FROM winmin
            ),
            picked AS (
                SELECT c.doc_id, c.s, c.e, c.gram
                FROM combed c JOIN sel USING (doc_id, s)
            ),
            rem AS (
                SELECT doc_id, s, e FROM (
                    SELECT doc_id, s, e,
                           row_number() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn,
                           count(*) OVER (PARTITION BY gram) AS occ
                    FROM picked
                ) WHERE occ >= 2 AND rn > 1
            ),
            isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (
                           PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS newi
                FROM rem
            ),
            isl2 AS (
                SELECT doc_id, s, e,
                       sum(newi) OVER (PARTITION BY doc_id ORDER BY s, e) AS islid
                FROM isl
            ),
            islands AS (
                SELECT doc_id, CAST(min(s) AS BIGINT) AS isl_s,
                       CAST(max(e) AS BIGINT) AS isl_e, FALSE AS sent
                FROM isl2 GROUP BY doc_id, islid
            ),
            marks AS (
                SELECT doc_id, isl_s, isl_e, sent FROM islands
                UNION ALL
                SELECT doc_id, clen, clen, TRUE FROM bodies
            ),
            pieces AS (
                SELECT m.doc_id, isl_s, isl_e, sent,
                       substring(body, CAST(prev_e + 1 AS INT),
                                 CAST(isl_s - prev_e AS INT)) AS piece
                FROM (
                    SELECT doc_id, isl_s, isl_e, sent,
                           coalesce(lag(isl_e) OVER (
                               PARTITION BY doc_id ORDER BY isl_s, isl_e
                           ), 0) AS prev_e
                    FROM marks
                ) m JOIN bodies USING (doc_id)
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN NOT sent THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_spans,
                   CAST(sum(CASE WHEN NOT sent THEN isl_e - isl_s ELSE 0 END) AS BIGINT) AS removed_chars,
                   string_agg(piece, '' ORDER BY isl_s, isl_e) AS clean_text
            FROM pieces GROUP BY doc_id
        """,
        "text_exact_substring_bytes": """
            WITH bodies AS (
                SELECT doc_id, text AS body, CAST(length(text) AS BIGINT) AS clen
                FROM documents
            ),
            soffs0 AS (
                SELECT doc_id, body,
                       unnest(range(CAST(length(body) - 39 AS BIGINT))) AS o
                FROM bodies WHERE length(body) >= 40
            ),
            soffs AS (
                SELECT doc_id,
                       CAST(o AS BIGINT) AS s,
                       CAST(o + 40 AS BIGINT) AS e,
                       substr(body, CAST(o + 1 AS INT), 40) AS gram
                FROM soffs0
            ),
            rem AS (
                SELECT doc_id, s, e FROM (
                    SELECT doc_id, s, e,
                           row_number() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn,
                           count(*) OVER (PARTITION BY gram) AS occ
                    FROM soffs
                ) WHERE occ >= 2 AND rn > 1
            ),
            isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (
                           PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS newi
                FROM rem
            ),
            isl2 AS (
                SELECT doc_id, s, e,
                       sum(newi) OVER (PARTITION BY doc_id ORDER BY s, e) AS islid
                FROM isl
            ),
            islands AS (
                SELECT doc_id, CAST(min(s) AS BIGINT) AS isl_s,
                       CAST(max(e) AS BIGINT) AS isl_e, FALSE AS sent
                FROM isl2 GROUP BY doc_id, islid
            ),
            marks AS (
                SELECT doc_id, isl_s, isl_e, sent FROM islands
                UNION ALL
                SELECT doc_id, clen, clen, TRUE FROM bodies
            ),
            pieces AS (
                SELECT m.doc_id, isl_s, isl_e, sent,
                       substring(body, CAST(prev_e + 1 AS INT),
                                 CAST(isl_s - prev_e AS INT)) AS piece
                FROM (
                    SELECT doc_id, isl_s, isl_e, sent,
                           coalesce(lag(isl_e) OVER (
                               PARTITION BY doc_id ORDER BY isl_s, isl_e
                           ), 0) AS prev_e
                    FROM marks
                ) m JOIN bodies USING (doc_id)
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN NOT sent THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_spans,
                   CAST(sum(CASE WHEN NOT sent THEN isl_e - isl_s ELSE 0 END) AS BIGINT) AS removed_chars,
                   string_agg(piece, '' ORDER BY isl_s, isl_e) AS clean_text
            FROM pieces GROUP BY doc_id
        """,
        "text_host_boilerplate": f"""
            WITH t AS (
                SELECT doc_id, source, {_TOKS} AS toks FROM documents
            ), s AS (
                SELECT doc_id, source,
                       CASE WHEN len(toks) > 0
                            THEN list_transform(generate_series(0, (len(toks) - 1) // 10),
                                                i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
                            ELSE CAST([] AS VARCHAR[]) END AS segs
                FROM t
            ), inst AS (
                SELECT doc_id, source, i, segs[i + 1] AS seg,
                       md5(segs[i + 1]) AS sh
                FROM s, unnest(generate_series(0, len(segs) - 1)) AS g(i)
                WHERE len(segs) > 0
            ), dfreq AS (
                SELECT source, sh, count(DISTINCT doc_id) AS df
                FROM inst GROUP BY source, sh
            ), srcn AS (
                SELECT source, count(*) AS n_docs FROM documents GROUP BY source
            ), boiler AS (
                SELECT source, sh FROM dfreq JOIN srcn USING (source)
                WHERE df >= 2 AND df * 10000 >= 3000 * n_docs
            ), flagged AS (
                SELECT i.doc_id, i.i, i.seg, b.sh IS NOT NULL AS is_bp
                FROM inst i LEFT JOIN boiler b
                  ON i.source = b.source AND i.sh = b.sh
            ), per AS (
                SELECT doc_id, count(*) AS n_segments,
                       sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS n_boiler,
                       coalesce(string_agg(CASE WHEN NOT is_bp THEN seg END,
                                           ' ' ORDER BY i), '') AS clean_text
                FROM flagged GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
                   CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
                   coalesce(clean_text, '') AS clean_text
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "text_dup_ngram_coverage": f"""
            WITH tokpos AS (
                SELECT doc_id, unnest({_TOKS}) AS t,
                       unnest(range(len({_TOKS}))) AS pos
                FROM documents
            ),
            offs AS (
                SELECT doc_id, pos, t,
                       CAST(coalesce(sum(length(t) + 1) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
                FROM tokpos
            ),
            g AS (
                SELECT doc_id, s,
                       concat_ws(' ', t,
                           {", ".join(f"lead(t, {j}) OVER (PARTITION BY doc_id ORDER BY pos)" for j in range(1, 8))}
                       ) AS gram,
                       lead(t, 7) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL AS fullg
                FROM offs
            ),
            spans AS (
                SELECT doc_id, s, s + length(gram) AS e, gram FROM g WHERE fullg
            ),
            dup AS (
                SELECT gram FROM spans GROUP BY gram
                HAVING count(DISTINCT doc_id) >= 2
            ),
            hits AS (SELECT sp.doc_id, sp.s, sp.e FROM spans sp JOIN dup USING (gram)),
            isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (
                           PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS newi
                FROM hits
            ),
            isl2 AS (
                SELECT doc_id, s, e,
                       sum(newi) OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
                FROM isl
            ),
            cov AS (
                SELECT doc_id, CAST(sum(mx - mn) AS BIGINT) AS dup_chars
                FROM (SELECT doc_id, iid, max(e) AS mx, min(s) AS mn
                      FROM isl2 GROUP BY doc_id, iid)
                GROUP BY doc_id
            ),
            canon AS (
                SELECT doc_id,
                       CAST(sum(length(t)) + count(*) - 1 AS BIGINT) AS canon_chars
                FROM tokpos GROUP BY doc_id
            )
            SELECT c.doc_id, canon_chars,
                   CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars,
                   CAST(10000 * coalesce(dup_chars, 0) // greatest(canon_chars, 1) AS BIGINT) AS coverage_bp
            FROM canon c LEFT JOIN cov USING (doc_id)
        """,
        "crawl_anchor_text": """
            WITH links AS (
                SELECT 'p:' || CAST(l_partkey AS VARCHAR) AS dst,
                       lower(l_returnflag || '-' || l_linestatus) AS anchor
                FROM lineitem
            ),
            pa AS (
                SELECT dst, anchor, CAST(count(*) AS BIGINT) AS n
                FROM links GROUP BY dst, anchor
            ),
            r AS (
                SELECT dst, anchor, n,
                       row_number() OVER (PARTITION BY dst ORDER BY n DESC, anchor) AS rn,
                       CAST(sum(n) OVER (PARTITION BY dst) AS BIGINT) AS n_links,
                       CAST(count(*) OVER (PARTITION BY dst) AS BIGINT) AS n_anchors
                FROM pa
            )
            SELECT dst, n_links, n_anchors, anchor AS top_anchor, n AS top_count
            FROM r WHERE rn = 1
        """,
        "crawl_domain_budget": f"""
            WITH fr AS (
                SELECT CASE WHEN o_orderkey % 4 = 0
                         THEN concat('h', o_custkey % 50, '.co.example')
                       WHEN o_orderkey % 4 = 1
                         THEN concat('w', o_orderkey % 7, '.h', o_custkey % 50, '.co.example')
                       WHEN o_orderkey % 4 = 2
                         THEN concat('h', o_custkey % 30, '.example')
                       ELSE concat('x', o_custkey % 10, '.other.test') END AS host
                FROM orders
            ),
            per_host AS (
                SELECT host, CAST(count(*) AS BIGINT) AS n_urls FROM fr GROUP BY host
            ),
            sfx AS (SELECT unnest({list(_PSL_SUFFIXES)!r}) AS suffix),
            m AS (
                SELECT host, suffix FROM per_host
                LEFT JOIN sfx ON ends_with(host, '.' || suffix)
            ),
            ch AS (
                SELECT host, suffix FROM (
                    SELECT host, suffix,
                           row_number() OVER (PARTITION BY host
                               ORDER BY length(suffix) DESC, suffix) AS rn
                    FROM m) WHERE rn = 1
            ),
            reg AS (
                SELECT p.host, p.n_urls,
                       CASE WHEN suffix IS NOT NULL THEN
                           regexp_extract(left(p.host, length(p.host) - length(suffix) - 1),
                                          '([^.]*)$', 1) || '.' || suffix
                       ELSE regexp_extract(p.host, '([^.]+\\.[^.]+)$', 1) END AS reg_domain
                FROM per_host p JOIN ch ON ch.host = p.host
            )
            SELECT reg_domain,
                   CAST(count(*) AS BIGINT) AS n_hosts,
                   CAST(sum(n_urls) AS BIGINT) AS n_urls,
                   CAST(least(sum(n_urls), 100 * count(*)) AS BIGINT) AS budget
            FROM reg GROUP BY reg_domain
        """,
        "crawl_e2e_order": _e2e_order_sql(),
        "graph_hits": _hits_sql(iters=2),
        "graph_kcore": _kcore_sql(core_k=2, iters=4),
        "graph_neighbor_jaccard": """
            WITH e AS (
                SELECT DISTINCT l_suppkey AS u, l_partkey AS v FROM lineitem
            ),
            sizes AS (SELECT u, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY u),
            hot AS (SELECT v FROM e GROUP BY v HAVING count(*) > 100),
            cold AS (SELECT e.u, e.v FROM e WHERE e.v NOT IN (SELECT v FROM hot)),
            inter AS (
                SELECT a.u AS node_a, b.u AS node_b,
                       CAST(count(*) AS BIGINT) AS inter
                FROM cold a JOIN cold b ON a.v = b.v AND a.u < b.u
                GROUP BY 1, 2
            )
            SELECT node_a, node_b, inter, sa.n + sb.n - inter AS un
            FROM inter
            JOIN sizes sa ON sa.u = node_a
            JOIN sizes sb ON sb.u = node_b
            WHERE 100 * inter >= 17 * (sa.n + sb.n - inter)
        """,
        # exact fixpoint oracle: recursive closure -> min reachable node
        "graph_components_twophase": """
            WITH RECURSIVE s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
            e AS (
                SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
                FROM s a JOIN s b
                  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
            ),
            und AS (
                SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
            ),
            reach(u, v) AS (
                SELECT u, v FROM und
                UNION
                SELECT r.u, und.v FROM reach r JOIN und ON r.v = und.u
            ),
            mins AS (SELECT u, min(v) AS mn FROM reach GROUP BY u),
            nodes AS (SELECT u AS node FROM und GROUP BY u)
            SELECT node, least(node, coalesce(mn, node)) AS comp
            FROM nodes LEFT JOIN mins ON mins.u = node
        """,
        # independent construction: enumerate each triangle x<y<z once via
        # its three canonical edges (the Spark side uses degree-ordered
        # orientation instead — algorithmic diversity strengthens the gate)
        "graph_triangles": """
            WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
            e AS (
                SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
                FROM s a JOIN s b
                  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
            ),
            tri AS (
                SELECT e1.u AS x, e1.v AS y, e2.v AS z
                FROM e e1
                JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            ),
            corners AS (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ),
            nodes AS (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
            c AS (SELECT node, CAST(count(*) AS BIGINT) AS n FROM corners GROUP BY node)
            SELECT nodes.node, coalesce(c.n, 0) AS n_triangles
            FROM nodes LEFT JOIN c USING (node)
        """,
        "graph_components": _components_sql(iters=4),
        "events_funnel": """
            WITH m AS (
                SELECT user_id, event_type, ts, event_id,
                       max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen1
                FROM events
            ), m2 AS (
                SELECT *, CASE WHEN event_type = 'click' AND seen1 = 1
                               THEN 1 ELSE 0 END AS q2
                FROM m
            ), m3 AS (
                SELECT *, max(q2)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen2
                FROM m2
            ), q AS (
                SELECT *, CASE WHEN event_type = 'purchase' AND seen2 = 1
                               THEN 1 ELSE 0 END AS q3
                FROM m3
            ), agg AS (
                SELECT user_id,
                       CAST(min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS BIGINT) AS t1_us,
                       CAST(min(CASE WHEN q2 = 1 THEN epoch_us(ts) END) AS BIGINT) AS t2_us,
                       CAST(min(CASE WHEN q3 = 1 THEN epoch_us(ts) END) AS BIGINT) AS t3_us
                FROM q GROUP BY user_id
            )
            SELECT user_id, t1_us, t2_us, t3_us,
                   CAST(CASE WHEN t3_us IS NOT NULL THEN 3
                             WHEN t2_us IS NOT NULL THEN 2
                             WHEN t1_us IS NOT NULL THEN 1 ELSE 0 END AS INT) AS reached
            FROM agg
        """,
        "text_inverted_index": f"""
            WITH base AS (
                SELECT term, doc_id, count(*) AS tf
                FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
                GROUP BY term, doc_id
            ), stats AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df,
                       CAST(sum(tf) AS BIGINT) AS cf
                FROM base GROUP BY term
            ), postings AS (
                SELECT b.term,
                       array_to_string(list_sort(list(b.doc_id)), ',') AS postings
                FROM base b JOIN stats s USING (term)
                WHERE s.df <= 100
                GROUP BY b.term
            )
            SELECT s.term, s.df, s.cf, s.df > 100 AS capped, p.postings
            FROM stats s LEFT JOIN postings p USING (term)
        """,
        "docs_interleave_pack": _SPANS_CTE + f""",
            costed AS (
                SELECT CAST(doc_id AS BIGINT) AS did, doc_id, "offset", kind,
                       CASE WHEN kind = 'text'
                            THEN CAST(len(regexp_extract_all(text, '{_BPE_PAT}', 1)) AS BIGINT)
                            ELSE CAST(64 AS BIGINT) END AS n_tok
                FROM spans
            ), c2 AS (
                SELECT doc_id, "offset", kind, n_tok,
                       CAST(sum(n_tok) OVER (ORDER BY did, "offset"
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS start_off
                FROM costed
            )
            SELECT doc_id, "offset", kind, n_tok, start_off,
                   start_off // 2048 AS first_bin,
                   CASE WHEN n_tok > 0 THEN (start_off + n_tok - 1) // 2048
                        ELSE start_off // 2048 END AS last_bin
            FROM c2
        """,
        "docs_media_dedup": _SPANS_CTE + """,
            medkey AS (
                SELECT doc_id, media_ref,
                       md5('pool:' || (CAST(regexp_extract(media_ref, '/(\\d+)$', 1)
                            AS BIGINT) % 16)) AS content_key
                FROM spans WHERE kind = 'media'
            )
            SELECT content_key,
                   CAST(count(*) AS BIGINT) AS n_refs,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   min(media_ref) AS canonical_ref
            FROM medkey GROUP BY content_key
        """,
        "text_gopher_rules": """
            WITH b AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_words,
                       CAST(coalesce(list_sum(list_transform(
                           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                           x -> length(x))), 0) AS BIGINT) AS sum_wl,
                       CAST(length(regexp_replace(text, '[^#]', '', 'g'))
                            + len(regexp_extract_all(text, '(\\.\\.\\.|…)', 0)) AS BIGINT) AS n_symbols,
                       CAST(len(list_filter(string_split(text, chr(10)), l -> trim(l) <> '')) AS BIGINT) AS n_lines,
                       CAST(len(list_filter(string_split(text, chr(10)),
                           l -> trim(l) <> '' AND regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
                       CAST(len(list_filter(string_split(text, chr(10)),
                           l -> trim(l) <> '' AND regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS BIGINT) AS n_ellipsis,
                       CAST(len(list_filter(
                           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                           x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
                       CAST((CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text), '\\bbe\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END)
                          + (CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
                FROM documents
            ), bp AS (
                SELECT doc_id, n_words,
                       CASE WHEN n_words > 0 THEN (1000 * sum_wl) // n_words ELSE 0 END AS mean_wl_bp,
                       CASE WHEN n_words > 0 THEN (1000 * n_symbols) // n_words ELSE 0 END AS symbol_bp,
                       CASE WHEN n_lines > 0 THEN (1000 * n_bullet) // n_lines ELSE 0 END AS bullet_bp,
                       CASE WHEN n_lines > 0 THEN (1000 * n_ellipsis) // n_lines ELSE 0 END AS ellipsis_bp,
                       CASE WHEN n_words > 0 THEN (1000 * n_alpha) // n_words ELSE 0 END AS alpha_bp,
                       stop_hits
                FROM b
            )
            SELECT doc_id, n_words, mean_wl_bp, symbol_bp, bullet_bp,
                   ellipsis_bp, alpha_bp, stop_hits,
                   (n_words BETWEEN 50 AND 100000
                    AND mean_wl_bp BETWEEN 3000 AND 10000
                    AND symbol_bp <= 100 AND bullet_bp <= 900
                    AND ellipsis_bp <= 300 AND alpha_bp >= 800
                    AND stop_hits >= 2) AS keep
            FROM bp
        """,
        "docs_span_lang_mix": _SPANS_CTE + f""",
            sl AS (
                SELECT doc_id, text,
                       {en} AS c_en, {fr} AS c_fr, {de} AS c_de, {es} AS c_es
                FROM spans WHERE kind = 'text'
            ),
            langs AS (SELECT doc_id, {pred} AS span_lang FROM sl),
            counts AS (
                SELECT doc_id, span_lang, count(*) AS cnt
                FROM langs GROUP BY doc_id, span_lang
            ),
            major AS (
                SELECT doc_id, span_lang AS major_lang, cnt AS major_cnt
                FROM counts
                QUALIFY row_number() OVER (
                    PARTITION BY doc_id ORDER BY cnt DESC, span_lang) = 1
            ),
            tot AS (
                SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_text_spans,
                       CAST(count(*) AS BIGINT) AS n_langs
                FROM counts GROUP BY doc_id
            )
            SELECT t.doc_id, n_text_spans, n_langs, major_lang,
                   CAST(major_cnt AS BIGINT) AS major_cnt,
                   CAST(CASE WHEN n_text_spans > 0
                        THEN (1000 * (n_text_spans - major_cnt)) // n_text_spans
                        ELSE 0 END AS BIGINT) AS minority_bp
            FROM tot t JOIN major USING (doc_id)
        """,
        # batch replay of the streaming limiter: verdicts are a pure
        # function of (host, window, data order), so row_number per
        # (host, window) reproduces the stateful stream exactly.
        "stream_dedup": """
            SELECT DISTINCT
                md5('https://h' || CAST(user_id % 50 AS VARCHAR)
                    || '.example/' || event_type) AS key,
                'https://h' || CAST(user_id % 50 AS VARCHAR)
                    || '.example/' || event_type AS url
            FROM events
        """,
        "stream_rate_limit": """
            WITH h AS (
                SELECT 'h' || (user_id % 50) AS host,
                       CAST(event_id AS BIGINT) AS req_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
                FROM events
            ), w AS (
                SELECT host, req_id, epoch_s,
                       (epoch_s // 600) * 600 AS win_start,
                       row_number() OVER (PARTITION BY host, epoch_s // 600
                                          ORDER BY epoch_s, req_id) AS rn
                FROM h
            )
            SELECT host, req_id, epoch_s, win_start, rn <= 3 AS allowed
            FROM w
        """,
    }
    # recall@k composes two oracles already in the dict: exact top-k as the
    # denominator relation, single-table LSH ANN as the hit set.
    d["sim_ann_recall"] = f"""
        WITH exact AS ({d["sim_cosine_topk"]}),
             ann AS ({d["sim_ann_lsh"]})
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               CAST((100 * count(a.neighbor_id)) // count(*) AS BIGINT)
                   AS recall_pct
        FROM exact e
        LEFT JOIN ann a
               ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """
    d["sim_ivf_recall"] = f"""
        WITH exact AS ({d["sim_cosine_topk"]}),
             ivf AS ({d["sim_ann_ivf"]})
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               CAST((100 * count(a.neighbor_id)) // count(*) AS BIGINT)
                   AS recall_pct
        FROM exact e
        LEFT JOIN ivf a
               ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """
    d["sim_pq_recall"] = f"""
        WITH exact AS (
            WITH q AS (
                SELECT vec_id,
                       list_transform(embedding,
                                      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
                FROM embeddings
            ),
            qs AS (
                SELECT vec_id AS query_id, qe AS qv FROM q WHERE vec_id IN (0, 1, 2)
            ),
            sc AS (
                SELECT qs.query_id, q.vec_id AS neighbor_id,
                       CAST(list_dot_product(q.qe::DOUBLE[], q.qe::DOUBLE[])
                            - 2 * list_dot_product(q.qe::DOUBLE[], qs.qv::DOUBLE[])
                            + list_dot_product(qs.qv::DOUBLE[], qs.qv::DOUBLE[])
                            AS BIGINT) AS d2
                FROM q CROSS JOIN qs WHERE q.vec_id <> qs.query_id
            )
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY d2, neighbor_id) AS rk
                FROM sc
            ) WHERE rk <= 5
        ),
        pq AS ({d["sim_ann_pq"]})
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               CAST((100 * count(a.neighbor_id)) // count(*) AS BIGINT)
                   AS recall_pct
        FROM exact e
        LEFT JOIN pq a
               ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """
    d["docs_curriculum"] = f"""
        WITH q AS (
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   CASE WHEN len({_TOKS}) > 0
                        THEN (1000 * CAST(len(regexp_extract_all(lower(text),
                             '{_STOP_PAT}', 1)) AS BIGINT)) // len({_TOKS})
                        ELSE 0 END AS stop_bp
            FROM documents
        ), r AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY stop_bp ASC, n_tokens ASC,
                                      doc_id DESC) - 1 AS below
            FROM q
        ), n AS (
            SELECT count(*) AS n FROM q
        ), fin AS (
            SELECT doc_id FROM r, n WHERE below * 10000 >= 7500 * n
        ), e AS (
            SELECT doc_id, ep.epoch
            FROM documents, (SELECT unnest(range(2)) AS epoch) ep
            UNION ALL
            SELECT doc_id, 2 AS epoch FROM fin
        ), h AS (
            SELECT doc_id, epoch,
                   md5('curr' || CAST(epoch AS VARCHAR) || ':'
                       || CAST(doc_id AS VARCHAR)) AS h
            FROM e
        )
        SELECT doc_id, CAST(epoch AS INT) AS epoch,
               CAST(row_number() OVER (PARTITION BY epoch
                                       ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        FROM h
    """
    d["graph_spam_mass"] = f"""
        WITH pr AS ({_pagerank_sql(iters=3)}),
             tr AS ({_ppr_sql(iters=3)}),
             j AS (
                 SELECT pr.node, pr."rank" AS pr,
                        CAST(coalesce(tr."rank", 0) AS BIGINT) AS tr
                 FROM pr LEFT JOIN tr ON tr.node = pr.node
             ),
             tot AS (
                 SELECT CAST(sum(pr) AS BIGINT) AS sp,
                        CAST(sum(tr) AS BIGINT) AS st
                 FROM j
             ),
             nrm AS (
                 SELECT node, pr,
                        CAST(CASE WHEN st > 0 THEN
                            CAST(tr AS HUGEINT) * sp // st
                            ELSE 0 END AS BIGINT) AS tr_norm
                 FROM j, tot
             )
        SELECT node, pr, tr_norm,
               CAST(CASE WHEN pr > 0 THEN
                   10000 * greatest(pr - tr_norm, 0) // pr
                   ELSE 0 END AS BIGINT) AS spam_bp
        FROM nrm
    """
    d["stream_funnel"] = d["events_funnel"]
    d["stream_sessionize"] = d["events_sessionize"]
    # histogram over the clusters relation (same composition pattern)
    d["dedup_cluster_sizes"] = f"""
        WITH c AS ({d["dedup_clusters"]}),
        sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM c GROUP BY 1)
        SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sz * count(*) AS BIGINT) AS n_docs
        FROM sizes GROUP BY sz
    """
    d["events_peak_hour"] = """
        WITH h AS (
            SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%H') AS hour,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        best AS (
            SELECT event_type, hour AS peak_hour, n_events AS peak_n
            FROM (SELECT event_type, hour, n_events,
                         row_number() OVER (PARTITION BY event_type
                             ORDER BY n_events DESC, hour) AS rk
                  FROM h) WHERE rk = 1
        )
        SELECT h.event_type, h.hour, h.n_events, b.peak_hour, b.peak_n
        FROM h JOIN best b ON b.event_type = h.event_type
    """
    # 2x2 agreement between the two quality detectors (same composition
    # pattern as sim_ann_recall): model-based vs Gopher-rule keep verdicts.
    d["text_quality_agreement"] = f"""
        WITH qm AS (SELECT doc_id, keep FROM ({d["text_quality_model"]}) t1),
             gr AS (SELECT doc_id, keep FROM ({d["text_gopher_rules"]}) t2)
        SELECT qm.keep AS model_keep, gr.keep AS gopher_keep,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM qm JOIN gr USING (doc_id)
        GROUP BY 1, 2
    """
    return _reorder(d)
