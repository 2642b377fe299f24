"""Frontier-analytics operators: the queries a crawl operator runs against
the URL frontier / fetch history to keep a 10^10-URL crawl healthy.

These complement the engine's round loop (engine.py): the loop *executes*
politeness and wave selection; these operators *diagnose and steer* it —
crawl-trap detection (infinite URL spaces), adaptive re-fetch scheduling
(freshness backoff, the incremental-crawl analog of the reference's
once-only seen set), and host-skew reports that size the engine's salting
(engine.py host-salted repartitioning, north_rule "skew handled explicitly").

Scale shapes: trap detection and skew are single partial->final
aggregations keyed on (host[, template]) — never keyed on url, so the
hot-host problem they diagnose cannot skew the diagnosis itself beyond the
group row. The refetch schedule is one url-partitioned window + one
aggregation; state bounded per url by its history length. All measures are
exact integers (basis points, epoch seconds, shifted-left intervals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# digit runs (and digit runs joined by - . _ as in dates/versions) collapse
# to one N: /cal/2024-05-17 and /cal/2024-05-18 share a template.
_TEMPLATE_PAT = r"[0-9]+([-._][0-9]+)*"


def trap_templates(urls: DataFrame, url_col: str = "url", min_urls: int = 100) -> DataFrame:
    """Crawl-trap detection by URL-template explosion.

    Classic trap signatures (calendars, session ids, faceted search) show up
    as ONE path template generating an unbounded number of concrete URLs.
    Template = host + path with digit runs collapsed to ``N``; any template
    whose distinct-URL count reaches ``min_urls`` is flagged, and the crawl
    loop can cap or blocklist it (the reference has no analog — its corpus
    is finite; at 10^10 URLs this is what keeps the frontier finite).

    One exact ``count(DISTINCT url)`` aggregation keyed on (host, template):
    partial aggregation collapses duplicates map-side, and the key space is
    bounded by real site structure (hosts x templates), not by URL count.
    """
    u = F.col(url_col)
    host = F.lower(
        F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    ).alias("host")
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    template = F.regexp_replace(path, _TEMPLATE_PAT, "N").alias("template")
    return (
        urls.select(host, template, u.alias("_url"))
        .groupBy("host", "template")
        .agg(F.countDistinct("_url").alias("n_urls"))
        .withColumn("is_trap", F.col("n_urls") >= F.lit(min_urls))
    )


def refetch_schedule(
    history: DataFrame,
    base_s: int = 3600,
    max_doublings: int = 8,
) -> DataFrame:
    """Adaptive re-fetch scheduling (freshness backoff) from fetch history.

    Input: one row per past fetch — ``(url_id, ts, changed)`` where
    ``changed`` says the content differed from the previous fetch. Per URL,
    the re-fetch interval doubles for every consecutive unchanged fetch
    since the last observed change (capped at ``max_doublings``) and resets
    to ``base_s`` on change — the standard incremental-recrawl policy
    (Cho & Garcia-Molina's uniform-refresh result motivates the cap). The
    reference crawls once-only (its seen set never expires); this operator
    is what turns the same frontier tables into a continuous crawl.

    Shape: one window (row_number per url in fetch order) + one aggregation
    per url — both keyed on url_id, one shuffle total. Exact integer math:
    interval = base_s << min(streak, max_doublings); epoch-second output so
    no engine-specific timestamp arithmetic is compared. ``fetch_id`` is the
    total tie-break (row_number over a tied ts would be nondeterministic).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("url_id").orderBy("ts", "fetch_id")
    ranked = history.select(
        "url_id",
        "ts",
        F.col("changed").cast("boolean").alias("changed"),
        F.row_number().over(w).alias("rn"),
    )
    per_url = ranked.groupBy("url_id").agg(
        F.count("*").alias("n_fetches"),
        F.max("ts").alias("last_ts"),
        F.coalesce(
            F.max(F.when(F.col("changed"), F.col("rn"))), F.lit(0)
        ).alias("last_change_rn"),
    )
    interval = F.expr(
        f"shiftleft(CAST({base_s} AS BIGINT),"
        f" CAST(least(unchanged_streak, {max_doublings}) AS INT))"
    )
    return (
        per_url.withColumn(
            "unchanged_streak",
            (F.col("n_fetches") - F.col("last_change_rn")).cast("long"),
        )
        .withColumn("interval_s", interval)
        .select(
            "url_id",
            F.col("n_fetches").cast("long").alias("n_fetches"),
            "unchanged_streak",
            "interval_s",
            (F.unix_timestamp("last_ts") + F.col("interval_s")).alias(
                "next_fetch_epoch"
            ),
        )
    )


def host_skew(frontier: DataFrame, host_col: str = "host", n_parts: int = 32) -> DataFrame:
    """Frontier host-skew report: the numbers that size the engine's
    host-salting (engine.py salted repartitioning; north_rule skew clause).

    Returns ONE row: total URLs, distinct hosts, the hottest host's share
    and the top-10 hosts' share (basis points), and the salt factor the
    hottest host needs so its rows spread over at most its fair share of
    ``n_parts`` partitions — ``ceil(max_count * n_parts / total)``.

    Two tiny aggregations: per-host counts (partial->final, one row per
    host — the diagnosis is never itself skewed by the hot host), then a
    single-row rollup over #hosts rows. The top-10 share sorts only the
    per-host count relation (10^6-10^7 rows at web scale, trivially fine).
    """
    counts = frontier.groupBy(F.col(host_col).alias("_host")).agg(
        F.count("*").alias("n")
    )
    top10 = (
        counts.orderBy(F.desc("n"), "_host")
        .limit(10)
        .agg(F.sum("n").alias("top10_n"))
    )
    roll = counts.agg(
        F.sum("n").cast("long").alias("n_urls"),
        F.count("*").cast("long").alias("n_hosts"),
        F.max("n").cast("long").alias("max_n"),
    )
    return (
        roll.crossJoin(top10)
        .select(
            "n_urls",
            "n_hosts",
            F.expr("(max_n * 10000) DIV n_urls").alias("max_host_share_bp"),
            F.expr("(top10_n * 10000) DIV n_urls").alias("top10_share_bp"),
            F.expr(f"(max_n * {n_parts} + n_urls - 1) DIV n_urls").alias(
                f"salt_factor_{n_parts}"
            ),
        )
    )


def url_features(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-URL structural features for frontier prioritization.

    The signals a learned (or heuristic) frontier prioritizer scores:
    path depth, query-parameter count, digit density, URL length — cheap
    predictors of page value (shallow, parameter-free, digit-light URLs
    are disproportionately content pages; deep parameterized ones are
    faceted/session noise). Everything is whole-stage-codegen string
    arithmetic, map-side only — no shuffle, no UDF — so it rides along
    with canonicalization in the enqueue stage at zero extra passes.
    """
    u = F.col(url_col)
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    return urls.select(
        u.alias("url"),
        F.length(u).cast("long").alias("url_len"),
        F.when(
            F.length(path) > 1,
            F.size(F.split(path, "/")) - 1,
        )
        .otherwise(0)
        .cast("long")
        .alias("path_depth"),
        F.when(F.length(query) > 0, F.size(F.split(query, "&")))
        .otherwise(0)
        .cast("long")
        .alias("n_params"),
        (
            F.length(u) - F.length(F.regexp_replace(u, r"[0-9]", ""))
        ).cast("long").alias("n_digits"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "key",
    payload: str = "payload",
) -> DataFrame:
    """(key, change, old_payload, new_payload) between two keyed snapshots,
    change in {'added', 'deleted', 'changed'} — unchanged keys are omitted.

    The reference computes exactly this diff between worker-registry
    snapshots to re-assign tasks (workNodeDiff, master/master.go:467-486:
    added / deleted / changed node sets); the same shape answers the crawl
    operator's recurring questions — which hosts joined/left the frontier
    between rounds, which sitemap URLs appeared/vanished between fetches,
    which robots rules flipped.

    Scale shape: ONE full-outer hash join keyed on ``key`` plus a codegen
    projection; output cardinality is bounded by the churn, not the
    snapshot size, because the unchanged majority is filtered before any
    further shuffle. No driver-side set materialization (the reference's
    in-memory maps cap at cluster size; snapshots here can be 10^10 rows).
    """
    o = old.select(F.col(key).alias("key"), F.col(payload).alias("old_payload"))
    n = new.select(F.col(key).alias("key"), F.col(payload).alias("new_payload"))
    joined = o.join(n, "key", "full_outer")
    return joined.select(
        "key",
        F.when(F.col("old_payload").isNull(), F.lit("added"))
        .when(F.col("new_payload").isNull(), F.lit("deleted"))
        .when(F.col("old_payload") != F.col("new_payload"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
        "old_payload",
        "new_payload",
    ).filter(F.col("change") != "unchanged")


def resolve_redirects(
    redirects: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_doublings: int = 6,
) -> DataFrame:
    """(src, final, hops, looped): resolve every redirect alias to its
    terminal URL by POINTER DOUBLING — log2(chain) rounds, not chain-length
    rounds.

    Crawlers accumulate functional alias graphs (http->https, shorteners,
    canonical rel-links, moved pages); frontier dedup wants every alias
    collapsed to its terminal before the seen-check. One hop per round is
    O(longest chain); doubling composes the pointer with itself —
    ptr' = ptr(ptr(n)), hops' = hops + hops(ptr(n)) — so a 64-hop chain
    resolves in 6 rounds. Each round is ONE self-join of the pointer
    relation keyed on the pointee + localCheckpoint (constant plan).

    Chains longer than 2^max_doublings — in practice only CYCLES, which
    redirect graphs do contain — come out with ``looped = true`` (their
    pointer still lands on a source after the last round); real crawlers
    drop those as redirect loops, so the flag IS the decision. A src with
    several recorded dsts (conflicting fetches) resolves to min(dst) —
    a deterministic aggregate, NOT dropDuplicates, whose survivor would
    depend on partition order.
    """
    e = (
        redirects.select(F.col(src).alias("n"), F.col(dst).alias("p"))
        .groupBy("n")
        .agg(F.min("p").alias("p"))
    )
    state = e.withColumn("hops", F.lit(1).cast("long")).localCheckpoint()
    for _ in range(max_doublings):
        nxt = state.select(
            F.col("n").alias("p"),
            F.col("p").alias("p2"),
            F.col("hops").alias("hops2"),
        )
        state = (
            state.join(nxt, "p", "left")
            .select(
                "n",
                F.coalesce("p2", "p").alias("p"),
                (F.col("hops") + F.coalesce("hops2", F.lit(0))).cast("long").alias("hops"),
            )
            .localCheckpoint()
        )
    dom = e.select(F.col("n").alias("p"), F.lit(True).alias("_in_dom"))
    return (
        state.join(dom, "p", "left")
        .select(
            F.col("n").alias("src"),
            F.col("p").alias("final"),
            "hops",
            F.coalesce("_in_dom", F.lit(False)).alias("looped"),
        )
    )


def bloom_fpr_audit(
    build: DataFrame,
    probe: DataFrame,
    key: str = "key",
    m_bits: int = 1 << 18,
    k_hashes: int = 5,
) -> DataFrame:
    """One-row audit of Bloom sizing: (m_bits, k_hashes, n_build, n_probe,
    n_bits_set, n_false_pos, fpr_bp) — measured false-positive rate of a
    Bloom filter over ``build`` keys probed with (disjoint) ``probe`` keys.

    The engine's URL-seen pre-filter (operators/dedup.py) is a numpy
    bitmap over xxhash64; SIZING it (m bits per key, K) is a capacity
    decision you want measured, not guessed, before a 10^10-key deploy.
    This audit runs the same double-hashing scheme (Kirsch-Mitzenmacher:
    pos_i = (h1 + i*h2) mod m, h2 forced odd) as a RELATIONAL simulation —
    md5-derived hashes so the result is engine-portable:

    - the bit array is the DISTINCT position set of the build keys (a
      relation, never a driver-side bitmap);
    - a probe key is a false positive iff ALL K of its positions hit the
      set — a semi-join + count == K, exactly the membership rule.

    Scale shape: positions explode K rows per key; the distinct and the
    hit-join are keyed on the position (cardinality <= m_bits, bounded by
    the filter size regardless of corpus); the verdict aggregation is
    keyed on the probe key. Nothing quadratic, no broadcast of anything
    bigger than the final one-row rollup.
    """

    def pos_rows(df, name):
        h1 = F.expr(
            f"CAST(conv(substring(md5(CAST({key} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
        )
        h2 = F.expr(
            f"CAST(conv(substring(md5(CAST({key} AS STRING)), 9, 8), 16, 10) AS BIGINT) | 1"
        )
        return df.select(
            F.col(key).alias("k"), h1.alias("h1"), h2.alias("h2")
        ).select(
            "k",
            F.explode(
                F.array(*[
                    ((F.col("h1") + F.lit(i) * F.col("h2")) % m_bits).alias("p")
                    for i in range(k_hashes)
                ])
            ).alias("pos"),
        )

    bits = pos_rows(build, "b").select("pos").distinct()
    probe_pos = pos_rows(probe, "p")
    hits = (
        probe_pos.join(bits, "pos", "left_semi")
        .groupBy("k")
        .agg(F.count("*").alias("nhit"))
        .filter(F.col("nhit") == k_hashes)
    )
    n_build = build.select(F.count("*").cast("long").alias("n_build"))
    n_probe = probe.select(F.count("*").cast("long").alias("n_probe"))
    n_bits = bits.select(F.count("*").cast("long").alias("n_bits_set"))
    n_fp = hits.select(F.count("*").cast("long").alias("n_false_pos"))
    return (
        n_build.crossJoin(n_probe)
        .crossJoin(n_bits)
        .crossJoin(n_fp)
        .select(
            F.lit(m_bits).cast("long").alias("m_bits"),
            F.lit(k_hashes).cast("int").alias("k_hashes"),
            "n_build",
            "n_probe",
            "n_bits_set",
            "n_false_pos",
            # an empty probe set: 0, not a division by zero
            F.expr("(10000 * n_false_pos) div greatest(n_probe, 1)").alias("fpr_bp"),
        )
    )


def cuckoo_fpr_audit(
    build: DataFrame,
    probe: DataFrame,
    key: str = "key",
    m_buckets: int = 1 << 14,
    f_bits: int = 8,
) -> DataFrame:
    """One-row audit of cuckoo-filter sizing: (m_buckets, f_bits,
    n_build, n_probe, n_slots, n_false_pos, fpr_bp) — the EXACT measured
    false-positive rate of a partial-key cuckoo filter (Fan et al.,
    CoNEXT 2014) over ``build`` keys probed with disjoint ``probe``
    keys. The cuckoo side of the URL-seen design space the survey names
    ("bloom/cuckoo shards"): same pre-filter role as the engine's Bloom
    shards (operators/dedup.py, sized by ``bloom_fpr_audit``), but with
    f-bit fingerprints in 2-choice buckets — FPR ~ 2b/2^f at the same
    ~f bits/key, plus deletability (remove a fingerprint when a frontier
    entry is re-armed for recrawl), which a Bloom bitmap cannot do.

    Why a RELATIONAL simulation is exact here (and not for eviction
    dynamics): membership stores fp(x) in one of two buckets
    i1(x) or i2(x) = i1(x) XOR H(fp(x)) — which one depends on insertion
    order and evictions. But a probe y checks BOTH of its buckets
    {i1(y), i1(y) XOR H(fp(y))}, and when fp(x) = fp(y) the XOR offsets
    coincide, so x's fingerprint is visible to y's probe in EITHER
    placement iff i1(x) ∈ {i1(y), i1(y) XOR H(fp(y))}. Probe visibility
    is PLACEMENT-INDEPENDENT — the defining property of the partial-key
    construction (it is what makes eviction possible without the
    original key) — so the i1-canonical stored set gives the real
    filter's exact membership answers, independent of eviction history
    (assuming all build keys inserted, i.e. occupancy below the
    capacity knee; occupancy itself is the n_slots/(m*b) read-off).

    All hashes md5-derived (engine-portable, DuckDB-checkable);
    ``m_buckets`` must be a power of two so XOR stays in range. Scale
    shape: stored set = one distinct keyed on (bucket, fp) (cardinality
    <= n_build); probes explode 2 candidate rows each; the verdict is a
    semi-join on (bucket, fp) + per-key distinct — nothing quadratic,
    nothing collected.
    """
    assert m_buckets & (m_buckets - 1) == 0, "m_buckets must be a power of 2"
    fmask = (1 << f_bits) - 1

    def rows(df):
        h1 = F.expr(
            f"CAST(conv(substring(md5({key}), 1, 8), 16, 10) AS BIGINT)"
        )
        fp = (
            F.expr(
                f"CAST(conv(substring(md5({key}), 9, 8), 16, 10) AS BIGINT)"
            )
            % fmask
            + 1
        )
        d = df.select(
            F.col(key).alias("k"),
            (h1 % m_buckets).alias("i1"),
            fp.cast("long").alias("fp"),
        )
        hf = F.expr(
            "CAST(conv(substring(md5(CAST(fp AS STRING)), 1, 8), 16, 10)"
            f" AS BIGINT) % {m_buckets}"
        )
        return d.withColumn("i2", F.col("i1").bitwiseXOR(hf))

    stored = rows(build).select(F.col("i1").alias("b"), "fp").distinct()
    cand = rows(probe).select(
        "k", "fp", F.explode(F.array("i1", "i2")).alias("b")
    )
    fps = (
        cand.join(stored, ["b", "fp"], "left_semi").select("k").distinct()
    )
    n_build = build.select(F.count("*").cast("long").alias("n_build"))
    n_probe = probe.select(F.count("*").cast("long").alias("n_probe"))
    n_slots = stored.select(F.count("*").cast("long").alias("n_slots"))
    n_fp = fps.select(F.count("*").cast("long").alias("n_false_pos"))
    return (
        n_build.crossJoin(n_probe)
        .crossJoin(n_slots)
        .crossJoin(n_fp)
        .select(
            F.lit(m_buckets).cast("long").alias("m_buckets"),
            F.lit(f_bits).cast("int").alias("f_bits"),
            "n_build",
            "n_probe",
            "n_slots",
            "n_false_pos",
            # an empty probe set: 0, not a division by zero
            F.expr("(10000 * n_false_pos) div greatest(n_probe, 1)").alias("fpr_bp"),
        )
    )


def anchor_text(links: DataFrame) -> DataFrame:
    """(dst, n_links, n_anchors, top_anchor, top_count): aggregate the
    anchor texts pointing at each target — the classic web-search signal
    (anchor text describes the TARGET better than the target's own page)
    and the ranking input a frontier scheduler feeds its priority column.

    Input: one row per extracted link ``(src, dst, anchor)`` — exactly the
    engine's raw_links with its carried tmp text (the reference carries
    anchor/title text the same way, parse/doubanbook/book.go:97-101).

    Two partial->final aggregations: (dst, anchor) counts, then per-dst
    rollup picking the plurality anchor with ``min(struct(-count, anchor))``
    — an exact deterministic tie-break (highest count, then lexicographic)
    with no window and no per-dst sort. Hot targets (every page links to
    /home) cost one group row per distinct anchor, never a fan-in of raw
    link rows past the map-side combine.
    """
    pa = links.groupBy("dst", "anchor").agg(F.count("*").cast("long").alias("_n"))
    best = F.min(F.struct((-F.col("_n")).alias("_neg"), F.col("anchor").alias("_a")))
    return (
        pa.groupBy("dst")
        .agg(
            F.sum("_n").cast("long").alias("n_links"),
            F.count("*").cast("long").alias("n_anchors"),
            best.alias("_best"),
        )
        .select(
            "dst",
            "n_links",
            "n_anchors",
            F.col("_best._a").alias("top_anchor"),
            (-F.col("_best._neg")).cast("long").alias("top_count"),
        )
    )


def registered_domains(
    hosts: DataFrame, suffixes: DataFrame, host_col: str = "host"
) -> DataFrame:
    """Attach ``reg_domain`` to each row: the registrable domain under the
    LONGEST matching public suffix (publicsuffix.org semantics: ``a.b.co.uk``
    -> ``b.co.uk`` because ``co.uk`` beats ``uk``). Per-registrant grouping
    is what politeness budgets, spam heuristics, and site-level quality
    priors actually key on — per-hostname grouping lets one registrant dodge
    budgets with wildcard subdomains.

    ``suffixes``: a one-column ``suffix`` config table (the public suffix
    list is ~10k rows — broadcast). The longest-match join is a broadcast
    theta-join on ``endswith('.' || suffix)`` followed by a
    ``min(struct(-len(suffix), suffix))`` per host — deterministic longest
    suffix, no window. Hosts matching no suffix keep their last TWO labels
    (the pre-PSL fallback). The registrable domain is the suffix plus the
    one label left of it.
    """
    h = F.col(host_col)
    cand = hosts.join(
        F.broadcast(suffixes),
        h.endswith(F.concat(F.lit("."), F.col("suffix"))),
        "left",
    )
    best = F.min(
        F.struct((-F.length("suffix")).alias("_neg"), F.col("suffix").alias("_s"))
    )
    chosen = cand.groupBy(host_col).agg(best.alias("_b")).select(
        host_col, F.col("_b._s").alias("_sfx")
    )
    # label left of the suffix: strip ".suffix", keep the last remaining label
    stem = F.expr(
        f"left({host_col}, length({host_col}) - length(_sfx) - 1)"
    )
    reg = F.when(
        F.col("_sfx").isNotNull(),
        F.concat(F.element_at(F.split(stem, r"\."), -1), F.lit("."), F.col("_sfx")),
    ).otherwise(
        F.array_join(F.slice(F.split(h, r"\."), -2, 2), ".")
    )
    return hosts.join(chosen, host_col).withColumn("reg_domain", reg).drop("_sfx")


def domain_budget(
    frontier: DataFrame,
    suffixes: DataFrame,
    per_host_cap: int = 100,
    host_col: str = "host",
) -> DataFrame:
    """(reg_domain, n_hosts, n_urls, budget): frontier pressure rolled up
    to the registrable domain, with the politeness budget the wave pop
    would grant the whole registrant: ``min(n_urls, per_host_cap *
    n_hosts)`` — subdomain count scales the allowance (a real CDN with 50
    hosts legitimately absorbs more than a spam registrant's single host
    pretending to be 50 via URL paths).

    Shape: hosts are first DISTINCT-ed (one suffix match per hostname, not
    per URL — the frontier has 10^10 URLs but ~10^7 hosts), the suffix
    theta-join is broadcast, and the rollup is one partial->final
    aggregation keyed on reg_domain.
    """
    per_host = frontier.groupBy(host_col).agg(
        F.count("*").cast("long").alias("_n_urls")
    )
    tagged = registered_domains(per_host, suffixes, host_col=host_col)
    return (
        tagged.groupBy("reg_domain")
        .agg(
            F.count("*").cast("long").alias("n_hosts"),
            F.sum("_n_urls").cast("long").alias("n_urls"),
        )
        .withColumn(
            "budget",
            F.least(
                F.col("n_urls"), F.lit(int(per_host_cap)) * F.col("n_hosts")
            ).cast("long"),
        )
    )


def wave_fairness(allocations: DataFrame, count_col: str = "n") -> DataFrame:
    """(n_groups, total, fairness_bp): Jain's fairness index of a wave
    allocation — (sum x)^2 / (n * sum x^2) in basis points, the standard
    scheduling-fairness measure (1.0 = perfectly even budget across
    hosts, 1/n = one host starves everyone). Run on the per-host wave
    counts each round to catch a salting or budget regression turning the
    crawl into a single-host hammer.

    One partial->final aggregation into a single row. The ratio is
    computed in decimal(38,0) — 10000 * total^2 needs ~1e4 * (1e12)^2 =
    1e28 headroom once total allocation reaches the 10^10-URL frontier
    regime, which overflows int64 at total > ~3e7; decimal(38,0) holds
    exactly to total <= ~1e16 and the cost is irrelevant on a 1-row
    aggregate. total/n_groups stay int64 (counts, not products).
    """
    x = F.col(count_col).cast("long")
    xd = F.col(count_col).cast("decimal(38,0)")
    agg = allocations.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(x).cast("long").alias("total"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("_sumsq"),
    )
    return agg.select(
        "n_groups",
        "total",
        F.expr(
            "CAST(10000 * CAST(total AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0))"
            " div greatest(CAST(n_groups AS DECIMAL(38,0)) * _sumsq, CAST(1 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("fairness_bp"),
    )


def change_rate_estimate(history: DataFrame) -> DataFrame:
    """(url_id, n_obs, n_changed, span_s, lambda_per_day): per-URL Poisson
    change-rate estimation from refetch history — the principled
    companion to ``refetch_schedule``'s doubling heuristic. Where the
    backoff reacts to the LAST streak, the rate estimate uses the whole
    history, and λ is what a freshness-optimal revisit policy allocates
    bandwidth by (Cho & Garcia-Molina's result: revisit frequency should
    grow sublinearly in λ, and the hottest pages are NOT worth chasing).

    Input: ``(url_id, ts, fetch_id, changed)`` — same relation as
    ``refetch_schedule``. A fetch is a change OBSERVATION only if a prior
    fetch exists, so n_obs = fetches - 1 and n_changed counts ``changed``
    among fetches 2..n in (ts, fetch_id) order. The estimator is the
    bias-reduced form r̂ = -ln((n - X + 0.5)/(n + 0.5)) per mean
    interval, i.e. lambda_per_day = 86400 * ln((2n+1)/(2(n-X)+1)) *
    n_obs / span_s — NULL when there is no span to estimate from (one
    fetch, or all fetches at one timestamp). Rounded to 6 decimals in
    BOTH engines; everything else exact integers.

    Shape: one window (row_number per url, same shuffle key as the
    aggregation that follows) + one keyed aggregation — one shuffle
    total, no joins; identical scale story to refetch_schedule.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("url_id").orderBy("ts", "fetch_id")
    ranked = history.select(
        "url_id",
        "ts",
        F.col("changed").cast("boolean").alias("changed"),
        F.row_number().over(w).alias("rn"),
    )
    per = ranked.groupBy("url_id").agg(
        (F.count("*") - 1).cast("long").alias("n_obs"),
        F.sum(
            F.when((F.col("rn") > 1) & F.col("changed"), 1).otherwise(0)
        ).cast("long").alias("n_changed"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).cast("long").alias("span_s"),
    )
    lam = F.round(
        F.lit(86400.0)
        * F.log(
            (2 * F.col("n_obs") + 1).cast("double")
            / (2 * (F.col("n_obs") - F.col("n_changed")) + 1).cast("double")
        )
        * F.col("n_obs").cast("double")
        / F.col("span_s").cast("double"),
        6,
    )
    return per.withColumn(
        "lambda_per_day",
        F.when((F.col("n_obs") > 0) & (F.col("span_s") > 0), lam),
    )


def drain_plan(
    frontier: DataFrame,
    crawl_delays: DataFrame,
    round_s: int = 60,
    default_delay_s: int = 1,
    host_col: str = "host",
) -> DataFrame:
    """(host, n_urls, budget_per_round, rounds_to_drain, is_critical):
    the politeness-constrained DRAIN PLAN — how many micro-rounds until
    each host's frontier backlog empties, and which hosts set the
    crawl's makespan.

    Per host the round budget is ``round_s / crawl_delay_s`` (floored, min
    1 — one fetch per round is always allowed; hosts absent from the
    delay table get ``default_delay_s``, and a declared delay <= 0 —
    "Crawl-delay: 0" is valid robots.txt meaning unthrottled — is treated
    as delay 1, the fastest politeness tier, not as a division error). ``rounds_to_drain`` is
    ``ceil(n_urls / budget)`` and ``is_critical`` marks the hosts on the
    makespan (rounds_to_drain == global max): the scheduling insight is
    that total crawl time is NOT proportional to frontier size but to the
    worst host backlog/budget ratio — adding executors does nothing for a
    critical host, only politeness or time does, so the plan is what says
    whether to re-negotiate delays (sitemap hints), shard by registrant,
    or accept the tail.

    Shape: one keyed count on host, a broadcast join against the (small:
    ~#distinct robots policies) delay table, and a 1-row global-max
    broadcast back — no windows, nothing O(frontier) after the first
    aggregation. Exact integer math: ceil via (a + b - 1) div b.
    """
    per_host = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").cast("long").alias("n_urls")
    )
    joined = per_host.join(
        F.broadcast(crawl_delays.select("host", "crawl_delay_s")), "host", "left"
    ).select(
        "host",
        "n_urls",
        F.greatest(
            F.lit(1),
            F.expr(
                # delay <= 0 ("Crawl-delay: 0" = unthrottled) floors to 1
                # so the division is defined and the host gets the full
                # one-fetch-per-second budget, same as delay 1
                f"CAST({int(round_s)} AS BIGINT)"
                f" div greatest(coalesce(crawl_delay_s, {int(default_delay_s)}), 1)"
            ),
        )
        .cast("long")
        .alias("budget_per_round"),
    )
    planned = joined.withColumn(
        "rounds_to_drain",
        F.expr("CAST((n_urls + budget_per_round - 1) div budget_per_round AS BIGINT)"),
    )
    mx = planned.agg(F.max("rounds_to_drain").alias("_mx"))
    return planned.crossJoin(F.broadcast(mx)).select(
        "host",
        "n_urls",
        "budget_per_round",
        "rounds_to_drain",
        (F.col("rounds_to_drain") == F.col("_mx")).alias("is_critical"),
    )


def revisit_bandwidth(
    history: DataFrame,
    url_hosts: DataFrame,
    min_interval_s: int = 3600,
    max_interval_s: int = 604800,
) -> DataFrame:
    """(host, n_urls, n_cold, fetches_per_day, min_interval_s_host): the
    CAPACITY PLAN a continuous crawl derives from its change observations
    — per host, how many fetches/day the evidence-based revisit intervals
    add up to. This is the third leg of the recrawl family: estimate
    (``change_rate_estimate``) -> schedule (``refetch_schedule``) ->
    bandwidth (this): the number that gets compared against the host's
    politeness budget to decide if the revisit policy is even feasible,
    BEFORE the scheduler starts missing deadlines.

    Per URL the interval is mean_interval / p̂ with the same bias-reduced
    change probability as the λ estimator, kept exact:
    ``interval = span_s * (2·n_obs + 1) div (n_obs · (2·n_changed + 1))``
    clamped to [min, max]; URLs with no usable history (single fetch or
    zero span) get ``max_interval_s`` — no evidence means revisit slowly,
    not never (n_cold counts them). fetches_per_day sums the exact
    ``86400 div interval`` floors.

    Shape: the per-URL stats are change_rate_estimate's single shuffle;
    the host map joins keyed on url_id and the rollup is one aggregation
    keyed on host — nothing beyond the estimator it consumes.
    """
    stats = change_rate_estimate(history).select(
        "url_id", "n_obs", "n_changed", "span_s"
    )
    usable = (F.col("n_obs") > 0) & (F.col("span_s") > 0)
    raw_interval = F.expr(
        "span_s * (2 * n_obs + 1) div greatest(n_obs * (2 * n_changed + 1), 1)"
    )
    interval = F.when(
        usable,
        F.greatest(
            F.lit(int(min_interval_s)),
            F.least(F.lit(int(max_interval_s)), raw_interval),
        ),
    ).otherwise(F.lit(int(max_interval_s)))
    per_url = stats.select(
        "url_id",
        interval.cast("long").alias("interval_s"),
        (~usable).cast("long").alias("cold"),
    ).join(url_hosts, "url_id")
    return per_url.groupBy("host").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum("cold").cast("long").alias("n_cold"),
        F.sum(F.expr("86400 div interval_s")).cast("long").alias("fetches_per_day"),
        F.min("interval_s").cast("long").alias("min_interval_s_host"),
    )


def revisit_budget_per_round(
    revisit_plan: DataFrame, round_s: int = 60
) -> DataFrame:
    """(host, _budget): the per-micro-round host budget a revisit
    capacity plan implies — the bridge from the recrawl analytics
    (``change_rate_estimate`` -> ``refetch_schedule`` ->
    ``revisit_bandwidth``) into the engine's wave selection
    (operators/topk.py consumes exactly this (host, _budget) shape, the
    same contract as the politeness budgets derived from robots).

    ``budget = max(1, fetches_per_day * round_s div 86400)`` — exact
    integer floor of the plan's daily capacity prorated to one round,
    with the same one-fetch-per-round floor as the politeness ladder
    (a host the evidence says to revisit slowly still drains; it is the
    engine's job to spend AT MOST the plan, not to starve). The engine
    (CrawlEngine(revisit_plan=...)) takes the elementwise MIN of this
    and the politeness budget per host — politeness is a hard protocol
    bound, the revisit plan an efficiency bound; reference analog:
    limiter/limiter.go:11-45 gates the wave by its budget table the same
    way.

    Shape: a projection over the (host, fetches_per_day) rollup — one
    row per host, no shuffle; the engine broadcasts it against per-wave
    host counts exactly like the robots budgets (never a row-side join).
    """
    return revisit_plan.select(
        "host",
        F.greatest(
            F.lit(1),
            F.expr(f"fetches_per_day * {int(round_s)} div 86400"),
        )
        .cast("long")
        .alias("_budget"),
    )
