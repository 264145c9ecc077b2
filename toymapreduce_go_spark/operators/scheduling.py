"""The unified fetch list — the single artifact a crawler's fetcher
actually consumes each cycle, merging all three scheduling channels
under ONE per-host TIME-AWARE politeness budget (requests/second, not
slot counts — the r11 verdict's production form): every queued row
gets a deterministic fetch timestamp on its host's cadence, and a
fixed-duration fetch cycle admits the rows whose timestamp fits.
The channels:

    ch 0  link frontier     uncrawled pages with crawled in-linkers,
                            ranked by integer PageRank inflow
                            (``frontier.frontier_candidates``)
    ch 1  sitemap-only      uncrawled pages NO crawled page links to —
                            discoverable only via sitemap
                            (``sitemaps.sitemap_seeds`` minus ch 0)
    ch 2  recrawl           crawled pages whose sitemap <lastmod>
                            postdates their last fetch, ranked by
                            staleness gap (``sitemaps`` freshness
                            logic)

Channel order is the crawl-policy default (discover ranked content
first, then orphans, then refresh), deterministic ties by canonical
URL; within one cycle a host's cadence slots go to the union's best
rows — the banding across channels is a disclosed policy choice, not
a correctness claim. All three channels pass the SAME shared gates
(``urls.deny_gate`` / ``urls.robots_gate_frame``).

100 TB shape: each channel is page-sized by its own module's
argument; the union, window, and rollup therefore run on page-sized
metadata. The only corpus-sized work is inherited from the frontier's
rank join (bucket-colocatable) and the two page-universe distincts.

The DuckDB twin re-assembles the whole thing from the shared CTE
generators — canonicalization, unrolled PageRank, the independent
robots window — and applies one verdict table to all three channels,
so the value-hash pins every channel's membership, every priority,
and every budget decision in one number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.checksum import CKSUM_MOD
from .frontier import frontier_candidates
from .sitemaps import (recrawl_gaps, sitemap_entries, sitemap_seeds,
                       synthesize_sitemaps)
from .urls import (deny_gate, parse_crawl_delay, robots_gate_frame,
                   shared_robots_rules, synthesize_robots)

# Time-aware politeness (replaces the r11 slot budget): each host has
# a deterministic request RATE, every scheduled row gets a fetch
# timestamp on the host's cadence, and a fetch cycle of fixed duration
# admits exactly the rows whose timestamp falls inside it — the
# production form (crawl-delay / requests-per-second), not a bare slot
# count. The rate source is robots.txt FIRST (r12 verdict item 5: the
# selected group's ``Crawl-delay`` line, parsed by
# ``urls.parse_crawl_delay``), falling back to the configured rate
# ladder for hosts that declare none — exactly a production crawler's
# precedence. All integer microseconds (the repo convention): both
# engines replay every timestamp and admission decision bit-for-bit.
FETCH_CYCLE_US = 2_000_000   # one fetch cycle: 2 s (miniature)
RATE_BASE_MILLI = 500        # host rate = 0.5/1/2 req/s by m % 3
# power-of-two rate ladder so every delay divides 10^9 exactly —
# halving the rate then doubles every timestamp EXACTLY (no
# truncation residue), which the direction test pins


def host_delay_us(rate_scale_milli: int = 1000) -> "F.Column":
    """The rate-LADDER inter-request gap in integer µs, over a frame
    carrying ``domain`` — the fallback for hosts whose robots.txt
    declares no Crawl-delay: the fixture rate is ``500 · 2^(m % 3)``
    milli-requests/second scaled by ``rate_scale_milli/1000``
    (production reads rates from a politeness config), so
    ``delay_us = 10⁹ div (rate_milli · scale div 1000)`` — two-step
    integer division, replayed bit-for-bit by the twin. Halving
    ``rate_scale_milli`` doubles every gap — the direction test's
    lever."""
    m3 = ("pmod(cast(regexp_extract(domain, 'site(\\\\d+)', 1) "
          "as bigint), 3)")
    # greatest(…, 1): the scaled rate floors at 1 milli-req/s (delay
    # caps at 10⁹ µs) — without it a small enough scale collapses the
    # integer rate to 0 and the division NULLs every timestamp with
    # ANSI off (review r12)
    return F.expr(
        f"1000000000 div greatest(({RATE_BASE_MILLI} * "
        f"(CASE {m3} WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END) * "
        f"{int(rate_scale_milli)}) div 1000, 1)")


def effective_delay_us(delay_col_sql: str,
                       rate_scale_milli: int = 1000) -> "F.Column":
    """The per-host cadence actually scheduled, over a frame carrying
    ``domain`` and the robots-declared Crawl-delay column named by
    ``delay_col_sql``: the robots delay (seconds →
    ``cd · 10⁹ div rate_scale_milli`` µs, so the scale lever doubles
    robots-derived gaps exactly like ladder gaps) when the selected
    group declares one, else the rate ladder. ``Crawl-delay: 0``
    carries no constraint and falls back to the ladder (review r13: a
    literal 0 cadence would admit a host's whole queue in one cycle —
    the degenerate case the ladder branch already floors against).
    One integer expression — the delay frame is domain-sized and
    broadcast."""
    return F.coalesce(
        F.expr(f"(nullif({delay_col_sql}, 0) * 1000000000) "
               f"div {int(rate_scale_milli)}"),
        host_delay_us(rate_scale_milli))


def robots_delay_frame(documents: DataFrame) -> DataFrame:
    """(domain, crawl_delay_s): the robots-declared per-host
    Crawl-delay for our product token (NULL where the selected group
    declares none, and NULL where the robots.txt fetch answered 5xx —
    an unreadable file declares nothing; such a host's pages are
    fully disallowed by the gate anyway, RFC 9309 §2.3.1.3) —
    domain-sized, the broadcast side of the scheduler's cadence
    join."""
    return synthesize_robots(documents).select(
        "domain",
        F.when(F.col("status") >= 500, F.lit(None).cast("bigint"))
        .otherwise(parse_crawl_delay("robots_txt"))
        .alias("crawl_delay_s"))


def fetch_channels(documents: DataFrame,
                   redirects: "DataFrame | bool" = True,
                   ranks: "DataFrame | None" = None) -> DataFrame:
    """(canon, domain, priority, ch): the three channels, gated,
    pre-budget. Canons are disjoint across channels by construction
    (ch 0/1 partition the uncrawled pages; ch 2 is crawled pages —
    and redirect re-keying preserves the page, so the partition
    survives composition).

    Redirect composition (r13 verdict item 1): the resolved mapping
    is computed ONCE (``fixture_resolved_redirects`` — page-sized,
    localCheckpoint-ed) and threaded through all three channels, so
    the resolution's one corpus distinct never multiplies. Every
    channel gates at the discovered host, re-keys permanent chains to
    the terminal URL, and gates again at the terminal host — a moved
    page appears exactly once, keyed and budgeted at the host that
    actually serves it.

    The frontier channel is referenced TWICE in one plan (unioned as
    ch 0 AND anti-joined to carve the sitemap-only remainder), so its
    page-sized result is ``localCheckpoint``-ed: the corpus-sized
    edge ⋈ rank join and its groupBy execute exactly once, whatever
    the optimizer decides about exchange reuse (r11 verdict: relying
    on ReuseExchange here let the rank join run twice)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .linkgraph import pagerank_state
    from .redirects import fixture_resolved_redirects, rekey_on_final
    # shared per-plan artifacts (r14): ONE parsed robots frame feeds
    # all six gates (the multi-KB group-selection fold is analyzed
    # once, not per gate) and ONE parsed sitemap-entries frame feeds
    # channels 1 and 2 (the module's corpus distinct runs once per
    # cycle, not once per channel). Both are metadata-sized lazy
    # lineage cuts.
    #
    # r15, guide §2.6 (overlap independent jobs): under AQE a lazy
    # lineage cut still materializes its exchange stages at construct
    # time, so building the shared artifacts serially on the driver
    # serializes four independent job chains (rank iterations,
    # redirect resolution, robots parse, sitemap-entries distinct) —
    # dead driver time per fetch cycle at ANY cluster size. A small
    # thread pool overlaps them; the frontier channel, which consumes
    # three of the artifacts, builds in a worker too while the main
    # thread assembles the sitemap/recrawl gate chains. Plans, RDDs
    # and results are identical — only the build order changes.
    pool = ThreadPoolExecutor(max_workers=5)

    def submit(fn, *args, **kwargs):
        # each task gets its own copy of the caller's local properties
        # (job group, description), so the jobs it runs at construct
        # time carry the caller's labels
        return pool.submit(inheritable_thread_target(documents.sparkSession)(
            fn), *args, **kwargs)

    try:
        f_state = submit(pagerank_state, documents, ranks=ranks)
        f_rules = submit(shared_robots_rules, documents)
        f_entries = submit(
            lambda: sitemap_entries(synthesize_sitemaps(documents))
            .localCheckpoint(eager=False))
        f_resolved = (submit(fixture_resolved_redirects, documents)
                      if redirects is True else None)

        def _link_channel() -> DataFrame:
            res = (f_resolved.result() if f_resolved is not None
                   else redirects)
            return (frontier_candidates(documents, redirects=res,
                                        rules=f_rules.result(),
                                        state=f_state.result())
                    .select("canon", "domain", "priority")
                    .withColumn("ch", F.lit(0))
                    # eager=False: same lineage cut / same compute-once
                    # guarantee for the two consumers, but the channel
                    # materializes inside the consuming action instead
                    # of a separate driver-blocking job (r14 — see
                    # linkgraph.pagerank_state)
                    .localCheckpoint(eager=False))

        f_a = submit(_link_channel)
        rules = f_rules.result()
        entries = f_entries.result()
        resolved: "DataFrame | bool" = (
            f_resolved.result() if f_resolved is not None else redirects)
        seeds = (sitemap_seeds(documents, redirects=resolved,
                               rules=rules, entries=entries)
                 .select("canon", "domain"))
        c = (recrawl_gaps(documents, entries=entries)
             .filter(F.col("gap") > 0)
             .withColumnRenamed("gap", "priority"))
        c = robots_gate_frame(deny_gate(c), documents, rules=rules)
        if resolved is not False:
            c = (rekey_on_final(c, resolved)
                 .groupBy("canon", "domain")
                 .agg(F.max("priority").alias("priority")))
            c = robots_gate_frame(deny_gate(c), documents, rules=rules)
        c = (c.select("canon", "domain", "priority")
             .withColumn("ch", F.lit(2)))
        a = f_a.result()
    finally:
        pool.shutdown(wait=True)
    b = (seeds
         .join(a.select("canon"), "canon", "left_anti")
         .withColumn("priority", F.lit(0).cast("long"))
         .withColumn("ch", F.lit(1)))
    return a.unionByName(b).unionByName(c)


def fetch_schedule_rows(documents: DataFrame,
                        cycle_us: int = FETCH_CYCLE_US,
                        rate_scale_milli: int = 1000,
                        redirects: "DataFrame | bool" = True,
                        ranks: "DataFrame | None" = None
                        ) -> DataFrame:
    """(canon, domain, priority, ch, rn, fetch_at_us, scheduled): the
    unified queue with each row's deterministic fetch TIMESTAMP on the
    host's cadence — row rn fetches at ``(rn−1) · delay_us``, where
    the cadence is the robots-declared Crawl-delay when present and
    the rate ladder otherwise (``effective_delay_us``) — and the
    time-window admission verdict (``fetch_at_us < cycle_us``): a slow
    host schedules fewer fetches per cycle than a fast one, the
    production politeness contract. Queue order is unchanged from the
    channel policy (channel, priority DESC, canon). With redirects
    composed, a moved page's cadence and admission belong to its
    TERMINAL host (the one actually fetched); terminal hosts absent
    from the robots frame fall to the rate ladder."""
    u = fetch_channels(documents, redirects, ranks)
    w = Window.partitionBy("domain").orderBy(
        F.asc("ch"), F.desc("priority"), F.asc("canon"))
    s = u.join(F.broadcast(robots_delay_frame(documents)),
               "domain", "left")
    s = s.withColumn("rn", F.row_number().over(w))
    s = s.withColumn(
        "fetch_at_us",
        (F.col("rn") - 1)
        * effective_delay_us("crawl_delay_s", rate_scale_milli))
    return s.drop("crawl_delay_s").withColumn(
        "scheduled", F.col("fetch_at_us") < F.lit(int(cycle_us)))


def fetch_list(documents: DataFrame,
               cycle_us: int = FETCH_CYCLE_US,
               rate_scale_milli: int = 1000,
               redirects: "DataFrame | bool" = True,
               ranks: "DataFrame | None" = None) -> DataFrame:
    """The registered rollup: per host — per-channel candidate counts,
    the count scheduled inside one fetch cycle under the host's
    request rate, the cycle MAKESPAN (last scheduled fetch timestamp —
    halving the rate doubles it), the first URL fetched, and a
    (canon-hash × (1 + channel) × (1 + fetch_at_us)) mod-prime
    checksum over the scheduled set — pinning membership, channel
    assignment, priority order, every admission decision, AND every
    fetch timestamp."""
    s = fetch_schedule_rows(documents, cycle_us, rate_scale_milli,
                            redirects, ranks)
    sched = F.col("scheduled")
    canon_h = F.pmod(F.conv(F.substring(F.md5("canon"), 1, 15), 16, 10)
                     .cast("long"), F.lit(CKSUM_MOD))
    term = F.pmod(
        F.pmod(canon_h * (F.lit(1) + F.col("ch")), F.lit(CKSUM_MOD))
        * (F.lit(1) + F.pmod(F.col("fetch_at_us"), F.lit(CKSUM_MOD))),
        F.lit(CKSUM_MOD))
    return (s.groupBy("domain")
            .agg(F.sum((F.col("ch") == 0).cast("long"))
                 .alias("n_link_cand"),
                 F.sum((F.col("ch") == 1).cast("long"))
                 .alias("n_sitemap_only"),
                 F.sum((F.col("ch") == 2).cast("long"))
                 .alias("n_recrawl"),
                 F.sum(sched.cast("long")).alias("n_scheduled"),
                 F.max(F.when(sched, F.col("fetch_at_us"))
                       .otherwise(F.lit(0))).alias("makespan_us"),
                 F.min(F.struct(F.col("rn"), F.col("canon")))["canon"]
                 .alias("top_canon"),
                 F.sum(F.when(sched, term).otherwise(F.lit(0)))
                 .alias("fetch_checksum"))
            .orderBy("domain"))
