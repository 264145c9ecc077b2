"""Unified fetch list (operators/scheduling.py) — channel-partition
and budget contracts; full DuckDB value-hash parity (one verdict
table, three channels, one budget window) via test_oracle_parity.py
(`fetch_list`)."""

from __future__ import annotations

from conftest import SF_DIR

from toymapreduce_go_spark.operators.frontier import frontier_candidates
from toymapreduce_go_spark.operators.scheduling import (
    FETCH_CYCLE_US, RATE_BASE_MILLI, fetch_channels, fetch_list,
    fetch_schedule_rows)
from toymapreduce_go_spark.operators.sitemaps import (
    recrawl_schedule, sitemap_seeds)
from toymapreduce_go_spark.sources.registry import load_table


def _host_m(domain: str) -> int:
    """The digits prefix of the host class — redirect-terminal hosts
    (site6m/site6mm, r14) share their origin's ladder digits, exactly
    as both engines' ``regexp_extract(domain, 'site(\\d+)')`` do."""
    import re
    return int(re.search(r"site(\d+)", domain).group(1))


def _moved(domain: str) -> bool:
    """A redirect-terminal host (m/mm suffix) — no robots.txt row
    exists for it, so no Crawl-delay ever applies."""
    import re
    return re.search(r"site\d+m+\.", domain) is not None


def _domain_cd(domain: str) -> int | None:
    """The robots-declared Crawl-delay governing ``domain``'s cadence
    (None → the rate ladder)."""
    from robots_ref import fixture_delay
    if _moved(domain):
        return None
    return fixture_delay(_host_m(domain))


def _delay_us(domain: str, rate_scale_milli: int = 1000) -> int:
    """Driver-side replay of effective_delay_us: robots-declared
    Crawl-delay first (r13), rate-ladder fallback (two-step integer
    div)."""
    cd = _domain_cd(domain)
    if cd:         # Crawl-delay: 0 carries no constraint (ladder)
        return (cd * 10**9) // rate_scale_milli
    rate_milli = RATE_BASE_MILLI * (1 << (_host_m(domain) % 3))
    return 10**9 // max((rate_milli * rate_scale_milli) // 1000, 1)


def _ladder_us(domain: str) -> int:
    return 10**9 // (RATE_BASE_MILLI * (1 << (_host_m(domain) % 3)))


def test_robots_crawl_delay_overrides_rate_ladder(spark):
    """r12 verdict item 5: a host whose robots.txt declares a
    Crawl-delay schedules on THAT cadence, not the ladder's — host 2
    (selected * group, Crawl-delay: 3) admits one fetch per 2 s cycle
    where its ladder rate (2 req/s) would admit four; host 5's delay
    comes from the selected TOYBOT group (4 s), never the decoy
    group's 9 or the out-ranked * group's absence."""
    docs = load_table(spark, SF_DIR, "documents")
    rows = fetch_schedule_rows(docs, cycle_us=10**12).collect()
    doms = {r.domain for r in rows}
    robots_doms = {d for d in doms if _domain_cd(d) is not None}
    assert robots_doms                      # the fixture exercises it
    # r14: redirect-terminal hosts appear in the queue and ladder
    assert any(_moved(d) for d in doms)
    for r in rows:
        cd = _domain_cd(r.domain)
        if cd is not None:
            assert r.fetch_at_us == (r.rn - 1) * cd * 10**6
        else:
            assert r.fetch_at_us == (r.rn - 1) * _ladder_us(r.domain)
    # direction: the robots cadence BINDS (admits fewer than the
    # ladder would) for every robots-delayed host with a deep queue
    roll = {r.domain: r for r in fetch_list(docs).collect()}
    bound = 0
    for d in robots_doms:
        cd = _domain_cd(d)
        robots_cap = (FETCH_CYCLE_US + cd * 10**6 - 1) // (cd * 10**6)
        ladder_cap = ((FETCH_CYCLE_US + _ladder_us(d) - 1)
                      // _ladder_us(d))
        n_cand = (roll[d].n_link_cand + roll[d].n_sitemap_only
                  + roll[d].n_recrawl)
        assert roll[d].n_scheduled == min(n_cand, robots_cap)
        if n_cand >= ladder_cap > robots_cap:
            assert roll[d].n_scheduled < ladder_cap
            bound += 1
    assert bound > 0
    # review r13: `Crawl-delay: 0` carries no constraint — it must
    # fall back to the ladder, never produce a 0 µs cadence that
    # admits a host's whole queue in one cycle
    from toymapreduce_go_spark.operators.scheduling import (
        effective_delay_us, host_delay_us)
    df = spark.createDataFrame(
        [("www.site1.example.com", 0), ("www.site1.example.com", None)],
        "domain string, cd int")
    out = df.select(effective_delay_us("cd").alias("d"),
                    host_delay_us().alias("l")).collect()
    assert out and all(r["d"] == r["l"] and r["d"] > 0 for r in out)


def test_channels_partition_and_agree_with_their_modules(spark):
    """ch0 is exactly the link frontier's candidate set, ch1 exactly
    the sitemap-only remainder (ch0 ∪ ch1 = sitemap seeds — the two
    discovery channels partition the gated uncrawled pages), ch2's
    per-domain counts are exactly recrawl_schedule's stale counts, and
    no canon appears in two channels. Every Spark job the build runs,
    in its worker threads too, carries the caller's job group."""
    docs = load_table(spark, SF_DIR, "documents")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    unlabelled = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("fetch_channels.construct", "fetch_channels construct")
    try:
        channels = fetch_channels(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert tracker.getJobIdsForGroup("fetch_channels.construct")
    assert not set(tracker.getJobIdsForGroup(None)) - unlabelled
    rows = channels.collect()
    by_ch = {c: {r.canon for r in rows if r.ch == c} for c in (0, 1, 2)}
    assert all(by_ch.values())                      # every channel live
    assert not (by_ch[0] & by_ch[1]) and not (by_ch[0] & by_ch[2]) \
        and not (by_ch[1] & by_ch[2])
    assert by_ch[0] == {r.canon for r in
                        frontier_candidates(docs).collect()}
    seeds = {r.canon for r in sitemap_seeds(docs).collect()}
    assert by_ch[0] | by_ch[1] == seeds
    ch2_by_dom: dict[str, int] = {}
    for r in rows:
        if r.ch == 2:
            ch2_by_dom[r.domain] = ch2_by_dom.get(r.domain, 0) + 1
            assert r.priority > 0                  # staleness gap
    # expected = recrawl_schedule's stale pages MINUS the gates ch2
    # applies (recrawl_schedule reports per-host freshness including
    # blocked hosts; the fetch list must not schedule them): recompute
    # driver-side with explicit deny + robots rules + the r14 redirect
    # re-key (a permanently moved page recrawls AT ITS TERMINAL HOST;
    # moved pages are all even, so perm = page % 5 not in {1, 2})
    n_pages = docs.count() // 4 + (docs.count() % 4 > 0)
    want: dict[str, int] = {}
    from robots_ref import fixture_allowed
    for page in range(n_pages):
        m = page % 16
        if page % 3 == 0 or m in (3, 7):
            continue                       # uncrawled / deny-listed
        if not fixture_allowed(page):
            continue                       # robots most-specific block
        if (page % 365) > (page * 7) % 365:
            if m % 8 == 6 and page % 5 not in (1, 2):
                dom = f"www.site{m}mm.example.com"
            elif m % 8 == 6 and page % 5 == 2:
                # 301 into a 302: identity at the intermediate (r14)
                dom = f"www.site{m}m.example.com"
            else:
                dom = f"www.site{m}.example.com"
            want[dom] = want.get(dom, 0) + 1
    assert ch2_by_dom == want
    # the re-key is live in the expectation itself
    assert any(_moved(d) for d in want)
    # and it is a strict subset of the ungated freshness report
    # (terminal-host keys fold back to their origin, which is where
    # recrawl_schedule — un-composed by design — reports them)
    rep = {r.domain: r.n_stale for r in recrawl_schedule(docs).collect()}
    fold: dict[str, int] = {}
    for d, n in want.items():
        origin = f"www.site{_host_m(d)}.example.com"
        fold[origin] = fold.get(origin, 0) + n
    assert all(fold[d] <= rep[d] for d in fold)
    assert sum(fold.values()) < sum(rep.values())


def test_rate_budget_is_unified_across_channels_and_binds(spark):
    """Per host: the queue takes the union's best rows in (channel,
    priority DESC, canon) order, stamps each with a fetch timestamp on
    the host's cadence, and a fetch cycle admits exactly the rows
    whose timestamp fits — so a SLOW host schedules fewer fetches than
    a fast one from the same queue, and the rollup's counts, makespan,
    and timestamps all reconcile with a driver-side replay."""
    docs = load_table(spark, SF_DIR, "documents")
    chan: dict[str, list] = {}
    for r in fetch_channels(docs).collect():
        chan.setdefault(r.domain, []).append(r)
    roll = {r.domain: r for r in fetch_list(docs).collect()}
    assert set(roll) == set(chan)
    binds = False
    capacities = set()
    for dom, rows in chan.items():
        rows.sort(key=lambda r: (r.ch, -r.priority, r.canon))
        rep = roll[dom]
        assert rep.n_link_cand == sum(r.ch == 0 for r in rows)
        assert rep.n_sitemap_only == sum(r.ch == 1 for r in rows)
        assert rep.n_recrawl == sum(r.ch == 2 for r in rows)
        delay = _delay_us(dom)
        cap = sum(1 for k in range(len(rows))
                  if k * delay < FETCH_CYCLE_US)
        if len(rows) > cap:          # the rate budget binds here
            capacities.add(cap)
        assert rep.n_scheduled == cap
        assert rep.makespan_us == (rep.n_scheduled - 1) * delay
        assert rep.top_canon == rows[0].canon
        if len(rows) > rep.n_scheduled:
            binds = True
            # the cycle admits the union's best rows: everything
            # scheduled sorts before everything cut
            n = rep.n_scheduled
            cut = rows[n:]
            assert all((c.ch, -c.priority, c.canon)
                       >= (rows[n - 1].ch, -rows[n - 1].priority,
                           rows[n - 1].canon) for c in cut)
    assert binds
    # different host rates -> different bound capacities (the time
    # budget is per-host, not one global slot count)
    assert len(capacities) > 1


def test_fetch_timestamps_ride_the_host_cadence(spark):
    """Row rn fetches at (rn-1)·delay_us exactly, and halving the
    rate doubles every timestamp and the makespan (cycle widened so
    admission doesn't shrink the comparison set)."""
    docs = load_table(spark, SF_DIR, "documents")
    wide = 10**12
    base = {(r.domain, r.rn): r.fetch_at_us
            for r in fetch_schedule_rows(docs, cycle_us=wide).collect()}
    half = {(r.domain, r.rn): r.fetch_at_us
            for r in fetch_schedule_rows(
                docs, cycle_us=wide, rate_scale_milli=500).collect()}
    assert base and set(base) == set(half)
    for (dom, rn), t in base.items():
        assert t == (rn - 1) * _delay_us(dom)
        assert half[(dom, rn)] == 2 * t
    a = {r.domain: r.makespan_us
         for r in fetch_list(docs, cycle_us=wide).collect()}
    b = {r.domain: r.makespan_us
         for r in fetch_list(docs, cycle_us=wide,
                             rate_scale_milli=500).collect()}
    assert all(b[d] == 2 * a[d] for d in a)
    assert any(a[d] > 0 for d in a)


def test_tiny_rate_scale_floors_instead_of_nulling(spark):
    """Review r12: a scale small enough to collapse the integer rate
    to zero must floor at 1 milli-req/s (delay caps at 1e9 µs), never
    divide by zero into NULL timestamps."""
    docs = load_table(spark, SF_DIR, "documents")
    rows = fetch_schedule_rows(docs, cycle_us=10**12,
                               rate_scale_milli=1).collect()
    assert rows
    floored = False
    for r in rows:
        assert r.fetch_at_us is not None and r.fetch_at_us >= 0
        assert r.fetch_at_us == (r.rn - 1) * _delay_us(r.domain, 1)
        m = _host_m(r.domain)
        if _domain_cd(r.domain) is None \
                and (RATE_BASE_MILLI * (1 << (m % 3))) // 1000 == 0:
            floored = True       # this tier WOULD have divided by 0
            assert _delay_us(r.domain, 1) == 10**9
    assert floored


def test_redirect_composition_keys_moved_pages_at_terminal_host(spark):
    """r13 verdict item 1 (the composition): a permanently moved
    page appears EXACTLY ONCE in the unified queue, keyed and
    budgeted at its terminal host; a temporarily (or mixed-chain)
    redirected page keeps its original key; the un-composed form
    (redirects=False) keys everything at the discovered host — the
    direction lever. Gates compose on BOTH hops: a page blocked at
    the discovered host never reaches the terminal key."""
    import re

    from robots_ref import fixture_allowed
    from toymapreduce_go_spark.operators.scheduling import (
        fetch_channels)

    docs = load_table(spark, SF_DIR, "documents")
    rows = fetch_channels(docs).collect()
    off = fetch_channels(docs, redirects=False).collect()

    def keyed(rs):
        out: dict[int, list[str]] = {}
        for r in rs:
            g = re.search(r"/articles/item(\d+)", r.canon)
            if g:
                out.setdefault(int(g.group(1)), []).append(r.domain)
        return out

    on_k, off_k = keyed(rows), keyed(off)
    moved_pages = {p for p in off_k if p % 16 % 8 == 6}
    assert moved_pages
    seen_perm = seen_keep = 0
    for p in moved_pages:
        m = p % 16
        assert len(on_k[p]) == 1 and len(off_k[p]) == 1   # exactly once
        assert off_k[p] == [f"www.site{m}.example.com"]
        if p % 5 == 1:          # temp-first chain: key unmoved
            assert on_k[p] == [f"www.site{m}.example.com"]
            seen_keep += 1
        elif p % 5 == 2:        # 301 into 302: the intermediate (r14)
            assert on_k[p] == [f"www.site{m}m.example.com"]
            seen_perm += 1
        else:                   # fully permanent: terminal host key
            assert on_k[p] == [f"www.site{m}mm.example.com"]
            seen_perm += 1
    assert seen_perm and seen_keep
    # discovered-host gate composes: a moved page blocked by the OLD
    # host's rules (site6/site14 are the m4_2 wildcard battery) is in
    # NEITHER form — it never fetches, so it never redirects
    n_pages = docs.count() // 4 + (docs.count() % 4 > 0)
    blocked_moved = {p for p in range(n_pages)
                     if p % 16 % 8 == 6 and not fixture_allowed(p)}
    assert blocked_moved
    assert not blocked_moved & set(on_k)
    # and the rollup's terminal hosts carry real budget rows
    roll = {r.domain: r for r in fetch_list(docs).collect()}
    term = [d for d in roll if _moved(d)]
    assert term and all(roll[d].n_scheduled > 0 for d in term)
