"""Crawl-ingest recipe — the INGEST-side twin of
``examples/curation_pipeline.py`` (that one starts from clean documents;
this one starts from the messy URL feed a crawler actually emits), each
stage an operator the driver gate value-verifies on its own:

    raw feed (id, domain)
      -> URL canonicalization     (urlnorm.canonical_host_frame: case /
                                   www. / default ports / tracking params
                                   / trailing slash / fragment — the ONE
                                   generated chain batch + streaming share)
      -> URL-level dedup          (distinct canonical URL: case and
                                   tracking-param noise collapses here)
      -> registered-domain roll   (public-suffix-style longest match + 1
                                   label, broadcast equi-join)
      -> zone blocklist           (suffix semantics: blocking a
                                   registered domain blocks every host
                                   under it)
      -> per-host admission cap   (corpus.cap_per_group on the CANONICAL
                                   host, so site variants share one cap)

Every stage is deterministic, so the funnel is replayable: same feed ->
same admitted set, any cluster size.  At 100 TB the chain is map-side
codegen until the one distinct exchange and the one host-keyed cap
exchange.

Run:  python examples/crawl_ingest_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from reddit_sse_stream_spark.operators import corpus, urlnorm
from reddit_sse_stream_spark.session import get_spark
from reddit_sse_stream_spark.sources.feed import feed_df

#: zone blocklist for the demo: blocking a REGISTERED domain must block
#: every canonical host under it (the suffix contract the
#: feed_domain_suffix_blocklist row pins)
BLOCKED_ZONES = ("sites.io",)


def ingest(spark, sf_dir: str):
    c = urlnorm.canonical_host_frame(feed_df(spark, sf_dir))
    n_raw = c.count()

    # URL-level dedup: the canonicalization chain IS the dedup key —
    # distinct raw URLs that differ only in noise collapse here
    n_canon = c.select("host", "canon_url").distinct().count()

    # registered domain per host: the SHARED matcher (dimension-sized
    # suffix explode + broadcast rule join, full PSL rule classes).
    # It covers every input host — no-match rolls up to itself via its
    # internal left join + coalesce, so unmatched hosts are never
    # silently dropped from the admitted set (r14 ADVICE bug, fixed by
    # switching to the one catalog-row implementation)
    hosts = c.select("host").distinct()
    reg = urlnorm.registered_domain_frame(hosts)

    # zone blocklist at the REGISTERED-domain level
    blocked = spark.createDataFrame(
        [(z,) for z in BLOCKED_ZONES], "registered_domain string"
    )
    allowed_hosts = reg.join(
        F.broadcast(blocked), "registered_domain", "left_anti"
    ).select("host")
    admitted_events = c.join(allowed_hosts, "host")
    n_after_block = admitted_events.count()

    # per-canonical-host admission cap (md5 order, WindowGroupLimit)
    kept = corpus.cap_per_group(
        admitted_events.select("id", "host"), group_col="host", k=10,
        id_col="id",
    )
    n_admitted = kept.count()

    return {
        "raw_feed_events": n_raw,
        "distinct_canonical_urls": n_canon,
        "events_after_zone_block": n_after_block,
        "admitted_after_host_cap": n_admitted,
        "n_hosts": hosts.count(),
        "n_blocked_zones": len(BLOCKED_ZONES),
    }


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    funnel = ingest(get_spark("crawl_ingest_pipeline"), sf)
    for k, v in funnel.items():
        print(f"{k:26s} {v}")
