"""Crawl-politeness gate: RFC 9309 robots.txt evaluation over a URL
corpus.

Scale shape: the robots side is HOSTS-sized (orders of magnitude
smaller than the page corpus) → explicit ``broadcast`` hash join on
the url's host, zero shuffle of the corpus; rule evaluation is an
Arrow-batched kernel with a per-worker compiled-rules cache (one
``parse_robots`` per distinct robots.txt per worker, not per row —
within a batch the host column is heavily repeated, so the cache hit
rate is ~1).  Kernel in :mod:`gumbo_pp_spark.parser.robots`
(from-spec; RFC 9309 longest-match / allow-wins-ties semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.arrowmap import map_rows
from ..plans.partitioning import running_sum

ROBOTS_HOST_COL = "__robots_host"
ROBOTS_TXT_COL = "__robots_txt"
#: crawl delay of a host whose robots.txt group declares none
DEFAULT_DELAY_MS = 1000
#: the agent the crawler identifies as (whose robots.txt group
#: :func:`robots_filter` applies and :func:`crawl_schedule` reads), and
#: the schedule's window
CRAWL_AGENT = "gumbobot/1.0"
WINDOW_SEC = 60


def robots_filter(
    urls: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Append ``crawl_allowed`` to ``urls``: whether :data:`CRAWL_AGENT`
    may fetch it.

    ``robots`` carries one row per host (``host, robots_txt``); hosts
    absent from it — and null/empty bodies — are implicit allow-all
    per RFC 9309 §2.3.1.  A NULL url is checked as the empty path.
    """
    from ..parser.robots import parse_robots, url_path

    j = urls.join(
        F.broadcast(
            robots.select(
                F.col("host").alias(ROBOTS_HOST_COL),
                F.col("robots_txt").alias(ROBOTS_TXT_COL),
            )
        ),
        F.expr(f"parse_url({url_col}, 'HOST')") == F.col(ROBOTS_HOST_COL),
        "left",
    )
    cache: dict[str, object] = {}
    agent = CRAWL_AGENT

    def row(url, txt):
        key = txt or ""
        rf = cache.get(key)
        if rf is None:
            rf = cache[key] = parse_robots(key)
        return [(rf.allowed(agent, url_path(url or "")),)]

    return map_rows(j, (url_col, ROBOTS_TXT_COL), "crawl_allowed boolean", row, urls.columns)


def crawl_schedule(robots: DataFrame) -> DataFrame:
    """(host, crawl_delay_ms, fetch_budget): per-host politeness
    schedule from the de-facto ``Crawl-delay`` extension — the frontier
    shard sizer (a host's shard should hold at most ``fetch_budget``
    URLs per ``window_sec`` = :data:`WINDOW_SEC` scheduling window).
    Hosts whose :data:`CRAWL_AGENT` group declares no delay get
    :data:`DEFAULT_DELAY_MS`;
    ``fetch_budget = window_sec·1000 div crawl_delay_ms`` is one
    integer floor division (oracle-exact).  Scale shape: the input is
    the hosts-sized robots table — one Arrow map over it, no join, no
    shuffle; delays are plan constants downstream (broadcast the
    result onto the frontier).  ``robots`` carries ``host,
    robots_txt``; a NULL robots.txt is the empty file."""
    from ..parser.robots import parse_robots

    agent, window_sec = CRAWL_AGENT, WINDOW_SEC

    def row(txt):
        d = parse_robots(txt or "").crawl_delay(agent)
        delay = DEFAULT_DELAY_MS if d is None else int(round(d * 1000))
        # floor at 1 fetch per window: a Crawl-delay longer than the
        # window (e.g. 120 s against the 60 s window — common in real
        # robots.txt) would otherwise yield budget 0 and
        # shard_frontier's `div fetch_budget` divides by zero (NULL
        # windows in non-ANSI Spark, a runtime error under ANSI)
        budget = max(1, (window_sec * 1000) // delay) if delay > 0 else window_sec * 1000
        return [(delay, budget)]

    hosts = robots.select(
        F.col("host").cast("string").alias("host"), F.col("robots_txt").alias(ROBOTS_TXT_COL)
    )
    return map_rows(hosts, (ROBOTS_TXT_COL,), "crawl_delay_ms bigint, fetch_budget bigint",
                    row, ("host",))


def shard_frontier(frontier: DataFrame, schedule: DataFrame) -> DataFrame:
    """(host, url, fetch_rank, fetch_window): assign every frontier URL
    to a politeness window — the k-th URL of a host (deterministic
    md5(url) order, url tie-break) fetches in window
    ``(k−1) div fetch_budget``, with budgets from
    :func:`crawl_schedule`.  Hosts absent from the schedule are
    unthrottled (window 0).

    Exact per-host rank WITHOUT one task per host: ``fetch_rank`` is
    one more than the count of the host's earlier URLs, a
    :func:`~gumbo_pp_spark.plans.partitioning.running_sum` whose blocks
    are the first hex digit of md5(url) — a PREFIX of the ordering, so
    a crawl-heavy host spreads over 16 independent window tasks.  The
    schedule is broadcast."""
    base = frontier.select(
        "host", "url", F.substring(F.md5("url"), 1, 1).alias("_bkt"), F.lit(1).alias("_one")
    )
    ranked = running_sum(base, "host", "_bkt", (F.md5("url"), "url"), "_one", "_before")
    sched = schedule.select(F.col("host").alias("host"), "fetch_budget")
    return ranked.join(F.broadcast(sched), "host", "left").select(
        "host",
        "url",
        (F.col("_before") + 1).cast("bigint").alias("fetch_rank"),
        F.expr(
            "CAST(CASE WHEN fetch_budget IS NULL THEN 0 "
            "ELSE _before div fetch_budget END AS BIGINT)"
        ).alias("fetch_window"),
    )
