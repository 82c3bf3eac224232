"""RFC 9309 robots.txt parser (parser/robots.py) and the broadcast
politeness gate (operators/robots.py)."""

from gumbo_pp_spark.parser.robots import RobotsFile, parse_robots, url_path


def allowed(txt: str, path: str, agent: str = "bot") -> bool:
    return parse_robots(txt).allowed(agent, path)


class TestLongestMatch:
    # the RFC 9309 §2.2.2 example table
    def test_allow_longer_than_disallow(self):
        assert allowed("User-agent: *\nAllow: /p\nDisallow: /\n", "/page")

    def test_tie_allow_wins(self):
        t = "User-agent: *\nAllow: /folder\nDisallow: /folder\n"
        assert allowed(t, "/folder/page")

    def test_wildcard_vs_literal(self):
        t = "User-agent: *\nAllow: /page\nDisallow: /*.ph\n"
        assert allowed(t, "/page.php5")
        t = "User-agent: *\nAllow: /folder\nDisallow: /folder*\n"
        assert not allowed(t, "/folder2")

    def test_dollar_anchor(self):
        t = "User-agent: *\nDisallow: /*.php$\n"
        assert not allowed(t, "/file.php")
        assert allowed(t, "/file.php5")

    def test_star_spans_segments(self):
        assert not allowed("User-agent: *\nDisallow: /a*c\n", "/a/b/c")


class TestGroups:
    T = (
        "User-agent: googlebot-news\nDisallow: /news\n\n"
        "User-agent: googlebot\nDisallow: /g\n\n"
        "User-agent: *\nDisallow: /all\n"
    )

    def test_longest_agent_token_wins(self):
        rf = parse_robots(self.T)
        assert not rf.allowed("googlebot-news/1.0", "/news")
        assert rf.allowed("googlebot-news/1.0", "/g")  # NOT merged
        assert not rf.allowed("googlebot-images", "/g")

    def test_star_fallback(self):
        rf = parse_robots(self.T)
        assert not rf.allowed("otherbot", "/all")
        assert rf.allowed("otherbot", "/x")

    def test_stacked_agents_share_group(self):
        rf = parse_robots("User-agent: a\nUser-agent: b\nDisallow: /x\n")
        assert not rf.allowed("a", "/x") and not rf.allowed("b", "/x")

    def test_same_agent_groups_merge(self):
        rf = parse_robots(
            "User-agent: a\nDisallow: /x\n\nUser-agent: a\nDisallow: /y\n"
        )
        assert not rf.allowed("a", "/x") and not rf.allowed("a", "/y")


class TestEdges:
    def test_empty_disallow_allows_all(self):
        assert allowed("User-agent: *\nDisallow:\n", "/anything")

    def test_missing_or_empty_file_allows_all(self):
        assert parse_robots(None).allowed("b", "/x")
        assert parse_robots("").allowed("b", "/x")
        assert parse_robots(b"").allowed("b", "/x")

    def test_rule_before_any_group_ignored(self):
        assert allowed("Disallow: /x\nUser-agent: *\nDisallow: /y\n", "/x")

    def test_comments_and_case(self):
        t = "# hi\nUSER-AGENT: *  \nDisAllow: /a # tail comment\n"
        assert not allowed(t, "/a/b")

    def test_sitemap_captured_outside_groups(self):
        rf = parse_robots("Sitemap: https://h/s.xml\nUser-agent: *\nDisallow: /a\n")
        assert rf.sitemaps == ["https://h/s.xml"]

    def test_path_without_leading_slash_normalized(self):
        assert not allowed("User-agent: *\nDisallow: /a\n", "a/b")

    def test_empty_rules_object(self):
        assert RobotsFile().allowed("any", "/x")

    def test_url_path(self):
        assert url_path("https://h.com/a/b?q=1") == "/a/b?q=1"
        assert url_path("https://h.com") == "/"
        assert url_path("h.com/x") == "/x"


class TestSparkGate:
    def test_broadcast_join_and_values(self, spark):
        from gumbo_pp_spark.operators.robots import robots_filter

        urls = spark.createDataFrame(
            [
                (1, "https://a.com/ok"),
                (2, "https://a.com/private/x"),
                (3, "https://b.com/private/x"),  # no robots row -> allowed
            ],
            "doc_id long, url string",
        )
        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /private\n")],
            "host string, robots_txt string",
        )
        out = robots_filter(urls, robots)
        rows = {r.doc_id: r.crawl_allowed for r in out.collect()}
        assert rows == {1: True, 2: False, 3: True}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan


class TestUrlFeatures:
    def test_features_and_codegen_plan(self, spark):
        from gumbo_pp_spark.operators.textstats import url_features

        df = spark.createDataFrame(
            [
                (1, "https://a.b.co.uk/x/y?utm_campaign=z&a=1"),
                (2, "http://h.com/"),
                (3, "https://h.com/p"),
            ],
            "doc_id long, url string",
        )
        rows = {r.doc_id: r for r in url_features(df).collect()}
        r1 = rows[1]
        assert (r1.host, r1.tld, r1.path_depth, r1.n_params) == ("a.b.co.uk", "uk", 2, 2)
        assert r1.has_tracking is True and r1.is_https is True
        assert (rows[2].path_depth, rows[2].n_params, rows[2].is_https) == (0, 0, False)
        assert rows[3].has_tracking is False
        plan = url_features(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        for py_node in ("EvalPython", "InPandas", "PythonUDF", "MapInArrow"):
            assert py_node not in plan


class TestCrawlDelay:
    """De-facto Crawl-delay extension + the per-host schedule table."""

    def test_parse_and_group_selection(self):
        from gumbo_pp_spark.parser.robots import parse_robots

        rf = parse_robots(
            "User-agent: gumbobot\nCrawl-delay: 2.5\nDisallow: /x\n\n"
            "User-agent: *\nCrawl-delay: 10\n"
        )
        assert rf.crawl_delay("gumbobot/1.0") == 2.5
        assert rf.crawl_delay("otherbot") == 10.0

    def test_malformed_and_missing_delays(self):
        from gumbo_pp_spark.parser.robots import parse_robots

        rf = parse_robots(
            "User-agent: a\nCrawl-delay: fast\n\n"
            "User-agent: b\nCrawl-delay: -3\n\nUser-agent: c\nDisallow: /\n"
        )
        assert rf.crawl_delay("a") is None  # malformed ignored
        assert rf.crawl_delay("b") is None  # negative ignored
        assert rf.crawl_delay("c") is None  # none declared
        # delay before any user-agent line is ignored too
        assert parse_robots("Crawl-delay: 5\n").crawl_delay("x") is None

    def test_schedule_table_values(self, spark):
        from gumbo_pp_spark.operators.robots import crawl_schedule

        robots = spark.createDataFrame(
            [("slow.example", "User-agent: *\nCrawl-delay: 30\n"),
             ("fast.example", "User-agent: *\nCrawl-delay: 0.5\n"),
             ("plain.example", "User-agent: *\nDisallow: /x\n"),
             ("empty.example", None)],
            "host string, robots_txt string",
        )
        got = {r.host: (r.crawl_delay_ms, r.fetch_budget)
               for r in crawl_schedule(robots).collect()}
        assert got == {
            "slow.example": (30000, 2),
            "fast.example": (500, 120),
            "plain.example": (1000, 60),   # default delay
            "empty.example": (1000, 60),   # missing robots = default
        }

    def test_delay_longer_than_window_floors_budget_at_one(self, spark):
        # ADVICE r7: Crawl-delay 120 against a 60 s window must yield
        # budget 1 (one fetch per window), never 0 — shard_frontier
        # divides by fetch_budget and a 0 silently NULLs every window
        from gumbo_pp_spark.operators.robots import crawl_schedule, shard_frontier

        robots = spark.createDataFrame(
            [("verystrict.example", "User-agent: *\nCrawl-delay: 120\n")],
            "host string, robots_txt string",
        )
        sched = crawl_schedule(robots)
        (r,) = sched.collect()
        assert (r.crawl_delay_ms, r.fetch_budget) == (120000, 1)
        frontier = spark.createDataFrame(
            [("verystrict.example", f"https://verystrict.example/{i}")
             for i in range(4)],
            "host string, url string",
        )
        rows = shard_frontier(frontier, sched).collect()
        # every URL scheduled (no NULL windows), one per window
        assert sorted(r.fetch_window for r in rows) == [0, 1, 2, 3]

    def test_hostile_delay_values_rejected_or_clamped(self, spark):
        # ADVICE r7: 'inf' / '1e308' pass float() but overflowed the
        # int ms conversion inside the Arrow task
        from gumbo_pp_spark.operators.robots import crawl_schedule
        from gumbo_pp_spark.parser.robots import parse_robots

        rf = parse_robots(
            "User-agent: a\nCrawl-delay: inf\n\n"
            "User-agent: b\nCrawl-delay: nan\n\n"
            "User-agent: c\nCrawl-delay: 1e308\n"
        )
        assert rf.crawl_delay("a") is None
        assert rf.crawl_delay("b") is None
        assert rf.crawl_delay("c") == 1e6  # clamped to the ceiling
        robots = spark.createDataFrame(
            [("inf.example", "User-agent: *\nCrawl-delay: inf\n"),
             ("big.example", "User-agent: *\nCrawl-delay: 1e308\n")],
            "host string, robots_txt string",
        )
        got = {r.host: (r.crawl_delay_ms, r.fetch_budget)
               for r in crawl_schedule(robots).collect()}
        assert got == {
            "inf.example": (1000, 60),        # non-finite → default
            "big.example": (10 ** 9, 1),      # clamped, floor budget
        }

    def test_zero_delay_means_unthrottled_window(self, spark):
        from gumbo_pp_spark.operators.robots import crawl_schedule

        robots = spark.createDataFrame(
            [("h", "User-agent: *\nCrawl-delay: 0\n")],
            "host string, robots_txt string",
        )
        (r,) = crawl_schedule(robots).collect()
        assert (r.crawl_delay_ms, r.fetch_budget) == (0, 60000)


class TestShardFrontier:
    def _sched(self, spark, rows):
        return spark.createDataFrame(rows, "host string, fetch_budget bigint")

    def test_windows_follow_md5_rank_and_budget(self, spark):
        from pyspark.sql import Window, functions as F

        from gumbo_pp_spark.operators.robots import shard_frontier

        rows = [("h.example", f"https://h.example/p{i}") for i in range(10)]
        rows += [("o.example", f"https://o.example/p{i}") for i in range(4)]
        frontier = spark.createDataFrame(rows, "host string, url string")
        sched = self._sched(spark, [("h.example", 3), ("o.example", 2)])
        got = shard_frontier(frontier, sched)
        # exact parity with the naive single-window formulation
        naive = frontier.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("host").orderBy(F.md5("url"), "url")
            ),
        )
        j = got.join(naive, ["host", "url"]).collect()
        assert len(j) == 14
        for r in j:
            assert r.fetch_rank == r.rk
            budget = 3 if r.host == "h.example" else 2
            assert r.fetch_window == (r.fetch_rank - 1) // budget
        # budget 3 over 10 urls -> windows 0..3 with sizes 3,3,3,1
        wins = sorted(
            r.fetch_window for r in j if r.host == "h.example"
        )
        assert wins == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]

    def test_unscheduled_host_is_unthrottled(self, spark):
        from gumbo_pp_spark.operators.robots import shard_frontier

        frontier = spark.createDataFrame(
            [("x.example", f"https://x.example/{i}") for i in range(5)],
            "host string, url string",
        )
        got = shard_frontier(frontier, self._sched(spark, [])).collect()
        assert {r.fetch_window for r in got} == {0}
        assert sorted(r.fetch_rank for r in got) == [1, 2, 3, 4, 5]

    def _frontier_plan(self, spark):
        from tests.test_physical_plans import initial_plan, plan_nodes

        from gumbo_pp_spark.operators.robots import shard_frontier

        frontier = spark.createDataFrame(
            [("h", f"https://h/{i}") for i in range(40)], "host string, url string"
        )
        return plan_nodes(initial_plan(shard_frontier(frontier, self._sched(spark, [("h", 1)]))))

    def test_schedule_side_broadcast(self, spark):
        nodes = self._frontier_plan(spark)
        joins = [n for n in nodes if n.nodeName() == "BroadcastHashJoin"]
        assert any("LeftOuter" in n.simpleString(100) and "fetch_budget" in n.children().apply(1)
                   .treeString() for n in joins), [n.simpleString(100) for n in joins]

    def test_offset_table_not_broadcast_before_execution(self, spark):
        # the block-offset table is joined by a plain equi-join; only
        # adaptive execution may broadcast it, from its measured size
        bcast = [n.treeString() for n in self._frontier_plan(spark)
                 if n.nodeName() == "BroadcastExchange"]
        assert bcast and not any("_rs_off" in t for t in bcast), bcast

    def test_frontier_rows_exchanged_once(self, spark):
        # from the rank window down to the frontier scan the rows pass
        # one exchange, on (host, _bkt): the offsets join and the window
        # share that clustering
        import re

        nodes = self._frontier_plan(spark)
        (node,) = [n for n in nodes if n.nodeName() == "Window" and "url" in n.simpleString(100)]
        exchanges = []
        while node.children().size():
            kids = [node.children().apply(i) for i in range(node.children().size())]
            # at the offsets join, the rows side is the one with no window
            node = kids[0] if len(kids) == 1 else next(
                k for k in kids if "Window" not in k.treeString())
            if node.nodeName() == "Exchange":
                exchanges.append(node.simpleString(100))
        assert len(exchanges) == 1, exchanges
        assert re.search(r"hashpartitioning\(host#\d+, _bkt#\d+, \d+\)", exchanges[0])
