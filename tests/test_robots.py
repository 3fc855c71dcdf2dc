"""robots.txt parse + evaluation: RFC 9309 group selection,
longest-match precedence, Allow-wins-ties, wildcard/$ translation."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_spark.text import robots as rb

ROBOTS = """# policy
User-agent: gptbot
Disallow: /

User-agent: *
Disallow: /private/
Allow: /private/ok*
Disallow: /*.zip$
Disallow: /tmp*
Disallow:
"""


def _rules(spark, txt=ROBOTS, host="h.example"):
    files = spark.createDataFrame([(host, txt)], "host string, txt string")
    return rb.parse_robots(files, "host", "txt")


def test_parse_groups_and_rules(spark):
    rows = _rules(spark).collect()
    got = {(r.agent, r.allow, r.pattern) for r in rows}
    assert got == {
        ("gptbot", False, "/"),
        ("*", False, "/private/"),
        ("*", True, "/private/ok*"),
        ("*", False, "/*.zip$"),
        ("*", False, "/tmp*"),
    }
    # empty Disallow: dropped; spec = pattern length
    spec = {r.pattern: r.spec for r in rows}
    assert spec["/private/ok*"] == 12 and spec["/"] == 1


def _eval(spark, paths, agent, txt=ROBOTS):
    urls = spark.createDataFrame(
        [(i, "h.example", p) for i, p in enumerate(paths)],
        "i long, host string, path string",
    )
    out = rb.robots_eval(urls, _rules(spark, txt), agent=agent)
    return {r.path: (r.allowed, r.matched) for r in out.collect()}


def test_eval_star_group_longest_match(spark):
    got = _eval(
        spark,
        ["/p1", "/private/x", "/private/ok9", "/data3.zip", "/tmp/4/file",
         "/zipper"],
        agent="ccbot",
    )
    assert got["/p1"] == (True, None)                  # no rule -> allow
    assert got["/private/x"] == (False, "/private/")
    # Allow /private/ok* (spec 12) beats Disallow /private/ (spec 9)
    assert got["/private/ok9"] == (True, "/private/ok*")
    assert got["/data3.zip"] == (False, "/*.zip$")     # $ anchors the end
    assert got["/tmp/4/file"] == (False, "/tmp*")      # * wildcard
    assert got["/zipper"] == (True, None)              # .zip$ must NOT hit


def test_eval_own_group_overrides_star(spark):
    got = _eval(spark, ["/p1", "/private/ok9"], agent="gptbot")
    # gptbot has its OWN group (deny all); star group must not apply
    assert got["/p1"] == (False, "/")
    assert got["/private/ok9"] == (False, "/")


def test_eval_allow_wins_spec_tie(spark):
    txt = "User-agent: *\nDisallow: /a/\nAllow: /a/\n"
    got = _eval(spark, ["/a/x"], agent="ccbot", txt=txt)
    assert got["/a/x"][0] is True


def test_eval_dollar_not_mid_path(spark):
    txt = "User-agent: *\nDisallow: /x$\n"
    got = _eval(spark, ["/x", "/xy"], agent="ccbot", txt=txt)
    assert got["/x"][0] is False
    assert got["/xy"][0] is True


def test_rules_before_any_group_are_ignored(spark):
    txt = "Disallow: /early\nUser-agent: *\nDisallow: /late\n"
    rows = _rules(spark, txt).collect()
    assert {r.pattern for r in rows} == {"/late"}


def test_like_escape_of_percent_underscore(spark):
    txt = "User-agent: *\nDisallow: /100%_off\n"
    got = _eval(spark, ["/100%_off/sale", "/100xyoff/q"], agent="ccbot", txt=txt)
    assert got["/100%_off/sale"][0] is False   # literal % and _ match
    assert got["/100xyoff/q"][0] is True       # _ must not act as LIKE wildcard


def test_parse_crlf_line_endings(spark):
    txt = "User-agent: *\r\nDisallow: /private/\r\nAllow: /ok\r\n"
    rows = _rules(spark, txt).collect()
    assert {(r.agent, r.allow, r.pattern) for r in rows} == {
        ("*", False, "/private/"), ("*", True, "/ok"),
    }


def test_parse_stacked_user_agents_share_rules(spark):
    txt = ("User-agent: a\nUser-agent: b\nDisallow: /x\n\n"
           "User-agent: *\nDisallow: /y\n")
    rows = _rules(spark, txt).collect()
    got = {(r.agent, r.pattern) for r in rows}
    assert got == {("a", "/x"), ("b", "/x"), ("*", "/y")}
    # agent a has its OWN group: /x denied, /y NOT applied
    urls = spark.createDataFrame(
        [(1, "h.example", "/x1"), (2, "h.example", "/y1")],
        "i long, host string, path string",
    )
    out = {r.path: r.allowed for r in
           rb.robots_eval(urls, _rules(spark, txt), agent="a").collect()}
    assert out == {"/x1": False, "/y1": True}
