"""URL canonicalization / host stats / URL dedup (operators/web.py)."""

from pyspark.sql import functions as F

from geist_spark.operators.web import (
    host_stats,
    normalize_url,
    url_dedup,
    url_host,
)


def _norm(spark, *urls: str) -> list[str]:
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [
        r.n for r in df.select(normalize_url(F.col("url")).alias("n")).collect()
    ]


def test_normalize_rules(spark):
    got = _norm(
        spark,
        "HTTP://WWW.Example.com:80/a/b/?utm_source=feed&id=7#frag",
        "https://host.com:443/a//",
        "https://host.com:8080/a?b=2&a=1&fbclid=xx",
        "http://user@Host.com/p?ref=x",
        "https://h.com",
        "http://h.com:81/x/?utm_campaign=z&z=1&y=2",
        "http://h.com/p?a=1?b=2",  # query starts at the FIRST '?'
    )
    assert got == [
        "http://www.example.com/a/b?id=7",
        "https://host.com/a",
        "https://host.com:8080/a?a=1&b=2",
        # 'ref' is functional by default (branch selectors etc.) — kept;
        # pass tracking_exact=(...,'ref') to drop it
        "http://host.com/p?ref=x",
        "https://h.com/",
        "http://h.com:81/x?y=2&z=1",
        "http://h.com/p?a=1?b=2",
    ]


def test_normalize_idempotent(spark):
    urls = [
        "HTTP://A.b:80/x/?utm_a=1&b=2#f",
        "https://q.com:8443/p?z=1&a=2",
        "https://h.com",
    ]
    once = _norm(spark, *urls)
    twice = _norm(spark, *once)
    assert once == twice


def test_normalize_non_url_is_null(spark):
    df = spark.createDataFrame([("not a url",), ("",), (None,)], "url string")
    got = [
        r.n for r in df.select(normalize_url(F.col("url")).alias("n")).collect()
    ]
    assert got == [None, None, None]


def test_url_host_strips_userinfo_and_port(spark):
    df = spark.createDataFrame(
        [("https://alice:pw@Host.Example.COM:8443/x",)], "url string"
    )
    assert (
        df.select(url_host(F.col("url")).alias("h")).collect()[0].h
        == "host.example.com"
    )


def test_ipv6_authority(spark):
    df = spark.createDataFrame(
        [
            ("http://[2001:DB8::1]:8080/x",),
            ("http://[::1]/y",),
        ],
        "url string",
    )
    got = df.select(
        url_host(F.col("url")).alias("h"),
        normalize_url(F.col("url")).alias("n"),
    ).collect()
    assert got[0].h == "[2001:db8::1]"
    assert got[0].n == "http://[2001:db8::1]:8080/x"
    assert got[1].h == "[::1]"
    assert got[1].n == "http://[::1]/y"


def test_url_dedup_null_urls_all_keep(spark):
    rows = [
        (1, "not a url"),
        (2, "also not"),
        (3, "http://a.com/p"),
        (4, "http://a.com/p/"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    dd = {r.doc_id: r for r in url_dedup(docs).collect()}
    # unparseable URLs are not duplicates of each other
    assert dd[1].keep and dd[2].keep
    assert dd[3].keep and not dd[4].keep


def test_normalize_randomized_duckdb_parity(spark):
    """Seeded fuzz of messy URLs through BOTH the Spark normalizer and
    the DuckDB oracle expression (the same SQL __spark_entry__ embeds)
    — the hand-duplicated parse must agree beyond the md5-derived
    corpus shapes."""
    import random

    import duckdb

    rng = random.Random(7)
    schemes = ["http", "HTTP", "https", "HtTpS"]
    hosts = ["Example.com", "a.B.c", "[2001:DB8::1]", "x-y.org"]
    userinfos = ["", "u@", "u:p@"]
    ports = ["", ":80", ":443", ":8080", ":81"]
    paths = ["", "/", "/a", "/a/b/", "/a//", "/p.q/r"]
    queries = [
        "",
        "?",
        "?a=1",
        "?b=2&a=1",
        "?utm_source=x&id=3",
        "?id=4&utm_campaign=y&ref=z",
        "?a=1?b=2",
        "?fbclid=q&gclid=r",
    ]
    frags = ["", "#f", "#sec?x=1"]
    urls = []
    for _ in range(300):
        urls.append(
            rng.choice(schemes)
            + "://"
            + rng.choice(userinfos)
            + rng.choice(hosts)
            + rng.choice(ports)
            + rng.choice(paths)
            + rng.choice(queries)
            + rng.choice(frags)
        )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r.n
        for r in df.select(normalize_url(F.col("url")).alias("n")).collect()
    ]

    con = duckdb.connect()
    sql = r"""
    WITH t AS (SELECT unnest(?) AS url),
    p AS (
      SELECT url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
            AS scheme,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)
            AS auth,
        regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) AS raw_path,
        regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS rawq
      FROM t),
    q AS (
      SELECT *,
        lower(regexp_extract(auth, '^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)', 1))
            AS host,
        regexp_extract(auth, ':(\d+)$', 1) AS port,
        CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
             ELSE regexp_replace(raw_path, '/+$', '') END AS path,
        coalesce(list_aggregate(list_sort(list_filter(
            string_split(rawq, '&'),
            x -> x <> ''
                 AND NOT regexp_extract(x, '^([^=]*)', 1)
                     IN ('fbclid','gclid','msclkid')
                 AND NOT starts_with(
                     regexp_extract(x, '^([^=]*)', 1), 'utm_'))),
            'string_agg', '&'), '') AS qq
      FROM p)
    SELECT CASE WHEN scheme = '' THEN NULL ELSE
      scheme || '://' || host ||
      CASE WHEN port = '' OR (scheme='http' AND port='80')
                OR (scheme='https' AND port='443') THEN ''
           ELSE ':' || port END
      || path || CASE WHEN qq = '' THEN '' ELSE '?' || qq END END AS n
    FROM q
    """
    want = [n for (n,) in con.execute(sql, [urls]).fetchall()]
    mismatches = [
        (u, g, w) for u, g, w in zip(urls, got, want) if g != w
    ]
    assert not mismatches, mismatches[:5]


def test_pipeline_url_dedup_and_lm_filter(spark):
    from geist_spark.compiler.pipeline import compile_pipeline
    from geist_spark.spec.model import SpecError
    import pytest

    rows = [
        # (doc_id, text, lang, source, url)
        (1, "the cat sat", "en", "s1", "http://A.com/p?utm_x=1"),
        (2, "the cat ran", "en", "s1", "HTTP://a.com:80/p/"),  # dup URL of 1
        (3, "zz qq ww", "de", "s1", "http://a.com/q"),  # fully OOV vs en LM
        (4, "the cat", "en", "s2", "https://b.com/p"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, url string"
    )
    pipe = compile_pipeline(
        {
            "steps": [
                {"op": "urlDedup"},
                {"op": "lmQualityFilter", "maxOovRate": 0.5},
            ]
        }
    )
    out = pipe(docs)
    assert sorted(r.doc_id for r in out.collect()) == [1, 4]
    assert set(out.columns) == {"doc_id", "text", "lang", "source", "url"}

    with pytest.raises(SpecError, match="maxOovRate"):
        compile_pipeline(
            {"steps": [{"op": "lmQualityFilter", "maxOovRate": 1.5}]}
        )
    with pytest.raises(SpecError, match="maxOovRate"):
        compile_pipeline(
            {"steps": [{"op": "lmQualityFilter", "maxOovRate": True}]}
        )
    with pytest.raises(SpecError, match="urlColumn"):
        compile_pipeline({"steps": [{"op": "urlDedup", "urlColumn": ""}]})
    with pytest.raises(SpecError, match="langColumn"):
        compile_pipeline(
            {"steps": [{"op": "lmQualityFilter", "langColumn": ""}]}
        )

    # a custom langColumn works; a MISSING one is a SpecError at run()
    # (a directed message, not a mid-plan AnalysisException)
    renamed = docs.withColumnRenamed("lang", "language")
    pipe_lc = compile_pipeline(
        {
            "steps": [
                {
                    "op": "lmQualityFilter",
                    "maxOovRate": 0.5,
                    "langColumn": "language",
                }
            ]
        }
    )
    assert sorted(r.doc_id for r in pipe_lc(renamed).collect()) == [1, 2, 4]
    pipe_missing = compile_pipeline(
        {"steps": [{"op": "lmQualityFilter", "langColumn": "nope"}]}
    )
    with pytest.raises(SpecError, match="nope"):
        pipe_missing(docs)
    # guard is case-INSENSITIVE like Spark's own column resolution:
    # langColumn='LANG' against a 'lang' column must run, not raise
    pipe_ci = compile_pipeline(
        {"steps": [{"op": "lmQualityFilter", "maxOovRate": 0.5,
                    "langColumn": "LANG"}]}
    )
    assert sorted(r.doc_id for r in pipe_ci(docs).collect()) == [1, 2, 4]
    # ...and an input carrying BOTH casings is an upfront SpecError
    # (F.col would raise AMBIGUOUS_REFERENCE mid-plan otherwise)
    # (withColumn would REPLACE case-insensitively; select appends)
    dup = docs.select("*", F.col("lang").alias("LANG"))
    with pytest.raises(SpecError, match="ambiguous"):
        pipe_ci(dup)


def test_normalize_url_tracking_overrides(spark):
    df = spark.createDataFrame(
        [("http://h.com/p?ref=x&sid=1&a=2",)], "url string"
    )
    # default: ref and sid are functional, kept
    assert (
        df.select(normalize_url(F.col("url")).alias("n")).collect()[0].n
        == "http://h.com/p?a=2&ref=x&sid=1"
    )
    # caller opts specific params into the tracking set
    got = df.select(
        normalize_url(
            F.col("url"), tracking_exact=("fbclid", "ref"),
            tracking_prefixes=("utm_", "sid"),
        ).alias("n")
    ).collect()[0].n
    assert got == "http://h.com/p?a=2"


def test_pipeline_guards_against_corpus_wipe(spark):
    from geist_spark.compiler.pipeline import compile_pipeline

    rows = [
        (1, "the cat sat", "en", "s1", None),  # NULL url -> bypasses dedup
        (2, None, "en", "s1", "http://a.com/p"),  # NULL text -> unscoreable
        (3, "zz qq", "de", "s1", "http://a.com/q"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, url string"
    )
    pipe = compile_pipeline(
        {
            "steps": [
                {"op": "urlDedup"},
                {"op": "lmQualityFilter", "maxOovRate": 0.4},
            ]
        }
    )
    kept = sorted(r.doc_id for r in pipe(docs).collect())
    # NULL url keeps; NULL text passes the gate (only drop what is
    # measured); the OOV doc is the only drop
    assert kept == [1, 2]

    # empty reference slice (no 'xx' docs): the gate passes everything
    # through rather than scoring all docs OOV and wiping the corpus
    pipe2 = compile_pipeline(
        {"steps": [{"op": "lmQualityFilter", "referenceLang": "xx"}]}
    )
    assert sorted(r.doc_id for r in pipe2(docs).collect()) == [1, 2, 3]


def test_host_stats_and_dedup(spark):
    rows = [
        (1, "http://A.com/p?utm_source=x", "aaaa"),
        (2, "HTTP://a.com:80/p/", "bb"),  # same canonical page as 1
        (3, "http://a.com/q", "c"),
        (4, "https://b.com/p", "dd"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")

    hs = {r.host: r for r in host_stats(docs).collect()}
    assert hs["a.com"].n_docs == 3
    assert hs["a.com"].n_urls == 2  # docs 1+2 collapse
    assert hs["a.com"].n_paths == 2
    assert hs["a.com"].total_chars == 7
    assert hs["b.com"].n_docs == 1

    dd = {r.doc_id: r for r in url_dedup(docs).collect()}
    assert dd[1].keep and not dd[2].keep  # lowest id survives
    assert dd[1].url_norm == dd[2].url_norm == "http://a.com/p"
    assert dd[3].keep and dd[4].keep


def test_streaming_url_dedup_within_watermark(spark, tmp_path):
    """normalize_url composes with Structured Streaming: canonical-URL
    dedup across micro-batches via dropDuplicatesWithinWatermark —
    state keyed on the normalized form, bounded by the watermark."""
    import datetime as dt

    src = str(tmp_path / "urlsrc")
    t0 = dt.datetime(2024, 1, 1)

    def write_file(rows):
        spark.createDataFrame(
            [(u, t0 + dt.timedelta(seconds=s)) for u, s in rows],
            "url string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(src)

    write_file(
        [
            ("http://A.com/p?utm_source=x", 0),
            ("HTTP://a.com:80/p/", 1),  # same canonical page
            ("http://a.com/q", 2),
        ]
    )
    write_file([("http://a.com/p#frag", 3)])  # dup again, next batch

    stream = (
        spark.readStream.schema("url string, ts timestamp").parquet(src)
        .withColumn("url_norm", normalize_url(F.col("url")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["url_norm"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("urldedup")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ck")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT url_norm FROM urldedup").collect()
    assert sorted(r.url_norm for r in rows) == [
        "http://a.com/p",
        "http://a.com/q",
    ]


def test_html_extract_semantics(spark):
    """html_extract drops head/script/style/comments, strips tags,
    decodes entities single-pass ('&amp;lt;' -> literal '&lt;'),
    collapses whitespace, keeps <header> CONTENT (only <head> is
    metadata), counts anchors, and handles a title-less fragment."""
    from geist_spark.operators.web import html_extract

    messy = (
        "<html><head profile='x'><title> My\n Page </title>"
        "<style>a{}</style></head><body>"
        "<header>Site Header</header>"
        "<script type='text/javascript'>if (a < b) { x = '<a href=!>'; }"
        "</script>"
        "<P>one&nbsp;two &amp;lt; three &#39;quoted&#39;</p>"
        "<!-- <a href='ghost'>never</a> -->"
        "<a href='/x'>x</a><a\nhref='/y'>y</a><A HREF='/z'>z</a>"
        "</body></html>"
    )
    fragment = "no title <b>bold</b> text"
    df = spark.createDataFrame(
        [(1, messy), (2, fragment)], "doc_id long, html string"
    )
    out = {r["doc_id"]: r for r in html_extract(df).collect()}
    m = out[1]
    assert m["title"] == "My Page"
    # script body (with its '<' and fake tag) gone; comment anchor not
    # counted; &amp;lt; decodes to the literal text '&lt;'
    assert m["text"] == (
        "Site Header one two &lt; three 'quoted' x y z"
    )
    assert m["n_anchors"] == 3
    assert m["text_len"] == len(m["text"])
    f = out[2]
    assert f["title"] == "" and f["text"] == "no title bold text"
    assert f["n_anchors"] == 0


def test_html_extract_plan_all_jvm(spark):
    """The extraction plan carries NO Python stages and no exchange —
    the 100 TB contract: a free rider on the scan."""
    import io
    from contextlib import redirect_stdout

    from geist_spark.operators.web import html_extract

    df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
    buf = io.StringIO()
    with redirect_stdout(buf):
        html_extract(df).explain("formatted")
    plan = buf.getvalue()
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "Exchange"):
        assert node not in plan, node


def _warc_bytes(records):
    """records = [(type, uri, block_bytes)] -> plain WARC file."""
    out = bytearray()
    for wtype, uri, block in records:
        out += (
            f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(block)}\r\n\r\n"
        ).encode()
        out += block + b"\r\n\r\n"
    return bytes(out)


def test_warc_parse_records_and_gzip(spark):
    """warc_parse fans out one row per record, splits HTTP responses
    into status + body, passes non-HTTP blocks through whole, and
    inflates per-record-gzip transport (the CommonCrawl layout) to
    the identical rows."""
    import gzip

    from geist_spark.operators.web import warc_parse

    http = (b"HTTP/1.1 404 Not Found\r\nServer: x\r\n"
            b"Content-Type: text/html; charset=UTF-8\r\n\r\n"
            b"<html>gone</html>")
    recs = [
        ("warcinfo", "meta://x", b"software: test"),
        ("response", "http://a.com/p", http),
        ("request", "http://a.com/p", b"GET /p HTTP/1.1\r\n\r\n"),
    ]
    plain = _warc_bytes(recs)
    # per-record gzip members, concatenated (CommonCrawl transport)
    gz = b"".join(gzip.compress(_warc_bytes([r])) for r in recs)
    df = spark.createDataFrame(
        [(1, plain), (2, gz)], "file_id long, payload binary"
    )
    rows = warc_parse(df).collect()
    by = {(r["file_id"], r["rec_idx"]): r for r in rows}
    assert len(by) == 6
    for fid in (1, 2):
        assert by[(fid, 0)]["warc_type"] == "warcinfo"
        assert by[(fid, 0)]["http_status"] is None
        assert bytes(by[(fid, 0)]["body"]) == b"software: test"
        r = by[(fid, 1)]
        assert r["warc_type"] == "response"
        assert r["http_status"] == 404
        assert r["http_content_type"] == "text/html; charset=UTF-8"
        assert bytes(r["body"]) == b"<html>gone</html>"
        assert r["content_length"] == len(http)
        assert r["target_uri"] == "http://a.com/p"
        # request blocks pass through whole (no HTTP split)
        assert bytes(by[(fid, 2)]["body"]).startswith(b"GET /p")
        assert by[(fid, 2)]["http_content_type"] is None


def test_warc_parse_errors(spark):
    """Two-tier: non-WARC/non-gzip payloads are capability limits
    (NULL row under 'null', named raise otherwise); truncated blocks,
    missing Content-Length, and bad version lines always raise."""
    import pytest

    from geist_spark.operators.web import warc_parse

    good = _warc_bytes([("resource", "u://x", b"abc")])
    arc = b"filedesc://old-arc-format 0.0.0.0 20000101000000"
    df = spark.createDataFrame(
        [(1, good), (2, arc)], "file_id long, payload binary"
    )
    with pytest.raises(Exception, match="file_id=2"):
        warc_parse(df).collect()
    rows = {r["file_id"]: r for r in
            warc_parse(df, on_unsupported="null").collect()}
    assert rows[1]["warc_type"] == "resource"
    assert rows[2]["rec_idx"] is None
    no_len = good.replace(b"Content-Length: 3\r\n", b"")
    short = good[:-7]  # cut into the declared block
    # a corrupt version MID-file is malformed (the file-level check
    # already proved this is a WARC); at file start it would be the
    # capability limit tested above
    two = bytearray(_warc_bytes([("resource", "u://x", b"abc")] * 2))
    two[len(good) : len(good) + 5] = b"WARX/"
    for payload, msg in [
        (no_len, "no.*Content-Length|Content-Length"),
        (short, "truncated WARC"),
        (bytes(two), "version line"),
    ]:
        d = spark.createDataFrame(
            [(1, payload)], "file_id long, payload binary"
        )
        with pytest.raises(Exception, match=msg):
            warc_parse(d, on_unsupported="null").collect()


def test_robots_rules_and_filter(spark):
    """Grouping per RFC 9309: a run of User-agent lines shares one
    rule block ('a' + '*' in one group applies); non-star groups are
    ignored; longest prefix wins and Allow beats Disallow on ties;
    CRLF and comments are tolerated; unmatched URLs and unknown
    hosts default to allowed."""
    from geist_spark.operators.web import robots_filter, robots_rules

    body = (
        "User-agent: a\r\n"
        "User-agent: *\r\n"
        "Allow: /dir/page\r\n"      # same length as the disallow below
        "Disallow: /dir/page\r\n"   # tie -> Allow wins
        "Disallow: /x # trailing comment\r\n"
        "\r\n"
        "UsEr-AgEnT: greedy\r\n"
        "Disallow: /\r\n"
    )
    robots = spark.createDataFrame(
        [("h.com", body)], "host string, robots_txt string"
    )
    rules = robots_rules(robots)
    got = {(r["rule_type"], r["prefix"]) for r in rules.collect()}
    assert got == {
        ("allow", "/dir/page"), ("disallow", "/dir/page"),
        ("disallow", "/x"),
    }
    urls = spark.createDataFrame(
        [
            (1, "http://h.com/dir/page/sub"),   # tie -> allow
            (2, "http://h.com/x/deep"),          # disallow /x
            (3, "http://h.com/free"),            # no match
            (4, "http://other.com/x"),           # unknown host
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in robots_filter(urls, rules).collect()}
    assert out[1]["allowed"] is True and out[1]["rule"] == "/dir/page"
    assert out[2]["allowed"] is False and out[2]["rule"] == "/x"
    assert out[3]["allowed"] is True and out[3]["rule"] is None
    assert out[4]["allowed"] is True


def test_robots_wildcard_rules(spark):
    """RFC 9309 wildcards: '*' matches any octet run, a trailing '$'
    anchors end-of-path ('$' elsewhere and regex metachars in rules
    are literal); specificity counts the rule's full octet length so
    a long wildcard rule can beat a short plain prefix."""
    from geist_spark.operators.web import robots_filter, robots_rules

    body = (
        "User-agent: *\n"
        "Disallow: /a*z\n"
        "Disallow: *.pdf$\n"
        "Allow: /download/*.pdf$\n"
        "Disallow: /lit.$x\n"     # '$' not at end: literal
        "Disallow: /dot.html\n"   # '.' literal in plain rules too
    )
    robots = spark.createDataFrame(
        [("h.com", body)], "host string, robots_txt string"
    )
    rules = robots_rules(robots)
    by_prefix = {r["prefix"]: r for r in rules.collect()}
    assert by_prefix["/a*z"]["has_wild"]
    assert by_prefix["/a*z"]["pattern"] == "^/a.*z"
    assert by_prefix["*.pdf$"]["pattern"] == "^.*\\.pdf$"
    assert not by_prefix["/dot.html"]["has_wild"]
    assert by_prefix["/lit.$x"]["has_wild"] is False  # literal '$'
    urls = spark.createDataFrame(
        [
            (1, "http://h.com/abcz"),              # /a*z
            (2, "http://h.com/abcz-more"),         # unanchored: matches
            (3, "http://h.com/doc/file.pdf"),      # *.pdf$
            (4, "http://h.com/doc/file.pdf.html"), # anchor: no match
            (5, "http://h.com/download/x.pdf"),    # longer Allow wins
            (6, "http://h.com/dot.html"),
            (7, "http://h.com/dotXhtml"),          # '.' literal: no match
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in robots_filter(urls, rules).collect()}
    assert out[1]["allowed"] is False and out[1]["rule"] == "/a*z"
    assert out[2]["allowed"] is False
    assert out[3]["allowed"] is False and out[3]["rule"] == "*.pdf$"
    assert out[4]["allowed"] is True and out[4]["rule"] is None
    assert out[5]["allowed"] is True
    assert out[5]["rule"] == "/download/*.pdf$"
    assert out[6]["allowed"] is False and out[6]["rule"] == "/dot.html"
    assert out[7]["allowed"] is True


def test_html_extract_vertical_tab_ws(spark):
    """Whitespace collapse uses the explicit ASCII class (Java \\s
    includes \\x0B, RE2's does not — the class keeps engine and
    oracle identical)."""
    from geist_spark.operators.web import html_extract

    df = spark.createDataFrame(
        [(1, "<p>a\x0b\x0bb\tc</p>")], "doc_id long, html string"
    )
    assert html_extract(df).collect()[0]["text"] == "a b c"


def test_warc_gzip_bomb_bounded(spark):
    """A gzip-transport WARC that inflates past max_bytes raises the
    typed malformed error instead of materializing the bomb."""
    import gzip

    import pytest

    from geist_spark.operators.web import warc_parse

    bomb = gzip.compress(b"WARC/1.0\r\n" + b"\x00" * 10_000_000)
    df = spark.createDataFrame([(1, bomb)], "file_id long, payload binary")
    with pytest.raises(Exception, match="max_bytes=1024"):
        warc_parse(df, max_bytes=1024).collect()


def test_decode_text_detection_tiers(spark):
    """Charset sniff precedence (BOM > header > meta > utf-8 probe >
    cp1252 fallback), WHATWG label remaps (iso-8859-1 -> cp1252,
    gb2312 -> gbk), BOM stripping, and n_replacements counting the
    cp1252 holes."""
    from geist_spark.operators.web import decode_text

    rows = [
        # BOM beats a contradicting header (WHATWG)
        (0, b"\xff\xfe" + "hi Ω".encode("utf-16-le"),
         "text/html; charset=shift_jis"),
        (1, b"\xef\xbb\xbf" + "ok ✓".encode(), None),
        (2, "привет".encode("cp1251"), "text/html; charset=windows-1251"),
        # iso-8859-1 label remaps to cp1252: 0x93/0x94 are smart quotes
        (3, b"q \x93x\x94", "text/plain; charset=ISO-8859-1"),
        # header beats meta
        (4, '<meta charset="utf-8">привет'.encode("cp1251"),
         "text/html; charset=cp1251"),
        (5, ('<meta charset="shift_jis">' + "こん").encode("shift_jis"),
         None),
        (6, ("<meta http-equiv=\"Content-Type\" content=\"text/html; "
             "charset=gb2312\">你好").encode("gbk"), None),
        (7, "plain café".encode(), None),          # strict utf-8 OK
        (8, b"caf\xe9", None),                     # fallback cp1252
        (9, b"hole \x81 here", None),              # cp1252 hole -> U+FFFD
        (10, None, None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, body binary, content_type string"
    )
    out = {r["doc_id"]: r for r in
           decode_text(df, content_type_col="content_type").collect()}
    assert (out[0]["text"], out[0]["charset"], out[0]["charset_source"]) == (
        "hi Ω", "utf-16-le", "bom")
    assert (out[1]["text"], out[1]["charset_source"]) == ("ok ✓", "bom")
    assert (out[2]["text"], out[2]["charset"], out[2]["charset_source"]) == (
        "привет", "windows-1251", "header")
    assert (out[3]["text"], out[3]["charset"]) == ("q “x”",
                                                   "windows-1252")
    assert (out[4]["text"], out[4]["charset_source"]) == (
        '<meta charset="utf-8">привет', "header")
    assert (out[5]["text"], out[5]["charset"], out[5]["charset_source"]) == (
        '<meta charset="shift_jis">こん', "shift_jis", "meta")
    assert (out[6]["charset"], out[6]["charset_source"]) == ("gbk", "meta")
    assert out[6]["text"].endswith("你好")
    assert (out[7]["text"], out[7]["charset"], out[7]["charset_source"]) == (
        "plain café", "utf-8", "default")
    assert (out[8]["text"], out[8]["charset"], out[8]["charset_source"]) == (
        "café", "windows-1252", "fallback")
    assert out[9]["n_replacements"] == 1 and "�" in out[9]["text"]
    assert all(out[i]["n_replacements"] == 0 for i in range(9))
    assert out[10]["text"] is None and out[10]["charset"] is None


def test_decode_text_capability_and_sniff_window(spark):
    """Unknown / WHATWG-forbidden / non-text charset labels are typed
    capability limits (named raise or NULL row); a meta tag past the
    sniff window is ignored (falls to the utf-8 probe)."""
    import pytest

    from geist_spark.operators.web import decode_text

    for label in ("klingon-8", "utf-7", "base64"):
        df = spark.createDataFrame(
            [(1, b"x", f"text/html; charset={label}")],
            "doc_id long, body binary, content_type string",
        )
        with pytest.raises(Exception, match="doc_id=1"):
            decode_text(df, content_type_col="content_type").collect()
        row = decode_text(
            df, content_type_col="content_type", on_unsupported="null"
        ).collect()[0]
        assert row["text"] is None and row["charset"] is None

    far = b" " * 2000 + b'<meta charset="cp1251">'
    df = spark.createDataFrame([(1, far)], "doc_id long, body binary")
    row = decode_text(df, sniff_bytes=1024).collect()[0]
    assert (row["charset"], row["charset_source"]) == ("utf-8", "default")
    row = decode_text(df, sniff_bytes=4096).collect()[0]
    assert (row["charset"], row["charset_source"]) == ("windows-1251",
                                                       "meta")
    with pytest.raises(ValueError, match="on_unsupported"):
        decode_text(df, on_unsupported="bogus")
    with pytest.raises(ValueError, match="sniff_bytes"):
        decode_text(df, sniff_bytes=0)


def test_decode_text_chains_on_warc(spark):
    """End-to-end crawl bridge: warc_parse surfaces the HTTP
    Content-Type header and decode_text consumes it — a cp1251 page
    round-trips through the WARC container to its true text."""
    from geist_spark.operators.web import decode_text, warc_parse

    page = "Русский текст".encode("cp1251")
    http = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=windows-1251\r\n\r\n"
            + page)
    df = spark.createDataFrame(
        [(1, _warc_bytes([("response", "http://a.ru/x", http)]))],
        "file_id long, payload binary",
    )
    recs = warc_parse(df)
    out = decode_text(
        recs, id_col="file_id", content_type_col="http_content_type"
    ).collect()[0]
    assert out["text"] == "Русский текст"
    assert out["charset"] == "windows-1251"
    assert out["charset_source"] == "header"


def test_meta_utf16_label_remaps_to_utf8(spark):
    """WHATWG 'get an encoding': a META-declared UTF-16 family label is
    remapped to UTF-8 (the ASCII prescan only proves ASCII-compatible
    bytes — a literal utf-16 decode of the whole body is mojibake).
    Header-declared UTF-16 stays literal."""
    from geist_spark.operators.web import decode_text

    rows = [
        (1, '<meta charset="utf-16">déjà vu ✓'.encode(), None),
        (2, '<meta charset="UTF-16LE">ok €'.encode(), None),
        # header-declared utf-16le decodes literally
        (3, "hi Ω".encode("utf-16-le"), "text/html; charset=utf-16le"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, body binary, content_type string"
    )
    out = {r["doc_id"]: r for r in
           decode_text(df, content_type_col="content_type").collect()}
    assert (out[1]["charset"], out[1]["charset_source"]) == ("utf-8", "meta")
    assert "déjà vu ✓" in out[1]["text"]
    assert out[1]["n_replacements"] == 0
    assert (out[2]["charset"], out[2]["charset_source"]) == ("utf-8", "meta")
    assert out[2]["text"].endswith("ok €")
    assert (out[3]["text"], out[3]["charset_source"]) == ("hi Ω", "header")


def test_mislabel_sniff_rules(spark):
    """Content-based charset sniff (charset_source='sniff'): declared
    labels that are provably wrong get re-decoded; low-confidence
    cases keep the declared result. Negatives pin the false-positive
    guards: French cp1252 accents never look like Cyrillic letter
    runs, Japanese kana beats the GBK han check, a lone ESC without a
    valid ISO-2022 decode stays put."""
    from geist_spark.operators.web import decode_text

    rows = [
        # header latin1, actually multi-byte utf-8 -> sniff utf-8
        (1, "déjà vu naïve".encode("utf-8"),
         "text/html; charset=iso-8859-1"),
        # header utf-8, actually GBK -> sniff gbk
        (2, "前言 中文网页内容".encode("gbk"),
         "text/html; charset=utf-8"),
        # undeclared shift_jis (kana) -> sniff shift_jis, NOT gbk
        (3, "これはテストです".encode("shift_jis"), None),
        # undeclared iso-2022-jp (ESC $ B) -> sniff
        (4, "日本語テキスト".encode("iso-2022-jp"), None),
        # undeclared cp1251 Cyrillic letter runs -> sniff
        (5, "привет как дела хорошо".encode("cp1251"), None),
        # NEGATIVE: French under the cp1252 fallback stays fallback
        # (isolated accents: no Cyrillic runs, <16 high bytes)
        (6, "le caf\xe9 d\xe9j\xe0 pr\xe8s na\xefve".encode("cp1252"),
         None),
        # NEGATIVE: declared legacy label with non-utf-8 bytes keeps
        # the declaration (no confidence signal)
        (7, "привет".encode("cp1251"),
         "text/html; charset=windows-1251"),
        # NEGATIVE: a stray ESC that is not valid ISO-2022 -> no sniff
        (8, b"x \x1b$B\xff\xff broken", None),
        # NEGATIVE: header utf-16-be whose surrogate pair D8 9B DE 80
        # also strict-decodes as utf-8 keeps the declaration
        (9, "\U00036e80".encode("utf-16-be"),
         "text/plain; charset=utf-16-be"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, body binary, content_type string"
    )
    out = {r["doc_id"]: r for r in
           decode_text(df, content_type_col="content_type").collect()}
    assert (out[1]["text"], out[1]["charset"], out[1]["charset_source"]) \
        == ("déjà vu naïve", "utf-8", "sniff")
    assert (out[2]["text"], out[2]["charset"], out[2]["charset_source"]) \
        == ("前言 中文网页内容", "gbk", "sniff")
    assert (out[3]["text"], out[3]["charset"], out[3]["charset_source"]) \
        == ("これはテストです", "shift_jis", "sniff")
    assert (out[4]["text"], out[4]["charset"], out[4]["charset_source"]) \
        == ("日本語テキスト", "iso-2022-jp", "sniff")
    assert (out[5]["text"], out[5]["charset"], out[5]["charset_source"]) \
        == ("привет как дела хорошо", "windows-1251", "sniff")
    assert out[6]["charset_source"] == "fallback"
    assert out[6]["charset"] == "windows-1252"
    assert out[7]["charset_source"] == "header"
    assert out[8]["charset_source"] == "fallback"
    assert (out[9]["text"], out[9]["charset_source"]) \
        == ("\U00036e80", "header")
    assert all(out[i]["n_replacements"] == 0 for i in (1, 2, 3, 4, 5, 6, 7))


def test_sitemap_parse(spark):
    from geist_spark.operators.web import sitemap_parse

    urlset = (
        '<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/'
        'schemas/sitemap/0.9">'
        "<url><loc>http://a/?x=1&amp;y=2</loc><lastmod>2026-01-01"
        "</lastmod><changefreq>weekly</changefreq>"
        "<priority>0.5</priority></url>"
        "<url><loc>\n  http://a/b&amp;amp;c \n</loc>"
        "<priority>top</priority></url></urlset>"
    )
    index = (
        "<sitemapindex><sitemap><loc>http://a/s1.xml</loc>"
        "</sitemap></sitemapindex>"
    )
    rows = sitemap_parse(
        spark.createDataFrame(
            [(1, urlset), (2, index), (3, "<html>nope</html>")],
            "file_id long, xml string",
        )
    ).collect()
    got = {(r["file_id"], r["ord"]): r for r in rows}
    assert len(rows) == 3  # HTML file contributes nothing
    r11 = got[(1, 1)]
    assert (r11["kind"], r11["loc"], r11["lastmod"], r11["changefreq"],
            r11["priority"]) == (
        "urlset", "http://a/?x=1&y=2", "2026-01-01", "weekly", 0.5)
    r12 = got[(1, 2)]
    # trimmed loc, single-pass entity decode, non-numeric priority
    assert r12["loc"] == "http://a/b&amp;c"
    assert r12["priority"] is None and r12["lastmod"] is None
    assert got[(2, 1)]["kind"] == "index"


def test_surt_key_and_cdx_parse(spark):
    from pyspark.sql import functions as F

    from geist_spark.operators.web import cdx_parse, surt_key

    urls = [
        ("HTTP://WWW.Example.COM:80/A/B/?z=1&a=2#frag",
         "com,example)/a/b?a=2&z=1"),
        ("https://www3.Sub.Host.org:8443/", "org,host,sub:8443)/"),
        ("http://plain.net/x//", "net,plain)/x"),
        ("no-scheme", None),
    ]
    got = spark.createDataFrame(
        [(u,) for u, _ in urls], "url string"
    ).select(surt_key(F.col("url")).alias("k")).collect()
    assert [r["k"] for r in got] == [e for _, e in urls]

    line = (
        'com,example)/ 20260101120000 {"url": "http://example.com/", '
        '"mime": "text/html", "status": "301", "length": "77", '
        '"offset": "5", "filename": "f.warc.gz", '
        '"redirect": "http://example.com/new"}'
    )
    rows = cdx_parse(spark.createDataFrame(
        [(line,), ("# not cdx",)], "line string"
    )).collect()
    ok = [r for r in rows if r["urlkey"] is not None]
    assert len(ok) == 1 and len(rows) == 2
    r = ok[0]
    assert (r["status"], r["length"], r["offset"]) == (301, 77, 5)
    assert r["ts"].year == 2026 and r["mime"] == "text/html"


def test_page_metadata(spark):
    from geist_spark.operators.web import page_metadata

    html = (
        '<html><head><meta property="og:title" content="T &amp; co"/>'
        '<meta content="D1" property="og:description"/>'
        '<link rel="canonical" href="http://c/x"/>'
        '<meta name="description" content="plain"/>'
        '<script type="application/ld+json">{"@type":"Article"}'
        "</script></head><body/></html>"
    )
    rows = page_metadata(
        spark.createDataFrame(
            [(1, html), (2, "<p>none</p>")], "doc_id long, html string"
        )
    ).collect()
    got = {r["doc_id"]: r for r in rows}
    r = got[1]
    # both attribute orders parsed; entity decoded; first JSON-LD type
    assert (r["og_title"], r["og_description"], r["canonical"],
            r["meta_description"], r["jsonld_type"], r["n_jsonld"]) == (
        "T & co", "D1", "http://c/x", "plain", "Article", 1)
    assert got[2]["og_title"] is None and got[2]["n_jsonld"] == 0
