"""Web-corpus operators: URL canonicalization, host-grain stats,
URL-level dedup, HTML text extraction, and WARC record parsing.

A crawl-derived training corpus keys on URLs: the same page arrives
under `HTTP://Host.com:80/a/?utm_source=feed#top` and
`http://host.com/a` and must count once; per-host aggregates drive
crawl budgeting and domain blocklists. The reference engine stops at
event transforms (SURVEY §2.3-2.6); these extend the same
spec-and-codegen discipline to the web-corpus surface.

All pure JVM column expressions (regexp_extract / split / array_sort —
RFC 3986 component grammar), zero Python, zero shuffles for the
normalizer itself: at 100 TB URL canonicalization is a free rider on
the scan. Host stats are one partial-agg shuffle at host grain; URL
dedup is the top-1-per-key window shape on the normalized URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from geist_spark.operators.records import payload_stage

# RFC 3986 component extraction (scheme://authority/path?query#fragment)
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
# query starts at the FIRST '?' before any '#' (RFC 3986) — the
# pre-'?' span must exclude '?' itself or greedy matching would anchor
# on the last one
_QUERY_RE = r"^[^#?]*\?([^#]*)"

# tracking params dropped by normalization (prefix match for utm_*).
# 'ref' is deliberately NOT in the default list: it is a common
# FUNCTIONAL parameter (branch selectors on code hosts, referrer-keyed
# landing pages) and dropping it conflates genuinely distinct pages —
# callers who know their corpus uses it for tracking pass it in
# explicitly via tracking_exact.
TRACKING_PREFIXES = ("utm_",)
TRACKING_EXACT = ("fbclid", "gclid", "msclkid")


# host inside an authority: bracketed IPv6 literal or everything up to
# the port colon, with optional userinfo stripped
_HOST_RE = r"^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)"


def url_host(url: F.Column) -> F.Column:
    """Lower-cased host (authority minus port/userinfo; bracketed IPv6
    literals kept whole)."""
    auth = F.regexp_extract(url, _AUTH_RE, 1)
    return F.lower(F.regexp_extract(auth, _HOST_RE, 1))


def normalize_url(
    url: F.Column,
    tracking_exact: tuple[str, ...] = TRACKING_EXACT,
    tracking_prefixes: tuple[str, ...] = TRACKING_PREFIXES,
) -> F.Column:
    """Canonical URL: lower-cased scheme+host, default port stripped
    (http:80 / https:443), fragment dropped, tracking query params
    (default utm_*, fbclid, gclid, msclkid — both sets overridable)
    removed and the remainder sorted, trailing path slashes collapsed
    ('' -> '/').

    One pure-codegen projection — the whole normalizer inlines into
    the scan stage; nothing here costs a shuffle or a UDF.
    """
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    auth = F.regexp_extract(url, _AUTH_RE, 1)
    host = F.lower(F.regexp_extract(auth, _HOST_RE, 1))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))

    raw_path = F.regexp_extract(url, _PATH_RE, 1)
    path = F.regexp_replace(raw_path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)

    rawq = F.regexp_extract(url, _QUERY_RE, 1)
    def _keep(p: F.Column) -> F.Column:
        name = F.regexp_extract(p, r"^([^=]*)", 1)
        cond = p != ""
        if tracking_exact:
            cond = cond & ~name.isin(*tracking_exact)
        for pref in tracking_prefixes:
            cond = cond & ~name.startswith(pref)
        return cond

    keep = F.filter(F.split(rawq, "&"), _keep)
    q = F.array_join(F.array_sort(keep), "&")
    q_part = F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q))

    # a string with no scheme://authority is not a URL -> NULL, not ':///'
    return F.when(
        scheme == "", F.lit(None).cast("string")
    ).otherwise(F.concat(scheme, F.lit("://"), host, port_part, path, q_part))


def host_stats(documents: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host crawl census over normalized URLs: docs, distinct
    canonical URLs (the true page count once tracking-param and case
    noise is removed), distinct paths, total chars.

    ONE partial-agg shuffle at host grain (normalization itself is
    map-side). At 100 TB hosts are the natural skew axis — a mega-host
    is exactly what AQE skew-split handles on the agg exchange; the
    output is hosts-sized (metadata grain).
    """
    u = F.col(url_col)
    norm = normalize_url(u)
    return (
        documents.select(
            url_host(u).alias("host"),
            norm.alias("url_norm"),
            F.regexp_extract(norm, _PATH_RE, 1).alias("path"),
            F.length("text").alias("chars"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url_norm").alias("n_urls"),
            F.countDistinct("path").alias("n_paths"),
            F.sum("chars").alias("total_chars"),
        )
    )


def url_dedup(
    documents: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    tracking_exact: tuple[str, ...] = TRACKING_EXACT,
    tracking_prefixes: tuple[str, ...] = TRACKING_PREFIXES,
) -> DataFrame:
    """URL-level dedup: one survivor per normalized URL (lowest id —
    deterministic; swap the ordering for recency when a fetch
    timestamp exists). Returns (id, url_norm, keep).

    Top-1-per-key window on url_norm: one hash shuffle at canonical-URL
    grain, partition-local sort — the maxVersions/latest-per-key shape
    (SURVEY §2.2) applied at the web-corpus grain. Never a self-join.

    Docs whose URL does not parse (url_norm NULL) are NOT duplicates of
    each other — they all keep, and they are EXCLUDED from the window
    input (not merely exempted from its verdict): a NULL key would
    hash every unparseable doc onto one window partition and sort them
    all on a single task — the hot-key hazard — for row numbers the
    filter would ignore anyway.
    """
    norm = normalize_url(F.col(url_col), tracking_exact, tracking_prefixes)
    base = documents.select(F.col(id_col), norm.alias("url_norm"))
    w = Window.partitionBy("url_norm").orderBy(F.col(id_col).asc())
    parsed = (
        base.filter(F.col("url_norm").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .select(id_col, "url_norm", (F.col("rn") == 1).alias("keep"))
    )
    unparsed = base.filter(F.col("url_norm").isNull()).select(
        id_col, "url_norm", F.lit(True).alias("keep")
    )
    return parsed.unionByName(unparsed)


# entity decode order matters: '&amp;' LAST so '&amp;lt;' decodes to
# the literal '&lt;' the author wrote, not '<' (the standard single-
# pass rule). Literal replace(), not regex — JVM and DuckDB agree.
_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

# portable regexes: no backreferences (RE2/DuckDB has none), no
# lookaround — every pattern below runs IDENTICALLY under Java regex
# (Spark, codegen'd) and RE2 (DuckDB oracle), which is what makes
# w_html_extract hash-replayable. \s is NOT portable (Java includes
# \x0B, RE2 does not), so whitespace collapse uses the explicit
# ASCII class _WS on both sides.
_WS = r"[ \t\n\x0B\f\r]+"
_RE_SCRIPT = r"(?is)<script[^>]*>.*?</script>"
_RE_STYLE = r"(?is)<style[^>]*>.*?</style>"
_RE_COMMENT = r"(?s)<!--.*?-->"
_RE_TAG = r"<[^>]+>"
_RE_TITLE = r"(?is)<title[^>]*>(.*?)</title>"
_RE_ANCHOR = r"(?i)<a[\s>]"
# head section is metadata, not text (title is extracted separately).
# '(\s[^>]*)?' keeps '<header>' (an HTML5 CONTENT tag) out of the
# match; '</head>' needs its literal '>' so '</header>' can't close it
_RE_HEAD = r"(?is)<head(\s[^>]*)?>.*?</head>"


def html_extract(
    documents: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """HTML -> training text: drop script/style/comments, strip tags,
    decode the common entities, collapse whitespace; plus the
    boilerplate signals a crawl pipeline filters on (title, anchor
    count, extracted-text length).

    Spark-first by construction: the whole extraction is a chain of
    JVM `regexp_replace`/`replace` column expressions — zero Python,
    zero shuffle, whole-stage codegen'd, a free rider on the scan at
    100 TB (contrast: trafilatura-style DOM parsing would be an
    Arrow-Python stage ~100x the cost; this is the
    90%-of-the-benefit/free-tier pass, and the per-doc signals let a
    later pass route only low-confidence pages through a real DOM
    parser). Returns (id, title, text, n_anchors, text_len).

    Semantics pinned by the w_html_extract oracle: every pattern used
    here is RE2-compatible (no backrefs/lookaround) so DuckDB replays
    the byte-exact same pipeline.
    """
    raw = F.col(html_col)
    stripped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(raw, _RE_HEAD, " "), _RE_SCRIPT, " "
            ),
            _RE_STYLE,
            " ",
        ),
        _RE_COMMENT,
        " ",
    )
    text = F.regexp_replace(stripped, _RE_TAG, " ")
    for ent, ch in _HTML_ENTITIES:
        text = F.replace(text, F.lit(ent), F.lit(ch))
    text = F.trim(F.regexp_replace(text, _WS, " "))
    title = F.trim(
        F.regexp_replace(F.regexp_extract(raw, _RE_TITLE, 1), _WS, " ")
    )
    return documents.select(
        F.col(id_col),
        title.alias("title"),
        text.alias("text"),
        # count on the STRIPPED doc: anchors inside scripts/comments
        # are string/ghost noise, not links
        F.regexp_count(stripped, F.lit(_RE_ANCHOR)).alias("n_anchors"),
        F.length(text).alias("text_len"),
    )


WARC_SCHEMA_DDL = (
    "file_id long, rec_idx int, warc_type string, target_uri string, "
    "warc_date string, content_length long, http_status int, "
    "http_content_type string, body binary, body_len long"
)


def _warc_records(b: bytes, max_bytes: int):
    """Iterate (idx, headers, block) over a WARC file's records.
    Handles gzip transport (per-record gzip members concatenated —
    the CommonCrawl layout — via stdlib zlib, all members inflated,
    BOUNDED at max_bytes total: a gzip bomb raises the typed
    malformed error, never OOMs the executor — the same rule as
    prep.decompress_text and the PNG IDAT bound). WARC grammar (ISO
    28500): 'WARC/x.y' version line, 'Name: value' headers, CRLF
    CRLF, Content-Length block bytes, CRLF CRLF."""
    import zlib

    if b[:4] == b"\x28\xb5\x2f\xfd" or (
        len(b) >= 4 and b[1:4] == b"\x2a\x4d\x18" and 0x50 <= b[0] <= 0x5F
    ):
        # zstd transport (the CommonCrawl .warc.zst layout: concatenated
        # frames, optional seek-index/dictionary skippable frames) via
        # pyarrow's libzstd; same max_bytes bound as the gzip path.
        # Dictionary-keyed frames surface the decoder's typed
        # NotImplementedError (capability limit).
        from geist_spark.operators.lzcodecs import zstd_decompress

        b = zstd_decompress(bytes(b), max_bytes=max_bytes)
    elif b[:2] == b"\x1f\x8b":
        parts, data, budget = [], bytes(b), max_bytes
        while data:
            d = zlib.decompressobj(wbits=31)
            try:
                chunk = d.decompress(data, budget + 1)
            except zlib.error as exc:
                raise ValueError(f"malformed WARC gzip member: {exc}") from None
            parts.append(chunk)
            budget -= len(chunk)
            if budget < 0 or d.unconsumed_tail:
                raise ValueError(
                    f"WARC gzip transport inflates past "
                    f"max_bytes={max_bytes}"
                )
            if not d.eof:
                raise ValueError("truncated WARC gzip member")
            data = d.unused_data
        b = b"".join(parts)
    pos, idx = 0, 0
    n = len(b)
    while pos < n:
        while b[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not b[pos : pos + 5] == b"WARC/":
            raise ValueError(
                f"malformed WARC: record {idx} does not start with a "
                "WARC version line"
            )
        hdr_end = b.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"truncated WARC: record {idx} header block")
        lines = b[pos:hdr_end].decode("utf-8", errors="replace").split("\r\n")
        headers = {}
        for ln in lines[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        if "content-length" not in headers:
            raise ValueError(f"malformed WARC: record {idx} has no "
                             "Content-Length")
        try:
            clen = int(headers["content-length"])
        except ValueError:
            raise ValueError(
                f"malformed WARC: record {idx} Content-Length "
                f"{headers['content-length']!r}"
            ) from None
        if clen < 0:
            raise ValueError(f"malformed WARC: record {idx} negative "
                             "Content-Length")
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError(
                f"truncated WARC: record {idx} block needs {clen} bytes, "
                f"file has {n - body_start}"
            )
        yield idx, headers, b[body_start : body_start + clen]
        pos = body_start + clen
        idx += 1


def warc_parse(
    files: "DataFrame",
    on_unsupported: str = "error",
    max_bytes: int = 1024 * 1024 * 1024,
) -> "DataFrame":
    """WARC -> one row per record: (file_id, rec_idx, warc_type,
    target_uri, warc_date, content_length, http_status, body,
    body_len). For response/revisit records whose block is an HTTP
    message, the status line and headers are split off — http_status
    is the integer code and body the payload after the header CRLF
    CRLF; for other records body is the whole block. Plain,
    gzip-transport (concatenated members, stdlib zlib) and
    zstd-transport (.warc.zst, lzcodecs.zstd_decompress) WARCs.

    The CommonCrawl ingestion stage: the decoder family's one Arrow
    stage over (file_id, payload) — the record fan-out happens inside
    the stage, zero shuffle, partitioning preserved; at 100 TB the
    WARC paths list is the input table and this is the first pass
    after the object-store read. Two-tier errors (operators/records.py;
    a NULL payload or a limit under 'null' gives one NULL row): a
    payload that is neither WARC, gzip nor zstd and a dictionary zstd
    transport are capability limits; malformed or truncated WARC
    structure is malformed, and the gzip transport inflate is BOUNDED
    at max_bytes per file (default 1 GiB — a gzip bomb raises, never
    OOMs)."""
    if max_bytes <= 0:
        raise ValueError("max_bytes must be positive")

    def decode(b: bytes) -> list:
        is_zstd = b[:4] == b"\x28\xb5\x2f\xfd" or (
            len(b) >= 4
            and b[1:4] == b"\x2a\x4d\x18"
            and 0x50 <= b[0] <= 0x5F
        )
        if b[:5] != b"WARC/" and b[:2] != b"\x1f\x8b" and not is_zstd:
            raise NotImplementedError(
                "payload is neither WARC, gzip nor zstd (ARC / other "
                "archive formats unsupported)"
            )
        rows = []
        for idx, headers, block in _warc_records(b, max_bytes):
            status, ctype, body = None, None, block
            wtype = headers.get("warc-type")
            if wtype in ("response", "revisit") and block[:5] == b"HTTP/":
                split = block.find(b"\r\n\r\n")
                head_end = split if split >= 0 else len(block)
                hlines = block[:head_end].split(b"\r\n")
                parts = hlines[0].split(b" ")
                if len(parts) >= 2 and parts[1].isdigit():
                    status = int(parts[1])
                for hl in hlines[1:]:
                    if hl[:13].lower() == b"content-type:":
                        # charset param feeds decode_text's header tier
                        # downstream
                        ctype = hl[13:].strip().decode(
                            "utf-8", errors="replace"
                        )
                        break
                body = block[split + 4 :] if split >= 0 else b""
            rows.append((
                idx, wtype, headers.get("warc-target-uri"),
                headers.get("warc-date"), int(headers["content-length"]),
                status, ctype, body, len(body),
            ))
        return rows

    return payload_stage(
        files, decode, WARC_SCHEMA_DDL, on_unsupported, id_col="file_id"
    )


# WHATWG Encoding Standard label remaps (the subset real crawls hit):
# browsers decode iso-8859-1/latin1/ascii-labelled pages as
# windows-1252 and gb2312 as GBK; an engine that decodes them
# literally mojibakes the 0x80-0x9F smart-quote range on a huge
# fraction of legacy pages.
_WHATWG_CHARSET_REMAP = {
    "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252",
    "latin1": "windows-1252",
    "latin-1": "windows-1252",
    "l1": "windows-1252",
    "ascii": "windows-1252",
    "us-ascii": "windows-1252",
    "iso-8859-9": "windows-1254",
    "cp1251": "windows-1251",
    "x-cp1251": "windows-1251",
    "cp1252": "windows-1252",
    "x-cp1252": "windows-1252",
    "gb2312": "gbk",
    "gb_2312": "gbk",
    "gb_2312-80": "gbk",
    "csgb2312": "gbk",
    "utf8": "utf-8",
    "unicode-1-1-utf-8": "utf-8",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "x-sjis": "shift_jis",
}
# labels the WHATWG standard forbids or that have no byte-preserving
# text decode: typed capability limits, never silent garbage
_CHARSET_DENY = frozenset({"utf-7", "x-user-defined", "hz-gb-2312",
                           "replacement", "csiso2022kr"})

# BOM sniff table — longest first (utf-32-le's FF FE 00 00 prefixes
# utf-16-le's FF FE); a BOM outranks every declared charset (WHATWG)
_BOMS = (
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\xef\xbb\xbf", "utf-8"),
    (b"\xfe\xff", "utf-16-be"),
    (b"\xff\xfe", "utf-16-le"),
)

_RE_CT_CHARSET = r"""(?i)charset\s*=\s*["']?\s*([A-Za-z0-9._:\-]+)"""


def _charset_resolve(label: str) -> str:
    """WHATWG-normalize a charset label to the Python codec used for
    the decode. Unknown labels, forbidden labels, and non-text codecs
    (base64/hex/zlib live in the same registry) are CAPABILITY
    limits."""
    import codecs

    lab = label.strip().strip("\"'").lower()
    lab = _WHATWG_CHARSET_REMAP.get(lab, lab)
    if lab in _CHARSET_DENY:
        raise NotImplementedError(
            f"charset {label!r} unsupported (WHATWG-forbidden or "
            "non-byte-preserving)"
        )
    try:
        info = codecs.lookup(lab)
    except LookupError:
        raise NotImplementedError(
            f"unknown charset label {label!r}"
        ) from None
    if not info._is_text_encoding:
        raise NotImplementedError(
            f"charset label {label!r} names a non-text codec"
        )
    return lab


def _mislabel_sniff(
    b: bytes, text: str, cs: str, src: str
) -> tuple[str, str, str]:
    """Content-based confidence sniff applied AFTER the WHATWG
    declared chain: real crawls contain pages whose declared charset
    is simply wrong (declared utf-8, actually GBK; undeclared
    Shift-JIS landing in the cp1252 fallback; UTF-8 bytes under a
    legacy label). Each rule re-decodes only on a high-confidence,
    deterministic signal and reports charset_source='sniff';
    otherwise the declared result stands. Rules, in order:

      1. ISO-2022-JP: the escape sequences ESC $ B / ESC $ @ are
         definitive (they survive every ASCII-compatible decode) —
         re-decode iso-2022-jp when the full body strict-decodes.
      2. Actually-UTF-8: a header/meta label other than utf-8 over a
         body that STRICT-decodes as utf-8 with at least one
         multi-byte sequence. Valid multi-byte UTF-8 arising by
         accident in legacy bytes is statistically negligible — this
         is the classic 'cafÃ©' mojibake, reversed. A UTF-16/32
         label is exempt: those bytes are not ASCII-compatible, and
         a UTF-16 surrogate pair can strict-decode as UTF-8.
      3. For UNDECLARED non-UTF-8 bodies (the cp1252 fallback tier)
         and declared-utf-8 bodies that produced replacements:
         a) Shift-JIS when the body strict-decodes and yields >=4
            kana (Japanese running text always carries kana; Chinese
            text under shift_jis yields kanji, not kana),
         b) else GBK when the body strict-decodes and yields >=4
            CJK-unified chars,
         c) else windows-1251 when the high bytes are dense Cyrillic
            LETTER RUNS: >=16 bytes >=0x80, >=90% of them in
            0xC0-0xFF, and >=4 maximal runs of >=3 consecutive such
            bytes — French/German cp1252 accents are isolated
            between ASCII letters and never form letter runs, so
            this cannot misfire on real western-European text.

    Declared-but-wrong LEGACY labels (e.g. declared cp1252, actual
    GBK) stay as declared — without a declaration mismatch signal or
    a utf-8 validity proof there is no high-confidence correction."""
    import codecs

    if ("\x1b$B" in text or "\x1b$@" in text) and not cs.startswith(
        "iso-2022"
    ):
        try:
            return b.decode("iso-2022-jp"), "iso-2022-jp", "sniff"
        except (UnicodeDecodeError, ValueError):
            pass
    has_high = any(c >= 0x80 for c in b)
    if src in ("header", "meta") and cs not in ("utf-8", "utf8"):
        if has_high and not codecs.lookup(cs).name.startswith(
            ("utf-16", "utf-32")
        ):
            try:
                return b.decode("utf-8"), "utf-8", "sniff"
            except UnicodeDecodeError:
                pass
    in_fallback = src == "fallback"
    utf8_repl = (
        src in ("header", "meta")
        and cs in ("utf-8", "utf8")
        and "�" in text
    )
    if (in_fallback or utf8_repl) and has_high:
        for cand, lo, hi, need in (
            ("shift_jis", 0x3041, 0x30FF, 4),
            ("gbk", 0x4E00, 0x9FFF, 4),
        ):
            try:
                t2 = b.decode(cand)
            except (UnicodeDecodeError, ValueError):
                continue
            if sum(lo <= ord(ch) <= hi for ch in t2) >= need:
                return t2, cand, "sniff"
        high = [c for c in b if c >= 0x80]
        cyr = [c for c in high if c >= 0xC0]
        if len(high) >= 16 and len(cyr) >= 0.9 * len(high):
            runs = 0
            run_len = 0
            for c in b:
                if c >= 0xC0:
                    run_len += 1
                    if run_len == 3:
                        runs += 1
                else:
                    run_len = 0
            if runs >= 4:
                try:
                    return (
                        b.decode("windows-1251"),
                        "windows-1251",
                        "sniff",
                    )
                except UnicodeDecodeError:
                    pass
    return text, cs, src


def decode_text(
    records: DataFrame,
    body_col: str = "body",
    id_col: str = "doc_id",
    content_type_col: str | None = None,
    on_unsupported: str = "error",
    sniff_bytes: int = 1024,
) -> DataFrame:
    """Charset-aware bytes -> text for crawl bodies: the bridge
    between warc_parse (bytes + http_content_type) and html_extract
    (string). Detection precedence is the WHATWG Encoding sniff:

      1. BOM (utf-32/16/8, stripped from the output),
      2. `charset=` parameter of the HTTP Content-Type header
         (`content_type_col`, e.g. warc_parse's http_content_type),
      3. `<meta charset=..>` / `<meta http-equiv .. charset=..>`
         inside the first `sniff_bytes` bytes (browser prescan
         window, default 1024),
      4. strict UTF-8 probe -> charset='utf-8', source='default',
      5. windows-1252 fallback (the WHATWG legacy default),
         source='fallback',
      6. a content-based MISLABEL sniff on top of 2-5 (never over a
         BOM): ISO-2022-JP escape sequences, legacy-labeled bodies
         that strict-decode as multi-byte UTF-8, and
         undeclared/replacement-bearing bodies that are really
         Shift-JIS / GBK / windows-1251 — each re-decoded only on
         the high-confidence signals documented at _mislabel_sniff,
         reported as charset_source='sniff'.

    Labels are WHATWG-normalized (iso-8859-1/latin1/ascii ->
    windows-1252, gb2312 -> gbk) then decoded via stdlib codecs with
    errors='replace' — n_replacements counts U+FFFD in the output so
    a quality filter can drop mojibake rows. Dialect notes: Python's
    cp1252 leaves 5 holes (0x81 0x8D 0x8F 0x90 0x9D) that WHATWG maps
    to C1 controls — they surface as U+FFFD here and count as
    replacements. Unknown/forbidden charset labels are capability
    limits (operators/records.py's two-tier contract, 1:1 NULL
    shape); undecodable BYTES under a known charset are data, not
    errors — they become U+FFFD and a nonzero n_replacements, the
    browser behavior.

    Scale: the decoder family's one Arrow stage, zero shuffle,
    partitioning preserved — chains onto warc_parse's output in the
    same stage boundary at 100 TB. Returns (id, text, charset,
    charset_source, n_replacements).
    """
    import codecs
    import re

    if sniff_bytes <= 0:
        raise ValueError("sniff_bytes must be positive")

    ct_re = re.compile(_RE_CT_CHARSET)
    # the prescan assumes an ASCII-compatible stream (WHATWG does
    # too); bounded attr scan, no backtracking blowup
    meta_re = re.compile(
        rb"""(?is)<meta[^>]{0,512}?charset\s*=\s*["']?\s*"""
        rb"""([A-Za-z0-9._:\-]+)"""
    )
    out_ddl = (
        f"{id_col} long, text string, charset string, "
        "charset_source string, n_replacements int"
    )

    def declared(b: bytes, ctype) -> tuple:
        if ctype:
            m = ct_re.search(ctype)
            if m:
                cs = _charset_resolve(m.group(1))
                return b.decode(cs, errors="replace"), cs, "header"
        m = meta_re.search(b[:sniff_bytes])
        if m:
            cs = _charset_resolve(m.group(1).decode("ascii", "replace"))
            # WHATWG "get an encoding": a META-declared UTF-16 family
            # label is remapped to UTF-8 — the prescan only proves the
            # bytes are ASCII-compatible (a real UTF-16 page would have
            # hit the BOM tier), so decoding the whole body as UTF-16
            # would be mojibake. Header-declared UTF-16 stays literal.
            if codecs.lookup(cs).name in (
                "utf-16", "utf-16-le", "utf-16-be"
            ):
                cs = "utf-8"
            return b.decode(cs, errors="replace"), cs, "meta"
        try:
            return b.decode("utf-8"), "utf-8", "default"
        except UnicodeDecodeError:
            return (
                b.decode("windows-1252", errors="replace"),
                "windows-1252", "fallback",
            )

    def decode_one(b: bytes, ctype) -> tuple:
        for bom, name in _BOMS:
            if b.startswith(bom):
                # a BOM is definitive — no mislabel sniff
                return (
                    b[len(bom):].decode(name, errors="replace"),
                    name, "bom",
                )
        text, cs, src = declared(b, ctype)
        return _mislabel_sniff(b, text, cs, src)

    def decode(b: bytes, ctype=None) -> list:
        try:
            text, cs, src = decode_one(b, ctype)
        except NotImplementedError:
            raise NotImplementedError(
                "unsupported charset declaration"
            ) from None
        return [(text, cs, src, text.count("\ufffd"))]

    return payload_stage(
        records, decode, out_ddl, on_unsupported, in_col=body_col,
        id_col=id_col,
        extra_cols=() if content_type_col is None else (content_type_col,),
    )


def robots_rules(
    robots: DataFrame, host_col: str = "host", txt_col: str = "robots_txt"
) -> DataFrame:
    """Parse robots.txt bodies into match rules for the '*' agent:
    (host, rule_type 'allow'|'disallow', prefix = the raw rule value,
    prefix_len = its octet length — the RFC 9309 specificity metric —
    has_wild, pattern = an anchored regex for wildcard rules).

    Group semantics per RFC 9309: a group is a run of consecutive
    User-agent lines followed by its rules; a group applies here iff
    one of its agent lines is '*'. Expressed as windows over the
    exploded line order (lag marks group starts, a running sum
    assigns group ids, a group-partitioned max marks '*' groups) —
    all JVM, one window shuffle at (host) grain, robots corpora are
    hosts-sized metadata.

    Wildcards per RFC 9309 §2.2.3: '*' matches any octet sequence,
    a TRAILING '$' anchors end-of-path ('$' elsewhere is literal).
    Wildcard rules carry a JVM-built regex (specials escaped, '*' ->
    '.*', '^'-anchored); plain rules match by startswith (the fast
    path — robots_filter only pays per-row regex for rules that
    actually contain wildcards). Empty Disallow (allow-all) matches
    nothing by construction.
    """
    h = F.col(host_col)
    lines = robots.select(
        h.alias("host"),
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("idx", "raw"),
    )
    line = F.trim(F.regexp_replace(F.col("raw"), r"#.*$", ""))
    key = F.lower(F.regexp_extract(line, r"^([A-Za-z-]+)\s*:", 1))
    val = F.trim(F.regexp_extract(line, r"^[A-Za-z-]+\s*:\s*(.*)$", 1))
    parsed = lines.select(
        "host", "idx", key.alias("key"), val.alias("value")
    ).filter(F.col("key") != "")
    w = Window.partitionBy("host").orderBy("idx")
    is_ua = F.col("key") == "user-agent"
    prev_ua = F.lag(is_ua, 1, False).over(w)
    grouped = parsed.withColumn(
        "gid", F.sum((is_ua & ~prev_ua).cast("int")).over(w)
    )
    wg = Window.partitionBy("host", "gid")
    star = F.max(
        (is_ua & (F.col("value") == "*")).cast("int")
    ).over(wg)
    val = F.col("value")
    anchored = val.endswith("$")
    body = F.when(
        anchored, F.expr("substring(value, 1, length(value) - 1)")
    ).otherwise(val)
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    pattern = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    return (
        grouped.withColumn("star", star)
        .filter(
            (F.col("star") == 1)
            & F.col("key").isin("allow", "disallow")
            & (F.col("value") != "")
        )
        .select(
            "host",
            F.col("key").alias("rule_type"),
            val.alias("prefix"),
            F.length(val).alias("prefix_len"),
            val.rlike(r"[*]|\$$").alias("has_wild"),
            pattern.alias("pattern"),
        )
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply parsed robots rules to a URL table: (id, url, allowed,
    rule) where `rule` is the winning rule's raw value (NULL when no
    rule matched — allowed by default). Most-specific rule wins
    (longest value in octets, wildcards counted); at equal length
    Allow beats Disallow (RFC 9309 precedence). Wildcard rules match
    via their compiled regex, plain rules via startswith.

    ONE host-grain equi-join (rules side is hosts-sized — broadcast
    when it fits, AQE otherwise) + a top-1 window at URL grain over
    the MATCHING rules only. Non-matching URLs never enter the
    window (the url_dedup NULL-key rule: don't funnel the no-match
    majority through one partition)."""
    u = urls.select(
        F.col(id_col),
        F.col(url_col),
        url_host(F.col(url_col)).alias("host"),
        F.regexp_extract(F.col(url_col), _PATH_RE, 1).alias("path"),
    ).withColumn(
        "path", F.when(F.col("path") == "", "/").otherwise(F.col("path"))
    )
    joined = u.join(rules, "host").filter(
        F.when(
            F.col("has_wild"), F.expr("path rlike pattern")
        ).otherwise(F.col("path").startswith(F.col("prefix")))
    )
    wr = Window.partitionBy(id_col).orderBy(
        F.col("prefix_len").desc(),
        (F.col("rule_type") == "allow").desc(),
    )
    best = (
        joined.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col),
            (F.col("rule_type") == "allow").alias("_allowed"),
            F.col("prefix").alias("rule"),
        )
    )
    return urls.select(id_col, url_col).join(best, id_col, "left").select(
        F.col(id_col),
        F.col(url_col),
        F.coalesce(F.col("_allowed"), F.lit(True)).alias("allowed"),
        F.col("rule"),
    )


SITEMAP_SCHEMA_DDL = (
    "file_id long, kind string, ord int, loc string, lastmod string, "
    "changefreq string, priority double"
)

# '&amp;' LAST — the module's single-pass decode rule (see
# _HTML_ENTITIES above): '&amp;lt;' must yield the literal '&lt;'.
_SM_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&apos;", "'"), ("&amp;", "&"),
]


def _sm_field(b, tag: str):
    """<tag>...</tag> inner text of one entry block, edge-trimmed,
    NULL when absent (nullif on the empty extract)."""
    return F.nullif(
        F.trim(
            F.regexp_extract(
                b, r"(?s)<" + tag + r">\s*(.*?)\s*</" + tag + ">", 1
            )
        ),
        F.lit(""),
    )


def sitemap_parse(
    files: "DataFrame",
    xml_col: str = "xml",
    id_col: str = "file_id",
) -> "DataFrame":
    """Sitemap XML (sitemaps.org 0.9) -> one row per entry: urlset
    <url> rows and sitemapindex <sitemap> rows share one schema
    (file_id, kind 'urlset'|'index', ord 1-based document order, loc,
    lastmod, changefreq, priority). The URL-discovery companion to
    robots_txt: crawl frontiers at 100 TB start from exactly these
    two files.

    Pure JVM — regexp_extract_all block split + posexplode + per-field
    regexp_extract + an XML-entity replace chain on loc (the five
    predefined entities, which is all sitemap loc values may contain)
    — whole-stage codegen, no Python, no shuffle beyond the explode's
    row fan-out (none: posexplode is map-side). Dialect: payloads
    without a <urlset>/<sitemapindex> root produce ZERO rows (crawl
    listings point at many dead/HTML URLs; a typed per-row error tier
    would need a Python stage — the declarative trade is documented
    here); entries missing <loc> surface with loc NULL; priority
    casts non-numeric to NULL (ANSI off)."""
    x = F.col(xml_col)
    kind = (
        F.when(x.rlike("<sitemapindex[\\s>]"), F.lit("index"))
        .when(x.rlike("<urlset[\\s>]"), F.lit("urlset"))
    )
    blocks = F.regexp_extract_all(
        x, F.lit(r"(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>"), F.lit(1)
    )
    e = files.select(
        F.col(id_col).alias("file_id"),
        kind.alias("kind"),
        F.posexplode(blocks).alias("pos", "block"),
    )
    b = F.col("block")
    loc = _sm_field(b, "loc")
    for ent, ch in _SM_ENTITIES:
        loc = F.replace(loc, F.lit(ent), F.lit(ch))
    return e.select(
        "file_id",
        "kind",
        (F.col("pos") + 1).cast("int").alias("ord"),
        loc.alias("loc"),
        _sm_field(b, "lastmod").alias("lastmod"),
        _sm_field(b, "changefreq").alias("changefreq"),
        _sm_field(b, "priority").cast("double").alias("priority"),
    )


def surt_key(url: "F.Column") -> "F.Column":
    """SURT urlkey (the CommonCrawl cc-index sort key): lower-cased
    host with a leading www\\d* label stripped, labels REVERSED and
    comma-joined, non-default port kept as ':NNNN', then ')' + path
    (trailing slashes collapsed, '' -> '/') + '?' + alphabetically
    sorted query — all lower-cased, fragment dropped. Example:
    'HTTP://www.Example.com/A/b?z=1&a=2' ->
    'com,example)/a/b?a=2&z=1'. Unparseable URLs -> NULL.

    Pure codegen projection (the normalize_url shape): joining a
    crawl table against the cc index at 100 TB keys on exactly this
    transform, map-side."""
    lower = F.lower(url)
    scheme = F.regexp_extract(lower, _SCHEME_RE, 1)
    auth = F.regexp_extract(lower, _AUTH_RE, 1)
    host = F.regexp_extract(auth, _HOST_RE, 1)
    host = F.regexp_replace(host, r"^www\d*\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.regexp_extract(lower, _PATH_RE, 1), r"/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rawq = F.regexp_extract(lower, _QUERY_RE, 1)
    q = F.array_join(
        F.array_sort(F.filter(F.split(rawq, "&"), lambda p: p != "")),
        "&",
    )
    q_part = F.when(q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), q)
    )
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(
        F.concat(rev, port_part, F.lit(")"), path, q_part)
    )


CDX_SCHEMA_JSON = (
    "url string, mime string, `mime-detected` string, status string, "
    "digest string, length string, offset string, filename string, "
    "languages string, encoding string, redirect string"
)


def cdx_parse(
    lines: "DataFrame",
    line_col: str = "line",
    keep_cols: tuple = (),
) -> "DataFrame":
    """CommonCrawl CDXJ index lines -> typed columns: each line is
    '<urlkey> <14-digit timestamp> <JSON>' (the cc-index flat-file
    format). Splits the two head fields with one regex each, parses
    the JSON tail with from_json on a fixed all-string schema (the
    cc convention stores numbers as strings), and casts
    status/length/offset + the timestamp. Lines that are not CDXJ
    (comments, blank) yield NULL fields but keep their row — the
    caller filters on urlkey IS NOT NULL. Pure JVM, zero Python, one
    codegen projection."""
    line = F.col(line_col)
    m = F.regexp_extract(line, r"^(\S+) (\d{14}) (\{.*\})$", 1)
    urlkey = F.nullif(m, F.lit(""))
    ts = F.nullif(
        F.regexp_extract(line, r"^(\S+) (\d{14}) (\{.*\})$", 2),
        F.lit(""),
    )
    j = F.from_json(
        F.nullif(
            F.regexp_extract(line, r"^(\S+) (\d{14}) (\{.*\})$", 3),
            F.lit(""),
        ),
        CDX_SCHEMA_JSON,
    )
    return lines.select(
        *keep_cols,
        urlkey.alias("urlkey"),
        F.to_timestamp(ts, "yyyyMMddHHmmss").alias("ts"),
        j["url"].alias("url"),
        j["mime"].alias("mime"),
        j["mime-detected"].alias("mime_detected"),
        j["status"].cast("int").alias("status"),
        j["digest"].alias("digest"),
        j["length"].cast("long").alias("length"),
        j["offset"].cast("long").alias("offset"),
        j["filename"].alias("filename"),
        j["languages"].alias("languages"),
        j["encoding"].alias("encoding"),
    )


def _meta_content(html, attr: str, value: str) -> "F.Column":
    """content="..." of a <meta> tag matched by attr="value", in
    EITHER attribute order (both appear in real pages)."""
    a = F.regexp_extract(
        html,
        '<meta[^<>]*' + attr + '="' + value
        + '"[^<>]*content="([^"]*)"',
        1,
    )
    b = F.regexp_extract(
        html,
        '<meta[^<>]*content="([^"]*)"[^<>]*' + attr + '="' + value + '"',
        1,
    )
    return F.nullif(F.when(a != "", a).otherwise(b), F.lit(""))


def page_metadata(
    documents: "DataFrame", html_col: str = "html", id_col: str = "doc_id"
) -> "DataFrame":
    """Per-page crawl-enrichment metadata: OpenGraph title /
    description / image (either attribute order), <link
    rel="canonical"> href, <meta name="description">, the first
    JSON-LD @type and the JSON-LD block count (schema.org
    `application/ld+json` scripts) — the fields a corpus-curation
    pass filters and joins on before any heavy text extraction.

    Pure JVM regexp projections (portable Java/RE2 subset — the
    html_extract doctrine), entity-decoded through the module's
    single-pass chain; one codegen stage, no Python, no shuffle.
    Dialect: first match wins per field; JSON-LD @type is read with a
    portable regex, not a JSON parser, so it is the FIRST "@type"
    string in the first block (nested types need the document
    pipeline's real JSON stage)."""
    html = F.col(html_col)

    def decode(c):
        for ent, ch in _HTML_ENTITIES:
            c = F.replace(c, F.lit(ent), F.lit(ch))
        return c

    jsonld_blocks = F.regexp_extract_all(
        html,
        F.lit(r'(?s)<script[^<>]*type="application/ld\+json"[^<>]*>'
              r"(.*?)</script>"),
        F.lit(1),
    )
    first_block = F.element_at(jsonld_blocks, 1)
    jsonld_type = F.nullif(
        F.regexp_extract(first_block, r'"@type"[ \t]*:[ \t]*"([^"]*)"', 1),
        F.lit(""),
    )
    canonical = F.nullif(
        F.regexp_extract(
            html,
            '<link[^<>]*rel="canonical"[^<>]*href="([^"]*)"',
            1,
        ),
        F.lit(""),
    )
    return documents.select(
        F.col(id_col),
        decode(_meta_content(html, "property", "og:title"))
        .alias("og_title"),
        decode(_meta_content(html, "property", "og:description"))
        .alias("og_description"),
        _meta_content(html, "property", "og:image").alias("og_image"),
        canonical.alias("canonical"),
        decode(_meta_content(html, "name", "description"))
        .alias("meta_description"),
        jsonld_type.alias("jsonld_type"),
        F.size(jsonld_blocks).alias("n_jsonld"),
    )
