"""HTML boilerplate-strip query (north_rule: 'HTML boilerplate strip
... DOM heuristics' as data-plane operators).

Synthetic HTML pages are built deterministically from the `documents`
table IN BOTH ENGINES (the same construction trick as the parsing
queries' paths): entity-escaped body text wrapped in an article,
plus title/head/style/nav/footer boilerplate that must NOT survive.
The operator chain (drop boilerplate regions -> strip tags ->
unescape entities -> collapse whitespace, functions/html.py) is pure
codegen'd Column expressions — a 100 TB pass is one scan, no shuffle,
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.html import html_main_sql, html_main_text, html_title, html_title_sql
from ..session import load_table, spread
from . import register

_ESC_SQL = (
    "REPLACE(REPLACE(REPLACE(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
)
_HTML_SQL = (
    "'<html><head><title> Doc &quot;' || CAST(doc_id AS VARCHAR) || '&quot; </title>"
    "<style>p { color: red }</style></head><body>"
    "<NAV class=\"menu\">HOME | ABOUT | NAVJUNK</NAV>"
    "<article><p>' || " + _ESC_SQL + " || '</p></article>"
    "<footer>FOOTERJUNK &copy; 2026</footer></body></html>'"
)


def _html_col() -> F.Column:
    esc = F.replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    return F.concat(
        F.lit('<html><head><title> Doc &quot;'),
        F.col("doc_id").cast("string"),
        F.lit('&quot; </title><style>p { color: red }</style></head><body>'),
        F.lit('<NAV class="menu">HOME | ABOUT | NAVJUNK</NAV>'),
        F.lit("<article><p>"),
        esc,
        F.lit("</p></article><footer>FOOTERJUNK &copy; 2026</footer></body></html>"),
    )


@register(
    "html_main_content",
    f"""
    WITH pages AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents)
    SELECT doc_id,
           {html_title_sql("html")} AS title,
           {html_main_sql("html")} AS main_text
    FROM pages ORDER BY doc_id
    """,
    doc="HTML main-content extraction: case-insensitive wholesale "
    "removal of script/style/nav/header/footer/aside regions, tag "
    "strip, predefined-entity unescape (&amp; last), whitespace "
    "collapse, plus <title> extraction — all RE2-compatible codegen'd "
    "expressions mirrored verbatim in the oracle. The synthetic pages "
    "plant boilerplate text (NAVJUNK/FOOTERJUNK/CSS) that must vanish "
    "and entity-escaped body text that must round-trip exactly.",
    tags=("text", "extract"),
)
def html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    pages = d.select("doc_id", _html_col().alias("html"))
    return pages.select(
        "doc_id",
        html_title(F.col("html")).alias("title"),
        html_main_text(F.col("html")).alias("main_text"),
    ).orderBy("doc_id")


# --- PDF text extraction (north_rule: 'PDF/layout parse') -----------------

# In DuckDB's BLOB -> VARCHAR cast, a literal backslash byte renders as
# the four characters '\x5C', so the PDF string-escape prefix becomes
# that sequence. The content grammar below admits escaped parens /
# escaped backslash / any non-paren char; unescape replaces the
# rendered forms. (Covered-shape note: fixture text is printable ASCII,
# so no other bytes render escaped inside the show strings.)
_PDF_CONTENT = r"(?:\\x5C\(|\\x5C\)|\\x5C\\x5C|[^()])*"
_PDF_SHOW_RE = r"\((" + _PDF_CONTENT + r")\) Tj"


def _pdf_oracle(path: str) -> str:
    unesc = "array_to_string(regexp_extract_all(s, '{re}', 1), ' ')".format(re=_PDF_SHOW_RE)
    unesc = f"REPLACE({unesc}, '\\x5C(', '(')"
    unesc = f"REPLACE({unesc}, '\\x5C)', ')')"
    unesc = f"REPLACE({unesc}, '\\x5C\\x5C', '\\')"
    return f"""
    WITH p AS (
      SELECT doc_id, CAST(pdf_bytes AS VARCHAR) AS s
      FROM read_parquet('{path}')
    )
    SELECT doc_id, {unesc} AS text,
           CAST(regexp_extract(s, '/Count ([0-9]+)', 1) AS INTEGER) AS n_pages
    FROM p ORDER BY doc_id
    """


from ..fixtures.shared import pdf_fixture_path  # noqa: E402

_PDF_PARQUET = pdf_fixture_path()


@register(
    "pdf_extract_text",
    _pdf_oracle(_PDF_PARQUET),
    doc="PDF text extraction over minimal uncompressed PDFs (fixture-"
    "generated, shared parquet): the Spark side walks content streams "
    "and show operators with real escape handling in one mapInPandas "
    "scan (fixtures/pdf.py:extract_pdf_text; FlateDecode explicitly "
    "gated); the oracle recovers the same '(...) Tj' strings by regexp "
    "over the byte stream, handling DuckDB's \\x5C rendering of the "
    "escape character. Page count from the /Count entry on both sides.",
    tags=("extract", "multimodal"),
)
def pdf_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def kern(batches):
        from ..fixtures.pdf import extract_pdf_text, pdf_page_count

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text": [extract_pdf_text(bytes(b)) for b in pdf["pdf_bytes"]],
                    "n_pages": [pdf_page_count(bytes(b)) for b in pdf["pdf_bytes"]],
                }
            )

    return (
        spark.read.parquet(_PDF_PARQUET)
        .mapInPandas(kern, "doc_id string, text string, n_pages int")
    )


# --- density-based DOM heuristics (north_rule: 'DOM heuristics') ----------

from ..functions.html import (  # noqa: E402
    DENSITY_MIN_CHARS,
    dom_dense_blocks,
    dom_density_main_sql,
    dom_blocks_sql,
    escape_sql,
    escape_text,
)

_DENS_ESC_SQL_1 = escape_sql("substring(text, 1, 100)")
_DENS_ESC_SQL_2 = escape_sql("substring(text, 101, 80)")

_DENS_HTML_SQL = (
    "'<html><body>"
    '<p class="nav"><a href="#">Home</a> | <a href="#">About</a> | <a href="#">Contact</a></p>'
    "<p>' || " + _DENS_ESC_SQL_1 + " || '</p>"
    "<p>ok</p>"
    "<p>' || " + _DENS_ESC_SQL_2 + " || ' see <a href=\"#\">this link</a> for details</p>"
    "</body></html>'"
)


def _density_html_col() -> F.Column:
    return F.concat(
        F.lit(
            '<html><body><p class="nav"><a href="#">Home</a> | '
            '<a href="#">About</a> | <a href="#">Contact</a></p><p>'
        ),
        escape_text(F.substring("text", 1, 100)),
        F.lit("</p><p>ok</p><p>"),
        escape_text(F.substring("text", 101, 80)),
        F.lit(' see <a href="#">this link</a> for details</p></body></html>'),
    )


@register(
    "dom_density_content",
    f"""
    WITH pages AS (SELECT doc_id, {_DENS_HTML_SQL} AS html FROM documents),
    feat AS (
      SELECT doc_id,
             {dom_blocks_sql("html")} AS blocks
      FROM pages
    )
    SELECT doc_id,
           CAST(len(blocks) AS INTEGER) AS n_blocks,
           CAST(len(list_filter(blocks, s ->
             s.text_len >= {DENSITY_MIN_CHARS} AND s.link_len * 2 <= s.text_len))
             AS INTEGER) AS n_kept,
           COALESCE(array_to_string(list_transform(list_filter(blocks, s ->
             s.text_len >= {DENSITY_MIN_CHARS} AND s.link_len * 2 <= s.text_len),
             s -> s.text), ' '), '') AS main_text
    FROM feat ORDER BY doc_id
    """,
    doc="Density-based DOM heuristic (the jusText/Boilerpipe-family "
    "signal, public algorithms): per <p> block, cleaned text length vs "
    "cleaned link-text length; keep long, link-sparse blocks. The keep "
    "rule is the INTEGER comparison 2*link_len <= text_len — exact on "
    "both engines, no float ratio. Synthetic pages plant a link-dense "
    "nav block (dropped), a too-short block (dropped), a clean content "
    "block and a content block with an inline link (both kept). All "
    "array higher-order functions over one scan — zero shuffles.",
    tags=("text", "extract"),
)
def dom_density_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    pages = d.select("doc_id", _density_html_col().alias("html"))
    feat = pages.select("doc_id", dom_dense_blocks(F.col("html")).alias("blocks"))
    kept = F.filter(
        F.col("blocks"),
        lambda s: (s["text_len"] >= DENSITY_MIN_CHARS)
        & (s["link_len"] * 2 <= s["text_len"]),
    )
    return feat.select(
        "doc_id",
        F.size("blocks").alias("n_blocks"),
        F.size(kept).alias("n_kept"),
        F.array_join(F.transform(kept, lambda s: s["text"]), " ").alias("main_text"),
    ).orderBy("doc_id")


# --- DOM structure extraction: tables and the link graph ------------------
#
# The two remaining DOM-heuristic shapes a web-extraction stack ships
# beyond boilerplate strip: structured <table> recovery (tabular-corpus
# curation reads tables out of pages as relational rows) and the
# host-level link graph (the crawler frontier / spam-rank substrate).
# Both fixtures are built deterministically from `documents` in BOTH
# engines, like _HTML_SQL above; both extractors are regexp_extract_all
# pulls in the Java-regex ∩ RE2 subset, map-side except the final
# rollup.

_TR_RE = r"(?is)<tr[^>]*>(.*?)</tr\s*>"
_CELL_RE = r"(?is)<t[dh][^>]*>(.*?)</t[dh]\s*>"
_HREF_RE = r'(?is)<a\b[^>]*href="([^"]*)"'
_DOMAIN_RE = r"^https?://([^/]+)"

_TABLE_HTML_SQL = (
    "'<html><body><nav>NAVJUNK</nav><table class=\"meta\">"
    "<tr><th> lang </th><th> source </th><th> chars </th></tr>"
    "<tr><td>' || lang || '</td><td>' || source || '</td><td> ' || "
    "CAST(n_chars AS VARCHAR) || ' </td></tr>"
    "</table><p>not a cell</p></body></html>'"
)


def _table_html_col() -> F.Column:
    return F.concat(
        F.lit('<html><body><nav>NAVJUNK</nav><table class="meta">'),
        F.lit("<tr><th> lang </th><th> source </th><th> chars </th></tr>"),
        F.lit("<tr><td>"),
        F.col("lang"),
        F.lit("</td><td>"),
        F.col("source"),
        F.lit("</td><td> "),
        F.col("n_chars").cast("string"),
        F.lit(" </td></tr></table><p>not a cell</p></body></html>"),
    )


@register(
    "html_table_extract",
    f"""
    WITH pages AS (SELECT doc_id, {_TABLE_HTML_SQL} AS html FROM documents),
    rows_x AS (
      SELECT doc_id, i - 1 AS row_idx,
             regexp_extract_all(html, '{_TR_RE}', 1)[i] AS row_html
      FROM pages,
           UNNEST(generate_series(1, len(regexp_extract_all(html, '{_TR_RE}', 1))))
             AS r(i)
    ),
    cells AS (
      SELECT doc_id, row_idx, i - 1 AS col_idx,
             TRIM(regexp_extract_all(row_html, '{_CELL_RE}', 1)[i]) AS cell_text
      FROM rows_x,
           UNNEST(generate_series(1, len(regexp_extract_all(row_html, '{_CELL_RE}', 1))))
             AS c(i)
    )
    SELECT doc_id, CAST(row_idx AS INT) AS row_idx,
           CAST(col_idx AS INT) AS col_idx, cell_text
    FROM cells ORDER BY doc_id, row_idx, col_idx
    """,
    doc="Structured <table> recovery from HTML pages — the tabular-"
    "corpus extraction op: every <tr> row in document order, every "
    "<td>/<th> cell per row in column order, trimmed, as relational "
    "(doc_id, row_idx, col_idx, cell_text) rows. The fixture plants a "
    "header row + a data row built from the doc's own columns plus "
    "decoy non-table markup that must NOT match. Both extractions are "
    "regexp_extract_all in the Java∩RE2 subset, applied map-side with "
    "two ordinal explodes (Generate) — one scan, zero shuffle before "
    "the output sort; a monster page costs only its own row. At "
    "production scale nested tables route to an Arrow kernel stage "
    "like the image ladder (documented non-nested scope, same as the "
    "boilerplate stripper).",
    tags=("text", "extract", "dom"),
)
def html_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    pages = d.select("doc_id", _table_html_col().alias("html"))
    rows = pages.select(
        "doc_id",
        F.posexplode(F.regexp_extract_all("html", F.lit(_TR_RE), F.lit(1))).alias(
            "row_idx", "row_html"
        ),
    )
    cells = rows.select(
        "doc_id",
        "row_idx",
        F.posexplode(
            F.regexp_extract_all("row_html", F.lit(_CELL_RE), F.lit(1))
        ).alias("col_idx", "cell"),
    )
    return cells.select(
        "doc_id",
        F.col("row_idx").cast("int").alias("row_idx"),
        F.col("col_idx").cast("int").alias("col_idx"),
        F.trim(F.col("cell")).alias("cell_text"),
    ).orderBy("doc_id", "row_idx", "col_idx")


# Link fixture: each page lives on its own host (doc_id mod 7) and
# links to two hash-derived hosts (decorrelated from the page's own),
# plus one relative link that must NOT produce an edge.
_N_HOSTS = 7
_SRC_DOM_SQL = f"'site' || CAST(doc_id % {_N_HOSTS} AS VARCHAR) || '.example'"
_DST1_SQL = (
    "'site' || CAST(TRY_CAST('0x' || SUBSTR(md5('l1:' || CAST(doc_id AS VARCHAR)), 1, 15)"
    f" AS BIGINT) % {_N_HOSTS} AS VARCHAR) || '.example'"
)
_DST2_SQL = (
    "'site' || CAST(TRY_CAST('0x' || SUBSTR(md5('l2:' || CAST(doc_id AS VARCHAR)), 1, 15)"
    f" AS BIGINT) % {_N_HOSTS} AS VARCHAR) || '.example'"
)

_LINK_HTML_SQL = (
    "'<html><body>"
    "<a href=\"https://' || " + _DST1_SQL + " || '/p/' || CAST(doc_id AS VARCHAR) || '\">x</a>"
    "<a href=\"/relative/ignored\">rel</a>"
    "<a href=\"https://' || " + _DST2_SQL + " || '/q\">y</a>"
    "</body></html>'"
)


def _link_html_col() -> F.Column:
    from ._portable import phash60

    def dst(salt: str) -> F.Column:
        return F.concat(
            F.lit("site"),
            (phash60(F.concat(F.lit(salt), F.col("doc_id").cast("string"))) % _N_HOSTS)
            .cast("string"),
            F.lit(".example"),
        )

    return F.concat(
        F.lit('<html><body><a href="https://'),
        dst("l1:"),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
        F.lit('">x</a><a href="/relative/ignored">rel</a><a href="https://'),
        dst("l2:"),
        F.lit('/q">y</a></body></html>'),
    )


@register(
    "html_link_graph",
    f"""
    WITH pages AS (
      SELECT doc_id, {_SRC_DOM_SQL} AS src_domain, {_LINK_HTML_SQL} AS html
      FROM documents
    ),
    hrefs AS (
      SELECT doc_id, src_domain, u.url
      FROM pages, UNNEST(regexp_extract_all(html, '{_HREF_RE}', 1)) AS u(url)
    ),
    edges AS (
      SELECT doc_id, src_domain,
             regexp_extract(url, '{_DOMAIN_RE}', 1) AS dst_domain
      FROM hrefs
      WHERE regexp_extract(url, '{_DOMAIN_RE}', 1) <> ''
    )
    SELECT src_domain, dst_domain,
           COUNT(*) AS n_links,
           COUNT(DISTINCT doc_id) AS n_pages
    FROM edges GROUP BY src_domain, dst_domain
    ORDER BY src_domain, dst_domain
    """,
    doc="Host-level link-graph extraction — the crawler-frontier / "
    "spam-rank substrate: absolute hrefs pulled from each page "
    "(regexp_extract_all, map-side), reduced to domains, rolled up to "
    "(src_domain, dst_domain) edges with link and distinct-page "
    "counts. Relative links are dropped at the domain parse (the "
    "fixture plants one that must NOT edge). Scale shape: one scan, "
    "one Generate, one map-side-combined groupBy on the domain-pair "
    "key — bounded by the host vocabulary squared in the worst case, "
    "with hot hosts (a hub domain) arriving as hot JOIN-free GROUP "
    "keys AQE skew-splits; the two-level COUNT(DISTINCT doc_id) is "
    "Spark's standard partial-distinct expansion, no corpus window. "
    "Feeds near_dup_pagerank's integer PageRank for host ranking.",
    tags=("text", "extract", "dom", "graph"),
)
def html_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _href_edges(spark, sf_dir)
        .groupBy("src_domain", "dst_domain")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_pages"),
        )
        .orderBy("src_domain", "dst_domain")
    )


def _href_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, src_domain, dst_domain) — one row per absolute link;
    the un-aggregated edge stream shared by html_link_graph (which
    adds the countDistinct rollup) and host_rank (which only needs
    link-count weights, so it must not pay the distinct expansion or
    the output sort)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("site"), (F.col("doc_id") % _N_HOSTS).cast("string"), F.lit(".example")
        ).alias("src_domain"),
        _link_html_col().alias("html"),
    )
    hrefs = pages.select(
        "doc_id",
        "src_domain",
        F.explode(F.regexp_extract_all("html", F.lit(_HREF_RE), F.lit(1))).alias("url"),
    )
    return hrefs.select(
        "doc_id",
        "src_domain",
        F.regexp_extract("url", _DOMAIN_RE, 1).alias("dst_domain"),
    ).filter(F.col("dst_domain") != "")


# --- host rank over the link graph ----------------------------------------

HOST_PR_ITERS = 2

_LINK_EDGES_CTE = f"""
pages AS (
  SELECT doc_id, {_SRC_DOM_SQL} AS src_domain, {_LINK_HTML_SQL} AS html
  FROM documents
),
hrefs AS (
  SELECT doc_id, src_domain, u.url
  FROM pages, UNNEST(regexp_extract_all(html, '{_HREF_RE}', 1)) AS u(url)
),
edges0 AS (
  SELECT src_domain,
         regexp_extract(url, '{_DOMAIN_RE}', 1) AS dst_domain
  FROM hrefs
  WHERE regexp_extract(url, '{_DOMAIN_RE}', 1) <> ''
),
ew AS (
  SELECT src_domain AS src, dst_domain AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM edges0 GROUP BY src_domain, dst_domain
),
nodes AS (SELECT src AS host FROM ew UNION SELECT dst FROM ew),
outw AS (
  SELECT n.host, CAST(COALESCE(SUM(ew.w), 0) AS BIGINT) AS outw
  FROM nodes n LEFT JOIN ew ON ew.src = n.host GROUP BY n.host
)
"""

_HOST_PR_SQL = f"""
WITH {_LINK_EDGES_CTE.strip()},
r0 AS (SELECT host, outw, CAST(1000000 AS BIGINT) AS pr FROM outw),
c1 AS (
  SELECT e.dst AS host, CAST(SUM((r.pr * e.w) // r.outw) AS BIGINT) AS s
  FROM ew e JOIN r0 r ON e.src = r.host GROUP BY e.dst
),
r1 AS (
  SELECT o.host, o.outw,
         CAST(150000 + (850 * COALESCE(c1.s, 0)) // 1000 AS BIGINT) AS pr
  FROM outw o LEFT JOIN c1 USING (host)
),
c2 AS (
  SELECT e.dst AS host, CAST(SUM((r.pr * e.w) // r.outw) AS BIGINT) AS s
  FROM ew e JOIN r1 r ON e.src = r.host GROUP BY e.dst
),
r2 AS (
  SELECT o.host, o.outw,
         CAST(150000 + (850 * COALESCE(c2.s, 0)) // 1000 AS BIGINT) AS pr
  FROM outw o LEFT JOIN c2 USING (host)
)
SELECT host, outw, pr FROM r2 ORDER BY pr DESC, host
"""


@register(
    "host_rank",
    _HOST_PR_SQL,
    doc=f"Weighted directed INTEGER PageRank ({HOST_PR_ITERS} unrolled "
    "iterations, damping 0.85) over the extracted host link graph — "
    "the host-authority/spam-triage rank a crawler frontier "
    "prioritizes by. Rank mass splits proportionally to LINK COUNTS: "
    "each edge carries (pr * w) DIV outw where outw is the source "
    "host's total outlink count — pure e6-scaled BIGINT floor "
    "arithmetic, bit-identical in both engines (a double PageRank's "
    "sum order would drift with partitioning). Dangling rule, "
    "documented: hosts with no outlinks receive rank but contribute "
    "none (their mass is dropped, the simplified-PageRank variant) — "
    "the fixture has none. Scale shape: the edge rollup is the "
    "link-graph groupBy; per iteration one edges-ranks equi-join on "
    "src + one map-side-combined groupBy on dst (hot hub hosts are "
    "hot JOIN keys, AQE-skew-splittable, never a window); the rank "
    "frame is localCheckpoint'ed per round so plans stay linear in "
    "iterations — the near_dup_pagerank discipline on the DIRECTED "
    "weighted graph.",
    tags=("text", "extract", "graph", "iterative"),
)
def host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ew = (
        _href_edges(spark, sf_dir)
        .groupBy(
            F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()  # extraction subtree executes once, not once per round
    )
    nodes = ew.select(F.col("src").alias("host")).union(
        ew.select(F.col("dst").alias("host"))
    ).distinct()
    outw = (
        nodes.join(ew, nodes["host"] == ew["src"], "left")
        .groupBy("host")
        .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("outw"))
    )
    ranks = outw.select("host", "outw", F.lit(1000000).cast("long").alias("pr"))
    for _ in range(HOST_PR_ITERS):
        contrib = (
            ew.join(
                ranks.select(
                    F.col("host").alias("src"),
                    F.col("pr"),
                    F.col("outw").alias("ow"),
                ),
                "src",
            )
            .select("dst", F.expr("(pr * w) DIV ow").alias("c"))
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            outw.join(contrib, "host", "left")
            .select(
                "host",
                "outw",
                (
                    F.lit(150000)
                    + F.expr("(850 * coalesce(s, CAST(0 AS BIGINT))) DIV 1000")
                )
                .cast("long")
                .alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks.orderBy(F.desc("pr"), "host")


# --- robots compliance gate -----------------------------------------------

# Per-host Disallow rules, derived deterministically (no external
# data): even-numbered hosts disallow the '/p/' section; every host
# carries an '/admin/' rule no fixture URL matches (the decoy that
# proves the gate only blocks on a real prefix hit). Pages: each doc
# lives at /p/<id> (doc_id % 3 = 0) or /q/<id> on its own host.

_ROBOTS_RULES = [
    (f"site{i}.example", prefix)
    for i in range(_N_HOSTS)
    for prefix in ((["/p/"] if i % 2 == 0 else []) + ["/admin/"])
]

_ROBOTS_RULES_SQL = "VALUES " + ", ".join(
    f"('{h}', '{p}')" for h, p in _ROBOTS_RULES
)

_PAGE_URL_SQL = (
    "'https://' || " + _SRC_DOM_SQL + " || "
    "CASE WHEN doc_id % 3 = 0 THEN '/p/' ELSE '/q/' END || CAST(doc_id AS VARCHAR)"
)


@register(
    "robots_gate",
    f"""
    WITH pages AS (
      SELECT doc_id, {_SRC_DOM_SQL} AS host, {_PAGE_URL_SQL} AS url
      FROM documents
    ),
    rules(host, prefix) AS ({_ROBOTS_RULES_SQL}),
    gated AS (
      SELECT p.doc_id, p.host,
             MAX(CASE WHEN starts_with(
                   SUBSTR(p.url, 9 + LENGTH(p.host)), r.prefix)
                 THEN 1 ELSE 0 END) AS blocked
      FROM pages p JOIN rules r ON r.host = p.host
      GROUP BY p.doc_id, p.host
    )
    SELECT host,
           COUNT(*) AS n_pages,
           CAST(SUM(blocked) AS BIGINT) AS n_blocked,
           CAST(COUNT(*) - SUM(blocked) AS BIGINT) AS n_kept,
           CAST(SUM(blocked) AS DOUBLE) / COUNT(*) AS block_rate
    FROM gated GROUP BY host ORDER BY host
    """,
    doc="robots.txt compliance gate — the crawl-side filter every "
    "corpus ingest runs before a page is fetched/kept: per-host "
    "Disallow prefix rules applied to each page's URL path, rolled up "
    "to per-host blocked/kept counts. The rule table is a constant "
    "broadcast (a real robots set is hosts x few rules — orders "
    "smaller than the page corpus), the path test is starts_with on "
    "the URL with the scheme+host prefix stripped by LENGTH "
    "arithmetic (no regex needed), and the per-page verdict is a "
    "map-side-combined MAX over that page's rules — one scan, one "
    "broadcast join, one groupBy; a host with a billion pages is a "
    "hot GROUP key AQE splits, never a window. The '/admin/' decoy "
    "rule on every host proves the gate blocks only on real prefix "
    "hits.",
    tags=("text", "extract", "curation"),
)
def robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("site"), (F.col("doc_id") % _N_HOSTS).cast("string"), F.lit(".example")
        ).alias("host"),
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % _N_HOSTS).cast("string"),
            F.lit(".example"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/p/")).otherwise(F.lit("/q/")),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    rules = spark.createDataFrame(_ROBOTS_RULES, "host string, prefix string")
    path = F.expr("SUBSTR(url, 9 + LENGTH(host))")
    gated = (
        pages.join(F.broadcast(rules), "host")
        .select(
            "doc_id",
            "host",
            F.when(F.startswith(path, F.col("prefix")), 1).otherwise(0).alias("hit"),
        )
        .groupBy("doc_id", "host")
        .agg(F.max("hit").alias("blocked"))
    )
    return (
        gated.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("blocked").cast("long").alias("n_blocked"),
            (F.count(F.lit(1)) - F.sum("blocked")).cast("long").alias("n_kept"),
            (
                F.sum("blocked").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("block_rate"),
        )
        .orderBy("host")
    )
