"""Field/link extraction from fetched pages — the spider's parse stage.

Reference: 7-field XPath projection + cleanse (newsspider.py:36-49), regex
link scan + 3-way classification (index.py:10-15,158-172). Here both are
column-expression libraries over a `raw_pages` DataFrame (url, status,
content_type, html): regexp-based extraction that Catalyst runs in
whole-stage codegen. `extract_articles_robust` is the production path for
real-world HTML (attribute order/quoting/case variation): a stdlib
html.parser inside mapInPandas — same output contract, Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import coalesce_nonblank, strip_html

# Wanted-document extensions (reference index.py:10).
WANTED_EXT = r"(?i)\.(pdf|docx?|xlsx?|pptx?|o(d|t)[cgmpst]|csv|rtf|zip|rar|t?gz|xz)$"
# Never-follow binary/media extensions (reference index.py:11-12).
BIN_EXT = r"(?i)\.(jpe?g|png|gif|bmp|svg|ico|webp|mp[34]|avi|mov|mkv|woff2?|ttf|js|css|exe)$"
# Link targets (reference regex index.py:13): href/src attributes, and css
# url(...) references; group 1 is the target.
ATTR_LINK = r'(?:href|src)="([^"]*)"'
CSS_URL = r"url\(['\"]?([^'\")]+)['\"]?\)"


def meta_content(html: Column, prop: str, attr: str = "property") -> Column:
    """<meta property|name=prop content=...> extraction, '' -> NULL."""
    pat = f'<meta {attr}="{prop}" content="([^"]*)"'
    return F.nullif(F.regexp_extract(html, pat, 1), F.lit(""))


def admission_filter(df: DataFrame) -> DataFrame:
    """Keep only pages worth exploring: HTTP 200 and text/html|css
    (reference index.py:15,130-131)."""
    return df.filter(
        (F.col("status") == 200) & F.col("content_type").rlike("text/(html|css)")
    )


def article_fields(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Project the 7 article fields (reference newsspider.py:39-49):

    - title: og:title meta, fallback to the itemprop=headline h1
      (Python-`or` semantics: '' falls through, newsspider.py:41-42)
    - text: all <p> fragments inside the articleBody div through
      ``strip_html`` (joined with spaces, tags stripped, trimmed); NULL iff
      there are no paragraphs, a NULL ``html`` included (newsspider.py:48-49
      — empty-after-strip stays '', not NULL)
    """
    html = F.col(html_col)
    body = F.regexp_extract(html, r'<div[^>]*itemprop="articleBody"[^>]*>(.*?)</div>', 1)
    paragraphs = F.regexp_extract_all(body, F.lit(r"<p[^>]*>(.*?)</p>"), 1)
    h1 = F.nullif(
        F.trim(
            F.regexp_replace(
                F.regexp_extract(html, r'<h1[^>]*itemprop="headline"[^>]*>(.*?)</h1>', 1),
                r"<[^>]*>",
                "",
            )
        ),
        F.lit(""),
    )
    return df.select(
        F.col("url"),
        coalesce_nonblank(meta_content(html, "og:title"), h1).alias("title"),
        meta_content(html, "og:description").alias("description"),
        meta_content(html, "article:author").alias("author"),
        meta_content(html, "article:section").alias("section"),
        meta_content(html, "keywords", attr="name").alias("keywords"),
        strip_html(paragraphs).alias("text"),
    )


def page_type(html_col: Column) -> Column:
    """og:type meta — the article-admission predicate (newsspider.py:36-38)."""
    return meta_content(html_col, "og:type")


def articles_only(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Admission filter: keep only og:type == 'article' pages."""
    return df.filter(page_type(F.col(html_col)) == "article")


def extract_links(df: DataFrame, html_col: str = "html") -> DataFrame:
    """One row per (page url, link target): href/src attributes plus css
    url(...) references (reference regex index.py:13), per-page dedup
    (Scrapy LinkExtractor unique=True, newsspider.py:12)."""
    html = F.col(html_col)
    attr_links = F.regexp_extract_all(html, F.lit(ATTR_LINK), 1)
    css_links = F.regexp_extract_all(html, F.lit(CSS_URL), 1)
    return (
        df.select(F.col("url").alias("page_url"), F.explode(F.concat(attr_links, css_links)).alias("link"))
        .dropDuplicates(["page_url", "link"])
    )


def resolve_url(page_url: Column, link: Column) -> Column:
    """Relative->absolute resolution (reference index.py:160-161, fixed:
    scheme-based absolute detection instead of the hardcoded-host regex —
    SURVEY.md §2 op 17). Handles absolute, scheme-relative, root-relative
    and bare-relative links; strips fragments."""
    base = F.regexp_extract(page_url, r"^(https?://[^/]+)", 1)
    scheme = F.regexp_extract(page_url, r"^(https?):", 1)
    dir_ = F.regexp_replace(page_url, r"[^/]*$", "")
    resolved = (
        F.when(link.rlike(r"^https?://"), link)
        .when(link.startswith("//"), F.concat(scheme, F.lit(":"), link))
        .when(link.startswith("/"), F.concat(base, link))
        .otherwise(F.concat(dir_, link))
    )
    return F.regexp_replace(resolved, r"#.*$", "")


def classify_link(link: Column, base_url: str) -> Column:
    """wanted_doc / next_page / junk / offsite (reference index.py:162-172)."""
    return (
        F.when(link.rlike(WANTED_EXT), "wanted_doc")
        .when(link.rlike(BIN_EXT), "junk")
        .when(link.contains(F.lit(base_url)), "next_page")
        .otherwise("offsite")
    )


class _ArticleParser:
    """Stdlib-HTML-parser extraction of the spider's fields
    (newsspider.py:36-49) — tolerant of attribute order, single quotes,
    uppercase tags, and whitespace, where the regex fast path pins the
    fixture serialization. Instantiated per page inside the worker."""

    def __init__(self) -> None:
        from html.parser import HTMLParser

        meta: dict[str, str] = {}
        state = {"body_depth": 0, "in_p": False, "in_h1": False}
        paragraphs: list[str] = []
        h1_parts: list[str] = []

        class P(HTMLParser):
            def handle_starttag(self, tag, attrs):
                a = dict(attrs)
                if tag == "meta":
                    key = a.get("property") or a.get("name")
                    if key is not None and "content" in a:
                        meta.setdefault(key, a["content"])
                elif tag == "div":
                    if state["body_depth"] > 0:
                        state["body_depth"] += 1
                    elif a.get("itemprop") == "articleBody":
                        state["body_depth"] = 1
                elif tag == "p" and state["body_depth"] > 0:
                    state["in_p"] = True
                    paragraphs.append("")
                elif tag == "h1" and a.get("itemprop") == "headline":
                    state["in_h1"] = True

            def handle_endtag(self, tag):
                if tag == "div" and state["body_depth"] > 0:
                    state["body_depth"] -= 1
                elif tag == "p":
                    state["in_p"] = False
                elif tag == "h1":
                    state["in_h1"] = False

            def handle_data(self, data):
                if state["in_p"] and paragraphs:
                    paragraphs[-1] += data
                if state["in_h1"]:
                    h1_parts.append(data)

        self._parser = P()
        self._meta = meta
        self._paragraphs = paragraphs
        self._h1_parts = h1_parts

    def parse(self, html: str) -> dict:
        self._parser.feed(html or "")
        self._parser.close()
        meta = self._meta
        # NULL iff zero paragraphs; empty-after-strip stays '' (newsspider.py:49)
        text = " ".join(self._paragraphs).strip() if self._paragraphs else None
        h1 = "".join(self._h1_parts).strip() or None
        return {
            "og_type": meta.get("og:type"),
            # Python-`or` fallback: '' falls through (newsspider.py:41-42)
            "title": meta.get("og:title") or h1,
            "description": meta.get("og:description") or None,
            "author": meta.get("article:author") or None,
            "section": meta.get("article:section") or None,
            "keywords": meta.get("keywords") or None,
            "text": text,
        }


def extract_articles_robust(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Admission (og:type == 'article') + 7-field extraction via a real HTML
    parser in one Arrow-batched mapInPandas pass — the production twin of
    ``articles_only`` + ``article_fields`` for HTML the fixture-exact regexes
    can't pin (attribute reordering, single quotes, case).

    Scale: one Python stage at ingest only (the crawl's fetch is already a
    Python stage; extraction rides the same worker); everything downstream
    stays JVM-side.
    """
    import pandas as pd

    from ..schemas import ARTICLE

    cols = [f.name for f in ARTICLE.fields]

    def run(batches):
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf[html_col]):
                fields = _ArticleParser().parse(html)
                if fields.pop("og_type") == "article":
                    out.append({"url": url, **fields})
            yield pd.DataFrame(out, columns=cols)

    return df.select("url", html_col).mapInPandas(run, ARTICLE)
