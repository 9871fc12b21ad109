"""html_to_text / boilerplate_line_filter: extraction semantics plus the
RE2-compatibility contract every pattern must keep (the DuckDB oracle
replays the identical chain)."""

from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.functions.extraction import (
    HTML_STRIP_STEPS,
    LINE_PUNCT_PATTERN,
    boilerplate_line_filter,
    html_to_text,
)


def _extract(spark, html: str) -> str:
    df = spark.createDataFrame([(html,)], "html string")
    return df.select(html_to_text("html").alias("t")).collect()[0]["t"]


def test_scripts_styles_comments_dropped(spark):
    out = _extract(
        spark,
        "<script>var a = 1 < 2;</script>keep<style>p{x:1}</style>"
        "<!-- secret -->me",
    )
    assert out == "keep me"
    assert "secret" not in out and "var" not in out


def test_multiline_script_block(spark):
    out = _extract(spark, "before<script>\nline1();\nline2();\n</script>after")
    assert out == "before after"


def test_block_tags_become_newlines(spark):
    out = _extract(spark, "<p>one</p><p>two</p><div>three</div>")
    # adjacent block closers/openers leave ONE blank line (a paragraph
    # break), and the edges are stripped
    assert out.split("\n") == ["one", "", "two", "", "three"]


def test_entities_decoded_one_level(spark):
    out = _extract(spark, "a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;&nbsp;f")
    assert out == "a & b <c> \"d\" 'e' f"
    # double-encoded decodes exactly one level per pass
    assert _extract(spark, "&amp;lt;") == "&lt;"


def test_whitespace_collapsed(spark):
    out = _extract(spark, "a\t\t b\r\n<p>c</p>\n\n\n\nd")
    assert out == "a b\n\nc\n\nd"


def test_null_in_null_out(spark):
    df = spark.createDataFrame([(None,)], "html string")
    assert df.select(html_to_text("html").alias("t")).collect()[0]["t"] is None


def test_boilerplate_filter(spark):
    text = "\n".join(
        [
            "This sentence is long enough and ends properly.",
            "Home | About | Contact",
            "short.",
            "Another keeper line with terminal punctuation!",
            "this line is plenty long but has no terminal punctuation",
        ]
    )
    df = spark.createDataFrame([(text,)], "t string")
    kept = df.select(
        boilerplate_line_filter("t", min_chars=20).alias("k")
    ).collect()[0]["k"]
    assert kept.split("\n") == [
        "This sentence is long enough and ends properly.",
        "Another keeper line with terminal punctuation!",
    ]
    # punctuation requirement can be relaxed
    loose = df.select(
        boilerplate_line_filter("t", min_chars=20, require_punct=False).alias("k")
    ).collect()[0]["k"]
    assert "no terminal punctuation" in loose


@pytest.mark.parametrize("pattern", [p for p, _ in HTML_STRIP_STEPS] + [LINE_PUNCT_PATTERN])
def test_patterns_are_re2_compatible(pattern):
    """The oracle contract: every pattern must compile and run under RE2
    (DuckDB) — no lookaround, no backreferences ever sneaks in."""
    con = duckdb.connect()
    pat_sql = pattern.replace("'", "''")
    con.execute(f"SELECT regexp_replace('x', '{pat_sql}', '', 'g')").fetchone()


def test_spark_duckdb_chain_equivalence(spark):
    """End-to-end cross-engine equality on a nasty page — the same
    property the sf0.01 oracle run checks corpus-wide."""
    page = (
        '<html><body><script type="a">if (1 < 2) { x(); }</script>'
        "<h1>Title</h1><p>Body &amp; &lt;stuff&gt;.</p>"
        "<!-- \n multiline \n comment --><ul><li>a</li></ul></body></html>"
    )
    spark_out = _extract(spark, page)
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from __spark_entry__ import _duck_html_chain, _duck_lit

    duck_out = duckdb.connect().execute(
        f"SELECT {_duck_html_chain(_duck_lit(page))}"
    ).fetchone()[0]
    assert spark_out == duck_out
