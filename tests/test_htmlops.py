"""HTML main-content extraction: unit rules, DOM-vs-relational
agreement, DuckDB twin parity, and the zero-shuffle plan guarantee.

The keep rule (>= MIN_LEN visible chars AND anchor chars <= 33%) is the
public Readability/jusText-family heuristic; the reference's analog is
the `abandon` category strip before markdown emit (P5)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkextract import htmlops as H  # noqa: E402

SF = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

PAGE = (
    "<html><head><title>doc 7</title><style>p{x:1}</style>"
    "<script>if (a < 2) { b(); }</script></head><body>"
    '<nav><a href="/">home</a> <a href="/a">about</a></nav>'
    "<h1>short title</h1>"
    "<p>this paragraph is long enough to be kept as main content by the "
    "rule indeed</p>"
    '<p>second one also long enough see <a href="/r">the appendix</a> for '
    "details &amp; &lt;notes&gt; here</p>"
    '<div class="rel"><a href="/1">first related link</a> and '
    '<a href="/2">second related link</a> plus '
    '<a href="/3">third related link</a></div>'
    "<!-- comment <p>hidden</p> -->"
    "<footer>&copy; site terms</footer></body></html>"
)


# ------------------------------------------------------- DOM unit rules
def test_dom_blocks_rules():
    blocks = H.dom_blocks(PAGE)
    texts = [t for t, _ in blocks]
    # script/style/comment content never surfaces
    assert not any("b();" in t or "x:1" in t or "hidden" in t for t in texts)
    # entity decode (supported set): & and <notes> appear decoded
    assert any("details & <notes> here" in t for t in texts)
    kept = [
        t for t, l in blocks
        if len(t) >= H.MIN_LEN and l * 100 <= H.MAX_LINK_PCT * len(t)
    ]
    assert len(kept) == 2
    # the related div is dropped by link density ALONE (long but ~80% link)
    rel = next((t, l) for t, l in blocks if "first related link" in t)
    assert len(rel[0]) >= H.MIN_LEN and rel[1] * 100 > H.MAX_LINK_PCT * len(rel[0])
    # nav is dropped by the length gate
    nav = next((t, l) for t, l in blocks if t == "home about")
    assert len(nav[0]) < H.MIN_LEN


def test_dom_handles_quoted_gt_in_attribute():
    # the regex path's '<[^>]+>' cannot see past a quoted '>' — the DOM
    # tokenizer can; this pins the DOM variant's extra robustness
    html = '<p><a href="/x?a>b">link</a> plus surrounding text that is long enough to keep around here</p>'
    blocks = H.dom_blocks(html)
    assert len(blocks) == 1
    assert blocks[0][0].startswith("link plus surrounding")
    assert blocks[0][1] == len("link")


def test_dom_p_does_not_match_pre_boundary():
    # <pre> is its own block tag; 'preview' inside data is untouched
    blocks = H.dom_blocks("<p>alpha preview beta</p>")
    assert blocks == [("alpha preview beta", 0)]


def test_dom_empty_and_none_safe():
    assert H.dom_blocks("") == []
    assert H.dom_blocks("   \n  ") == []


# --------------------------------------------- engine agreement (corpus)
@pytest.fixture(scope="module")
def hdf(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return H.documents_as_html(docs)


def test_dom_equals_relational_on_corpus(spark, hdf):
    rel = sorted(tuple(r) for r in H.html_main_content(hdf).collect())
    dom = sorted(tuple(r) for r in H.html_dom_extract(hdf).collect())
    assert rel == dom


def test_duckdb_twin_parity(spark, hdf):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    srows = sorted(tuple(r) for r in H.html_main_content(hdf).collect())
    drows = sorted(
        con.sql(H.html_main_content_sql("documents", H.html_sql_expr())).fetchall()
    )
    assert srows == drows
    sstats = sorted(tuple(r) for r in H.html_block_stats(hdf).collect())
    dstats = sorted(
        con.sql(H.html_block_stats_sql("documents", H.html_sql_expr())).fetchall()
    )
    assert sstats == dstats


def test_corpus_rule_branches_non_vacuous(spark, hdf):
    # the synthetic pages must actually exercise both drop rules and keep
    # at least one paragraph for most docs
    stats = H.html_block_stats(hdf).collect()
    by_rule = {"len": 0, "link": 0, "kept": 0}
    for r in stats:
        if r.kept:
            by_rule["kept"] += 1
        elif r.text_len < H.MIN_LEN:
            by_rule["len"] += 1
        else:
            by_rule["link"] += 1
    assert min(by_rule.values()) > 0, by_rule


# ------------------------------------------------------------ plan shape
def test_relational_path_is_map_only(spark, hdf):
    """The 100 TB contract: no exchange anywhere — the extractor fuses
    into the scan."""
    plan = H.html_main_content(hdf)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    plan2 = H.html_block_stats(hdf)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2


def test_extract_html_turns_single_exchange(spark):
    """North-rule shape: per-turn extraction must cost exactly ONE
    exchange (the conv_id ordering window) — same census as the fused
    PDF pipeline."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        H.extract_html_turns(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1


def test_extract_html_turns_stable_ordering(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = H.extract_html_turns(docs).collect()
    by_conv: dict = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append((r.turn_seq, r.turn_idx))
    for conv, seqs in by_conv.items():
        seqs.sort()
        # turn_seq is dense 1..n and follows turn_idx order
        assert [s for s, _ in seqs] == list(range(1, len(seqs) + 1))
        assert [t for _, t in seqs] == sorted(t for _, t in seqs)


def test_main_text_contains_no_markup(spark, hdf):
    rows = H.html_main_content(hdf).limit(50).collect()
    assert rows
    for r in rows:
        # no tags or undecoded entities survive (decoded '<notes>' text may)
        assert "</" not in r.main_text and "<a " not in r.main_text
        assert "&amp;" not in r.main_text and "&lt;" not in r.main_text


# ------------------------------------------------------------ fuzzing
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_soup = st.text(
    alphabet=st.sampled_from(list("<>/ab p&;#!-\"'=\n\t0")), max_size=120
)


@given(_soup)
@settings(max_examples=200, deadline=None)
def test_dom_blocks_total_on_tag_soup(s):
    """The DOM pass is a total function on arbitrary tag soup: never
    raises, and every emitted block is normalized non-empty text."""
    blocks = H.dom_blocks(s)
    for t, l in blocks:
        assert t == t.strip() and t != ""
        assert "  " not in t
        assert l >= 0


@given(st.text(max_size=80))
@settings(max_examples=200, deadline=None)
def test_norm_idempotent(s):
    n = H._norm(s)
    assert H._norm(n) == n
