"""Round-4 training-data additions: PII redaction, winnow-overlap pairs,
Gopher composite filter (operators/pii.py, operators/textstats.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.pii import redact_pii
from dss_plugin_nlp_analysis_spark.operators.textstats import (
    gopher_filter,
    winnow_overlap_pairs,
)


def test_redact_pii_semantics(spark):
    rows = [
        (1, "mail me at john.doe+spam@sub.example.co.uk thanks"),
        (2, "server 192.168.10.1 and 10.0.0.255 are up"),
        (3, "call +1 415-555-1234 or +44 20 7946 0958 today"),
        (4, "mixed a@b.io on 8.8.8.8 at +33 1 42 68 53 00"),
        (5, "no pii here at all"),
        (6, None),
        # version strings must NOT look like IPv4 (needs 4 octets)
        (7, "upgrade to 3.2.1 now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert out[1]["clean_text"] == "mail me at <EMAIL> thanks"
    assert out[1]["n_emails"] == 1
    assert out[2]["clean_text"] == "server <IP> and <IP> are up"
    assert out[2]["n_ipv4"] == 2
    assert out[3]["clean_text"] == "call <PHONE> or <PHONE> today"
    assert out[3]["n_phones"] == 2
    assert (out[4]["n_emails"], out[4]["n_ipv4"], out[4]["n_phones"]) == (1, 1, 1)
    assert "<EMAIL>" in out[4]["clean_text"] and "<PHONE>" in out[4]["clean_text"]
    assert out[5]["clean_text"] == "no pii here at all"
    assert out[6]["clean_text"] == ""  # NULL behaves as ''
    assert out[7]["clean_text"] == "upgrade to 3.2.1 now"
    assert out[7]["n_ipv4"] == 0


def test_redact_pii_is_pure_map(spark):
    df = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    plan = (
        redact_pii(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # 100 TB shape: zero shuffle


def test_winnow_overlap_pairs_finds_copied_passage(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, shared + " unique tail one two three"),
        (2, "different head words here " + shared),
        (3, "totally unrelated content with many other words present"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_overlap_pairs(
        df, "doc_id", "text", k=3, window=4, min_shared=2, max_doc_freq=10
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_winnow_overlap_pairs_doc_freq_cap(spark):
    # a passage shared by MANY docs is boilerplate: with the cap at 2 the
    # fingerprints it produces are excluded and no pairs emerge
    shared = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(i, shared) for i in range(6)], "doc_id long, text string"
    )
    capped = winnow_overlap_pairs(
        df, "doc_id", "text", min_shared=1, max_doc_freq=2
    ).collect()
    assert capped == []
    uncapped = winnow_overlap_pairs(
        df, "doc_id", "text", min_shared=1, max_doc_freq=100
    ).count()
    assert uncapped == 15  # all C(6,2) pairs


def test_gopher_filter_semantics_and_plan(spark):
    good = (
        "the quick brown fox jumps over a lazy dog and that sentence "
        "is repeated in spirit with many normal words of usual length "
        "to keep it well above the minimum token floor for this test"
    )
    rows = [
        (1, good),                                   # passes everything
        (2, "short text"),                           # fails token floor
        (3, "spam " * 40),                           # repetition caps
        (4, "a b c d e f g h i j " * 4),             # avg token len 1
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in gopher_filter(
            df, "doc_id", "text",
            min_tokens=20, min_avg_len=2.0, max_avg_len=10.0,
            min_stopword_ratio=0.05,
            max_top_unigram_ratio=0.3, max_dup_word_ratio=0.7,
        ).collect()
    }
    assert out[1]["keep"] == 1
    assert out[2]["keep"] == 0 and out[2]["n_tokens"] == 2
    assert out[3]["keep"] == 0 and out[3]["top_unigram_ratio"] == 1.0
    assert out[4]["keep"] == 0 and out[4]["avg_token_len"] == 1.0
    assert out[5]["keep"] == 0 and out[5]["n_tokens"] == 0

    plan = (
        gopher_filter(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # one projection, no feature-table join


def test_normalize_url_contract(spark):
    from dss_plugin_nlp_analysis_spark.operators.url import url_table

    rows = [
        (1, "HTTPS://WWW.Example.COM/Path/To?utm_source=x&ref=7#frag"),
        (2, "http://Sub.Site.org/dir/"),
        (3, "https://a.b.co/?utm_campaign=y"),
        (4, "https://x.io/p?a=1&utm_medium=m&b=2"),
        (5, "https://User@Host.Example.net:8080/P"),
        (6, None),
        (7, "relative/no/scheme"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["id"]: r for r in url_table(df, "doc_id", "url").collect()}
    # case: scheme+host lowered, path case preserved; utm gone, ref kept
    assert out[1]["url_norm"] == "https://www.example.com/Path/To?ref=7"
    assert out[1]["host"] == "www.example.com"
    assert out[1]["domain"] == "example.com"
    assert out[2]["url_norm"] == "http://sub.site.org/dir"  # trailing / stripped
    assert out[2]["domain"] == "site.org"
    assert out[3]["url_norm"] == "https://a.b.co"  # '?utm...' fully gone, then '/'
    assert out[4]["url_norm"] == "https://x.io/p?a=1&b=2"
    assert out[5]["host"] == "host.example.net"  # userinfo+port excluded
    assert out[6]["url_norm"] == "" and out[6]["domain"] == ""
    assert out[7]["url_norm"] == "relative/no/scheme"  # untouched but lower-noop


def test_source_host_contract(spark):
    """The source key of fact_support, truth_discovery and crawl_frontier:
    the lowercased url's host, else the lowercased value itself."""
    from pyspark.sql import functions as F

    from dss_plugin_nlp_analysis_spark.operators.url import source_host

    want = {
        "HTTPS://WWW.Example.COM/Path?q=1": "www.example.com",
        "https://User@Host.Example.net:8080/P": "host.example.net",
        "DOC-7": "doc-7",
        "doc-8": "doc-8",
        "http:///no-host": "http:///no-host",
        None: None,
    }
    df = spark.createDataFrame([(u,) for u in want], "u string")
    got = {r["u"]: r["h"] for r in df.select("u", source_host(F.col("u")).alias("h")).collect()}
    assert got == want


def test_dedup_lines_in_doc(spark):
    from dss_plugin_nlp_analysis_spark.operators.webclean import (
        dedup_lines_in_doc,
    )

    rows = [
        (1, "nav bar\nreal content one\nnav bar\nreal content two\nnav bar"),
        (2, "only once"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in dedup_lines_in_doc(df, "doc_id", "text").collect()}
    assert out[1]["clean_text"] == "nav bar\nreal content one\nreal content two"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (5, 3)
    assert out[2]["clean_text"] == "only once"
    for i in (3, 4):
        assert out[i]["clean_text"] == "" and out[i]["n_lines"] == 0

    plan = (
        dedup_lines_in_doc(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure per-row map


def test_script_profile(spark):
    from dss_plugin_nlp_analysis_spark.operators.textstats import script_profile

    rows = [
        (1, "hello world café"),          # latin incl. accents
        (2, "中文内容 mixed latin"),        # cjk + latin
        (3, "русский текст полностью"),
        (4, "١٢٣ نص"),                    # arabic incl. arabic-indic digits
        (5, "12345 678"),                 # ascii digits only
        (6, "!!! ---"),                   # nothing counted
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in script_profile(df, "doc_id", "text").collect()}
    assert out[1]["dominant_script"] == "latin" and out[1]["n_latin"] == 14
    assert out[2]["n_cjk"] == 4 and out[2]["dominant_script"] == "latin"
    assert out[3]["dominant_script"] == "cyrillic"
    assert out[4]["dominant_script"] == "arabic" and out[4]["n_arabic"] == 5
    assert out[5]["dominant_script"] == "digit" and out[5]["n_digit"] == 8
    assert out[6]["dominant_script"] == "none" and out[6]["dominant_share"] == 0.0
    assert out[7]["dominant_script"] == "none"


def test_latest_by_key(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import latest_by_key

    rows = [
        (1, "u1", 100), (2, "u1", 300), (3, "u1", 200),
        (4, "u2", 50),
        (5, "u3", 70), (6, "u3", 70),   # ts tie -> larger id wins
    ]
    df = spark.createDataFrame(rows, "id long, url string, sec long")
    out = {r["key"]: r for r in latest_by_key(df, "url", "sec", "id").collect()}
    assert (out["u1"]["id"], out["u1"]["ts"], out["u1"]["n_snapshots"]) == (2, 300, 3)
    assert out["u2"]["id"] == 4 and out["u2"]["n_snapshots"] == 1
    assert out["u3"]["id"] == 6  # deterministic tie

    # plan: one map-side-combinable aggregate, no Window, no join
    plan = (
        latest_by_key(df, "url", "sec", "id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "Join" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan


def test_normalize_url_utm_anchor_and_runs(spark):
    # the mid-url utm pattern must be anchored to a real [?&] separator
    # (a param merely ENDING in 'utm_...' is not tracking) and must
    # collapse RUNS of adjacent utm params in one pass
    from dss_plugin_nlp_analysis_spark.operators.url import url_table

    rows = [
        (1, "https://a.com/?xutm_source=1&b=2"),     # NOT a utm param
        (2, "https://a.com/?a=1&gutm_term=x&b=2"),   # NOT a utm param
        (3, "https://a.com/?utm_a=1&utm_b=2&c=3"),   # adjacent run, mid
        (4, "https://a.com/?a=1&utm_x=1&utm_y=2"),   # run at the end
        (5, "https://a.com/?utm_a=1&utm_b=2"),       # all params are utm
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["id"]: r["url_norm"] for r in url_table(df, "doc_id", "url").collect()}
    assert out[1] == "https://a.com/?xutm_source=1&b=2"
    assert out[2] == "https://a.com/?a=1&gutm_term=x&b=2"
    assert out[3] == "https://a.com/?c=3"
    assert out[4] == "https://a.com/?a=1"
    assert out[5] == "https://a.com"
