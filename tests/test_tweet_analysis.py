"""Tweet analyzer + microblog search semantics.

The eleven golden tweets are the reference's own
`TweetTokenizationTest.java:34-68` examples; the search tests pin the
`searchTweets` contract (`SearchCollection.java:566-590`): id_long
range FILTER (no future tweets, stats untouched) and the
(score desc, id_long desc) tie order."""

import pytest

from anserini_spark.analysis.tweet import tweet_analyze

GOLDENS = [
    ("AT&T getting secret immunity from wiretapping laws for government surveillance http://vrge.co/ZP3Fx5",
     ["att", "get", "secret", "immun", "from", "wiretap", "law", "for",
      "govern", "surveil", "http://vrge.co/ZP3Fx5"]),
    ("want to see the @verge aston martin GT4 racer tear up long beach? http://theracersgroup.kinja.com/watch-an-aston-martin-vantage-gt4-tear-around-long-beac-479726219 …",
     ["want", "to", "see", "the", "@verge", "aston", "martin", "gt4",
      "racer", "tear", "up", "long", "beach",
      "http://theracersgroup.kinja.com/watch-an-aston-martin-vantage-gt4-tear-around-long-beac-479726219"]),
    ("Incredibly good news! #Drupal users rally http://bit.ly/Z8ZoFe  to ensure blind accessibility contributor gets to @DrupalCon #Opensource",
     ["incred", "good", "new", "#drupal", "user", "ralli",
      "http://bit.ly/Z8ZoFe", "to", "ensur", "blind", "access",
      "contributor", "get", "to", "@drupalcon", "#opensource"]),
    ("We're entering the quiet hours at #amznhack. #Rindfleischetikettierungsüberwachungsaufgabenübertragungsgesetz",
     ["were", "enter", "the", "quiet", "hour", "at", "#amznhack",
      "#rindfleischetikettierungsüberwachungsaufgabenübertragungsgesetz"]),
    ("The 2013 Social Event Detection Task (SED) at #mediaeval2013, http://bit.ly/16nITsf  supported by @linkedtv @project_mmixer @socialsensor_ip",
     ["the", "2013", "social", "event", "detect", "task", "sed", "at",
      "#mediaeval2013", "http://bit.ly/16nITsf", "support", "by",
      "@linkedtv", "@project_mmixer", "@socialsensor_ip"]),
    ("U.S.A. U.K. U.K USA UK #US #UK #U.S.A #U.K ...A.B.C...D..E..F..A.LONG WORD",
     ["usa", "uk", "uk", "usa", "uk", "#us", "#uk", "#u", "sa", "#u",
      "k", "abc", "d", "e", "f", "a", "long", "word"]),
    ("this is @a_valid_mention and this_is_multiple_words",
     ["thi", "is", "@a_valid_mention", "and", "thi", "is", "multipl",
      "word"]),
    ("PLEASE BE LOWER CASE WHEN YOU COME OUT THE OTHER SIDE - ALSO A @VALID_VALID-INVALID",
     ["pleas", "be", "lower", "case", "when", "you", "come", "out",
      "the", "other", "side", "also", "a", "@valid_valid", "invalid"]),
    ("＠reply @with #crazy ~＃at",
     ["＠reply", "@with", "#crazy", "＃at"]),
    (":@valid testing(valid)#hashtags. RT:@meniton (the last @mention is #valid and so is this:@valid), however this is@invalid",
     ["@valid", "test", "valid", "#hashtags", "rt", "@meniton", "the",
      "last", "@mention", "is", "#valid", "and", "so", "is", "thi",
      "@valid", "howev", "thi", "is", "invalid"]),
    ("this][is[lots[(of)words+with-lots=of-strange!characters?$in-fact=it&has&Every&Single:one;of<them>in_here_B&N_test_test?test\\test^testing`testing{testing}testing…testing¬testing·testing what?",
     ["thi", "is", "lot", "of", "word", "with", "lot", "of", "strang",
      "charact", "in", "fact", "it", "ha", "everi", "singl", "on",
      "of", "them", "in", "here", "bn", "test", "test", "test",
      "test", "test", "test", "test", "test", "test", "test", "test",
      "what"]),
]


@pytest.mark.parametrize("text,expected",
                         GOLDENS, ids=range(len(GOLDENS)))
def test_reference_goldens(text, expected):
    assert tweet_analyze(text) == expected


def test_no_stem_mode():
    assert tweet_analyze("getting #Drupal", stemming=False) == \
        ["getting", "#drupal"]
    # keyword tokens (urls/entities) are never stemmed either way
    assert tweet_analyze("running http://a.co/x")[0] == "run"
    assert tweet_analyze("running http://a.co/x")[1] == "http://a.co/x"


@pytest.fixture(scope="module")
def tweet_idx(spark, tmp_path_factory):
    """Tiny tweet index: url = decimal id_long; two docs tie exactly
    on BM25 (identical text + doclen)."""
    from anserini_spark.index.build import IndexConfig, build_index

    rows = [
        ("100", "spark is AWESOME #spark", "en"),
        ("200", "spark is AWESOME #spark", "en"),     # exact tie w/ 100
        ("300", "spark rocks @dev", "en"),
        ("400", "nothing to see here", "en"),
        ("500", "spark spark spark future tweet", "en"),
    ]
    corpus = spark.createDataFrame(
        rows, "url string, text string, lang string")
    out = str(tmp_path_factory.mktemp("tweets") / "idx")
    build_index(spark, corpus, IndexConfig(
        out_dir=out, analyzer="tweet", doc_partitions=2,
        block_partitions=2))
    return out


def test_tweet_search_range_and_tiebreak(spark, tweet_idx):
    from anserini_spark.search.searcher import BM25Params, InvertedIndex
    from anserini_spark.search.tweets import search_tweets

    idx = InvertedIndex(spark, tweet_idx)
    # analyzer routed from the manifest
    assert idx.analyze_query("getting #Spark") == ["get", "#spark"]

    # t=450 excludes tweet 500 even though it matches 'spark' 3x
    hits = search_tweets(idx, {1: "spark"}, {1: 450},
                         BM25Params(k=10)).collect()
    ids = [r["docid"] for r in hits]
    assert "500" not in ids
    # 100 and 200 tie exactly -> id_long DESC puts 200 first
    i100, i200 = ids.index("100"), ids.index("200")
    assert i200 < i100

    # t below every id -> no results for that qid; other qid unaffected
    hits = search_tweets(idx, {1: "spark", 2: "spark"}, {1: 50, 2: 450},
                         BM25Params(k=10)).collect()
    by_q = {}
    for r in hits:
        by_q.setdefault(r["qid"], []).append(r["docid"])
    assert 1 not in by_q and set(by_q[2]) == {"100", "200", "300"}

    # the filter must NOT change scores (collection stats untouched):
    # same query with a permissive t reproduces the unfiltered scores
    all_hits = search_tweets(idx, {3: "spark"}, {3: 10**9},
                             BM25Params(k=10)).collect()
    assert {r["docid"] for r in all_hits} == {"100", "200", "300", "500"}
    s450 = {r["docid"]: r["score"] for r in search_tweets(
        idx, {3: "spark"}, {3: 450}, BM25Params(k=10)).collect()}
    sall = {r["docid"]: r["score"] for r in all_hits}
    # 500 scores highest (tf=3) and is present only without the filter
    assert sall["500"] > sall["300"]
    for d in s450:
        assert s450[d] == sall[d]


def test_tweet_search_read_is_term_pruned(spark, tweet_idx, monkeypatch):
    """Tweet search scores through the block kernel's segment tasks:
    they read blocks.parquet with the query terms pushed into the
    pyarrow read, and the Spark plan explodes no docvec postings."""
    from anserini_spark.search.searcher import BM25Params, InvertedIndex
    from anserini_spark.search.tweets import search_tweets
    from tests.runcheck import assert_term_pruned, kernel_reads

    idx = InvertedIndex(spark, tweet_idx)
    plans = []
    reads = kernel_reads(monkeypatch, lambda: plans.append(
        search_tweets(idx, {1: "spark"}, {1: 450}, BM25Params(k=5))
        ._jdf.queryExecution().executedPlan().toString()), idx)
    assert "MapInArrow" in plans[0]
    assert "arrays_zip" not in plans[0]  # no docvec posting explode
    assert_term_pruned(reads, idx.analyze_query("spark"))


def test_tweet_search_scores_equal_kernel(spark, tweet_idx):
    """With no id cut-off and no score ties, tweet search returns
    exactly ``search_kernel``'s (docid, score) list: one BM25
    arithmetic."""
    from anserini_spark.search.searcher import (BM25Params, InvertedIndex,
                                                search_kernel)
    from anserini_spark.search.tweets import search_tweets

    idx = InvertedIndex(spark, tweet_idx)
    q = {1: "@dev future nothing"}  # three docs, three doclens
    p = BM25Params(k=10)
    tweets = [(r["docid"], r["score"]) for r in
              search_tweets(idx, q, {1: 10**18}, p).collect()]
    kern = [(r["docid"], r["score"]) for r in
            search_kernel(idx, q, p).collect()]
    assert len(tweets) == 3
    assert len({s for _, s in tweets}) == 3  # no ties to order apart
    assert tweets == kern
