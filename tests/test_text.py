"""Text-analysis expression tests (north-star extension surface)."""

import pytest
from pyspark.sql import functions as F

from pq_vector_spark.functions import text as T


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text STRING")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_token_and_char_count(spark):
    assert _one(spark, "Hello  world foo", T.token_count("text")) == 3
    assert _one(spark, "abc", T.char_count("text")) == 3


def test_stopword_ratio(spark):
    assert _one(spark, "the cat sat on the mat", T.stopword_ratio("text")) == pytest.approx(
        2 / 6
    )


def test_punct_ratio(spark):
    assert _one(spark, "ab!?", T.punct_ratio("text")) == pytest.approx(0.5)


def test_quality_score_bounds(spark):
    v = _one(spark, "the quick brown fox jumps over the lazy dog", T.quality_score("text"))
    assert 0.0 <= v <= 1.0
    assert v > 0.5  # natural english sentence scores well


def test_lang_guess(spark):
    assert _one(spark, "the cat and the dog in a house", T.lang_guess("text")) == "en"
    assert _one(spark, "el perro y la casa que es un gato", T.lang_guess("text")) == "es"
    assert _one(spark, "der hund und die katze ist nicht von", T.lang_guess("text")) == "de"
    assert _one(spark, "xyzzy qwerty", T.lang_guess("text")) == "und"


def test_normalize_and_fingerprint(spark):
    a = _one(spark, "  Hello   World ", T.fingerprint("text"))
    b = _one(spark, "hello world", T.fingerprint("text"))
    assert a == b  # normalization collapses case/whitespace


def test_token_hash_deterministic_and_positive(spark):
    a = _one(spark, "abc", T.token_hash("text"))
    b = _one(spark, "abc", T.token_hash("text"))
    assert a == b
    assert 0 <= a < 2**60


def test_length_quantiles_exact(spark):
    from pq_vector_spark.functions.text import length_quantiles

    docs = spark.createDataFrame(
        [(i, "x" * n) for i, n in enumerate([10, 20, 30, 40, 50])],
        "doc_id INT, text STRING",
    )
    row = length_quantiles(docs, "text").collect()[0]
    # percentile_cont over [10..50]: p·(n−1) interpolation
    assert row["n_docs"] == 5
    assert row["q_25"] == 20.0
    assert row["q_50"] == 30.0
    assert row["q_75"] == 40.0
    assert row["q_90"] == 46.0


def test_ngram_doc_frequency(spark):
    from pq_vector_spark.functions.text import ngram_doc_frequency

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "the quick brown dog"),
            (2, "a quick brown dog"),
        ],
        "doc_id INT, text STRING",
    )
    got = [(r["ngram"], r["df"]) for r in ngram_doc_frequency(docs, "text", n=3, top=3).collect()]
    assert got[0] == ("quick brown dog", 2)  # ties broken by ngram asc
    assert all(df >= got[-1][1] for _, df in got)
    assert ("the quick brown", 2) in got


def test_tfidf_top_terms_golden(spark):
    """3-doc corpus with a hand-computable idf structure: 'rare' appears in
    one doc only (highest idf), 'common' in all three (lowest)."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common other other other"),
            (3, "common other"),
        ],
        "doc_id INT, text STRING",
    )
    out = {
        (r["doc_id"], r["term"]): (r["tf"], r["score"], r["rank"])
        for r in T.tfidf_top_terms(docs, "text", "doc_id", top=2).collect()
    }
    idf = lambda df_t: math.log((3 + 1) / (df_t + 1)) + 1.0
    # doc 1: rare tf=2 df=1 beats common tf=1 df=3
    assert out[(1, "rare")][2] == 1
    assert out[(1, "rare")][0] == 2
    assert out[(1, "rare")][1] == pytest.approx(round(2 * idf(1), 4))
    assert out[(1, "common")] == (1, pytest.approx(round(idf(3), 4)), 2)
    # doc 2: other tf=3 df=2 ranks first
    assert out[(2, "other")][2] == 1
    # every doc emits at most `top` rows
    counts = {}
    for (d, _t), _ in out.items():
        counts[d] = counts.get(d, 0) + 1
    assert all(c <= 2 for c in counts.values())


def test_bm25_topk_golden(spark):
    """BM25 must rank the doc with more query-term occurrences (at equal
    length) first, and ignore docs with no query terms."""
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark pad"),
            (2, "spark pad pad pad"),
            (3, "nothing here at all"),
        ],
        "doc_id INT, text STRING",
    )
    rows = T.bm25_topk(docs, "text", "doc_id", ["spark"], k=10).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids == [1, 2]  # doc 3 has no match → absent
    assert rows[0]["score"] > rows[1]["score"] > 0.0


def _bm25_column_reference(df, text_col, id_col, query_terms, k=10, k1=1.2, b=0.75):
    """The Column-op BM25 pipeline that ``bm25_topk`` renders as one SQL
    call, kept verbatim as the test oracle."""
    terms = [str(t).lower() for t in query_terms]
    base = df.select(
        F.col(id_col).alias("_id"),
        T.tokens(text_col).alias("_toks"),
    ).select("*", F.size("_toks").cast("bigint").alias("dl"))
    toks = base.select(
        "_id", "dl", F.explode("_toks").alias("term")
    ).filter(F.col("term").isin(terms))
    tf = toks.groupBy("_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = (
        tf.filter(F.col("tf") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df_t"))
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("dl").cast("double").alias("_total_dl"),
    ).select(
        "*", (F.col("_total_dl") / F.col("_n").cast("double")).alias("avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n").cast("double") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t").cast("double") + F.lit(0.5))
    )
    tf_part = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("*", (idf * tf_part).alias("_s"))
    )
    return (
        scored.groupBy("_id")
        .agg(F.round(F.sum("_s"), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("_id").asc())
        .limit(k)
        .select(F.col("_id").alias(id_col), "score")
    )


def test_bm25_sql_path_matches_column_path(spark):
    """The one-shot SQL form of bm25_topk must be bit-identical to the
    Column-op reference pipeline (schema and values), with non-default
    k1/b literals rendered exactly."""
    docs = spark.createDataFrame(
        [
            (1, "spark spark window pad pad"),
            (2, "spark pad pad pad"),
            (3, "hash hash hash window"),
            (4, "nothing here at all"),
            (5, "it's a spark 'quote' test"),
        ],
        "doc_id INT, text STRING",
    )
    terms = ["spark", "window", "hash", "it's"]
    for k1, b in [(1.2, 0.75), (1.7, 0.3)]:
        via_sql = T.bm25_topk(docs, "text", "doc_id", terms, k=10, k1=k1, b=b)
        via_col = _bm25_column_reference(
            docs, "text", "doc_id", terms, k=10, k1=k1, b=b
        )
        assert via_sql.schema == via_col.schema
        assert [tuple(r) for r in via_sql.collect()] == [
            tuple(r) for r in via_col.collect()
        ]


def test_bm25_length_normalization(spark):
    """Equal tf, different document lengths: the shorter doc scores higher
    (the b·dl/avgdl penalty)."""
    docs = spark.createDataFrame(
        [
            (1, "spark pad"),
            (2, "spark pad pad pad pad pad pad pad"),
        ],
        "doc_id INT, text STRING",
    )
    rows = T.bm25_topk(docs, "text", "doc_id", ["spark"], k=10).collect()
    assert [r["doc_id"] for r in rows] == [1, 2]


def test_bpe_token_count_golden(spark):
    rows = [
        (1, "Hello, world! 123 abc"),  # Hello , _world ! _123 _abc → 6
        (2, "don't"),                  # don ' t → 3
        (3, ""),                       # no matches
    ]
    df = spark.createDataFrame(rows, "id INT, t STRING")
    got = {r["id"]: r["n"] for r in df.select("id", T.bpe_token_count("t").alias("n")).collect()}
    assert got == {1: 6, 2: 3, 3: 0}


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing theorem: two documents sharing a run of >= k + w - 1
    tokens (here 3 + 4 - 1 = 6) must share at least one fingerprint;
    documents with no full window emit nothing."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 shared tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words {shared} tail one"),
            (2, f"completely different head {shared} other ending"),
            (3, "unrelated text entirely here now okay fine"),
            (4, "tiny doc"),  # < k tokens → no grams → no fingerprints
        ],
        "doc_id INT, text STRING",
    )
    fp = T.winnow_fingerprints(docs, "text", "doc_id", k=3, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    # density sanity: far fewer fingerprints than grams
    assert len(by_doc[1]) < 9  # doc 1 has 10 tokens → 8 grams


def test_unigram_logprob_ranks_gibberish_below_fluent(spark):
    """Common-token docs must score above docs of corpus-rare tokens; a
    doc with the corpus's most frequent tokens scores highest; all docs
    surface (left join), scores strictly negative."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ran to the mat"),
            (3, "zxqv jkwp qqrr vvbn zzyy xxoo"),  # singletons only
            (4, "the the the the the the"),        # most frequent token
        ],
        "doc_id INT, text STRING",
    )
    out = {r["doc_id"]: r["logprob"] for r in T.unigram_logprob(docs, "text", "doc_id").collect()}
    assert len(out) == 4
    assert all(v < 0 for v in out.values())
    assert out[4] > out[1] > out[3]
    assert out[2] > out[3]


def test_repetition_ratios_golden(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # 2-grams: 'a a' ×3 → dup 2/3, top 1.0
            (2, "w x y z"),          # all distinct → dup 0, top 1/3
            (3, "solo"),             # < n tokens → no grams → NULL ratios
            (4, ""),                 # empty doc → no grams → NULL ratios
        ],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: (r["dup_ngram_ratio"], r["top_ngram_ratio"])
        for r in T.repetition_ratios(docs, "text", "doc_id", n=2).collect()
    }
    assert out[1] == (pytest.approx(round(1 - 1 / 3, 4)), 1.0)
    assert out[2] == (0.0, pytest.approx(round(1 / 3, 4)))
    # docs without a single full n-gram must NOT read as maximally
    # repetitive (top_ngram_ratio 1.0) — they have no signal at all
    assert out[3] == (None, None)
    assert out[4] == (None, None)


def test_gopher_quality_flags_golden(spark):
    """Gopher rule filters (Rae et al. 2021): each rule trips on the doc
    built to violate exactly it; the clean doc passes all; the empty doc
    fails every word-derived rule by definition."""
    good = (
        "the data pipeline works well and that should have been fine with "
        + " ".join(f"word{i}" for i in range(60))
    )
    rows = [
        (1, good),
        (2, "short text"),                         # too few words
        (3, good + " " + "#" * 50),                # symbol ratio
        (4, "\n".join(["- bullet"] * 10)),         # bullet lines
        (5, ""),                                   # empty
        (6, "\n".join(["ends..."] * 10 + ["x"])),  # ellipsis lines
        (7, " ".join(["12345"] * 80)),             # no alphabetic words
        (8, good.replace("word", "w" * 30)),       # mean word length
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", T.gopher_quality_flags("text").alias("g")
        ).select("doc_id", "g.*").collect()
    }
    assert out[1]["passes"] and out[1]["n_words"] == 72
    assert not out[2]["words_ok"] and not out[2]["passes"]
    assert not out[3]["symbol_ok"] and out[3]["words_ok"]
    assert not out[4]["bullet_ok"]
    e = out[5]
    assert e["n_words"] == 0 and not e["words_ok"] and not e["mean_word_len_ok"]
    assert not e["symbol_ok"] and not e["alpha_ok"] and not e["passes"]
    assert e["bullet_ok"] and e["ellipsis_ok"]  # line rules hold vacuously
    assert not out[6]["ellipsis_ok"]
    assert not out[7]["alpha_ok"] and out[7]["words_ok"]
    assert not out[8]["mean_word_len_ok"]
    # thresholds are tunable: loosening the word floor flips doc 2's rule
    loose = df.filter("doc_id = 2").select(
        T.gopher_quality_flags("text", min_words=2, min_stop_hits=0).alias("g")
    ).select("g.*").collect()[0]
    assert loose["words_ok"] and loose["stop_ok"]


def test_gopher_symbol_ratio_counts_unicode_ellipsis(spark):
    """r13 (ADVICE r12): the symbol-to-word ratio counts the Unicode '…'
    alongside ASCII '...' — a '…'-heavy doc must fail symbol_ok exactly
    like its ASCII twin (Dolma/RefinedWeb count both spellings)."""
    base = (
        "the data pipeline works well and that should have been fine with "
        + " ".join(f"word{i}" for i in range(60))
    )
    rows = [(1, base + " " + "…" * 20), (2, base + " " + "..." * 20), (3, base)]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = {
        r["doc_id"]: r["g"]["symbol_ok"]
        for r in df.select(
            "doc_id", T.gopher_quality_flags("text").alias("g")
        ).collect()
    }
    assert not out[1] and not out[2] and out[3]


def test_duplicate_span_stats_golden(spark):
    """Duplicate-line fractions: every occurrence of a repeated span
    counts (Gopher/Dolma definition), char weighting separates short
    chrome from long copied blocks, blank spans are structure, and a doc
    with no non-blank span has NULL fractions (no signal)."""
    rows = [
        (1, "a\nb\nc"),
        (2, "x\nx\nlonger line\nx"),
        (3, "\n\n  \n"),
        (4, "p\n\np\n\nqq"),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = {
        r["doc_id"]: (r["dup_span_frac"], r["dup_span_char_frac"])
        for r in T.duplicate_span_stats(df, "text", "doc_id").collect()
    }
    assert out[1] == (0.0, 0.0)
    assert out[2] == (0.75, pytest.approx(round(3 / 14, 4)))
    assert out[3] == (None, None)
    # default line split sees p,p,qq (blanks excluded): 2/3 of lines,
    # 2/4 of chars are duplicates; the paragraph split gives the same
    assert out[4] == (pytest.approx(round(2 / 3, 4)), 0.5)
    para = {
        r["doc_id"]: r["dup_span_frac"]
        for r in T.duplicate_span_stats(df, "text", "doc_id", sep="\n\n").collect()
    }
    assert para[4] == pytest.approx(round(2 / 3, 4))


def test_c4_line_filters_golden(spark):
    """C4 rules (Raffel et al. 2020): short lines, unterminated lines and
    javascript lines drop; page flags catch lorem ipsum, curly braces and
    too-few sentences; cleaned text preserves surviving bytes/order."""
    good = (
        "This is a perfectly reasonable first sentence for a web page.\n"
        "menu\n"
        "Please enable javascript to view this site properly today.\n"
        "Here is another sentence that carries enough words to keep!\n"
        "short line here.\n"
        "And a third full sentence rounds out the document nicely?"
    )
    rows = [
        (1, good),
        (2, "Lorem ipsum dolor sit amet consectetur adipiscing elit sed."
            "\nAnd yet another full sentence appears right here today."
            "\nAnd one more full sentence appears right here again now."),
        (3, "function f() { return 1; } is a sentence with many words."
            "\nAnd another full sentence is right here with many words."
            "\nAnd a third full sentence is right here with many words."),
        (4, "Only one real sentence lives on this entire web page today."),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", T.c4_line_filters("text").alias("c")
        ).select("doc_id", "c.*").collect()
    }
    d1 = out[1]
    assert d1["n_lines"] == 6 and d1["n_kept"] == 3
    assert d1["text_clean"] == (
        "This is a perfectly reasonable first sentence for a web page.\n"
        "Here is another sentence that carries enough words to keep!\n"
        "And a third full sentence rounds out the document nicely?"
    )
    assert d1["sentences"] == 3 and d1["passes"]
    assert not out[2]["no_lorem_ipsum"] and not out[2]["passes"]
    assert out[2]["n_kept"] == 3  # line rules pass; the PAGE flag kills it
    assert not out[3]["no_curly_brace"] and not out[3]["passes"]
    assert not out[4]["sentences_ok"] and not out[4]["passes"]
    e = out[5]
    assert e["n_kept"] == 0 and not e["passes"]
    # thresholds are tunable
    loose = df.filter("doc_id = 4").select(
        T.c4_line_filters("text", min_sentences=1).alias("c")
    ).select("c.*").collect()[0]
    assert loose["sentences_ok"] and loose["passes"]


def test_token_ngrams_upto_equals_per_n_concat(spark):
    """r15 single-pass featurizer (_token_ngrams_upto): one tokenization,
    every window size slid over the same token array — the gram MULTISET
    must equal concatenating _token_ngrams per n, including the edge
    cases (empty doc, whitespace-only, fewer tokens than n)."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "one"),
            (3, "two words"),
            (4, ""),
            (5, "   "),
            (6, None),
            (7, "a b c d"),
        ],
        "doc_id bigint, text string",
    )
    for n_max in (1, 2, 3):
        parts = T._token_ngrams("text", 1)
        for n in range(2, n_max + 1):
            parts = F.concat(parts, T._token_ngrams("text", n))
        got = {
            r["doc_id"]: sorted(r["g"]) if r["g"] is not None else None
            for r in docs.select(
                "doc_id", T._token_ngrams_upto("text", n_max).alias("g")
            ).collect()
        }
        want = {
            r["doc_id"]: sorted(r["g"]) if r["g"] is not None else None
            for r in docs.select("doc_id", parts.alias("g")).collect()
        }
        assert got == want, f"n_max={n_max}"


def _ref_token_ngrams(col, n):
    """Column-op reference for T._token_ngrams (the pre-render form)."""
    return F.transform(
        F.array(T.tokens(col)),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )[0]


def _ref_token_ngrams_upto(col, n_max):
    """Column-op reference for T._token_ngrams_upto (the pre-render form)."""
    return F.transform(
        F.array(T.tokens(col)),
        lambda toks: F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.lit(int(n_max))),
                lambda n: F.when(
                    F.size(toks) >= n,
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size(toks) - (n - 1), F.lit(1)),
                        ),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ),
    )[0]


def test_sql_rendered_ngrams_identical(spark):
    """The SQL-rendered _token_ngrams / _token_ngrams_upto must be
    bit-identical to the Column-op reference implementations above — including
    empty/NULL text, whitespace-only docs, SQL-special characters, and
    unicode."""
    docs = spark.createDataFrame(
        [
            (1, ""), (2, None), (3, "a"), (4, "  x\t y\nz  "),
            (5, "one two three four five six"),
            (6, "`backtick` 'quote' \\ slash % percent _ under"),
            (7, "éü unicode tökens"), (8, "a b a b a b a b"), (9, "   "),
        ],
        "doc_id int, text string",
    )
    text = F.col("text")
    for label, fast, slow in (
        ("ngrams_n1", T._token_ngrams("text", 1), _ref_token_ngrams(text, 1)),
        ("ngrams_n3", T._token_ngrams("text", 3), _ref_token_ngrams(text, 3)),
        ("ngrams_n9", T._token_ngrams("text", 9), _ref_token_ngrams(text, 9)),
        ("upto_1", T._token_ngrams_upto("text", 1),
         _ref_token_ngrams_upto(text, 1)),
        ("upto_2", T._token_ngrams_upto("text", 2),
         _ref_token_ngrams_upto(text, 2)),
        ("upto_4", T._token_ngrams_upto("text", 4),
         _ref_token_ngrams_upto(text, 4)),
    ):
        a = docs.select(fast.alias("x")).collect()
        b = docs.select(slow.alias("x")).collect()
        assert a == b, label
