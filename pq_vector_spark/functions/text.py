"""Text-analysis expressions for training-data pipelines — all native
Catalyst columns (split/transform/filter/aggregate), no Python workers, so
they run inside whole-stage codegen and scale linearly with no shuffle.

Beyond the reference surface (BASELINE.json north-star): language-ID
heuristic, quality scoring, token counting, fingerprinting. Every function
is deliberately expressible in ANSI SQL too, so the DuckDB oracle can
replicate it bit-for-bit (ratios are int/int divisions — identical doubles
on both engines).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from pq_vector_spark.functions.sqltext import dlit, ident, tokens_sql

# tiny per-language stopword lists for the n-gram/stopword language heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est", "se", "ne"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "ist", "nicht", "von"],
}

DEFAULT_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(col) -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("bigint")


def char_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c).cast("bigint")


def avg_token_length(col) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
    return total.cast("double") / F.size(t).cast("double")


def stopword_ratio(col, stopwords: Optional[Sequence[str]] = None) -> Column:
    """fraction of tokens that are stopwords — a quality signal."""
    sw = list(stopwords or DEFAULT_STOPWORDS)
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(sw)))
    return hits.cast("double") / F.size(t).cast("double")


def punct_ratio(col) -> Column:
    """fraction of characters that are not alphanumeric/space."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.length(stripped).cast("double") / F.length(c).cast("double")


def quality_score(col, stopwords: Optional[Sequence[str]] = None) -> Column:
    """Composite [0,1]-ish quality score: favors texts with moderate length,
    some stopwords (natural language), little punctuation noise. The exact
    weights are conventions of this engine; deterministic int/int math.

    The token array is let-bound once via ``transform(array(tokens), …)``
    (Catalyst does not CSE the split across the length/stopword subtrees —
    unbound, the split would evaluate ≥2× per row on the hottest text
    path; same trick as ``_token_ngrams``)."""
    sw = list(stopwords or DEFAULT_STOPWORDS)

    def _score(t: Column) -> Column:
        n = F.size(t).cast("bigint")
        length_ok = F.when((n >= 5) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
        sw_ratio = (
            F.size(F.filter(t, lambda x: x.isin(sw))).cast("double")
            / F.size(t).cast("double")
        )
        return (
            length_ok * F.lit(0.4)
            + F.least(sw_ratio * F.lit(4.0), F.lit(1.0)) * F.lit(0.4)
            + (F.lit(1.0) - F.least(punct_ratio(col) * F.lit(10.0), F.lit(1.0)))
            * F.lit(0.2)
        )

    return F.transform(F.array(tokens(col)), _score)[0]


# Gopher rule-filter stop set (Rae et al. 2021, table A2): a doc must
# contain >= 2 of these to count as natural English prose
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    col,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    stopwords: Optional[Sequence[str]] = None,
    bullets: Sequence[str] = ("•", "-", "*"),
) -> Column:
    """The Gopher rule filters (Rae et al. 2021, arXiv:2112.11446 §A1.1)
    as ONE struct column of named booleans — the standard first-pass web
    cleaning spec (reused by MassiveText / RefinedWeb / Dolma):

    - ``words_ok``: 50 ≤ word count ≤ 100,000;
    - ``mean_word_len_ok``: mean word length in [3, 10];
    - ``symbol_ok``: ('#' + '...'/'…')-to-word ratio ≤ 0.1;
    - ``bullet_ok``: ≤ 90 % of lines start with a bullet;
    - ``ellipsis_ok``: ≤ 30 % of lines end with '...'/'…';
    - ``alpha_ok``: ≥ 80 % of words contain an alphabetic character;
    - ``stop_ok``: ≥ 2 distinct Gopher stop words present;
    - ``passes``: the conjunction; plus ``n_words`` for reporting.

    All native expressions (split/filter/aggregate — whole-stage codegen,
    zero shuffle, and an exact ANSI-SQL twin exists for every rule, so the
    DuckDB oracle replays the flags bit-for-bit; every ratio is the same
    int-derived double division on both engines). An EMPTY document fails
    the word-derived rules by definition. The alphabetic test is [a-z] on
    the lowercased tokens — the ruleset is an English-web spec; non-Latin
    corpora should route through ``lang_guess`` first, not this filter.
    Thresholds are keyword-tunable but default to the paper's.
    """
    c = F.col(col) if isinstance(col, str) else col
    sw = [s.lower() for s in (stopwords or GOPHER_STOPWORDS)]

    hash_cnt = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    # both ellipsis spellings count toward the symbol ratio (r13, ADVICE
    # r12: Gopher-lineage implementations — Dolma/RefinedWeb — count the
    # Unicode "…" too; the single-char form needs no /3 divisor)
    ell_cnt = (F.length(c) - F.length(F.replace(c, F.lit("...")))) / F.lit(3) + (
        F.length(c) - F.length(F.replace(c, F.lit("…")))
    )
    lines = F.split(c, r"\n")

    def _line_flags(ls: Column) -> Column:
        n_lines = F.size(ls).cast("double")
        bullet = F.size(
            F.filter(
                ls,
                lambda l: _any_prefix(F.ltrim(l), bullets),
            )
        ).cast("double")
        ell = F.size(
            F.filter(
                ls,
                lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
            )
        ).cast("double")
        return F.struct(
            (bullet / n_lines <= F.lit(float(max_bullet_line_frac))).alias("b"),
            (ell / n_lines <= F.lit(float(max_ellipsis_line_frac))).alias("e"),
        )

    def _flags(t: Column) -> Column:
        words = F.filter(t, lambda x: x != F.lit(""))
        n = F.size(words).cast("bigint")
        nd = n.cast("double")
        total_chars = F.aggregate(
            words, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        mean_wl = total_chars / nd
        alpha = F.size(F.filter(words, lambda x: x.rlike("[a-z]"))).cast("double")
        stop_hits = F.size(
            F.array_intersect(
                F.array_distinct(words), F.array(*[F.lit(s) for s in sw])
            )
        )
        lf = _line_flags(lines)
        nonempty = n > 0
        words_ok = (n >= F.lit(min_words)) & (n <= F.lit(max_words))
        mean_ok = nonempty & (
            (mean_wl >= F.lit(float(min_mean_word_len)))
            & (mean_wl <= F.lit(float(max_mean_word_len)))
        )
        symbol_ok = nonempty & (
            (hash_cnt + ell_cnt) / nd <= F.lit(float(max_symbol_word_ratio))
        )
        alpha_ok = nonempty & (alpha / nd >= F.lit(float(min_alpha_word_frac)))
        stop_ok = stop_hits >= F.lit(min_stop_hits)
        bullet_ok, ellipsis_ok = lf["b"], lf["e"]
        return F.struct(
            n.alias("n_words"),
            words_ok.alias("words_ok"),
            mean_ok.alias("mean_word_len_ok"),
            symbol_ok.alias("symbol_ok"),
            bullet_ok.alias("bullet_ok"),
            ellipsis_ok.alias("ellipsis_ok"),
            alpha_ok.alias("alpha_ok"),
            stop_ok.alias("stop_ok"),
            (
                words_ok & mean_ok & symbol_ok & bullet_ok & ellipsis_ok
                & alpha_ok & stop_ok
            ).alias("passes"),
        )

    return F.transform(F.array(tokens(col)), _flags)[0]


def _any_prefix(expr: Column, prefixes: Sequence[str]) -> Column:
    out = None
    for p in prefixes:
        t = expr.startswith(p)
        out = t if out is None else (out | t)
    return out


C4_TERMINALS = (".", "!", "?", '"', "”", "'")


def c4_line_filters(
    col,
    *,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    terminals: Sequence[str] = C4_TERMINALS,
    ban_line_words: Sequence[str] = ("javascript",),
    ban_page_phrases: Sequence[str] = ("lorem ipsum",),
    ban_page_chars: Sequence[str] = ("{",),
) -> Column:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2 — the other
    canonical web first-pass next to the Gopher rules, reused by
    FineWeb/Dolma) as ONE struct column: line-level filtering plus the
    page-level flags, so callers get the cleaned text AND the keep/drop
    decision from a single whole-stage-codegen pass.

    Line level (a line survives iff ALL hold):

    - ends in a terminal punctuation mark (``terminals`` — the paper's
      ., !, ?, closing quote), after right-trim;
    - has ≥ ``min_words_per_line`` whitespace words (paper: 5);
    - contains no ``ban_line_words`` token-insensitive substring
      (paper: "javascript" — cookie/JS boilerplate lines).

    Page level:

    - ``sentences_ok``: the CLEANED text carries ≥ ``min_sentences``
      sentence enders (occurrences of . ! ? — a deterministic,
      engine-replayable proxy for the paper's "at least 3 sentences");
    - ``no_lorem_ipsum`` / ``no_curly_brace``: the RAW page contains none
      of ``ban_page_phrases`` (case-insensitive) / ``ban_page_chars``
      (code, not prose — the paper drops pages with '{');
    - ``passes``: all page flags AND at least one surviving line.

    Returns struct ``(text_clean, n_lines, n_kept, sentences,
    sentences_ok, no_lorem_ipsum, no_curly_brace, passes)``;
    ``text_clean`` joins survivors with ``\\n`` verbatim (bytes
    preserved, order preserved — the paragraph-dedup discipline). The
    word-dirty-list rule is ``ban_line_words``-shaped too — pass your
    own list; none ships by default. Complements
    :func:`gopher_quality_flags`: C4 edits lines, Gopher judges whole
    documents — FineWeb applies both.
    """
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, r"\n", -1)

    def _line_ok(l: Column) -> Column:
        r = F.rtrim(l)
        term = _any_suffix(r, terminals)
        words = F.filter(F.split(F.trim(l), r"\s+"), lambda x: x != F.lit(""))
        enough = F.size(words) >= F.lit(int(min_words_per_line))
        low = F.lower(l)
        banned = None
        for w in ban_line_words:
            hit = low.contains(w.lower())
            banned = hit if banned is None else (banned | hit)
        ok = term & enough
        if banned is not None:
            ok = ok & ~banned
        return ok

    kept = F.filter(lines, _line_ok)
    cleaned = F.array_join(kept, "\n")
    sentences = F.length(cleaned) - F.length(F.translate(cleaned, ".!?", ""))
    low_page = F.lower(c)
    no_phrase = None
    for p in ban_page_phrases:
        t = ~low_page.contains(p.lower())
        no_phrase = t if no_phrase is None else (no_phrase & t)
    no_char = None
    for ch in ban_page_chars:
        t = ~c.contains(ch)
        no_char = t if no_char is None else (no_char & t)
    no_phrase = F.lit(True) if no_phrase is None else no_phrase
    no_char = F.lit(True) if no_char is None else no_char
    sent_ok = sentences >= F.lit(int(min_sentences))
    return F.struct(
        cleaned.alias("text_clean"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        sentences.cast("bigint").alias("sentences"),
        sent_ok.alias("sentences_ok"),
        no_phrase.alias("no_lorem_ipsum"),
        no_char.alias("no_curly_brace"),
        (
            sent_ok & no_phrase & no_char & (F.size(kept) > 0)
        ).alias("passes"),
    )


def _any_suffix(expr: Column, suffixes: Sequence[str]) -> Column:
    out = None
    for s in suffixes:
        t = expr.endswith(s)
        out = t if out is None else (out | t)
    return out


def lang_guess(col) -> Column:
    """Stopword-overlap language ID: argmax over per-language stopword hit
    counts, 'und' (undetermined) when no list scores > 0. Tie-break by
    language code ascending for determinism."""
    t = tokens(col)

    def _hits(sw):
        # NB: higher-order-function lambdas must take exactly the declared
        # arity — no default-arg captures (PySpark maps extra params to the
        # element index) — so close over the list via a factory instead.
        return F.size(F.filter(t, lambda x: x.isin(list(sw))))

    scores = [(lang, _hits(sw)) for lang, sw in sorted(LANG_STOPWORDS.items())]
    best_score = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    # first language (ascending) achieving the max wins → build right-to-left
    for lang, s in reversed(scores):
        guess = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(guess)
    return guess


def normalize_text(col) -> Column:
    """lower + collapse whitespace + trim — canonical form for dedup.
    Collapse happens BEFORE the trim so the form is idempotent (a trailing
    tab first becomes a trailing space, which must then be trimmed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col) -> Column:
    """md5 of the normalized text — the exact-dedup key. (A content hash
    stands in for the reference's FNV row hashing used to key benchmark
    recall, reference: benches/query.rs:498-560.)"""
    return F.md5(normalize_text(col))


# GPT-2-style pre-tokenizer pattern, reduced to the Java/RE2-portable
# subset (no lookahead, no unicode classes): a token is an optional-space
# letter run, digit run, or punctuation run, else a whitespace run.
BPE_SPLIT_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_token_count(col) -> Column:
    """BPE-ish token count: non-overlapping matches of the pre-tokenizer
    pattern — a much closer LLM-token estimate than whitespace splitting
    (punctuation and digit runs count separately, as real BPE vocabularies
    see them). Native ``regexp_count``, map-side, no shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_SPLIT_PATTERN)).cast("bigint")


def token_hash(col_or_expr) -> Column:
    """Deterministic 60-bit integer hash of a string via md5 hex prefix —
    portable across engines (DuckDB computes the identical value), unlike
    Spark's xxhash64. Basis for minhash/simhash."""
    c = F.col(col_or_expr) if isinstance(col_or_expr, str) else col_or_expr
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def gram_hash_fn(family: str, param: str = "gram_hash"):
    """Shared gram/bucket hash-family dispatch: ``"portable"`` → the
    md5-derived :func:`token_hash` an external engine replays
    bit-for-bit (the oracle family); ``"fast"`` → JVM ``xxhash64``
    (~3-4× cheaper per gram — the at-scale probe family). One mapping
    serves decontaminate/bloom/dsir so the families can never drift
    apart; ``param`` names the caller's keyword in the error."""
    if family == "portable":
        return token_hash
    if family == "fast":
        return F.xxhash64
    raise ValueError(f"{param} must be portable|fast, got {family!r}")


def length_quantiles(df, text_col: str, probs: Sequence[float] = (0.25, 0.5, 0.75, 0.9)):
    """Exact continuous quantiles of document character length — the
    distribution summary a pipeline reads before choosing length filters.

    Uses ``percentile`` (EXACT, linear interpolation at rank p·(n−1) — the
    same definition as ANSI ``percentile_cont``/DuckDB ``quantile_cont``,
    so oracle-checkable to the digit). Exact percentile aggregates a
    per-partition value→count map; doc-length cardinality is tiny (≤ a few
    million distinct ints at any corpus size), so the map stays small at
    100 TB. For true high-cardinality columns swap in
    ``approx_percentile`` and drop the oracle to tolerance checks.

    Returns one row: (n_docs, q_<pct> per requested prob).
    """
    lens = df.select(F.length(F.col(text_col)).cast("double").alias("_len"))
    agg = lens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.percentile(F.col("_len"), F.array(*[F.lit(float(p)) for p in probs])).alias("_q"),
    )
    cols = [F.col("n_docs")] + [
        F.round(F.col("_q")[i], 4).alias(f"q_{int(round(p * 100))}")
        for i, p in enumerate(probs)
    ]
    return agg.select(*cols)


def ngram_doc_frequency(df, text_col: str, n: int = 3, top: int = 20):
    """Corpus document frequency of token n-grams — the IDF-table building
    block (and a boilerplate detector: n-grams near df = n_docs are
    template text worth stripping before training).

    One explode + one count shuffle with map-side combine; the final top-N
    is TakeOrderedAndProject. Deterministic ordering (df desc, ngram asc).
    Reuses the dedup module's shingle expression so the n-grams here are
    exactly the units MinHash/Jaccard dedup operates on.
    """
    from pq_vector_spark.operators.dedup import shingles  # runtime: avoids cycle

    ex = df.select(F.explode(shingles(text_col, n)).alias("ngram"))
    return (
        ex.groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .orderBy(F.col("df").desc(), F.col("ngram").asc())
        .limit(top)
    )


def tfidf_top_terms(df, text_col: str, id_col: str, top: int = 3):
    """Per-document top-N TF-IDF terms — the classic keyword-extraction /
    relevance primitive a training-data pipeline uses for topic tagging and
    boilerplate screening.

    idf is the sklearn-style smooth variant ``ln((N+1)/(df_t+1)) + 1``
    (strictly positive, never divides by zero); score = tf · idf, ranked
    per document (score desc, term asc) with ``row_number``.

    Scale shape: one explode shuffles (doc, term) pairs with map-side
    combine into per-doc term counts; document frequency is a second
    aggregation on the distinct pairs; the tf↔df join keys on term (AQE
    picks broadcast when the vocabulary is small enough); the per-doc
    window repartitions by document — balanced regardless of term skew.
    The corpus-size scalar joins via an explicit tiny broadcast.
    """
    # (r16: a conditional pre-explode spread was MEASURED here and
    # reverted — whitespace tokenization is too little compute per row to
    # pay for the extra exchange: 1.73 s → 1.80 s at sf0.1.)
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # r17 (guide §2.4 "two operations keyed the same way share one
    # exchange"): document frequency is derived FROM tf — tf has exactly
    # one row per distinct (doc, term), so counting tf's rows per term IS
    # the distinct-doc count the old ``toks.distinct().groupBy(term)``
    # computed. The always-true ``tf > 0`` guard (a count group is never
    # empty) keeps the tf column REFERENCED in this branch: without it,
    # column pruning strips partial_count from the branch's pre-shuffle
    # aggregate and the two exchanges stop canonicalizing equal. With it,
    # the tf exchange subtree is identical in both join branches and
    # executes ONCE (runtime ReusedExchange) instead of re-scanning +
    # re-tokenizing the whole corpus for the df pass (2 corpus scans →
    # 1). Values are unchanged (integer counts; the tf probe side of the
    # join is untouched).
    dfreq = (
        tf.filter(F.col("tf") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df_t"))
    )
    n_docs = df.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        # select("*", …) over withColumn: identical Project, one fewer
        # eager analysis pass (r17, guide §4 driver boundary)
        .select(
            "*",
            (
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("_n") + F.lit(1)).cast("double")
                        / (F.col("df_t") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                )
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.select("*", F.row_number().over(w).cast("int").alias("rank"))
        .filter(F.col("rank") <= top)
        .select(
            F.col("_id").alias(id_col),
            "term",
            "tf",
            F.round("score", 4).alias("score"),
            "rank",
        )
    )


def bm25_topk(
    df,
    text_col: str,
    id_col: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 document ranking for a literal bag of query terms — the search
    primitive for relevance-filtering a corpus against a topic list.

    Per matched (doc, term): ``idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with the Robertson-Sparck-Jones idf in its always-positive "+1" form
    ``ln(1 + (N − df_t + 0.5)/(df_t + 0.5))``; summed per doc, top-k by
    (score desc, id asc).

    Scale shape: the query-term filter lands immediately on the exploded
    stream, so everything after it carries only matching (doc, term) pairs
    — a tiny fraction of the corpus; document length and the two corpus
    scalars (N, avgdl) ride along as one broadcast each; the final top-k is
    TakeOrderedAndProject (bounded heap, no global sort). ``dfreq`` counts
    ``tf``'s rows per term (dl is determined by _id, so that equals the
    distinct-(_id, term) count); the always-true ``tf > 0`` guard keeps the
    branch canonical, so the tf exchange is reused instead of a second
    tokenize+explode scan. Built as one ``spark.sql`` call over column names
    (see functions/sqltext.py).
    """
    terms = [str(t).lower() for t in query_terms]
    tref, iref = ident(text_col, "bm25_topk"), ident(id_col, "bm25_topk")
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    idf = (
        f"LN({dlit(1.0)} + (CAST(_n AS DOUBLE) - df_t + {dlit(0.5)}) "
        f"/ (CAST(df_t AS DOUBLE) + {dlit(0.5)}))"
    )
    tf_part = (
        f"(CAST(tf AS DOUBLE) * {dlit(k1 + 1.0)}) / (CAST(tf AS DOUBLE) "
        f"+ {dlit(k1)} * ({dlit(1.0 - b)} + {dlit(b)} * CAST(dl AS DOUBLE) "
        f"/ avgdl))"
    )
    q = f"""
WITH base AS (
  SELECT *, CAST(size(_toks) AS BIGINT) AS dl
  FROM (SELECT {iref} AS _id, {tokens_sql(tref)} AS _toks FROM {{df}})
),
toks AS (
  SELECT _id, dl, term FROM base
  LATERAL VIEW explode(_toks) AS term
  WHERE term IN ({in_list})
),
tf AS (
  SELECT _id, dl, term, CAST(count(1) AS BIGINT) AS tf
  FROM toks GROUP BY _id, dl, term
),
dfreq AS (
  SELECT term, CAST(count(1) AS BIGINT) AS df_t
  FROM tf WHERE tf > 0 GROUP BY term
),
stats AS (
  SELECT *, _total_dl / CAST(_n AS DOUBLE) AS avgdl
  FROM (
    SELECT CAST(count(1) AS BIGINT) AS _n, CAST(sum(dl) AS DOUBLE) AS _total_dl
    FROM base
  )
),
scored AS (
  SELECT /*+ BROADCAST(dfreq), BROADCAST(stats) */
    _id, {idf} * {tf_part} AS _s
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
)
SELECT _id AS {iref}, score FROM (
  SELECT _id, score
  FROM (SELECT _id, ROUND(SUM(_s), 4) AS score FROM scored GROUP BY _id)
  ORDER BY score DESC, _id ASC LIMIT {int(k)}
)
"""
    return df.sparkSession.sql(q, df=df)


# PII patterns deliberately restricted to syntax with identical semantics
# in Java regex (Spark) and RE2 (DuckDB oracle): character classes, greedy
# quantifiers, no lookaround/backrefs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?\d[\d\- ]{7,}\d",
}
# scrub emails/urls BEFORE phones: both contain digit runs a phone pattern
# could partially claim
PII_ORDER = ("email", "url", "phone")


def pii_scrub(col, kinds: Sequence[str] = PII_ORDER, token: str = "[PII]") -> Column:
    """Replace every occurrence of the selected PII kinds with ``token`` —
    the redaction pass a corpus takes before training. Pure map-side
    ``regexp_replace`` chain (whole-stage codegen, no Python workers);
    at 100 TB this is a linear scan with zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    for k in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[k], token)
    return c


def pii_count(col, kind: str) -> Column:
    """Occurrences of one PII kind (audit metric for scrub reports)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PII_PATTERNS[kind])).cast("bigint")


def _token_ngrams(col: str, n: int) -> Column:
    """NON-distinct token n-grams (the dedup module's ``shingles`` is
    distinct — repetition metrics need the multiplicity). Same
    bind-the-token-array trick: a free subtree inside an HOF lambda
    re-evaluates per element, so tokenization is bound once.

    Documents with fewer than ``n`` tokens yield an EMPTY array (no
    truncated pseudo-gram, no empty-string gram for empty docs) — a
    repetition filter keyed on these ratios must see NULL, not 1.0, for
    docs that have no n-grams at all. Rendered as one SQL string over a
    column name (see functions/sqltext.py)."""
    ref = ident(col, "_token_ngrams")
    return F.expr(
        f"transform(array({tokens_sql(ref)}), __pqlv_t -> "
        f"CASE WHEN (size(__pqlv_t) >= {int(n)}) THEN "
        f"transform(sequence(1, greatest(size(__pqlv_t) - {int(n) - 1}, 1)), "
        f"__pqlv_i -> concat_ws(' ', slice(__pqlv_t, __pqlv_i, {int(n)}))) "
        f"ELSE CAST(array() AS array<string>) END)[0]"
    )


def _token_ngrams_upto(col: str, n_max: int) -> Column:
    """All NON-distinct token n-grams for n = 1..``n_max`` with ONE
    tokenization — the multiset equals concatenating
    ``_token_ngrams(col, n)`` per n (same per-n edge cases: a doc with
    fewer than n tokens contributes no n-grams), but the text is
    lowered/trimmed/regex-split ONCE and every window size slides over
    the same bound token array. DSIR's featurizer: at 1M docs the regex
    split over the full text dominates per-doc work, and n_max separate
    tokenizations paid it n_max times."""
    ref = ident(col, "_token_ngrams_upto")
    return F.expr(
        f"transform(array({tokens_sql(ref)}), __pqlv_t -> "
        f"flatten(transform(sequence(1, {int(n_max)}), __pqlv_n -> "
        f"CASE WHEN (size(__pqlv_t) >= __pqlv_n) THEN "
        f"transform(sequence(1, greatest(size(__pqlv_t) - "
        f"(__pqlv_n - 1), 1)), __pqlv_i -> "
        f"concat_ws(' ', slice(__pqlv_t, __pqlv_i, __pqlv_n))) "
        f"ELSE CAST(array() AS array<string>) END)))[0]"
    )


def unigram_logprob(df, text_col: str, id_col: str, smoothing: float = 1.0):
    """Mean unigram log-probability per document under the corpus's own
    add-k-smoothed MLE — the classic cheap language-model quality signal:
    gibberish and OCR noise score far below fluent text because their
    tokens are corpus-rare. ``p(t) = (c_t + k) / (N + k·V)``;
    ``score(doc) = mean over tokens of ln p(t)``.

    Scale shape: one explode + one (term) count shuffle builds the vocab;
    the two corpus scalars (N, V) broadcast; the token→vocab join keys on
    term (AQE broadcasts small vocabularies); the per-doc mean is a second
    doc-keyed aggregation with map-side combine. Docs surface even when
    they produced no tokens (left join → NULL score).
    """
    k = float(smoothing)
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("term")
    )
    # (r17: a tf-weighted restructure — reduce occurrences to (doc, term)
    # counts first, derive the vocab FROM tf via ReusedExchange, score as
    # Σ tf·ln p / Σ tf — was MEASURED here and REVERTED: interleaved A/B
    # at sf0.1 gave old 1.276 s vs new 1.589 s medians on the ccnet
    # composition with identical rows. The extra (doc, term) exchange
    # costs more than the saved tokenize scan at bench scale; at true
    # corpus scale the trade may flip, but that flip must be measured
    # there, not assumed. The round-4 boundary-margin analysis written
    # for it is retained in OPTIMIZATION_r17.md §sample_ccnet.)
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    stats = vocab.agg(
        F.sum("_c").cast("double").alias("_n"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("_id")
        .agg(
            F.round(
                F.avg(
                    F.log(
                        (F.col("_c").cast("double") + F.lit(k))
                        / (F.col("_n") + F.lit(k) * F.col("_v"))
                    )
                ),
                4,
            ).alias("logprob"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    ids = df.select(F.col(id_col).alias("_id"))
    return ids.join(scored, "_id", "left").select(
        F.col("_id").alias(id_col), "logprob", "n_tokens"
    )


def winnow_fingerprints(df, text_col: str, id_col: str, k: int = 3, w: int = 4):
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD 2003) —
    the rolling-hash document fingerprinting scheme: hash every token
    k-gram, slide a window of ``w`` consecutive hashes, keep each window's
    minimum, emit the distinct (doc, fingerprint) set.

    Guarantees (the winnowing theorems): any shared substring of at least
    k + w - 1 tokens produces at least one IDENTICAL fingerprint in both
    documents, and the selected density is ~2/(w+1) — a tunable sketch for
    plagiarism/overlap detection that, unlike MinHash, LOCALIZES matches.

    Scale shape: one explode + two window passes partitioned by document +
    a distinct keyed by (doc, fp) — all shuffles are doc-keyed; no
    cross-document work until fingerprints are joined downstream. Docs
    with fewer than k + w - 1 tokens emit nothing (no full window).
    """
    from pyspark.sql import Window

    from pq_vector_spark.parallel import ensure_compute_parallelism

    # spread the slim (id, text) projection before the k-gram + md5
    # explode (r16, guide §2.5): a single-row-group source otherwise runs
    # the whole hashing stage in ONE task; no-op at real scan widths, and
    # the doc-keyed window exchange downstream is unchanged.
    base = ensure_compute_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_wtxt"))
    )
    grams = base.select(
        F.col("_id"),
        F.posexplode(_token_ngrams("_wtxt", k)).alias("_pos", "_gram"),
    )
    h = grams.select("_id", "_pos", token_hash(F.col("_gram")).alias("_h"))
    win = Window.partitionBy("_id").orderBy(F.col("_pos").asc()).rowsBetween(0, w - 1)
    per_doc = Window.partitionBy("_id")
    fp = (
        h.select(
            "_id",
            "_pos",
            F.min("_h").over(win).alias("fp"),
            F.count(F.lit(1)).over(per_doc).alias("_n"),
        )
        # full windows only (0-based): positions 0 .. n_grams - w
        .filter(F.col("_pos") <= F.col("_n") - w)
    )
    return fp.select(F.col("_id").alias(id_col), "fp").distinct()


def duplicate_span_stats(df, text_col: str, id_col: str, sep: str = "\n"):
    """Duplicate-LINE/PARAGRAPH repetition signals (the other half of
    Gopher §A1.1's repetition suite — ``repetition_ratios`` covers the
    n-gram half): per document,

    - ``dup_span_frac``: fraction of spans (lines with the default sep,
      paragraphs with ``sep="\\n\\n"``) belonging to a value that occurs
      MORE THAN ONCE in the document, counting every occurrence — the
      Gopher/Dolma duplicate-line-fraction definition;
    - ``dup_span_char_frac``: the same fraction weighted by span length
      in characters (short chrome lines vs long copied paragraphs score
      very differently — the paper thresholds both).

    Whitespace-only spans are separator structure, not content: excluded
    from both numerator and denominator; a document with no non-blank
    span surfaces with NULL fractions (no signal ≠ maximally repetitive —
    the ``repetition_ratios`` stance). Spans are md5-compressed BEFORE the
    exchange, so the (doc, span) aggregation shuffles 16-byte keys + a
    length, never the text; ratios are int-derived double divisions the
    DuckDB oracle reproduces bit-for-bit.
    """
    import re as _re

    spans = F.split(F.col(text_col), _re.escape(sep), -1)
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(
            F.filter(spans, lambda s: F.trim(s) != F.lit(""))
        ).alias("_sp"),
    )
    g = (
        ex.select(
            "_id",
            F.md5(F.col("_sp")).alias("_h"),
            F.length("_sp").alias("_len"),
        )
        .groupBy("_id", "_h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_c"),
            F.max("_len").cast("bigint").alias("_l"),
        )
    )
    real = F.col("_h").isNotNull()
    dup = real & (F.col("_c") > 1)
    per = g.groupBy("_id").agg(
        F.sum(F.when(real, F.col("_c"))).cast("bigint").alias("_tot"),
        F.sum(F.when(dup, F.col("_c"))).cast("bigint").alias("_dup"),
        F.sum(F.when(real, F.col("_c") * F.col("_l"))).cast("bigint").alias("_totc"),
        F.sum(F.when(dup, F.col("_c") * F.col("_l"))).cast("bigint").alias("_dupc"),
    )
    return per.select(
        F.col("_id").alias(id_col),
        F.round(
            F.coalesce(F.col("_dup"), F.lit(0)).cast("double")
            / F.col("_tot").cast("double"),
            4,
        ).alias("dup_span_frac"),
        F.round(
            F.coalesce(F.col("_dupc"), F.lit(0)).cast("double")
            / F.col("_totc").cast("double"),
            4,
        ).alias("dup_span_char_frac"),
    )


def repetition_ratios(df, text_col: str, id_col: str, n: int = 2):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1:
    repetitious documents correlate with low quality and are filtered
    before training):

    - ``dup_ngram_ratio``: fraction of n-gram OCCURRENCES that are repeats
      of an earlier n-gram in the same document (1 − distinct/total);
    - ``top_ngram_ratio``: occurrences of the single most frequent n-gram
      over total — catches templated boilerplate that the distinct ratio
      dilutes.

    One explode + two hash aggregations keyed by document — map-side
    combine keeps the shuffle at (doc, distinct-gram) granularity; ratios
    are int/int divisions, bit-identical in the DuckDB oracle. Grams are
    md5-compressed BEFORE the exchange (r13, r12 verdict #5: the raw
    n-gram text dominated the shuffle at web scale; 16-byte keys have the
    same distinct/top counts — the ``duplicate_span_stats`` discipline,
    ``text.py`` md5-before-exchange).
    """
    # explode_outer keeps a NULL-gram row for gram-less docs (< n tokens),
    # so they surface with NULL ratios — same shuffle, no extra join back
    # to the corpus (md5(NULL) stays NULL, preserving that row)
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(_token_ngrams(text_col, n)).alias("_gram"),
    ).select("_id", F.md5("_gram").alias("_gram"))
    g = ex.groupBy("_id", "_gram").agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    real = F.col("_gram").isNotNull()
    per = g.groupBy("_id").agg(
        F.sum(F.when(real, F.col("_c"))).cast("bigint").alias("_total"),
        F.count(F.col("_gram")).cast("bigint").alias("_distinct"),
        F.max(F.when(real, F.col("_c"))).cast("bigint").alias("_top"),
    )
    return per.select(
        F.col("_id").alias(id_col),
        F.round(
            F.lit(1.0) - F.col("_distinct").cast("double") / F.col("_total").cast("double"),
            4,
        ).alias("dup_ngram_ratio"),
        F.round(
            F.col("_top").cast("double") / F.col("_total").cast("double"), 4
        ).alias("top_ngram_ratio"),
    )
