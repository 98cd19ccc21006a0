"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

Each is designed to be reproducible in DuckDB for the oracle gate:
regexp-free where dialects differ, md5-based hashes where hashing is
needed (see operators/dedup.py H()).  Most are pure Spark SQL
expressions (whole-stage codegen, no Python).  The two whose per-row
counting Catalyst can only interpret — ``quality_scores`` and
``ngram_repetition`` — count integers in a per-document body run by the
shared runner (``util.map_documents``: batch memo, null rows, key
columns), and keep every float division and ``round`` in SQL.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import DataFrame, functions as F

from ..util import map_documents, scalar_udf
from .dedup import H, P, tokens_expr

#: tiny per-language stopword marker sets for the n-gram/stopword
#: language-ID heuristic; chosen to be disjoint across languages.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "que", "y"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def _marker_hits_expr(lang: str) -> str:
    toks = tokens_expr()
    arr = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"size(filter({toks}, t -> array_contains(array({arr}), t)))"
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, lang_hits): argmax of per-language stopword
    hits; 'und' (undetermined) when no marker fires.  Ties break by
    language code order — deterministic, mirrored in the oracle."""
    hit_cols = {lang: _marker_hits_expr(lang) for lang in sorted(LANG_MARKERS)}
    df = docs.selectExpr(
        "doc_id", *[f"{e} as hits_{lang}" for lang, e in hit_cols.items()])
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in sorted(LANG_MARKERS)) + ")"
    pick = "case when {b} = 0 then 'und' ".format(b=best)
    for lang in sorted(LANG_MARKERS):
        pick += f"when hits_{lang} = {best} then '{lang}' "
    pick += "end"
    return df.selectExpr(
        "doc_id", f"{pick} as lang_pred", f"cast({best} as bigint) as lang_hits")


def quality_scores(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio,
    alpha_ratio, quality): length/stopword/character-class heuristics,
    the standard cheap quality filters for web text.

    ``carry`` names extra input columns to pass through (the
    corpus_split pattern; the runner's ``keys``, so they may include
    ``text``): a pipeline that filters on ``quality`` then needs NO
    id-join back to the text — the webtext capstone saves a full corpus
    recompute plus the join exchange this way.

    Round-6 shape: the per-document counting (char/token/stopword/
    alpha counts — all INTEGERS) runs as an Arrow kernel; the previous
    all-SQL form evaluated ``split()`` four times per row plus an
    interpreted HigherOrderFunction ``filter`` for the stopword hits
    (Catalyst does not codegen lambda functions).  Every division and
    ``round`` stays in the SAME SQL expressions over the integer
    columns, so the floats — and the DuckDB oracle hash — are
    bit-identical (same pattern as :func:`ngram_repetition`)."""
    markers = set(LANG_MARKERS["en"])
    non_alpha = re.compile("[^a-zA-Z]+")

    def counts(text):
        t = text.split(" ")
        return {"n_chars": len(text), "n_tokens": len(t),
                "stop_hits": sum(1 for w in t if w in markers),
                "alpha_chars": len(text) - sum(
                    len(m.group()) for m in non_alpha.finditer(text))}

    # null text mirrors SQL null semantics: length(null) = null,
    # size(split(null)) = null, hits over null = null
    cols = ("n_chars", "n_tokens", "stop_hits", "alpha_chars")
    kern = map_documents(docs, ("doc_id", *carry), "text", counts,
                         dict.fromkeys(cols, "bigint"),
                         empty_row=dict.fromkeys(cols))
    return kern.selectExpr(
        "doc_id",
        "n_chars",
        "n_tokens",
        "round((n_chars - n_tokens + 1) / n_tokens, 6) as avg_token_len",
        "round(stop_hits / n_tokens, 6) as stopword_ratio",
        "round(alpha_chars / n_chars, 6) as alpha_ratio",
        *carry,
    ).selectExpr(
        "*",
        # composite score in [0,1]: enough tokens, sane token length,
        # some stopwords, mostly alphabetic
        # floor-based half-up rounding: the composite sums 6dp-rounded
        # terms x 0.25 and can land EXACTLY on a 5e-7 boundary, where
        # Spark (BigDecimal HALF_UP) and DuckDB (scaled-double) round()
        # disagree by 1e-6; floor(x*1e6 + 0.5)/1e6 stays in pure IEEE
        # arithmetic, so both engines compute the identical double
        "floor((least(n_tokens / 20.0, 1.0) * 0.25 "
        "+ (case when avg_token_len between 2 and 12 then 0.25 else 0.0 end) "
        "+ least(stopword_ratio * 5.0, 1.0) * 0.25 "
        "+ alpha_ratio * 0.25) * 1000000 + 0.5) / 1000000 as quality",
    )


def gopher_quality(docs: DataFrame, min_words: int = 50,
                   max_words: int = 100000) -> DataFrame:
    """Gopher/C4-style repetition + quality filter signals per document
    (the standard web-text curation rules: Rae et al. 2021 "Scaling
    Language Models" appendix A1.1, and the C4 cleaning heuristics),
    computed entirely in whole-stage-codegen SQL expressions:

    - ``dup_line_frac`` / ``dup_line_char_frac``: repeated-line share
      (boilerplate and navigation chrome repeat; prose doesn't)
    - ``bullet_frac`` / ``ellipsis_frac``: lines starting "- " / ending
      "..." (list/teaser pages)
    - ``mean_word_len``, ``symbol_word_ratio`` ("#", "..." per word)
    - ``keep``: the conjunction of the published Gopher bounds.

    At 100 TB this is a pure projection — no shuffle, no Python."""
    lines = "split(text, '\\n')"
    dlines = f"array_distinct({lines})"
    words = "split(trim(text), '\\\\s+')"
    nl = f"size({lines})"
    nw = f"size({words})"
    chars = f"aggregate({lines}, 0L, (a, l) -> a + length(l))"
    dchars = f"aggregate({dlines}, 0L, (a, l) -> a + length(l))"
    wchars = f"aggregate({words}, 0L, (a, w) -> a + length(w))"
    hashes = "length(text) - length(replace(text, '#', ''))"
    ells = "(length(text) - length(replace(text, '...', ''))) / 3"
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    stop = (f"size(filter({words}, "
            f"t -> array_contains(array({markers}), t)))")
    sig = docs.selectExpr(
        "doc_id",
        f"cast({nl} as bigint) as n_lines",
        f"cast({nw} as bigint) as n_words",
        f"round(1.0 - size({dlines}) / {nl}, 6) as dup_line_frac",
        f"round(1.0 - {dchars} / {chars}, 6) as dup_line_char_frac",
        f"round(size(filter({lines}, l -> substr(l, 1, 2) = '- ')) / {nl}, 6) "
        "as bullet_frac",
        f"round(size(filter({lines}, l -> right(l, 3) = '...')) / {nl}, 6) "
        "as ellipsis_frac",
        f"round({wchars} / {nw}, 6) as mean_word_len",
        f"round(({hashes} + {ells}) / {nw}, 6) as symbol_word_ratio",
        f"cast({stop} as bigint) as stop_hits",
    )
    return sig.selectExpr(
        "*",
        f"(n_words between {min_words} and {max_words}) "
        "and mean_word_len between 3 and 10 "
        "and symbol_word_ratio < 0.1 "
        "and bullet_frac < 0.9 and ellipsis_frac < 0.3 "
        "and dup_line_frac < 0.3 and stop_hits >= 2 as keep",
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens): whitespace tokens plus a
    BPE-ish subword estimate (ceil of char-span/4 per word, the common
    ~4-chars-per-token rule)."""
    toks = tokens_expr()
    return docs.selectExpr(
        "doc_id",
        f"cast(size({toks}) as bigint) as ws_tokens",
        f"cast(aggregate({toks}, 0L, (acc, t) -> acc + cast(ceil(length(t) / 4.0) as bigint)) "
        "as bigint) as bpe_ish_tokens",
    )


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text_norm): Unicode NFC normalization + whitespace
    collapse — the canonicalization pass before any hashing/dedup so
    byte-different but canonically-equal spellings (composed vs
    combining accents) dedup together.

    NFC runs as ``unicodedata.normalize`` once per distinct text of an
    Arrow batch (``util.scalar_udf``; Spark has no built-in Unicode
    normalizer, and pandas ``Series.str.normalize`` calls the same
    function); the whitespace collapse stays a JVM ``regexp_replace``.
    The oracle uses DuckDB's native ``nfc_normalize`` — two independent
    NFC implementations agreeing."""
    nfc = scalar_udf(lambda s: unicodedata.normalize("NFC", s), "string")
    return docs.select(
        "doc_id",
        F.regexp_replace(F.trim(nfc(F.col(text_col))), r"\s+", " ")
        .alias("text_norm"))


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): order-sensitive rolling polynomial hash of
    the token stream — acc = (acc * 31 + H(token)) % P — the rolling-hash
    document fingerprint used for fast shift-sensitive identity."""
    toks = tokens_expr()
    return docs.selectExpr(
        "doc_id",
        f"aggregate({toks}, 0L, (acc, t) -> (acc * 31 + ({H('t')} % {P})) % {P}) "
        "as fingerprint",
    )


def corpus_split(docs: DataFrame, weights: dict[str, int] | None = None,
                 key_col: str = "text", carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, bucket, split): deterministic content-keyed train/val/
    test assignment.  The bucket is H(md5('split:' || text)) % 100, so
    the assignment is (a) reproducible across runs and engines, (b)
    stable under re-crawls and doc_id renumbering, and (c) leak-safe
    for exact duplicates — identical text always lands in the same
    split, so a test document can never have a byte-identical twin in
    train.  Pure projection: zero shuffle, cost == the scan.

    ``carry`` names extra input columns to pass through — filtering a
    corpus to one split then needs NO id-join back to the text (the
    webtext_pipeline capstone saves a full-corpus shuffle this way)."""
    weights = weights or {"train": 98, "val": 1, "test": 1}
    assert sum(weights.values()) == 100
    cum, case = 0, "case "
    for name, w in weights.items():
        cum += w
        case += f"when bucket < {cum} then '{name}' "
    case += "end"
    keyed = "'split:' || " + key_col
    return docs.selectExpr(
        "doc_id", *carry,
        f"cast({H(keyed)} % 100 as bigint) as bucket",
    ).selectExpr("doc_id", *carry, "bucket", f"{case} as split")


def corpus_sample(docs: DataFrame, rates: dict[str, int],
                  default: int = 1000) -> DataFrame:
    """(doc_id, source, bucket, keep): deterministic source-weighted
    corpus sampling — the mixture-construction step of a training run
    (per-source sampling rates in permille, e.g. wiki oversampled,
    crawl downsampled).  The bucket is H('sample:' || doc_id) % 1000,
    so the draw is reproducible across runs/engines and independent of
    partitioning; sources absent from ``rates`` keep ``default``
    permille.  Pure projection: zero shuffle, cost == the scan."""
    case = "case source " + " ".join(
        f"when '{s}' then {r}" for s, r in rates.items()) + f" else {default} end"
    keyed = "'sample:' || cast(doc_id as string)"
    return docs.selectExpr(
        "doc_id", "source",
        f"cast({H(keyed)} % 1000 as bigint) as bucket",
    ).selectExpr("doc_id", "source", "bucket", f"bucket < {case} as keep")


def distinctive_terms(docs: DataFrame, k: int = 3,
                      min_len: int = 1) -> DataFrame:
    """(doc_id, term, tf, df, rk): the k most distinctive terms per
    document — ranked by term frequency desc, document frequency asc
    (rarer-in-corpus wins ties), term asc.  The integer-only tf-idf
    analog: the float idf log moves across engines/libms, the integer
    (tf desc, df asc) order does not, and it produces the same ranking
    whenever tf ties are broken by rarity.

    Plan shape: one explode feeds BOTH aggregates (tf over (doc, term),
    df over term — partial-agg each); the df join keys on term and the
    top-k window partitions by doc_id.  At web scale the df relation is
    the corpus vocabulary — big enough that the equi-join (not a
    broadcast) is the right default; AQE will broadcast it when small.
    """
    from pyspark.sql import Window

    toks = tokens_expr()
    terms = docs.selectExpr(
        "doc_id", f"explode({toks}) as term").where(
        f"length(term) >= {min_len}")
    tf = terms.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf"))
    df_rel = (terms.select("doc_id", "term").distinct()
              .groupBy("term").agg(F.count("*").cast("bigint").alias("df")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term"))
    return (
        tf.join(df_rel, "term")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "rk")
    )

# ---------------------------------------------------------------------------
# Gopher n-gram repetition signals (within-document)
# ---------------------------------------------------------------------------

#: published Gopher bounds (Rae et al. 2021, appendix A1.1, table A1)
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def ngram_repetition(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher within-document n-gram repetition rules (Rae et al.
    2021 appendix A1.1) that ``gopher_quality`` (line-level rules)
    does not cover:

    - ``top{2,3,4}_frac``: fraction of characters contained in the
      most frequently-occurring word n-gram (count x n-gram chars /
      doc chars; char counts use single-space joins).
    - ``dup{5..10}_frac``: occurrence-weighted char fraction of word
      n-grams occurring more than once, capped at 1.0 (overlapping
      occurrences double-count; the SAME formula runs in both engines,
      so the oracle pins it exactly).
    - ``keep_rep``: conjunction of the published bounds
      (top: 0.20/0.18/0.16; dup: 0.15 down to 0.10).

    At 100 TB this is a pure projection — no shuffle, no explode: the
    per-document counting runs in the shared runner over
    C-accelerated ``collections.Counter`` (the round-6 measurement:
    the previous sorted-run ``aggregate`` fold, now the SQL twin in
    the operator tests, evaluates its lambda per array element through
    Catalyst's INTERPRETED HigherOrderFunction path at ~7 ms/doc; the
    Counter kernel is ~0.13 ms/doc — 50x).  The kernel emits only bit-exact
    INTEGER counts (best count, best charlen, duplicated char mass,
    total chars); every float division and round stays in the SAME
    Spark SQL expressions as before, so the output is bit-identical
    to the fold and to the DuckDB oracle's relational twin."""
    tops = sorted(GOPHER_TOP_NGRAM_MAX)
    dups = sorted(GOPHER_DUP_NGRAM_MAX)
    int_cols = (["tc"] + [c for n in tops for c in (f"bc{n}", f"bl{n}")]
                + [f"dup{n}" for n in dups])

    def counts(text):
        from collections import Counter

        t = text.split(" ")
        w = len(t)
        out = {"tc": len(text)}
        for n in tops + dups:
            if w >= n:
                cnt = Counter(" ".join(t[i:i + n]) for i in range(w - n + 1))
            else:
                cnt = None
            if n in GOPHER_TOP_NGRAM_MAX:
                # fold ties break on (count, charlen) — max over the
                # same pair is value-identical
                out[f"bc{n}"], out[f"bl{n}"] = (
                    max((c, len(g)) for g, c in cnt.items())
                    if cnt else (0, 0))
            else:
                out[f"dup{n}"] = (sum(c * len(g) for g, c in cnt.items()
                                      if c > 1) if cnt else 0)
        return out

    top_cols = [
        f"round(if(tc = 0, 0.0, bc{n} * bl{n} / tc), 6) as top{n}_frac"
        for n in tops
    ]
    dup_cols = [
        f"round(if(tc = 0, 0.0, least(1.0, dup{n} / tc)), 6) as dup{n}_frac"
        for n in dups
    ]
    keep = " and ".join(
        [f"top{n}_frac < {v}" for n, v in sorted(GOPHER_TOP_NGRAM_MAX.items())]
        + [f"dup{n}_frac < {v}" for n, v in sorted(GOPHER_DUP_NGRAM_MAX.items())]
    )
    # null text mirrors the SQL fold: concat_ws(' ', null) = '' -> tc 0;
    # size(null) >= n is never true -> no grams -> all counts 0
    return (
        map_documents(docs, ("doc_id",), text_col, counts,
                      dict.fromkeys(int_cols, "bigint"),
                      empty_row=dict.fromkeys(int_cols, 0))
        .selectExpr("doc_id", *top_cols, *dup_cols)
        .selectExpr("*", f"{keep} as keep_rep")
    )


def token_logfreq(docs: DataFrame, permille: int = 1000) -> DataFrame:
    """(doc_id, n_tok, logfreq_permille): CCNet-style language-model
    quality proxy (Wenzek et al. 2020 score documents by LM perplexity;
    with no external LM the corpus itself is the model).  Per token,
    the integer rarity bucket floor(log2(corpus_count)); per document,
    the mean bucket in permille: (permille * sum) div n_tok.  Gibberish
    and rare-token soup score low, template/common prose scores high.

    Integer-only cross-engine arithmetic (same rationale as
    ``distinctive_terms``/pagerank): floor(log2(c)) on bigint counts is
    stable across libms — the only exact boundaries are powers of two,
    where IEEE log2 is exact, and elsewhere the margin to the boundary
    (>= log2(1+1/c) ~ 1/(c ln 2)) dwarfs double rounding error for any
    count below 2^50; the final division is integer ``div``.

    Plan shape at 100 TB: ONE explode feeds both the vocabulary
    aggregate (partial-agg groupBy(term) — the corpus vocabulary,
    Zipf-bounded far below the token stream) and the per-doc sum; the
    vocab join keys on term (AQE broadcasts it when small).  No
    Python, no all-pairs, two narrow shuffles (vocab agg + doc agg).
    """
    toks = tokens_expr()
    terms = docs.selectExpr("doc_id", f"explode({toks}) as term")
    vocab = terms.groupBy("term").agg(
        F.count("*").cast("bigint").alias("cnt"))
    scored = (
        terms.join(vocab, "term")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_tok"),
             F.sum(F.floor(F.log2(F.col("cnt")))).cast("bigint").alias("s"))
    )
    return (
        docs.select("doc_id").join(scored, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "cast(coalesce(n_tok, 0) as bigint) as n_tok",
            f"cast(coalesce(({permille} * s) div n_tok, 0) as bigint) "
            "as logfreq_permille")
    )
