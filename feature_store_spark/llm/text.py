"""Text-analysis operators over a document table (SURVEY.md §2.12).

The reference has no text surface; these are the training-data-pipeline
additions (language-ID, quality scoring, token counting, document
fingerprinting) built entirely from native column expressions — zero
Python UDFs, so everything stays inside whole-stage codegen and scales
linearly with the corpus (narrow transforms, no shuffle except where a
groupBy is inherent).

Cross-engine determinism: tokenization is one shared regex
(``TOKEN_RE``), hashing is md5 (identical bytes→hex in Spark and
DuckDB), ratios are rounded by the oracle harness.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_store_spark.session import local_frame

# One token regex shared by the Spark expressions and the generated
# DuckDB oracle SQL (both engines: lowercase alnum runs).
TOKEN_RE = "[a-z0-9]+"

# GPT-2-style pre-tokenizer (Radford et al. 2019, public BPE vocab
# convention): contraction suffixes, space-prefixed letter runs,
# space-prefixed digit runs, space-prefixed punctuation runs, then
# residual whitespace. The published pattern's trailing negative
# lookahead (`\s+(?!\S)`) only re-splits interior whitespace runs and
# is not RE2-expressible; dropping it changes which run a space
# belongs to, never how many non-whitespace pre-tokens exist, so the
# COUNT this engine reports is lookahead-invariant. Alternation is
# leftmost-first in both Java regex and RE2 — same matches both
# engines (parity probed incl. contractions/digits/unicode/NULL).
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"

# Whitespace tokenization = runs of non-whitespace.
WS_TOKEN_RE = r"\S+"

# Function-word lists for the n-gram/stopword language heuristic.
# Deliberately tiny and declared here so the oracle SQL is generated
# from the same constants.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour"),
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(text: Column) -> Column:
    """Lowercased alnum tokens as an array column."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token/char statistics: the quality-scoring feature
    base (length, punctuation ratio, stopword ratio, lexical
    diversity). Narrow projections — no shuffle, pushdown-friendly.

    The token array is materialized in its own projection behind a
    non-deterministic dummy column: CollapseProject merges adjacent
    deterministic Projects by DUPLICATING any multiply-referenced
    expression, so without the barrier the tokenize regex re-runs once
    per derived stat (same trap as `shingles`; measured 0.33 s → 0.25 s
    at sf0.1, ~1.5 s saved on the 50k-doc corpus). A `rand` column in
    the lower Project blocks the merge without the Exchange a
    repartition barrier would add; it is dropped before output and
    never affects values."""
    tokenized = df.select(
        F.col(id_col),
        F.col(text_col),
        tokens(F.col(text_col)).alias("__tok"),
        F.rand(7).alias("__barrier"),
    )
    t = F.col("__tok")
    n_tok = F.size(t)
    n_char = F.length(text_col)
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.,;:!?]"), 0))
    n_stop = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    n_uniq = F.size(F.array_distinct(t))
    tok_chars = F.aggregate(
        F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return tokenized.select(
        F.col(id_col),
        n_char.cast("bigint").alias("n_chars"),
        n_tok.cast("bigint").alias("n_tokens"),
        n_uniq.cast("bigint").alias("n_unique_tokens"),
        (n_uniq / F.when(n_tok == 0, None).otherwise(n_tok)).alias(
            "lexical_diversity"
        ),
        (tok_chars / F.when(n_tok == 0, None).otherwise(n_tok)).alias(
            "avg_token_len"
        ),
        (n_punct / F.when(n_char == 0, None).otherwise(n_char)).alias(
            "punct_ratio"
        ),
        (n_stop / F.when(n_tok == 0, None).otherwise(n_tok)).alias(
            "stopword_ratio"
        ),
    )


def text_stats_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
    WITH tok AS (
      SELECT {id_col},
             length({text_col}) AS n_char,
             regexp_extract_all(lower({text_col}), '{TOKEN_RE}') AS t,
             regexp_extract_all({text_col}, '[.,;:!?]') AS p
      FROM {table}
    )
    SELECT {id_col},
           CAST(n_char AS BIGINT) AS n_chars,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_unique_tokens,
           len(list_distinct(t)) / NULLIF(len(t), 0) AS lexical_diversity,
           list_sum(list_transform(t, x -> length(x))) / NULLIF(len(t), 0)
             AS avg_token_len,
           len(p) / NULLIF(n_char, 0) AS punct_ratio,
           len(list_filter(t, x -> x IN ({stop_list}))) / NULLIF(len(t), 0)
             AS stopword_ratio
    FROM tok
    """


def token_report(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document token counts under the three tokenizers a
    training-data pipeline budgets with: whitespace runs (the
    sequence-packing unit this repo's pretrain ops use), GPT-2-style
    BPE pre-tokens (the unit an actual BPE tokenizer would merge
    within — a closer proxy for model-token cost on text with
    punctuation/digits/contractions), and the lowercase-alnum tokens
    every other text operator here shares.

    ``bpe_per_ws`` is the pre-token inflation factor: ~1.0 on clean
    prose, rising with punctuation/number density — a cheap
    tokenizer-cost signal for corpus budgeting.

    Narrow projection, zero shuffles, zero Python — three
    regexp_extract_all passes inside one codegen stage. NULL text
    yields NULL counts on both engines (regexp over NULL is NULL).
    """
    n_ws = F.size(F.regexp_extract_all(F.col(text_col), F.lit(WS_TOKEN_RE), 0))
    bpe_all = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_RE), 0)
    # whitespace-only matches are inter-token residue, not tokens
    n_bpe = F.size(F.filter(bpe_all, lambda x: F.trim(x) != ""))
    n_alnum = token_count(F.col(text_col))
    return df.select(
        F.col(id_col),
        n_ws.cast("bigint").alias("n_tokens_ws"),
        n_bpe.cast("bigint").alias("n_tokens_bpe"),
        n_alnum.cast("bigint").alias("n_tokens_alnum"),
        (n_bpe / F.when(n_ws == 0, None).otherwise(n_ws)).alias("bpe_per_ws"),
    )


def token_report_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                            text_col: str = "text") -> str:
    bpe = BPE_PRETOKEN_RE.replace("'", "''")
    return f"""
    WITH tok AS (
      SELECT {id_col},
             len(regexp_extract_all({text_col}, '{WS_TOKEN_RE}')) AS n_ws,
             len(list_filter(regexp_extract_all({text_col}, '{bpe}'),
                             x -> trim(x) <> '')) AS n_bpe,
             len(regexp_extract_all(lower({text_col}), '{TOKEN_RE}'))
               AS n_alnum
      FROM {table}
    )
    SELECT {id_col},
           CAST(n_ws AS BIGINT) AS n_tokens_ws,
           CAST(n_bpe AS BIGINT) AS n_tokens_bpe,
           CAST(n_alnum AS BIGINT) AS n_tokens_alnum,
           n_bpe / NULLIF(n_ws, 0) AS bpe_per_ws
    FROM tok
    """


def language_scores(
    text_col: Column | None = None, *, tok_col: Column | None = None
) -> dict[str, Column]:
    """Per-language function-word hit counts as column expressions.
    Pass EXACTLY ONE of ``text_col`` / ``tok_col`` (keyword-only).
    Prefer ``tok_col`` (a MATERIALIZED token-array column) to avoid
    re-tokenizing per score: the per-language filters are lambda
    (higher-order) expressions, which run INTERPRETED — whole-stage
    codegen's subexpression elimination never sees them, so each
    score otherwise re-runs the tokenize regex (round 10; the same
    trap text_stats' barrier documents)."""
    if (text_col is None) == (tok_col is None):
        raise ValueError(
            "language_scores: pass exactly one of text_col / tok_col "
            "(a real text_col alongside tok_col would be silently "
            "ignored)"
        )
    t = tok_col if tok_col is not None else tokens(text_col)

    def _hits(sw: tuple[str, ...]):
        # single-arg lambda: F.filter treats 2-arg lambdas as (elem, idx)
        return F.size(F.filter(t, lambda x: x.isin(*sw)))

    return {lang: _hits(LANG_STOPWORDS[lang]) for lang in sorted(LANG_STOPWORDS)}


def language_pred_from_scores(scores: dict[str, Column]) -> Column:
    """Argmax chain over ALREADY-MATERIALIZED per-language score
    columns (ties by language code ascending; 'und' when all zero).
    Feed it score COLUMNS from a barrier projection, never the inline
    score expressions: the when/greatest chain references each score
    ~3×, and plain attribute references are free where inline filter
    expressions would each re-scan (or re-tokenize) the text."""
    best = F.greatest(*scores.values())
    pred: Column = F.lit("und")
    for lang in reversed(sorted(scores)):  # earlier langs win ties → apply last
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best == 0, F.lit("und")).otherwise(pred)


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language ID: count function-word hits per language,
    pick the max (ties broken by language code ascending; 'und' when no
    list hits at all). Layered projections behind non-deterministic
    barriers (round 10): tokenize ONCE, score each language ONCE over
    the materialized array, then run the argmax chain over the score
    COLUMNS — without the barriers CollapseProject inlines everything
    into one Project and the interpreted lambda filters re-tokenize
    per reference (~3 evals per language per row)."""
    tokenized = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__tok"),
        F.rand(7).alias("__barrier"),
    )
    scores = language_scores(tok_col=F.col("__tok"))
    scored = tokenized.select(
        F.col(id_col),
        *[
            scores[lang].cast("bigint").alias(f"score_{lang}")
            for lang in sorted(scores)
        ],
        F.rand(11).alias("__barrier2"),
    )
    score_cols = {
        lang: F.col(f"score_{lang}") for lang in sorted(LANG_STOPWORDS)
    }
    return scored.select(
        F.col(id_col),
        *[F.col(f"score_{lang}") for lang in sorted(LANG_STOPWORDS)],
        language_pred_from_scores(score_cols).alias("predicted_lang"),
    )


def language_id_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    langs = sorted(LANG_STOPWORDS)
    score_exprs = []
    for lang in langs:
        stop_list = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        score_exprs.append(
            f"len(list_filter(t, x -> x IN ({stop_list}))) AS score_{lang}"
        )
    score_sql = ",\n             ".join(score_exprs)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN score_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    cast_scores = ", ".join(
        f"CAST(score_{lang} AS BIGINT) AS score_{lang}" for lang in langs
    )
    return f"""
    WITH tok AS (
      SELECT {id_col}, regexp_extract_all(lower({text_col}), '{TOKEN_RE}') AS t
      FROM {table}
    ), scored AS (
      SELECT {id_col},
             {score_sql}
      FROM tok
    )
    SELECT {id_col}, {cast_scores}, {case} AS predicted_lang
    FROM scored
    """


def quality_flag_exprs(
    text_col: Column, tok_col: Column | None = None
) -> dict[str, Column]:
    """Quality flags + composite score as column expressions over the
    raw text (same formulas as the text_stats intermediates), so a
    composite pipeline can gate in one projection without a join.
    Pass ``tok_col`` (a materialized token array) to tokenize once —
    the stopword filter is an interpreted lambda, so codegen CSE
    cannot dedupe the tokenize regex across these flags (round 10)."""
    t = tok_col if tok_col is not None else tokens(text_col)
    n_tok = F.size(t)
    n_char = F.length(text_col)
    n_punct = F.size(F.regexp_extract_all(text_col, F.lit(r"[.,;:!?]"), 0))
    n_stop = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    n_uniq = F.size(F.array_distinct(t))
    punct_ratio = n_punct / F.when(n_char == 0, None).otherwise(n_char)
    stopword_ratio = n_stop / F.when(n_tok == 0, None).otherwise(n_tok)
    lexical_diversity = n_uniq / F.when(n_tok == 0, None).otherwise(n_tok)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(F.coalesce(punct_ratio, F.lit(0.0)) <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(F.coalesce(stopword_ratio, F.lit(0.0)) >= 0.01, 1.0).otherwise(0.0)
    div_ok = F.when(F.coalesce(lexical_diversity, F.lit(0.0)) >= 0.1, 1.0).otherwise(0.0)
    return {
        "len_ok": len_ok,
        "punct_ok": punct_ok,
        "stop_ok": stop_ok,
        "div_ok": div_ok,
        "quality_score": 0.4 * len_ok
        + 0.2 * punct_ok
        + 0.2 * stop_ok
        + 0.2 * div_ok,
    }


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite document quality score in [0,1]: banded length,
    punctuation sanity, stopword presence, lexical diversity — the
    standard cheap pre-filter before expensive dedup/training steps.
    Weights are fixed and documented; the score is deterministic.
    Tokenizes once behind the text_stats-style rand barrier (round
    10): the flags reference the token array through interpreted
    lambda filters, so without it the tokenize regex re-ran per flag."""
    tokenized = df.select(
        F.col(id_col),
        F.col(text_col),
        tokens(F.col(text_col)).alias("__tok"),
        F.rand(7).alias("__barrier"),
    )
    flags = quality_flag_exprs(F.col(text_col), tok_col=F.col("__tok"))
    return tokenized.select(
        F.col(id_col), *(expr.alias(name) for name, expr in flags.items())
    )


def quality_score_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                             text_col: str = "text") -> str:
    inner = text_stats_oracle_sql(table, id_col, text_col)
    return f"""
    WITH stats AS ({inner})
    SELECT {id_col},
           CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END AS len_ok,
           CASE WHEN COALESCE(punct_ratio, 0.0) <= 0.2 THEN 1.0 ELSE 0.0 END AS punct_ok,
           CASE WHEN COALESCE(stopword_ratio, 0.0) >= 0.01 THEN 1.0 ELSE 0.0 END AS stop_ok,
           CASE WHEN COALESCE(lexical_diversity, 0.0) >= 0.1 THEN 1.0 ELSE 0.0 END AS div_ok,
           0.4 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
           + 0.2 * (CASE WHEN COALESCE(punct_ratio, 0.0) <= 0.2 THEN 1.0 ELSE 0.0 END)
           + 0.2 * (CASE WHEN COALESCE(stopword_ratio, 0.0) >= 0.01 THEN 1.0 ELSE 0.0 END)
           + 0.2 * (CASE WHEN COALESCE(lexical_diversity, 0.0) >= 0.1 THEN 1.0 ELSE 0.0 END)
             AS quality_score
    FROM stats
    """


def tfidf_topk(df: DataFrame, k: int = 5, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Top-``k`` TF-IDF terms per document: tf = in-doc token count,
    idf = ln(N / df) with df = number of docs containing the token —
    the classic keyword-extraction / relevance primitive for corpus
    curation.

    Plan: one tokenize pass → (doc, tok) counts [shuffle 1, map-side
    combined]; document frequencies re-aggregate those counts per
    token [shuffle 2, token-dictionary-sized]; a co-partitioned join
    on token attaches idf; N rides in as a broadcast 1-row aggregate
    (never a driver-side count); the per-doc top-k is a row_number
    window [shuffle 3 on doc]. Scores are rounded to 6 digits BEFORE
    the ranking cut with token-ascending tie-break, so the cut is
    deterministic and engine-independent (float-parity rule).
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    n = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "tok",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("__df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "tok", "tf", "tfidf", "rank")
    )


def tfidf_topk_oracle_sql(table: str = "documents", k: int = 5,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    return f"""
    WITH tok AS (
      SELECT {id_col}, unnest(regexp_extract_all(lower({text_col}),
             '{TOKEN_RE}')) AS tok
      FROM {table}
    ),
    tf AS (
      SELECT {id_col}, tok, count(*) AS tf FROM tok GROUP BY {id_col}, tok
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM {table}),
    scored AS (
      SELECT {id_col}, tok, tf,
             round(tf * ln(n.n / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY {id_col}
                                   ORDER BY tfidf DESC, tok ASC) AS rank
      FROM scored
    )
    SELECT {id_col}, tok, tf, tfidf, rank FROM ranked WHERE rank <= {k}
    """


def normalized_text(text: Column) -> Column:
    """Canonical form for exact-dup hashing: lowercase, alnum tokens
    joined by single spaces."""
    return F.array_join(tokens(text), " ")


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints: (a) md5 of the normalized text (exact-dup
    key) and (b) a winnowing-style min-hash over word 5-gram shingles
    (robust to local edits — the rolling-hash fingerprint of the
    reference survey's text-analysis row). Both md5-based and therefore
    identical across engines.

    Token-free documents (NULL or no alnum tokens) get a NULL
    content_hash on BOTH engines: DuckDB's ``array_to_string([], ' ')``
    is NULL where Spark's ``array_join`` is ``''``, so the empty guard
    here is the parity rule (same convention as ``dedup.exact_dedup``)."""
    norm = normalized_text(F.col(text_col))
    sh = shingles(df, n=5, id_col=id_col, text_col=text_col)
    minsh = sh.groupBy(id_col).agg(
        F.min(F.md5(F.col("shingle"))).alias("min_shingle_hash")
    )
    base = df.select(
        F.col(id_col),
        F.when(F.length(norm) > 0, F.md5(norm)).alias("content_hash"),
    )
    return base.join(minsh, id_col, "left")


def fingerprint_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    sh = shingles_oracle_sql(table, 5, id_col, text_col)
    return f"""
    WITH sh AS ({sh}),
    minsh AS (
      SELECT {id_col}, min(md5(shingle)) AS min_shingle_hash
      FROM sh GROUP BY {id_col}
    )
    SELECT d.{id_col},
           md5(array_to_string(regexp_extract_all(lower(d.{text_col}),
               '{TOKEN_RE}'), ' ')) AS content_hash,
           m.min_shingle_hash
    FROM {table} d LEFT JOIN minsh m ON d.{id_col} = m.{id_col}
    """


def shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Tokenize ONCE per document into an array, then per-row lambda
    shingling (``transform(sequence(...), i -> concat_ws(' ',
    slice(t, i, n)))``) — array ops only inside the interpreted
    lambda, no per-doc sort. Measured 1.45× faster than the previous
    ``lead``-window formulation at sf0.1 (identical output).

    TRAP, twice measured: the lambda must reference a MATERIALIZED
    token array. If ``tokens(text)`` sits in the same Project as the
    lambda, CollapseProject inlines the regex into it and it re-runs
    per shingle — O(tokens²) interpreted regex work per document,
    >100× slower on long text. The ``repartition`` BETWEEN the
    tokenize projection and the shingling projection is (a) the
    collapse barrier (an Exchange is not a Project), (b) the
    cluster-wide parallelism spreader for few-split inputs, and
    (c) the doc_id clustering every downstream consumer (dedup
    aggregate, signature/sets groupBys) reuses without further
    exchanges. ``test_plans.py::test_shingle_regex_not_inlined`` pins
    the barrier.

    The size guard matters: Spark's ``sequence(1, 0)`` counts DOWN
    ([1, 0]), so a short document (< n tokens) would otherwise feed
    ``slice`` an invalid index instead of producing no shingles.
    """
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    ).repartition(F.col(id_col))
    gram = F.expr(
        f"explode(CASE WHEN size(__t) >= {n} THEN"
        f" transform(sequence(1, size(__t) - {n - 1}),"
        f" i -> concat_ws(' ', slice(__t, i, {n})))"
        " ELSE array() END)"
    )
    return (
        toks.select(F.col(id_col), gram.alias("shingle"))
        .distinct()
    )


def shingles_oracle_sql(table: str = "documents", n: int = 3,
                        id_col: str = "doc_id", text_col: str = "text") -> str:
    leads = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {i}) OVER w" for i in range(1, n)]
    )
    return f"""
    SELECT DISTINCT {id_col}, shingle FROM (
      SELECT {id_col},
             {leads} AS shingle,
             lead(tok, {n - 1}) OVER w AS last_tok
      FROM (
        SELECT {id_col}, t[pos] AS tok, pos
        FROM (
          SELECT {id_col},
                 regexp_extract_all(lower({text_col}), '{TOKEN_RE}') AS t
          FROM {table}
        ), unnest(range(1, len(t) + 1)) AS u(pos)
      )
      WINDOW w AS (PARTITION BY {id_col} ORDER BY pos)
    ) s WHERE last_tok IS NOT NULL
    """


def vocab_coverage(
    df: DataFrame,
    top_n: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary head: the ``top_n`` most frequent tokens with
    rank, count, corpus share, and CUMULATIVE share — the curve a
    tokenizer/vocab-size decision reads ("the top 200 types cover X%
    of token mass"). Ties in count break lexicographically so the rank
    is total and engine-independent.

    Scale shape: one explode + map-combined groupBy(token) — the only
    full shuffle, payload (token, count). The global top-N compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort); the
    cumulative window then runs on N rows, and the corpus total rides
    in as a broadcast single-row join (computed in the same scan
    family, never a second pass over raw text). Integer counts make
    every share a single exact division — no float-sum order issues.
    """
    toks = df.select(
        F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    total = counts.agg(
        F.sum("n_occurrences").alias("__total"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    top = counts.orderBy(
        F.desc("n_occurrences"), F.asc("token")
    ).limit(top_n)
    w_rank = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.join(F.broadcast(total))
        .select(
            F.row_number().over(w_rank).cast("int").alias("rank"),
            "token",
            "n_occurrences",
            F.col("n_vocab").cast("bigint").alias("n_vocab"),
            F.round(F.col("n_occurrences") / F.col("__total"), 6).alias(
                "share"
            ),
            F.round(
                F.sum("n_occurrences").over(w_cum) / F.col("__total"), 6
            ).alias("cum_share"),
        )
    )


def vocab_coverage_oracle_sql(
    table: str = "documents",
    top_n: int = 200,
    text_col: str = "text",
) -> str:
    return f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower({text_col}), '{TOKEN_RE}'))
               AS token
      FROM {table}
    ),
    counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM toks GROUP BY token
    ),
    tot AS (
      SELECT CAST(sum(n_occurrences) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_vocab
      FROM counts
    ),
    top AS (
      SELECT * FROM counts
      ORDER BY n_occurrences DESC, token ASC LIMIT {top_n}
    )
    SELECT CAST(row_number() OVER w AS INT) AS rank,
           token, n_occurrences, n_vocab,
           round(n_occurrences * 1.0 / total, 6) AS share,
           round(sum(n_occurrences) OVER (w ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) * 1.0 / total, 6)
             AS cum_share
    FROM top, tot
    WINDOW w AS (ORDER BY n_occurrences DESC, token ASC)
    """


def ngram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-grounded statistical quality score: every document is
    scored under a Laplace-smoothed bigram language model trained on
    the corpus itself — ``avg_logprob`` = mean log10 P(w2|w1) over the
    doc's bigram positions (P = (C(w1,w2)+1) / (C(w1)+V)). Documents
    full of corpus-atypical token sequences (boilerplate explosions,
    encoding garbage, shuffled text) score far below the mass of the
    corpus — the perplexity-style filter signal the heuristic
    `quality_score` rules cannot express, with no external model
    (KenLM-shaped, but relational).

    Determinism: all counts are integers computed by count-over-
    partition windows; each position's probability is one exact
    division; the single libm call (log10) is quantized to 9 decimals
    per position and the per-doc mean is a DECIMAL sum divided by an
    integer — order-free, hash-stable across engines (the PSI-drift
    discipline).

    Scale shape: the bigram posting stream shuffles twice (once keyed
    by the bigram for C(w1,w2), once by the head token for C(w1) —
    count-over-partition windows, no count-table joins), then once by
    doc for the mean. Head-token/bigram skew is bounded: hot
    partitions compute counts, never pairs. V rides in as a broadcast
    1-row aggregate.
    """
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    ).repartition(F.col(id_col))
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "CASE WHEN size(__t) >= 2 THEN"
                " transform(sequence(1, size(__t) - 1),"
                " i -> struct(element_at(__t, i) AS w1,"
                " element_at(__t, i + 1) AS w2))"
                " ELSE array() END"
            )
        ).alias("__p"),
    ).select(id_col, F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2"))

    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("__w"))
        .agg(F.countDistinct("__w").cast("bigint").alias("__v"))
    )

    c_big = F.count(F.lit(1)).over(Window.partitionBy("__w1", "__w2"))
    c_head = F.count(F.lit(1)).over(Window.partitionBy("__w1"))
    scored = (
        pairs.withColumn("__cb", c_big)
        .withColumn("__ch", c_head)
        .join(F.broadcast(vocab))
    )
    logp = F.round(
        F.log10((F.col("__cb") + 1) / (F.col("__ch") + F.col("__v"))), 9
    ).cast("decimal(28,9)")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum(logp).alias("__sum_lp"),
    )
    spine = df.select(F.col(id_col))
    return spine.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.round(
            (F.col("__sum_lp").cast("double")) / F.col("n_bigrams"), 6
        ).alias("avg_logprob"),
    )


def ngram_lm_score_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin: same windows, same Laplace smoothing, same
    per-position quantization and DECIMAL mean."""
    return f"""
    WITH toks AS (
      SELECT {id_col},
             regexp_extract_all(lower({text_col}), '{TOKEN_RE}') AS t
      FROM {table}
    ),
    pairs AS (
      SELECT {id_col}, t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
    ),
    vocab AS (
      SELECT count(DISTINCT tok) AS v FROM (
        SELECT unnest(regexp_extract_all(lower({text_col}), '{TOKEN_RE}'))
          AS tok FROM {table}
      )
    ),
    scored AS (
      SELECT {id_col},
             CAST(round(log10(
               (count(*) OVER (PARTITION BY w1, w2) + 1) * 1.0
               / (count(*) OVER (PARTITION BY w1) + v)), 9)
               AS DECIMAL(28,9)) AS lp
      FROM pairs, vocab
    ),
    per_doc AS (
      SELECT {id_col},
             CAST(count(*) AS BIGINT) AS n_bigrams,
             sum(lp) AS sum_lp
      FROM scored GROUP BY {id_col}
    )
    SELECT s.{id_col},
           COALESCE(n_bigrams, 0) AS n_bigrams,
           round(CAST(sum_lp AS DOUBLE) / n_bigrams, 6) AS avg_logprob
    FROM (SELECT {id_col} FROM {table}) s
    LEFT JOIN per_doc USING ({id_col})
    """


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    queries: Sequence[tuple[str, Sequence[str]]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 top-``k`` documents per query (Robertson & Walker
    1994 — the lexical-retrieval baseline every RAG/eval pipeline
    needs next to the ANN ops). ``queries`` is a literal list of
    (query_id, [terms]); scores use the standard k1/b formulation with
    idf = ln(1 + (N - df + .5)/(df + .5)).

    Plan: the (doc, term, tf) postings feed everything — the doc
    lengths, document frequencies, and the (N, avgdl) 1-row stats
    frame (broadcast) all re-aggregate the counts, never raw text.
    The query-term table is a broadcast literal, so only postings for
    query terms survive the semi-ish join: scoring cost is
    candidate-proportional (docs sharing ≥1 term), the inverted-index
    shape, never corpus × queries. When ``postings`` is None the
    index is derived inline, and Spark's lack of subtree sharing
    re-runs the tokenize per consumer — fine for one-shot analytics;
    the serving shape is INDEX ONCE, QUERY MANY: materialize the
    (id, tok, tf) table and pass it as ``postings`` (then no query
    ever touches ``text_col`` — each run reads the narrow postings
    parquet a handful of times).

    Float parity: each per-term score is quantized to integer micros
    and per-(query, doc) totals are BIGINT sums — grouping-order-free
    (the a19/a21/ngram-LM recipe); the final score divides back and
    rounds to 6 before the rank cut (doc-id-ascending tie-break).
    """
    terms = [
        (qid, t) for qid, ts in queries for t in dict.fromkeys(ts)
    ]
    if not terms:
        raise ValueError("bm25_topk: queries must carry >= 1 term")
    spark = df.sparkSession
    qdf = local_frame(spark, terms, "query_id string, tok string")

    tf = postings
    if tf is None:
        tf = (
            df.select(
                F.col(id_col),
                F.explode(tokens(F.col(text_col))).alias("tok"),
            )
            .groupBy(id_col, "tok")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    dlen = tf.groupBy(id_col).agg(F.sum("tf").alias("__dl"))
    # document frequencies only matter for the query terms — filter
    # the postings by the broadcast term set BEFORE the df aggregate,
    # shrinking it from |vocabulary| to |query terms| rows (dlen/avgdl
    # genuinely need the full postings; df does not)
    tf_q = tf.join(
        F.broadcast(qdf.select("tok").distinct()), "tok", "left_semi"
    )
    dfreq = tf_q.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    stats = dlen.agg(
        (F.sum("__dl") / F.count(F.lit(1))).alias("__avgdl")
    ).crossJoin(F.broadcast(n_docs))

    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    norm = F.lit(BM25_K1) * (
        F.lit(1 - BM25_B)
        + F.lit(BM25_B) * F.col("__dl") / F.col("__avgdl")
    )
    term_score = idf * (F.col("tf") * (BM25_K1 + 1)) / (F.col("tf") + norm)
    scored = (
        tf.join(F.broadcast(qdf), "tok")
        .join(dfreq, "tok")
        .join(dlen, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col(id_col),
            F.round(term_score * 1_000_000)
            .cast("bigint")
            .alias("__micros"),
        )
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("__micros").alias("__total"),
        )
        .select(
            "query_id",
            id_col,
            "n_terms",
            F.round(F.col("__total") / 1_000_000, 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "n_terms", "score", "rank")
    )


def bm25_topk_oracle_sql(
    queries: Sequence[tuple[str, Sequence[str]]],
    table: str = "documents",
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin: same literal query terms, same micro-quantized
    per-term scores summed as BIGINT, same round-before-rank cut."""
    terms = [
        (qid, t) for qid, ts in queries for t in dict.fromkeys(ts)
    ]
    # SQL-escape the literals: a query id/term containing an apostrophe
    # would otherwise produce malformed VALUES SQL while the Spark side
    # still ran — a silent spec-build-time divergence of the twin.
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    values = ", ".join(f"('{esc(q)}', '{esc(t)}')" for q, t in terms)
    return f"""
    WITH qterms(query_id, tok) AS (VALUES {values}),
    tok AS (
      SELECT {id_col}, unnest(regexp_extract_all(lower({text_col}),
             '{TOKEN_RE}')) AS tok
      FROM {table}
    ),
    tf AS (
      SELECT {id_col}, tok, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    dlen AS (SELECT {id_col}, sum(tf) AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    stats AS (
      SELECT (SELECT sum(dl) / count(*) FROM dlen) AS avgdl,
             (SELECT CAST(count(*) AS DOUBLE) FROM {table}) AS n
    ),
    scored AS (
      SELECT q.query_id, tf.{id_col},
             CAST(round(1000000 *
               ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1))
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * dlen.dl / s.avgdl))
             ) AS BIGINT) AS micros
      FROM tf
      JOIN qterms q USING (tok)
      JOIN dfreq USING (tok)
      JOIN dlen USING ({id_col})
      CROSS JOIN stats s
    ),
    totals AS (
      SELECT query_id, {id_col},
             CAST(count(*) AS BIGINT) AS n_terms,
             round(sum(micros) / 1000000.0, 6) AS score
      FROM scored GROUP BY 1, 2
    )
    SELECT query_id, {id_col}, n_terms, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, {id_col} ASC) AS rank
      FROM totals
    ) WHERE rank <= {k}
    """


def pmi_collocations(
    df: DataFrame,
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information —
    the phrase-detection pass of word2vec-style corpus prep (Mikolov
    et al.'s phrase scoring is PMI with a discount): PMI(a,b) =
    log10(C(ab)·N / (C(a)·C(b))) over adjacent token pairs, high PMI =
    tokens that co-occur far more than their independent rates predict
    (multi-word expressions, named entities, boilerplate idioms).
    ``min_count`` suppresses singleton noise (PMI's classic
    rare-pair bias).

    Determinism: counts are exact integers; the single libm call
    rides the same 9-decimal quantization contract as
    :func:`ngram_lm_score`; top-k ties break on (w1, w2).

    Scale shape: one groupBy for unigram counts, one for pair counts,
    two keyed joins (pair stream ⋈ unigram counts — no broadcast
    assumption: vocabulary at corpus scale is join-sized, not
    driver-sized), N as a broadcast 1-row aggregate, TakeOrdered for
    the global top-k. Nothing quadratic; hot tokens cost counts, not
    pairs."""
    toks = df.select(
        F.explode(tokens(F.col(text_col))).alias("__w")
    )
    # round-11 audit note: deriving N from `uni` (Σ __c) does NOT
    # save the third scan — the sum-over-uni subtree fails to reuse
    # the uni exchange (measured: still 3 FileScans, 1 ReusedExchange,
    # no time change), so the straightforward global count stays.
    n_total = toks.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    uni = toks.groupBy("__w").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    t = df.select(tokens(F.col(text_col)).alias("__t"))
    pairs = t.select(
        F.explode(
            F.expr(
                "CASE WHEN size(__t) >= 2 THEN"
                " transform(sequence(1, size(__t) - 1),"
                " i -> struct(element_at(__t, i) AS w1,"
                " element_at(__t, i + 1) AS w2))"
                " ELSE array() END"
            )
        ).alias("__p")
    ).select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    joined = (
        pc.join(uni.withColumnRenamed("__w", "w1"), "w1")
        .withColumnRenamed("__c", "n_w1")
        .join(uni.withColumnRenamed("__w", "w2"), "w2")
        .withColumnRenamed("__c", "n_w2")
        .join(F.broadcast(n_total))
    )
    pmi = F.round(
        F.log10(
            (F.col("n_pair") * F.col("__n").cast("double"))
            / (F.col("n_w1") * F.col("n_w2").cast("double"))
        ),
        9,
    )
    scored = joined.select(
        "w1", "w2", "n_pair", "n_w1", "n_w2", pmi.alias("pmi")
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        F.desc("pmi"), F.col("w1").asc(), F.col("w2").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pmi_collocations_oracle_sql(
    table: str = "documents",
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> str:
    return f"""
    WITH toks AS (
      SELECT regexp_extract_all(lower({text_col}), '{TOKEN_RE}') AS t
      FROM {table}
    ),
    stream AS (SELECT unnest(t) AS w FROM toks),
    n_total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM stream),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM stream GROUP BY w
    ),
    pairs AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
    ),
    pc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM pairs GROUP BY w1, w2
      HAVING count(*) >= {min_count}
    ),
    scored AS (
      SELECT pc.w1, pc.w2, pc.n_pair,
             u1.c AS n_w1, u2.c AS n_w2,
             round(log10((pc.n_pair * CAST(n.n AS DOUBLE))
                         / (u1.c * CAST(u2.c AS DOUBLE))), 9) AS pmi
      FROM pc
      JOIN uni u1 ON pc.w1 = u1.w
      JOIN uni u2 ON pc.w2 = u2.w
      CROSS JOIN n_total n
    )
    SELECT w1, w2, n_pair, n_w1, n_w2, pmi, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def learn_phrase_merges(
    df: DataFrame,
    n_merges: int = 4,
    min_count: int = 5,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Iterative greedy phrase-pair merging — the word-level form of
    BPE vocabulary learning (Sennrich et al. 2016) and the dynamic
    counterpart of :func:`pmi_collocations`' static ranking: each
    round counts adjacent token pairs corpus-wide, merges the most
    frequent pair (ties lexicographically) into one ``a_b`` token,
    REWRITES the corpus, and repeats — so later rounds can merge onto
    earlier merges and grow multi-word phrases, which a single static
    pass cannot. Stops early when no pair reaches ``min_count``.

    Returns ``(merges, corpus)``: the merge table (round, w1, w2,
    pair_count — the learned vocabulary, in order) and the final
    rewritten corpus (doc_id?, tokens array — whatever id columns the
    input carried, with ``__tokens`` replaced per round).

    Determinism: counts are exact integers; argmax tie-breaks on
    (w1, w2); the rewrite is a greedy left-to-right fold (an ``aaa``
    corpus under merge (a,a) yields ``[a_a, a]``, standard BPE
    greediness) via ``F.aggregate`` — JVM-only, no Python in the row
    path.

    Scale shape per round: one pair-count shuffle + a driver-side
    1-row argmax + a scan-local fold rewrite, with ``localCheckpoint``
    cutting lineage each round (the iterative-operator discipline of
    ``near_dup_clusters``/``pagerank``). Rounds are few by design
    (a vocabulary's worth), never data-dependent loops."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    spark = df.sparkSession
    corpus = df.withColumn(
        "__tokens",
        # NULL text ⇒ empty token array (keep-the-spine, and the fold
        # below must never see NULL)
        F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>")),
    ).localCheckpoint(eager=True)
    merges = []
    for rnd in range(n_merges):
        pairs = (
            corpus.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(__tokens) >= 2 THEN"
                        " transform(sequence(1, size(__tokens) - 1),"
                        " i -> struct(element_at(__tokens, i) AS w1,"
                        " element_at(__tokens, i + 1) AS w2))"
                        " ELSE array() END"
                    )
                ).alias("__p")
            )
            .groupBy("__p.w1", "__p.w2")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .filter(F.col("n") >= min_count)
        )
        top = (
            pairs.orderBy(F.desc("n"), F.col("w1").asc(), F.col("w2").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["w1"], top[0]["w2"], int(top[0]["n"])
        merged = f"{a}_{b}"
        merges.append((rnd, a, b, n))
        # safe to inline as SQL literals: tokens match TOKEN_RE
        # ([a-z0-9]+) or are underscore-joins of previous merges —
        # no quotes can occur
        fold = F.expr(
            "aggregate(__tokens, CAST(array() AS array<string>), "
            "(acc, x) -> CASE WHEN size(acc) > 0 "
            f"AND element_at(acc, -1) = '{a}' AND x = '{b}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{merged}')) "
            "ELSE concat(acc, array(x)) END)"
        )
        corpus = corpus.withColumn("__tokens", fold).localCheckpoint(
            eager=True
        )
    merges_df = local_frame(
        spark, merges, "round int, w1 string, w2 string, pair_count bigint"
    )
    return merges_df, corpus
