"""Text analysis: token counting, quality scoring, language id,
document fingerprinting. All-Catalyst (whole-stage codegen); every
operator has an exact DuckDB-SQL twin (md5 digests, regex splits and
arithmetic are engine-independent), so the driver's oracle check holds
value-for-value.

Each operator exposes its expressions via a ``_*_cols`` helper so
``profile`` can fuse ALL of them into one projection over a single scan
— at corpus scale the analyses are row-wise and there is no reason to
pay one pass (or one join) per feature family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_SPLIT = "\\s+"

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "und", "die", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def _token_stat_cols(text_col: str) -> list[Column]:
    toks = F.split(F.col(text_col), TOKEN_SPLIT)
    return [
        F.size(toks).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        F.round(F.length(text_col) / F.size(toks), 4).alias("mean_tok_len"),
    ]


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count, char count, mean token length."""
    return df.select(F.col(id_col), *_token_stat_cols(text_col))


def _bpe_cols(text_col: str) -> list[Column]:
    """BPE-ish tokenization estimate: words and punctuation count as
    separate tokens (the \\w+|[^\\w\\s] regex families used to size LLM
    training batches), plus a ~chars/4 subword estimate."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"\w+|[^\w\s]"), 0)
    return [
        F.size(toks).alias("n_word_tokens"),
        (F.length(text_col) / 4).cast("bigint").alias("est_subwords"),
    ]


def _quality_cols(text_col: str) -> list[Column]:
    txt = F.col(text_col)
    n = F.length(text_col)
    punct = n - F.length(F.regexp_replace(txt, "[.,;:!?'\"()]", ""))
    digits = n - F.length(F.regexp_replace(txt, "[0-9]", ""))
    upper = n - F.length(F.regexp_replace(txt, "[A-Z]", ""))
    sw = None
    for w in STOPWORDS["en"]:
        hits = (F.length(txt) - F.length(F.regexp_replace(
            txt, f"\\b{w}\\b", ""))) / len(w)
        sw = hits if sw is None else sw + hits
    toks = F.size(F.split(txt, TOKEN_SPLIT))
    return [
        n.alias("n_chars"),
        F.round(punct / n, 5).alias("punct_ratio"),
        F.round(digits / n, 5).alias("digit_ratio"),
        F.round(upper / n, 5).alias("upper_ratio"),
        F.round(sw / toks, 5).alias("stopword_ratio"),
        # composite: long enough, low punctuation, some stopwords
        F.round(
            F.least(n / F.lit(500.0), F.lit(1.0)) * (1 - punct / n), 5
        ).alias("quality"),
    ]


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features: length, punctuation ratio, digit
    ratio, uppercase ratio, stopword(en) hit count, and a composite."""
    return df.select(F.col(id_col), *_quality_cols(text_col))


def _langid_cols(text_col: str) -> list[Column]:
    txt = F.col(text_col)
    scores = {}
    for lang, words in STOPWORDS.items():
        s = None
        for w in words:
            hits = (F.length(txt) - F.length(F.regexp_replace(
                txt, f"\\b{w}\\b", ""))) / len(w)
            s = hits if s is None else s + hits
        scores[lang] = s
    best = F.lit("und")
    best_score = F.lit(0.0)
    for lang in sorted(STOPWORDS):  # deterministic tie-break: alphabetical
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return [best.alias("pred_lang"), best_score.cast("long").alias("votes")]


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-vote language id over {en, de, fr, es} ('und' = unknown
    when no stopword hits). Word-boundary counts via regexp_replace, the
    same expression the DuckDB oracle uses."""
    return df.select(F.col(id_col), *_langid_cols(text_col))


def _fingerprint_cols(text_col: str, shingle_chars: int = 16
                      ) -> list[Column]:
    txt = F.col(text_col)
    n_sh = F.greatest(F.length(txt) - shingle_chars, F.lit(0))
    shingle_hashes = F.expr(
        f"transform(sequence(0, greatest(length({text_col}) - {shingle_chars}, 0)), "
        f"i -> md5(substring({text_col}, i + 1, {shingle_chars})))")
    return [
        F.md5(txt).alias("md5"),
        F.array_min(shingle_hashes).alias("min_shingle"),
        (n_sh + 1).alias("n_shingles"),
    ]


def fingerprints(df: DataFrame, id_col: str, text_col: str,
                 shingle_chars: int = 16, sample_bits: int = 0) -> DataFrame:
    """Document fingerprints: full-text md5 plus a winnowing-style
    min-md5 over character shingles (rolling window of
    ``shingle_chars``). Near-identical docs share min_shingle with high
    probability; md5 keeps the oracle bit-exact."""
    return df.select(F.col(id_col),
                     *_fingerprint_cols(text_col, shingle_chars))


def profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """All five text analyses fused into ONE projection over one scan:
    token stats, BPE-ish counts, quality features, language id, and
    fingerprints. The 100 TB shape — each family is row-wise, so a
    combined profile costs a single pass with no joins; n_chars is
    emitted once (token_stats and quality_scores both define it
    identically)."""
    from .dedup import _spread

    df = _spread(df)
    return df.select(
        F.col(id_col),
        *_token_stat_cols(text_col),          # n_tokens n_chars mean_tok_len
        *_bpe_cols(text_col),                 # n_word_tokens est_subwords
        *_quality_cols(text_col)[1:],         # ratios + quality (skip n_chars)
        *_langid_cols(text_col),              # pred_lang votes
        *_fingerprint_cols(text_col),         # md5 min_shingle n_shingles
    )
