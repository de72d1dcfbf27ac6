"""Text analysis for large-scale training-data pipelines.

Beyond the reference's surface (driver north-star, SURVEY §2.4): language
identification, quality scoring, token counting and document
fingerprinting over a ``documents``-shaped table (``doc_id, text, ...``).

Everything here is **pure built-in column expressions** — no Python UDFs —
so the whole pass stays inside whole-stage codegen and runs at parquet-scan
speed: at 100 TB these are embarrassingly parallel map-only stages with
zero shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "tokenize",
    "classification_audit",
    "normalize_unicode",
    "with_script_profile",
    "SCRIPT_RANGES",
    "ZERO_WIDTH_CODEPOINTS",
    "with_text_stats",
    "with_token_count",
    "with_language_id",
    "with_quality_score",
    "with_model_quality",
    "with_fingerprint",
    "with_compression_ratio",
    "with_gopher_rules",
    "strip_markup",
    "with_encoding_anomalies",
    "DEFAULT_QUALITY_WEIGHTS",
    "STOPWORDS",
    "BPE_TOKEN_PATTERN",
    "with_code_score",
    "CODE_KEYWORD_RE",
]

# Small, fixed stopword lists: enough signal for a coarse n-gram/stopword
# language heuristic. Deliberately tiny — the point is the *operator shape*
# (map-only, codegen'd); richer models plug into the same column.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "que", "pour", "dans", "une", "des"],
    "es": ["el", "la", "los", "que", "de", "es", "para", "con", "una", "por"],
}


def tokenize(text: Column) -> Column:
    """Whitespace tokenization of lowercased text → array<string>.
    ``F.split`` on ``\\s+`` after trim; empty text yields an empty array."""
    t = F.trim(F.lower(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


# A GPT-2-flavoured pretokenizer regex ("BPE-ish"): contractions, letter
# runs, digit runs, punctuation runs — each optionally space-prefixed.
# RE2-compatible, so the identical pattern runs in Spark and DuckDB.
BPE_TOKEN_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def with_token_count(
    df: DataFrame, text_col: str = "text", out_col: str = "n_tokens", mode: str = "whitespace"
) -> DataFrame:
    """Token count per document. ``mode="whitespace"`` counts
    whitespace-separated tokens; ``mode="bpe"`` counts matches of
    :data:`BPE_TOKEN_PATTERN` — a cheap, deterministic proxy for an LLM
    tokenizer's token count (pretraining data budgeting). Both are pure
    codegen'd expressions."""
    if mode == "whitespace":
        return df.withColumn(out_col, F.size(tokenize(F.col(text_col))))
    if mode == "bpe":
        return df.withColumn(
            out_col,
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), F.lit(0))),
        )
    raise ValueError(f"mode must be 'whitespace' or 'bpe', got {mode!r}")


def _staging_names(df: DataFrame, *bases: str, reserved: "tuple[str, ...]" = ()) -> "list[str]":
    """Temp column names guaranteed not to collide with ``df``'s columns
    OR any ``reserved`` name (pass the function's ``out_col`` — a user
    choosing an output name equal to a staging base would otherwise have
    their result column dropped with the staging temps). The
    staged-projection pattern (withColumn → reference → drop) would
    otherwise silently replace-and-remove a caller column that happens to
    share a staging name — the pre-staging inlined forms never touched
    caller columns, and that contract is kept."""
    existing = set(df.columns) | set(reserved)
    out: list[str] = []
    for b in bases:
        name, i = b, 0
        while name in existing:
            i += 1
            name = f"{b}_{i}"
        existing.add(name)
        out.append(name)
    return out


def _stop_hits(tokens: Column, words: list[str]) -> Column:
    stop = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stop, t)))


def _text_stat_exprs(text_col: str, tokens: "Column | None" = None) -> "dict[str, Column]":
    """The token/char statistic expressions shared by ``with_text_stats``
    and the quality scorers. Returned as plain Columns so callers that only
    need them as INPUTS (the scorers) can inline them without ever
    materializing — and thus without clobbering — caller-owned columns of
    the same names. Pass ``tokens`` (an already-staged token-array column)
    to keep the tokenize chain out of the expressions entirely — otherwise
    every statistic that mentions the token array embeds its own copy."""
    text = F.col(text_col)
    if tokens is None:
        tokens = tokenize(text)
    n_chars = F.length(text)
    nz = F.when(n_chars > 0, n_chars.cast("double"))  # null-divide guard
    return {
        "n_tokens": F.size(tokens),
        "n_chars_actual": n_chars,
        "mean_token_len": F.when(
            F.size(tokens) > 0,
            (F.length(F.regexp_replace(F.trim(text), r"\s+", ""))).cast("double")
            / F.size(tokens),
        ).otherwise(F.lit(0.0)),
        "punct_ratio": F.coalesce(
            (n_chars - F.length(F.regexp_replace(text, r"[^a-zA-Z0-9\s]", ""))).cast("double") / nz,
            F.lit(0.0),
        ),
        "upper_ratio": F.coalesce(
            (n_chars - F.length(F.regexp_replace(text, "[A-Z]", ""))).cast("double") / nz,
            F.lit(0.0),
        ),
        "digit_ratio": F.coalesce(
            (n_chars - F.length(F.regexp_replace(text, "[0-9]", ""))).cast("double") / nz,
            F.lit(0.0),
        ),
    }


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add token/char statistics: ``n_tokens``, ``n_chars_actual``,
    ``mean_token_len``, ``punct_ratio``, ``upper_ratio``, ``digit_ratio``.
    The token array is staged once (its own projection) so the stats
    reference it by alias instead of each embedding a tokenize copy."""
    (tk,) = _staging_names(df, "__ts_toks")
    staged = df.withColumn(tk, tokenize(F.col(text_col)))
    return staged.withColumns(_text_stat_exprs(text_col, tokens=F.col(tk))).drop(tk)


def with_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition-based quality signals (Gopher-style filters):

    - ``dup_token_frac``: 1 − |distinct tokens| / |tokens| — high values
      mean the document repeats itself;
    - ``top_bigram_frac``: occurrences of the single most frequent token
      bigram / total bigrams — catches boilerplate loops n-gram dedup
      misses.

    ``dup_token_frac`` is a pure expression (map-only). The bigram mode
    needs a per-(doc, gram) count: explode + two hash aggregations —
    shuffle keyed by (doc, gram), partial-aggregated map-side, so the
    cost is ∝ corpus token count, never pairwise."""
    from polars_dataset_spark.session import ensure_parallelism

    df = ensure_parallelism(df)  # bigram explode + partial agg are map-heavy
    # materialize the token array ONCE: interpreted higher-order lambdas
    # re-evaluate a referenced expression tree per ELEMENT, so pointing
    # them at the raw `tokenize(text)` expression costs an O(n) regex
    # split per token — O(n²) per doc (measured 7× on this operator);
    # collision-checked name so a caller's column of the same name
    # survives (the staging-contract fix, round 7)
    (tk,) = _staging_names(df, "__toks")
    toks = F.col(tk)
    df = df.withColumn(tk, tokenize(F.col(text_col)))
    dup = F.when(
        F.size(toks) > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))
    base = df.withColumn("dup_token_frac", dup).drop(tk)

    # adjacent bigrams = element-wise zip of the array with itself shifted
    # by one (two O(n) slices), never a per-element array lookup
    bigrams = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__g"),
    )
    per_gram = bigrams.groupBy(id_col, "__g").agg(F.count("*").alias("__c"))
    top = per_gram.groupBy(id_col).agg(
        (F.max("__c").cast("double") / F.sum("__c")).alias("top_bigram_frac")
    )
    return base.join(top, on=id_col, how="left").fillna({"top_bigram_frac": 0.0})


def with_language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Coarse language ID: most stopword hits wins; zero hits → ``und``.
    Ties break in fixed language order (en, de, fr, es) for determinism.

    Each intermediate (token array, per-language hit counts, the max) is
    staged into its OWN projection and referenced by alias: the inlined
    single-projection form duplicated the tokenize chain 36x in the
    optimized plan (4 stopword filters × greatest × the tie-break
    when-chain) — the q199-class defect found by tools/expr_dup_audit.py
    — and pointing F.filter at the raw tokenize EXPRESSION re-evaluates
    the regex split per ELEMENT under interpreted higher-order lambdas
    (the O(n²) trap documented on with_repetition_stats)."""
    tk, bst, *hit_names = _staging_names(
        df, "__lid_toks", "__lid_best", *[f"__lid_{lang}" for lang in STOPWORDS],
        reserved=(out_col,),
    )
    staged = df.withColumn(tk, tokenize(F.col(text_col)))
    staged = staged.withColumns(
        {
            name: _stop_hits(F.col(tk), words)
            for name, words in zip(hit_names, STOPWORDS.values())
        }
    )
    hits = dict(zip(STOPWORDS, [F.col(n) for n in hit_names]))
    staged = staged.withColumn(bst, F.greatest(*hits.values()))
    best = F.col(bst)
    expr = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return staged.withColumn(out_col, expr).drop(tk, bst, *hit_names)


def with_quality_score(df: DataFrame, text_col: str = "text", out_col: str = "quality") -> DataFrame:
    """Heuristic quality in [0, 1]: rewards mid-length documents and prose-
    like token lengths, penalizes punctuation/digit noise. Deterministic,
    fully codegen'd; thresholds follow common pretraining-filter heuristics
    (Gopher-style length/punct rules).

    Features live in __-prefixed staging columns (dropped before
    returning) — caller columns named ``n_tokens``/``punct_ratio``/… are
    left untouched. Staging each statistic into its own aliased
    projection keeps CollapseProject from inlining the tokenize/regexp
    chains at every reference (the q199-class duplication found by
    tools/expr_dup_audit.py)."""
    tk, ntok_c, mtl_c, punct_c, digit_c = _staging_names(
        df, "__q_toks", "__q_ntok", "__q_mtl", "__q_punct", "__q_digit",
        reserved=(out_col,),
    )
    staged = df.withColumn(tk, tokenize(F.col(text_col)))
    st = _text_stat_exprs(text_col, tokens=F.col(tk))
    staged = staged.withColumns(
        {
            ntok_c: st["n_tokens"],
            mtl_c: st["mean_token_len"],
            punct_c: st["punct_ratio"],
            digit_c: st["digit_ratio"],
        }
    )
    n_tok, mtl = F.col(ntok_c), F.col(mtl_c)
    length_score = F.when(n_tok <= 0, 0.0).otherwise(
        F.least(n_tok.cast("double") / F.lit(20.0), F.lit(1.0))
    )
    token_len_score = F.when((mtl >= 3.0) & (mtl <= 10.0), 1.0).otherwise(0.5)
    noise_score = F.lit(1.0) - F.least(
        F.lit(1.0), F.col(punct_c) * 2.0 + F.col(digit_c)
    )
    return staged.withColumn(
        out_col,
        F.round((length_score * 0.4 + token_len_score * 0.3 + noise_score * 0.3), 6),
    ).drop(tk, ntok_c, mtl_c, punct_c, digit_c)


# Fixed public-heuristic weights for the logistic quality scorer: prose
# signals (length, stopword coverage, mid-range token length) up, noise
# signals (punctuation, digits, shouting) down. The point is the OPERATOR
# SHAPE — swap in learned weights via the ``weights`` argument.
DEFAULT_QUALITY_WEIGHTS: dict[str, float] = {
    "log_tokens": 0.6,
    "mean_token_len": 0.15,
    "stopword_ratio": 2.0,
    "punct_ratio": -3.0,
    "digit_ratio": -2.0,
    "upper_ratio": -1.0,
}


def with_model_quality(
    df: DataFrame,
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    bias: float = -2.0,
    lang: str = "en",
    out_col: str = "model_quality",
) -> DataFrame:
    """Model-based quality scoring: ``sigmoid(bias + w·features)`` over
    prose features — the shape of the linear/fastText-style quality
    classifiers pretraining pipelines run over every document, with
    fixed public heuristic weights by default (``DEFAULT_QUALITY_WEIGHTS``;
    pass learned ``weights`` to override any subset).

    Features: ``log_tokens`` = ln(1+n_tokens), ``mean_token_len``,
    ``stopword_ratio`` = |distinct tokens ∩ STOPWORDS[lang]| / n_tokens
    (distinct-intersection semantics — identical in any engine),
    ``punct_ratio``, ``digit_ratio``, ``upper_ratio``.

    Entirely codegen'd expressions — no UDF, no model runtime: at 100 TB
    the scorer is map-only and runs at scan speed, and Catalyst fuses it
    into the same whole-stage pass as the surrounding filters.

    Features live in collision-checked staging columns (dropped before
    returning) — caller columns named ``n_tokens``/``punct_ratio``/… are
    left untouched. ``lang`` must be one of the supported stopword
    languages (``ValueError`` otherwise)."""
    if lang not in STOPWORDS:
        raise ValueError(
            f"unsupported lang {lang!r}; supported: {sorted(STOPWORDS)}"
        )
    w = dict(DEFAULT_QUALITY_WEIGHTS)
    w.update(weights or {})
    # staged like with_quality_score: the inlined form embedded ~6 copies
    # of the tokenize chain in one projection (expr_dup_audit, round 7)
    tk, ntok_c, mtl_c, punct_c, digit_c, upper_c = _staging_names(
        df, "__mq_toks", "__mq_ntok", "__mq_mtl", "__mq_punct", "__mq_digit",
        "__mq_upper", reserved=(out_col,),
    )
    staged = df.withColumn(tk, tokenize(F.col(text_col)))
    st = _text_stat_exprs(text_col, tokens=F.col(tk))
    staged = staged.withColumns(
        {
            ntok_c: st["n_tokens"],
            mtl_c: st["mean_token_len"],
            punct_c: st["punct_ratio"],
            digit_c: st["digit_ratio"],
            upper_c: st["upper_ratio"],
        }
    )
    n_tok = F.col(ntok_c)
    sw = F.array([F.lit(s) for s in STOPWORDS[lang]])
    stop_ratio = F.when(
        n_tok > 0,
        F.size(F.array_intersect(F.col(tk), sw)).cast("double") / n_tok,
    ).otherwise(F.lit(0.0))
    z = (
        F.lit(float(bias))
        + F.lit(w["log_tokens"]) * F.log1p(n_tok.cast("double"))
        + F.lit(w["mean_token_len"]) * F.col(mtl_c)
        + F.lit(w["stopword_ratio"]) * stop_ratio
        + F.lit(w["punct_ratio"]) * F.col(punct_c)
        + F.lit(w["digit_ratio"]) * F.col(digit_c)
        + F.lit(w["upper_ratio"]) * F.col(upper_c)
    )
    return staged.withColumn(
        out_col, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    ).drop(tk, ntok_c, mtl_c, punct_c, digit_c, upper_c)


def with_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fingerprint",
    modulus: int = 1_000_000_007,
    base: int = 31,
) -> DataFrame:
    """Deterministic document fingerprint: polynomial rolling hash of the
    normalized (lowercased, whitespace-collapsed) character codes,
    ``acc = (acc*base + code) mod m``. Chosen over ``xxhash64`` so the same
    value is reproducible in any engine (the DuckDB oracle computes it with
    the same recurrence).

    Normalization stays JVM-side; the recurrence is evaluated in an
    Arrow-batched pandas UDF as the mathematically identical power sum
    ``Σ code_i·base^{n-i} mod m``: UTF-32 decode gives exact code points,
    numpy does the mod-arithmetic (Spark's higher-order functions would
    interpret the recurrence per element, not codegen it).
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")

    @F.pandas_udf(T.LongType())
    def poly_hash(texts: pd.Series) -> pd.Series:
        pow_cache = np.array([], dtype=np.int64)

        def powers(n: int) -> np.ndarray:
            # pow_cache[k] == base^k mod modulus
            nonlocal pow_cache
            if pow_cache.size < n:
                ext = np.empty(n, dtype=np.int64)
                if pow_cache.size:
                    ext[: pow_cache.size] = pow_cache
                    start = pow_cache.size
                else:
                    ext[0] = 1
                    start = 1
                for i in range(start, n):
                    ext[i] = (int(ext[i - 1]) * base) % modulus
                pow_cache = ext
            return pow_cache[:n]

        out = np.zeros(len(texts), dtype=np.int64)
        for i, s in enumerate(texts):
            if s is None or len(s) == 0:
                continue
            codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            p = powers(len(codes))[::-1]
            # (code·base^k mod m) each < 2^63/len for any realistic doc
            out[i] = int(np.sum((codes * p) % modulus) % modulus)
        return pd.Series(out)

    return df.withColumn(out_col, poly_hash(norm))


def with_compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "compression_ratio",
    level: int = 6,
) -> DataFrame:
    """Compressibility quality signal: ``len(deflate(utf8)) / len(utf8)``
    per document (null/empty text → null). The classic cheap filter for
    pretraining corpora — boilerplate/template/repeated text compresses
    far below prose (ratio ≪ prose's ~0.4-0.7), while binary junk and
    random noise sit near or above 1.0 — so both tails get cut with one
    column. Raw DEFLATE stream (``zlib.compressobj(wbits=-15)``, no
    header/checksum) so the ratio reflects content, not container.

    Scale shape: map-only Arrow-batched pandas UDF; zlib releases the
    GIL so executor cores overlap, and per-row cost is linear in text
    length. Deterministic for a fixed ``level`` within an engine run;
    compressed SIZE is not a cross-library constant, which is why the
    driver gate (q160) checks SQL-restatable invariants, not raw sizes.
    """
    import zlib

    lvl = int(level)
    if not 1 <= lvl <= 9:
        raise ValueError("level must be in 1..9")

    @F.pandas_udf(T.DoubleType())
    def comp_ratio(texts: pd.Series) -> pd.Series:
        out = np.full(len(texts), np.nan)
        for i, s in enumerate(texts):
            if s is None or len(s) == 0:
                continue
            raw = s.encode("utf-8")
            c = zlib.compressobj(lvl, zlib.DEFLATED, -15)
            comp = c.compress(raw) + c.flush()
            out[i] = len(comp) / len(raw)
        return pd.Series(out)

    return df.withColumn(out_col, comp_ratio(F.col(text_col)))


def with_gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_ellipsis_line_ratio: float = 0.3,
    max_bullet_line_ratio: float = 0.9,
    min_alpha_word_ratio: float = 0.8,
    min_distinct_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality RULES (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", public arXiv — the rule set most
    production corpus filters start from), as per-rule boolean columns
    plus the conjunction ``gopher_keep``. Unlike ``with_quality_score``
    (a soft score to threshold), these are the hard structural filters:

    - ``rule_word_count``: word count in [min_words, max_words]
    - ``rule_mean_word_len``: mean word length in [min, max]
    - ``rule_symbol_ratio``: (# of '#' chars + '...' runs) / words ≤ max
    - ``rule_ellipsis_lines``: fraction of lines ending in '...' ≤ max
    - ``rule_bullet_lines``: fraction of lines starting with a bullet
      ('-', '*', '•') ≤ max
    - ``rule_alpha_words``: fraction of words containing ≥1 letter ≥ min
    - ``rule_stopwords``: ≥ min_distinct_stopwords DISTINCT English
      stopwords present (the Gopher "stop word" filter)

    Everything is a codegen'd expression (map-only, no UDF) and restates
    in ANSI SQL, so the whole rule set is driver-oracle-checkable. Empty
    documents fail ``rule_word_count`` and keep=false; line rules treat
    a no-newline document as one line.

    The token/line arrays and word count are staged into their own
    (collision-checked, dropped) projections: the inlined form embedded
    13 copies of the tokenize chain across the rule expressions
    (expr_dup_audit, round 7), and F.filter over a raw tokenize
    EXPRESSION re-evaluates the regex split per element."""
    text = F.col(text_col)
    tk, ln, nw = _staging_names(df, "__g_toks", "__g_lines", "__g_nwords")
    staged = df.withColumns({tk: tokenize(text), ln: F.split(text, "\n")})
    staged = staged.withColumn(nw, F.size(F.col(tk)))
    toks, lines, n_words = F.col(tk), F.col(ln), F.col(nw)
    wordsf = F.when(n_words > 0, n_words.cast("double"))  # null-divide guard
    mean_len = (
        F.length(F.regexp_replace(F.trim(text), r"\s+", "")).cast("double") / wordsf
    )
    n_symbols = (
        F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    ) + F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0))
    n_lines = F.size(lines)
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$")))
    bullet_lines = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    distinct_stops = F.size(
        F.array_distinct(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    )
    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": F.coalesce(
            (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len),
            F.lit(False),
        ),
        "rule_symbol_ratio": F.coalesce(
            n_symbols.cast("double") / wordsf <= max_symbol_word_ratio, F.lit(False)
        ),
        "rule_ellipsis_lines": ellipsis_lines.cast("double")
        / n_lines.cast("double")
        <= max_ellipsis_line_ratio,
        "rule_bullet_lines": bullet_lines.cast("double") / n_lines.cast("double")
        <= max_bullet_line_ratio,
        "rule_alpha_words": F.coalesce(
            alpha_words.cast("double") / wordsf >= min_alpha_word_ratio, F.lit(False)
        ),
        "rule_stopwords": distinct_stops >= min_distinct_stopwords,
    }
    out = staged.withColumns(rules)
    keep = F.lit(True)
    for name in rules:
        keep = keep & F.col(name)
    return out.withColumn("gopher_keep", keep).drop(tk, ln, nw)


def strip_markup(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """HTML/markup → plain text, the first step of every web-corpus
    pipeline: drop ``<script>``/``<style>`` blocks wholesale (their
    contents are code, not prose), drop comments and all remaining tags,
    THEN decode the common entities (strip-then-decode, so a literal
    ``&lt;tag&gt;`` in the text survives as visible ``<tag>`` instead of
    being re-parsed as markup), and collapse whitespace.

    Pure codegen'd ``regexp_replace``/``replace`` chain — map-only, no
    UDF, and every pattern behaves identically under Java regex and RE2
    (inline ``(?is)`` flags, non-greedy spans), so the whole
    transformation restates in ANSI SQL for the oracle."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"(?is)<script\b.*?</script\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b.*?</style\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, rep in [
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&amp;", "&"),  # LAST: otherwise &amp;lt; would double-decode
    ]:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c)


# Mojibake detection patterns (public, well-known byte-sequence
# artifacts of decoding UTF-8 bytes as Latin-1/Windows-1252): a
# two-byte UTF-8 sequence for a Latin letter re-read as Latin-1 always
# starts with \u00c3/\u00c2, three-byte punctuation with \u00e2, and the
# BOM shows as \u00ef\u00bb\u00bf. RE2- and Java-regex portable (no
# lookaround); character ranges written as escapes so the pattern is
# identical byte-for-byte in both engines.
MOJIBAKE_RE = "(\u00c3[\u0080-\u00bf]|\u00c2[\u00a0-\u00bf]|\u00e2\u0080.|\u00ef\u00bb\u00bf)"
# C0/DEL control characters that never belong in prose (tab/newline/CR
# excluded -- they are document structure). Written with backslash-x
# escapes (valid in BOTH Java regex and RE2) so the pattern string is
# printable and embeds verbatim in SQL oracles.
CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def with_encoding_anomalies(
    df: DataFrame, text_col: str = "text", out_prefix: str = ""
) -> DataFrame:
    """Encoding-damage detector -- the cheap filter for the classic web
    corpus failure modes no language model should train on:

    - ``n_replacement`` -- U+FFFD replacement characters (a decoder
      already gave up once);
    - ``n_control`` -- C0/DEL control characters (binary junk in text);
    - ``n_mojibake`` -- UTF-8-read-as-Latin-1 double-encoding artifacts
      (``\u00c3\u00a9`` for ``\u00e9``, ``\u00e2\u0080\u009c`` for a curly
      quote, stray BOMs);
    - ``encoding_clean`` -- the conjunction (all three zero).

    Pure codegen'd ``regexp_count`` expressions -- map-only, zero
    shuffles, SQL-restatable verbatim."""
    p = out_prefix
    s = F.col(text_col)
    n_rep = F.regexp_count(s, F.lit("\ufffd"))
    n_ctl = F.regexp_count(s, F.lit(CONTROL_RE))
    n_moj = F.regexp_count(s, F.lit(MOJIBAKE_RE))
    return df.withColumns(
        {
            f"{p}n_replacement": n_rep.cast("long"),
            f"{p}n_control": n_ctl.cast("long"),
            f"{p}n_mojibake": n_moj.cast("long"),
            f"{p}encoding_clean": (n_rep == 0) & (n_ctl == 0) & (n_moj == 0),
        }
    )


# Programming-language markers that are rare in prose: keywords that
# almost never appear as English words plus operator digraphs. Kept
# deliberately prose-safe (no 'if'/'for'/'class' — common in text).
CODE_KEYWORD_RE = (
    r"\b(def|import|return|function|const|var|void|printf|lambda|"
    r"struct|typedef|nullptr|elif|async|await)\b|=>|::|!=|==|\+\+|&&|\|\|"
)
_CODE_SYMBOLS_RE = r"[{}();=<>\[\]]"
_INDENT_RE = r"^(\t| {2,})"


def with_code_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach ``code_score`` (0..1) and ``is_code`` — a deterministic
    code-vs-prose signal for routing a pretraining mix (code to a code
    pipeline, prose to quality scoring; the wrong route wastes both).
    Three structural densities, every one a codegen'd expression with
    an exact ANSI-SQL twin (q208 replays it in DuckDB value-for-value):

    - symbol density: ``{}();=<>[]`` characters per char — code is
      full of them, prose isn't;
    - keyword density: :data:`CODE_KEYWORD_RE` hits per whitespace
      token (prose-safe keyword set — no 'if'/'for');
    - indent fraction: lines opening with a tab or 2+ spaces.

    Numerics are BIT-exact across engines at every SF (the q120/q133
    lesson: never hand an order- or repr-sensitive double to the
    oracle): each density is an INTEGER parts-per-million via integer
    division, the weighted sum (5/3/2 of the clamped ppms) stays
    integral, and ``code_score`` is that integer divided by 1e7 — one
    IEEE division of exactly-representable operands, identical in any
    engine. ``is_code`` compares the integer against 3_500_000 (0.35).
    Thresholds are heuristic by design — this is a ROUTER; swap in the
    ridge scorer over the same features when labels exist. Map-only,
    no UDF."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    # stage 1: the raw counts as named columns (staged projection — the
    # regexes land once; stage 2 references them as aliases)
    staged = df.withColumns(
        {
            "__n_chars": F.greatest(F.length(t), F.lit(1)).cast("long"),
            "__sym_cnt": (
                F.length(t) - F.length(F.regexp_replace(t, _CODE_SYMBOLS_RE, ""))
            ).cast("long"),
            "__n_toks": F.greatest(
                F.size(F.filter(F.split(t, r"\s+"), lambda x: x != "")), F.lit(1)
            ).cast("long"),
            "__kw_cnt": F.size(
                F.regexp_extract_all(t, F.lit(CODE_KEYWORD_RE), 0)
            ).cast("long"),
            "__n_lines": F.greatest(F.size(lines), F.lit(1)).cast("long"),
            "__ind_cnt": F.size(
                F.filter(lines, lambda l: l.rlike(_INDENT_RE))
            ).cast("long"),
        }
    )
    # stage 2: INTEGER division (SQL `div`, exact — a double `/` + cast
    # can floor one off at quotients like k - 1e-18) and the integral
    # weighted sum; only the final /1e7 is floating point
    score_i = F.expr(
        "least(1000000L, (__sym_cnt * 1000000L div __n_chars) * 6) * 5"
        " + least(1000000L, (__kw_cnt * 1000000L div __n_toks) * 5) * 3"
        " + (__ind_cnt * 1000000L div __n_lines) * 2"
    )
    return staged.withColumns(
        {
            "code_score": score_i / F.lit(10_000_000.0),
            "is_code": score_i >= F.lit(3_500_000),
        }
    ).drop("__n_chars", "__sym_cnt", "__n_toks", "__kw_cnt", "__n_lines", "__ind_cnt")


def classification_audit(
    df: DataFrame,
    true_col: str = "label_true",
    pred_col: str = "label_pred",
) -> DataFrame:
    """Per-class audit of any classifier column against held-out truth
    — built for the language-ID confusion audit (predict on labeled
    docs, see where 'es' bleeds into 'fr') but label-agnostic: one row
    per label in the UNION of truth and predictions, with ``n_true``
    (support), ``n_pred``, ``tp``, and ``precision``/``recall``/``f1``
    (null where undefined: no predictions → no precision, no support →
    no recall — never a fake 0-for-0 score; ``f1`` null unless both
    parts exist and are nonzero-summed). Floats round to 6.

    Scale shape: the ONLY full-data pass is the (true, pred) confusion
    count — one two-phase hash aggregate. The per-class rollup is
    derived from that K×K matrix in a SINGLE downstream pass: each
    matrix cell explodes into its (truth-side, prediction-side,
    diagonal) contributions and one conditional-sum aggregate folds
    them — never three separate aggregates over ``cm``, which Catalyst
    would answer by re-running the whole upstream pipeline once per
    branch (the classifier itself, three times — the q199-class plan
    disease, caught by the suite-wide EXPR_DUP audit). Auditing a
    100 TB corpus costs exactly one full-data aggregate."""
    from polars_dataset_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    cm = df.groupBy(
        F.col(true_col).alias("label_true"), F.col(pred_col).alias("label_pred")
    ).agg(F.count("*").alias("n"))
    contrib = (
        cm.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("label_true").alias("label"),
                        F.lit("t").alias("side"),
                        F.col("n"),
                    ),
                    F.struct(
                        F.col("label_pred").alias("label"),
                        F.lit("p").alias("side"),
                        F.col("n"),
                    ),
                    F.struct(
                        F.when(
                            F.col("label_true") == F.col("label_pred"),
                            F.col("label_true"),
                        ).alias("label"),
                        F.lit("d").alias("side"),
                        F.col("n"),
                    ),
                )
            ).alias("c")
        )
        .select("c.*")
        .filter(F.col("label").isNotNull())
    )
    out = contrib.groupBy("label").agg(
        F.sum(F.when(F.col("side") == "t", F.col("n")).otherwise(0)).alias(
            "n_true"
        ),
        F.sum(F.when(F.col("side") == "p", F.col("n")).otherwise(0)).alias(
            "n_pred"
        ),
        F.sum(F.when(F.col("side") == "d", F.col("n")).otherwise(0)).alias(
            "tp"
        ),
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")
    )
    rec = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true"))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return out.select(
        "label",
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("tp").cast("bigint").alias("tp"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


#: zero-width / invisible formatting codepoints stripped by
#: :func:`normalize_unicode`: ZWSP, ZWNJ, ZWJ, BOM/ZWNBSP, soft hyphen.
#: NFKC leaves every one of these in place — they are the classic
#: dedup-poisoners (two visually identical pages, two fingerprints).
ZERO_WIDTH_CODEPOINTS = (0x200B, 0x200C, 0x200D, 0xFEFF, 0x00AD)


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    form: str = "NFKC",
    strip_zero_width: bool = True,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Unicode normalization for web text — the step BEFORE any hash,
    fingerprint, or token count: ligatures (ﬁ→fi), fullwidth forms
    (ｈｅｌｌｏ→hello), circled/compatibility digits, NFD combining
    sequences (cafe+◌́→café) all collapse under ``form`` (NFKC default —
    what dedup wants; pass NFC to keep compatibility distinctions),
    then :data:`ZERO_WIDTH_CODEPOINTS` are stripped (NFKC does NOT) and
    whitespace runs collapse to single spaces with outer trim.

    Normalization tables live in Python's unicodedata, so this is the
    honest Arrow-batched pandas-UDF path (~the only text operator in
    the family that cannot be pure codegen); still map-only, zero
    exchanges, linear in bytes. Null in → null out."""
    import re as _re
    import unicodedata as _ud

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    zw_table = dict.fromkeys(ZERO_WIDTH_CODEPOINTS) if strip_zero_width else None
    ws_re = _re.compile(r"\s+") if collapse_whitespace else None

    @F.pandas_udf("string")
    def _norm(s):  # pd.Series -> pd.Series
        def one(x):
            if x is None:
                return None
            y = _ud.normalize(form, x)
            if zw_table is not None:
                y = y.translate(zw_table)
            if ws_re is not None:
                y = ws_re.sub(" ", y).strip()
            return y

        return s.map(one)

    return df.withColumn(out_col, _norm(F.col(text_col)))


#: BMP codepoint ranges per script class — written in the \x{hhhh}
#: syntax BOTH regex engines accept (Java in Spark, RE2 in the DuckDB
#: oracle), so the identical pattern strings run on both sides.
#: Block ranges, not full Unicode Script properties: the common web
#: scripts' core blocks, which is what routing needs (the property
#: names differ between engines; the ranges don't).
SCRIPT_RANGES: "dict[str, str]" = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "hebrew": r"[\x{0590}-\x{05FF}]",
    "devanagari": r"[\x{0900}-\x{097F}]",
    "cjk": r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]",
}


def with_script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document writing-script profile — the routing stage BEFORE
    language ID (stopword/n-gram langid only works once you know the
    script; CJK/Arabic/Cyrillic text answers faster and more reliably
    from codepoints alone). Appends, per :data:`SCRIPT_RANGES` class,
    ``n_<script>`` counts plus ``n_chars_nws`` (non-whitespace chars),
    ``frac_<script>`` (of non-whitespace, round 6) and
    ``dominant_script`` (argmax, first-in-dict tie-break, ``und`` when
    no script char at all).

    Pure codegen — each class is ONE regexp_replace length diff, the
    counts are staged as columns (the q199 inlining rule) and every
    pattern string has a verbatim SQL twin. Map-only, zero exchanges
    at any scale."""
    t = F.col(text_col)
    staged = df.withColumn(
        "n_chars_nws", F.length(F.regexp_replace(t, r"\s", "")).cast("long")
    )
    staged = staged.withColumns(
        {
            f"n_{name}": (
                F.length(t) - F.length(F.regexp_replace(t, pat, ""))
            ).cast("long")
            for name, pat in SCRIPT_RANGES.items()
        }
    )
    counts = {name: F.col(f"n_{name}") for name in SCRIPT_RANGES}
    best = F.greatest(*counts.values())
    dom = F.lit("und")
    for name in reversed(list(SCRIPT_RANGES)):
        dom = F.when((counts[name] == best) & (best > 0), F.lit(name)).otherwise(dom)
    staged = staged.withColumn("dominant_script", dom)
    denom = F.greatest(F.col("n_chars_nws"), F.lit(1)).cast("double")
    return staged.withColumns(
        {
            f"frac_{name}": F.round(counts[name].cast("double") / denom, 6)
            for name in SCRIPT_RANGES
        }
    )
