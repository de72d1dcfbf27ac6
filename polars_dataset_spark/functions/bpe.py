"""Distributed BPE (byte-pair-encoding) tokenizer training.

The classic subword algorithm (Sennrich et al. 2016, ACL — public
paper): start from characters (plus an end-of-word marker), repeatedly
merge the most frequent adjacent symbol pair, weighted by word
frequency. Real tokenizer trainers are single-machine because they
iterate over a WORD-FREQUENCY table, not the corpus — and that's
exactly the property that makes the Spark shape clean:

- ONE instance-scale pass: tokenize + groupBy(token) → the vocabulary
  table ``(token, cnt)`` — Heaps'-law sublinear in the corpus, the only
  shuffle that sees corpus-scale data;
- per merge round, everything runs on the VOCAB table: explode each
  token's current symbol sequence into adjacent pairs (map-only),
  one vocab-keyed aggregation of weighted pair counts, and a 1-row
  ``TakeOrdered`` argmax to the driver (deterministic tie-break:
  max count, then lexicographically smallest pair) — so k merges cost
  k cheap shuffles over vocab-sized data, never the corpus;
- merges apply to the symbol sequences as a left-to-right array scan
  in an Arrow-batched ``mapInPandas`` (array semantics, no substring
  collision bugs — ``"xa" + "b"`` can never be mistaken for the pair
  ``("a", "b")``).

``bpe_learn`` returns the ranked merge table; ``bpe_apply`` encodes a
corpus with a learned merge list (the same array scan, merges applied
in rank order per the algorithm). Round-1 statistics restate exactly
in SQL (the q166 one-step-oracle convention); multi-round learning is
pinned against a direct reference implementation in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_dataset_spark.functions.text import tokenize
from polars_dataset_spark.rowmap import map_rows

__all__ = ["bpe_learn", "bpe_apply", "merge_sequence", "EOW"]

EOW = "</w>"


def merge_sequence(symbols: "list[str]", pair: "tuple[str, str]") -> "list[str]":
    """One BPE merge applied left-to-right, non-overlapping — the
    reference semantics every implementation here shares."""
    a, b = pair
    out: list[str] = []
    i, n = 0, len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def _vocab(df: DataFrame, text_col: str) -> DataFrame:
    tok = df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
    return tok.groupBy("token").agg(F.count("*").alias("cnt"))


_SYMS_FIELD = T.StructField("syms", T.ArrayType(T.StringType()))


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> "tuple[list[tuple[str, str]], DataFrame]":
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge list and a DataFrame ``(rank, left, right,
    pair_count)`` — ``pair_count`` is the exact corpus-weighted count
    of the pair at the moment it was chosen.

    The vocab table is localCheckpointed once (bounded: distinct
    tokens), then each round re-derives symbol sequences by applying
    the merges-so-far in one JVM-side pass — sequences never persist
    driver-side, and the only per-round driver traffic is the single
    argmax row."""
    spark = df.sparkSession
    from polars_dataset_spark.session import pin

    vocab = pin(_vocab(df, text_col), eager=True)
    merges: "list[tuple[str, str]]" = []
    rows = []
    chars = F.concat(F.split(F.col("token"), ""), F.array(F.lit(EOW)))
    for rank in range(n_merges):
        syms_df = vocab.select("token", "cnt", chars.alias("syms"))
        if merges:
            bm = spark.sparkContext.broadcast(list(merges))

            syms_df = map_rows(
                syms_df,
                ["syms"],
                lambda s, _bm=bm: (_apply_all(list(s), _bm.value),),
                [_SYMS_FIELD],
                drop=["syms"],
            )
        pairs = syms_df.select(
            F.col("cnt"),
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), F.col("p.l"), F.col("p.r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        pair = (row["p"]["l"], row["p"]["r"])
        merges.append(pair)
        rows.append((rank, pair[0], pair[1], int(row["pc"])))
    table = spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long"
    )
    return merges, table


def _apply_all(symbols: "list[str]", merges: "list[tuple[str, str]]") -> "list[str]":
    for pair in merges:
        symbols = merge_sequence(symbols, tuple(pair))
    return symbols


def bpe_apply(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode: per whitespace token, chars + end-of-word marker, then
    the learned merges in rank order; token pieces concatenate across
    the document. Adds ``out_col`` (array<string>) and
    ``n_bpe_tokens``. Map-only Arrow-batched stage; the merge list
    rides a broadcast."""
    spark = df.sparkSession
    bm = spark.sparkContext.broadcast([tuple(m) for m in merges])

    def enc(text):
        cache: dict[str, list[str]] = {}
        pieces: list[str] = []
        for t in (text or "").lower().split():
            if t not in cache:
                cache[t] = _apply_all(list(t) + [EOW], bm.value)
            pieces.extend(cache[t])
        return pieces, len(pieces)

    return map_rows(
        df,
        [text_col],
        enc,
        [
            T.StructField(out_col, T.ArrayType(T.StringType())),
            T.StructField("n_bpe_tokens", T.LongType()),
        ],
    )
