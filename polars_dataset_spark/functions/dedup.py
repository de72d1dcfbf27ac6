"""Deduplication operators for training-data pipelines (SURVEY §2.4).

Every fuzzy dedup bands signatures into candidate buckets, then verifies
each candidate EXACTLY before anything drops, so pair work is bounded by
bucket size, never |docs|². There are two banded paths:

- **MinHash** (Jaccard over shingle sets): :func:`minhash_signatures`
  signs and :meth:`NeardupIndex._lsh_rows` cuts a signed frame into band
  rows and shingle sets; ``_lsh_pairs`` equi-joins two such sides on the
  band key and verifies Jaccard on the shingle sets joined back. It
  serves the self-join (:func:`minhash_lsh_candidates`,
  :func:`minhash_dedup`, :func:`ngram_jaccard_pairs`), the cross-join
  (:func:`fuzzy_join`) and the probe of a static corpus
  (:func:`neardup_filter_against`) against a :class:`NeardupIndex`,
  which carries its LSH parameters and reads its own pinned rows.
- **Hamming** (any 64-bit fingerprint): :func:`band_key_structs` cuts
  ``max_hamming + 1`` pigeonhole chunks (recall exactly 1) and
  ``bit_count(a XOR b)`` verifies — :func:`hamming_band_pairs`,
  :func:`banded_neardup_pairs` and the pinned :class:`BandedIndex`.
  The SimHash dedup and the image, audio and video hashes ride it.

Results are pinned (:func:`~polars_dataset_spark.session.pin`), so the
ContextCleaner frees them once the caller drops the frame and the JVM
collects it; a signature intermediate read twice in one call is
persisted and released in a ``finally`` block before the call returns.
Both index kinds, :class:`NeardupIndex` and :class:`BandedIndex`, pin
what they build and release it through
:func:`~polars_dataset_spark.session.unpin` when retired.

Also :func:`exact_dedup` (one hash group-by; run it before any fuzzy
pass) and :func:`embedding_neardup` (random-hyperplane buckets + exact
cosine verify).

Representative selection everywhere is "keep the smallest id among
near-duplicates": any row with a confirmed duplicate of smaller id drops.
This is the standard single-pass LSH-dedup contract (transitive chains
collapse toward the minimum per *connected bucket*, not full connected
components — full CC is an iterative algorithm out of scope for one pass).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_dataset_spark.functions.text import tokenize
from polars_dataset_spark.session import pin, unpin

__all__ = [
    "exact_dedup",
    "token_shingles",
    "shingles_from_tokens",
    "char_shingles",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "minhash_dedup",
    "simhash",
    "simhash_dedup",
    "ngram_jaccard_pairs",
    "embedding_neardup",
    "build_neardup_index",
    "neardup_filter_against",
    "remove_repeated_substrings",
    "dedup_lines",
    "drop_frequent_lines",
    "edit_distance_join",
    "cdc_chunks",
    "BandedIndex",
    "banded_neardup_pairs",
    "banded_filter_against",
    "append_to_banded_index",
]


def exact_dedup(
    df: DataFrame,
    subset: list[str] | str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup: one representative (minimal ``id_col``) per distinct
    content. Single hash aggregation — the cheapest possible dedup, always
    run it before any fuzzy pass. ``normalize`` lowercases and collapses
    whitespace for string keys."""
    subset = [subset] if isinstance(subset, str) else list(subset)
    keys = [
        F.regexp_replace(F.trim(F.lower(F.col(c))), r"\s+", " ").alias(f"__k_{c}")
        if normalize and df.schema[c].dataType.simpleString() == "string"
        else F.col(c).alias(f"__k_{c}")
        for c in subset
    ]
    keyed = df.select(*df.columns, *keys)
    w = Window.partitionBy(*[f"__k_{c}" for c in subset]).orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", *[f"__k_{c}" for c in subset])
    )


def shingles_from_tokens(tokens, n: int = 3):
    """Distinct word n-grams of a token ARRAY column → array<string>.

    Pass a materialized array COLUMN (``withColumn`` the tokens first),
    not a raw expression: interpreted higher-order lambdas re-evaluate
    every expression tree they reference once per element, so an inline
    ``tokenize(text)`` here costs an O(n) regex split per gram — O(n²)
    per document (measured 4× on decontamination)."""
    # NB: F.sequence(1, 0) yields a DESCENDING [1, 0] — guard short docs
    # explicitly instead of relying on an empty sequence.
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    whole = F.array(F.concat_ws(" ", tokens))
    return F.array_distinct(F.when(F.size(tokens) >= n, grams).otherwise(whole))


def token_shingles(text, n: int = 3):
    """Distinct word n-grams of lowercased text → array<string>. Documents
    shorter than n tokens fall back to the whole text as one shingle (so
    short docs still dedup against identical short docs).

    Convenience single-expression form; hot paths should materialize the
    token array and use :func:`shingles_from_tokens` (see its warning)."""
    return shingles_from_tokens(tokenize(text), n)


def char_shingles(text, n: int = 5):
    """Distinct character n-grams of normalized text → array<string>."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.length(norm) - (n - 1)),
        lambda i: F.substring(norm, i, n),
    )
    return F.array_distinct(F.when(F.length(norm) >= n, grams).otherwise(F.array(norm)))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_size: int = 3,
    shingle_kind: str = "token",
) -> DataFrame:
    """Attach the shingle set ``shingles`` (array<string>) and the MinHash
    signature ``minhash`` (array<long>); the band and verify steps read
    both columns by these names.

    ONE 64-bit hash per shingle, then the ``num_hashes`` signature lanes
    are derived as affine re-mixes ``h_j = a_j·h + b_j (mod 2^64)`` with
    odd seeded multipliers, min'd per lane in a single Arrow-batched
    numpy op — the standard one-strong-hash + universal-family
    construction. Map-only; shuffles only appear downstream in the band
    join. Every MinHash op here signs through this one function, so
    equal parameters always give equal signatures.
    """
    from polars_dataset_spark.session import ensure_parallelism

    df = ensure_parallelism(df)  # shingle+sign is the heavy map stage
    rng = np.random.RandomState(42)
    mult = (rng.randint(1, 2**63, size=num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    add = rng.randint(0, 2**63, size=num_hashes).astype(np.uint64)
    is_token = shingle_kind == "token"
    n = shingle_size

    out_type = T.StructType(
        [
            T.StructField("shingles", T.ArrayType(T.StringType())),
            T.StructField("minhash", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(out_type)
    def shingle_and_sign(texts: pd.Series) -> pd.DataFrame:
        # Shingling + hashing done wholly Arrow-side: Spark's higher-order
        # functions (transform/slice/concat_ws) are interpreted per
        # element, and profiling shows the JVM expr path spends most of
        # its time THERE, not in hashing. The whole batch is processed
        # FLAT (one hash call, one mix, one segmented min) rather than
        # per-doc: pandas' vectorized 64-bit string hash over the
        # flattened shingle list, dedup to unique hashes (corpora repeat
        # shingles heavily — ~10× here), affine-mix only the unique
        # values in lane-major layout, gather, and `minimum.reduceat`
        # over doc boundaries. ~6× over the per-doc loop it replaces.
        import re

        ws = re.compile(r"\s+")
        sh_out = []
        for s in texts:
            norm = ws.sub(" ", (s or "").strip().lower())
            if is_token:
                toks = norm.split(" ") if norm else [""]
                if len(toks) >= n:
                    shingles = list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
                else:
                    shingles = [" ".join(toks)]
            else:
                if len(norm) >= n:
                    shingles = list({norm[i : i + n] for i in range(len(norm) - n + 1)})
                else:
                    shingles = [norm]
            sh_out.append(shingles)
        if not sh_out:
            return pd.DataFrame({"shingles": [], "minhash": []})
        # every doc yields >=1 shingle (empty text -> [""]) so reduceat
        # segments are never empty
        lens = np.fromiter(map(len, sh_out), dtype=np.int64, count=len(sh_out))
        flat = np.concatenate([np.asarray(sh, dtype=object) for sh in sh_out])
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        hashed = pd.util.hash_array(flat, hash_key="0123456789abcdef")
        uniq, inv = np.unique(hashed, return_inverse=True)
        with np.errstate(over="ignore"):
            mixed_u = mult[:, None] * uniq[None, :] + add[:, None]
        sigs = np.minimum.reduceat(mixed_u[:, inv], starts, axis=1).T
        mh_out = list(np.ascontiguousarray(sigs).view(np.int64))
        return pd.DataFrame({"shingles": sh_out, "minhash": mh_out})

    packed = df.withColumn("__sm", shingle_and_sign(F.col(text_col)))
    return packed.withColumns(
        {"shingles": F.col("__sm.shingles"), "minhash": F.col("__sm.minhash")}
    ).drop("__sm")


def _lsh_pairs(a: tuple, b: tuple, threshold: float) -> DataFrame:
    """Verified MinHash LSH pairs ``(id_a, id_b, jaccard)`` between two
    sides, lazily. Each side is ``(band rows, shingle sets)``:
    ``(id, band, bh)`` and ``(id, shingles)``, the id first in both
    (:meth:`NeardupIndex._lsh_rows`, or a built index's own pins). Band
    rows carry no shingles: shuffling the shingle arrays ``bands`` times
    through the join would dominate the operator, so the distinct
    candidate pairs join back to one copy of each side's shingle sets for
    the exact verify."""

    def side(rows, out, sh):
        banded, shingles = rows
        return (
            banded.select(F.col(banded.columns[0]).alias(out), "band", "bh"),
            shingles.select(F.col(shingles.columns[0]).alias(out), F.col("shingles").alias(sh)),
        )

    band_a, sh_a = side(a, "id_a", "sh_a")
    band_b, sh_b = side(b, "id_b", "sh_b")
    cand = (
        band_a.join(band_b, on=["band", "bh"])
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    shingle_kind: str = "token",
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact ``jaccard``) via banded
    MinHash LSH.

    Banding: ``num_hashes`` minhashes → ``bands`` buckets of
    ``num_hashes/bands`` rows each; two docs collide if any band matches
    exactly (P[collide] = 1-(1-j^r)^b). Collisions are grouped per
    (band_id, band_hash) — the self-join is on the bucket key, so shuffle
    volume is |docs|·bands, never |docs|². Every candidate is then verified
    with the exact Jaccard over the true shingle sets; only pairs ≥
    ``threshold`` survive."""
    lsh = NeardupIndex(num_hashes, bands, shingle_size, shingle_kind)
    # banding + verify both read it; MEMORY_AND_DISK spills safely
    sigd = lsh.sign(df, id_col, text_col).persist()
    try:
        rows = lsh._lsh_rows(sigd, id_col)
        # Catalyst pushes id_a < id_b below the candidate dedup into the
        # band join; near-dup pairs are small by contract
        return pin(
            _lsh_pairs(rows, rows, threshold).filter(F.col("id_a") < F.col("id_b")),
            eager=True,
        )
    finally:
        sigd.unpersist(blocking=False)


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """Drop every row with a confirmed near-duplicate of smaller id."""
    pairs = minhash_lsh_candidates(
        df, id_col=id_col, text_col=text_col, threshold=threshold, **lsh_kwargs
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


@F.pandas_udf(T.LongType())
def _simhash_of_text(texts: pd.Series) -> pd.Series:
    """64-bit SimHash (classic Charikar, tf-weighted) computed wholly
    Arrow-side: tokens → per-(doc, token) counts → 64 ± vote sums → the
    64 sign bits packed into one ``long`` (bit ``i`` = sign of vote
    ``i``).

    Token bits come from md5, which every engine agrees on, so an
    external SQL engine can replay the exact same simhashes (q38's
    oracle does): bytes of the UTF-8 md5 digest, big-endian, MSB-first
    (== the per-hex-nibble rule the SQL states); tokens = ASCII-\\s+
    split of space-trimmed lower text, with a '' token for empty or null
    docs (DuckDB string_split parity). One map-only Arrow batch (an
    explode + 64 codegen'd sums was correct, but Catalyst analysis +
    janino compile of the 64-expression aggregate cost ~10 s per cold
    plan); Python touches each unique token once per batch, votes are
    numpy (unpackbits + reduceat)."""
    import hashlib
    import re

    ws = re.compile(r"\s+", re.ASCII)
    toks_per_doc = []
    for s in texts:
        norm = ws.sub(" ", (s or "").strip(" ").lower())
        toks_per_doc.append(norm.split(" ") if norm else [""])
    if not toks_per_doc:
        return pd.Series([], dtype="int64")
    lens = np.fromiter(map(len, toks_per_doc), dtype=np.int64, count=len(toks_per_doc))
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    flat = np.concatenate([np.asarray(t, dtype=object) for t in toks_per_doc])
    uniq, inv = np.unique(flat, return_inverse=True)
    digests = np.empty((len(uniq), 8), dtype=np.uint8)
    for i, t in enumerate(uniq):
        digests[i] = np.frombuffer(hashlib.md5(t.encode()).digest()[:8], dtype=np.uint8)
    signs = np.unpackbits(digests, axis=1).astype(np.int32) * 2 - 1  # (uniq, 64)
    votes = np.add.reduceat(signs[inv], starts, axis=0)  # (docs, 64)
    # bit i of the long = sign of vote i (little-endian bit order)
    packed = np.packbits(votes > 0, axis=1, bitorder="little")
    return pd.Series(np.ascontiguousarray(packed).view("<i8").ravel())


def simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """Attach the 64-bit SimHash of each text's tf-weighted tokens
    (:func:`_simhash_of_text`) — Arrow-batched, map-only."""
    from polars_dataset_spark.session import ensure_parallelism

    return ensure_parallelism(df).withColumn(out_col, _simhash_of_text(F.col(text_col)))


def band_key_structs(sig_col: str, max_hamming: int) -> "list":
    """The ``max_hamming + 1`` pigeonhole band keys of a 64-bit signature
    column, as ``struct(chunk int, key long)`` expressions. Chunks are
    disjoint and cover ALL 64 bits: width = 64 // (k+1), with the
    remainder bits folded into the LAST chunk (its key is the plain
    unsigned right-shift — zero-fill makes a mask redundant). For k+1
    dividing 64 the keys are bit-identical to the historical fixed-width
    banding, so persisted indexes remain valid."""
    chunks = max_hamming + 1
    if not 1 <= chunks <= 64:
        raise ValueError("max_hamming must be in [0, 63]")
    width = 64 // chunks
    keys = []
    for c in range(chunks):
        shifted = F.shiftrightunsigned(F.col(sig_col), c * width)
        if c < chunks - 1:
            shifted = shifted.bitwiseAND(F.lit((1 << width) - 1))
        keys.append(F.struct(F.lit(c).alias("chunk"), shifted.alias("key")))
    return keys


def hamming_band_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs within Hamming distance ``max_hamming`` over ANY 64-bit
    signature column (SimHash of text, dHash of images, ...), as
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Pigeonhole banding: the signature is split into ``max_hamming + 1``
    disjoint bit-chunks covering all 64 bits (when 64 is not an even
    multiple, the remainder bits fold into the last chunk); two
    signatures within distance k differ in at most k chunks, so they
    AGREE exactly on at least one — the band equi-join has recall
    exactly 1 (not probabilistic), and candidates are verified with
    ``bit_count(a XOR b)``. Shuffle is one keyed join over ~ N * (k+1)
    banded rows, never all-pairs; everything is JVM-side codegen
    (shift/mask/bit_count). Callers whose signature is expensive to
    compute should persist ``df`` first — the band self-join scans it
    twice."""
    banded = _band_rows(df, sig_col, max_hamming, id_col, sig_col)
    a = banded.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("h_a"), "chunk", "key")
    b = banded.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("h_b"), "chunk", "key")
    return (
        a.join(b, on=["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def _band_rows(df: DataFrame, sig_col: str, max_hamming: int, *cols: str) -> DataFrame:
    """One row per pigeonhole band of ``sig_col``: ``(*cols, chunk, key)``.
    Validates ``max_hamming`` eagerly (:func:`band_key_structs`)."""
    bk = F.explode(F.array(*band_key_structs(sig_col, max_hamming))).alias("bk")
    return df.select(*cols, bk).select(*cols, "bk.chunk", "bk.key")


def _hash_ids(
    df: DataFrame, fingerprint, fingerprint_kwargs: dict, id_col: str, content_col: str
) -> DataFrame:
    """``(id, __sig)`` rows: the 64-bit ``fingerprint`` of every blob."""
    return fingerprint(
        df.select(id_col, content_col),
        content_col=content_col,
        out_col="__sig",
        **fingerprint_kwargs,
    ).select(id_col, "__sig")


def _index_rows(sigs: DataFrame, sig_col: str, max_hamming: int) -> DataFrame:
    """Distinct non-null signatures in the index layout
    ``(chunk, key, __csig)``."""
    csig = (
        sigs.filter(F.col(sig_col).isNotNull())
        .select(F.col(sig_col).alias("__csig"))
        .distinct()
    )
    return _band_rows(csig, "__csig", max_hamming, "__csig").select(
        "chunk", "key", "__csig"
    )


def banded_neardup_pairs(
    df: DataFrame,
    fingerprint,
    id_col: str,
    content_col: str,
    max_hamming: int,
    **fingerprint_kwargs,
) -> DataFrame:
    """All pairs of blobs whose 64-bit ``fingerprint`` signatures lie
    within ``max_hamming`` bits (:func:`hamming_band_pairs`).
    ``fingerprint`` is a map pass ``(df, content_col, out_col,
    **fingerprint_kwargs) -> df``; null signatures (undecodable blobs)
    never pair. The signatures are persisted across the band self-join,
    so each blob is decoded once; the output-sized pair frame is
    pinned."""
    hashed = (
        _hash_ids(df, fingerprint, fingerprint_kwargs, id_col, content_col)
        .filter("__sig IS NOT NULL")
        .persist()
    )
    try:
        pairs = hamming_band_pairs(
            hashed, id_col=id_col, sig_col="__sig", max_hamming=max_hamming
        )
        return pin(pairs, eager=True)
    finally:
        hashed.unpersist(blocking=False)


class BandedIndex:
    """Pinned banded signature index of a STATIC media corpus, for
    every 64-bit perceptual fingerprint (image, audio, video; the text
    MinHash index is :class:`NeardupIndex`). The corpus is decoded and
    hashed once; every arriving batch pays only its own decode plus one
    band equi-join.

    ``banded`` is |corpus| * (max_hamming + 1) rows of ``(chunk int,
    key long, __csig long)``. Probes are always hashed with the
    ``fingerprint`` and ``fingerprint_kwargs`` the index was built with,
    so a build-time normalization (e.g. image Exif orientation) always
    reaches the probes. At crawl scale write ``banded`` to parquet
    bucketed by ``(chunk, key)`` and the per-batch probe join is
    exchange-free on the corpus side."""

    def __init__(
        self, banded: DataFrame, max_hamming: int, fingerprint, fingerprint_kwargs: dict
    ):
        self.banded = banded
        self.max_hamming = max_hamming
        self.fingerprint = fingerprint
        self.fingerprint_kwargs = fingerprint_kwargs

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        fingerprint,
        content_col: str = "content",
        max_hamming: int = 3,
        **fingerprint_kwargs,
    ) -> "BandedIndex":
        """Fingerprint + band ``corpus`` once (decode is the dominant
        cost), pinned for repeated probes."""
        hashed = fingerprint(
            corpus.select(content_col),
            content_col=content_col,
            out_col="__csig",
            **fingerprint_kwargs,
        )
        banded = pin(_index_rows(hashed, "__csig", max_hamming), eager=True)
        return cls(banded, max_hamming, fingerprint, fingerprint_kwargs)

    def hash(
        self, batch: DataFrame, id_col: str = "media_id", content_col: str = "content"
    ) -> DataFrame:
        """``(id, __sig)`` rows of ``batch``, hashed the way the index
        was built."""
        return _hash_ids(batch, self.fingerprint, self.fingerprint_kwargs, id_col, content_col)

    def dup_ids(self, hashed: DataFrame, id_col: str) -> DataFrame:
        """Ids of ``(id, __sig)`` rows within ``max_hamming`` bits of
        ANY indexed signature (pigeonhole recall 1), pinned: they stay
        valid after the index is appended to or unpersisted."""
        probes = _band_rows(
            hashed.filter("__sig IS NOT NULL"), "__sig", self.max_hamming, id_col, "__sig"
        )
        ham = F.bit_count(F.col("__sig").bitwiseXOR(F.col("__csig")))
        dupes = (
            probes.join(self.banded, on=["chunk", "key"])
            .filter(ham <= self.max_hamming)
            .select(id_col)
            .distinct()
        )
        return pin(dupes, eager=True)

    def filter_against(
        self, batch: DataFrame, id_col: str = "media_id", content_col: str = "content"
    ) -> DataFrame:
        """Drop every ``batch`` row within ``max_hamming`` bits of ANY
        indexed blob. Rows that fail to decode are KEPT: an undecodable
        blob is not evidence of duplication. The result reads the pinned
        :meth:`dup_ids`, never ``banded``, so it survives :meth:`append`
        and :meth:`unpersist`."""
        dupes = self.dup_ids(self.hash(batch, id_col, content_col), id_col)
        return batch.join(dupes, on=id_col, how="left_anti")

    def append(self, sigs: DataFrame, sig_col: str = "__sig") -> None:
        """Union new signatures into the pinned index IN PLACE, so
        stream batch N+1 dedups against batch N's survivors too.

        The merged frame is pinned eagerly (truncating lineage, so a
        year of appends doesn't accumulate a union tree) BEFORE the old
        generation is unpinned; only the new batch's banded rows are
        deduplicated (batch-sized shuffle — the standing index is never
        re-shuffled). Unpinning frees the old generation's blocks, and a
        pin has no lineage to recompute them from: a frame built directly
        on the old ``banded`` must be consumed first. :meth:`dup_ids` and
        :meth:`filter_against` results are unaffected (pinned)."""
        new_banded = _index_rows(sigs, sig_col, self.max_hamming)
        merged = pin(self.banded.union(new_banded), eager=True)
        unpin(self.banded)
        self.banded = merged

    def unpersist(self) -> None:
        """Free ``banded`` now (see :meth:`append` for what that ends)."""
        unpin(self.banded)


def banded_filter_against(
    batch: DataFrame,
    index: BandedIndex,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """:meth:`BandedIndex.filter_against` with the batch first — the
    shape of ``image/audio/video_filter_against``."""
    return index.filter_against(batch, id_col, content_col)


append_to_banded_index = BandedIndex.append


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup removal by :func:`simhash`: drops the larger id of each
    pair within ``max_hamming`` bits. Pairs come from
    :func:`hamming_band_pairs` (pigeonhole banding, recall exactly 1,
    exact ``bit_count(a XOR b) <= k`` verify): shifts, masks and
    ``bit_count`` on a long never overflow under ANSI mode, and for
    ``max_hamming=3`` its four band keys are exactly the 16-bit chunks
    q38's SQL oracle states."""
    from polars_dataset_spark.session import ensure_parallelism

    # only the signature pass needs the spread; the closing anti-join
    # against the (small, pinned) losers reads the input as it is
    sh = ensure_parallelism(df).select(
        F.col(id_col), _simhash_of_text(F.col(text_col)).alias("__sig")
    ).persist()
    try:
        pairs = hamming_band_pairs(sh, id_col=id_col, sig_col="__sig", max_hamming=max_hamming)
        losers = pin(pairs.select(F.col("id_b").alias(id_col)).distinct(), eager=True)
    finally:
        sh.unpersist(blocking=False)
    return df.join(losers, on=id_col, how="left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Character n-gram Jaccard near-duplicate pairs: the MinHash-LSH
    candidate path over char shingles, exact-verified. Same scaling story
    as :func:`minhash_lsh_candidates`."""
    return minhash_lsh_candidates(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_size=n,
        shingle_kind="char",
        threshold=threshold,
    )


def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "contaminated",
) -> DataFrame:
    """Benchmark-decontamination flag (the train/test-leakage guard every
    pretraining pipeline needs): a document is contaminated when it shares
    at least one token ``n``-gram with the benchmark set.

    Scale shape: the benchmark's distinct n-gram set BROADCASTS (a
    benchmark is small by definition); the corpus side is a map-only
    shingle explode + broadcast hash join + distinct-ids semi-aggregation
    — no corpus-sized shuffle, no pairwise comparison."""
    from polars_dataset_spark.session import ensure_parallelism
    from polars_dataset_spark.functions.text import tokenize as _tok

    df = ensure_parallelism(df)  # the n-gram explode is the heavy map stage
    doc_grams = df.withColumn("__toks", _tok(F.col(text_col))).select(
        F.col(id_col), F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("__g")
    )
    bench_grams = (
        benchmark.withColumn("__toks", _tok(F.col(text_col)))
        .select(F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("__g"))
        .distinct()
    )
    hit = (
        doc_grams.join(F.broadcast(bench_grams), on="__g")
        .select(id_col)
        .distinct()
        .withColumn(out_col, F.lit(1))
    )
    return df.join(hit, on=id_col, how="left").fillna({out_col: 0})


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop every document sharing a token n-gram with the benchmark."""
    flagged = contamination_flags(df, benchmark, n=n, id_col=id_col, text_col=text_col)
    return flagged.filter(F.col("contaminated") == 0).drop("contaminated")


def embedding_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column: random-
    hyperplane LSH buckets (sign signature of ``planes`` fixed projections,
    computed in one Arrow-batched UDF), then EXACT cosine verification of
    within-bucket pairs with JVM-side ``aggregate``/``zip_with`` arithmetic.

    With ``planes=p``, P[same bucket] = (1 - θ/π)^p — at threshold 0.95
    (θ≈18°) ≈ 0.96^16 ≈ 0.5 per table; callers needing higher recall can
    union several seeds. Shuffle volume is |vecs|, pair work is per-bucket."""
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    rng = np.random.RandomState(seed)
    hyper = rng.normal(size=(dim, planes)).astype(np.float64)

    @F.pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())
        signs = (mat @ hyper) > 0
        weights = (1 << np.arange(planes, dtype=np.int64))
        return pd.Series(signs.astype(np.int64) @ weights)

    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    vd = df.select(
        id_col,
        F.col(vec_col),
        bucket_of(F.col(vec_col)).alias("bucket"),
        norm.alias("__norm"),
    )
    a = vd.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), F.col("__norm").alias("n_a"), "bucket"
    )
    b = vd.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), F.col("__norm").alias("n_b"), "bucket"
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("n_a") * F.col("n_b")), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
        .dropDuplicates(["id_a", "id_b"])
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_text: str = "text",
    right_text: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    shingle_kind: str = "token",
) -> DataFrame:
    """Record linkage across TWO tables on near-identical text keys:
    returns ``(left_id, right_id, jaccard)`` for every cross-table pair
    whose shingle Jaccard ≥ ``threshold``.

    Same banded-LSH shape as :func:`minhash_lsh_candidates`, but the
    band-bucket join is LEFT×RIGHT instead of a self-join — both sides
    sign with the SAME seeded hash family, so a left and right record
    with similar text land in the same band bucket. Shuffle volume is
    (|L|+|R|)·bands; exact Jaccard verifies candidates only. This is
    the scale shape for entity resolution / benchmark-contamination
    lookup between corpora — never the |L|·|R| cross join."""

    lsh = NeardupIndex(num_hashes, bands, shingle_size, shingle_kind)
    sig_l = lsh.sign(left, left_id, left_text).persist()
    sig_r = lsh.sign(right, right_id, right_text).persist()
    try:
        out = _lsh_pairs(
            lsh._lsh_rows(sig_l, left_id), lsh._lsh_rows(sig_r, right_id), threshold
        ).select(
            F.col("id_a").alias(left_id + "_l"),
            F.col("id_b").alias(right_id + "_r"),
            "jaccard",
        )
        return pin(out, eager=True)
    finally:
        sig_l.unpersist()
        sig_r.unpersist()


class NeardupIndex:
    """MinHash LSH index of a STATIC text corpus
    (:func:`build_neardup_index`), carrying the LSH parameters it was
    built with: probes always sign through :meth:`sign`, so a probe can
    never band with parameters the index was not built with. Without a
    corpus it is just the parameters, :meth:`sign` and :meth:`_lsh_rows`,
    with which the self-join and the cross-join sign and band their sides.

    A built index holds two pins: ``banded``, the corpus band rows
    ``(__cid, band, bh)``, and ``shingles``, its shingle sets ``(__cid,
    shingles)``. A probe reads both as they are, so it signs and bands
    only its own batch. Like :class:`BandedIndex`, :meth:`unpersist`
    releases the pins through ``unpin``; unlike it, the text index is
    never appended to."""

    def __init__(
        self, num_hashes: int, bands: int, shingle_size: int, shingle_kind: str
    ):
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_size = shingle_size
        self.shingle_kind = shingle_kind
        self.banded = self.shingles = None  # pinned by build_neardup_index

    def sign(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """``(id, text, shingles, minhash)`` of ``df``, signed the way
        the index was built."""
        return minhash_signatures(
            df.select(id_col, text_col),
            text_col,
            num_hashes=self.num_hashes,
            shingle_size=self.shingle_size,
            shingle_kind=self.shingle_kind,
        )

    def _lsh_rows(self, sig: DataFrame, id_col: str) -> tuple:
        """A signed frame's side of :func:`_lsh_pairs`: its band rows
        ``(id, band, bh)`` (each band of ``num_hashes/bands`` signature
        lanes hashes to one 64-bit bucket key) and its shingle sets
        ``(id, shingles)``. Both read ``sig``; the caller persists it."""
        rows = self.num_hashes // self.bands
        keys = []
        for b in range(self.bands):
            lanes = [F.col("minhash")[i] for i in range(b * rows, (b + 1) * rows)]
            keys.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*lanes).alias("bh")))
        banded = sig.select(id_col, F.explode(F.array(*keys)).alias("bk"))
        return banded.select(id_col, "bk.band", "bk.bh"), sig.select(id_col, "shingles")

    def unpersist(self) -> None:
        """Free both pins now."""
        unpin(self.banded)
        unpin(self.shingles)


def build_neardup_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    shingle_kind: str = "token",
) -> NeardupIndex:
    """Sign and band a STATIC reference corpus once, with the same seeded
    hash family as every other MinHash op here, so identical texts land
    in identical buckets.

    This is the piece that makes continuous-ingestion dedup scale: the
    corpus (the big side) is shingled and signed ONE time, then every
    arriving batch pays only its own signatures plus a bucket equi-join
    against this index (see :func:`neardup_filter_against` and
    ``streaming.stream_neardup_filter``). The band rows and the shingle
    sets are pinned; the signed corpus both are cut from is persisted
    only while they are. At 100 TB the banded frame is |corpus|·bands
    rows of three longs — write it bucketed by ``(band, bh)`` and the
    per-batch probe join is exchange-free on the corpus side."""
    index = NeardupIndex(num_hashes, bands, shingle_size, shingle_kind)
    corpus = corpus.select(F.col(id_col).alias("__cid"), text_col)
    sig = index.sign(corpus, "__cid", text_col).persist()
    try:
        index.banded, index.shingles = (
            pin(rows, eager=True) for rows in index._lsh_rows(sig, "__cid")
        )
    finally:
        sig.unpersist(blocking=False)
    return index


def neardup_filter_against(
    docs: DataFrame,
    index: NeardupIndex,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Drop every row of ``docs`` whose text is a near-duplicate (exact
    shingle Jaccard ≥ ``threshold``) of ANY document in the pre-built
    reference index (:func:`build_neardup_index`) — dedup of new data
    against an existing corpus, the row-filter complement of
    :func:`fuzzy_join`'s pair output. All other ``docs`` columns pass
    through. ``docs`` is signed with the index's own LSH parameters and
    probes the index's pinned band rows and shingle sets."""
    sig_d = index.sign(docs, id_col, text_col).persist()
    try:
        pairs = _lsh_pairs(
            index._lsh_rows(sig_d, id_col), (index.banded, index.shingles), threshold
        )
        hit = pin(pairs.select(F.col("id_a").alias(id_col)).distinct(), eager=True)
    finally:
        sig_d.unpersist()
    return docs.join(hit, on=id_col, how="left_anti")


def remove_repeated_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    out_col: str = "cleaned_text",
) -> DataFrame:
    """Exact repeated-substring EXCISION — the span-level complement of
    document-level dedup (the "exact substring deduplication" of Lee et
    al. 2022, arXiv:2107.06499, at token granularity): any k-token
    window whose exact content occurs ``min_count``+ times in the whole
    corpus (across documents OR repeated within one) is cut out of
    every document, and the surviving tokens are rejoined. Catches the
    boilerplate headers/footers/license blocks that document-level
    MinHash cannot (the documents differ; the spans don't).

    Adds ``n_tokens``, ``n_removed`` and ``out_col`` (tokens surviving,
    space-joined; "" when everything was cut or the text was empty).
    Tokenization is :func:`text.tokenize` (lowercased whitespace split),
    so removal is on normalized tokens.

    Scale shape (two data shuffles + one gram shuffle, nothing
    quadratic):

    - gram stage is map-only from the token array; grams shuffle by
      their **md5 key** (32 bytes, engine-portable), never the k-token
      text, for the global count;
    - duplicated-key set semi-joins back to the gram positions;
    - coverage is a per-document running-max window — token position p
      is covered iff some duplicated gram STARTS in [p-k+1, p]. Hit
      rows are UNIONED into the token stream (tagged, ordered before
      the token at the same position) rather than joined on
      ``(doc, pos)``: a join would partition by the pair key, which
      cannot satisfy the window's doc-only partitioning, costing the
      token stream a second full shuffle. The union sorts once per doc
      and the rebuild's groupBy reuses that same doc-key exchange.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    from pyspark.sql import Window

    from polars_dataset_spark.functions.text import tokenize

    # pin the tokenized corpus: `t` feeds both the gram stage (which is
    # itself consumed twice — the duplicate-key aggregate and the
    # position semi-join) and the token stream, so the regex
    # tokenization of every document would otherwise run once per
    # reference (r12 audit: 4 scans of the source in the plan)
    t = pin(
        df.select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
    )
    # gram key = md5 over the CONCATENATION OF PER-TOKEN md5 DIGESTS:
    # fixed-length hex segments make the key injective in the token
    # sequence — a separator-joined form would collide when a token itself
    # contains the separator byte (tokenize only splits on whitespace, so
    # control bytes survive into tokens). Token digests are computed ONCE
    # per token (hoisted column), not per gram.
    grams = t.withColumn(
        "__thash", F.expr("transform(__toks, t -> md5(t))")
    ).select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(1, size(__toks) - {k - 1}), "
                f"i -> md5(array_join(slice(__thash, i, {k}), ''))) "
                f"ELSE array() END"
            )
        ).alias("__gpos", "__gkey"),
    )
    dup = (
        grams.groupBy("__gkey")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__gkey")
    )
    hits = (
        grams.join(dup, "__gkey", "left_semi")
        .select(
            F.col(id_col),
            F.col("__gpos").alias("__pos"),
            F.lit(None).cast("string").alias("__tok"),
            F.col("__gpos").alias("__hit"),
        )
    )
    tok = t.select(
        F.col(id_col), F.posexplode(F.col("__toks")).alias("__pos", "__tok")
    ).withColumn("__hit", F.lit(None).cast("long"))
    u = tok.unionByName(hits)
    # hit rows order BEFORE the token at the same position (False < True)
    # so a gram starting AT p is inside p's running-max frame
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("__pos"), F.col("__tok").isNotNull())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = (
        u.withColumn("__runmax", F.max(F.col("__hit")).over(w))
        .filter(F.col("__tok").isNotNull())
    )
    cov = F.col("__runmax").isNotNull() & (
        F.col("__runmax") >= F.col("__pos") - (k - 1)
    )
    agg = (
        j.withColumn("__cov", cov)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__cov").cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("__cov"), F.struct("__pos", "__tok"))
                        )
                    ),
                    lambda s: s["__tok"],
                ),
                " ",
            ).alias(out_col),
        )
    )
    # output columns OVERWRITE any same-named input columns (e.g. an
    # n_tokens from with_token_count) — dropping first keeps the join
    # unambiguous instead of raising on a duplicate reference
    return (
        df.drop("n_tokens", "n_removed", out_col)
        .join(agg, id_col, "left")
        .withColumns(
            {
                "n_tokens": F.coalesce(F.col("n_tokens"), F.lit(0)),
                "n_removed": F.coalesce(F.col("n_removed"), F.lit(0)),
                out_col: F.coalesce(F.col(out_col), F.lit("")),
            }
        )
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope_cols: "tuple[str, ...] | list[str]" = (),
    keep_blank: bool = True,
) -> DataFrame:
    """C4-style LINE-level deduplication: every line that occurs more
    than once in the corpus keeps only its FIRST occurrence (document
    order by ``id_col``, then line position) and disappears everywhere
    else — the classic boilerplate killer (nav menus, cookie banners,
    copyright footers repeat across pages verbatim; shingle-level dedup
    misses them because the surrounding prose differs).

    ``scope_cols`` narrows the dedup universe (e.g. ``["source"]`` =
    only dedup lines *within* a crawl source). Blank lines are kept
    verbatim by default (they are document structure, not content).

    Returns ``(id_col, *scope_cols, text, n_lines, n_kept)`` with
    ``text`` rebuilt from the kept lines in original order; documents
    whose every line was deduped away keep an empty text.

    Scale shape: one explode (map-only), ONE line-keyed window shuffle
    for the first-occurrence rank, one doc-keyed aggregation to rebuild
    — no joins, no driver state. The window key is ``md5(line)`` so
    the exchange hashes 32-byte digests; ties inside a digest bucket
    order by (id, pos), giving a total deterministic order. At 100 TB
    the line-keyed exchange is the cost — same class as every dedup in
    this module. AQE's skew splitting does NOT apply to window
    exchanges (only to skewed join sides), so the heaviest keys would
    each serialize into one task; with ``keep_blank=True`` the worst
    offender by far — the blank line — is ROUTED AROUND the window
    entirely (kept unconditionally, so it needs no rank), and the
    residual skew is ordinary boilerplate lines whose per-key row
    counts are corpus-bounded.

    Reference-parity note: the reference engine has no corpus surface;
    this is part of the LLM-pipeline extension family (the same
    public-recipe family as functions/dsir.py — C4's three-sentence
    rule's line-level cousin, per the public C4/RefinedWeb writeups).
    """
    scope = list(scope_cols)
    lines = df.select(
        F.col(id_col),
        *[F.col(c) for c in scope],
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    is_blank = F.trim(F.col("line")) == ""
    w = Window.partitionBy(*scope, F.md5(F.col("line"))).orderBy(id_col, "pos")
    if keep_blank:
        # blank lines are kept unconditionally, so they need no rank:
        # route them AROUND the window shuffle (the blank line is the
        # single heaviest key in any real corpus, and AQE does not
        # split window-exchange skew) and union back before the rebuild
        ranked = (
            lines.filter(~is_blank)
            .withColumn("__keep", F.row_number().over(w) == 1)
            .unionByName(lines.filter(is_blank).withColumn("__keep", F.lit(True)))
        )
    else:
        ranked = lines.withColumn("__keep", F.row_number().over(w) == 1)
    kept_line = F.when(F.col("__keep"), F.col("line"))
    return (
        ranked.groupBy(id_col, *scope)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.col("__keep").cast("long")).cast("long").alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__keep"), F.struct(F.col("pos"), F.col("line")))
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias(text_col),
        )
        .select(id_col, *scope, text_col, "n_lines", "n_kept")
    )

def drop_frequent_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    scope_cols: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """RefinedWeb-style frequent-line REMOVAL: any line occurring in at
    least ``min_docs`` DISTINCT documents is boilerplate and is removed
    from EVERY document — including the first (unlike
    :func:`dedup_lines`, which keeps one copy; a nav menu's first
    occurrence is just as worthless as its millionth). Lines below the
    threshold are untouched, so rare legitimate repetition (quotes,
    citations) survives. Blank lines are always kept as structure.

    Returns ``(id_col, *scope_cols, text, n_lines, n_kept)`` with
    ``text`` rebuilt from the kept lines in original order.

    Scale shape: one explode, one line-digest-keyed aggregation down to
    distinct lines (map-side combined; the per-line doc count is an
    exact ``countDistinct(id)``), then a left join of the line stream
    against the frequent set, and one doc-keyed rebuild. The frequent
    set is usually small, but on a web-scale corpus the ≥``min_docs``
    (default 3) line set is NOT bounded — so the join strategy is left
    to AQE, which broadcasts it when its runtime size is under the
    threshold and shuffles otherwise (a forced broadcast here could OOM
    the driver; ADVICE r5). The digest keys mean both the aggregation
    and the join shuffle 32-byte md5s, never line text."""
    scope = list(scope_cols)
    lines = df.select(
        F.col(id_col),
        *[F.col(c) for c in scope],
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("__lh", F.md5(F.col("line")))
    is_blank = F.trim(F.col("line")) == ""
    freq = (
        lines.filter(~is_blank)
        .groupBy(*scope, "__lh")
        .agg(F.countDistinct(id_col).alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select(*scope, "__lh", F.lit(True).alias("__frequent"))
    )
    tagged = lines.join(freq, on=[*scope, "__lh"], how="left")
    kept_struct = F.when(
        is_blank | F.col("__frequent").isNull(),
        F.struct(F.col("pos"), F.col("line")),
    )
    return (
        tagged.groupBy(id_col, *scope)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(kept_struct.isNotNull().cast("long")).cast("long").alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
                ),
            ).alias(text_col),
        )
        .select(id_col, *scope, text_col, "n_lines", "n_kept")
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    col: str = "text",
    max_dist: int = 2,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
) -> DataFrame:
    """Edit-distance (Levenshtein) join: pairs whose strings differ by
    at most ``max_dist`` unit edits, with PassJoin-style SEGMENT
    blocking (Li et al., "PassJoin", PVLDB 2011 -- public paper):

    - each RIGHT string of length ``l >= k+1`` splits into ``k+1``
      contiguous segments; by pigeonhole, any string within ``k`` edits
      contains at least one segment VERBATIM, shifted by at most ``k``
      positions -- so the right side emits ``k+1`` keys
      ``(l, i, segment)``;
    - each LEFT string emits, for every candidate right-length in
      ``[len-k, len+k]`` and every segment slot, the substrings in the
      +-k position window -- a bounded ``O(k^3)``-per-row fan-out of
      SHORT substring keys (deduplicated), recall 1 by construction;
    - the equi-join on ``(l, i, segment)`` yields only pairs sharing an
      exact segment -- selective even when every string has the SAME
      length (where plain length blocking degenerates to all-pairs:
      found by the 10x off-scale sweep, x9.8 on fixed-width prefixes);
    - exact JVM-side ``levenshtein`` verifies candidates; no UDFs.

    Right strings shorter than ``k+1`` cannot be segmented (some
    segment would be empty and match everywhere); they fall back to
    plain length-bucket keys -- strings that short have at most
    ``alphabet^k`` distinct values, so dedupe-by-value upstream if they
    dominate. Complements :func:`fuzzy_join` (token-set Jaccard): edit
    distance catches character-level typos and OCR noise that token
    shingles miss. Returns ``(id_a, id_b, dist)``."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    k = max_dist
    kk = k + 1

    def seg_params(l_col, i):
        # segment lengths: first (k+1 - l%(k+1)) segments get l//(k+1),
        # the rest one more; start positions accumulate
        base = F.floor(l_col / kk).cast("int")
        rem = (l_col % kk).cast("int")
        extra = F.when(i >= (F.lit(kk) - rem), F.lit(1)).otherwise(F.lit(0))
        seg_len = base + extra
        start = i * base + F.greatest(i - (F.lit(kk) - rem), F.lit(0))
        return seg_len, start

    sv = F.col(col)
    if k == 0:
        l = left.select(F.col(left_id).alias("id_a"), sv.alias("__sa"))
        r = right.select(F.col(right_id).alias("id_b"), sv.alias("__sb"))
        return (
            l.join(r, l["__sa"] == r["__sb"])
            .select("id_a", "id_b", F.lit(0).cast("long").alias("dist"))
            .distinct()
        )

    slen = F.length(sv)
    # RIGHT: one key per segment (l:i:seg), or the short-string bucket
    r_keys = F.when(
        slen >= kk,
        F.transform(
            F.sequence(F.lit(0), F.lit(k)),
            lambda i: F.concat_ws(
                ":",
                slen,
                i,
                F.substring(sv, seg_params(slen, i)[1] + 1, seg_params(slen, i)[0]),
            ),
        ),
    ).otherwise(F.array(F.concat_ws(":", F.lit("S"), slen)))
    r = right.select(
        F.col(right_id).alias("id_b"), sv.alias("__sb"), F.explode(r_keys).alias("__blk")
    )

    # LEFT: for each candidate right length l in [len-k, len+k]:
    #   l >= k+1 -> window substrings per segment slot; l <= k -> short bucket
    def left_keys_for_l(l):
        def slot(i):
            seg_len, start = seg_params(l, i)
            lo = F.greatest(start - F.lit(k), F.lit(0))
            hi = F.least(start + F.lit(k), slen - seg_len)
            return F.when(
                (hi >= lo) & (seg_len >= 1),
                F.transform(
                    F.sequence(lo, hi),
                    lambda p: F.concat_ws(
                        ":", l, i, F.substring(sv, p + 1, seg_len)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))

        segment_keys = F.flatten(
            F.transform(F.sequence(F.lit(0), F.lit(k)), slot)
        )
        return F.when(l >= kk, segment_keys).otherwise(
            F.array(F.concat_ws(":", F.lit("S"), l))
        )

    all_keys = F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(F.greatest(slen - F.lit(k), F.lit(0)), slen + F.lit(k)),
                left_keys_for_l,
            )
        )
    )
    l = left.select(
        F.col(left_id).alias("id_a"), sv.alias("__sa"), F.explode(all_keys).alias("__blk")
    )
    # Explicit NUMBERED repartition by the block key on the probe side:
    # the segment-key shuffle is tiny (short substring keys) so AQE's
    # byte-based coalescing collapses it to ONE post-shuffle partition —
    # but the join OUTPUT explodes (every pair sharing a segment) and the
    # levenshtein verify then runs single-task (measured: 6.5 s of
    # single-core verify at sf0.1; guide §2.5's "coalesced by input
    # bytes, exploded by output" trap). repartition(n, col) has
    # REPARTITION_BY_NUM origin, which AQE's CoalesceShufflePartitions
    # NEVER coalesces — the column-only form (REPARTITION_BY_COL) is in
    # its supported origins and could still collapse under different
    # advisory sizes (ADVICE r12). The build side carries no repartition:
    # its ENSURE_REQUIREMENTS exchange aligns to the probe's partition
    # count when the join shuffles, and when AQE promotes it to a
    # broadcast the probe-side spread survives as the join's output
    # partitioning with no wasted build-side shuffle.
    n_spread = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    joined = l.repartition(n_spread, "__blk").join(r, on="__blk")
    return (
        joined.withColumn("dist", F.levenshtein(F.col("__sa"), F.col("__sb")))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
        .distinct()
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    mask_bits: int = 5,
) -> DataFrame:
    """Content-defined chunking: split each document at positions chosen
    by CONTENT, not offset, so an insertion near the top of a document
    shifts no chunk boundary below it — the property that makes
    chunk-hash dedup robust to edits (the rsync/LBFS/storage-dedup
    boundary idea — public; the hash here is the engine-portable md5
    gram hash, not Rabin, so the oracle replays it in SQL).

    Rule: position ``i`` (1-based, ``i >= window``) ends a chunk iff the
    60-bit md5 hash of the ``window`` characters ending at ``i`` is
    ``0 mod 2^mask_bits`` — expected chunk length ``2^mask_bits``. The
    final tail (boundary position < length) is always its own chunk;
    documents shorter than ``window`` are one chunk; documents with
    NULL ``text_col`` emit NO rows (there is nothing to chunk). Emits
    ``(id_col, chunk_idx, chunk_start, chunk_len, chunk_text,
    chunk_hash)`` with ``chunk_start`` 0-based and chunks concatenating
    back to the exact original text (q199's rebuild oracle).

    Scale shape: pure codegen'd expressions (sequence → md5 filter →
    slice), map-only — no shuffle, no Python. The md5-per-position
    constant is deliberate for oracle portability; a production variant
    would swap in a Gear rolling hash inside ``mapInPandas`` with the
    same boundary semantics.
    """
    if window <= 0 or mask_bits <= 0:
        raise ValueError(f"window/mask_bits must be positive: {window}/{mask_bits}")
    mask = 1 << mask_bits
    empty = F.array().cast("array<int>")
    t = F.col("__t")
    n = F.length(t)
    # Each stage below aliases its expensive intermediate into its OWN
    # projection and the next stage references the alias several times:
    # CollapseProject refuses to merge projections when that would
    # duplicate a non-cheap alias, so the md5-per-position boundary chain
    # is evaluated ONCE per row — the single-projection form inlined it
    # at every reference (16 copies of the md5 filter in the optimized
    # plan, a measured ~1.4x slowdown).
    #
    # boundary positions: 1-based end positions whose trailing gram hashes
    # to 0 mod 2^mask_bits; guard the sequence — F.sequence DESCENDS when
    # stop < start, so short docs must yield [] explicitly
    positions = F.when(
        n >= window, F.sequence(F.lit(window), n)
    ).otherwise(empty)
    is_boundary = lambda i: (
        F.conv(
            F.substring(F.md5(F.substring(t, i - F.lit(window - 1), window)), 1, 15),
            16,
            10,
        ).cast("long")
        % mask
        == 0
    )
    staged = df.select(F.col(id_col), F.col(text_col).alias("__t")).select(
        id_col, "__t", F.filter(positions, is_boundary).alias("__b")
    )
    # chunk ends = boundaries + the final tail end (deduped when the last
    # boundary IS the end); starts = 0 ++ boundaries. NULL text short-
    # circuits to NO rows (empty ends → posexplode emits nothing) —
    # without the guard, NULL n made ends [NULL] and emitted one
    # all-NULL garbage chunk per NULL document (ADVICE r5)
    b = F.col("__b")
    ends = F.when(t.isNull(), empty).otherwise(
        F.when(
            (F.size(b) > 0) & (F.element_at(b, -1) == n), b
        ).otherwise(F.concat(b, F.array(n)))
    )
    staged = staged.select(id_col, "__t", ends.alias("__ends"))
    # starts mirrors ends: EMPTY when ends is empty (NULL text) — an
    # unconditional concat would make starts [0] and zip_with would
    # NULL-pad back to one garbage row; and the slice length must be
    # clamped >= 0 or NULL docs throw INVALID_PARAMETER_VALUE.LENGTH
    e = F.col("__ends")
    starts = F.when(F.size(e) == 0, empty).otherwise(
        F.concat(
            F.array(F.lit(0)),
            F.slice(e, 1, F.greatest(F.size(e) - 1, F.lit(0))),
        )
    )
    staged = staged.select(id_col, "__t", "__ends", starts.alias("__starts"))
    chunks = F.zip_with(
        F.col("__starts"),
        e,
        lambda s, x: F.struct(
            s.alias("start"), (x - s).alias("len"), F.substring(t, s + 1, x - s).alias("txt")
        ),
    )
    return (
        staged.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            id_col,
            "chunk_idx",
            F.col("c.start").alias("chunk_start"),
            F.col("c.len").alias("chunk_len"),
            F.col("c.txt").alias("chunk_text"),
            F.md5(F.col("c.txt")).alias("chunk_hash"),
        )
    )
