"""Text-analysis operators for LLM-data pipelines (driver north star):
tokenization, quality stats, language-ID heuristic, fingerprinting, SimHash.

Everything is built from JVM-side expressions (split / transform / aggregate /
getbit) — no Python UDFs — so the hot path stays inside WholeStageCodegen and
scales linearly with document count.  SimHash in particular is computed
per-row with higher-order array functions: zero shuffles, zero explodes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language marker vocabularies for the n-gram/stopword language-ID
#: heuristic.  Deliberately simple — the operator contract is deterministic
#: scoring, not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "los", "de"),
    "fr": ("le", "la", "les", "des"),
    "zh": ("de", "le", "shi", "bu"),
}

#: Stopword set for quality scoring.
STOPWORDS: tuple[str, ...] = ("the", "a", "an", "and", "or", "of", "to", "in")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token count: runs of letters, runs of digits, or any other
    non-space symbol each count as one token."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def doc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring stats per document: lengths, token counts, type-token
    ratio, stopword ratio, punctuation ratio, and a composite quality score."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_char = F.length(text_col)
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    ttr = n_distinct.cast("double") / n_tok
    stop_ratio = n_stop.cast("double") / n_tok
    punct_ratio = n_punct.cast("double") / n_char
    return df.select(
        "*",
        n_char.alias("char_count"),
        n_tok.alias("token_count"),
        bpe_ish_token_count(text_col).alias("bpe_token_count"),
        n_distinct.alias("distinct_tokens"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        # Composite quality: favors mid-length docs with lexical diversity.
        F.round(
            ttr * F.least(n_tok.cast("double") / 100.0, F.lit(1.0)), 6
        ).alias("quality_score"),
    )


def normalize_ws(text: Column | str) -> Column:
    """Whitespace-normalized, lowercased text (the canonical form keys and
    fingerprints are computed over)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text (exact-dedup key)."""
    return F.md5(normalize_ws(text))


def lang_scores(text_col: str = "text") -> list[Column]:
    """Per-language marker-hit counts (deterministic language-ID scores)."""
    toks = tokens(text_col)
    return [
        F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]


def predict_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax language prediction with deterministic alphabetical tie-break."""
    scored = df.select("*", *lang_scores(text_col))
    langs = sorted(LANG_MARKERS)  # alphabetical => deterministic tie-break
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    # Build reverse so the FIRST alphabetical language wins ties.
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


# -- Rolling-hash fingerprinting (winnowing) ----------------------------------

POLY_MOD = 1_000_000_007
POLY_BASE = 31


def char_poly_hash(s: Column) -> Column:
    """Polynomial rolling hash of a string's characters:
    ``h = (h * 31 + ascii(c)) mod 1e9+7`` — engine-portable (same fold in
    ANSI SQL / DuckDB), bounded so the accumulator never overflows a long."""
    return F.aggregate(
        F.transform(F.split(s, ""), F.ascii),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * POLY_BASE + c) % POLY_MOD,
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 scheme):
    rolling char-polynomial hash of each word ``k``-gram, then keep the
    minimum hash of every sliding window of ``window`` consecutive k-gram
    hashes; the distinct selected minima are the document's fingerprint set.

    Entirely per-row higher-order-function compute — zero shuffles, embarrass-
    ingly parallel over documents, so it scales linearly with the corpus."""
    toks = tokens(text_col)
    nk = F.size(toks) - (k - 1)
    # ORDERED k-grams (winnowing needs the positional sequence — no distinct).
    grams = F.when(
        nk > 0,
        F.transform(
            F.sequence(F.lit(1), nk),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    h = F.transform(grams, char_poly_hash)
    df_h = df.select(
        F.col(id_col).alias("doc_id"),
        char_poly_hash(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
        ).alias("poly_fp"),
        h.alias("h"),
    )
    nh = F.size("h")
    wins = F.when(
        nh > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(nh - (window - 1), F.lit(1))),
            lambda i: F.array_min(F.slice("h", i, window)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return df_h.select(
        "doc_id",
        "poly_fp",
        nh.alias("n_kgrams"),
        F.array_sort(F.array_distinct(wins)).alias("fps"),
    ).select(
        "doc_id",
        "poly_fp",
        "n_kgrams",
        F.size("fps").alias("n_fps"),
        F.element_at("fps", 1).alias("min_fp"),
    )


# -- Hashes ---------------------------------------------------------------


def md5_u32(col: Column | str) -> Column:
    """uint32 from the first 8 hex chars of md5 — the cross-engine hash:
    DuckDB computes the same value as ``('0x'||substr(md5(x),1,8))::BIGINT``,
    so every query hashing with it stays value-checkable."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _sign_fold(text: Column | str, width: int, bit) -> Column:
    """SimHash sign bits of a document as a binary-digit string, MSB first.

    Per-row, shuffle-free: fold the token list into a ``width``-long ±1
    accumulator with ``aggregate`` + ``zip_with`` (``bit(token, b)`` is bit
    ``b`` of the token's hash; token multiplicity counts).  The digit string
    avoids 64-bit shift arithmetic limits in the expression DSL."""
    acc = F.aggregate(
        tokens(text),
        F.array_repeat(F.lit(0), width),
        lambda a, t: F.zip_with(
            a,
            F.transform(
                F.sequence(F.lit(0), F.lit(width - 1)),
                lambda b: F.when(bit(t, b) == 1, F.lit(1)).otherwise(F.lit(-1)),
            ),
            lambda x, y: x + y,
        ),
    )
    return F.array_join(
        F.reverse(
            F.transform(acc, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0")))
        ),
        "",
    )


def _murmur_bit(tok: Column, b: Column) -> Column:
    """Bit ``b`` of a token's 64-bit hash (two 32-bit murmur3 halves)."""
    return F.when(b < 32, F.getbit(F.hash(tok).cast("long"), b)).otherwise(
        F.getbit(F.hash(tok, F.lit(1)).cast("long"), b - 32)
    )


def simhash64(text: Column | str) -> Column:
    """64-bit murmur3 SimHash of a document as a hex string."""
    return F.conv(_sign_fold(text, 64, _murmur_bit), 2, 16)


def simhash32_md5(text: Column | str) -> Column:
    """32-bit md5-family SimHash packed into a long (bit ``b`` of
    :func:`md5_u32` per token) — the value DuckDB's oracle computes."""
    return F.conv(
        _sign_fold(text, 32, lambda t, b: F.getbit(md5_u32(t), b)), 2, 10
    ).cast("long")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two hex-string SimHashes.

    Parsed as two 32-bit halves: a full 64-bit unsigned hex can overflow a
    signed-long cast (-> null), so the high bit must never hit the sign."""

    def _halves(h: Column) -> tuple[Column, Column]:
        padded = F.lpad(h, 16, "0")
        return (
            F.conv(F.substring(padded, 1, 8), 16, 10).cast("long"),
            F.conv(F.substring(padded, 9, 8), 16, 10).cast("long"),
        )

    a_hi, a_lo = _halves(a)
    b_hi, b_lo = _halves(b)
    return F.bit_count(a_hi.bitwiseXOR(b_hi)) + F.bit_count(a_lo.bitwiseXOR(b_lo))


def misra_gries_candidates(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> list[str]:
    """Per-partition Misra-Gries heavy-hitter candidates.

    Each partition maintains at most ``k-1`` counters over its token
    stream (decrement-all when full); any token with global frequency
    > n/k survives SOME partition summary, so the union of per-partition
    survivors is a guaranteed superset of the true heavy hitters.  The
    driver collects at most ``(k-1) x n_partitions`` candidate strings —
    bounded and small — which phase 2 verifies with an exact count.  This
    is the scale path for "frequent items over 100 TB of text": no
    shuffle of the full token stream, one tiny collect, one broadcast.
    """
    from collections.abc import Iterator

    import pandas as pd

    def summarize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in it:
            for text in pdf[text_col]:
                for tok in str(text).split(" "):
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < k - 1:
                        counters[tok] = 1
                    else:
                        for key in list(counters):
                            counters[key] -= 1
                            if counters[key] == 0:
                                del counters[key]
        yield pd.DataFrame({"candidate": list(counters)})

    rows = (
        df.select(text_col)
        .mapInPandas(summarize, "candidate string")
        .distinct()
        .collect()
    )
    return sorted(r.candidate for r in rows)


# -- Bloom-filter membership gate ---------------------------------------------

def bloom_build(
    values: DataFrame, col: str, m_bits: int, k: int
) -> list[int]:
    """Build a bloom filter over a value column as ``m_bits / 64`` longs.

    The bit positions are ``pmod(xxhash64(value, seed_i), m_bits)`` — all
    JVM-side, so the probe side can recompute identical positions with the
    same expressions (no Python hash-parity trap).  The bitset itself is one
    map-side-combinable ``bit_or`` aggregate grouped by word index: every
    executor ORs its local bits, the shuffle carries at most ``m_bits/64``
    rows regardless of input size, and the driver collects bounded SKETCH
    state (16 KB at m=2^17), never data.
    """
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
                for i in range(k)
            ]
        )
    ).alias("pos")
    words = (
        values.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("widx"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    bits = [0] * ((m_bits + 63) // 64)
    for r in words:
        bits[r["widx"]] = r["word"]
    return bits


def bloom_might_contain(
    bits: list[int], col: str, m_bits: int, k: int
) -> Column:
    """Codegen membership test against a literal bloom bitset: AND over the
    k probe bits, each ``element_at(bitset, pos/64 + 1) & (1 << pos%64)``.
    The bitset ships inside the plan like any broadcast scalar — zero joins,
    zero Python; size the literal via ``m_bits`` to the reference-set
    cardinality (2^17 bits ~ 2048 longs is comfortable; for much larger
    filters switch the probe to an Arrow-batched gate with JVM-computed
    positions)."""
    # One Literal node of ArrayType (not an array() of m/64 children —
    # which would explode the codegen'd expression tree k times over).
    bitset = F.lit(bits)
    cond = F.lit(True)
    for i in range(k):
        pos = F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
        word = F.element_at(bitset, (pos / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond
